package graft.core

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:`-scheme Hadoop filesystem for LOCAL-mode sessions: Hadoop's
  * RawLocalFileSystem minus the per-file permission fork.
  *
  * Why (r15, root-caused with a thread-stack sampler on q71): without
  * libhadoop (no NativeIO in this environment), EVERY file Hadoop's local
  * filesystem creates with an explicit permission FORKS a `chmod` process
  * (`RawLocalFileSystem.setPermission` → `Shell.execCommand`, the
  * pre-NativeIO fallback), and fork cost scales with the JVM's touched
  * heap — on a warmed multi-GB driver each fork is ~5–20 ms. Structured
  * Streaming state stores create files constantly (delta + snapshot per
  * state partition per micro-batch), so the sampler showed nearly every
  * executor worker of a micro-batch inside `Shell.execCommand <
  * RawLocalFileSystem.setPermission < LocalFSFileOutputStream.<init>` —
  * the create-side twin of the rename-side `readlink` fork r14 removed
  * with the FileSystemBased checkpoint manager. The default `file:` impl
  * (LocalFileSystem = ChecksumFileSystem over RawLocalFileSystem)
  * additionally writes a `.crc` sibling for every file — doubling the
  * creates, and therefore the forks.
  *
  * This shim extends RawLocalFileSystem (no checksum layer — local disks
  * and the OS page cache already guarantee integrity below us, the same
  * reasoning as r14's `checkpoint.fileChecksum.enabled=false`) and makes
  * `setPermission` a no-op: created files keep the process umask, which
  * on this single-user sandbox yields the same effective permissions the
  * chmod would have set. Wired in [[Sessions.builder]] (local mode) ONLY —
  * [[Sessions.cluster]] keeps Hadoop defaults: an HDFS/S3 deployment's
  * `file:` scheme only carries scratch data, and its stores have native
  * IO or server-side permission semantics of their own.
  */
class NoForkLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit = ()
}
