package graft.core

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify / Bench / tests / user
  * code agree on semantics.
  *
  * - UTC session time zone: the reference stores wall-clock UTC strings
  *   (SURVEY §2.7 F1); oracle parity requires a fixed zone.
  * - ANSI off: the reference's casts are silent-null (`to_float` try/except →
  *   None, SURVEY §1.2); Spark 4 defaults to ANSI (throwing) casts, which
  *   would change semantics.
  * - AQE on: runtime coalescing/skew handling is our scale story for the
  *   shuffle-heavy operators; harmless locally.
  * - Shuffle partitions = cores: local-mode default of 200 just adds task
  *   overhead; on a real cluster this is sized to executors instead.
  * - Codegen cache of [[CodegenCacheEntries]] classes
  *   (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100). The
  *   engine's working set of distinct generated classes is larger: about
  *   190 for one pass of the perfbench reports mix, 363 for one
  *   `etl_daily` day and 2,381 for a `graft.Verify` run at sf0.01. At 100
  *   entries nearly every lookup missed, and Janino recompiled code it had
  *   already compiled, even on a replayed pass or day. With this size a
  *   replayed reports pass compiles 4 classes instead of about 84, and a
  *   replayed day 6–12 instead of 363. The cache is a JVM-wide singleton
  *   that Spark's `CodeGenerator` sizes once, on first use, from the
  *   session conf. The conf is static, so it is set here at build time,
  *   and [[tune]] cannot apply it to a session built elsewhere. Cost:
  *   cached classes stay loaded. After a perfbench run, metaspace use is
  *   unchanged within 1.3 MB (about 150 MB); a Verify run, which fills
  *   the cache, ends at 212.8 MB against 201.3 MB at 100 entries, and
  *   compiles 2,381 classes instead of 3,551.
  */
object Sessions {
  /** Entries of Spark's JVM-wide generated-class cache: the largest
    * measured working set (a `graft.Verify` run, 2,381 classes) with room
    * for the cache's four LRU segments to hold their uneven shares. */
  private[graft] val CodegenCacheEntries = 4096

  /** The engine-semantics confs every session variant shares — one
    * definition so [[builder]] and [[cluster]] cannot drift (this file's
    * whole reason to exist). */
  private def semantics(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesce floor stays at the 1 MB DEFAULT (stated explicitly
      // because the alternative was probed and REJECTED, r14): a 64 KB
      // floor was tried for q31's CPU-dense verify stages (2 MB shingle
      // shuffles coalescing to 1-2 tasks) and won q31 −0.8 s, but a
      // GLOBAL floor taxes every genuinely tiny (model-sized) shuffle
      // with 32-task waves — q120/q41/q34/q48/q99 each lost 0.2-1.5 s in
      // the same-window A/B (OPTIMIZATION_r14.md pass 2). CPU-dense
      // small shuffles are attacked per-operator instead (the Jaccard
      // kernel, local spreads), never with a session-wide byte floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local shuffle parallelism: cores, unconditionally (no override env
    * var here: a leftover shell export would silently change Verify,
    * tests and SubCorpus runs too). */
  def builder(master: String, cores: Int): SparkSession.Builder =
    semantics(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // Streaming checkpoint I/O on LOCAL posix stores (r14, measured on
      // q71 with a thread sampler: 8.8 s -> 2.9 s/run). Two compounding
      // Hadoop-on-local-fs pathologies in the default stack:
      //  - the default (FileContext-based) checkpoint manager's rename
      //    calls getFileLinkStatus, and RawLocalFileSystem implements it
      //    by FORKING a `readlink` shell process per committed file
      //    (Hadoop's pre-NativeIO fallback) — hundreds of forks per
      //    micro-batch at 32 state partitions. The FileSystem-based
      //    manager renames via File.renameTo: atomic on posix, no fork.
      //  - Spark 4.1's checkpoint checksum manager doubles every commit
      //    file (data + checksum) to detect object-store corruption;
      //    local disks and HDFS already checksum below us.
      // Local-mode defaults only: [[cluster]] keeps Spark's defaults —
      // an HDFS/S3 deployment sizes checkpoint-store semantics itself
      // (FileContext atomicity on HDFS, checksums on S3).
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // r15, the CREATE-side twin of the two lines above (root-caused
      // with the thread sampler on q71): without NativeIO every file
      // created through Hadoop's default local fs (a) forks a `chmod`
      // (RawLocalFileSystem.setPermission fallback) and (b) writes a
      // .crc sibling (ChecksumFileSystem) — streaming state stores
      // create delta/snapshot files per state partition per micro-batch,
      // so micro-batches of trivial data spent their time forking. See
      // [[graft.core.NoForkLocalFileSystem]]; local-mode only, cluster()
      // keeps Hadoop defaults.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.core.NoForkLocalFileSystem].getName))

  /** Production-cluster builder: [[builder]]'s engine semantics plus the
    * scale knobs a 100 TB deployment sizes explicitly (all are defaults a
    * cluster admin overrides per workload — the point is that they are
    * DECIDED, not inherited):
    *
    *  - `maxPartitionBytes` 256 MB: scan tasks sized so a 100 TB input is
    *    ~400k tasks, not 4M (default 128 MB) — fewer scheduler round-trips,
    *    still well under executor memory with room for the shuffle side.
    *  - AQE coalesce + skew-join: post-shuffle partitions collapse to
    *    `advisoryPartitionSizeInBytes` targets and skewed join partitions
    *    split automatically — the runtime complement to the engine's
    *    static salting (`Relational.skewJoin`).
    *  - zstd parquet: ~30% smaller than snappy at similar scan cost —
    *    at 100 TB that is I/O, not CPU.
    *  - OFF-HEAP Tungsten memory: execution pages (join hash tables,
    *    sort buffers) live outside the Java heap. Measured here (round
    *    10, q85 triangle join): with a 48 GB heap and on-heap pages, G1
    *    young evacuation of the page byte[]s cost 6–16 s PER PAUSE and
    *    made the same query 4.3× slower than at 8 GB — the exact failure
    *    mode a 100 TB deployment's 64 GB+ executors would hit on every
    *    shuffle-heavy stage. The 16 GB default is a placeholder shape:
    *    size it to ~40-50% of executor memory at submit (and shrink
    *    `--executor-memory` correspondingly — the sum is what the
    *    container pays).
    *  - shuffle partitions stay UNSET here deliberately: size to
    *    2-3× total executor cores at submit time (`--conf
    *    spark.sql.shuffle.partitions=...`); with AQE coalescing, erring
    *    high is cheap.
    */
  def cluster(appName: String): SparkSession.Builder =
    semantics(SparkSession.builder()
      .appName(appName))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (256L << 20).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", (16L << 30).toString)

  /** The session every `graft.*` main starts: [[builder]] with
    * `SPARK_GRAFT_CPUS` cores (default: this host's) on
    * `SPARK_GRAFT_MASTER` (default `local[cores]`), plus the caller's
    * `confs`, at log level WARN. The master comes from the env, never from
    * a literal, because the spark-submit legs on `local-cluster[W,C,M]`
    * (tools/lcbench.sh, tools/lcverify.sh) set `--master`, and an explicit
    * `.master()` would override it; the env must match the flag. */
  def fromEnv(confs: (String, String)*): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val s = builder(master, cores).config(confs.toMap).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }

  /** Apply engine semantics to an externally-created session (e.g. the
    * driver's): runtime-settable confs + the engine's SQL functions
    * (graft_jaccard / graft_grade / graft_percentage — §3.3 surface).
    * Idempotent. Static confs cannot be applied here: a session built
    * elsewhere keeps its own codegen cache size (Spark's default 100
    * unless its builder set `spark.sql.codegen.cache.maxEntries`), and so
    * does every later session in that JVM. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    graft.plans.GraftFunctions.register(spark)
    // runtime-injectable optimizer rules (extensions bind at build time
    // only); idempotent AND append-safe: rules the host application
    // installed are preserved, ours is de-duplicated
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_ eq graft.plans.FuseJaccard) :+ graft.plans.FuseJaccard
    spark
  }
}
