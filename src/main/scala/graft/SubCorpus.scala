package graft

import org.apache.spark.sql.functions._

/** Sampled-oracle corpus: a testdata directory whose `documents` table is
  * a FIXED-SIZE, stable-hash subcorpus of the source's, every other table
  * hardlinked verbatim.
  *
  * Why it exists (VERDICT r7 ask #6 / r8 ask #3): nine of the dedup
  * queries' DuckDB oracle twins are DELIBERATELY brute-force — all-pairs
  * Jaccard, recursive closures — quadratic by design so that hash equality
  * proves the blocked/banded Spark plans lossless. At sf1 (50 k docs →
  * 2.5 G pairs) those twins exceed any sane timeout and the scale check
  * reports bare `skip` rows: the Spark side is then unverified at exactly
  * the scale where a blocking bug would first appear. Running BOTH sides
  * on the same ~2 k-doc subcorpus of the sf1 data bounds the oracle at
  * ~2 M pairs (seconds) while the documents it sees are genuine sf1 rows —
  * suffixed tokens, per-copy tenants, cross-copy disjoint vocabulary — so
  * the comparison exercises the at-scale data shapes, not the gate's.
  *
  * Selection is the first `nDocs` doc_ids in `md5(cast(doc_id as string))`
  * order: deterministic across regenerations and machines (no RNG, no
  * timestamp), unbiased w.r.t. every generator attribute (copy number,
  * source, length — md5 of the key correlates with none of them), and
  * CONSTANT-SIZED as the corpus grows, which is what keeps the oracle's
  * quadratic cost bounded at any scale factor. Both engines then read the
  * SAME materialized parquet, so no hash function has to agree across
  * Spark and DuckDB — determinism lives in the artifact.
  *
  * Scale shape: the md5 top-k is a 1-column sort of the doc-id table
  * (model-sized output, `limit` is driver-bounded at `nDocs` rows) and the
  * subset join broadcasts the kept-id list; nothing here scans more than
  * the documents table once.
  *
  * Usage: `runMain graft.SubCorpus <srcDir> <dstDir> <nDocs>` — then run
  * Verify + tools/check.py against `<dstDir>` for the brute-force-oracle
  * query names (SCALE.md documents the round-9 invocation).
  *
  * Keyed mode (round 11): `runMain graft.SubCorpus <src> <dst> <nKeys>
  * <table> <keyColumn>` subsets an arbitrary table by the first `nKeys`
  * DISTINCT key values in md5 order — the graph-family oracles derive a
  * co-purchase graph from `lineitem`, and at full sf10 their brute-force
  * DuckDB twins (wedge-materializing triangle/LPA joins over ~90 M edges)
  * exhaust the machine's disk in temp spill before any timeout fires.
  * An md5-stable `l_orderkey` subset keeps both engines on genuine sf10
  * rows (stride-shifted multi-tenant key domain) while bounding the
  * oracle's intermediate, the same trade the documents mode makes for the
  * all-pairs dedup twins.
  */
object SubCorpus {

  def main(args: Array[String]): Unit = {
    val (srcDir, dstDir, n, table, key) = args match {
      case Array(s, d, nS)       => (s, d, nS.toInt, "documents", "doc_id")
      case Array(s, d, nS, t, k) => (s, d, nS.toInt, t, k)
      case _ => sys.error(
        "usage: SubCorpus <srcDir> <dstDir> <nKeys> [<table> <keyColumn>]")
    }
    require(n >= 1, s"nKeys must be >= 1, got $n")
    val spark = graft.core.Sessions.fromEnv()
    try run(spark, srcDir, dstDir, n, table, key)
    finally spark.stop()
  }

  def run(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      dstDir: String, nDocs: Int, table: String = "documents",
      key: String = "doc_id"): Unit = {
    val dst = new java.io.File(dstDir)
    dst.mkdirs()
    // dst == src would delete each source entry before linking it —
    // reject up front on CANONICAL paths (ADVICE r9)
    require(dst.getCanonicalFile != new java.io.File(srcDir).getCanonicalFile,
      s"subcorpus destination must differ from the source: $srcDir")
    val files = Option(new java.io.File(srcDir).listFiles()).getOrElse(
      sys.error(s"source dir $srcDir unreadable"))
    files.filter(f => f.getName.endsWith(".parquet")
        && f.getName != s"$table.parquet").foreach { f =>
      val t = new java.io.File(dst, f.getName)
      deleteRecursively(t)
      copyEntry(f, t)
    }
    val docs = graft.core.Tables.read(spark, s"$srcDir/$table.parquet")
    // distinct BEFORE the md5 top-k: a non-unique key (l_orderkey has
    // ~4 lines per order) must select whole key groups, never split one
    val keep = docs
      .select(col(key)).distinct()
      .select(col(key), md5(col(key).cast("string")).as("__h"))
      .orderBy(col("__h")).limit(nDocs).select(key)
    ScaleUp.writeOne(
      docs.join(broadcast(keep), Seq(key))
        .select(docs.columns.map(col).toIndexedSeq: _*),
      s"$dstDir/$table.parquet")
  }

  /** One source-table entry → destination: hardlink a regular file when
    * the filesystem allows (zero-copy), fall back to a byte copy; a
    * DIRECTORY entry (the standard Spark `part-*` output layout, which
    * `createLink` rejects) copies recursively. The round-9 form only
    * handled single-file entries: the copy fallback on a directory
    * created an EMPTY dir — a silently corrupt subcorpus (ADVICE r9). */
  private def copyEntry(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(c => copyEntry(c, new java.io.File(dst, c.getName)))
    } else {
      try java.nio.file.Files.createLink(dst.toPath, src.toPath)
      catch { case _: Exception =>
        java.nio.file.Files.copy(src.toPath, dst.toPath)
      }
    }

  private def deleteRecursively(f: java.io.File): Unit =
    if (f.exists()) {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
      f.delete()
    }
}
