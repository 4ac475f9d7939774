package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver testdata: writes an sf(N·k)
  * directory from an sf(N) one by unioning `factor` key-shifted copies,
  * so the scale bench (SCALE.md, VERDICT r5 ask #1) has a 10× data point
  * with the SAME layout contract as `/root/testdata` (one parquet file
  * per table — the streaming source globs `events*.parquet` and batch
  * reads `<dir>/<table>.parquet` exactly).
  *
  * Copy 0 is the source data verbatim; copy k shifts every key domain by
  * k·stride (stride = max(key)+1 rounded up to a power of ten), so
  * referential integrity holds per copy and the copies are DISJOINT
  * subgraphs — a 10× corpus looks like 10 independent tenants, which is
  * exactly how warehouse growth composes. Three columns are additionally
  * perturbed per copy, because replicating them verbatim would FABRICATE
  * quadratic structure a real 10× corpus does not have (every row gaining
  * 9 exact clones would turn the near-dup pair space superlinear by
  * construction, grading the generator, not the operators):
  *
  *  - `documents.text`: every whitespace token gets a copy-unique suffix
  *    (`x1`..`x9`). Token→token mapping is injective, so WITHIN a copy
  *    every Jaccard/shingle/MinHash/SimHash relation of the original
  *    corpus is preserved exactly; ACROSS copies the token sets are
  *    disjoint, so near-dup pairs scale linearly (10 independent copies),
  *    as in a real corpus with a constant duplication rate. `n_chars` is
  *    recomputed to keep the (text, n_chars) invariant.
  *  - `part.p_name`: copies k>0 get a 3-char `-kkk` suffix. Edit distance
  *    between the same name in copies j≠k is exactly 3 (> the k=2 PassJoin
  *    threshold), so q88/q129's pair space also grows linearly while the
  *    DISTINCT name space genuinely grows 10×.
  *  - `embeddings.embedding`: copy k>0 flips the sign of dimension i iff
  *    murmur3(i,k) is odd. A ±1 diagonal is orthogonal: within-copy dot
  *    products (and norms) are bit-preserved, while cross-copy cosines
  *    collapse toward 0 — near-dup structure again linear, not cloned.
  *
  * Everything else (timestamps, amounts, categories, `props`) is copied
  * verbatim: event RATE grows 10× over the same window, the category
  * domains stay fixed — the realistic shape for 10× volume.
  *
  * Scale shape of the generator itself: pure column transforms over a
  * `factor`-way union — no collect (the stride lookup is a 1-row max), no
  * shuffle at all until the single-file coalesce the layout contract
  * demands (documented; drop the coalesce for a real multi-file export).
  */
object ScaleUp {

  private def pow10Stride(df: DataFrame, key: String): Long = {
    val mx = df.agg(max(col(key))).head().getLong(0)
    var s = 10L
    while (s <= mx) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = graft.core.Sessions.fromEnv()
    try run(spark, srcDir, dstDir, factor)
    finally spark.stop()
  }

  def run(spark: SparkSession, srcDir: String, dstDir: String,
      factor: Int): Unit = {
    new java.io.File(dstDir).mkdirs()
    def src(name: String): DataFrame =
      graft.core.Tables.read(spark, s"$srcDir/$name.parquet")

    // fixed dimensions: the nation/region domain does not grow with volume
    writeOne(src("region"), s"$dstDir/region.parquet")
    writeOne(src("nation"), s"$dstDir/nation.parquet")

    val sCust = pow10Stride(src("customer"), "c_custkey")
    val sOrd = pow10Stride(src("orders"), "o_orderkey")
    val sPart = pow10Stride(src("part"), "p_partkey")
    val sSupp = pow10Stride(src("supplier"), "s_suppkey")
    val sEvt = pow10Stride(src("events"), "event_id")
    val sUser = pow10Stride(src("events"), "user_id")
    val sDoc = pow10Stride(src("documents"), "doc_id")
    val sVec = pow10Stride(src("embeddings"), "vec_id")

    def copies(name: String)(f: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = src(name)
      (0 until factor).map { k =>
        if (k == 0) base else f(base, k)
      }.reduce(_ unionAll _)
    }

    writeOne(copies("customer") { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * sCust))
    }, s"$dstDir/customer.parquet")

    writeOne(copies("supplier") { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * sSupp))
    }, s"$dstDir/supplier.parquet")

    writeOne(copies("part") { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * sPart))
        .withColumn("p_name", concat(col("p_name"), lit(s"-$k$k$k")))
    }, s"$dstDir/part.parquet")

    writeOne(copies("orders") { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * sOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * sCust))
    }, s"$dstDir/orders.parquet")

    writeOne(copies("lineitem") { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * sOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * sPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * sSupp))
    }, s"$dstDir/lineitem.parquet")

    writeOne(copies("events") { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * sEvt))
        .withColumn("user_id", col("user_id") + lit(k * sUser))
    }, s"$dstDir/events.parquet")

    writeOne(copies("documents") { (d, k) =>
      d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1x" + k))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("doc_id", col("doc_id") + lit(k * sDoc))
        // each copy IS a new tenant (its vocabulary is disjoint by the
        // token suffix above), so its tenant marker must be new too — a
        // real multi-tenant 10× arrives with new source ids, and the
        // per-source statistics (q120's tenant df gate, q157/q163 source
        // matrices) see 10× sources, not 10 copies hiding behind one id
        .withColumn("source", concat_ws("-", col("source"), lit(k)))
    }, s"$dstDir/documents.parquet")

    writeOne(copies("embeddings") { (d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * sVec))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> " +
            s"CASE WHEN pmod(hash(i, $k), 2) = 0 THEN x ELSE -x END)"))
    }, s"$dstDir/embeddings.parquet")
  }

  /** Write `df` as the SINGLE parquet file the testdata layout contract
    * requires (batch reads `<dir>/<t>.parquet` as a path; the streaming
    * source's `events*.parquet` glob would miss part-files nested in a
    * directory of that name). Row groups are capped at 16 MB so the single
    * file stays SPLITTABLE — Spark assigns byte ranges per scan task and a
    * range only yields rows if a row-group midpoint falls inside it, so a
    * one-group 100 MB file would serialize its whole scan on one core (the
    * source sf0.1 files are one group each, which is fine at 11 MB but
    * would measure layout, not operators, at 10×). A real multi-file
    * export would simply drop the coalesce. */
  private[graft] def writeOne(df: DataFrame, dst: String): Unit = {
    val tmp = dst + "_tmp"
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (16L << 20).toString)
      .parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val target = new java.io.File(dst)
    if (target.exists()) target.delete()
    java.nio.file.Files.move(part.toPath, target.toPath)
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }
}
