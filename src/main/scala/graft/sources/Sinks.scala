package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions.{array, col, concat, count, lit, pmod,
  raise_error, when, xxhash64}

/** K1-K5 sink semantics (SURVEY §2.2) re-expressed engine-natively.
  *
  * The reference hand-builds `INSERT … VALUES` strings over HTTP; with typed
  * DataFrames the whole literal-encoding layer (K2/F12/F13) is obsolete.
  * What remains meaningful — and matters at 100 TB — is the physical layout:
  * ClickHouse `PARTITION BY` → parquet `partitionBy` (partition pruning for
  * multi-tenant scans), ClickHouse `ORDER BY` clustered key →
  * `sortWithinPartitions` (parquet min/max stats make range scans cheap).
  */
object Sinks {

  /** K1 load path as a JDBC (ClickHouse-compatible) sink honoring the
    * TableSpec's physical-layout contract — the reference's
    * `INSERT … VALUES` over HTTP (dags/guardian/etl_guardian_to_clickhouse
    * .py:127-132) re-expressed as a typed, batched, parallel write:
    *
    *  - rows pass through `spec.conform` (defaults, declared types,
    *    declared column order) — the K2/K3 dynamic-column/encoding layers
    *    are inherent;
    *  - `PARTITION BY` metadata → `repartition` on the partition keys, so
    *    each writer connection carries whole key groups (ClickHouse-style
    *    part-per-partition inserts, no interleaving across tenants);
    *  - `ORDER BY` clustered key → `sortWithinPartitions`, so every INSERT
    *    batch arrives in clustered-key order (in-order inserts are the
    *    cheap path for LSM/MergeTree-family targets);
    *  - K4 empty-batch semantics WITHOUT a probe: the row count rides the
    *    write itself as an `observe` metric (the [[graft.pipelines.Runner]]
    *    pattern), so the batch executes exactly once — the old `isEmpty`
    *    guard partially re-executed the transform before every write. An
    *    empty batch issues no INSERT round-trips (empty partition
    *    iterators); it does create the declared table if missing, which
    *    doubles as schema bootstrap.
    *
    * `batchsize` bounds rows per round-trip; executors write in parallel,
    * one connection per partition. For a ClickHouse target, call
    * [[ClickHouseDialect.register]] first — types, quoting, nullability
    * and transaction caveats are documented there.
    *
    * @return number of rows written (observed in the write pass)
    */
  def writeJdbc(
      df: DataFrame,
      spec: graft.core.Schemas.TableSpec,
      url: String,
      props: java.util.Properties = new java.util.Properties(),
      mode: SaveMode = SaveMode.Append,
      batchsize: Int = 10000): Long = {
    val obs = Observation()
    val conformed = spec.conform(df).observe(obs, count(lit(1)).as("n"))
    val partitioned =
      if (spec.partitionBy.nonEmpty)
        conformed.repartition(spec.partitionBy.map(col): _*)
      else conformed
    val arranged =
      if (spec.orderBy.nonEmpty)
        partitioned.sortWithinPartitions(spec.orderBy.map(col): _*)
      else partitioned
    val p = new java.util.Properties()
    p.putAll(props)
    p.setProperty("batchsize", batchsize.toString)
    arranged.write.mode(mode).jdbc(url, spec.name, p)
    // getOrEmpty, not get: SaveMode.Ignore on an existing table runs NO
    // job, so the metric never materializes and get() would block forever
    org.apache.spark.sql.graftbridge.Bridge.observedOrEmpty(obs)
      .get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** Partitioned, clustered, append-mode write.
    *
    * Mirrors e.g. `PARTITION BY schoolId ORDER BY (monthEvaluationId, …)`
    * (apps/clickhouse/migrations/2025_02_24_10_02_...sql:57-58). Includes the
    * K4 empty-batch guard (dags/school/etl_school_to_clickhouse.py:79-81).
    *
    * `guardEmpty=false` skips the `isEmpty` probe — callers that already
    * count rows in the same pass (e.g. [[graft.pipelines.Runner]] via
    * `observe`) must not pay an extra partial execution of the batch; an
    * empty append writes only a _SUCCESS marker, which is harmless.
    *
    * @return number of partition columns applied, -1 if skipped empty batch
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Append,
      guardEmpty: Boolean = true): Int = {
    if (guardEmpty && df.isEmpty) return -1
    // the planned write sorts by the partition columns unless its input
    // already is, and its sort would replace ours: lead with them
    val sorted =
      if (sortCols.nonEmpty) df.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else df
    val writer = sorted.write.mode(mode)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
    partitionCols.size
  }

  /** Z-ordered parquet layout — multi-dimensional data skipping.
    *
    * Rows sort by the Morton interleave of the given dimensions
    * ([[graft.plans.ZOrderExpr]]) and land in range-partitioned files, so
    * every file's parquet footer min/max stays tight in EVERY clustered
    * dimension at once. A scan filtering on any subset of those dimensions
    * then skips most files outright — the layout that makes "WHERE user_id
    * BETWEEN … AND day BETWEEN …" read a sliver of a 100 TB table instead
    * of all of it (Delta/Iceberg `OPTIMIZE ZORDER BY` semantics, done
    * natively). A plain sort clusters only its leading column; Z-order is
    * the fix when two or more columns carry selective predicates.
    *
    * Dimensions must already be non-negative integers under
    * `2^bitsPerDim` — out-of-range values would alias Morton cells, so
    * this fails fast instead of silently corrupting the layout
    * (range-encode or bucket raw values first).
    *
    * @param dims (name → column) pairs; the named columns must exist in
    *             `df` (they are what scans filter on)
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      dims: Seq[String],
      bitsPerDim: Int = 16,
      nFiles: Int = 64,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    require(dims.size >= 2, "z-order needs at least two dimensions")
    val lim = 1L << bitsPerDim
    val guarded = dims.map(d =>
      when(col(d).isNull.or(col(d) < 0).or(col(d) >= lim),
        raise_error(concat(lit(s"z-order dim $d out of [0, $lim): "),
          col(d).cast("string"))))
        .otherwise(col(d).cast("long")))
    val z = toCol(graft.plans.ZOrderExpr(
      toExpr(array(guarded: _*)), bitsPerDim, dims.size))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Bucketed, sorted, catalogued write — the co-located-join layout.
    *
    * Two tables bucketed `nBuckets` ways on their join key sort-merge-join
    * with NO exchange on either side: at 100 TB that converts every
    * recurring fact⋈fact join on the bucket key from a full-data shuffle
    * into a local merge (the reference's `ORDER BY` clustered-key analog,
    * extended to join co-location). Bucket pruning additionally skips
    * buckets for point predicates on the key.
    *
    * Bucketing requires a catalog table (bucket metadata lives in the
    * catalog, not the files): `path` anchors the data externally,
    * `table` names it.
    *
    * Single execution: the row count rides the write as an `observe`
    * metric — no `isEmpty` pre-probe re-running the input plan. An empty
    * input yields an empty (but correctly bucketed) catalog table, which
    * is the right overwrite semantic.
    *
    * @return number of rows written (observed in the write pass)
    */
  def writeBucketed(
      df: DataFrame,
      path: String,
      table: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Long = {
    val obs = Observation()
    val w = df.observe(obs, count(lit(1)).as("n"))
      .write.mode(mode).format("parquet").option("path", path)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
    // see writeJdbc: Ignore-mode on an existing table executes nothing
    org.apache.spark.sql.graftbridge.Bridge.observedOrEmpty(obs)
      .get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** Compact a parquet directory's small files — the operational
    * counterpart of the streaming append sinks, whose per-micro-batch
    * files otherwise accumulate until metadata handling (file listing,
    * footer reads, task scheduling) dominates every downstream scan. At
    * 100 TB this is run per partition-era as a maintenance pass.
    *
    * Rewrites the directory at `targetBytes`-sized files: partitioned
    * layouts pass `partitionCols` so the rewrite preserves the directory
    * scheme; within the scheme, rows spread over (key, salt) so each key
    * splits into ~⌈dir bytes / (target · keys)⌉ files (uniform-key
    * approximation — a single pathological key is still bounded by the
    * per-key split count). The swap is rename-based (write
    * `.compact_tmp`, move the old dir to `.compact_bak`, move tmp in,
    * drop bak) — on rename-atomic filesystems (HDFS, local) readers see
    * old or new, never a mix; a crash between the two renames leaves the
    * data intact in `.compact_bak` for manual recovery. Not safe under
    * concurrent WRITERS.
    *
    * REFUSES a directory carrying a streaming sink's `_spark_metadata`
    * transaction log: readers of such a directory go through the sink log
    * (MetadataLogFileIndex), and a batch rewrite would make every
    * pre-compact row invisible the moment the producing stream resumes
    * and re-creates the log — silent data loss. Stop the stream and
    * migrate the data to a plain directory first (read → writePartitioned),
    * then compact that.
    *
    * @return (files before, files after)
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L << 20,
      partitionCols: Seq[String] = Nil): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(hPath, "_spark_metadata")))
      throw new IllegalArgumentException(
        s"compact: $path is a streaming file-sink output (_spark_metadata " +
          "present); a batch rewrite would orphan every pre-compact row " +
          "behind the sink log. Migrate to a plain directory first.")

    def dataFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.result()
    }

    val before = dataFiles(hPath)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt

    val df = graft.core.Tables.read(spark, path)
    val arranged =
      if (partitionCols.nonEmpty) {
        // split each key into ~nOut/nKeys salted groups so big keys still
        // land near targetBytes (plain repartition(keys) would emit ONE
        // file per key regardless of size)
        val nKeys = math.max(1L,
          df.select(partitionCols.map(col): _*).distinct().count())
        val splits = math.max(1L, (nOut + nKeys - 1) / nKeys).toInt
        val salt = pmod(
          xxhash64(df.columns.map(col): _*), lit(splits))
        df.repartition(nOut, (partitionCols.map(col) :+ salt): _*)
      } else df.repartition(nOut)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + ".compact_bak")
    fs.delete(tmp, true)
    val writer = arranged.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp.toString)

    if (!fs.rename(hPath, bak))
      throw new java.io.IOException(s"compact: could not move $path aside")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(bak, hPath) // restore; tmp is still on disk for inspection
      throw new java.io.IOException(s"compact: could not install $tmp")
    }
    fs.delete(bak, true)
    (before.size, dataFiles(hPath).size)
  }

  /** Atomic snapshot publish: the batch-pipeline answer to "readers must
    * never see a half-written table". Each publish writes a NEW immutable
    * version directory `root/v=N` to completion, then flips the
    * `root/_LATEST` pointer file to it (temp-file + rename — atomic on
    * rename-atomic filesystems). Readers resolve the pointer FIRST
    * ([[readPublished]]), so a reader mid-scan of v=N−1 is untouched by
    * the publish of v=N — snapshots are immutable; there is no in-place
    * overwrite anywhere in the protocol. Retention drops all but the
    * newest `keep` versions AFTER the flip (never the pointed-to one).
    * Readers fall back to the highest COMPLETE version if the pointer is
    * mid-swap — the delete+rename window on filesystems without atomic
    * replace. A version counts as complete only when it carries the
    * `_SUCCESS` job marker, so a publish that crashed mid-write is
    * invisible to readers, never counted toward retention, and swept as
    * garbage by the next publish. Retention contract (the VACUUM
    * trade-off): a reader is only guaranteed its snapshot for the next
    * `keep − 1` publishes — size `keep` to cover the longest scan you
    * expect to overlap the publish cadence. Single-writer protocol, like
    * [[compact]].
    *
    * @return the published version number
    */
  def publishVersioned(df: DataFrame, root: String, keep: Int = 2,
      partitionCols: Seq[String] = Nil): Long = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val spark = df.sparkSession
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(rootPath)
    // next version counts ALL v= dirs (complete or crashed partials, so a
    // partial is never reused), then crashed partials are swept — they are
    // unreferenced garbage by construction (no _SUCCESS → never pointed to)
    val allDirs = versionDirs(fs, rootPath)
    val next = allDirs.lastOption.map(_ + 1).getOrElse(0L)
    val complete = versionsOf(fs, rootPath).toSet
    allDirs.filterNot(complete).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(rootPath, f"v=$v%06d"), true)
    }
    val target = new org.apache.hadoop.fs.Path(rootPath, f"v=$next%06d")
    val writer = df.write.mode(SaveMode.ErrorIfExists)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(target.toString)
    // flip the pointer: write aside, drop the old pointer, install
    val tmp = new org.apache.hadoop.fs.Path(rootPath, "._LATEST_tmp")
    val latest = new org.apache.hadoop.fs.Path(rootPath, "_LATEST")
    val out = fs.create(tmp, true)
    try out.write(f"v=$next%06d".getBytes("UTF-8")) finally out.close()
    fs.delete(latest, false)
    if (!fs.rename(tmp, latest))
      throw new java.io.IOException(s"publish: could not install pointer for v=$next")
    // retention: immutable old snapshots beyond `keep`, never the newest
    versionsOf(fs, rootPath).dropRight(keep).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(rootPath, f"v=$v%06d"), true)
    }
    next
  }

  /** Read the currently-published snapshot under `root`: resolve `_LATEST`,
    * falling back to the highest COMPLETE (`_SUCCESS`-marked) version while
    * a pointer flip is mid-swap — a crashed half-written directory is never
    * eligible. The returned frame reads ONE immutable version directory —
    * subsequent publishes cannot mutate what this scan sees (within the
    * [[publishVersioned]] retention contract). */
  def readPublished(spark: org.apache.spark.sql.SparkSession,
      root: String): org.apache.spark.sql.DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = new org.apache.hadoop.fs.Path(rootPath, "_LATEST")
    val pointed: Option[String] =
      if (fs.exists(latest)) {
        val in = fs.open(latest)
        try {
          val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          if (s.nonEmpty) Some(s) else None
        } finally in.close()
      } else None
    val dir = pointed.getOrElse {
      val vs = versionsOf(fs, rootPath)
      require(vs.nonEmpty, s"readPublished: no published version under $root")
      f"v=${vs.last}%06d"
    }
    graft.core.Tables.read(spark, new org.apache.hadoop.fs.Path(rootPath, dir).toString)
  }

  /** Sorted version numbers of ALL `v=NNNNNN` dirs under root, complete or
    * not — the version-allocation view. */
  private def versionDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") && n.drop(2).forall(_.isDigit) =>
        n.drop(2).toLong }
      .sorted

  /** Sorted COMPLETE snapshot versions: only dirs carrying the `_SUCCESS`
    * job marker count — a crashed mid-write publish must be invisible to
    * readers, retention, and the mid-swap fallback. */
  private def versionsOf(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    versionDirs(fs, root).filter { v =>
      fs.exists(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(root, f"v=$v%06d"), "_SUCCESS"))
    }
}

/** §2.10 incremental-load protocol: per-pipeline high watermark persisted
  * outside the job, read before extract, committed only after a successful
  * load (`extract >> load >> update_timestamp`,
  * dags/student/etl_students_to_clickhouse.py:24-26,143-149) — at-least-once
  * with re-reads deduplicated at query time by [[graft.operators.Relational.dedupLatest]].
  *
  * File-per-store `java.util.Properties`; swap for a Delta/JDBC state table
  * on a real cluster (the interface is the contract, not the file).
  */
class WatermarkStore(path: String) {
  private val file = new java.io.File(path)

  private def load(): java.util.Properties = {
    val p = new java.util.Properties()
    if (file.exists()) {
      val in = new java.io.FileInputStream(file)
      try p.load(in) finally in.close()
    }
    p
  }

  /** Airflow `Variable.get(name, default epoch)` analog
    * (dags/student/etl_students_to_clickhouse.py:31). */
  def get(name: String, default: String = "1970-01-01T00:00:00"): String = {
    Option(load().getProperty(name)).getOrElse(default)
  }

  /** Commit AFTER the load succeeds — ordering is the correctness property.
    * The file is written aside and renamed over the old one (the
    * [[Sinks.publishVersioned]] `_LATEST` idea): a crash mid-write leaves
    * the previous file, and every watermark in it, intact. */
  def set(name: String, value: String): Unit = {
    val p = load()
    p.setProperty(name, value)
    val dir = file.getAbsoluteFile.getParentFile
    dir.mkdirs()
    val tmp = new java.io.File(dir, s".${file.getName}.tmp")
    val out = new java.io.FileOutputStream(tmp)
    try {
      p.store(out, "graft watermark store")
      out.getFD.sync()
    } finally out.close()
    java.nio.file.Files.move(tmp.toPath, file.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
