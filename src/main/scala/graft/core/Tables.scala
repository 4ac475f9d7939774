package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Test-table catalog over the driver-generated parquet dirs (TESTDATA.md),
  * and the engine's one parquet read path ([[read]]).
  *
  * Mirrors the reference's fixed, declared-up-front schema catalog (SURVEY
  * §1.1: every ClickHouse table is DDL-declared; nothing is inferred at query
  * time). Here the parquet footers carry the authoritative schema, so reads
  * are exact; production entry points that ingest schemaless sources go
  * through [[graft.sources.Sources]] with explicit `StructType`s instead.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Some generations of `events.parquet` store `ts` as INT64
    * TIMESTAMP(NANOS), which Spark's parquet reader rejects outright
    * (PARQUET_TYPE_ILLEGAL); newer generations store a standard
    * timestamp[us]. Dispatch on the schema the footer actually declares:
    * a long `ts` gets the nanos→µs rescue (integral `div`, never double
    * division — epoch-nanos exceed 2^53; exact because the generator emits
    * µs-precision values), a timestamp `ts` passes through untouched.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" => rescueNanosTs(read(spark, s"$sfDir/events.parquet"))
    case _ => read(spark, s"$sfDir/$name.parquet")
  }

  /** Read the parquet table at `path` (a file, a directory, partitioned or
    * not, or a glob) with the schema its footer declares. Every parquet
    * read in the engine goes through here: a bare `spark.read.parquet(path)`
    * infers the same schema with a Spark job per call, while this reads one
    * footer on the driver and starts none. Nothing is cached, so rotated or
    * appended data is re-read by construction; partition columns are still
    * discovered from the directory names by the scan.
    *
    * The footer is that of the first data file in path order (the file
    * Spark's own inference picks), skipping `_`/`.`-prefixed names as
    * Spark's listing does. Spark-written files carry their Spark schema in
    * the footer's key-value metadata, which wins; other writers' files
    * go through Spark's parquet-to-Spark type converter. Both the converter
    * and the scan need `nanosAsLong` for the INT64 TIMESTAMP(NANOS)
    * generation of `events`, so it is set here, the one place it is set.
    *
    * @throws IllegalArgumentException naming `path` when it holds no data
    *   file or the footer cannot be read
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(s: FileStatus) = {
      val n = s.getPath.getName
      !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
    }
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filter(visible).flatMap(leaves)
      else Seq(s)
    val first = Option(fs.globStatus(root)).toSeq.flatten.flatMap(leaves)
      .minByOption(_.getPath.toString)
      .getOrElse(throw new IllegalArgumentException(s"$path: no parquet data file"))
    val meta =
      try {
        // options built from the session's conf: the one-argument open
        // builds a fresh default Hadoop conf, re-parsing its XML resources
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf),
          HadoopReadOptions.builder(conf).build())
        try reader.getFooter.getFileMetaData finally reader.close()
      } catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$path: unreadable parquet footer in ${first.getPath}", e)
      }
    Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
  }

  /** Normalize `ts` to a session-tz TIMESTAMP whatever the footer declares:
    *  - INT64 nanos (read as long under nanosAsLong) → the nanos→µs rescue;
    *  - TIMESTAMP_NTZ (parquet isAdjustedToUTC=false) → cast to TIMESTAMP.
    *    Value-preserving because the session time zone is pinned to UTC
    *    ([[Sessions]]): the NTZ wall-clock micros ARE the UTC micros. The
    *    cast matters downstream — watermarks (`withWatermark`) and
    *    `unix_micros` reject TIMESTAMP_NTZ outright;
    *  - TIMESTAMP → pass through.
    * Keeps the catalog working across all testdata generations.
    */
  def rescueNanosTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Register every table as a temp view — the reference's Metabase-facing
    * "everything is SELECT-able" surface (SURVEY §3.3) as plain `spark.sql`.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
