package graft.core

import graft.SparkSpec
import org.apache.spark.sql.types._

/** The one parquet read path ([[Tables.read]]): the footer schema equals
  * the one Spark infers, resolving starts no Spark job, unreadable paths
  * fail naming the path, and `events`' `ts` comes back as TIMESTAMP from
  * every footer generation. */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("the footer schema equals Spark's inferred schema for every catalog table") {
    Tables.names.foreach { n =>
      val path = s"$sf/$n.parquet"
      assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema, n)
    }
  }

  test("the footer schema of a partitioned directory keeps its partition columns") {
    import spark.implicits._
    val dir = tmp("tables_part") + "/t"
    Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "n", "p")
      .write.partitionBy("p").parquet(dir)
    val got = Tables.read(spark, dir)
    assert(got.schema == spark.read.parquet(dir).schema)
    assert(got.columns.toSeq == Seq("k", "n", "p"))
    assert(got.where($"p" === "y").count() == 1)
  }

  test("Tables, Sources.parquet and Sources.mart start no Spark job") {
    import spark.implicits._
    val src = tmp("tables_src") + "/s"
    Seq(("x", 1L)).toDF("name", "n").write.parquet(src)
    val marts = tmp("tables_marts")
    val spec = Schemas.guardian
    graft.sources.Sinks.writePartitioned(
      spec.conform(Seq(("g1", "sch1", "Ana", "Lee"))
        .toDF("guardianId", "schoolId", "firstName", "lastName")),
      s"$marts/${spec.name}", spec.partitionBy)
    val declared = StructType(Seq(
      StructField("name", StringType), StructField("n", LongType)))
    assert(jobsIn(Tables.names.foreach(Tables(spark, sf, _))) == 0)
    assert(jobsIn(graft.sources.Sources.parquet(spark, src, declared)) == 0)
    assert(jobsIn(graft.sources.Sources.mart(spark, marts, spec)) == 0)
  }

  test("a path without a readable data file fails naming the path") {
    val empty = tmp("tables_empty")
    val e1 = intercept[IllegalArgumentException](Tables.read(spark, empty))
    assert(e1.getMessage.contains(empty))
    val truncated = tmp("tables_truncated")
    val whole = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sf/region.parquet"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$truncated/part-0.parquet"),
      whole.take(whole.length / 2))
    val e2 = intercept[IllegalArgumentException](Tables.read(spark, truncated))
    assert(e2.getMessage.contains(truncated))
  }

  test("events' ts is a TIMESTAMP with the same instants from all three footer generations") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val micros = Seq(1700000000123456L, 1700003600000001L)
    // (generation, ts unit, isAdjustedToUTC, value per µs) — written with
    // the plain parquet writer, so no Spark schema rides in the footer
    val generations = Seq(
      ("nanos", TimeUnit.NANOS, true, 1000L),
      ("ntz", TimeUnit.MICROS, false, 1L),
      ("utc", TimeUnit.MICROS, true, 1L))
    generations.foreach { case (gen, unit, utc, scale) =>
      val dir = tmp(s"tables_events_$gen")
      val schema = Types.buildMessage()
        .required(INT64).named("event_id")
        .required(INT64).as(LogicalTypeAnnotation.timestampType(utc, unit)).named("ts")
        .named("events")
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withType(schema).build()
      try {
        val rows = new SimpleGroupFactory(schema)
        micros.zipWithIndex.foreach { case (us, i) =>
          w.write(rows.newGroup().append("event_id", i.toLong).append("ts", us * scale))
        }
      } finally w.close()
      val events = Tables(spark, dir, "events")
      assert(events.schema("ts").dataType == TimestampType, gen)
      val got = events.orderBy("event_id").selectExpr("unix_micros(ts)")
        .collect().map(_.getLong(0)).toSeq
      assert(got == micros, gen)
    }
  }
}
