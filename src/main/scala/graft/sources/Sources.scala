package graft.sources

import graft.core.Schemas.TableSpec
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Source readers (SURVEY §2.1) — every production read declares its schema
  * up front (the reference's fixed-DDL discipline, §1.1: no inference in
  * production paths) and hands projection + predicate to the reader so they
  * reach the scan:
  *
  *  - parquet: `PushedFilters` / `ReadSchema` prune row groups and columns;
  *  - JDBC (S2/S3/S5 — the reference's Postgres extracts and federated
  *    `ENGINE = PostgreSQL` databases): the predicate lands in the remote
  *    WHERE clause, the projection in the remote SELECT;
  *  - the S4 IN-list "semi-join pushdown" is `Relational.semiJoin` — never a
  *    driver-collected key list.
  */
object Sources {

  /** Schema-checked parquet read: declared schema is asserted against the
    * footer (names + types of the projected columns) so drift fails loudly
    * at plan time, before any job runs. */
  def parquet(spark: SparkSession, path: String, schema: StructType,
      projection: Seq[String] = Nil, predicate: Option[String] = None): DataFrame = {
    val raw = Tables.read(spark, path)
    val declared = schema.fields.map(f => f.name -> f.dataType).toMap
    val wanted = if (projection.nonEmpty) projection else schema.fieldNames.toSeq
    wanted.foreach { n =>
      val actual = raw.schema.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$path: missing column $n"))
      declared.get(n).foreach { t =>
        require(actual.dataType == t,
          s"$path: $n is ${actual.dataType}, declared $t")
      }
    }
    val projected = raw.select(wanted.map(col): _*)
    predicate.map(projected.filter).getOrElse(projected)
  }

  /** JDBC read with pushdown — `dbtable` as a projected/filtered subquery so
    * the remote engine does the work (the reference embeds its watermark
    * predicate in source SQL the same way, S3). Partitioned reads via
    * `partitionColumn` bounds parallelize the extract across executors.
    * `projection`/`predicate` strings are pasted verbatim into the remote
    * SQL: quote identifiers per the target's dialect (case-folding engines
    * like Derby/PG upper/lower-case unquoted names). */
  def jdbc(spark: SparkSession, url: String, table: String,
      projection: Seq[String] = Seq("*"), predicate: Option[String] = None,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      props: java.util.Properties = new java.util.Properties()): DataFrame = {
    val where = predicate.map(p => s" WHERE $p").getOrElse("")
    val sub = s"(SELECT ${projection.mkString(", ")} FROM $table$where) AS src"
    val reader = spark.read
    partitionColumn match {
      case Some((c, lo, hi, n)) =>
        reader.jdbc(url, sub, c, lo, hi, n, props)
      case None => reader.jdbc(url, sub, props)
    }
  }

  /** Read a mart table written by [[Sinks.writePartitioned]] and conform it
    * to its catalog spec — the read side of the schema contract. */
  def mart(spark: SparkSession, basePath: String, spec: TableSpec): DataFrame =
    spec.conform(Tables.read(spark, s"$basePath/${spec.name}"))

  /** S5 federated-source registration: expose a remote JDBC table on the
    * `spark.sql` surface, like the reference's `ENGINE = PostgreSQL`
    * databases (migrations/2025_03_05_15_48_create_materialized_academic_
    * postgres_table.sql:1-3). The view is LAZY — each query against it
    * re-plans against the remote table, and Spark's JDBC relation pushes
    * projections and filters into the remote WHERE/SELECT, so
    * `SELECT c FROM view WHERE k = 1` ships only that slice.
    *
    * Registers a temp view via the options-based reader so credentials in
    * `props` never appear in SQL text. For a whole remote database, call
    * once per table (the reference registers per-database schemas the same
    * way, one materialized table per relation).
    */
  def registerJdbc(spark: SparkSession, name: String, url: String,
      table: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    spark.read.jdbc(url, table, props).createOrReplaceTempView(name)

  /** S1 MongoDB source seam. The reference's highest-volume extracts are
    * Mongo collections (dags/applicant/etl_applicants_to_clickhouse
    * .py:48-54, dags/score/etl_scores_by_subject_to_clickhouse.py:115-124);
    * this is the schema-checked adapter over the official Spark connector
    * (`format("mongodb")`, artifact org.mongodb.spark:mongo-spark-connector
    * — not bundled here, so the call fails with actionable guidance when
    * the connector is absent). Declared schema is mandatory — same
    * no-inference discipline as [[parquet]] — and projection/predicate are
    * applied on the loaded frame, where the connector compiles them into
    * the aggregation pipeline ($project/$match) it ships to the server.
    */
  def mongo(spark: SparkSession, uri: String, database: String,
      collection: String, schema: StructType,
      projection: Seq[String] = Nil, predicate: Option[String] = None): DataFrame = {
    val raw =
      try spark.read.format("mongodb")
        .option("connection.uri", uri)
        .option("database", database)
        .option("collection", collection)
        .schema(schema)
        .load()
      catch {
        case e: Exception if e.getMessage != null &&
            e.getMessage.contains("Failed to find") =>
          throw new IllegalStateException(
            "MongoDB Spark connector not on the classpath; add " +
              "org.mongodb.spark:mongo-spark-connector for your Spark/Scala " +
              "version (or use mongoOrStandIn for a parquet stand-in)", e)
      }
    val projected =
      if (projection.nonEmpty) raw.select(projection.map(col): _*) else raw
    predicate.map(projected.filter).getOrElse(projected)
  }

  /** [[mongo]] with a schema-checked parquet stand-in fallback — the
    * harness path (no Mongo in the sandbox) and a migration aid: point
    * `standInPath` at an exported collection and the pipeline runs
    * unchanged until the connector lands. */
  def mongoOrStandIn(spark: SparkSession, uri: String, database: String,
      collection: String, schema: StructType, standInPath: String,
      projection: Seq[String] = Nil, predicate: Option[String] = None): DataFrame =
    try mongo(spark, uri, database, collection, schema, projection, predicate)
    catch {
      case _: IllegalStateException =>
        parquet(spark, standInPath, schema, projection, predicate)
    }
}
