package graft

import graft.core.Tables
import graft.core.Tables.{apply => t}
import graft.functions.Deterministic._
import graft.functions.Scalar
import graft.operators.Relational
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The oracle-checked query corpus: one entry per operator of the reference
  * inventory (SURVEY §2) plus the large-scale training-data extensions.
  *
  * Determinism contract (the driver hash-compares against DuckDB):
  *  - money aggregates go through [[graft.functions.Deterministic]] (exact
  *    decimal arithmetic, order-free);
  *  - integer-valued doubles (quantities, counts) sum exactly in fp;
  *  - every query ends in a total ORDER BY;
  *  - timestamps are emitted as formatted strings or epoch-micros longs,
  *    never raw timestamp columns (parquet/engine physical-type mismatch).
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  final case class Entry(name: String, fn: Q, oracle: Option[String])

  // ---------------------------------------------------------------- scans

  /** S1/S2/P1/P2: projected, filtered scan — both the predicate and the
    * 5-column projection reach the parquet reader (PushedFilters/ReadSchema),
    * which at 100 TB is the difference between reading 5 columns of a few
    * row groups and reading everything. */
  // No final orderBy (r14, the q63 discipline / guide §2.4 "orderBy used
  // only to make output deterministic"): below the sort the plan is an
  // exchange-free filtered projection, so the global sort re-executes the
  // scan for the range-partitioner sample and sorts a row-per-input
  // result the gate row-sorts anyway. Oracle SQL unchanged.
  private val q01: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1999-01-01")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))

  private val q01Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
      |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ----------------------------------------------------------- aggregation

  /** A1/A5 grouped aggregation, TPC-H Q1 shape: map-side partial agg on 6
    * groups means the shuffle moves O(groups), not O(rows). */
  private val q02: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-31")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q02Sql =
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |       sum(l_quantity) / count(*) AS avg_qty,
      |       count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ----------------------------------------------------------------- dedup

  /** D1 latest-row-per-key (PG DISTINCT ON): single shuffle on the key,
    * rank-1 filter; (ts, event_id) is a total order so ties are impossible. */
  private val q03: Q = (s, dir) =>
    Relational.dedupLatest(
        t(s, dir, "events"),
        Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .orderBy(col("user_id"))

  private val q03Sql =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id""".stripMargin

  // ----------------------------------------------------- incremental scan

  /** S3/P2 watermark scan: the predicate pushes into the scan, so an
    * incremental run touches only row groups whose max(ts) clears the
    * watermark — the reference's `updatedAt > last_run` protocol. */
  private val q04: Q = (s, dir) =>
    Relational.incrementalFrom(
        t(s, dir, "events"), "ts",
        java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        unix_micros(min(col("ts"))).as("min_us"),
        unix_micros(max(col("ts"))).as("max_us"))
      .orderBy(col("event_type"))

  private val q04Sql =
    """SELECT event_type, count(*) AS n,
      |       min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us
      |FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------------- joins

  /** J6/S4 semi-join pushdown: customers with at least one 150k+ order.
    * LEFT SEMI carries no payload columns from the fact side. */
  private val q05: Q = (s, dir) =>
    Relational.semiJoin(
        t(s, dir, "customer"),
        t(s, dir, "orders").filter(col("o_totalprice") > 450000),
        "c_custkey", "o_custkey")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val q05Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** §2.4 anti-join: customers with no 400k+ order (the month pipeline's
    * "keys in A minus keys in B" membership check). */
  private val q06: Q = (s, dir) =>
    Relational.antiJoin(t(s, dir, "customer"),
        t(s, dir, "orders").filter(col("o_totalprice") > 400000),
        "c_custkey", "o_custkey")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  private val q06Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** J1-J3 dimension enrichment: fact ⋈ two broadcast dims — the Spark form
    * of the reference's in-memory dict lookups. Explicit broadcast() hints:
    * part/supplier stay small relative to lineitem at any SF, so the fact
    * table never shuffles. */
  private val q07: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_name"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"), col("s_name"))

  private val q07Sql =
    """SELECT p_brand, s_name,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |       sum(l_quantity) AS sum_qty, count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY p_brand, s_name ORDER BY p_brand, s_name""".stripMargin

  /** J2/J5 multiway star join (TPC-H Q5 shape): dims chain region→nation→
    * customer broadcast down; only orders⋈lineitem is a real shuffle join on
    * the orderkey — the minimum possible for this shape.
    *
    * Lineitems pre-aggregate to per-order revenue BEFORE the join: the
    * groupBy's exchange doubles as the join's partitioning (one shuffle
    * serves both), the join input shrinks from lineitems to orders, and
    * `n_orders` becomes a plain count — no distinct-aggregate expand.
    * Revenue stays exact decimal through both levels
    * ([[graft.functions.Deterministic.revenueDec]]), double only at the end.
    */
  private val q08: Q = (s, dir) => {
    val region = t(s, dir, "region")
    val nation = t(s, dir, "nation")
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    val perOrder = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(graft.functions.Deterministic
        .revenueDec(col("l_extendedprice"), col("l_discount")).as("rev"))
    perOrder
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q08Sql =
    """SELECT r_name, n_name,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |       count(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** J4/J5 self-join (the reference walks the evaluation tree via parentId
    * self-joins): line-pair counts within an order.
    *
    * Computed WITHOUT the self-join (guide §2.3 "aggregate before you
    * shuffle"): for each order the pair count over its linenumber
    * multiset is C(n,2) − Σ_v C(c_v,2) (all unordered pairs minus the
    * equal-value pairs the strict `<` excludes) — an identity over the
    * multiset, so it needs only the per-(order, linenumber) counts, not
    * the pairs themselves. Two narrow aggregations replace a join whose
    * intermediate is QUADRATIC in lines-per-order (a k-line order used
    * to emit k·(k−1)/2 join rows before its count); orders with zero
    * qualifying pairs (single-line, or all lines sharing one
    * linenumber) produced no group under the inner join, hence the
    * n_pairs ≥ 1 filter. Equivalent for ANY multiset — no uniqueness
    * assumption on (l_orderkey, l_linenumber) is used. */
  private val q09: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("l_orderkey").as("okey"))
      // integer DIV, not `/` (double): n(n−1) − Σc(c−1) is always even,
      // and exact long arithmetic must not round-trip through a double
      .agg(expr("(sum(c) * (sum(c) - 1) - sum(c * (c - 1))) DIV 2")
        .as("n_pairs"))
      .filter(col("n_pairs") >= 1)
      .orderBy(col("okey"))

  private val q09Sql =
    """SELECT a.l_orderkey AS okey, count(*) AS n_pairs
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
      |GROUP BY a.l_orderkey ORDER BY okey""".stripMargin

  // ------------------------------------------------------ derived measures

  /** A3 weighted average with the reference's weight fallback (coe ≤ 0 or
    * missing → 1, dags/student_scores_subject/...py:293-295). */
  private val q10: Q = (s, dir) => {
    val w = when(col("l_quantity") > 0, col("l_quantity")).otherwise(lit(1.0))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg((sum(dec(col("l_extendedprice")) * dec(w)).cast("double") / sum(w))
          .as("wavg_price"),
        sum(w).as("sum_w"))
      .orderBy(col("l_returnflag"))
  }

  private val q10Sql =
    """SELECT l_returnflag,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CASE WHEN l_quantity > 0 THEN l_quantity ELSE 1 END AS DECIMAL(18,2))) AS DOUBLE)
      |         / sum(CASE WHEN l_quantity > 0 THEN l_quantity ELSE 1 END) AS wavg_price,
      |       sum(CASE WHEN l_quantity > 0 THEN l_quantity ELSE 1 END) AS sum_w
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** F6 grade scale over a percentage derived from quantity (1-50 → 2-100):
    * every boundary of the reference's get_grade_info is exercised. */
  private val q11: Q = (s, dir) => {
    val g = Scalar.gradeInfo(col("l_quantity") * 2)
    t(s, dir, "lineitem")
      .select(g.getField("grade").as("grade"), g.getField("gpa").as("gpa"),
        g.getField("meaning").as("meaning"))
      .groupBy(col("grade"), col("gpa"), col("meaning"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("gpa").desc, col("grade"))
  }

  private val q11Sql =
    """WITH g AS (
      |  SELECT CASE WHEN l_quantity*2 >= 85 THEN 'A' WHEN l_quantity*2 >= 80 THEN 'B+'
      |              WHEN l_quantity*2 >= 70 THEN 'B' WHEN l_quantity*2 >= 65 THEN 'C+'
      |              WHEN l_quantity*2 >= 50 THEN 'C' WHEN l_quantity*2 >= 45 THEN 'D'
      |              WHEN l_quantity*2 >= 40 THEN 'E' ELSE 'F' END AS grade,
      |         CASE WHEN l_quantity*2 >= 85 THEN 4.0 WHEN l_quantity*2 >= 80 THEN 3.5
      |              WHEN l_quantity*2 >= 70 THEN 3.0 WHEN l_quantity*2 >= 65 THEN 2.5
      |              WHEN l_quantity*2 >= 50 THEN 2.0 WHEN l_quantity*2 >= 45 THEN 1.5
      |              WHEN l_quantity*2 >= 40 THEN 1.0 ELSE 0.0 END AS gpa,
      |         CASE WHEN l_quantity*2 >= 85 THEN 'Excellent' WHEN l_quantity*2 >= 80 THEN 'Very Good'
      |              WHEN l_quantity*2 >= 70 THEN 'Good' WHEN l_quantity*2 >= 65 THEN 'Fairly Good'
      |              WHEN l_quantity*2 >= 50 THEN 'Fair' WHEN l_quantity*2 >= 45 THEN 'Poor'
      |              WHEN l_quantity*2 >= 40 THEN 'Very Poor' ELSE 'Failure' END AS meaning
      |  FROM lineitem)
      |SELECT grade, gpa, meaning, count(*) AS n FROM g
      |GROUP BY grade, gpa, meaning ORDER BY gpa DESC, grade""".stripMargin

  /** F7 percentage with maxScore fallback (null/0 → 100) and the >0 guard —
    * per-row double division, bit-identical on both engines. */
  private val q12: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        Scalar.percentage(col("l_discount"), nullif(col("l_tax"), lit(0.0))).as("pct"))
      // exchange-free kernel projection: no final orderBy (q01 rationale)

  private val q12Sql =
    """SELECT l_orderkey, l_linenumber,
      |       CASE WHEN coalesce(nullif(l_tax, 0), 100) > 0
      |            THEN l_discount / coalesce(nullif(l_tax, 0), 100) * 100
      |            ELSE 0 END AS pct
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** F1/F2 loose timestamp parsing: ISO8601-Z, the legacy
    * `datetime.date@version=2(…)` rescue, and silent-null for garbage. The
    * oracle derives the expectation independently from the source timestamp
    * rather than re-parsing. */
  private val q13: Q = (s, dir) => {
    val raw = when(col("event_id") % 3 === 0,
        concat(lit("datetime.date@version=2("),
          date_format(col("ts"), "yyyy-MM-dd"), lit(")")))
      .when(col("event_id") % 3 === 1,
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .otherwise(concat(lit("garbage-"), col("event_id")))
    t(s, dir, "events")
      .select(col("event_id"), raw.as("raw"))
      .select(col("event_id"),
        coalesce(date_format(Scalar.parseTimestampLoose(col("raw")),
          "yyyy-MM-dd HH:mm:ss"), lit("invalid")).as("parsed"))
      // exchange-free parse-kernel projection: no final orderBy (q01
      // rationale)
  }

  private val q13Sql =
    """SELECT event_id,
      |       CASE WHEN event_id % 3 = 0 THEN strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
      |            WHEN event_id % 3 = 1 THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
      |            ELSE 'invalid' END AS parsed
      |FROM events ORDER BY event_id""".stripMargin

  /** F14 coalesce chain + F5-style categorical normalization. */
  private val q14: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(Scalar.coalesceChain(
          nullif(col("lang"), lit("en")),
          nullif(col("source"), lit("src0")),
          lit("fallback")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  private val q14Sql =
    """SELECT coalesce(nullif(lang, 'en'), nullif(source, 'src0'), 'fallback') AS bucket,
      |       count(*) AS n
      |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin

  /** §2.9 union-all of two disjoint result sets (the month pipeline's
    * direct-then-aggregated emission). */
  private val q15: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val hiF = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 400000)
    val hiO = o.filter(col("o_orderstatus") === "O" && col("o_totalprice") > 450000)
    hiF.unionByName(hiO)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val q15Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE (o_orderstatus = 'F' AND o_totalprice > 400000)
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE (o_orderstatus = 'O' AND o_totalprice > 450000)
      |ORDER BY o_orderkey""".stripMargin

  /** A6 collect_list with a defined order (the transcript pipeline's
    * Array(Tuple) assembly), emitted as a canonical string so both engines
    * agree on representation. */
  private val q16: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("okey"))
      .agg(array_join(
          transform(sort_array(collect_list(col("l_linenumber"))),
            x => x.cast("string")), ",").as("lines"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("okey"))

  private val q16Sql =
    """SELECT l_orderkey AS okey,
      |       string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS lines,
      |       count(*) AS n_lines
      |FROM lineitem GROUP BY l_orderkey ORDER BY okey""".stripMargin

  /** A7/A8 max-by: latest attribute per group by a unique ordering column. */
  private val q17: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(Relational.latestBy(col("event_type"), col("event_id")).as("last_type"),
        max(col("event_id")).as("last_id"),
        max(col("value")).as("max_value"))
      .orderBy(col("user_id"))

  private val q17Sql =
    """SELECT user_id, max_by(event_type, event_id) AS last_type,
      |       max(event_id) AS last_id, max(value) AS max_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** F10 JSON field access (the reference stores JSON-as-String columns):
    * the oracle extracts via regexp — an independent derivation. */
  private val q18: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  // DuckDB's sum(BIGINT) yields HUGEINT; cast back to BIGINT so the result
  // type matches Spark's int64 under the driver's hash comparison.
  private val q18Sql =
    """SELECT event_type,
      |       CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |       count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** §2.8 top-k: TakeOrderedAndProject — per-partition heaps, k-row merge,
    * no global sort at any scale. */
  private val q19: Q = (s, dir) =>
    Relational.topK(t(s, dir, "orders"), 10,
        Seq(col("o_totalprice").desc, col("o_orderkey")))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))

  private val q19Sql =
    """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** P5 distinct key set. */
  private val q20: Q = (s, dir) =>
    t(s, dir, "events").select(col("event_type")).distinct()
      .orderBy(col("event_type"))

  private val q20Sql =
    "SELECT DISTINCT event_type FROM events ORDER BY event_type"

  /** §2.8/window running accumulation per key (ordered, cumulative):
    * integer-exact running sum. */
  private val q21: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .select(col("user_id"), col("event_id"),
        row_number().over(w).as("rn"),
        sum(col("k")).over(w.rowsBetween(Long.MinValue, 0)).as("cum_k"))
      .orderBy(col("user_id"), col("rn"))
  }

  private val q21Sql =
    """SELECT user_id, event_id,
      |       row_number() OVER w AS rn,
      |       CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) OVER w AS BIGINT) AS cum_k
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, rn""".stripMargin

  /** ONE session-scoped scratch root, removed on JVM exit — repeated q22
    * invocations (bench reps, Verify) reuse a deterministic subdir in
    * Overwrite mode instead of leaking a fresh temp dir per run. */
  private lazy val scratchRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** K1 partitioned+clustered sink, then read back through partition
    * pruning: proves the physical layout round-trips. */
  private val q22: Q = (s, dir) => {
    val out = s"$scratchRoot/lineitem_part_${math.abs(dir.hashCode.toLong)}"
    graft.sources.Sinks.writePartitioned(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag")),
      out, partitionCols = Seq("l_returnflag"), sortCols = Seq("l_orderkey"),
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    Tables.read(s, out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  private val q22Sql =
    """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** §2.5 extension — hierarchical subtotals via ROLLUP grouping sets
    * (region → nation → grand total in ONE aggregation pass: Spark expands
    * grouping sets map-side, so the fact table is still read once). The
    * warehouse-report shape the reference serves from pre-built marts.
    * Measures are exact-decimal ([[graft.functions.Deterministic]]) so
    * every subtotal level hash-matches the oracle. */
  private val q26: Q = (s, dir) => {
    val customer = t(s, dir, "customer")
    val nation = t(s, dir, "nation")
    val region = t(s, dir, "region")
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        graft.functions.Deterministic.decSum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  private val q26Sql =
    """SELECT r_name, n_name, count(*) AS n_cust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** §2.5 extension — pivot (wide cross-tab): per-user event counts with
    * one column per event type. Spark compiles `pivot` with explicit
    * values into conditional map-side aggregates — one pass, one shuffle,
    * no per-value scans; the oracle states the same table as CASE
    * aggregates (pivot is syntax, not semantics). */
  private val q27: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy(col("user_id"))

  private val q27Sql =
    """SELECT user_id,
      |       count(*) FILTER (event_type = 'click') AS click,
      |       count(*) FILTER (event_type = 'error') AS error,
      |       count(*) FILTER (event_type = 'purchase') AS purchase,
      |       count(*) FILTER (event_type = 'signup') AS signup,
      |       count(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** §2.8 extension — lag/lead navigation: per-user inter-event gaps (the
    * session-gap / dwell-time primitive). One shuffle on the key; the gap
    * is exact integer µs so it hash-matches the oracle. */
  private val q28: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .as("gap_us"),
        lead(col("event_id"), 1).over(w).as("next_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val q28Sql =
    """SELECT user_id, event_id,
      |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
      |       lead(event_id, 1) OVER w AS next_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** §2.9 extension — INTERSECT / EXCEPT set semantics (beyond q15's
    * union-all): converting-user and error-free-buyer audiences as one
    * labeled table. Spark plans both as hash joins over distinct key sets
    * (LeftSemi / LeftAnti after aggregation) — no materialized key lists.
    */
  private val q29: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    def users(et: String) =
      ev.filter(col("event_type") === et).select(col("user_id")).distinct()
    users("click").intersect(users("purchase"))
      .withColumn("op", lit("click_and_purchase"))
      .unionByName(users("purchase").except(users("error"))
        .withColumn("op", lit("purchase_no_error")))
      .select(col("op"), col("user_id"))
      .orderBy(col("op"), col("user_id"))
  }

  private val q29Sql =
    """SELECT 'click_and_purchase' AS op, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT 'purchase_no_error' AS op, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
      |ORDER BY op, user_id""".stripMargin

  // ------------------------------------------------------------- registry

  // lazy: QueriesExt constructs Entry instances, which touches this object's
  // companion — a strict val here would deadlock object initialization.
  lazy val entries: Seq[Entry] = coreEntries ++ QueriesExt.entries

  private val coreEntries: Seq[Entry] = Seq(
    Entry("q01_scan_projection", q01, Some(q01Sql)),
    Entry("q02_agg_groupby", q02, Some(q02Sql)),
    Entry("q03_dedup_latest", q03, Some(q03Sql)),
    Entry("q04_incremental_watermark", q04, Some(q04Sql)),
    Entry("q05_semi_join", q05, Some(q05Sql)),
    Entry("q06_anti_join", q06, Some(q06Sql)),
    Entry("q07_join_broadcast_dims", q07, Some(q07Sql)),
    Entry("q08_join_multiway", q08, Some(q08Sql)),
    Entry("q09_self_join", q09, Some(q09Sql)),
    Entry("q10_weighted_avg", q10, Some(q10Sql)),
    Entry("q11_grade_scale", q11, Some(q11Sql)),
    Entry("q12_percentage_guard", q12, Some(q12Sql)),
    Entry("q13_timestamp_parse", q13, Some(q13Sql)),
    Entry("q14_coalesce_defaults", q14, Some(q14Sql)),
    Entry("q15_union_all", q15, Some(q15Sql)),
    Entry("q16_collect_sorted", q16, Some(q16Sql)),
    Entry("q17_max_by", q17, Some(q17Sql)),
    Entry("q18_json_extract", q18, Some(q18Sql)),
    Entry("q19_topk", q19, Some(q19Sql)),
    Entry("q20_distinct", q20, Some(q20Sql)),
    Entry("q21_window_running", q21, Some(q21Sql)),
    Entry("q22_sink_partitioned", q22, Some(q22Sql)),
    Entry("q26_rollup_subtotals", q26, Some(q26Sql)),
    Entry("q27_pivot_crosstab", q27, Some(q27Sql)),
    Entry("q28_window_lag", q28, Some(q28Sql)),
    Entry("q29_intersect_except", q29, Some(q29Sql))
  )

  def queries: Map[String, Q] = entries.map(e => e.name -> e.fn).toMap
  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap
}
