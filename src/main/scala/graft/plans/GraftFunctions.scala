package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Fused Jaccard similarity over two `array<bigint>` hash sets as a native
  * Catalyst expression.
  *
  * `size(array_intersect(a,b)) / size(array_union(a,b))` allocates two
  * intermediate arrays per row and hashes both inputs twice; this expression
  * computes |A∩B| with one hash set and derives |A∪B| = |A|+|B|−|A∩B| —
  * no intermediate arrays, one pass per side. `doGenCode` emits a call to
  * the static kernel, so the whole-stage-codegen pipeline never falls back
  * to interpreted evaluation (the preference order: native Expression >
  * Scala UDF — SURVEY §4).
  *
  * Inputs are treated as SETS (duplicates collapse), matching
  * [[graft.functions.Text.jaccard]]; both-empty → 0.0 like size()/size()
  * division yielding null→filtered, here explicitly 0.
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.longArrays(prettyName, left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.JaccardSimilarity.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimilarity =
    copy(left = newLeft, right = newRight)
}

object JaccardSimilarity {
  /** Static kernel shared by interpreted eval and generated code.
    *
    * Primitive sort-merge (r14), not boxed HashSets: the verify stage of
    * every near-dup consumer calls this once per candidate pair, and the
    * previous java.util.HashSet[Long] form paid two set allocations plus
    * a Long box per element (~25 µs/pair measured on the q31 verify
    * stage). Copy both arrays to primitive scratch, sort (dual-pivot on
    * longs — ~1 µs at shingle-set sizes), then one merge pass counts
    * distinct-intersection and distinct-union directly. Same set
    * semantics: duplicates collapse, both-empty → 0.0. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val aa = new Array[Long](na)
    var i = 0
    while (i < na) { aa(i) = a.getLong(i); i += 1 }
    java.util.Arrays.sort(aa)
    val bb = new Array[Long](nb)
    var j = 0
    while (j < nb) { bb(j) = b.getLong(j); j += 1 }
    java.util.Arrays.sort(bb)
    var inter = 0
    var union = 0
    i = 0; j = 0
    while (i < na && j < nb) {
      val x = aa(i)
      val y = bb(j)
      union += 1
      if (x == y) {
        inter += 1
        do i += 1 while (i < na && aa(i) == x)
        do j += 1 while (j < nb && bb(j) == y)
      } else if (x < y) {
        do i += 1 while (i < na && aa(i) == x)
      } else {
        do j += 1 while (j < nb && bb(j) == y)
      }
    }
    while (i < na) { val x = aa(i); union += 1; do i += 1 while (i < na && aa(i) == x) }
    while (j < nb) { val y = bb(j); union += 1; do j += 1 while (j < nb && bb(j) == y) }
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** SQL surface for the engine's functions: register on an existing session
  * (tests, notebooks) or inject via `SparkSessionExtensions`
  * (`.withExtensions(new GraftExtensions)`) so `spark.sql` users — the
  * reference's Metabase-style consumers (SURVEY §3.3) — can call them
  * without touching the Scala API.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Coalesce, CreateNamedStruct, Divide, GreaterThan, GreaterThanOrEqual, Literal, Multiply}

  /** F6 grade scale as a raw Catalyst tree (mirrors Scalar.gradeInfo; the
    * registry builder needs Expressions, and Column→Expression round-trips
    * leave unresolved ColumnNode placeholders). */
  private def gradeExpr(pct: Expression): Expression = {
    def tier(g: String, gpa: Double, m: String) = CreateNamedStruct(Seq(
      Literal("grade"), Literal(g), Literal("gpa"), Literal(gpa),
      Literal("meaning"), Literal(m)))
    val tiers = Seq(
      (85.0, ("A", 4.0, "Excellent")), (80.0, ("B+", 3.5, "Very Good")),
      (70.0, ("B", 3.0, "Good")), (65.0, ("C+", 2.5, "Fairly Good")),
      (50.0, ("C", 2.0, "Fair")), (45.0, ("D", 1.5, "Poor")),
      (40.0, ("E", 1.0, "Very Poor")))
    CaseWhen(
      tiers.map { case (cut, (g, gpa, m)) =>
        (GreaterThanOrEqual(pct, Literal(cut)), tier(g, gpa, m))
      },
      Some(tier("F", 0.0, "Failure")))
  }

  /** F7 percentage guard as a raw Catalyst tree (mirrors Scalar.percentage). */
  private def percentageExpr(score: Expression, maxScore: Expression): Expression = {
    val mx = Coalesce(Seq(maxScore, Literal(100.0)))
    CaseWhen(
      Seq((GreaterThan(mx, Literal(0.0)),
        Multiply(Divide(score, mx), Literal(100.0)))),
      Some(Literal(0.0)))
  }

  /** PII scrub / count as raw Catalyst trees (mirror
    * [[graft.functions.Text.scrubPii]] / `piiMatchCount` — same pattern
    * table, same application order). */
  private def scrubPiiExpr(text: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    graft.functions.Text.PiiPatterns.foldLeft(text) { case (e, (pat, tag)) =>
      RegExpReplace(e, Literal(pat), Literal(tag))
    }
  }

  private def piiCountExpr(text: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, RegExpExtractAll, Size}
    graft.functions.Text.PiiPatterns
      .map { case (pat, _) =>
        Size(RegExpExtractAll(text, Literal(pat), Literal(0))): Expression
      }
      .reduce[Expression]((a, b) => Add(a, b))
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[JaccardSimilarity].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** Arity guard so misuse fails at analysis time with the function name,
    * not at execution with an index error from `children(1)`. Type checks
    * come from each expression's `checkInputDataTypes`. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.size != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${children.size}")
      build(children)
    }

  /** Constant-int argument (e.g. a lane count baked into codegen): only a
    * foldable integer literal is meaningful — anything else fails at
    * analysis time with the function name. */
  private def intLit(name: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name expects an integer literal for $arg, got ${other.sql}")
  }

  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_jaccard", "_FUNC_(a, b) - exact Jaccard similarity of two bigint-array sets",
      arity("graft_jaccard", 2)(c => JaccardSimilarity(c(0), c(1)))),
    ("graft_minhash", "_FUNC_(hashes, k) - k-lane MinHash signature of a bigint-array hash set",
      arity("graft_minhash", 2)(c =>
        MinhashSignatureExpr(c(0), intLit("graft_minhash", "k")(c(1))))),
    ("graft_simhash", "_FUNC_(token_hashes) - 32-bit SimHash sketch of a bigint token-hash array",
      arity("graft_simhash", 1)(c => Simhash32Expr(c.head))),
    ("graft_grade", "_FUNC_(pct) - reference grade scale: struct(grade, gpa, meaning)",
      arity("graft_grade", 1)(c => gradeExpr(c.head))),
    ("graft_percentage", "_FUNC_(score, maxScore) - percentage with the maxScore guard",
      arity("graft_percentage", 2)(c => percentageExpr(c(0), c(1)))),
    ("graft_scrub_pii", "_FUNC_(text) - emails/phones/IPv4 replaced with typed tags",
      arity("graft_scrub_pii", 1)(c => scrubPiiExpr(c.head))),
    ("graft_pii_count", "_FUNC_(text) - number of PII matches (pre-scrub)",
      arity("graft_pii_count", 1)(c => piiCountExpr(c.head)))
  )

  /** Register each function the session's registry does not already hold
    * (by name), so repeated [[graft.core.Sessions.tune]] calls are free. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, usage, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, info(name, usage), builder)
    }
  }

  def inject(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` wiring point:
  * SQL functions + the [[FuseJaccard]] optimizer rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    ext.injectOptimizerRule(_ => FuseJaccard)
  }
}
