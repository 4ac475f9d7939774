package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result fingerprint: the row count plus the sum of a 64-bit hash of each
  * canonicalised row. A sum does not depend on row order or partitioning,
  * and any changed, missing or extra row moves it.
  *
  * Canonical form: columns in name order; floating-point values rounded to
  * six decimals (so a last-bit difference in a summation order cannot
  * flip the fingerprint); nested values as JSON; nulls as a marker no
  * rendered value can equal. */
object Fingerprint {

  private val NullMark = "\u0000"

  private def canon(c: Column, t: DataType): Column = (t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6).cast(StringType)
    case _: ArrayType | _: StructType | _: MapType => to_json(c)
    case BinaryType => hex(c)
    case _ => c.cast(StringType)
  }).as("c")

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val positional = df.toDF(df.columns.indices.map(i => s"_fp$i"): _*)
    val parts = fields.map { case (f, i) =>
      coalesce(canon(col(s"_fp$i"), f.dataType), lit(NullMark))
    }
    val row = xxhash64(concat_ws("\u0001", parts.toSeq: _*))
    val r = positional.select(row.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}
