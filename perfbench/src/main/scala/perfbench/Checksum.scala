package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digests: the row count plus the sum of a
  * 64-bit hash of every row, so two frames with the same multiset of rows
  * digest the same whatever their partitioning or order.
  */
object Checksum {
  final case class Digest(rows: Long, hash: String) {
    override def toString: String = s"$rows $hash"
  }

  /** Exact digest: a clone must reproduce every value bit for bit. */
  def exact(df: DataFrame): Digest = digest(df, df.columns.map(c => col(s"`$c`")).toSeq)

  /** Digest of a query result. Floating-point values are compared at seven
    * significant digits, because aggregates sum them in an order that
    * varies from run to run; maps are compared as sorted entry lists.
    */
  def result(df: DataFrame): Digest =
    digest(df, df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toSeq)

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def digest(df: DataFrame, cols: Seq[Column]): Digest = {
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast(DecimalType(38, 0))))
      .head()
    Digest(r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
