package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: its row count plus the
  * sum of one 64-bit hash per row, split into low and high 32-bit halves so
  * the sums cannot overflow. Each row hash covers the result's column names
  * and types and every cell in a canonical form for its type, with columns
  * taken in name order. Floating-point cells are rounded to ten significant
  * digits, so a change in summation order does not read as a wrong
  * result. Computed in one Spark job, so the result is never collected.
  */
object Fingerprint {
  def of(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields
    // positional names: results may repeat a column name
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val order = fields.indices.sortBy(i => (fields(i).name, i))
    val tag = order
      .map(i => fields(i).name + ":" + fields(i).dataType.simpleString)
      .mkString(",")
    val cells = order.map(i => canon(col(s"c$i"), fields(i).dataType))
    val h = xxhash64(lit(tag) +: cells: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$hi%x.$lo%x")
  }

  private def canon(c: Column, t: DataType): Column = {
    val s = t match {
      case FloatType | DoubleType =>
        // + 0.0 turns -0.0 into 0.0
        format_string("%.9e", c.cast(DoubleType) + lit(0.0))
      case TimestampType => unix_micros(c).cast(StringType)
      case BinaryType => hex(c)
      case _: ArrayType | _: MapType | _: StructType => to_json(c)
      case _ => c.cast(StringType)
    }
    coalesce(s, lit("\u0000null"))
  }
}
