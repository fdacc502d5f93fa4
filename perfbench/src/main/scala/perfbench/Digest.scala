package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: row count, the sum of a 32-bit
  * row hash, and the schema (names and types, sorted by name). Computing
  * it is the action that forces an operation's result, in one job.
  *
  * Values are normalised so that the digest repeats exactly between
  * runs: doubles and floats to 9 significant digits (aggregation order
  * moves their last bits), arrays and maps sorted. A digest therefore
  * checks values, not the order of elements inside an array.
  */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
    case ArrayType(et, _) => array_sort(transform(c, x => norm(x, et)))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case StructType(fs) =>
      if (fs.isEmpty) lit(0)
      else struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: NumericType | StringType | BooleanType | DateType | TimestampType |
        TimestampNTZType | BinaryType => c
    case _ => c.cast(StringType)
  }

  def of(df: DataFrame): String = {
    // positional names: results may carry duplicate or dotted names
    val fields = df.schema.fields.toSeq
    val plain = df.toDF(fields.indices.map(i => s"_c$i"): _*)
    val order = fields.indices.sortBy(i => (fields(i).name, i))
    val cols = order.map(i => norm(col(s"_c$i"), fields(i).dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = plain.select(h.bitwiseAND(lit(0xFFFFFFFFL)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    val schema = order.map(i => s"${fields(i).name}:${fields(i).dataType.simpleString}")
      .mkString(",")
    f"rows=${r.getLong(0)};h=${r.getLong(1)}%x;schema=${schema.hashCode & 0x7fffffff}%08x"
  }
}
