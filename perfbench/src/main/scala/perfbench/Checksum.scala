package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive checksum over every column of a result.
  *
  * Each row hashes to 64 bits (xxhash64 over all columns, positional,
  * so duplicate or awkward column names cannot collide); the rows
  * combine by count, exact decimal sum and XOR — all commutative, so
  * partitioning and row order never change the value, while any
  * change to a single row changes the sum.
  */
object Checksum {

  /** Map-typed values are not hashable in Spark; they hash through
    * their string form instead.
    */
  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(result: DataFrame): String = {
    val df = result.toDF(result.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) col(f.name).cast("string") else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$total:$xor%016x"
  }
}
