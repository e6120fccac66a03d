package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a DataFrame's full output: the row
  * count and the sum of a 64-bit hash of every row.
  *
  * Running it is the benchmark's action: the hash reads every output
  * column, so Catalyst cannot prune any of them the way it can under
  * `count()`. The sum is exact and cannot overflow: each hash is cast
  * to decimal(20,0), and Spark sums those as decimal(30,0), far above
  * any row count times 2^64. A plain sum of longs would throw under
  * Spark 4's ANSI mode.
  */
object Digest {
  final case class Value(rows: Long, hash: String)

  // xxhash64 refuses map columns; their JSON form is hashed instead.
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Value = {
    // Positional names: output columns may repeat a name or contain dots.
    val fields = df.schema.fields.toSeq
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      if (hasMap(f.dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    Value(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
