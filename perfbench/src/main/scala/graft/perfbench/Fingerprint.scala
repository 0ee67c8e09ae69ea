package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent result fingerprint: the row count plus the wrapped
  * (mod 2^64) sum of each row's `xxhash64` over all output columns.
  *
  * Reordering rows leaves it unchanged; changing any value changes the
  * row's hash and so, with overwhelming probability, the sum. The sum is
  * taken as two exact 32-bit halves so that Spark's overflow-checked
  * `sum` never sees a wrapping add; the halves are recombined on the
  * driver with Long arithmetic, which wraps by definition. Map columns
  * (unhashable by `xxhash64`) are hashed as their sorted entry arrays. */
object Fingerprint {

  final case class Value(rows: Long, hashSum: Long) {
    override def toString: String = f"$rows:$hashSum%016x"
  }

  def parse(s: String): Value = {
    val Array(r, h) = s.split(":")
    Value(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  private def hashable(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _ => col(s"`${f.name}`")
      }
    }

  def of(df: DataFrame): Value = {
    val cols = hashable(df)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Value(row.getLong(0), (row.getLong(2) << 32) + row.getLong(1))
  }
}
