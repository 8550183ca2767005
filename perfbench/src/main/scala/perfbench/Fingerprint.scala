package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, MapType}

/** Row count plus an order-independent hash over every column of a result:
  * the exact sum of per-row xxhash64 values, so neither row order nor
  * partitioning changes it, and no column can be pruned away by the
  * optimizer. */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  def parse(s: String): Fingerprint = {
    val i = s.indexOf(':')
    Fingerprint(s.substring(0, i).toLong, s.substring(i + 1))
  }

  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map(f =>
      canon(col(s"`${f.name.replace("`", "``")}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).fold("0")(_.toBigInteger.toString))
  }

  // xxhash64 refuses maps, and a map's entry order is not part of its value
  private def canon(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}
