package icebench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-insensitive fingerprint of a query result: the row count and the
  * wrapping sum of one 64-bit hash per row. Doubles, floats and decimals are
  * rounded to 6 decimal places before hashing; the elements of arrays and
  * maps are sorted, since collect_list/collect_set order is not part of a
  * result's meaning.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def render: String = s"$rows:${java.lang.Long.toHexString(hash)}"
}

object Fingerprint {
  def parse(s: String): Fingerprint = {
    val Array(r, h) = s.split(":")
    Fingerprint(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Executes `df`'s already-planned physical plan, hashing every row on
    * the executors.
    */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        n += 1
        h += rowHash(toRow(r).asInstanceOf[Row])
      }
      Iterator.single((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1CE)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0xB3C)
    (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)
  }

  private def num(d: BigDecimal): String = {
    val r = d.setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.bigDecimal.stripTrailingZeros.toPlainString
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString else num(BigDecimal(d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString else num(BigDecimal(f.toDouble))
    case d: java.math.BigDecimal => num(BigDecimal(d))
    case d: BigDecimal => num(d)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case other => other.toString
  }
}
