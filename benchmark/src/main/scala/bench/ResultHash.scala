package bench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive hash of a query result, reproducible outside Spark
  * (`oracle_check.py` computes the same value from DuckDB's rows).
  *
  * Each row renders as `name=value` pairs over the columns sorted by name;
  * numbers render as their exact value rounded half-even to 9 decimals with
  * trailing zeros stripped, so an integral double and a long agree, as do a
  * DECIMAL and a DOUBLE holding the same value to 9 places. The result hash
  * is the wrapping 64-bit sum of the first 8 bytes of each row's MD5, plus
  * the row count: row order does not matter, duplicate rows do. */
object ResultHash {

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: JBigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => value(r.get(i)))
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass}")
  }

  private def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else decimal(new JBigDecimal(d))

  private def decimal(d: JBigDecimal): String = {
    val r = d.setScale(9, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  def row(names: Seq[String], r: Row): String =
    names.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + value(r.get(i)) }
      .mkString("\u0001")

  /** `<16 hex digits of the row-hash sum>:<row count>`. */
  def of(names: Seq[String], rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(row(names, r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"$sum%016x:${rows.length}"
  }
}
