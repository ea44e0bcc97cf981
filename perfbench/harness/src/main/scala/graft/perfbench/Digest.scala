package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Doubles are
  * rounded to 9 significant digits and floats to 6, so results that differ
  * only in summation order (another core count) still match. Values inside
  * an array keep their order. */
object Digest {

  def of(rows: Array[Row]): (Long, String) = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(canonical(r)))
    (rows.length.toLong, f"$sum%016x")
  }

  private def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d, 9)
    case f: Float => double(f.toDouble, 6)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case a: Array[_] => a.map(canonical).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    // `Timestamp.toString` renders in the JVM's default zone: render the
    // instant in UTC instead, in the same text. Spark builds a `Date` at
    // local midnight of its day, so its own text is zone-free already.
    case t: java.sql.Timestamp => utc(t.toInstant)
    case other => other.toString
  }

  /** `yyyy-mm-dd hh:mm:ss.f…` of the instant in UTC, nanos without trailing
    * zeros: `Timestamp.toString` on a UTC JVM. */
  private def utc(i: java.time.Instant): String = {
    val t = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    val frac = if (t.getNano == 0) "0" else f"${t.getNano}%09d".reverse.dropWhile(_ == '0').reverse
    f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.$frac"
  }

  private def double(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, s"%.${digits - 1}e", Double.box(d))
}
