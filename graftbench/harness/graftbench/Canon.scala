package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Engine-neutral result digest. `canon.py` implements the same encoding
  * for DuckDB oracle results and for the kv generator's model, so a digest
  * computed here is comparable with one computed there.
  *
  * Columns are ordered by lower-cased name; each value is type-tagged
  * (`i:` integral, `f:` IEEE bits of the double, `d:` plain decimal, `s:`
  * escaped string, `t:` epoch microseconds, `D:` epoch days, `a:` array,
  * `~` null); rows are sorted by their UTF-8 bytes, so the digest is a
  * multiset digest that ignores row order. */
object Canon {
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace("\u001f", "\\x1f")

  def value(v: Any): String = v match {
    case null => "~"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: java.math.BigInteger => "i:" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => "d:" + x.stripTrailingZeros().toPlainString
    case x: scala.math.BigDecimal => value(x.bigDecimal)
    case x: String => "s:" + esc(x)
    case x: java.sql.Timestamp => "t:" + micros(x.toInstant)
    case x: java.time.Instant => "t:" + micros(x)
    case x: java.time.LocalDateTime =>
      "t:" + micros(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "D:" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "D:" + x.toEpochDay
    case x: Array[Byte] => "x:" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: scala.collection.Seq[_] => x.map(value).mkString("a:[", ",", "]")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => value(k) + "=" + value(w) }.sorted
        .mkString("m:{", ",", "}")
    case x: Row => x.toSeq.map(value).mkString("r:(", ",", ")")
    case x => "?:" + esc(x.toString)
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "f:nan"
    else if (d == 0.0) "f:0"
    else "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  /** `<row count>:<sha256 hex>` of the rows under the given column names. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.map(_.toLowerCase).zipWithIndex.sortBy(_._1).map(_._2)
    val encoded = rows.map { r =>
      order.map(i => value(r.get(i))).mkString("\u001f").getBytes(UTF_8)
    }
    java.util.Arrays.sort(encoded, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    encoded.zipWithIndex.foreach { case (b, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(b)
    }
    s"${rows.length}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
