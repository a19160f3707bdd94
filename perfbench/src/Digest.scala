package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-free digest of a query result, computed identically by
  * `oracle.py` over DuckDB's answer.
  *
  * Columns are sorted by name (as the oracle rehearsal does). Each row
  * becomes a canonical string: integers as `i:<n>`, every non-integer
  * number (float, double, decimal) as `f:<IEEE-754 bits of the double>`,
  * strings `s:<text>`, booleans `b:0/1`, dates ISO `d:`, nulls `n`,
  * arrays `[...]`, structs `{...}`, maps sorted by key. The digest is the
  * row count plus the sum mod 2^64 of the first 8 bytes of each row's
  * SHA-256, so it does not depend on row order. */
object Digest {
  private def num(d: Double): String = {
    val v = if (d == 0.0) 0.0 else d
    "f:" + java.lang.Double.doubleToLongBits(v).toString
  }

  def canon(v: Any): String = v match {
    case null => "n"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => "s:" + s
    case d: java.sql.Date => "d:" + d.toLocalDate.toString
    case d: java.time.LocalDate => "d:" + d.toString
    case t: java.sql.Timestamp => "t:" + t.toInstant.toString
    case t: java.time.Instant => "t:" + t.toString
    case t: java.time.LocalDateTime => "t:" + t.toString
    case a: Array[Byte] => "x:" + a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => "o:" + other.toString
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("|")
      val h = md.digest(line.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    s"${rows.length}:${java.lang.Long.toUnsignedString(acc)}"
  }
}
