package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Row-order-independent fingerprint of a query result.
  *
  * Each row is rendered canonically (doubles and floats to 9 significant
  * digits so partition-order summation noise does not show, -0.0 as 0,
  * nested arrays, maps and structs recursively) and hashed to 64 bits;
  * the fingerprint is the schema plus the row count and the wrapping sum
  * and xor of the row hashes. Sum and xor are both commutative, so any
  * row order gives the same value, while a changed, missing or duplicated
  * row changes it.
  */
object Fingerprint {

  def of(df: DataFrame): String = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val (n, sum, xor) = df.rdd.map(r => rowHash(r))
      .aggregate((0L, 0L, 0L))(
        (a, h) => (a._1 + 1, a._2 + h, a._3 ^ h),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 ^ b._3))
    f"${hash64(schema)}%016x:$n:$sum%016x:$xor%016x"
  }

  def rowHash(r: Row): Long = hash64(canon(r))

  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  private def hash64(s: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md).getLong
  }
}
