package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a result: its schema, its row count,
  * and the sum (mod 2^64) of a 64-bit hash of each row's canonical text.
  * Floating-point values are rounded to 31 mantissa bits (about nine
  * significant digits), so the last-bit differences that parallel float
  * sums produce between runs do not change the fingerprint; every other
  * value is rendered exactly. The rows are hashed where they are
  * computed, in parallel; the sum does not depend on their order.
  */
object Fingerprint {

  final case class Result(rows: Long, fp: String)

  def of(df: DataFrame): Result = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val parts = df.rdd.mapPartitions { it =>
      var sum, rows = 0L
      it.foreach { r =>
        val b = new java.lang.StringBuilder
        render(r, b)
        sum += hash64(b.toString)
        rows += 1
      }
      Iterator((sum, rows))
    }.collect()
    Result(parts.map(_._2).sum, f"${hash64(schema) + parts.map(_._1).sum}%016x")
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) | (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)

  private val Drop = 52 - 31

  private def num(d: Double, b: java.lang.StringBuilder): Unit =
    if (d.isNaN || d.isInfinite || d == 0.0) b.append(if (d == 0.0) 0.0 else d)
    else {
      val bits = java.lang.Double.doubleToRawLongBits(d)
      b.append(java.lang.Long.toHexString((bits + (1L << (Drop - 1))) >>> Drop))
    }

  private def render(v: Any, b: java.lang.StringBuilder): Unit = v match {
    case null => b.append('~')
    case d: Double => num(d, b)
    case f: Float => num(f.toDouble, b)
    case d: java.math.BigDecimal => b.append(d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal => b.append(d.bigDecimal.stripTrailingZeros.toPlainString)
    case bytes: Array[Byte] => bytes.foreach(x => b.append(f"$x%02x"))
    case r: Row =>
      b.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) b.append('|'); render(r.get(i), b); i += 1 }
      b.append(')')
    case m: scala.collection.Map[_, _] =>
      b.append(m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; render(k, e); e.append("->"); render(x, e); e.toString
      }.sorted.mkString("{", ",", "}"))
    case s: scala.collection.Seq[_] =>
      b.append('[')
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) b.append(','); render(x, b) }
      b.append(']')
    case other => b.append(other.toString)
  }
}
