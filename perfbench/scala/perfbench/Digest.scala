package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query's full result: the row count and
  * the wrapping sum of a 64-bit hash per row. Computing it deserializes
  * every column of every row, so it doubles as the full-evaluation sink
  * the timed operations run through: unlike `count()`, it leaves Catalyst
  * nothing to prune. Doubles are rounded to 9 significant digits, so a
  * reassociated floating-point sum does not read as a wrong answer.
  */
object Digest {

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)
  }

  /** Evaluate `df` in full and return its digest, `rows:hash`. */
  def of(df: DataFrame): String = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("perfbench.digest.rows")
    val sum = sc.longAccumulator("perfbench.digest.sum")
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += rowHash(r) }
      rows.add(n)
      sum.add(s)
    }
    f"${rows.value}:${sum.value}%016x"
  }
}
