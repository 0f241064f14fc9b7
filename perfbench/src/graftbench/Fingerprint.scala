package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Order-independent fingerprint of a query result: the row count and
  * the sum (mod 2^64) of each row's hash. A row hashes as the first 8
  * bytes (big-endian) of the MD5 of its canonical text: its values in
  * column-name order, joined by U+0001. `pin_fingerprints.py` renders
  * the DuckDB oracle's rows by the same rules, so a pinned fingerprint
  * and one taken here agree exactly when the two results are equal as
  * multisets. */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  def hex: String = f"$hash%016x"
  override def toString: String = s"$rows rows, hash $hex"
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, 0L)

  /** Runs `df` as one Dataset action that touches every column of every
    * row on the executors and returns only per-partition sums. */
  def of(df: DataFrame): Fingerprint = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    df.mapPartitions { rows =>
      val md = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += rowHash(md, sb, r, order) }
      Iterator((n, h))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
      .foldLeft(Empty) { case (acc, (n, h)) => acc + Fingerprint(n, h) }
  }

  private def rowHash(md: MessageDigest, sb: java.lang.StringBuilder, r: Row,
                      order: Array[Int]): Long = {
    sb.setLength(0)
    var i = 0
    while (i < order.length) {
      if (i > 0) sb.append('\u0001')
      render(sb, r.get(order(i)))
      i += 1
    }
    val d = md.digest(sb.toString.getBytes(UTF_8))
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h
  }

  /** Canonical text of one value. Doubles render as the hex of their
    * IEEE bits (-0.0 folded into 0.0), so no decimal formatting rule has
    * to match between the JVM and Python. */
  private def render(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("\\N")
    case d: Double => sb.append(doubleHex(d))
    case f: Float => sb.append(doubleHex(f.toDouble))
    case l: Long => sb.append(l)
    case i: Int => sb.append(i)
    case s: Short => sb.append(s.toInt)
    case b: Byte => sb.append(b.toInt)
    case b: Boolean => sb.append(if (b) "true" else "false")
    case s: String => sb.append(s)
    case d: java.math.BigDecimal =>
      sb.append(if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (e, j) =>
        if (j > 0) sb.append(','); render(sb, e) }
      sb.append(']')
    case other =>
      throw new IllegalArgumentException(
        s"no canonical form for ${other.getClass.getName}")
  }

  private def doubleHex(d: Double): String = {
    val x = if (d == 0.0) 0.0 else d
    f"${java.lang.Double.doubleToLongBits(x)}%016x"
  }
}
