package kgbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a query result: row count, a wrapping
  * sum of 64-bit per-row hashes, and the schema string.
  *
  * Each row hashes its canonical text. Doubles are rounded to 12
  * significant digits so that the last-bit noise of a different partition
  * count (aggregation order) cannot flip a fingerprint; map entries are
  * sorted by key; timestamps hash their epoch value, not their rendering in
  * the JVM's zone. Computing the fingerprint runs the query's whole
  * physical plan once, as a `noop` write does, and folds each output row. */
final case class Fingerprint(rows: Long, hash: Long, schema: String) {
  def hex: String = f"$hash%016x"
  def sameAs(o: Fingerprint): Boolean =
    rows == o.rows && hash == o.hash && schema == o.schema
  override def toString: String = s"rows=$rows hash=$hex"
}

object OutputHash {

  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema.simpleString
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator.single((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum, schema)
  }

  def rowHash(r: Row): Long = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      if (i > 0) sb.append('\u0001')
      sb.append(canon(r.get(i)))
      i += 1
    }
    hash64(sb.toString)
  }

  private def hash64(s: String): Long = {
    val a = MurmurHash3.stringHash(s, 0x5bd1e995)
    val b = MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => s"ts:${t.getTime}:${t.getNanos}"
    case t: java.time.Instant => s"ts:${t.getEpochSecond}:${t.getNano}"
    case bytes: Array[Byte] =>
      "b:" + MurmurHash3.bytesHash(bytes).toString + ":" + bytes.length
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => canon(k) + "=" + canon(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.iterator.map(canon).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString
}
