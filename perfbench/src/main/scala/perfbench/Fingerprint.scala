package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result: the row count and
  * the wrapping sum of one 64-bit hash per row. Doubles are hashed at
  * 12 significant digits so that a different summation order across
  * partitions (core count, scheduling) does not change the
  * fingerprint, while any real change of a value does. */
final case class Fingerprint(rows: Long, sum: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, sum + o.sum)
  override def toString: String = f"$rows:$sum%016x"
}

object Fingerprint {
  val Empty = Fingerprint(0L, 0L)

  private def valueHash(v: Any): Int = v match {
    case null => 0x5bd1e995
    case d: Double => doubleHash(d)
    case f: Float => doubleHash(f.toDouble)
    case b: java.math.BigDecimal =>
      MurmurHash3.stringHash(b.stripTrailingZeros.toPlainString)
    case b: BigDecimal => valueHash(b.bigDecimal)
    case r: Row => rowHash(r)
    case m: scala.collection.Map[_, _] =>
      MurmurHash3.unorderedHash(m.iterator.map { case (k, x) =>
        MurmurHash3.mix(valueHash(k), valueHash(x))
      })
    case s: scala.collection.Seq[_] => MurmurHash3.orderedHash(s.iterator.map(valueHash))
    case a: Array[Byte] => java.util.Arrays.hashCode(a)
    case a: Array[_] => MurmurHash3.orderedHash(a.iterator.map(valueHash))
    case other => MurmurHash3.stringHash(other.toString)
  }

  private def doubleHash(d: Double): Int =
    if (d.isNaN || d.isInfinite || d == 0.0) MurmurHash3.stringHash(d.abs.toString)
    else MurmurHash3.stringHash(
      new java.math.BigDecimal(d).round(new java.math.MathContext(12))
        .stripTrailingZeros.toString)

  private def rowHash(r: Row): Int =
    MurmurHash3.orderedHash((0 until r.length).iterator.map(i => valueHash(r.get(i))))

  /** splitmix64 finalizer: spreads a 32-bit row hash over 64 bits so the
    * wrapping sum does not cancel structured values. */
  private def spread(h: Int): Long = {
    var z = h.toLong * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def ofRows(rows: Iterator[Row]): Fingerprint =
    rows.foldLeft(Empty)((acc, r) => Fingerprint(acc.rows + 1, acc.sum + spread(rowHash(r))))

  /** Consumes every output row of `df` on the executors — full tuples,
    * like `queryExecution.toRdd.count()` — and returns the fingerprint
    * of the result. */
  def consume(df: DataFrame): Fingerprint = {
    val schema: StructType = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      Iterator.single(ofRows(it.map(r => toRow(r).asInstanceOf[Row])))
    }.collect().foldLeft(Empty)(_ + _)
  }
}
