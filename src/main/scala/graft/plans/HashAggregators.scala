package graft.plans

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed aggregates for the hash-sketch operators.
  *
  * The naive formulations explode each (doc, token, count) row into
  * `bits`/`dims` rows before the per-document aggregate — a 60-1280x
  * multiplier on shuffle volume. These Aggregators keep the whole counter
  * array in the aggregation buffer instead: per-input work is identical,
  * but the shuffle carries ONE buffer per document per partition (classic
  * partial aggregation), which is the shape that survives 100TB.
  *
  * Semantics are bit-identical to the exploded versions (integer math only),
  * so the DuckDB oracles are unchanged.
  */
object HashAggregators {

  /** SimHash: IN = (tokenHash60, count); OUT = packed sign-bit fingerprint.
    * Buffer = per-bit signed counters. */
  final class SimhashAgg(bits: Int) extends Aggregator[(Long, Long), Array[Long], Long] {
    override def zero: Array[Long] = new Array[Long](bits)
    override def reduce(buf: Array[Long], in: (Long, Long)): Array[Long] = {
      val (h, count) = in
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) buf(b) += count else buf(b) -= count
        b += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < bits) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): Long = {
      var out = 0L
      var b = 0
      while (b < bits) {
        if (buf(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }
    override def bufferEncoder: Encoder[Array[Long]] = ExplicitEncoders.longArray
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** SRP: IN = (blockHashes, integerWeight); OUT = per-dim integer sums
    * (caller scales /1000 to double). Sign of dim d = bit (d%60) of block
    * hash d/60 — same layout as the exploded form. */
  final class SrpAgg(dims: Int) extends Aggregator[(Seq[Long], Long), Array[Long], Seq[Long]] {
    override def zero: Array[Long] = new Array[Long](dims)
    override def reduce(buf: Array[Long], in: (Seq[Long], Long)): Array[Long] = {
      val (hs, w) = in
      // the Seq arrives as a List (linear apply): copy it once per row,
      // then walk each block's 60 bits in order
      val blocks = hs.toArray
      var d = 0
      var blk = 0
      while (d < dims) {
        var h = blocks(blk)
        val end = math.min(d + 60, dims)
        while (d < end) {
          if ((h & 1L) == 1L) buf(d) += w else buf(d) -= w
          h >>>= 1
          d += 1
        }
        blk += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dims) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
    override def bufferEncoder: Encoder[Array[Long]] = ExplicitEncoders.longArray
    override def outputEncoder: Encoder[Seq[Long]] = ExplicitEncoders.longSeq
  }
}

/** Encoders for primitive-array buffers. The buffer round-trips through its
  * encoder on every input row (ComplexTypedAggregateExpression stores it in
  * the hash map as serialized bytes), so the native primitive-array
  * ExpressionEncoder (flat ArrayData copy) beats kryo by a wide margin. */
object ExplicitEncoders {
  val longArray: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  val doubleArray: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  implicit val longSeq: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
