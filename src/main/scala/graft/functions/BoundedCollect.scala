package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded distinct-collect for pair generation (long ids), the one
  * aggregation of `Blocking.pairsFromBlocks`: the buffer keeps at most
  * `cap + 1` distinct members — a block that reaches `cap + 1` is already
  * known oversize (the downstream filter drops it), so no state ever holds
  * more than `cap + 1` longs even for a hot key with millions of members
  * (stopword shingles / dense LSH bands).
  *
  * The buffer is a sorted distinct primitive `Array[Long]`: reduce =
  * binary-search + copy-insert (saturates at cap + 1, then
  * short-circuits), merge = bounded sorted merge. Primitive arrays matter
  * here: this aggregate runs once per (block_key) group — tens of millions
  * of groups per pipeline run with barely any map-side combining (a
  * block's members are scattered across doc-ordered input partitions), so
  * the partial-buffer encoder runs per input row, and `Array[Long]`
  * serializes via the primitive-array fast path (no per-element boxing).
  * Output order is ascending — callers that enumerate pairs need sorted
  * members (canonical conv_a < conv_b).
  */
class BoundedCollectSet(capPlusOne: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {

  private val Empty = Array.emptyLongArray

  override def zero: Array[Long] = Empty

  override def reduce(b: Array[Long], a: Long): Array[Long] = {
    if (b.length >= capPlusOne) return b // saturated: block already oversize
    val i = java.util.Arrays.binarySearch(b, a)
    if (i >= 0) return b
    val at = -i - 1
    val out = new Array[Long](b.length + 1)
    System.arraycopy(b, 0, out, 0, at)
    out(at) = a
    System.arraycopy(b, at, out, at + 1, b.length - at)
    out
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    if (x.isEmpty) return y
    if (y.isEmpty) return x
    val out = new Array[Long](math.min(capPlusOne, x.length + y.length))
    var n = 0
    var i = 0
    var j = 0
    while (n < capPlusOne && (i < x.length || j < y.length)) {
      val v =
        if (j >= y.length) { val v = x(i); i += 1; v }
        else if (i >= x.length) { val v = y(j); j += 1; v }
        else if (x(i) < y(j)) { val v = x(i); i += 1; v }
        else if (x(i) > y(j)) { val v = y(j); j += 1; v }
        else { val v = x(i); i += 1; j += 1; v }
      out(n) = v
      n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  override def finish(r: Array[Long]): Array[Long] = r

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object BoundedCollectSet {
  /** bounded_collect_set(id) → array<bigint> of ≤ capPlusOne distinct ids,
    * ascending; exactly capPlusOne entries ⇒ the group exceeded the cap.
    */
  def bounded(capPlusOne: Int, id: Column): Column =
    udaf(new BoundedCollectSet(capPlusOne)).apply(id)
}
