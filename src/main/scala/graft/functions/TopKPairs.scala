package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Aggregator

/** Bounded exact top-k selection as an AGGREGATE — the replacement for
  * the `row_number() OVER (PARTITION BY g ORDER BY key, id) <= k`
  * pattern on frames too large to sort: Spark's WindowGroupLimit bounds
  * the SHUFFLE of that pattern but still requires a full local sort of
  * every input partition by (g, key, id). This aggregator keeps a
  * ≤ k-entry sorted buffer per group instead — map-side partial
  * aggregation, no sort of the input, nothing input-sized shuffles —
  * the guide's "aggregate before you shuffle / bounded work per key"
  * shape for the quadratic candidate-pair frames (kNN, LID).
  *
  * Selection = the k smallest (key, id) under (key asc|desc, id asc),
  * ties on key broken by id exactly like the window's ORDER BY, and
  * the output array is emitted in that order (rank i = element i+1).
  * Keys compare under Spark's SQL double ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN is greatest and equals NaN,
  * -0.0 equals 0.0), so NaN keys (the 0/0 cosine of an all-zero
  * vector) rank exactly where the window's ORDER BY puts them.
  */
class TopKPairs(k: Int, descKey: Boolean)
    extends Aggregator[(Double, Long), (Array[Double], Array[Long]), Seq[(Double, Long)]] {

  private def lt(k1: Double, i1: Long, k2: Double, i2: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(k1, k2)
    if (c != 0) { if (descKey) c > 0 else c < 0 } else i1 < i2
  }

  override def zero: (Array[Double], Array[Long]) =
    (Array.empty[Double], Array.empty[Long])

  private def insert(
      buf: (Array[Double], Array[Long]), kv: Double, id: Long): (Array[Double], Array[Long]) = {
    val (ks, ids) = buf
    val n = ks.length
    if (n == k && !lt(kv, id, ks(n - 1), ids(n - 1))) buf
    else {
      var p = 0
      while (p < n && lt(ks(p), ids(p), kv, id)) p += 1
      val m = math.min(n + 1, k)
      val nk = new Array[Double](m)
      val ni = new Array[Long](m)
      System.arraycopy(ks, 0, nk, 0, p)
      System.arraycopy(ids, 0, ni, 0, p)
      nk(p) = kv
      ni(p) = id
      val rest = m - p - 1
      if (rest > 0) {
        System.arraycopy(ks, p, nk, p + 1, rest)
        System.arraycopy(ids, p, ni, p + 1, rest)
      }
      (nk, ni)
    }
  }

  override def reduce(
      buf: (Array[Double], Array[Long]), in: (Double, Long)): (Array[Double], Array[Long]) =
    insert(buf, in._1, in._2)

  override def merge(
      a: (Array[Double], Array[Long]), b: (Array[Double], Array[Long])): (Array[Double], Array[Long]) = {
    var r = a
    var i = 0
    while (i < b._1.length) { r = insert(r, b._1(i), b._2(i)); i += 1 }
    r
  }

  override def finish(buf: (Array[Double], Array[Long])): Seq[(Double, Long)] =
    buf._1.toSeq.zip(buf._2.toSeq)

  override def bufferEncoder: Encoder[(Array[Double], Array[Long])] =
    ExpressionEncoder[(Array[Double], Array[Long])]()

  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
}
