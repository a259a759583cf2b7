package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (SURVEY §2.9): vector centroid as an
  * `Aggregator[IN, BUF, OUT]` — partial aggregation happens map-side
  * (reduce), so the shuffle carries one (sums, count) buffer per group per
  * partition instead of every vector: the same partial-agg shape Spark's
  * built-in aggregates get, available to custom vector math.
  */
object VectorAggregates {

  final case class CentroidBuf(sums: Array[Double], n: Long)

  /** Mean vector of a group of float embeddings (dimension fixed). */
  final class CentroidAggregator(dim: Int)
      extends Aggregator[Seq[Float], CentroidBuf, Seq[Double]] {

    override def zero: CentroidBuf = CentroidBuf(new Array[Double](dim), 0L)

    override def reduce(b: CentroidBuf, v: Seq[Float]): CentroidBuf = {
      var i = 0
      while (i < dim && i < v.length) { b.sums(i) += v(i); i += 1 }
      CentroidBuf(b.sums, b.n + 1)
    }

    override def merge(a: CentroidBuf, b: CentroidBuf): CentroidBuf = {
      var i = 0
      while (i < dim) { a.sums(i) += b.sums(i); i += 1 }
      CentroidBuf(a.sums, a.n + b.n)
    }

    override def finish(b: CentroidBuf): Seq[Double] =
      if (b.n == 0) Seq.fill(dim)(0.0) else b.sums.map(_ / b.n).toSeq

    override def bufferEncoder: Encoder[CentroidBuf] = Encoders.product[CentroidBuf]
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }
}

/** Element-wise Long-array sum (dimension fixed) — the exact-integer
  * centroid numerator behind [[graft.ops.Quantized]]: partials combine
  * map-side and integer addition is order-free, so the result is
  * bit-stable under any partitioning (the property the double-precision
  * CentroidAggregator only gets after rounding). */
final class LongVectorSumAggregator(dim: Int)
    extends Aggregator[Seq[Long], Array[Long], Seq[Long]] with Serializable {

  override def zero: Array[Long] = new Array[Long](dim)

  override def reduce(b: Array[Long], v: Seq[Long]): Array[Long] = {
    require(v.length == dim, s"vector has ${v.length} dimensions, " +
      s"expected $dim (the centroid dimension)")
    var i = 0
    while (i < dim) { b(i) += v(i); i += 1 }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dim) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(b: Array[Long]): Seq[Long] = b.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
