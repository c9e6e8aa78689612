package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF (SURVEY.md §2.B UDAF row): element-wise centroid of embedding
  * vectors via `Aggregator[IN, BUF, OUT]`. The buffer is (sum-vector, count);
  * merge is associative/commutative so Catalyst runs it as partial + final
  * aggregation (map-side combine — the property that makes it scale).
  */
object VectorCentroid extends Aggregator[Array[Float], (Array[Double], Long), Seq[Double]] {

  override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)

  private def grow(a: Array[Double], n: Int): Array[Double] =
    if (a.length >= n) a else java.util.Arrays.copyOf(a, n)

  override def reduce(b: (Array[Double], Long), v: Array[Float]): (Array[Double], Long) = {
    if (v == null) return b
    // grow to the widest vector seen (ragged inputs: missing tail = 0)
    val acc = grow(b._1, v.length)
    var i = 0
    while (i < v.length) { acc(i) += v(i); i += 1 }
    (acc, b._2 + 1)
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    // counts always combine, even when one side's sum is empty
    val out = grow(a._1, b._1.length)
    var i = 0
    while (i < b._1.length) { out(i) += b._1(i); i += 1 }
    (out, a._2 + b._2)
  }

  override def finish(r: (Array[Double], Long)): Seq[Double] =
    if (r._2 == 0) Seq.empty else r._1.map(_ / r._2).toSeq

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()

  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}
