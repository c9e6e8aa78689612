package graftbench

import graft.Graft
import graft.operators.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The probe side of the `maintain` workload: seeded k=10 probes through
  * the `Graft` facade, a fixed share of them filtered by label.
  */
object Probes {
  val K = 10
  /** Every FilteredEvery-th probe carries a label predicate. */
  val FilteredEvery = 4

  /** Vectors as a local (vec_id, embedding, label) frame. */
  def frame(spark: SparkSession, vs: Seq[Inputs.Vec]): DataFrame = {
    import spark.implicits._
    vs.map(v => (v.id, v.v, v.label)).toDF("vec_id", "embedding", "label")
  }

  def filtered(i: Int): Boolean = i % FilteredEvery == FilteredEvery - 1

  /** The probe call: `Graft.ivfProbe`, or for the filtered share
    * `Graft.filteredIvfProbe` with the predicate `label != q.label`
    * (about 3/4 of the corpus). Returns the lazy result.
    */
  def probe(spark: SparkSession, index: String, i: Int, q: Inputs.Vec): DataFrame =
    if (filtered(i)) Graft.filteredIvfProbe(spark, index, predicate(q), q.v, K)
    else Graft.ivfProbe(spark, index, q.v, K)

  def predicate(q: Inputs.Vec): org.apache.spark.sql.Column = col("label") =!= q.label

  /** One closed-loop probe op: construct, then collect; fails unless it
    * returns K rows.
    */
  def op(ctx: Ctx, mode: String, op: Long, index: String, i: Int, q: Inputs.Vec): Seq[Long] = {
    val df = ctx.span(mode, "construct", op)(probe(ctx.spark, index, i, q))
    val rows = ctx.span(mode, "action", op)(df.collect())
    if (rows.length != K) throw new CheckFailed(s"probe returned ${rows.length} rows, expected $K")
    rows.map(_.getAs[Long]("vec_id")).toSeq
  }

  /** Traced runs also time `IvfIndex.loadModel` alone, in a span of its
    * own just before a traced probe (the probe call repeats the load).
    */
  def shadowModelLoad(ctx: Ctx, index: String): Unit =
    ctx.tracer.span("maintain.load_model", ctx.nextOp())(IvfIndex.loadModel(ctx.spark, index))
}
