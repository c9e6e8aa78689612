package graftbench

/** What a workload returns: end-to-end metrics (untraced ops), per-layer
  * metrics (traced run only) and descriptive fields for the detail line.
  */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Any],
                         detail: Map[String, Any])

object Layers {

  /** Workload-independent per-layer metrics of the foreground role, over
    * its "traced" ops (each op span has a `construct` and an `action`
    * child). `stateRows(op)` is the size of the persisted data the op
    * reads from (store or index rows), when known and non-zero.
    */
  def generic(ctx: Ctx, role: String, stateRows: Long => Option[Long]): Map[String, Double] = {
    val t = ctx.tracer
    val ops = ctx.samplesOf(role, "traced").flatMap(_.span)
    def med(f: Span => Double): Double = Stats.median(ops.map(f))
    def childMs(s: Span, name: String): Double =
      t.children(s).filter(_.name == name).map(_.durMs).sum
    val plainMs = Stats.median(ctx.samplesOf(role, "plain").map(_.ms))
    val tracedMs = Stats.median(ctx.samplesOf(role, "traced").map(_.ms))
    Map(
      "construct_ms" -> med(childMs(_, "construct")),
      "action_ms" -> med(childMs(_, "action")),
      "jobs_per_op" -> med(t.inclusive(_, _.jobs).toDouble),
      "stages_per_op" -> med(t.inclusive(_, _.stages).toDouble),
      "tasks_per_op" -> med(t.inclusive(_, _.tasks).toDouble),
      "rows_in_per_op" -> med(t.inclusive(_, _.rowsIn).toDouble),
      "shuffle_bytes_per_op" -> med(t.inclusive(_, _.shuffleBytes).toDouble),
      "executor_busy_ms" -> med(t.executorBusyMs),
      "driver_ms" -> med(s => s.durMs - t.executorBusyMs(s)),
      "gc_ms" -> (if (ops.isEmpty) Double.NaN else ops.map(_.gcMs.toDouble).sum / ops.size),
      "scanned_fraction" -> Stats.median(ops.flatMap(s =>
        stateRows(s.op).map(n => t.inclusive(s, _.rowsIn).toDouble / n))),
      "trace_overhead" -> (tracedMs / plainMs - 1.0))
  }
}
