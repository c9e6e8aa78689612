package graftbench

import graft.Graft
import graft.operators.IvfIndex
import graft.sources.VectorIndexStore

/** `maintain`: one reader thread probing a persisted IVF index, alone for
  * the run's seconds and then while one writer thread maintains it (both
  * closed loops). The writer runs a fixed number of cycles; each appends
  * a fresh batch through `Graft.appendIvfIndex` (role "append") and calls
  * `VectorIndexStore.compactIvf` (role "compact"). Once, in the second
  * cycle, it also appends the first cycle's batch again, which must add
  * nothing (role "reappend").
  *
  * The foreground op is the reader's probe in the quiet phase (role
  * "probe"); probes during writes are role "probe_busy" and reported in
  * the detail line only: they mix contended and uncontended probes in
  * proportions that vary from run to run. The writer's throughput is
  * appended vectors per second of time spent in its append, re-append and
  * compact calls. Probes go through `Graft.ivfProbe`, and every
  * FilteredEvery-th through `Graft.filteredIvfProbe`.
  *
  * Staleness checks: after each fresh append, and again after the last
  * compaction, probes with some of the appended vectors must each find
  * the vector itself among the top k, so a reader on a stale model or
  * pointer fails. After the loop a probe panel is graded for recall@10
  * against exact `Graft.knn` over the final index.
  */
object MaintainWorkload {
  val spec = Inputs.VectorSpec(n = 128)
  /** 16 rows per cell, so the 4 probed cells always hold k rows. */
  val Cells = 8
  val BatchSize = 16
  /** Writer cycles (append, compact) per run. */
  val Cycles = 3
  private val SetupReps = 3
  private val ProbePool = 500
  private val PanelSize = 4
  private val WarmupProbes = 12
  /** Output check: the recall panel's recall@10 must reach this. Every
    * seed tried (1, 3, 5, 11-15, 101-110) measured 1.0; the floor leaves
    * a margin of 4 of the panel's 40 ids. */
  val RecallFloor = 0.9

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val corpus = Inputs.vectors(ctx.seed, spec, stream = 0, firstId = 0)
    // the loop cycles through the first ProbePool queries; the recall
    // panel uses the PanelSize after them
    val queries = Inputs.probes(ctx.seed, spec, ProbePool + PanelSize, stream = 1)
    val inputDigest = Inputs.digest(Nil, corpus ++ queries)
    ctx.check("inputs_deterministic")(Inputs.digest(Nil, Inputs.vectors(ctx.seed, spec, 0, 0) ++
      Inputs.probes(ctx.seed, spec, ProbePool + PanelSize, 1)) == inputDigest)
    val corpusDf = Probes.frame(spark, corpus)
    // batch j: BatchSize fresh vectors with ids n + j*BatchSize ...
    def batchVecs(j: Int) = Inputs.vectors(ctx.seed, spec.copy(n = BatchSize),
      100 + j, spec.n.toLong + j.toLong * BatchSize)
    def batch(j: Int) = Probes.frame(spark, batchVecs(j))

    val builds = (1 to SetupReps).map { _ =>
      val path = ctx.freshDir("ivf")
      val t0 = System.nanoTime()
      Graft.saveIvfIndex(spark, corpusDf, path, Cells)
      (path, (System.nanoTime() - t0) / 1e9)
    }
    val index = builds.last._1
    ctx.log(s"index built: ${builds.map(_._2).mkString(" ")} s")
    def indexRows(): Long = IvfIndex.loadVectors(spark, index).count()
    def indexFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(index))
    }

    // probes with appended vectors (plain `Graft.ivfProbe`) must each
    // return the vector itself
    def ownIdsVisible(vs: Seq[Inputs.Vec]): Boolean = vs.forall { v =>
      Graft.ivfProbe(spark, index, v.v, Probes.K).collect().exists(_.getAs[Long]("vec_id") == v.id)
    }

    val modes = if (ctx.trace) Seq("plain", "traced") else Seq("plain")
    // warm the probe path: the first probes in a JVM pay class loading
    // and code generation, and within a run latency still fell by ~20%
    // over the first ~30 probes
    (0 until WarmupProbes).foreach(i => Probes.probe(spark, index, i, queries(i)).collect())
    // quiet phase: the reader alone for the run's seconds; then the
    // writer's Cycles cycles
    val writerStart = System.nanoTime() + ctx.seconds * 1000000000L
    @volatile var writerDone = false
    // the reader acknowledges the switch to the write phase between two
    // probes, so no probe straddles it
    @volatile var writeRequested = false
    val busy = new java.util.concurrent.CountDownLatch(1)

    val reader = new Thread(() => {
      var i = 0
      var role = "probe"
      while (!writerDone) {
        if (writeRequested && role == "probe") { role = "probe_busy"; busy.countDown() }
        val mode = modes(i % modes.size)
        val qi = i % ProbePool
        if (mode == "traced") Probes.shadowModelLoad(ctx, index)
        ctx.timed(role, mode)(op => Probes.op(ctx, mode, op, index, qi, queries(qi)))
        i += 1
      }
      busy.countDown()
    }, "perfbench-reader")

    val appended = scala.collection.mutable.Set.empty[Int] // batch ids present
    var offered = 0L
    var writeMs = 0.0
    val filesAfterAppend = scala.collection.mutable.ArrayBuffer.empty[Int]
    def write(role: String, mode: String)(body: => Unit): Boolean = {
      val t0 = System.nanoTime()
      val ok = ctx.timed(role, mode)(op => ctx.span(mode, s"maintain.$role", op)(body)).isDefined
      val ms = (System.nanoTime() - t0) / 1e6
      writeMs += ms
      ctx.log(f"$role ($mode) $ms%.0f ms")
      ok
    }
    def append(role: String, mode: String, b: Int): Boolean = {
      val df = batch(b)
      val ok = write(role, mode)(Graft.appendIvfIndex(spark, index, df))
      offered += BatchSize
      if (ctx.trace) filesAfterAppend += indexFiles()
      ok
    }
    reader.start()
    try {
      while (System.nanoTime() < writerStart) Thread.sleep(20)
      writeRequested = true
      busy.await()
      // writer cycle: append a fresh batch and probe for its first
      // vector; in the second cycle re-append the first batch; compact
      for (c <- 0 until Cycles) {
        val mode = modes(c % modes.size)
        if (append("append", mode, c)) appended += c
        ctx.check("appended_rows_visible")(ownIdsVisible(batchVecs(c).take(1)))
        if (c == 1) {
          append("reappend", mode, 0)
          // every fresh batch added its rows, the re-append none
          ctx.check("reappend_adds_zero_rows")(
            indexRows() == spec.n + appended.size.toLong * BatchSize)
        }
        write("compact", mode)(VectorIndexStore.compactIvf(spark, index))
      }
    } finally {
      writerDone = true
      reader.join()
    }
    ctx.log("loop done")
    val finalRows = indexRows()
    ctx.check("final_rows_equal_built_plus_distinct_appended")(
      finalRows == spec.n + appended.size.toLong * BatchSize)
    // after the last compaction: another vector of every appended batch
    // (batch vector j belongs to cluster j % clusters)
    ctx.check("appended_rows_visible_after_compact")(ownIdsVisible(appended.toSeq.sorted
      .map(b => batchVecs(b)(1))))

    // recall@10 of the maintained index, outside the timed loop: a panel
    // of probes (same filtered share) graded against exact Graft.knn over
    // the final index contents
    val recall = {
      val all = IvfIndex.loadVectors(spark, index).persist()
      val hits = (0 until PanelSize).map { i =>
        val q = queries(ProbePool + i)
        val scope = if (Probes.filtered(i)) all.filter(Probes.predicate(q)) else all
        def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getAs[Long]("vec_id")).toSet
        (ids(Graft.knn(scope, q.v, Probes.K)) & ids(Probes.probe(spark, index, i, q))).size
          .toDouble / Probes.K
      }
      all.unpersist()
      hits.sum / PanelSize
    }
    ctx.log(s"recall@10 $recall")
    ctx.check("recall_at_10_floor")(recall >= RecallFloor)

    val plain = ctx.samplesOf("probe", "plain").map(_.ms)
    val appendPlain = ctx.samplesOf("append", "plain").map(_.ms)
    def allModes(role: String) = (ctx.samplesOf(role, "plain") ++ ctx.samplesOf(role, "traced")).map(_.ms)
    val reappendAll = allModes("reappend")
    val compactAll = allModes("compact")
    val busyPlain = ctx.samplesOf("probe_busy", "plain").map(_.ms)
    val e2e = Map(
      "setup_s" -> Stats.median(builds.map(_._2)),
      "op_p50_ms" -> Stats.median(plain),
      "work_per_s" -> appended.size.toDouble * BatchSize / (writeMs / 1000.0))
    val layers = if (!ctx.trace) Map.empty[String, Any] else {
      ctx.tracer.drain()
      val t = ctx.tracer
      val appendSpans = ctx.samplesOf("append", "traced").flatMap(_.span)
      // quiet-phase probes read the index as built
      val g = Layers.generic(ctx, "probe", _ => Some(spec.n.toLong))
      g ++ Map(
        "maintain.load_model_ms" -> Stats.median(t.all
          .filter(_.name == "maintain.load_model").map(_.durMs)),
        "maintain.append_jobs" -> Stats.median(appendSpans.map(t.inclusive(_, _.jobs).toDouble)),
        "maintain.append_skip_ratio" -> (1.0 - (finalRows - spec.n).toDouble / offered),
        "maintain.compact_s" -> Stats.median(compactAll) / 1000,
        "maintain.index_files" -> Stats.median(filesAfterAppend.map(_.toDouble).toSeq),
        "maintain.index_files_max" -> filesAfterAppend.maxOption.getOrElse(0),
        "maintain.probe_construct_ms" -> g("construct_ms"),
        "maintain.probe_action_ms" -> g("action_ms"))
    }
    Outcome(e2e, layers, Map(
      "input_sha256" -> inputDigest, "built_vectors" -> spec.n, "cells" -> Cells,
      "batch_size" -> BatchSize, "setup_samples" -> SetupReps,
      "writer_cycles" -> Cycles,
      "append_samples" -> appendPlain.size, "reappend_samples" -> reappendAll.size,
      "distinct_batches_appended" -> appended.size, "compactions" -> compactAll.size,
      "final_rows" -> finalRows, "probe_samples" -> plain.size,
      "maintain.recall_at_10" -> recall, "recall_panel" -> PanelSize,
      "maintain.append_p50_s" -> Stats.median(appendPlain) / 1000,
      "maintain.reappend_p50_s" -> Stats.median(reappendAll) / 1000,
      "maintain.probe_p50_ms" -> e2e("op_p50_ms"), "maintain.probe_p90_ms" -> Stats.quantile(plain, 0.9),
      "busy_probe_samples" -> busyPlain.size,
      "maintain.probe_busy_p50_ms" -> Stats.median(busyPlain),
      "maintain.probe_busy_p90_ms" -> Stats.quantile(busyPlain, 0.9)))
  }
}
