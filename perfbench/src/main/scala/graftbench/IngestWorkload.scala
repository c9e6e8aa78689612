package graftbench

import graft.Graft
import graft.operators.{HashingEmbedder, Ingest}
import graft.schemas.Chunk
import graft.sources.ChunkStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ingest`: cycles of successive document loads into one chunk store.
  *
  * A cycle declares a fresh store (`ChunkStore.ensure`, untimed) and then
  * times each load as one closed-loop call: `Graft.ingest` (normalize,
  * chunk, md5, exact dedup, embed, canonical) and `ChunkStore.upsert`
  * (cross-load anti-join and append). Cycles repeat until the run's time
  * is up; every cycle feeds the same seeded loads, so every load meets the
  * same store size whatever the speed of the code.
  *
  * Traced runs rotate load modes: plain (untraced, the overhead base),
  * traced (spans and listener counts around the same two calls) and
  * layers (each public layer function materialized in its own span:
  * `Ingest.chunkDocuments`, `dedupExactDeterministic`, `withEmbeddings`,
  * `toCanonical`, then `ChunkStore.upsert`).
  */
object IngestWorkload {
  val spec = Inputs.IngestSpec()
  private val SetupReps = 3
  /** Untimed full cycles before the timed loop: within a run, load
    * latency fell by ~10% from each cycle to the next over the first
    * three, and an 8 s run times only 2 cycles. */
  private val WarmupCycles = 2

  /** Row counts a layered load sees at its layer boundaries. */
  private final case class LayerRows(chunks: Long, deduped: Long, offered: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val loads = Inputs.ingestLoads(ctx.seed, spec)
    val inputDigest = Inputs.digest(loads, Nil)
    ctx.check("inputs_deterministic")(
      Inputs.digest(Inputs.ingestLoads(ctx.seed, spec), Nil) == inputDigest)
    val frames: IndexedSeq[DataFrame] = loads.map(l =>
      l.map(d => (d.docId, d.text, "en", d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))

    // Expected store contents from the chunker's own output: chunks per
    // load, and the distinct text_hash count once every load has landed.
    val chunked = frames.zipWithIndex.map { case (f, i) =>
      Graft.chunk(spark, f).select(lit(i).as("load"), col("text_hash")) }
      .reduce(_ unionByName _)
    val chunksPerLoad = chunked.groupBy("load").count().as[(Int, Long)].collect().toMap
    val distinctPerCycle = chunked.select("text_hash").distinct().count()

    def load(mode: String, op: Long, i: Int, path: String): Option[LayerRows] =
      if (mode == "layers") {
        // build one layer on the previous layer's cached output and
        // materialize it, both inside the layer's span
        def layer[T](name: String)(build: => org.apache.spark.sql.Dataset[T]) =
          ctx.tracer.span(name, op) { val d = build.persist(); (d, d.count()) }
        val (chunks, nChunks) = layer("ingest.chunk")(Ingest.chunkDocuments(spark, frames(i)))
        val (dedup, nDedup) = layer("ingest.dedup")(
          Ingest.dedupExactDeterministic(chunks.toDF(), Seq("filename", "chunk_id", "id")))
        val (emb, _) = layer("ingest.embed")(
          Ingest.withEmbeddings(spark, dedup.as[Chunk], new HashingEmbedder()))
        val (canon, nCanon) = layer("ingest.canonical")(Ingest.toCanonical(emb))
        ctx.tracer.span("ingest.sink", op)(ChunkStore.upsert(spark, canon, path))
        Seq(chunks, dedup, emb, canon).foreach(_.unpersist())
        Some(LayerRows(nChunks, nDedup, nCanon))
      } else {
        val df = ctx.span(mode, "construct", op)(Graft.ingest(spark, frames(i)))
        ctx.span(mode, "action", op)(ChunkStore.upsert(spark, df, path))
        None
      }

    def storeRows(path: String): Long = ChunkStore.read(spark, path).count()

    // set-up: declare a store and take the first upload; the median of
    // SetupReps repetitions (the first one also warms the JVM)
    val setupS = (1 to SetupReps).map { _ =>
      val path = ctx.freshDir("store")
      val t0 = System.nanoTime()
      ChunkStore.ensure(spark, path)
      load("plain", ctx.nextOp(), 0, path)
      (System.nanoTime() - t0) / 1e9
    }

    for (_ <- 0 until WarmupCycles) {
      val path = ctx.freshDir("store")
      ChunkStore.ensure(spark, path)
      loads.indices.foreach(i => load("plain", ctx.nextOp(), i, path))
    }

    val modes = if (ctx.trace) Seq("plain", "traced", "layers") else Seq("plain")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var cycle = 0
    var plainChunks = 0L
    var plainMs = 0.0
    // (store rows before, store rows after, layer rows) per traced load op
    val facts = scala.collection.mutable.Map.empty[Long, (Long, Long, Option[LayerRows])]
    while (System.nanoTime() < deadline || cycle < modes.size) {
      val path = ctx.freshDir("store")
      ChunkStore.ensure(spark, path)
      for (i <- loads.indices) {
        // traced runs rotate modes over load positions, shifted each cycle
        val mode = modes((cycle + i) % modes.size)
        val before = if (mode == "plain") 0L else storeRows(path)
        var opId = 0L
        val t0 = System.nanoTime()
        ctx.timed("load", mode) { op => opId = op; load(mode, op, i, path) }.foreach { rows =>
          if (mode == "plain") {
            plainChunks += chunksPerLoad.getOrElse(i, 0L)
            plainMs += (System.nanoTime() - t0) / 1e6
          } else facts(opId) = (before, storeRows(path), rows)
        }
      }
      val rows = storeRows(path)
      ctx.check("store_rows_equal_distinct_hashes")(rows == distinctPerCycle)
      ctx.check("no_null_vectors")(
        ChunkStore.read(spark, path).filter(col("content_vector").isNull).isEmpty)
      if (cycle == 0) {
        ChunkStore.upsert(spark, Graft.ingest(spark, frames(0)), path)
        ctx.check("reupsert_adds_zero_rows")(storeRows(path) == rows)
      }
      cycle += 1
    }

    val plain = ctx.samplesOf("load", "plain").map(_.ms)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "op_p50_ms" -> Stats.median(plain),
      "work_per_s" -> plainChunks / (plainMs / 1000.0))

    val layers = if (!ctx.trace) Map.empty[String, Any] else {
      ctx.tracer.drain()
      val t = ctx.tracer
      val layered = ctx.samplesOf("load", "layers").flatMap(_.span)
      def layerS(name: String): Double =
        Stats.median(layered.map(s => t.children(s).filter(_.name == name).map(t.selfMs).sum)) / 1000
      val rows = layered.flatMap(s => facts.get(s.op))
      Layers.generic(ctx, "load", op => facts.get(op).map(_._1).filter(_ > 0)) ++ Map(
        "ingest.chunk_s" -> layerS("ingest.chunk"),
        "ingest.dedup_s" -> layerS("ingest.dedup"),
        "ingest.embed_s" -> layerS("ingest.embed"),
        "ingest.canonical_s" -> layerS("ingest.canonical"),
        "ingest.sink_s" -> layerS("ingest.sink"),
        "ingest.sink_skip_ratio" -> Stats.median(rows.collect {
          case (b, a, Some(r)) if r.offered > 0 => 1.0 - (a - b).toDouble / r.offered }),
        "ingest.dedup_keep_ratio" -> Stats.median(rows.collect {
          case (_, _, Some(r)) if r.chunks > 0 => r.deduped.toDouble / r.chunks }))
    }
    Outcome(e2e, layers, Map(
      "input_sha256" -> inputDigest,
      "loads_per_cycle" -> loads.size, "docs_per_load" -> spec.docsPerLoad,
      "chunks_per_cycle" -> chunksPerLoad.values.sum, "distinct_chunks_per_cycle" -> distinctPerCycle,
      "setup_samples" -> SetupReps, "warmup_cycles" -> WarmupCycles, "cycles" -> cycle, "load_samples" -> plain.size,
      "ingest.load_p90_s" -> Stats.quantile(plain, 0.9) / 1000,
      "ingest.chunks_per_s" -> e2e("work_per_s"), "ingest.load_p50_s" -> e2e("op_p50_ms") / 1000))
  }
}
