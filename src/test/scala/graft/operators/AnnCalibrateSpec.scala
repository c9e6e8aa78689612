package graft.operators

import graft.SparkTestBase
import graft.sources.{Tables, VectorIndexStore}
import org.apache.spark.sql.functions._

/** Probe-width calibration contracts: the one-pass recall curve must
  * EQUAL what real probes measure at every width (the capture-width
  * equivalence AnnCalibrate's Scaladoc argues), the sized width must be
  * minimal for its target, the published sidecar must be honored by the
  * probe sentinel and must degrade to the auto policy when corrupt.
  */
class AnnCalibrateSpec extends SparkTestBase {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def buildSingle(nCells: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cal").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, dir, emb, nCells)
    dir
  }

  test("one-pass curve equals independently probed recall at every width") {
    val path = buildSingle(nCells = 8)
    val panel = AnnEval.rowPanel(IvfIndex.loadVectors(spark, path)
      .filter(col("vec_id") =!= 0), maxPanel = 12)
    val k = 10
    val exact = AnnEval.exactTopK(spark,
      IvfIndex.loadVectors(spark, path).filter(col("vec_id") =!= 0), panel, k)
    val hist = AnnCalibrate.widthHistogram(
      AnnCalibrate.neighborWidths(spark, Seq(path), panel, k))
    val curve = AnnCalibrate.recallCurve(hist, Seq(1, 2, 4, 8)).toMap
    for (w <- Seq(1, 2, 4, 8)) {
      val probed = AnnEval.meanRecall(
        AnnEval.ivfTopK(spark, path, panel, k, nProbe = w), exact)
      assert(math.abs(curve(w) - probed) < 1e-9,
        s"curve($w)=${curve(w)} but a real probe at nProbe=$w measures $probed")
    }
    // monotone, exact at full width (the index's own corpus)
    val vals = Seq(1, 2, 4, 8).map(curve)
    assert(vals == vals.sorted, s"curve not monotone: $vals")
    assert(curve(8) == 1.0, s"full-width recall ${curve(8)} != 1.0")
  }

  test("filtered one-pass curve equals real filtered probes; sized width holds its target") {
    // the v22 workload: a ~10%-selective predicate applied to the
    // cell-partitioned vectors before the probe. The capture-width
    // equivalence must hold WITHIN the filtered corpus (filtered exact
    // top-k vs filtered probe at every width), and the width sized for
    // the filtered workload must deliver its target on a real filtered
    // probe — an unfiltered calibration cannot promise that (the filter
    // thins every probed cell, SCALE.md round-15 §13).
    val path = buildSingle(nCells = 8)
    val pred = col("label") === 3
    val fvecs = IvfIndex.loadVectors(spark, path)
      .filter(col("vec_id") =!= 0).filter(pred)
    val panel = AnnEval.rowPanel(
      IvfIndex.loadVectors(spark, path).filter(col("vec_id") =!= 0),
      maxPanel = 12)
    val k = 5
    val model = IvfIndex.loadModel(spark, path)
    val exactF = AnnEval.exactTopK(spark, fvecs, panel, k)
    val hist = AnnCalibrate.widthHistogram(
      AnnCalibrate.neighborWidths(spark, Seq(path), panel, k,
        predicate = Some(pred)))
    val curve = AnnCalibrate.recallCurve(hist, Seq(1, 2, 4, 8)).toMap
    for (w <- Seq(1, 2, 4, 8)) {
      val probed = AnnEval.meanRecall(
        AnnEval.ivfTopKFrames(spark, fvecs, model, panel, k, nProbe = w),
        exactF)
      assert(math.abs(curve(w) - probed) < 1e-9,
        s"filtered curve($w)=${curve(w)} but a real filtered probe " +
          s"at nProbe=$w measures $probed")
    }
    assert(curve(8) == 1.0, s"filtered full-width recall ${curve(8)} != 1.0")
    // the sized width delivers its target on a real filtered probe
    val Some((w9, measured)) = AnnCalibrate.calibrateFilteredWidth(
      spark, Seq(path), panel, k, target = 0.9, predicate = pred)
    assert(measured >= 0.9)
    val real = AnnEval.meanRecall(
      AnnEval.ivfTopKFrames(spark, fvecs, model, panel, k, nProbe = w9),
      exactF)
    assert(real >= 0.9, s"filtered-calibrated width $w9 measures $real < 0.9")
    // and the unfiltered calibration still answers for ITS workload at
    // the same target — the two are independent per-workload numbers
    // (w9 typically sits at or above the unfiltered width because the
    // filter thins cells, but that is a measured tendency, not a
    // theorem: the filtered true-neighbor SET differs, so the spec pins
    // each width to its own workload's real probe instead of comparing
    // them)
    val unfiltered = AnnCalibrate.calibrateWidth(
      AnnCalibrate.widthHistogram(
        AnnCalibrate.neighborWidths(spark, Seq(path), panel, k)),
      0.9).get
    assert(unfiltered._2 >= 0.9)
  }

  test("calibrateIvf publishes the minimal width holding the target") {
    val path = buildSingle(nCells = 8)
    val cal = VectorIndexStore.calibrateIvf(spark, path, target = 0.9, k = 10)
    assert(cal.measured >= 0.9, s"calibrated recall ${cal.measured} < target")
    assert(VectorIndexStore.calibratedWidth(path).contains(cal.width))
    // minimality: one cell narrower misses the target (when narrowable)
    if (cal.width > 1) {
      val panel = AnnEval.rowPanel(IvfIndex.loadVectors(spark, path)
        .filter(col("vec_id") =!= 0), maxPanel = 32)
      val hist = AnnCalibrate.widthHistogram(
        AnnCalibrate.neighborWidths(spark, Seq(path), panel, 10))
      val below = AnnCalibrate.recallCurve(hist, Seq(cal.width - 1)).head._2
      assert(below < 0.9, s"width ${cal.width} not minimal: ${cal.width - 1} " +
        s"already measures $below")
    }
    // the probe sentinel resolves to the calibrated width: identical rows
    val panel2 = AnnEval.rowPanel(IvfIndex.loadVectors(spark, path)
      .filter(col("vec_id") =!= 0), maxPanel = 8)
    val viaSentinel = AnnEval.ivfTopK(spark, path, panel2, 10,
      nProbe = IvfIndex.NProbeCalibrated).collect().toSet
    val viaExplicit = AnnEval.ivfTopK(spark, path, panel2, 10,
      nProbe = cal.width).collect().toSet
    assert(viaSentinel == viaExplicit)
    // the single-query facade honors it too (it knows its path)
    import spark.implicits._
    val qv = panel2.head._2
    val gSentinel = graft.Graft.ivfProbe(spark, path, qv.toArray, 10,
      nProbe = IvfIndex.NProbeCalibrated)
      .select("vec_id").as[Long].collect().toSeq
    val gExplicit = graft.Graft.ivfProbe(spark, path, qv.toArray, 10,
      nProbe = cal.width)
      .select("vec_id").as[Long].collect().toSeq
    assert(gSentinel == gExplicit)
  }

  test("sharded calibration sizes the composition and its sentinel probes meet the target") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cal_sh").toString + "/ix"
    val shards = 3
    ShardedIvf.build(spark, emb, root, shards, nCellsPerShard = 8)
    val cal = VectorIndexStore.calibrateShardedIvf(spark, root, shards,
      target = 0.9, k = 10)
    assert(cal.measured >= 0.9)
    assert(cal.width <= 8, "per-shard width cannot exceed a shard's cells")
    // the sidecar lives at the sharded ROOT and shardedTopK honors it:
    // measured recall at the sentinel meets the calibrated target
    val shardPaths = (0 until shards).map(r => s"$root/shard=$r")
    val corpus = shardPaths
      .map(p => IvfIndex.loadVectors(spark, p).filter(col("vec_id") =!= 0)
        .select("vec_id", "embedding"))
      .reduce(_ unionAll _)
    val panel = AnnEval.rowPanel(corpus, maxPanel = 32)
    val exact = AnnEval.exactTopK(spark, corpus, panel, 10)
    val recall = AnnEval.meanRecall(
      AnnEval.shardedTopK(spark, root, shards, panel, 10,
        nProbe = IvfIndex.NProbeCalibrated), exact)
    assert(recall >= 0.9 - 1e-9,
      f"sentinel probe recall $recall%.3f below the calibrated target")
    // single-query search honors it too (vs the explicit width)
    val (qid, qv) = emb.filter(col("vec_id") === 1)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val viaSentinel = ShardedIvf.search(spark, root, shards, qv, 10,
      nProbe = IvfIndex.NProbeCalibrated)
      .filter(col("vec_id") =!= qid).select("vec_id").as[Long].collect().toSeq
    val viaExplicit = ShardedIvf.search(spark, root, shards, qv, 10,
      nProbe = cal.width)
      .filter(col("vec_id") =!= qid).select("vec_id").as[Long].collect().toSeq
    assert(viaSentinel == viaExplicit)
  }

  test("retrain invalidates the calibration (single and sharded)") {
    import spark.implicits._
    // a strongly shifted batch drifts every qerr series past the factor
    def drifted = emb.select((col("vec_id") + 10000L).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(8.0f))
        .cast("array<float>").as("embedding"))
    // single index: calibrate, drift, retrain -> sidecar gone
    val single = buildSingle(nCells = 8)
    VectorIndexStore.calibrateIvf(spark, single, target = 0.9, k = 10)
    assert(VectorIndexStore.calibratedWidth(single).isDefined)
    VectorIndexStore.appendIvf(spark, single, drifted)
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, single), "must retrain")
    assert(VectorIndexStore.calibratedWidth(single).isEmpty,
      "a retrained geometry must drop the width sized for the old cells")
    // sharded: per-shard retrains stale the ROOT sidecar
    val root = java.nio.file.Files.createTempDirectory("graft_cal_rt").toString + "/ix"
    val shards = 2
    ShardedIvf.build(spark, emb, root, shards, nCellsPerShard = 8)
    VectorIndexStore.calibrateShardedIvf(spark, root, shards, target = 0.9, k = 10)
    assert(VectorIndexStore.calibratedWidth(root).isDefined)
    ShardedIvf.append(spark, root, shards, drifted)
    // a DIRECT per-shard retrain (the documented per-shard lifecycle, not
    // the wrapper) must stale the root's calibration too
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, s"$root/shard=0"),
      "shard 0 must retrain")
    assert(VectorIndexStore.calibratedWidth(root).isEmpty,
      "a direct per-shard retrain stales the composition's calibrated width")
    // and the wrapper still works for the remaining drifted shard
    VectorIndexStore.calibrateShardedIvf(spark, root, shards, target = 0.9, k = 10)
    assert(ShardedIvf.retrainIfNeeded(spark, root, shards) > 0)
    assert(VectorIndexStore.calibratedWidth(root).isEmpty,
      "any shard's retrain stales the composition's calibrated width")
  }

  private def buildPq(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cal_pq").toString + "/pq"
    VectorIndexStore.buildPqAt(spark, dir, emb)
    dir
  }

  test("PQ one-pass shortlist curve equals independently probed recall at every depth") {
    val path = buildPq()
    val panel = AnnEval.rowPanel(emb.filter(col("vec_id") =!= 0), maxPanel = 12)
    val k = 10
    val exact = AnnEval.exactTopK(spark, emb.filter(col("vec_id") =!= 0), panel, k)
    val hist = AnnCalibrate.widthHistogram(
      AnnCalibrate.pqShortlistWidths(spark, path, emb, panel, k))
    val depths = Seq(5, 15, 50, 200)
    val curve = AnnCalibrate.recallCurve(hist, depths).toMap
    for (d <- depths) {
      val probed = AnnEval.meanRecall(
        AnnEval.pqTopK(spark, path, emb, panel, k, shortlist = d), exact)
      assert(math.abs(curve(d) - probed) < 1e-9,
        s"curve($d)=${curve(d)} but a real PQ probe at shortlist=$d measures $probed")
    }
  }

  test("filtered PQ shortlist curve equals real filtered probes on single AND sharded encoded geometries") {
    // the v23/v24 workload: the predicate applies to the ENCODED frame
    // before the ADC scan (the encoded schema keeps the filter column
    // next to the codes), so the capture shortlist is the true
    // neighbor's ADC rank among FILTERED candidates — the curve must
    // equal real filtered probes at every depth, and the sized depth
    // must deliver its target when executed
    val path = buildPq()
    val pred = col("label") === 3
    val panel = AnnEval.rowPanel(emb.filter(col("vec_id") =!= 0), maxPanel = 12)
    val k = 5
    val np = 4
    val model = PqIndex.loadModel(spark, path)
    val fEnc = PqIndex.loadEncoded(spark, path)
      .filter(col("vec_id") =!= 0).filter(pred)
    val exactF = AnnEval.exactTopK(spark,
      emb.filter(col("vec_id") =!= 0).filter(pred), panel, k)
    val depths = Seq(3, 10, 30)
    val curve = AnnCalibrate.recallCurve(
      AnnCalibrate.widthHistogram(
        AnnCalibrate.pqShortlistWidthsAt(spark, Seq(path), emb, panel, k,
          nProbe = np, predicate = Some(pred))),
      depths).toMap
    for (d <- depths) {
      val probed = AnnEval.meanRecall(
        AnnEval.pqTopKFrames(spark, fEnc, model, emb, panel, k,
          nProbe = np, shortlist = d), exactF)
      assert(math.abs(curve(d) - probed) < 1e-9,
        s"filtered curve($d)=${curve(d)} but a real filtered PQ probe " +
          s"at shortlist=$d measures $probed")
    }
    // full probe: ceiling 1.0, so target 0.9 is reachable and the sized
    // depth holds when executed
    val Some((sl, measured)) = AnnCalibrate.calibrateFilteredShortlist(
      spark, Seq(path), emb, panel, k, target = 0.9, predicate = pred,
      nProbe = Int.MaxValue)
    assert(measured >= 0.9)
    val real = AnnEval.meanRecall(
      AnnEval.pqTopKFrames(spark, fEnc, model, emb, panel, k,
        nProbe = Int.MaxValue, shortlist = sl), exactF)
    assert(real >= 0.9, s"filtered-calibrated depth $sl measures $real < 0.9")

    // the SHARDED composition: capture shortlist = per-(query, shard)
    // ADC rank among filtered candidates — same equivalence against
    // the predicate-scoped sharded probe
    val root = java.nio.file.Files.createTempDirectory("graft_cal_shpqf")
      .toString + "/ix"
    ShardedPq.build(spark, emb, root, shards = 3)
    val shardPaths = (0 until 3).map(r => s"$root/shard=$r")
    val curveS = AnnCalibrate.recallCurve(
      AnnCalibrate.widthHistogram(
        AnnCalibrate.pqShortlistWidthsAt(spark, shardPaths, emb, panel, k,
          nProbe = np, predicate = Some(pred))),
      depths).toMap
    for (d <- depths) {
      val probed = AnnEval.meanRecall(
        AnnEval.shardedPqTopK(spark, root, 3, emb, panel, k,
          nProbe = np, shortlist = d, predicate = Some(pred)), exactF)
      assert(math.abs(curveS(d) - probed) < 1e-9,
        s"sharded filtered curve($d)=${curveS(d)} but a real probe " +
          s"at per-shard shortlist=$d measures $probed")
    }
    val Some((slS, measuredS)) = AnnCalibrate.calibrateFilteredShortlist(
      spark, shardPaths, emb, panel, k, target = 0.9, predicate = pred,
      nProbe = Int.MaxValue)
    assert(measuredS >= 0.9)
    val realS = AnnEval.meanRecall(
      AnnEval.shardedPqTopK(spark, root, 3, emb, panel, k,
        nProbe = Int.MaxValue, shortlist = slS, predicate = Some(pred)),
      exactF)
    assert(realS >= 0.9,
      s"sharded filtered-calibrated depth $slS measures $realS < 0.9")
  }

  test("calibratePqShortlist publishes a working depth; unreachable targets name the probe ceiling") {
    val path = buildPq()
    val cal = VectorIndexStore.calibratePqShortlist(spark, path, emb,
      target = 0.5, k = 10)
    assert(cal.measured >= 0.5)
    assert(VectorIndexStore.calibratedShortlist(path).contains(cal.shortlist))
    // sentinel resolves to the calibrated depth: identical rows
    val panel = AnnEval.rowPanel(emb.filter(col("vec_id") =!= 0), maxPanel = 8)
    val viaSentinel = AnnEval.pqTopK(spark, path, emb, panel, 10,
      shortlist = PqIndex.ShortlistCalibrated).collect().toSet
    val viaExplicit = AnnEval.pqTopK(spark, path, emb, panel, 10,
      shortlist = cal.shortlist).collect().toSet
    assert(viaSentinel == viaExplicit)
    // a target above the cell-pruning ceiling fails pointing at nProbe
    // (nProbe=1 prunes hard enough that recall 0.999 is out of reach)
    val e = intercept[IllegalStateException] {
      VectorIndexStore.calibratePqShortlist(spark, path, emb,
        target = 0.999, k = 10, nProbe = 1)
    }
    assert(e.getMessage.contains("widen the PROBE"),
      s"ceiling diagnosis should point at nProbe: ${e.getMessage}")
    // PQ retrain drops the calibration like the IVF one does
    import spark.implicits._
    val drifted = emb.select((col("vec_id") + 10000L).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(8.0f))
        .cast("array<float>").as("embedding"))
    VectorIndexStore.appendPq(spark, path, drifted)
    assert(VectorIndexStore.retrainPqIfNeeded(spark, path,
      emb.select("vec_id", "label", "embedding").unionAll(drifted)),
      "must retrain")
    assert(VectorIndexStore.calibratedShortlist(path).isEmpty,
      "a retrained PQ geometry must drop the old calibrated shortlist")
  }

  test("corrupt or absent sidecar degrades the sentinel to the auto policy") {
    val path = buildSingle(nCells = 8)
    val panel = AnnEval.rowPanel(IvfIndex.loadVectors(spark, path)
      .filter(col("vec_id") =!= 0), maxPanel = 8)
    val auto = AnnEval.ivfTopK(spark, path, panel, 10,
      nProbe = IvfIndex.NProbeAuto).collect().toSet
    // absent: never calibrated
    assert(VectorIndexStore.calibratedWidth(path).isEmpty)
    val absent = AnnEval.ivfTopK(spark, path, panel, 10,
      nProbe = IvfIndex.NProbeCalibrated).collect().toSet
    assert(absent == auto, "uncalibrated sentinel must equal the auto policy")
    // corrupt: unparseable content reads as absent (diagnostic, no throw)
    graft.sources.Versioned.metaBackend.writeAtomic(
      s"$path/nprobe.CAL", "not a calibration")
    assert(VectorIndexStore.calibratedWidth(path).isEmpty)
    val corrupt = AnnEval.ivfTopK(spark, path, panel, 10,
      nProbe = IvfIndex.NProbeCalibrated).collect().toSet
    assert(corrupt == auto, "corrupt sidecar must degrade to the auto policy")
    // FUTURE semantics version: parses, but the width may mean something
    // else — must read as absent, not be silently honored
    graft.sources.Versioned.metaBackend.writeAtomic(
      s"$path/nprobe.CAL", "3 0.95 0.9 10 32 99")
    assert(VectorIndexStore.calibratedWidth(path).isEmpty,
      "a future-semantics sidecar must read as absent")
  }

  test("a calibrated shortlist does not transfer to a different probe width") {
    val path = buildPq()
    // calibrate at a WIDE probe (8 cells): the recorded nProbe is 8
    val cal = VectorIndexStore.calibratePqShortlist(spark, path, emb,
      target = 0.5, k = 10, nProbe = 8)
    assert(cal.nProbe == 8)
    val panel = AnnEval.rowPanel(emb.filter(col("vec_id") =!= 0), maxPanel = 8)
    // serving at the calibrated width honors the sidecar
    val atCalWidth = AnnEval.pqTopK(spark, path, emb, panel, 10,
      nProbe = 8, shortlist = PqIndex.ShortlistCalibrated).collect().toSet
    val explicit = AnnEval.pqTopK(spark, path, emb, panel, 10,
      nProbe = 8, shortlist = cal.shortlist).collect().toSet
    assert(atCalWidth == explicit)
    // serving at a DIFFERENT width must not silently apply the calibrated
    // depth (its recall promise is void there): degrade to the default
    val atOtherWidth = AnnEval.pqTopK(spark, path, emb, panel, 10,
      nProbe = 2, shortlist = PqIndex.ShortlistCalibrated).collect().toSet
    val defaultAtOther = AnnEval.pqTopK(spark, path, emb, panel, 10,
      nProbe = 2, shortlist = PqIndex.DefaultShortlist).collect().toSet
    assert(atOtherWidth == defaultAtOther,
      "a width mismatch must degrade the sentinel to the default shortlist")
  }

  test("recallCurve never counts the never-capturable sentinel bucket") {
    val hist = Seq((1, 4L), (2, 3L), (Int.MaxValue, 3L)) // ceiling = 0.7
    val curve = AnnCalibrate.recallCurve(hist, Seq(1, 2, Int.MaxValue)).toMap
    assert(curve(1) == 0.4 && curve(2) == 0.7)
    assert(curve(Int.MaxValue) == 0.7,
      "the unbounded-width point must report the true ceiling, not 1.0")
    // and calibrateWidth agrees: targets above the ceiling are unreachable
    assert(AnnCalibrate.calibrateWidth(hist, 0.7).contains((2, 0.7)))
    assert(AnnCalibrate.calibrateWidth(hist, 0.71).isEmpty)
  }

  test("PQ calibration sentinel on path-less entries falls back to the default shortlist") {
    val path = buildPq()
    val panel = AnnEval.rowPanel(emb.filter(col("vec_id") =!= 0), maxPanel = 8)
    val encoded = PqIndex.loadEncoded(spark, path).filter(col("vec_id") =!= 0)
    val model = PqIndex.loadModel(spark, path)
    // pqTopKFrames has no artifact path: the sentinel must behave as the
    // default depth, never as a literal -2 (which silently returns zero rows)
    val viaSentinel = AnnEval.pqTopKFrames(spark, encoded, model, emb, panel, 10,
      shortlist = PqIndex.ShortlistCalibrated).collect().toSet
    assert(viaSentinel.nonEmpty, "sentinel must not produce an empty answer")
    val viaDefault = AnnEval.pqTopKFrames(spark, encoded, model, emb, panel, 10,
      shortlist = PqIndex.DefaultShortlist).collect().toSet
    assert(viaSentinel == viaDefault)
  }

  test("transposed calibration sentinels fail loudly instead of degrading silently") {
    // the two sentinels flow through ADJACENT Int parameters of the same
    // signatures (nProbe then shortlist): they must be distinct values,
    // and each resolver must reject the other's — a transposed call that
    // silently served the default policy would void a calibrated recall
    // promise with no signal
    assert(IvfIndex.NProbeCalibrated != PqIndex.ShortlistCalibrated)
    intercept[IllegalArgumentException] {
      IvfIndex.resolveNProbe(PqIndex.ShortlistCalibrated, nCells = 16)
    }
    intercept[IllegalArgumentException] {
      PqIndex.resolveShortlist(IvfIndex.NProbeCalibrated)
    }
    // and any other junk negative is rejected too
    intercept[IllegalArgumentException] { IvfIndex.resolveNProbe(0, 16) }
    intercept[IllegalArgumentException] { PqIndex.resolveShortlist(-7) }
  }
}
