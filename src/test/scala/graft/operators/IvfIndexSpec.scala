package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkTestBase {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("training is deterministic") {
    val m1 = IvfIndex.train(spark, emb, k = 8)
    val m2 = IvfIndex.train(spark, emb, k = 8)
    m1.centroids.zip(m2.centroids).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  test("every vector is assigned to exactly one cell") {
    val model = IvfIndex.train(spark, emb, k = 8)
    val assigned = IvfIndex.assign(spark, emb, model)
    assert(assigned.count() == emb.count())
    assert(assigned.filter(col("cell") < 0 || col("cell") >= 8).count() == 0)
    // cells are actually used (not all in one bucket)
    assert(assigned.select("cell").distinct().count() > 1)
  }

  test("probing all cells reproduces the exact brute-force top-k") {
    import spark.implicits._
    val model = IvfIndex.train(spark, emb, k = 8)
    val assigned = IvfIndex.assign(spark, emb, model).cache()
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
          lit(query.toArray).cast("array<float>")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    val ivfAll = IvfIndex.search(spark, assigned.filter(col("vec_id") =!= 0), model,
        query, k = 10, nProbe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivfAll == exact)
  }

  test("partial probe reaches reasonable recall at a fraction of the scan") {
    import spark.implicits._
    val model = IvfIndex.train(spark, emb, k = 16)
    val assigned = IvfIndex.assign(spark, emb, model).cache()
    val queries = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    var hit = 0
    var total = 0
    queries.foreach { case (qid, qv) =>
      val exact = emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
            lit(qv.toArray).cast("array<float>")), 6).as("sim"))
        .orderBy(desc("sim"), col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSet
      val approx = IvfIndex.search(spark, assigned.filter(col("vec_id") =!= qid), model,
          qv, k = 10, nProbe = 4)
        .select("vec_id").as[Long].collect().toSet
      hit += exact.intersect(approx).size
      total += exact.size
    }
    val recall = hit.toDouble / total
    assert(recall >= 0.3, s"recall@10 with nProbe=4/16 was $recall")
  }

  // -------------------------------------------------------------------
  // Hierarchical (two-level) assignment: engages above HierThreshold
  // cells, where autoCells' k ∝ n made the flat O(n·k) build quadratic.
  // -------------------------------------------------------------------

  /** Deterministic synthetic corpus big enough to train past the
    * threshold: 96-dim, values from a hash — no RNG, no fixture reliance.
    */
  private def syntheticSample(n: Int, dim: Int = 96): Array[Array[Double]] =
    Array.tabulate(n) { i =>
      Array.tabulate(dim) { j =>
        val h = scala.util.hashing.MurmurHash3.productHash((i, j))
        (h % 1000) / 1000.0
      }
    }

  test("grouped assignment agrees with the flat exact scan on nearly all vectors") {
    val k = IvfIndex.HierThreshold * 4 // 256 cells — hier path active
    val sample = syntheticSample(2048)
    val model = IvfIndex.trainFromSample(sample, k, iters = 5)
    assert(model.centroids.length == k)
    val flat = IvfIndex.Model(model.centroids.take(IvfIndex.HierThreshold))
    // exact nearest over the FULL centroid set, via the public probe path
    def exactCell(v: Array[Float]) = model.nearestCells(v, 1).head
    val probes = syntheticSample(512, 96).map(_.map(_.toFloat))
    var agree = 0
    var distRatioSum = 0.0
    probes.foreach { v =>
      val h = model.nearestCell(v)
      val e = exactCell(v)
      if (h == e) agree += 1
      val dh = IvfIndex.Hier.sqDist(model.centroids(h), v)
      val de = IvfIndex.Hier.sqDist(model.centroids(e), v)
      assert(dh >= de - 1e-12) // exact is a lower bound by definition
      distRatioSum += (if (de > 0) dh / de else 1.0)
    }
    val agreement = agree.toDouble / probes.length
    assert(agreement >= 0.9,
      s"hier/exact assignment agreement $agreement < 0.9 over ${probes.length} probes")
    val meanRatio = distRatioSum / probes.length
    assert(meanRatio <= 1.1,
      s"mean hier/exact distortion ratio $meanRatio > 1.1")
    // flat path (k <= threshold) is byte-identical to the probe-side scan
    probes.take(32).foreach { v =>
      assert(flat.nearestCell(v) == flat.nearestCells(v, 1).head)
    }
  }

  test("grouped assignment is deterministic across independent model copies") {
    val k = IvfIndex.HierThreshold * 3
    val sample = syntheticSample(1024)
    val m1 = IvfIndex.trainFromSample(sample, k, iters = 5)
    val m2 = IvfIndex.Model(m1.centroids.map(_.clone())) // fresh accelerator build
    val probes = syntheticSample(256, 96).map(_.map(_.toFloat))
    probes.foreach { v =>
      assert(m1.nearestCell(v) == m2.nearestCell(v))
      assert(m1.assignCells(v, 3) == m2.assignCells(v, 3))
      assert(m1.assignmentDistortion(v) == m2.assignmentDistortion(v))
    }
  }

  test("train past the fixed-sample ceiling (autoCells regime) adapts the sample instead of throwing") {
    // k > 2048 used to violate trainFromSample's sample >= k requirement
    // (autoCells reaches k = 2048 at ~262k vectors — one decade past the
    // 100x drill point). train now grows the sample to 8 points/cell.
    import spark.implicits._
    val dim = 8
    val df = spark.range(20000).map { i =>
      (i, 0, Seq.tabulate(dim) { j =>
        val h = scala.util.hashing.MurmurHash3.productHash((i, j))
        ((h % 1000) / 1000.0).toFloat
      })
    }.toDF("vec_id", "label", "embedding")
    val k = 2100
    val m1 = IvfIndex.train(spark, df, k)
    assert(m1.centroids.length == k)
    val m2 = IvfIndex.train(spark, df, k) // deterministic end to end
    assert(m1.centroids.zip(m2.centroids).forall { case (a, b) => a.sameElements(b) })
    // the trained model assigns (grouped path) without degenerate cells
    // dominating: the first few sample rows land in distinct cells
    val probes = df.orderBy("vec_id").limit(64)
      .select("embedding").as[Array[Float]].collect()
    assert(probes.map(m1.nearestCell(_)).distinct.length > 16)
    // far past MaxTrainCells the build must refuse loudly, not degrade
    intercept[IllegalArgumentException] {
      IvfIndex.train(spark, df, IvfIndex.MaxTrainCells + 1)
    }
  }

  test("ragged vectors score as zero-padded on BOTH the flat and grouped paths") {
    // Declared semantics (trainFromSample): a vector shorter than the
    // centroid reads as zero-padded — the centroid-tail squares count.
    // The grouped accelerator must agree with the flat scan on that.
    val k = IvfIndex.HierThreshold * 2
    val model = IvfIndex.trainFromSample(syntheticSample(1024), k, iters = 5)
    val dim = model.centroids(0).length
    val probes = syntheticSample(32, dim).map(_.map(_.toFloat))
    probes.foreach { full =>
      val short = full.take(dim / 2)
      val padded = short ++ Array.fill(dim - short.length)(0.0f)
      model.centroids.take(8).foreach { cent =>
        assert(IvfIndex.Hier.sqDist(cent, short) == IvfIndex.Hier.sqDist(cent, padded))
      }
      // grouped assignment of the short vector == of its padded twin
      assert(model.nearestCell(short) == model.nearestCell(padded))
      assert(model.assignmentDistortion(short) == model.assignmentDistortion(padded))
      // flat probe path agrees with itself under padding too
      assert(model.nearestCells(short, 3) == model.nearestCells(padded, 3))
    }
  }

  test("nearestCells head survives forced extra-group widening (skewed geometry)") {
    // A geometry where the WProbeGroups nearest groups hold FEWER than n
    // centroids, so the search must widen — and the extra group contains
    // a centroid CLOSER than anything in the first groups. The head must
    // still be nearestCell's pick (the single-assignment invariant), with
    // the closer latecomer ranked after it.
    // Three singleton groups near the probe (scanned first), one far
    // group whose MEMBERS include a centroid closer to the probe than
    // anything in the scanned groups — the adversarial skew case.
    val centroids = Array(
      Array(0.0, 0.0, 0.0, 1.0),   // group A — nearestCell's pick
      Array(0.0, 0.0, 0.0, 1.2),   // group B
      Array(0.0, 0.0, 0.0, 1.4),   // group C
      Array(0.0, 0.0, 0.0, 5.0),   // group D (far center)
      Array(0.0, 0.0, 0.0, 5.2),   // group D
      Array(0.0, 0.0, 0.0, 1.05)   // group D — CLOSEST to the probe, but
                                   // invisible to the 3-group scan
    )
    val hier = IvfIndex.Hier(
      groupCenters = Array(
        Array(0.0, 0.0, 0.0, 1.0),
        Array(0.0, 0.0, 0.0, 1.2),
        Array(0.0, 0.0, 0.0, 1.4),
        Array(0.0, 0.0, 0.0, 5.1)),
      members = Array(Array(0), Array(1), Array(2), Array(3, 4, 5)))
    val probe: Array[Float] = Array(0f, 0f, 0f, 1.05f)
    // group-center distances: A=0.0025 < B=0.0225 < C=0.1225 << D — the
    // WProbeGroups=3 scan sees only centroids {0,1,2} and picks 0.
    val single = hier.nearestCell(probe, centroids)
    assert(single == 0)
    // n=4 exceeds the 3 candidates those groups hold → widening probes D,
    // which surfaces centroid 5 at distance ~0 — it must rank AFTER the
    // single-assignment cell, not displace it.
    val multi = hier.nearestCells(probe, centroids, n = 4)
    assert(multi.head == single,
      s"widening displaced the single-assignment cell: $multi vs $single")
    assert(multi.length == 4 && multi.distinct.length == 4)
    assert(multi.contains(5)) // the latecomer is still returned
  }

  test("assignCells returns n distinct cells, subset-consistent with the grouped search") {
    val k = IvfIndex.HierThreshold * 2
    val model = IvfIndex.trainFromSample(syntheticSample(1024), k, iters = 5)
    val probes = syntheticSample(64, 96).map(_.map(_.toFloat))
    probes.foreach { v =>
      val cells = model.assignCells(v, 3)
      assert(cells.length == 3 && cells.distinct.length == 3)
      // first assigned cell IS the single-assignment cell (same search)
      assert(cells.head == model.nearestCell(v))
    }
  }

  test("distributed trainer: deterministic across runs and partitionings") {
    val m1 = IvfIndex.trainDistributed(spark, emb, k = 8, iters = 3)
    val m2 = IvfIndex.trainDistributed(spark, emb.repartition(7), k = 8, iters = 3)
    m1.centroids.zip(m2.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b),
        "distributed training must be bit-identical across partitionings")
    }
  }

  test("distributed trainer: recall parity with the sampled trainer at equal k") {
    import org.apache.spark.sql.functions.col
    val k = 16
    val sampled = IvfIndex.train(spark, emb, k)
    val dist = IvfIndex.trainDistributed(spark, emb, k)
    val panel = AnnEval.queryPanel(spark, emb)
    val exact = AnnEval.exactTopK(spark, emb, panel, 10)
    def recallOf(m: IvfIndex.Model): Double = AnnEval.meanRecall(
      AnnEval.ivfTopKFrames(spark,
        IvfIndex.assign(spark, emb, m).filter(col("vec_id") =!= 0),
        m, panel, 10, nProbe = 4),
      exact)
    val (rs, rd) = (recallOf(sampled), recallOf(dist))
    // full-corpus Lloyd sees every vector the sample summarizes — parity
    // or better, minus panel quantization noise
    assert(rd >= rs - 0.05, f"distributed recall $rd%.3f vs sampled $rs%.3f")
  }

  test("train() routes past maxTrainCells to the distributed path instead of refusing") {
    // maxTrainCells = 4 forces the routing at a spec-sized corpus; the
    // result must be the distributed trainer's model, verbatim
    val routed = IvfIndex.train(spark, emb, k = 8, maxTrainCells = 4)
    val direct = IvfIndex.trainDistributed(spark, emb, k = 8)
    routed.centroids.zip(direct.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b))
    }
  }

  test("nearestCells/assignCells with n <= 0 return empty on BOTH paths") {
    // flat path (k below HierThreshold)
    val flat = IvfIndex.trainFromSample(syntheticSample(64), 8, iters = 2)
    // grouped path (k above HierThreshold)
    val grouped = IvfIndex.trainFromSample(
      syntheticSample(1024), IvfIndex.HierThreshold * 2, iters = 2)
    val v = syntheticSample(1).head.map(_.toFloat)
    for (n <- Seq(0, -1); m <- Seq(flat, grouped)) {
      assert(m.nearestCells(v, n).isEmpty)
      assert(m.assignCells(v, n).isEmpty)
    }
  }

  test("sampled trainer init is duplicate-free: a duplicate head cannot permanently starve a cell") {
    val base = syntheticSample(64)
    // duplicate the first vector into position 1: the old take(k) init
    // seeded two identical centroids, the strict d < bestD tie-break
    // starved the second cell every round, and empty-cells-keep-their-
    // centroid preserved the duplicate forever
    val dup = base.map(_.clone()); dup(1) = base(0).clone()
    val m = IvfIndex.trainFromSample(dup, k = 8, iters = 5)
    assert(m.centroids.map(_.toSeq).distinct.length == 8,
      "no two trained centroids may remain identical after a duplicate head")
    // a duplicate-free head reproduces the historical init bit-for-bit
    val m1 = IvfIndex.trainFromSample(base, 8, 5)
    val m2 = IvfIndex.trainFromSample(base.map(_.clone()), 8, 5)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
  }

  test("auto-nProbe: fixture floor pins 4; large geometries hold the measured cell fraction") {
    // every pinned fixture geometry (16 cells) resolves to the historical
    // nProbe 4 — declared oracles are bit-identical under auto resolution
    assert(IvfIndex.autoNProbe(16) == 4)
    assert(IvfIndex.autoNProbe(43) == 4)    // 1x drill geometry: floor
    // the measured SCALE.md §8 point: 1563 cells -> ~2.6% = 41 probes
    assert(IvfIndex.autoNProbe(1563) == 41)
    // constant fraction: the probed share stays ~NProbeFraction as k grows
    for (k <- Seq(500, 5000, 50000)) {
      val frac = IvfIndex.autoNProbe(k).toDouble / k
      assert(frac >= IvfIndex.NProbeFraction * 0.99 &&
        frac <= IvfIndex.NProbeFraction * 1.1, s"k=$k fraction $frac")
    }
    // sentinel resolution: explicit values pass through untouched
    assert(IvfIndex.resolveNProbe(IvfIndex.NProbeAuto, 16) == 4)
    assert(IvfIndex.resolveNProbe(7, 16) == 7)
  }
}
