package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{AnnCalibrate, AnnEval, IvfIndex, PqIndex, Sharded, ShardedIvf, ShardedPq}
import graft.sources.{FpStore, PosixMetaBackend, VectorIndexStore}

/** Empirical scaling drill: measure the artifact-heavy query families at
  * 1× and N× corpus size and report per-query (secs, rows_in,
  * shuffle_rows), so the 100 TB arguments in SCALE.md carry MEASURED
  * scaling ratios instead of plan-shape reasoning alone.
  *
  * The N× corpus is synthesized from the sf0.1 fixtures by unioning N
  * deterministic tranches (the v19 translated-tranche pattern — never
  * touches /root/testdata):
  *   - documents: tranche i shifts doc_id by i·10⁷, suffixes the source,
  *     and rewrites the text through a per-tranche seeded PERMUTATION of
  *     the letter and digit alphabets (one `translate`) — word
  *     boundaries, lengths, char classes and the WITHIN-tranche
  *     duplicate structure are preserved exactly, while hashes differ
  *     ACROSS tranches, so ground truth scales linearly (pairs/clusters/
  *     spans are exactly N copies of the base corpus's; see the
  *     in-method comment for why permutations, not rotations);
  *   - embeddings: vec_id shifted identically; the vector is rotated by
  *     i % dim positions and globally negated for i >= dim (128 distinct
  *     bijections — norms and within-tranche cosine structure preserved
  *     exactly, nothing duplicated across tranches up to scale 128).
  *
  * What runs is the drill [[table]]: named entries, each with the entries
  * it needs, in execution order. `SPARK_GRAFT_DRILL_ONLY=a,b` runs the
  * named entries plus everything they need (`Harness.select`); an absent
  * list runs every entry that is not opt-in. `SPARK_GRAFT_DRILL_DRYRUN`
  * prints the table and the selection without starting Spark.
  *
  * Store builds are timed separately on cold artifact roots; queries are
  * timed as first-run (may build remaining artifacts) plus min-of-2 warm
  * probes — the probe number is the steady-state cost the bench measures.
  *
  * Shuffle parallelism is the config a real deployment runs: AQE
  * coalescing DOWN from a high initial partition count
  * (`initialPartitionNum` = `SPARK_GRAFT_DRILL_PARTS`, default 256), so
  * the achieved partition count GROWS with the data and the reported
  * ratios are the achieved ones — not artifacts of a fixed partition
  * count that is right at one scale and wrong at the other (the round-10
  * drill held partitions=8 at every scale and had to footnote x07's
  * ratio as a config artifact).
  *
  * Output: one `DRILL {json}` line per measurement, mirrored to
  * `<outRoot>/drill_results.jsonl` (the Bench artifact pattern). When the
  * drilled scales include 1 and 10, a `DRILLCHECK` summary line asserts
  * the 1→10 time ratios stay inside per-family regression budgets — the
  * CI-grade guard that turns the next accidental quadratic (the round-10
  * flat-IVF build, the id-range block grid) into a failing run instead of
  * a prose finding. `SPARK_GRAFT_DRILL_NOCHECK` disables the exit-code
  * failure (measure-only mode); `SPARK_GRAFT_DRILL_EXPLAIN` additionally
  * prints a `DRILLPLAN` line per query with the AQE-final join/exchange
  * node census (how broadcast→shuffle plan transitions across scales are
  * evidenced, cf. SCALE.md on x03). `SPARK_GRAFT_DRILL_NPROBE`,
  * `_PARTS`, `_MASTER` and `_EXEC_MEM` set the probe width and the
  * session; there are no other knobs.
  */
object ScaleDrill {

  /** One drill entry: its `body` reports every row named in [[emits]]
    * that its scale produces, and runs only after the entries it `needs`.
    * An `optIn` entry runs only when named (or needed).
    */
  final case class Drill(name: String, needs: Seq[String] = Nil,
                         optIn: Boolean = false, rows: Seq[String] = Nil)(
                         val body: Scale => Unit) {
    /** The row names (timing and quality) this entry may report. */
    def emits: Seq[String] = if (rows.isEmpty) Seq(name) else rows
  }

  /** The drilled queries, in drill order. */
  val Queries: Seq[String] = Seq(
    "x02_jaccard_stats", "x03_minhash_neardup", "x06_dup_clusters",
    "x07_containment", "x11_curation_funnel", "x14_funnel_ivf_semantic",
    "x15_exact_substring_dedup", "v18_semdedup")

  private val Builds = Seq("build:shingle", "build:minhash", "build:substr")

  /** The BuildParallelism sweep's pool sizes (every recorded sweep ran these). */
  private val SweepPools = Seq(1, 2, 4, 8)

  /** The retrain, the calibration-staleness chain and every PQ calibration
    * and grading run to 10×: past it the exact panel oracle that grades
    * them dominates the measurement, not the verb.
    */
  private val GradedScaleCap = 10

  /** Shard count of the sharded IVF and sharded PQ drills. */
  private val Shards = 4

  /** The ~10%-selective predicate of every filtered row. */
  private def filterPred = col("label") === 3

  /** The corpus values the ANN entries share at one scale. */
  final case class Vectors(emb: DataFrame, cells: Int, probeQs: Seq[(Long, Array[Float])])

  /** One scale of one run: where the corpus is, how rows are reported,
    * and the values its ANN entries share. The persisted exact oracles
    * are forced when first used (by a grading, never inside a timed
    * body) and released when the scale ends.
    */
  final class Scale private[ScaleDrill] (val spark: SparkSession, val scale: Int,
      val dir: String, val outRoot: String, val top: Boolean, val nProbe: Int,
      out: Recorder) {
    def timed[T](body: => T): Harness.Work = Harness.measure(spark)(body)._2
    def report(name: String, phase: String, m: Harness.Work): Unit =
      out.report(scale, name, phase, m)
    /** A DRILLRECALL/DRILLCAL line; `fields` follow the scale and name. */
    def line(kind: String, name: String, fields: String): Unit =
      out.line(kind, scale, name, fields)
    /** Min-of-3 noop-sink timing of a probe plan, reported as `name`/probe. */
    def probe(name: String)(plan: => DataFrame): Unit =
      report(name, "probe", (1 to 3).map(_ => timed(noop(plan))).minBy(_.secs))
    /** recall@10 of `got` against `exact` as a DRILLRECALL line. */
    def grade(name: String, got: DataFrame, exact: DataFrame, extra: String = ""): Unit =
      line("DRILLRECALL", name, f""""recall_at_10":${AnnEval.meanRecall(got, exact)}%.3f$extra""")

    lazy val vectors: Vectors = {
      import spark.implicits._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cells = VectorIndexStore.autoCells(emb.count())
      Vectors(emb, cells, emb.orderBy("vec_id").limit(20)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq)
    }
    /** Exact top-10 of the panel over the whole corpus / its filtered slice. */
    lazy val exact: DataFrame = oracle(vectors.emb)
    lazy val exactF: DataFrame = oracle(vectors.emb.filter(filterPred))
    /** The width `calibrate:ivf_sharded` published (the stale-calibration grade quotes it). */
    var calWidth = 0

    private val held = ArrayBuffer.empty[DataFrame]
    /** A persisted, materialized exact top-10 oracle over `corpus`. */
    def oracle(corpus: DataFrame): DataFrame = {
      val o = AnnEval.exactTopK(spark, corpus, vectors.probeQs, 10)
        .persist(StorageLevel.MEMORY_AND_DISK)
      o.count()
      held += o
      o
    }
    private[ScaleDrill] def release(): Unit = held.foreach(_.unpersist())
  }

  /** Every reported row, in order, plus the persisted quality lines. */
  private final class Recorder(master: String) {
    val rows = ArrayBuffer.empty[(Int, String, String, Double, Long, Long)]
    val quality = ArrayBuffer.empty[String]
    var entry: Drill = _
    private def own(name: String): Unit =
      require(entry.emits.contains(name), s"drill ${entry.name} reported $name, which it does not list")

    def report(scale: Int, name: String, phase: String, m: Harness.Work): Unit = {
      own(name)
      rows += ((scale, name, phase, m.secs, m.rowsIn, m.shuffleRows))
      println(f"""DRILL {"scale":$scale,"name":"$name","phase":"$phase","secs":${m.secs}%.3f,"rows_in":${m.rowsIn},"shuffle_rows":${m.shuffleRows},"master":"$master"}""")
    }
    // DRILLRECALL/DRILLCAL payloads are PERSISTED into the drill artifact,
    // not just printed: every recall/width/shortlist a doc quotes must be
    // checkable against a committed .jsonl. The row keeps the stdout
    // payload verbatim plus a marker field ("recall_line"/"cal_line") so
    // artifact consumers can separate quality rows from timing rows.
    def line(kind: String, scale: Int, name: String, fields: String): Unit = {
      own(name)
      val json = s"""{"scale":$scale,"name":"$name",$fields}"""
      println(s"$kind $json")
      val marker = if (kind == "DRILLCAL") "cal_line" else "recall_line"
      quality += json.replaceFirst("\\{", s"""{"$marker":true,""")
    }
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
  private def rm(path: String): Unit = PosixMetaBackend.deleteRecursively(path)

  /** An entry over the shared corpus values of its scale (forced before the body). */
  private def ann(name: String, needs: Seq[String] = Nil, optIn: Boolean = false,
                  rows: Seq[String] = Nil)(body: (Scale, Vectors) => Unit): Drill =
    Drill(name, needs, optIn, rows)(s => body(s, s.vectors))

  /** The drill, in execution order. */
  val table: Seq[Drill] = Seq(
    // BuildParallelism SWEEP: cold sharded builds at S=8 under each pool
    // size, so Sharded.BuildParallelism is a measured constant (the
    // curve's knee), not a reasoned guess. A build that throws must not
    // leak its pool-size override into what the session builds afterwards.
    Drill("sweep:build_parallelism", optIn = true,
      rows = SweepPools.map(p => s"build:ivf_sharded_par$p")) { s =>
      import s._
      try for (p <- SweepPools) {
        spark.conf.set(Sharded.BuildParallelismConf, p.toString)
        rm(VectorIndexStore.shardedIvfPath(spark, dir, 8))
        report(s"build:ivf_sharded_par$p", "cold", timed {
          VectorIndexStore.ensureShardedIvf(spark, dir, 8); ()
        })
      } finally spark.conf.unset(Sharded.BuildParallelismConf)
    }) ++
  Seq[(String, (SparkSession, String) => String)](
    "build:shingle" -> (graft.sources.ShingleStore.ensure(_, _)),
    "build:minhash" -> (graft.sources.MinhashStore.ensure(_, _)),
    "build:substr" -> (graft.sources.SubstrStore.ensure(_, _))).map { case (name, build) =>
    // cold store build: resolve the artifact path by running ensure once
    // on a warm or cold store, then delete + rebuild cold for the number
    Drill(name) { s =>
      rm(build(s.spark, s.dir))
      s.report(name, "cold", s.timed { build(s.spark, s.dir); () })
    }
  } ++
  Queries.map { q =>
    Drill(q, needs = Builds) { s =>
      import s._
      val fn = SparkEntry.queries(q)
      def plan = fn(spark, dir)
      report(q, "first", timed(noop(plan)))
      report(q, "probe", (1 to 2).map(_ => timed(noop(plan))).minBy(_.secs))
      if (sys.env.contains("SPARK_GRAFT_DRILL_EXPLAIN"))
        println(s"""DRILLPLAN {"scale":$scale,"name":"$q",${planCensus(plan)}}""")
    }
  } ++ Seq(
    // Constant-occupancy IVF (autoCells) with its 20-query probe, graded
    // against exact kNN over the full corpus: the timing rows can't see a
    // broken grouped assignment (a quality bug probes just as fast); the
    // recall line can.
    ann("ivf", rows = Seq("build:ivf", "probe:ivf_knn20")) { (s, v) =>
      import s._, v._
      val path = VectorIndexStore.ivfPath(spark, dir, cells)
      rm(path)
      report("build:ivf", "cold", timed { VectorIndexStore.ensureIvf(spark, dir, cells); () })
      def knn = AnnEval.ivfTopK(spark, path, probeQs, k = 10, nProbe = nProbe)
      probe("probe:ivf_knn20")(knn)
      grade("probe:ivf_knn20", knn, exact)
    },
    // FILTERED probe (the v22 composition): the predicate applied to the
    // cell-partitioned vectors BEFORE scoring — partition pruning still
    // restricts the scan to the probed cells and the predicate pushes into
    // parquet, so the row stays in the flat class at ~selectivity× the
    // work. Recall decays with scale at fixed width (calibrate, not a
    // fixed width, is the deployment policy).
    ann("ivf_filtered", needs = Seq("ivf"), rows = Seq("probe:ivf_filtered")) { (s, v) =>
      import s._, v._
      val path = VectorIndexStore.ivfPath(spark, dir, cells)
      val model = IvfIndex.loadModel(spark, path)
      val fvecs = IvfIndex.loadVectors(spark, path).filter(filterPred)
      def knn = AnnEval.ivfTopKFrames(spark, fvecs, model, probeQs, k = 10, nProbe = nProbe)
      probe("probe:ivf_filtered")(knn)
      grade("probe:ivf_filtered", knn, exactF)
    },
    // DISTRIBUTED trainer at the same geometry — the off-driver Lloyd that
    // serves past IvfIndex.MaxTrainCells: one full train plus the
    // assignment sweep, graded on the same panel. Recall parity with
    // build:ivf is what makes the MaxTrainCells routing safe.
    ann("ivf_dist", rows = Seq("build:ivf_dist")) { (s, v) =>
      import s._, v._
      val vecs = emb.select(col("vec_id"), col("label"), col("embedding"))
      var model: IvfIndex.Model = null
      report("build:ivf_dist", "cold", timed {
        model = IvfIndex.trainDistributed(spark, vecs, cells)
        noop(IvfIndex.assign(spark, vecs, model))
      })
      grade("build:ivf_dist", AnnEval.ivfTopKFrames(spark,
        IvfIndex.assign(spark, vecs, model).filter(col("vec_id") =!= 0),
        model, probeQs, k = 10, nProbe = nProbe), exact)
    },
    // PAST-MAXTRAINCELLS build at the largest drilled scale: the geometry
    // the pre-round-13 engine refused, now routed to the distributed
    // trainer. Graded at the AUTO nProbe policy (a fixed 4 of 131k cells
    // would measure the floor, not the policy).
    ann("ivf_pastmax", optIn = true, rows = Seq("build:ivf_pastmax")) { (s, v) =>
      import s._, v._
      val kPast = IvfIndex.MaxTrainCells + 1
      lazy val n = emb.count()
      if (top && n < kPast) println(s"DRILL# pastmax skipped: corpus n=$n < k=$kPast")
      else if (top) {
        val vecs = emb.select(col("vec_id"), col("label"), col("embedding"))
        var pm: IvfIndex.Model = null
        report("build:ivf_pastmax", "cold", timed {
          pm = IvfIndex.train(spark, vecs, kPast)
          noop(IvfIndex.assign(spark, vecs, pm))
        })
        grade("build:ivf_pastmax", AnnEval.ivfTopKFrames(spark,
          IvfIndex.assign(spark, vecs, pm).filter(col("vec_id") =!= 0),
          pm, probeQs, k = 10, nProbe = IvfIndex.NProbeAuto), exact,
          s""","k":$kPast,"nprobe":${IvfIndex.autoNProbe(kPast)}""")
      }
    },
    // SHARDED-IVF lifecycle: cold ensureShardedIvf (one tagging pass + S
    // pruned concurrent per-shard builds), the plain and filtered probes,
    // and the one-pass calibration (nprobe.CAL holding recall@10 >= 0.9),
    // whose sentinel probe is graded on the drill's own panel — one the
    // calibration never saw.
    ann("ivf_sharded", rows = Seq("build:ivf_sharded", "probe:ivf_sharded",
        "probe:ivf_sharded_filtered", "calibrate:ivf_sharded", "probe:ivf_sharded_cal")) { (s, v) =>
      import s._, v._
      rm(VectorIndexStore.shardedIvfPath(spark, dir, Shards))
      report("build:ivf_sharded", "cold", timed {
        VectorIndexStore.ensureShardedIvf(spark, dir, Shards); ()
      })
      val path = VectorIndexStore.shardedIvfPath(spark, dir, Shards)
      def knn(pred: Option[org.apache.spark.sql.Column]) =
        AnnEval.shardedTopK(spark, path, Shards, probeQs, k = 10, nProbe = nProbe, predicate = pred)
      probe("probe:ivf_sharded")(knn(None))
      probe("probe:ivf_sharded_filtered")(knn(Some(filterPred)))
      grade("probe:ivf_sharded_filtered", knn(Some(filterPred)), exactF)
      grade("probe:ivf_sharded", knn(None), exact)
      report("calibrate:ivf_sharded", "cold", timed {
        val cal = VectorIndexStore.calibrateShardedIvf(spark, path, Shards, target = 0.9, k = 10)
        calWidth = cal.width
        line("DRILLCAL", "calibrate:ivf_sharded",
          f""""target":0.9,"width":${cal.width},"measured":${cal.measured}%.3f""")
      })
      grade("probe:ivf_sharded_cal", AnnEval.shardedTopK(spark, path, Shards, probeQs,
        k = 10, nProbe = IvfIndex.NProbeCalibrated), exact, s""","width":$calWidth""")
    },
    // RESHARD S=4 -> S'=8 from the artifact's own shard tables: one
    // re-tagging pass + 8 pruned rebuilds (the build:ivf_sharded work
    // class), graded on the same oracle — recall must not depend on S.
    ann("ivf_reshard", needs = Seq("ivf_sharded"),
        rows = Seq("reshard:ivf_sharded", "probe:ivf_resharded")) { (s, v) =>
      import s._, v._
      rm(s"$outRoot/resharded_x$scale")
      report("reshard:ivf_sharded", "cold", timed {
        ShardedIvf.reshard(spark, VectorIndexStore.shardedIvfPath(spark, dir, Shards),
          Shards, reshardedRoot(s), 2 * Shards)
      })
      grade("probe:ivf_resharded", AnnEval.shardedTopK(spark, reshardedRoot(s), 2 * Shards,
        probeQs, k = 10, nProbe = nProbe), exact, s""","shards":${2 * Shards}""")
    },
    // CATCH-UP reshard of the resharded artifact back to S=4: the unleased
    // snapshot rebuild, a quarter-corpus tranche landing in the window,
    // and the leased replay — the blocked window scales with the DELTA.
    // Runs on the drill-owned resharded artifact so the append never
    // perturbs the sharded artifact the staleness chain measures.
    ann("ivf_catchup", needs = Seq("ivf_reshard"), rows = Seq("reshard:ivf_catchup_build",
        "reshard:ivf_catchup_replay", "reshard:ivf_catchup")) { (s, v) =>
      rm(s"${s.outRoot}/catchup_x${s.scale}")
      drillCatchUp(s, "ivf", ShardedIvf, reshardedRoot(s), 2 * Shards,
        catchupRoot(s), Shards, catchupDelta(v.emb), None)
    },
    // DELETE on the caught-up artifact: a ~10% takedown routed to its
    // owning shards (cost ∝ deleted ids, never a corpus rewrite), the
    // tombstoned probe graded against a FRESH oracle over the remaining
    // corpus, then the physical apply (compact) — the probe must be
    // byte-equal across it and leave no sidecar behind.
    ann("ivf_delete", needs = Seq("ivf_catchup"), rows = Seq("delete:ivf_sharded",
        "probe:ivf_sharded_deleted", "compact:ivf_deleted")) { (s, v) =>
      import s._, v._
      val root = catchupRoot(s)
      val delIds = emb.filter(pmod(col("vec_id"), lit(10L)) === 6).select("vec_id")
      val nDel = delIds.count()
      report("delete:ivf_sharded", "cold", timed(ShardedIvf.delete(spark, root, Shards, delIds)))
      line("DRILLCAL", "delete:ivf_sharded", s""""deleted":$nDel""")
      def knn = AnnEval.shardedTopK(spark, root, Shards, probeQs, k = 10, nProbe = nProbe)
      var before: Array[org.apache.spark.sql.Row] = null
      report("probe:ivf_sharded_deleted", "probe", timed {
        before = knn.orderBy("qid", "vec_id").collect()
      })
      require(!before.exists(r => r.getLong(1) % 10 == 6 && r.getLong(1) < 5000000000L),
        s"a tombstoned id surfaced in the x$scale deleted probe")
      val remaining = emb.select(col("vec_id"), col("label"), col("embedding"))
        .filter(pmod(col("vec_id"), lit(10L)) =!= 6)
        .unionAll(catchupDelta(emb).select(col("vec_id"), col("label"), col("embedding")))
      grade("probe:ivf_sharded_deleted", knn, oracle(remaining), s""","deleted":$nDel""")
      report("compact:ivf_deleted", "cold", timed(ShardedIvf.compactShards(spark, root, Shards)))
      require(knn.orderBy("qid", "vec_id").collect().sameElements(before),
        s"x$scale probe changed across the physical apply (compact)")
      require((0 until Shards).forall(r =>
        graft.sources.Tombstones.read(spark, s"$root/shard=$r").isEmpty),
        s"x$scale compact left tombstone sidecars behind")
    },
    // CALIBRATION STALENESS under appends: appends do NOT invalidate
    // nprobe.CAL (the retrain drops it). Measured at its worst reachable
    // point: a drifted tranche sized just UNDER the retrain trigger (drift
    // <~ 1.8 of 2.0, sized by a halving loop), no shard retrains, and the
    // calibrated width graded against a fresh oracle over the APPENDED
    // corpus.
    ann("ivf_calstale", needs = Seq("ivf_sharded"),
        rows = Seq("probe:ivf_sharded_cal_stale")) { (s, v) =>
      import s._, v._
      val path = VectorIndexStore.shardedIvfPath(spark, dir, Shards)
      def tranche(eps: Float) = emb
        .filter(pmod(col("vec_id"), lit(4L)) === 0)
        .select((col("vec_id") + lit(5000000000L)).as("vec_id"), col("label"),
          transform(col("embedding"), x => x + lit(eps)).cast("array<float>").as("embedding"))
      def predictedMaxDrift(t: DataFrame): Double = (0 until Shards).map { r =>
        val m = IvfIndex.loadModel(spark, s"$path/shard=$r")
        val mean = IvfIndex.distortionStats(spark, t, m)
          .select(col("mean_sq_err").cast("double")).head().getDouble(0)
        val base = spark.read.parquet(s"$path/shard=$r/qerr").orderBy("append_seq")
          .select(col("mean_sq_err").cast("double")).head().getDouble(0)
        mean / base
      }.max
      if (scale <= GradedScaleCap) {
        var eps = 1.0f
        var tries = 0
        while (predictedMaxDrift(tranche(eps)) > 1.8 && tries < 6) { eps /= 2; tries += 1 }
        ShardedIvf.append(spark, path, Shards, tranche(eps))
        val retrained = ShardedIvf.retrainIfNeeded(spark, path, Shards)
        require(retrained == 0, s"cal-staleness premise broken at x$scale: " +
          s"eps=$eps drifted past the trigger ($retrained shards retrained)")
        val worstDrift = (0 until Shards).flatMap(r =>
          VectorIndexStore.driftFactor(spark, s"$path/shard=$r")).max
        val appended = (0 until Shards).map { r =>
          IvfIndex.loadVectors(spark, s"$path/shard=$r")
            .select(col("vec_id"), col("label"), col("embedding"))
        }.reduce(_ unionAll _)
        grade("probe:ivf_sharded_cal_stale", AnnEval.shardedTopK(spark, path, Shards, probeQs,
          k = 10, nProbe = IvfIndex.NProbeCalibrated),
          AnnEval.exactTopK(spark, appended, probeQs, 10),
          f""","width":$calWidth,"drift":$worstDrift%.3f,"eps":$eps""")
      }
    },
    // IVF-PQ at constant-occupancy coarse geometry: the filtered encoded
    // probe (the v23 plan: pruning + label pushdown over the ~32x-smaller
    // encoded parquet) and, up to the graded cap, the shortlist
    // calibrations. The AUTO width's ceiling sits below 0.9 on the drill
    // corpus, so both calibrations model the operator loop the ceiling
    // diagnostic prescribes — double the probe until the target is
    // reachable; the DOUBLINGS count is itself a measurement. The ceiling
    // exercise (0.999 at nProbe=1) must raise the diagnostic naming the
    // PROBE.
    ann("pq", rows = Seq("build:pq", "probe:pq_filtered", "calibrate:pq_filtered",
        "probe:pq_filtered_cal", "calibrate:pq", "probe:pq_cal", "calibrate:pq_ceiling")) { (s, v) =>
      import s._, v._
      rm(VectorIndexStore.pqPath(spark, dir, cells))
      report("build:pq", "cold", timed { VectorIndexStore.ensurePq(spark, dir, cells); () })
      val path = VectorIndexStore.pqPath(spark, dir, cells)
      val model = PqIndex.loadModel(spark, path)
      val fEnc = PqIndex.loadEncoded(spark, path).filter(col("vec_id") =!= 0).filter(filterPred)
      def knnF(np: Int, shortlist: Int = PqIndex.DefaultShortlist) =
        AnnEval.pqTopKFrames(spark, fEnc, model, emb, probeQs, k = 10, nProbe = np,
          shortlist = shortlist)
      probe("probe:pq_filtered")(knnF(nProbe))
      if (scale <= GradedScaleCap) {
        grade("probe:pq_filtered", knnF(nProbe), exactF, s""","nprobe":$nProbe""")
        // the FILTERED shortlist is per-workload (never published to
        // shortlist.CAL); its ceiling at a narrow width is the filtered
        // cell-pruning recall, so the probe doubles from the fixed width
        var npF = nProbe
        var calF: Option[(Int, Double)] = None
        var dblF = 0
        report("calibrate:pq_filtered", "cold", timed {
          while (calF.isEmpty) {
            calF = AnnCalibrate.calibrateFilteredShortlist(spark, Seq(path), emb, probeQs,
              k = 10, target = 0.9, predicate = filterPred, nProbe = npF)
            if (calF.isEmpty) {
              require(npF < cells,
                s"filtered PQ calibration at x$scale: 0.9 unreachable even at full probe")
              npF = math.min(2 * npF, cells); dblF += 1
            }
          }
          line("DRILLCAL", "calibrate:pq_filtered", f""""target":0.9,"shortlist":${calF.get._1},"measured":${calF.get._2}%.3f,"nprobe":$npF,"doublings":$dblF""")
        })
        grade("probe:pq_filtered_cal", knnF(npF, calF.get._1), exactF,
          s""","shortlist":${calF.get._1},"nprobe":$npF""")
        var cal: VectorIndexStore.PqShortCal = null
        var doublings = 0
        report("calibrate:pq", "cold", timed {
          val nCells = PqIndex.loadModel(spark, path).coarse.centroids.length
          var np = IvfIndex.autoNProbe(nCells)
          while (cal == null) {
            try cal = VectorIndexStore.calibratePqShortlist(spark, path, emb,
              target = 0.9, k = 10, nProbe = np)
            catch {
              // ONLY the ceiling diagnostic warrants a wider probe; any
              // other failure retried here would be mis-measured as
              // probe-widening until the loop ran out of cells
              case e: IllegalStateException
                if e.getMessage.contains("widen the PROBE") && np < nCells =>
                np = math.min(2 * np, nCells); doublings += 1
            }
          }
          line("DRILLCAL", "calibrate:pq", f""""target":0.9,"shortlist":${cal.shortlist},"measured":${cal.measured}%.3f,"nprobe":${cal.nProbe},"doublings":$doublings""")
        })
        // served at the width the calibration was sized for
        grade("probe:pq_cal", AnnEval.pqTopK(spark, path, emb, probeQs, k = 10,
          nProbe = cal.nProbe, shortlist = PqIndex.ShortlistCalibrated), exact,
          s""","shortlist":${cal.shortlist},"nprobe":${cal.nProbe}""")
        val ceilingNamed = try {
          VectorIndexStore.calibratePqShortlist(spark, path, emb, target = 0.999, k = 10, nProbe = 1)
          false
        } catch {
          case e: IllegalStateException => e.getMessage.contains("widen the PROBE")
        }
        line("DRILLCAL", "calibrate:pq_ceiling",
          s""""target":0.999,"nprobe":1,"raised_probe_diagnostic":$ceilingNamed""")
        require(ceilingNamed, s"pq ceiling exercise at x$scale: expected the " +
          "ceiling-aware diagnostic naming the probe")
      }
    },
    // SHARDED IVF-PQ: S encoded sub-indexes, per-shard ADC shortlists, one
    // exact re-rank — built cold, probed (plain and filtered, the v24
    // plan) and, up to the graded cap, shortlist-calibrated at the root
    // with the same widening loop (explicit np: the sharded sidecar
    // records the requested policy verbatim).
    ann("pq_sharded", rows = Seq("build:pq_sharded", "probe:pq_sharded",
        "probe:pq_sharded_filtered", "calibrate:pq_sharded", "probe:pq_sharded_cal")) { (s, v) =>
      import s._, v._
      rm(VectorIndexStore.shardedPqPath(spark, dir, Shards))
      report("build:pq_sharded", "cold", timed {
        VectorIndexStore.ensureShardedPq(spark, dir, Shards); ()
      })
      val path = VectorIndexStore.shardedPqPath(spark, dir, Shards)
      def knnF = AnnEval.shardedPqTopK(spark, path, Shards, emb, probeQs, k = 10,
        predicate = Some(filterPred))
      probe("probe:pq_sharded")(AnnEval.shardedPqTopK(spark, path, Shards, emb, probeQs, k = 10))
      probe("probe:pq_sharded_filtered")(knnF)
      if (scale <= GradedScaleCap) {
        grade("probe:pq_sharded_filtered", knnF, exactF)
        val maxShardCells = (0 until Shards).map(r =>
          PqIndex.loadModel(spark, s"$path/shard=$r").coarse.centroids.length).max
        var cal: VectorIndexStore.PqShortCal = null
        var np = 4
        var doublings = 0
        report("calibrate:pq_sharded", "cold", timed {
          while (cal == null) {
            try cal = VectorIndexStore.calibrateShardedPqShortlist(spark, path, Shards, emb,
              target = 0.9, k = 10, nProbe = np)
            catch {
              case e: IllegalStateException
                if e.getMessage.contains("widen the PROBE") && np < maxShardCells =>
                np = math.min(2 * np, maxShardCells); doublings += 1
            }
          }
          line("DRILLCAL", "calibrate:pq_sharded", f""""target":0.9,"shortlist":${cal.shortlist},"measured":${cal.measured}%.3f,"nprobe":${cal.nProbe},"doublings":$doublings""")
        })
        grade("probe:pq_sharded_cal", AnnEval.shardedPqTopK(spark, path, Shards, emb, probeQs,
          k = 10, nProbe = cal.nProbe, shortlist = PqIndex.ShortlistCalibrated), exact,
          s""","shortlist":${cal.shortlist},"nprobe":${cal.nProbe}""")
      }
    },
    // ENCODED catch-up reshard S=4 -> 2: phase 1 re-encodes from the cold
    // fp store (untimed setup writes it — a deployment's fp store already
    // exists); the replay is the blocked window over the code tables.
    ann("pq_catchup", needs = Seq("pq_sharded"), rows = Seq("reshard:pq_catchup_build",
        "reshard:pq_catchup_replay", "reshard:pq_catchup")) { (s, v) =>
      import s._, v._
      val fpDir = s"$outRoot/pq_fp_x$scale"
      val root = s"$outRoot/pq_catchup_x$scale"
      rm(fpDir)
      FpStore.upsert(spark, fpDir, emb)
      rm(root)
      drillCatchUp(s, "pq", ShardedPq, VectorIndexStore.shardedPqPath(spark, dir, Shards),
        Shards, s"$root/ix${Shards / 2}", Shards / 2,
        emb.filter(pmod(col("vec_id"), lit(4L)) === 2)
          .select((col("vec_id") + lit(7000000000L)).as("vec_id"), col("label"), col("embedding")),
        Some(fpDir))
      rm(fpDir)
      rm(root)
    },
    // DRIFT-RETRAIN (the v19 lifecycle, drill edition): a PQ artifact on
    // tranche A, a SHIFTED tranche B appended (drift > 2 by
    // construction), then the timed recall-gated retrain. The grading
    // panel stays fixed-size, and the re-rank shortlist scales with the
    // corpus as a deployment's would.
    Drill("retrain:pq") { s =>
      import s._
      if (scale <= GradedScaleCap) {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val trancheA = emb.select((col("vec_id") * 2).as("vec_id"), col("label"), col("embedding"))
        val trancheB = emb.select((col("vec_id") * 2 + 1).as("vec_id"), col("label"),
          transform(col("embedding"), x => x + lit(8.0f)).cast("array<float>").as("embedding"))
        val corpus = trancheA.unionAll(trancheB)
        val shortlist = math.max(50L, corpus.count() / 80L).toInt
        val root = s"$outRoot/retrain_x$scale"
        rm(root)
        VectorIndexStore.buildPqAt(spark, root, trancheA)
        VectorIndexStore.appendPq(spark, root, trancheB)
        report("retrain:pq", "cold", timed {
          val did = VectorIndexStore.retrainPqIfNeeded(spark, root, corpus, shortlist = shortlist)
          require(did, s"retrain:pq at x$scale: drift below threshold — " +
            "the drill premise (shifted tranche B) no longer drifts")
        })
      }
    },
    // CDC-LOG SINK chain: the seq-ordered feed sinks drilled per batch
    // shape over ONE shared log (each sink has its own checkpoint, so both
    // see identical batch boundaries):
    //   cold    — the whole corpus as one add segment (pointer build);
    //   steady  — a 10% add tranche + a 10% takedown in one batch;
    //   noreadd — a further 10% add tranche with sidecars PRESENT but no
    //             re-adds (the per-batch re-add probe overhead);
    //   readd   — re-adds of a 10%-of-deletes slice WITH changed text
    //             (owning-shard compacts + the payload-replacing append).
    Drill("cdc", rows = Seq("cdc:ivf_log", "cdc:pq_log")) { s =>
      import s._
      import graft.streaming.StreamingOps
      val cdcRoot = s"$outRoot/cdc_x$scale"
      rm(cdcRoot)
      val log = s"$cdcRoot/log"
      val docs = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      // seq = segment·stride + doc_id: distinct within a segment and
      // monotone PER ID across segments (the only order collapse needs);
      // the stride clears every shifted id the scaled corpus can hold
      val stride = 1000000000000L
      def logSeg(k: Int, op: String, rows: DataFrame): Unit = rows.select(
        (lit(k * stride) + col("doc_id")).as("seq"), lit(op).as("op"),
        col("doc_id").cast("long").as("doc_id"),
        (if (op == "add") col("text") else lit(null).cast("string")).as("text"))
        .write.mode("append").parquet(log)
      val deleted = docs.filter(pmod(col("doc_id"), lit(10L)) === 6)
      def shifted(m: Long, off: Long, tag: String) = docs
        .filter(pmod(col("doc_id"), lit(10L)) === m)
        .select((col("doc_id") + lit(off)).as("doc_id"), concat(col("text"), lit(tag)).as("text"))
      def ckpt(geometry: String) = s"${StreamingOps.ckptParent}/graft_cdc_${geometry}_x$scale"
      val sinks = Seq[(String, () => Unit)](
        "cdc:ivf_log" -> (() => StreamingOps.cdcLogShardedIngest(
          spark, log, s"$cdcRoot/ivf_home", 4, ckpt("ivf"))),
        "cdc:pq_log" -> (() => StreamingOps.cdcLogShardedPqIngest(
          spark, log, s"$cdcRoot/pq_home", 4, ckpt("pq"), s"$cdcRoot/fp")))
      def runAll(phase: String): Unit = for ((name, run) <- sinks) report(name, phase, timed(run()))
      try {
        logSeg(1, "add", docs)
        runAll("cold")
        logSeg(2, "add", shifted(1L, 5000000000L, " t2"))
        logSeg(2, "del", deleted)
        runAll("steady")
        logSeg(3, "add", shifted(2L, 6000000000L, " t3"))
        runAll("noreadd")
        logSeg(4, "add", deleted.filter(pmod(col("doc_id"), lit(100L)) === 6)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text")))
        runAll("readd")
      } finally {
        Seq("ivf", "pq").foreach(g => rm(ckpt(g)))
        rm(cdcRoot)
      }
    })

  private def reshardedRoot(s: Scale) = s"${s.outRoot}/resharded_x${s.scale}/ix${2 * Shards}"
  private def catchupRoot(s: Scale) = s"${s.outRoot}/catchup_x${s.scale}/ix$Shards"
  /** The quarter-corpus tranche that lands inside the IVF catch-up window. */
  private def catchupDelta(emb: DataFrame) = emb.filter(pmod(col("vec_id"), lit(4L)) === 1)
    .select((col("vec_id") + lit(6000000000L)).as("vec_id"), col("label"), col("embedding"))

  /** One catch-up reshard drill, either kind: the unleased snapshot
    * build (`reshard:<name>_catchup_build`), `delta` landing in the
    * window (persisted to the fp store first on an encoded
    * composition), and the leased replay — the measured blocked window
    * (`reshard:<name>_catchup_replay`) — which must carry exactly it.
    */
  private def drillCatchUp(s: Scale, name: String, sharded: Sharded,
                           root: String, shards: Int, newRoot: String, newShards: Int,
                           delta: DataFrame, fp: Option[String]): Unit = {
    import s._
    report(s"reshard:${name}_catchup_build", "cold", timed {
      sharded.reshardCatchUpBuild(spark, root, shards, newRoot, newShards, fp = fp)
    })
    val n = delta.count()
    fp.foreach(FpStore.upsert(spark, _, delta))
    sharded.append(spark, root, shards, delta)
    val (replayed, work) = Harness.measure(spark)(
      sharded.reshardCatchUpReplay(spark, root, shards, newRoot, newShards, fp))
    report(s"reshard:${name}_catchup_replay", "replay", work)
    require(replayed == n, s"$name catch-up replay at x$scale carried $replayed of $n appends")
    line("DRILLCAL", s"reshard:${name}_catchup", s""""replayed":$replayed,"blocked_phase":"replay"""")
  }

  /** AQE-final plan census for a query: executes the plan once (noop
    * row drain) so AdaptiveSparkPlanExec finalizes, then counts the
    * join/exchange physical nodes — the evidence trail for plan
    * transitions across scales (broadcast→sort-merge is invisible in
    * counters alone; it shows here as BHJ count dropping / SMJ rising).
    */
  private def planCensus(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.toRdd.count() // finalize AQE
    val s = qe.executedPlan.toString
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "Exchange", "AQEShuffleRead")
      .map(n => s""""$n":${n.r.findAllIn(s).length}""").mkString(",")
  }

  private lazy val byName = table.map(d => d.name -> d).toMap
  /** The entries a `SPARK_GRAFT_DRILL_ONLY` list runs (`Harness.select` over the table). */
  def select(only: Option[String]): Seq[String] =
    Harness.select("SPARK_GRAFT_DRILL_ONLY", only, table.map(_.name),
      byName(_).needs, byName(_).optIn)

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_DRILL_ONLY")
    val selected = Harness.selectOrExit("SPARK_GRAFT_DRILL_ONLY", only,
      table.map(_.name), byName(_).needs, byName(_).optIn)
    if (sys.env.contains("SPARK_GRAFT_DRILL_DRYRUN")) {
      println("ScaleDrill entries (x = selected by SPARK_GRAFT_DRILL_ONLY; needs; opt-in; rows):")
      table.foreach { d =>
        val mark = if (selected.contains(d.name)) "x" else " "
        println(f"  [$mark] ${d.name}%-26s needs=${d.needs.mkString(",")}%-14s" +
          s"${if (d.optIn) " opt-in" else ""} rows=${d.emits.mkString(",")}")
      }
      return
    }
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("/tmp/graft_scaledrill")
    val scales = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(1, 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val parts = sys.env.getOrElse("SPARK_GRAFT_DRILL_PARTS", "256").toInt
    // SPARK_GRAFT_DRILL_MASTER runs the SAME drill on a different master —
    // `local-cluster[2,4,6144]` puts every measured plan behind real
    // executor JVMs (run via plain `java -cp`, outside sbt, like
    // ClusterSmoke); counter rows are then directly comparable against a
    // single-JVM run at equal slot count, which is the multi-process
    // form of the determinism claim at DRILL scale (SCALE.md round-14).
    val master = sys.env.getOrElse("SPARK_GRAFT_DRILL_MASTER", s"local[$cpus]")
    // nProbe: fixed 4 (the default) measures probe FLATNESS across
    // scales; "auto" measures the ENGINE default policy (IvfIndex.autoNProbe
    // constant cell fraction — the hold-recall cost, SCALE.md §8)
    val nProbe = sys.env.get("SPARK_GRAFT_DRILL_NPROBE") match {
      case Some("auto") => IvfIndex.NProbeAuto
      case v => v.flatMap(_.toIntOption).getOrElse(4)
    }
    // deployment-shaped parallelism: start high, let AQE coalesce to
    // the data volume (parallelismFirst + 1 MB min partition are the
    // Spark defaults a real cluster runs with)
    val spark = Harness.session(master, parts,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> parts.toString,
      "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_DRILL_EXEC_MEM", "6g"))
    val out = new Recorder(master)

    for (scale <- scales) {
      val dir = ensureScaled(spark, baseDir, outRoot, scale)
      println(s"DRILL# corpus x$scale ready at $dir")
      val at = new Scale(spark, scale, dir, outRoot, scale == scales.max, nProbe, out)
      try for (d <- table if selected.contains(d.name)) {
        out.entry = d
        d.body(at)
      } finally at.release()
    }

    // ---- drill artifact (the Bench pattern): one JSONL row per line ----
    // timing rows first, then the persisted DRILLRECALL/DRILLCAL quality
    // rows — one committed artifact carries every number a doc may quote
    val rows = out.rows.toSeq
    val jsonl = (rows.map { case (sc, n, ph, secs, in, sh) =>
      f"""{"scale":$sc,"name":"$n","phase":"$ph","secs":$secs%.3f,"rows_in":$in,"shuffle_rows":$sh,"master":"$master"}"""
    } ++ out.quality).mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outRoot/drill_results.jsonl"),
      jsonl.getBytes("UTF-8"))
    println(s"DRILL# artifact: $outRoot/drill_results.jsonl " +
      s"(${rows.length} timing + ${out.quality.length} quality rows)")

    val noCheck = sys.env.contains("SPARK_GRAFT_DRILL_NOCHECK")
    if (scales.contains(1) && scales.contains(10)) {
      val checks = DrillCheck.evaluate(rows)
      val failed = checks.filterNot(_.ok)
      val detail = checks.map { c =>
        f""""${c.name}/${c.phase}":{"ratio":${c.ratio}%.2f,"budget":${c.budget},"ok":${c.ok}}"""
      }.mkString("{", ",", "}")
      println(s"""DRILLCHECK {"pass":${failed.isEmpty},"checks":$detail}""")
      if (failed.nonEmpty && !noCheck) {
        failed.foreach { c =>
          System.err.println(f"[drillcheck] ${c.name}/${c.phase} 1->10 ratio ${c.ratio}%.2f exceeds budget ${c.budget}") }
        spark.stop()
        sys.exit(1)
      }
    }
    // The 100× catch-up gate (round-17): the blocked replay's rows_in
    // must stay id-bookkeeping-shaped — the journal path reads the DELTA
    // plus per-shard ID-column idempotence scans, while a full-width
    // anti-join re-reads the corpus (measured 8.25 per corpus row at 100×,
    // SCALE_DRILL_r16_100x_prejournal.jsonl). A 1→100 RATIO cannot
    // separate the two (the drill's delta is corpus-proportional, so both
    // paths scale ~linearly); the per-corpus-row ABSOLUTE does. The
    // catchup BUILD row's rows_in IS the corpus (the snapshot read), so
    // the artifact carries its own denominator.
    for (hi <- scales.filter(_ >= 100); c <- DrillCheck.catchupAbsolute(rows, hi)) {
      println(f"""DRILLCHECK100 {"name":"${c.name}","scale":$hi,"ratio":${c.ratio}%.2f,"budget":${c.budget},"ok":${c.ok}}""")
      if (!c.ok && !noCheck) {
        System.err.println(f"[drillcheck] catch-up replay rows_in at x$hi is ${c.ratio}%.2f per corpus row (budget ${c.budget}) — the blocked window is re-reading the corpus, the journal path is not being taken")
        spark.stop()
        sys.exit(1)
      }
    }
    spark.stop()
  }

  /** The `scale`× corpus under `outRoot`, built once (see the object doc). */
  private def ensureScaled(spark: SparkSession, baseDir: String, outRoot: String,
                           scale: Int): String = {
    val dir = s"$outRoot/x$scale"
    graft.sources.PhysicalLayout.ensureDir(dir) { tmp =>
      new java.io.File(tmp).mkdirs()
      // Per-tranche LETTER+DIGIT PERMUTATIONS (round 14; replaces the
      // two-rotation-alphabet scheme): tranche i rewrites text through
      // one `translate` over a seeded Fisher-Yates permutation of the
      // 26 lowercase letters (mirrored on uppercase) plus the 10
      // digits. Lengths, word boundaries, char classes (letter vs
      // digit vs punctuation, case) and the WITHIN-tranche duplicate
      // structure are preserved exactly — bijections — while
      // cross-tranche collisions lose the old scheme's STRUCTURE:
      // under two 10-letter rotation alphabets, every shingle avoiding
      // one alphabet collided across ALL tranches sharing the other
      // rotation (its df grew ∝ scale/10, Σ C(df,2) quadratically —
      // SCALE.md r13 §3 measured that class producing most of x02's
      // 100× candidate mass). Full-alphabet seeded permutations leave
      // only tokens whose few distinct symbols happen to map
      // identically under two independent perms — unstructured, and
      // bounded by the birthday arithmetic of 26!-space (measured
      // negligible, SCALE.md round-14). Tranche 0 is the identity (the
      // base corpus verbatim); transforms are asserted pairwise
      // distinct, so the exactly-N× ground-truth premise holds by
      // construction for every token with enough symbol support.
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val digitsA = "0123456789"
      def perm(s: String, seed: Long): String = {
        val a = s.toCharArray
        val rnd = new java.util.Random(seed)
        var j = a.length - 1
        while (j > 0) {
          val k = rnd.nextInt(j + 1)
          val t = a(j); a(j) = a(k); a(k) = t
          j -= 1
        }
        new String(a)
      }
      val from = lower + lower.toUpperCase + digitsA
      val tos = (0 until scale).map { i =>
        if (i == 0) from
        else {
          val pl = perm(lower, 7919L * i)
          pl + pl.toUpperCase + perm(digitsA, 104729L * i + 1)
        }
      }
      require(tos.distinct.length == scale,
        "tranche text transforms must be pairwise distinct")
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val dim = embs.select(size(col("embedding"))).head().getInt(0)
      // past this bound vector tranches would repeat bijections and
      // silently break the exactly-N× ground-truth premise
      require(scale <= 2 * dim,
        s"scale $scale exceeds the distinct-transform budget " +
          s"(${2 * dim} vector bijections)")
      val scaledDocs = (0 until scale).map { i =>
        docs.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          (if (i == 0) col("text")
           else translate(col("text"), from, tos(i))).as("text"),
          col("lang"),
          concat(col("source"), lit(s"_t$i")).as("source"),
          col("n_chars"))
      }.reduce(_ unionAll _)
      val scaledEmbs = (0 until scale).map { i =>
        // rotation (i % dim) × optional global negation (i / dim) gives
        // 2·dim = 128 distinct vector bijections — enough for scale 100.
        // Both preserve WITHIN-tranche cosine structure exactly
        // (rotation permutes coordinates; cos(−a, −b) = cos(a, b)).
        val r = i % dim
        val rotated =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        val vec = if (i / dim == 0) rotated
                  else transform(rotated, x => -x)
        embs.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          vec.as("embedding"),
          col("label"))
      }.reduce(_ unionAll _)
      scaledDocs.repartition(math.max(4, scale))
        .write.parquet(s"$tmp/documents.parquet")
      scaledEmbs.repartition(math.max(2, scale / 2))
        .write.parquet(s"$tmp/embeddings.parquet")
      // top-level completeness marker for ensureDir's publish protocol
      graft.sources.Versioned.metaBackend.createMarker(s"$tmp/_SUCCESS")
    }
    dir
  }
}

/** The drill's regression guard, pure and spec-testable: 1→10 time-ratio
  * budgets per family. Budgets are ~2× the worst ratio the round-10/11
  * measured tables show for each family at exactly-10× work — wide
  * enough for host noise, narrow enough that a quadratic (ratio ≈ 100)
  * or the round-10 flat-IVF build (measured 38× at 10× under autoCells)
  * fails loudly. Sub-second pairs are skipped (pure noise). A crashing
  * drill (the round-10 id-range block-grid OOM) fails by nonzero exit
  * before this ever runs — the guard covers the quieter failure mode
  * where everything completes but one family's slope silently broke.
  */
object DrillCheck {
  final case class Check(name: String, phase: String, ratio: Double,
                         budget: Double, ok: Boolean)

  /** Pairs where BOTH endpoints are below this are skipped entirely —
    * two trivial wall-times carry no slope signal at all.
    */
  val MinSignalSecs = 0.5

  /** Denominator clamp for the TIME ratio: a 1× time below this is host
    * jitter, and dividing by it fabricates breaches out of noise (the
    * round-11 ADVICE case). The two constants are one policy: a pair
    * only carries signal above [[MinSignalSecs]], and within such a pair
    * the denominator is trusted down to the smaller [[NoiseFloorSecs]]
    * (both from the measured host noise band, SCALE.md "measurement
    * noise"). The clamp's known blind spot — a genuinely fast 1× time
    * hiding a real superlinear slope (t1 = 0.05 s real, t10 = 1.1 s is
    * ~22× but reads 1.1/0.3 = 3.7) — is closed by the WORK-COUNTER
    * checks below, which have no noise floor to clamp.
    */
  val NoiseFloorSecs = 0.3

  /** Counter-ratio checks skip pairs whose 1× counter is below this:
    * a sub-50k-row baseline means the 1× plan is broadcast-dominated and
    * the 10× ratio measures a LEGITIMATE broadcast→shuffle plan
    * transition (x03's root-caused 112× shuffle ratio on a 516-row
    * base), not the work slope.
    */
  val MinCounterBase = 50000L

  /** 1→10 rows_in budget for every time-budgeted pair: input scans are
    * exactly-linear by construction of the drill corpus (measured 5.8–11×
    * across every family, SCALE_DRILL_r11.jsonl), so 25 = generous
    * headroom that still fails a corpus getting rescanned per-key.
    */
  val RowsInBudget = 25.0

  /** Per-name 1→10 shuffle_rows budget, ~2× the worst measured ratio for
    * names whose 1× base clears [[MinCounterBase]]. x07's 120 reflects
    * its measured 59.7× — per-decade broadcast→SMJ transitions shift
    * join sides into the shuffle (SCALE.md round-11 §4), legitimate and
    * linear-per-plan; the budget still fails a true quadratic (~100× on
    * top of the transition).
    */
  def shuffleBudget(name: String): Option[Double] = name match {
    case n if n.startsWith("build:") => Some(25.0) // 9.0-11.7 measured
    case "reshard:ivf_sharded" => Some(25.0)       // build-class shuffle
      // (one repartition-by-shard tagging pass + per-shard cell writes)
    case "reshard:ivf_catchup_build" => Some(25.0) // same class, unleased
    case "reshard:pq_catchup_build" => Some(25.0)  // encoded re-encode:
      // one fp-scoped membership semi-join + per-shard PQ builds
    case "x02_jaccard_stats" => Some(21.0)         // 10.4 measured at 1→10 under
      // the r14 permutation generator (exactly linear; budget = ~2x
      // measured per the stated policy). Scope note: this 1→10 line
      // catches a true quadratic (~100x); the pre-r13 inter-sizes JOIN
      // layout measured 13.2 at 1→10 — UNDER this budget — and only
      // breaches at the 100x stage (its 2.3x shuffle multiple), so that
      // specific regression is guarded by the 100x drill, not this pair.
    case "x06_dup_clusters" => Some(25.0)          // 10.0 measured
    case "x07_containment" => Some(120.0)          // 59.7 measured: plan transitions
    case "x15_exact_substring_dedup" => Some(25.0) // 10.0 measured
    case "retrain:pq" => Some(30.0)                // 14.6 measured
    case _ => None
  }

  /** Per-(name, phase) TIME ratio budget; None = report-only (unguarded). */
  def budget(name: String, phase: String): Option[Double] = (name, phase) match {
    case (n, "cold") if n.startsWith("build:") => Some(25.0) // linear ≈ 10
    case ("retrain:pq", "cold") => Some(25.0)    // build-class path
    case ("reshard:ivf_sharded", "cold") => Some(25.0) // one re-tagging
      // pass + S' pruned concurrent rebuilds: the build:ivf_sharded work
      // class re-run at the new shard count — same linear budget
    case ("calibrate:ivf_sharded", "cold") => Some(25.0) // one exact panel
      // pass (Θ(panel·n), the retrain-recall-gate work class) + a
      // KB-sized rank join — linear by construction
    case ("calibrate:pq", "cold") => Some(25.0)  // one ADC pass over the
      // probed cells + the same exact panel pass — linear like the IVF
      // calibration
    case ("calibrate:pq_sharded", "cold") => Some(25.0) // same class,
      // unioned per-shard ADC frames + one window
    case ("calibrate:pq_filtered", "cold") => Some(25.0) // the filtered
      // shortlist calibration: a ~selectivity-sized slice of the
      // calibrate:pq work (filtered ADC pass + filtered exact pass)
    case ("reshard:ivf_catchup_build", "cold") => Some(25.0) // phase 1 of
      // the bounded-stall reshard — the reshard:ivf_sharded work class
      // (snapshot re-tag + pruned concurrent rebuilds), just unleased
    case ("delete:ivf_sharded", "cold") => Some(25.0) // S filtered passes
      // over the DELETED-ID set + owning-shard sidecar writes — linear
      // in the deletes (a ~10% takedown here), never a corpus rewrite;
      // a corpus-shaped ratio means the delete path scans the world
    case ("compact:ivf_deleted", "cold") => Some(25.0) // the physical
      // apply: per-shard pointer-published rewrites — the build-class
      // linear budget
    case ("probe:ivf_sharded_deleted", _) => Some(4.0) // the pruned-probe
      // class plus one broadcast anti-join per shard (build side = the
      // tombstone sidecar, ∝ deletes) — must stay flat like its
      // undeleted twin
    case ("reshard:ivf_catchup_replay", "replay") => Some(25.0) // the
      // blocked window: anti-join + hash-routed append of the landed
      // delta — linear in the DELTA (a quarter-corpus here), never the
      // corpus; a corpus-shaped ratio means the replay re-reads the
      // world and the protocol's point is lost
    case ("reshard:pq_catchup_build", "cold") => Some(25.0) // the unleased
      // encoded re-encode — build-class linear
    case ("reshard:pq_catchup_replay", "replay") => Some(25.0) // the
      // encoded blocked window: id-column anti-joins over codes + the
      // delta's fp fetch + re-encode — linear in corpus ids + delta
    case ("cdc:ivf_log" | "cdc:pq_log", _) => Some(25.0) // every CDC
      // batch shape is corpus-proportional by construction (cold = the
      // corpus, steady/noreadd = 10% tranches + the collapse window,
      // readd = shard-sized compacts of a fixed shard fraction) — the
      // linear budget; a breach means a per-batch cost went
      // corpus-shaped (a full-store anti-join, an unpruned probe)
    case ("probe:ivf_knn20", _) => Some(4.0)     // constant-occupancy: ~2.2-2.5 measured
    case ("probe:ivf_sharded", _) => Some(4.0)   // same pruned-probe class: the
      // union of S cell-pruned scans reads nProbe·S cells of constant
      // occupancy regardless of scale
    case ("probe:ivf_filtered", _) => Some(4.0)  // same class with a
      // pushed ~10%-selective predicate — strictly less work per cell
    case ("probe:ivf_sharded_filtered", _) => Some(4.0) // the filtered
      // probe class S times over (per-shard pruned pushdown scans) —
      // still flat; probe:pq_filtered / probe:pq_sharded_filtered stay
      // report-only like their unfiltered twin probe:pq_sharded (stated,
      // not silent: no measured base yet and their 1x times sit at the
      // MinSignalSecs boundary)
    case ("x03_minhash_neardup", "probe") |
         ("x15_exact_substring_dedup", "probe")
      => Some(4.0)                               // store-served: 1.1-2.1 measured
    case ("x02_jaccard_stats", "probe") => Some(7.0)   // 2.7-3.2 measured
    case ("x06_dup_clusters", "probe") => Some(4.0)    // 1.0-2.7 measured
    case ("x07_containment", "probe") => Some(18.0)    // 7.0-8.1 measured: linear
      // work at 10×; the 1× run underutilizes the executor (SCALE.md note)
    case ("x14_funnel_ivf_semantic", "probe") |
         ("v18_semdedup", "probe") => Some(9.0)  // 1.4-2.9 measured
    case ("x11_curation_funnel", "probe") => Some(22.0) // 6.5-10.0 measured —
      // the DECLARED exact mode does ~n²/2 distance evals by contract
      // below ExactSemanticCap (100k vectors); the cap bounds it, x14
      // measures the IVF path that serves above the cap
    case _ => None                               // report-only
  }

  /** The 100×+ catch-up ABSOLUTE gate (round-17): the blocked replay's
    * rows_in per CORPUS row — the catchup build's rows_in IS the corpus
    * (its snapshot read), so the artifact carries its own denominator.
    * A 1→N ratio cannot separate the journal path from a corpus re-read
    * (the drill's delta is corpus-proportional, both scale ~linearly);
    * the absolute can: the journal path measures 1.85–1.86 across three
    * decades (delta + ID-column idempotence bookkeeping,
    * SCALE_DRILL_r17_catchup100.jsonl) vs 8.2–8.25 for the pre-journal
    * full-width anti-join (SCALE_DRILL_r16_100x_prejournal.jsonl) —
    * budget 4.0 sits between the regimes with ~2× margin both ways.
    */
  val CatchupRowsPerCorpusRow = 4.0

  /** Evaluate the catch-up absolute gate at `scale`, when both catchup
    * rows are present there.
    */
  def catchupAbsolute(rows: Seq[(Int, String, String, Double, Long, Long)],
                      scale: Int): Option[Check] = {
    def rowsInOf(n: String) =
      rows.find(r => r._1 == scale && r._2 == n).map(_._5)
    for (corpus <- rowsInOf("reshard:ivf_catchup_build");
         replay <- rowsInOf("reshard:ivf_catchup_replay")) yield {
      val ratio = replay.toDouble / corpus
      Check("reshard:ivf_catchup_replay#rows_in_per_corpus_row", "replay",
        ratio, CatchupRowsPerCorpusRow, ratio <= CatchupRowsPerCorpusRow)
    }
  }

  /** Evaluate every budgeted (name, phase) present at BOTH scale 1 and
    * scale 10 in `rows` ((scale, name, phase, secs, rows_in, shuffle)).
    * Each pair yields up to three checks: the noise-clamped TIME ratio,
    * plus noise-free ROWS_IN and SHUFFLE ratios wherever the 1× counter
    * clears [[MinCounterBase]] — the counter checks are what catch a
    * superlinear regression whose 1× time sits under the clamp.
    */
  def evaluate(rows: Seq[(Int, String, String, Double, Long, Long)]): Seq[Check] = {
    val at = rows.groupBy(r => (r._2, r._3)).view
      .mapValues(rs => rs.map(r => r._1 -> (r._4, r._5, r._6)).toMap)
    at.toSeq.sortBy(_._1).flatMap { case ((name, phase), byScale) =>
      (byScale.get(1), byScale.get(10)) match {
        case (Some((t1, in1, sh1)), Some((t10, in10, sh10))) =>
          val time = for {
            b <- budget(name, phase)
            if math.max(t1, t10) >= MinSignalSecs // both trivial: noise
          } yield {
            // Clamp the denominator to the noise floor: a sub-noise 1×
            // time (t1 = 0.1 s, t10 = 0.6 s) must not fabricate a 6×
            // "breach" out of two measurements inside host jitter.
            val ratio = t10 / math.max(t1, NoiseFloorSecs)
            Check(name, phase, ratio, b, ratio <= b)
          }
          val rowsIn = for {
            _ <- budget(name, phase) // counters guard the time-budgeted set
            if in1 >= MinCounterBase
          } yield {
            val ratio = in10.toDouble / in1
            Check(s"$name#rows_in", phase, ratio, RowsInBudget, ratio <= RowsInBudget)
          }
          val shuffle = for {
            b <- shuffleBudget(name)
            if sh1 >= MinCounterBase
          } yield {
            val ratio = sh10.toDouble / sh1
            Check(s"$name#shuffle", phase, ratio, b, ratio <= b)
          }
          time.toSeq ++ rowsIn.toSeq ++ shuffle.toSeq
        case _ => Seq.empty
      }
    }
  }
}
