package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * evidenced, cf. SCALE.md on x03).
  */
object ScaleDrill {
  /** Knob → controlled rows, hand-maintained next to the gates it
    * documents (round-18: `SKIP_PROBE` used to gate the ENTIRE ANN
    * section, so "skip the probes" silently produced zero rows for the
    * sharded/catch-up/delete chains and cost a wasted full drill run).
    * `SPARK_GRAFT_DRILL_DRYRUN` prints this and exits; every run prints
    * the ACTIVE skip knobs up front.
    */
  private val knobMap: Seq[(String, String)] = Seq(
    "SKIP_BUILDS" -> "cold store builds: build:shingle build:minhash build:substr",
    "ONLY=a,b" -> "restrict the per-query rows and retrain:pq to the named ones",
    "SKIP_ANN" -> ("the ENTIRE ANN section: build:ivf* probe:* calibrate:* " +
      "reshard:* delete:* compact:* build:pq* (everything below nests in it)"),
    "SKIP_PROBE" -> ("standalone probe TIMING rows only: probe:ivf_knn20 " +
      "probe:ivf_filtered probe:ivf_sharded probe:ivf_sharded_filtered " +
      "probe:pq_filtered probe:pq_sharded probe:pq_sharded_filtered " +
      "(chain-integral probes like probe:ivf_sharded_deleted stay with " +
      "their chain's knob)"),
    "SKIP_RECALL" -> "every DRILLRECALL grading line (exact-oracle passes)",
    "SKIP_DIST" -> "build:ivf_dist (+ PASTMAX's build:ivf_pastmax, nested)",
    "SKIP_SHARDED" -> ("the sharded-IVF chain: build/probe/calibrate:ivf_sharded " +
      "AND the nested RESHARD / DELETE / CALSTALE chains"),
    "SKIP_RESHARD" -> ("reshard:ivf_sharded + reshard:ivf_catchup_build/replay " +
      "(nested in SKIP_SHARDED)"),
    "SKIP_DELETE" -> ("delete:ivf_sharded probe:ivf_sharded_deleted " +
      "compact:ivf_deleted (nested in SKIP_SHARDED > SKIP_RESHARD)"),
    "SKIP_CALSTALE" -> "the calibration-staleness chain (nested in SKIP_SHARDED)",
    "SKIP_PQCAL" -> ("the PQ section: build:pq probe:pq_filtered calibrate:pq* " +
      "AND the nested SHPQ chain"),
    "SKIP_SHPQ" -> ("the sharded-PQ chain: build/probe/calibrate:pq_sharded + " +
      "reshard:pq_catchup_build/replay (nested in SKIP_PQCAL)"),
    "SKIP_CDC" -> "the CDC-log sink chain: cdc:ivf_log cdc:pq_log rows",
    "NOCHECK" -> "downgrade DRILLCHECK/DRILLCHECK100 failures to warnings",
    "EXPLAIN" -> "additionally print DRILLPLAN node-census lines",
    "PASTMAX" -> "opt IN to the past-MaxTrainCells build at the top scale",
    "SWEEP_PAR=4,8" -> "opt IN to the BuildParallelism sweep (run alone)")

  def main(args: Array[String]): Unit = {
    if (sys.env.contains("SPARK_GRAFT_DRILL_DRYRUN")) {
      println("ScaleDrill knobs (prefix each with SPARK_GRAFT_DRILL_):")
      knobMap.foreach { case (k, v) => println(f"  $k%-14s $v") }
      return
    }
    sys.env.keys.filter(_.startsWith("SPARK_GRAFT_DRILL_SKIP")).toSeq.sorted
      .foreach { k =>
        val short = k.stripPrefix("SPARK_GRAFT_DRILL_")
        val doc = knobMap.find(_._1 == short).map(_._2).getOrElse("(unknown knob — check spelling)")
        println(s"DRILL# active knob $short: suppresses $doc")
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
    val all = Seq(
      "x02_jaccard_stats", "x03_minhash_neardup", "x06_dup_clusters",
      "x07_containment", "x11_curation_funnel", "x14_funnel_ivf_semantic",
      "x15_exact_substring_dedup", "v18_semdedup")
    // focus filter for drilling a subset (same contract as Bench's ONLY);
    // it also names the retrain:pq row
    val selected = Harness.selectOrExit("SPARK_GRAFT_DRILL_ONLY",
      sys.env.get("SPARK_GRAFT_DRILL_ONLY"), all :+ "retrain:pq")
    // deployment-shaped parallelism: start high, let AQE coalesce to
    // the data volume (parallelismFirst + 1 MB min partition are the
    // Spark defaults a real cluster runs with)
    val spark = Harness.session(master, parts,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> parts.toString,
      "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_DRILL_EXEC_MEM", "6g"))

    def timed[T](body: => T): Harness.Work = Harness.measure(spark)(body)._2
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Double, Long, Long)]
    def report(scale: Int, name: String, phase: String, m: Harness.Work): Unit = {
      rows += ((scale, name, phase, m.secs, m.rowsIn, m.shuffleRows))
      println(f"""DRILL {"scale":$scale,"name":"$name","phase":"$phase","secs":${m.secs}%.3f,"rows_in":${m.rowsIn},"shuffle_rows":${m.shuffleRows},"master":"$master"}""")
    }
    // DRILLRECALL/DRILLCAL payloads are PERSISTED into the drill artifact,
    // not just printed: every recall/width/shortlist a doc quotes must be
    // checkable against a committed .jsonl (round-15 verdict, What's
    // wrong #1 — the timing rows got this discipline in r14; the quality
    // rows get it here). The row keeps the stdout payload verbatim plus a
    // marker field ("recall_line"/"cal_line") so artifact consumers can
    // separate quality rows from timing rows.
    val extraRows = scala.collection.mutable.ArrayBuffer.empty[String]
    def drillLine(kind: String, json: String): Unit = {
      println(s"$kind $json")
      val marker = if (kind == "DRILLCAL") "cal_line" else "recall_line"
      extraRows += json.replaceFirst("\\{", s"""{"$marker":true,""")
    }

    /** One catch-up reshard drill, either kind: the unleased snapshot
      * build (`reshard:<name>_catchup_build`), `delta` landing in the
      * window (persisted to the fp store first on an encoded
      * composition), and the leased replay — the measured blocked window
      * (`reshard:<name>_catchup_replay`) — which must carry exactly it.
      */
    def drillCatchUp(scale: Int, name: String, sharded: graft.operators.Sharded,
                     root: String, shards: Int, newRoot: String, newShards: Int,
                     delta: DataFrame, fp: Option[String]): Unit = {
      report(scale, s"reshard:${name}_catchup_build", "cold", timed {
        sharded.reshardCatchUpBuild(spark, root, shards, newRoot, newShards, fp = fp)
      })
      val n = delta.count()
      fp.foreach(graft.sources.FpStore.upsert(spark, _, delta))
      sharded.append(spark, root, shards, delta)
      val (replayed, work) = Harness.measure(spark)(
        sharded.reshardCatchUpReplay(spark, root, shards, newRoot, newShards, fp))
      report(scale, s"reshard:${name}_catchup_replay", "replay", work)
      require(replayed == n,
        s"$name catch-up replay at x$scale carried $replayed of $n appends")
      drillLine("DRILLCAL", s"""{"scale":$scale,"name":"reshard:${name}_catchup","replayed":$replayed,"blocked_phase":"replay"}""")
    }

    /** AQE-final plan census for a query: executes the plan once (noop
      * row drain) so AdaptiveSparkPlanExec finalizes, then counts the
      * join/exchange physical nodes — the evidence trail for plan
      * transitions across scales (broadcast→sort-merge is invisible in
      * counters alone; it shows here as BHJ count dropping / SMJ rising).
      */
    def planCensus(df: DataFrame): String = {
      val qe = df.queryExecution
      qe.toRdd.count() // finalize AQE
      val s = qe.executedPlan.toString
      val nodes = Seq("BroadcastHashJoin", "SortMergeJoin",
        "ShuffledHashJoin", "BroadcastNestedLoopJoin", "Exchange",
        "AQEShuffleRead")
      nodes.map(n => s""""$n":${n.r.findAllIn(s).length}""").mkString(",")
    }

    def ensureScaled(scale: Int): String = {
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

    // The retrain-at-scale drill (below) runs to 10×: the recall-grading
    // half (exactTopK panel oracle) is what grades the retrain, and at
    // 100× the measurement would mostly time that oracle, not the engine.
    val retrainScaleCap = 10
    val m = SparkEntry.queries

    for (scale <- scales) {
      val dir = ensureScaled(scale)
      println(s"DRILL# corpus x$scale ready at $dir")
      // BuildParallelism SWEEP (opt-in, SPARK_GRAFT_DRILL_SWEEP_PAR =
      // comma list of pool sizes): cold sharded builds at S=8 under each
      // pool size, so Sharded.BuildParallelism is a measured constant
      // (the curve's knee), not a reasoned guess. Run alone — the sweep
      // is its own drill mode.
      sys.env.get("SPARK_GRAFT_DRILL_SWEEP_PAR").foreach { spec =>
        val sweepShards = 8
        // a sweep build that throws must not leak its pool-size override
        // into everything the session builds afterwards
        try {
          for (p <- spec.split(",").map(_.trim.toInt)) {
            spark.conf.set(graft.operators.Sharded.BuildParallelismConf, p.toString)
            graft.sources.PosixMetaBackend.deleteRecursively(
              graft.sources.VectorIndexStore.shardedIvfPath(spark, dir, sweepShards))
            report(scale, s"build:ivf_sharded_par$p", "cold", timed {
              graft.sources.VectorIndexStore.ensureShardedIvf(spark, dir, sweepShards)
              ()
            })
          }
        } finally spark.conf.unset(graft.operators.Sharded.BuildParallelismConf)
      }
      // cold store builds, timed individually (delete any prior artifact)
      val builds = if (sys.env.contains("SPARK_GRAFT_DRILL_SKIP_BUILDS"))
        Seq.empty else Seq[(String, () => String)](
        ("build:shingle", () => graft.sources.ShingleStore.ensure(spark, dir)),
        ("build:minhash", () => graft.sources.MinhashStore.ensure(spark, dir)),
        ("build:substr", () => graft.sources.SubstrStore.ensure(spark, dir)))
      for ((name, build) <- builds) {
        // resolve the artifact path by running ensure once on a warm or
        // cold store, then delete + rebuild cold for the timed number
        val p = build()
        graft.sources.PosixMetaBackend.deleteRecursively(p)
        report(scale, name, "cold", timed { build(); () })
      }
      for (q <- selected if all.contains(q)) {
        val fn = m(q)
        report(scale, q, "first", timed {
          fn(spark, dir).write.mode("overwrite").format("noop").save()
        })
        val probes = (1 to 2).map { _ =>
          timed { fn(spark, dir).write.mode("overwrite").format("noop").save() }
        }
        report(scale, q, "probe", probes.minBy(_.secs))
        if (sys.env.contains("SPARK_GRAFT_DRILL_EXPLAIN"))
          println(s"""DRILLPLAN {"scale":$scale,"name":"$q",${planCensus(fn(spark, dir))}}""")
      }
      // ANN section (everything below until retrain:pq): constant-
      // occupancy IVF geometry, the sharded / encoded / catch-up /
      // delete chains, calibration. Gated by SKIP_ANN as a WHOLE;
      // SKIP_PROBE now gates only the standalone probe timing rows
      // inside it (round-18 knob orthogonality: SKIP_PROBE used to hide
      // the entire section, silently yielding zero rows for chains the
      // other SKIP knobs claim to control — see knobMap/DRYRUN).
      if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_ANN")) {
        import spark.implicits._
        val skipProbeRows = sys.env.contains("SPARK_GRAFT_DRILL_SKIP_PROBE")
        // nProbe knob: fixed 4 (the default here) measures probe FLATNESS
        // across scales; "auto" measures the ENGINE default policy
        // (IvfIndex.autoNProbe constant cell fraction — the hold-recall
        // cost, see the DRILLRECALL notes and SCALE.md §8)
        val nProbe = sys.env.get("SPARK_GRAFT_DRILL_NPROBE") match {
          case Some("auto") => graft.operators.IvfIndex.NProbeAuto
          case v => v.flatMap(_.toIntOption).getOrElse(4)
        }
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val cells = graft.sources.VectorIndexStore.autoCells(emb.count())
        graft.sources.PosixMetaBackend.deleteRecursively(
          graft.sources.VectorIndexStore.ivfPath(spark, dir, cells))
        report(scale, s"build:ivf", "cold", timed {
          graft.sources.VectorIndexStore.ensureIvf(spark, dir, cells); ()
        })
        val ivfPath = graft.sources.VectorIndexStore.ivfPath(spark, dir, cells)
        val probeQs = emb.orderBy("vec_id").limit(20)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])].collect().toSeq
        if (!skipProbeRows) {
          val reps = (1 to 3).map { _ =>
            timed {
              graft.operators.AnnEval
                .ivfTopK(spark, ivfPath, probeQs, k = 10, nProbe = nProbe)
                .write.mode("overwrite").format("noop").save()
            }
          }
          report(scale, "probe:ivf_knn20", "probe", reps.minBy(_.secs))
        }
        // Recall gate for the ACCELERATED build: the same 20-query probe
        // graded against exact kNN over the full corpus (one broadcast
        // pass — cheap at drill sizes). The timing rows can't see a
        // broken grouped assignment (a quality bug probes just as fast);
        // this line can — recall collapsing across scales would mean the
        // hierarchical build is mis-assigning, not merely accelerating.
        if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) {
          val exact = graft.operators.AnnEval.exactTopK(spark, emb, probeQs, 10)
          val got = graft.operators.AnnEval.ivfTopK(spark, ivfPath, probeQs,
            k = 10, nProbe = nProbe)
          val r = graft.operators.AnnEval.meanRecall(got, exact)
          drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_knn20","recall_at_10":$r%.3f}""")
        }
        // FILTERED probe (the v22 composition at drill scale): the same
        // fixed-width 20-query probe with a ~10%-selective predicate
        // (label = 3) applied to the cell-partitioned vectors BEFORE
        // scoring — partition pruning still restricts the scan to the
        // probed cells and the predicate pushes into parquet
        // (PlanSpec-guarded), so the row stays in the flat
        // constant-occupancy class with ~selectivity× the cosine work
        // and shuffle of the unfiltered row. Graded against the exact
        // FILTERED top-k (recall decays with scale at fixed width for
        // the same geometry reason as the sharded row — the calibrate
        // verb, not a fixed width, is the deployment policy).
        locally {
          val model = graft.operators.IvfIndex.loadModel(spark, ivfPath)
          val fvecs = graft.operators.IvfIndex.loadVectors(spark, ivfPath)
            .filter(col("label") === 3)
          if (!skipProbeRows) {
            val repsF = (1 to 3).map { _ =>
              timed {
                graft.operators.AnnEval
                  .ivfTopKFrames(spark, fvecs, model, probeQs, k = 10,
                    nProbe = nProbe)
                  .write.mode("overwrite").format("noop").save()
              }
            }
            report(scale, "probe:ivf_filtered", "probe", repsF.minBy(_.secs))
          }
          if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) {
            val exactF = graft.operators.AnnEval.exactTopK(spark,
              emb.filter(col("label") === 3), probeQs, 10)
            val gotF = graft.operators.AnnEval.ivfTopKFrames(spark, fvecs,
              model, probeQs, k = 10, nProbe = nProbe)
            val rF = graft.operators.AnnEval.meanRecall(gotF, exactF)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_filtered","recall_at_10":$rF%.3f}""")
          }
        }
        // DISTRIBUTED trainer at the SAME constant-occupancy geometry —
        // the off-driver Lloyd that serves past IvfIndex.MaxTrainCells,
        // drilled at every scale: one full train (iters corpus sweeps +
        // deterministic per-cell sums) plus the assignment sweep, then
        // the same 20-query panel graded against the same exact oracle.
        // Recall parity with the sampled build:ivf above is what makes
        // the MaxTrainCells routing safe; the time/counter row shows the
        // build staying linear (budget: the build: 25x family line).
        if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_DIST")) {
          val vecsDf = emb.select(col("vec_id"), col("label"), col("embedding"))
          var distModel: graft.operators.IvfIndex.Model = null
          report(scale, "build:ivf_dist", "cold", timed {
            distModel = graft.operators.IvfIndex.trainDistributed(spark, vecsDf, cells)
            graft.operators.IvfIndex.assign(spark, vecsDf, distModel)
              .write.mode("overwrite").format("noop").save()
          })
          if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) {
            val exactD = graft.operators.AnnEval.exactTopK(spark, emb, probeQs, 10)
            val gotD = graft.operators.AnnEval.ivfTopKFrames(spark,
              graft.operators.IvfIndex.assign(spark, vecsDf, distModel)
                .filter(col("vec_id") =!= 0),
              distModel, probeQs, k = 10, nProbe = nProbe)
            val rD = graft.operators.AnnEval.meanRecall(gotD, exactD)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"build:ivf_dist","recall_at_10":$rD%.3f}""")
          }
          // PAST-MAXTRAINCELLS build (opt-in knob): the exact geometry
          // the pre-round-13 engine REFUSED (k > MaxTrainCells threw,
          // naming a design path). train() now routes it to the
          // distributed trainer — build it once at the largest drilled
          // scale with enough vectors, so the routed regime has a
          // measured row, not just a spec at a toy maxTrainCells. The
          // probe grades with the AUTO nProbe policy (a fixed 4 of 131k
          // cells would measure the floor, not the policy).
          if (sys.env.contains("SPARK_GRAFT_DRILL_PASTMAX") && scale == scales.max) {
            val kPast = graft.operators.IvfIndex.MaxTrainCells + 1
            val n = emb.count()
            if (n >= kPast) {
              var pm: graft.operators.IvfIndex.Model = null
              report(scale, "build:ivf_pastmax", "cold", timed {
                pm = graft.operators.IvfIndex.train(spark, vecsDf, kPast)
                graft.operators.IvfIndex.assign(spark, vecsDf, pm)
                  .write.mode("overwrite").format("noop").save()
              })
              if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) {
                val exactP = graft.operators.AnnEval.exactTopK(spark, emb, probeQs, 10)
                val gotP = graft.operators.AnnEval.ivfTopKFrames(spark,
                  graft.operators.IvfIndex.assign(spark, vecsDf, pm)
                    .filter(col("vec_id") =!= 0),
                  pm, probeQs, k = 10,
                  nProbe = graft.operators.IvfIndex.NProbeAuto)
                val rP = graft.operators.AnnEval.meanRecall(gotP, exactP)
                drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"build:ivf_pastmax","recall_at_10":$rP%.3f,"k":$kPast,"nprobe":${graft.operators.IvfIndex.autoNProbe(kPast)}}""")
              }
            } else
              println(s"DRILL# pastmax skipped: corpus n=$n < k=$kPast")
          }
        }
        // SHARDED-IVF lifecycle at drill scale (round 14 — the
        // store-grade composition past the single-quantizer broadcast
        // ceiling): cold ensureShardedIvf is ONE tagging pass writing
        // shard-partitioned vectors plus S pruned, concurrent per-shard
        // builds; the probe is AnnEval.shardedTopK — same panel, same
        // exact oracle, same DRILLRECALL machinery as every other index
        // path, so the composition's overhead and recall are graded
        // identically to the single index it generalizes.
        if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_SHARDED")) {
          val shards = 4
          graft.sources.PosixMetaBackend.deleteRecursively(
            graft.sources.VectorIndexStore.shardedIvfPath(spark, dir, shards))
          report(scale, "build:ivf_sharded", "cold", timed {
            graft.sources.VectorIndexStore.ensureShardedIvf(spark, dir, shards)
            ()
          })
          val shPath = graft.sources.VectorIndexStore.shardedIvfPath(spark, dir, shards)
          if (!skipProbeRows) {
            val repsS = (1 to 3).map { _ =>
              timed {
                graft.operators.AnnEval
                  .shardedTopK(spark, shPath, shards, probeQs, k = 10, nProbe = nProbe)
                  .write.mode("overwrite").format("noop").save()
              }
            }
            report(scale, "probe:ivf_sharded", "probe", repsS.minBy(_.secs))
          }
          // FILTERED probe on the COMPOSITION (round 16): the
          // probe:ivf_filtered predicate (label = 3, ~10% selective)
          // applied to each shard's cell-partitioned vectors before its
          // probe — S partition-pruned pushdown scans, so the row stays
          // in the flat class at ~selectivity x the unfiltered sharded
          // probe's work (the batch mirror of ShardedIvf.searchFiltered)
          if (!skipProbeRows) {
            val repsSF = (1 to 3).map { _ =>
              timed {
                graft.operators.AnnEval
                  .shardedTopK(spark, shPath, shards, probeQs, k = 10,
                    nProbe = nProbe, predicate = Some(col("label") === 3))
                  .write.mode("overwrite").format("noop").save()
              }
            }
            report(scale, "probe:ivf_sharded_filtered", "probe", repsSF.minBy(_.secs))
          }
          if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) {
            val exactSF = graft.operators.AnnEval.exactTopK(spark,
              emb.filter(col("label") === 3), probeQs, 10)
            val gotSF = graft.operators.AnnEval.shardedTopK(spark, shPath,
              shards, probeQs, k = 10, nProbe = nProbe,
              predicate = Some(col("label") === 3))
            val rSF = graft.operators.AnnEval.meanRecall(gotSF, exactSF)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_sharded_filtered","recall_at_10":$rSF%.3f}""")
          }
          if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) {
            // persisted: the Θ(panel·n) exact pass grades BOTH the fixed
            // and the calibrated probe below — don't pay it twice
            val exactS = graft.operators.AnnEval.exactTopK(spark, emb, probeQs, 10)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val gotS = graft.operators.AnnEval.shardedTopK(spark, shPath, shards,
              probeQs, k = 10, nProbe = nProbe)
            val rS = graft.operators.AnnEval.meanRecall(gotS, exactS)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_sharded","recall_at_10":$rS%.3f}""")
            // CALIBRATION at drill scale: the engine sizes the per-shard
            // width holding recall@10 >= 0.9 on ITS artifact in one exact
            // pass (AnnCalibrate's capture-width curve) and publishes the
            // nprobe.CAL sidecar; a sentinel probe is then graded against
            // the SAME exact oracle (on the drill's own panel, which the
            // calibration never saw — its internal panel is hash-picked
            // from the artifact corpus). This is the measured sizing-table
            // answer to the sharded recall trade, produced per scale by
            // the engine itself instead of a hand-run sweep.
            var calW = 0
            report(scale, "calibrate:ivf_sharded", "cold", timed {
              val cal = graft.sources.VectorIndexStore.calibrateShardedIvf(
                spark, shPath, shards, target = 0.9, k = 10)
              calW = cal.width
              drillLine("DRILLCAL", f"""{"scale":$scale,"name":"calibrate:ivf_sharded","target":0.9,"width":${cal.width},"measured":${cal.measured}%.3f}""")
            })
            val gotC = graft.operators.AnnEval.shardedTopK(spark, shPath, shards,
              probeQs, k = 10, nProbe = graft.operators.IvfIndex.NProbeCalibrated)
            val rC = graft.operators.AnnEval.meanRecall(gotC, exactS)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_sharded_cal","recall_at_10":$rC%.3f,"width":$calW}""")
            // RESHARD at drill scale (round 15): S=4 -> S'=8 from the
            // artifact's own shard tables — the growth verb for the shard
            // count. One re-tagging pass + 8 pruned concurrent rebuilds,
            // so the cold time is the build:ivf_sharded work class and its
            // 1->10 ratio must stay linear under the same budget. The
            // resharded probe is graded against the SAME persisted exact
            // oracle: composition recall must be geometry-equivalent
            // (same corpus, same per-shard auto policy) regardless of S.
            if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RESHARD")) {
              val reshRoot = s"$outRoot/resharded_x$scale/ix${2 * shards}"
              graft.sources.PosixMetaBackend.deleteRecursively(s"$outRoot/resharded_x$scale")
              report(scale, "reshard:ivf_sharded", "cold", timed {
                graft.operators.ShardedIvf.reshard(
                  spark, shPath, shards, reshRoot, 2 * shards)
              })
              val gotR = graft.operators.AnnEval.shardedTopK(spark, reshRoot,
                2 * shards, probeQs, k = 10, nProbe = nProbe)
              val rR = graft.operators.AnnEval.meanRecall(gotR, exactS)
              drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_resharded","recall_at_10":$rR%.3f,"shards":${2 * shards}}""")
              // CATCH-UP reshard (round 16): the bounded-stall protocol,
              // split at the lease — the corpus-sized snapshot rebuild
              // holds NO lease (appends keep landing; a quarter-corpus
              // tranche lands between the phases to prove it), and the
              // REPLAY row is the measured blocked window: the landed
              // delta's anti-join + hash-routed append. The
              // build-vs-replay ratio at each scale is the protocol's
              // point — the blocked window scales with the DELTA, not
              // the corpus. Runs on the drill-owned resharded artifact
              // so the append never perturbs shPath's later
              // cal-staleness measurement.
              val cuRoot = s"$outRoot/catchup_x$scale/ix$shards"
              graft.sources.PosixMetaBackend.deleteRecursively(s"$outRoot/catchup_x$scale")
              val cuDelta = emb.filter(pmod(col("vec_id"), lit(4L)) === 1)
                .select((col("vec_id") + lit(6000000000L)).as("vec_id"),
                  col("label"), col("embedding"))
              drillCatchUp(scale, "ivf", graft.operators.ShardedIvf,
                reshRoot, 2 * shards, cuRoot, shards, cuDelta, None)
              // DELETE at drill scale (round 16): the tombstone verb on
              // the caught-up artifact — a ~10% takedown routed to its
              // owning shards (cost ∝ deleted ids: S filtered passes
              // over the ID SET plus sidecar writes, never a corpus
              // rewrite — the delete-vs-compact time gap at each scale
              // is the verb's point). The tombstoned probe is the
              // standard pruned-probe class plus one broadcast
              // anti-join per shard; graded against a FRESH exact
              // oracle over the remaining corpus (the ground truth
              // changes with the corpus — reusing exactS would grade
              // against deleted neighbors). Compaction then applies the
              // tombstones physically; the probe must be byte-equal
              // across it.
              if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_DELETE")) {
                val delIds = emb.filter(pmod(col("vec_id"), lit(10L)) === 6)
                  .select("vec_id")
                val nDel = delIds.count()
                report(scale, "delete:ivf_sharded", "cold", timed {
                  graft.operators.ShardedIvf.delete(spark, cuRoot, shards, delIds)
                })
                drillLine("DRILLCAL", s"""{"scale":$scale,"name":"delete:ivf_sharded","deleted":$nDel}""")
                val remaining = emb
                  .select(col("vec_id"), col("label"), col("embedding"))
                  .filter(pmod(col("vec_id"), lit(10L)) =!= 6)
                  .unionAll(cuDelta
                    .select(col("vec_id"), col("label"), col("embedding")))
                val exactD = graft.operators.AnnEval
                  .exactTopK(spark, remaining, probeQs, 10)
                  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                def probeD = graft.operators.AnnEval.shardedTopK(spark, cuRoot,
                  shards, probeQs, k = 10, nProbe = nProbe)
                var gotD1: Array[org.apache.spark.sql.Row] = null
                report(scale, "probe:ivf_sharded_deleted", "probe", timed {
                  gotD1 = probeD.orderBy("qid", "vec_id").collect()
                })
                require(!gotD1.exists(r => r.getLong(1) % 10 == 6 &&
                    r.getLong(1) < 5000000000L),
                  s"a tombstoned id surfaced in the x$scale deleted probe")
                val rD = graft.operators.AnnEval.meanRecall(probeD, exactD)
                exactD.unpersist()
                drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_sharded_deleted","recall_at_10":$rD%.3f,"deleted":$nDel}""")
                report(scale, "compact:ivf_deleted", "cold", timed {
                  graft.operators.ShardedIvf.compactShards(spark, cuRoot, shards)
                })
                val gotD2 = probeD.orderBy("qid", "vec_id").collect()
                require(gotD2.sameElements(gotD1),
                  s"x$scale probe changed across the physical apply (compact)")
                require((0 until shards).forall(r => graft.sources.Tombstones
                  .read(spark, s"$cuRoot/shard=$r").isEmpty),
                  s"x$scale compact left tombstone sidecars behind")
              }
            }
            // CALIBRATION STALENESS under appends (round 15): the policy
            // is that appends do NOT invalidate nprobe.CAL — the qerr
            // watermarks that schedule the retrain bound the staleness,
            // and the retrain is what drops the sidecar. This measures
            // that bound at its WORST reachable point: append a drifted
            // tranche sized just UNDER the retrain trigger (drift factor
            // <~ 1.8 of 2.0, sized by one predicted-distortion probe and
            // a halving loop), confirm no shard retrains, then grade the
            // calibrated width's recall against a fresh exact oracle over
            // the APPENDED corpus. If the recall target survives here, it
            // survives everywhere the policy allows.
            if (scale <= retrainScaleCap &&
                !sys.env.contains("SPARK_GRAFT_DRILL_SKIP_CALSTALE")) {
              def tranche(eps: Float) = emb
                .filter(pmod(col("vec_id"), lit(4L)) === 0)
                .select((col("vec_id") + lit(5000000000L)).as("vec_id"),
                  col("label"),
                  transform(col("embedding"), x => x + lit(eps))
                    .cast("array<float>").as("embedding"))
              def predictedMaxDrift(t: DataFrame): Double =
                (0 until shards).map { r =>
                  val m = graft.operators.IvfIndex.loadModel(spark, s"$shPath/shard=$r")
                  val mean = graft.operators.IvfIndex.distortionStats(spark, t, m)
                    .select(col("mean_sq_err").cast("double")).head().getDouble(0)
                  val base = spark.read.parquet(s"$shPath/shard=$r/qerr")
                    .orderBy("append_seq")
                    .select(col("mean_sq_err").cast("double")).head().getDouble(0)
                  mean / base
                }.max
              var eps = 1.0f
              var tries = 0
              while (predictedMaxDrift(tranche(eps)) > 1.8 && tries < 6) {
                eps /= 2; tries += 1
              }
              graft.operators.ShardedIvf.append(spark, shPath, shards, tranche(eps))
              val retrained = graft.operators.ShardedIvf.retrainIfNeeded(spark, shPath, shards)
              require(retrained == 0, s"cal-staleness premise broken at x$scale: " +
                s"eps=$eps drifted past the trigger ($retrained shards retrained)")
              val worstDrift = (0 until shards).flatMap(r =>
                graft.sources.VectorIndexStore.driftFactor(spark, s"$shPath/shard=$r")).max
              val appended = (0 until shards).map { r =>
                graft.operators.IvfIndex.loadVectors(spark, s"$shPath/shard=$r")
                  .select(col("vec_id"), col("label"), col("embedding"))
              }.reduce(_ unionAll _)
              val exactA = graft.operators.AnnEval.exactTopK(spark, appended, probeQs, 10)
              val gotA = graft.operators.AnnEval.shardedTopK(spark, shPath, shards,
                probeQs, k = 10, nProbe = graft.operators.IvfIndex.NProbeCalibrated)
              val rA = graft.operators.AnnEval.meanRecall(gotA, exactA)
              drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:ivf_sharded_cal_stale","recall_at_10":$rA%.3f,"width":$calW,"drift":$worstDrift%.3f,"eps":$eps}""")
            }
            exactS.unpersist()
          }
        }
        // IVF-PQ SHORTLIST CALIBRATION at drill scale (round 15): build
        // the PQ artifact cold, size the ADC re-rank depth holding
        // recall@10 >= 0.9 at the auto probe width in one ADC pass
        // (calibratePqShortlist -> shortlist.CAL), then grade a held-out
        // sentinel probe (the drill's own panel — never seen by the
        // calibration, whose internal panel is hash-picked from the
        // corpus) at the calibrated depth. The ceiling-aware error path
        // gets a drill-scale exercise too: a target above the
        // cell-pruning ceiling at nProbe=1 must throw the diagnostic that
        // names the PROBE, not the shortlist.
        // BUILD rows run at every drilled scale (the composed geometry's
        // three-decade build curve); the CALIBRATION/grading halves stay
        // capped at retrainScaleCap — past 10x the exact panel oracle
        // dominates the measurement, not the verb (the retrain:pq
        // rationale).
        val pqCalScale = scale <= retrainScaleCap
        if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_PQCAL")) {
          // emb and probeQs reuse the enclosing probe block's values (one
          // parquet read, one collected panel — a second identical
          // definition here invited silent divergence between the two)
          // constant-occupancy coarse geometry, like build:ivf — the
          // store's fixture default (16 cells) would make the encoded
          // probe scan grow ∝ n
          val pqCells = graft.sources.VectorIndexStore.autoCells(emb.count())
          graft.sources.PosixMetaBackend.deleteRecursively(
            graft.sources.VectorIndexStore.pqPath(spark, dir, pqCells))
          report(scale, "build:pq", "cold", timed {
            graft.sources.VectorIndexStore.ensurePq(spark, dir, pqCells); ()
          })
          val pqPath = graft.sources.VectorIndexStore.pqPath(spark, dir, pqCells)
          // The shortlist's reachable ceiling is the cell-pruning recall
          // at the probe width, and on the drill corpus the AUTO width's
          // ceiling sits BELOW 0.9 (measured 0.491 at 1× — the auto
          // fraction is sized for probe cost, not a 0.9 PQ target). The
          // drill therefore models the documented operator loop the
          // ceiling diagnostic prescribes: widen the probe and
          // recalibrate, doubling from auto until the target is
          // reachable. The DOUBLINGS count is itself a measurement — how
          // far past the auto fraction the PQ path must probe to hold
          // 0.9 at each scale.
          // ONE persisted exact oracle serves BOTH PQ gradings below
          // (single-index cal probe + sharded-pq cal probe) — the
          // Θ(panel·n) pass is the block's most expensive job; not
          // materialized at all above the calibration scale cap
          val exactPq =
            if (!pqCalScale || sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) None
            else Some(graft.operators.AnnEval.exactTopK(spark, emb, probeQs, 10)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          // FILTERED probes on the ENCODED geometries (round 16 — the
          // v23/v24 plan at drill scale): the probe:ivf_filtered
          // predicate applied to the encoded frame before the ADC scan
          // (partition pruning to probed cells + parquet pushdown on
          // label over the ~32x-smaller encoded parquet), single index
          // here and the sharded composition below. One persisted
          // filtered exact oracle serves every filtered grading (a
          // ~selectivity-sized slice of the full pass).
          val fPred = col("label") === 3
          val pqModelF = graft.operators.PqIndex.loadModel(spark, pqPath)
          val fEnc = graft.operators.PqIndex.loadEncoded(spark, pqPath)
            .filter(col("vec_id") =!= 0).filter(fPred)
          val exactPqF =
            if (!pqCalScale || sys.env.contains("SPARK_GRAFT_DRILL_SKIP_RECALL")) None
            else Some(graft.operators.AnnEval.exactTopK(spark,
              emb.filter(fPred), probeQs, 10)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          if (!skipProbeRows) {
            val repsPF = (1 to 3).map { _ =>
              timed {
                graft.operators.AnnEval.pqTopKFrames(spark, fEnc, pqModelF,
                  emb, probeQs, k = 10, nProbe = nProbe)
                  .write.mode("overwrite").format("noop").save()
              }
            }
            report(scale, "probe:pq_filtered", "probe", repsPF.minBy(_.secs))
          }
          exactPqF.foreach { exactF =>
            val gotPF = graft.operators.AnnEval.pqTopKFrames(spark, fEnc,
              pqModelF, emb, probeQs, k = 10, nProbe = nProbe)
            val rPF = graft.operators.AnnEval.meanRecall(gotPF, exactF)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:pq_filtered","recall_at_10":$rPF%.3f,"nprobe":$nProbe}""")
            // FILTERED shortlist calibration (per-workload — never
            // published to shortlist.CAL), with the calibrate:pq
            // widening loop: the ceiling at a narrow width is the
            // filtered cell-pruning recall, so the probe doubles from
            // the fixed width until 0.9 is reachable. The executed
            // grading at the sized (width, depth) is the
            // capture-shortlist equivalence measured at scale.
            var npF = nProbe
            var calF: Option[(Int, Double)] = None
            var dblF = 0
            report(scale, "calibrate:pq_filtered", "cold", timed {
              while (calF.isEmpty) {
                calF = graft.operators.AnnCalibrate.calibrateFilteredShortlist(
                  spark, Seq(pqPath), emb, probeQs, k = 10, target = 0.9,
                  predicate = fPred, nProbe = npF)
                if (calF.isEmpty) {
                  require(npF < pqCells,
                    s"filtered PQ calibration at x$scale: 0.9 unreachable even at full probe")
                  npF = math.min(2 * npF, pqCells); dblF += 1
                }
              }
              drillLine("DRILLCAL", f"""{"scale":$scale,"name":"calibrate:pq_filtered","target":0.9,"shortlist":${calF.get._1},"measured":${calF.get._2}%.3f,"nprobe":$npF,"doublings":$dblF}""")
            })
            val gotFC = graft.operators.AnnEval.pqTopKFrames(spark, fEnc,
              pqModelF, emb, probeQs, k = 10, nProbe = npF,
              shortlist = calF.get._1)
            val rFC = graft.operators.AnnEval.meanRecall(gotFC, exactF)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:pq_filtered_cal","recall_at_10":$rFC%.3f,"shortlist":${calF.get._1},"nprobe":$npF}""")
          }
          var cal: graft.sources.VectorIndexStore.PqShortCal = null
          var doublings = 0
          if (pqCalScale) {
          report(scale, "calibrate:pq", "cold", timed {
            val nCells = graft.operators.PqIndex.loadModel(spark, pqPath)
              .coarse.centroids.length
            var np = graft.operators.IvfIndex.autoNProbe(nCells)
            while (cal == null) {
              try cal = graft.sources.VectorIndexStore.calibratePqShortlist(
                spark, pqPath, emb, target = 0.9, k = 10, nProbe = np)
              catch {
                // ONLY the ceiling diagnostic warrants a wider probe; any
                // other failure retried here would be mis-measured as
                // probe-widening until the loop ran out of cells
                case e: IllegalStateException
                  if e.getMessage.contains("widen the PROBE") && np < nCells =>
                  np = math.min(2 * np, nCells); doublings += 1
              }
            }
            drillLine("DRILLCAL", f"""{"scale":$scale,"name":"calibrate:pq","target":0.9,"shortlist":${cal.shortlist},"measured":${cal.measured}%.3f,"nprobe":${cal.nProbe},"doublings":$doublings}""")
          })
          exactPq.foreach { exactP =>
            // served at the width the calibration was sized for (the
            // sidecar records it; a mismatched width degrades loudly)
            val gotP = graft.operators.AnnEval.pqTopK(spark, pqPath, emb, probeQs,
              k = 10, nProbe = cal.nProbe,
              shortlist = graft.operators.PqIndex.ShortlistCalibrated)
            val rP = graft.operators.AnnEval.meanRecall(gotP, exactP)
            drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:pq_cal","recall_at_10":$rP%.3f,"shortlist":${cal.shortlist},"nprobe":${cal.nProbe}}""")
          }
          // ceiling exercise: nProbe=1 prunes most true neighbors' cells,
          // so recall 0.999 is unreachable by ANY shortlist — the error
          // must say so and point at the probe
          val ceilingNamed = try {
            graft.sources.VectorIndexStore.calibratePqShortlist(
              spark, pqPath, emb, target = 0.999, k = 10, nProbe = 1)
            false
          } catch {
            case e: IllegalStateException =>
              e.getMessage.contains("widen the PROBE")
          }
          drillLine("DRILLCAL", s"""{"scale":$scale,"name":"calibrate:pq_ceiling","target":0.999,"nprobe":1,"raised_probe_diagnostic":$ceilingNamed}""")
          require(ceilingNamed,
            s"pq ceiling exercise at x$scale: expected the ceiling-aware " +
              "diagnostic naming the probe")
          } // pqCalScale (single-index calibration + ceiling)
          // SHARDED IVF-PQ (round 15, late): the composed geometry — S
          // encoded sub-indexes, per-shard ADC shortlists, one exact
          // re-rank — built cold, probed, and shortlist-calibrated at
          // the root with the same widening loop (explicit np: the
          // sharded sidecar records the requested policy verbatim).
          if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_SHPQ")) {
            val pqShards = 4
            graft.sources.PosixMetaBackend.deleteRecursively(
              graft.sources.VectorIndexStore.shardedPqPath(spark, dir, pqShards))
            report(scale, "build:pq_sharded", "cold", timed {
              graft.sources.VectorIndexStore.ensureShardedPq(spark, dir, pqShards)
              ()
            })
            val shPqPath = graft.sources.VectorIndexStore.shardedPqPath(spark, dir, pqShards)
            if (!skipProbeRows) {
              val repsQ = (1 to 3).map { _ =>
                timed {
                  graft.operators.AnnEval.shardedPqTopK(spark, shPqPath, pqShards,
                    emb, probeQs, k = 10)
                    .write.mode("overwrite").format("noop").save()
                }
              }
              report(scale, "probe:pq_sharded", "probe", repsQ.minBy(_.secs))
            }
            // filtered probe on the COMPOSED encoded geometry — the
            // v24 plan: each shard's encoded frame filtered before its
            // ADC scan, per-shard shortlists of filtered candidates
            if (!skipProbeRows) {
              val repsQF = (1 to 3).map { _ =>
                timed {
                  graft.operators.AnnEval.shardedPqTopK(spark, shPqPath,
                    pqShards, emb, probeQs, k = 10, predicate = Some(fPred))
                    .write.mode("overwrite").format("noop").save()
                }
              }
              report(scale, "probe:pq_sharded_filtered", "probe", repsQF.minBy(_.secs))
            }
            exactPqF.foreach { exactF =>
              val gotQF = graft.operators.AnnEval.shardedPqTopK(spark,
                shPqPath, pqShards, emb, probeQs, k = 10,
                predicate = Some(fPred))
              val rQF = graft.operators.AnnEval.meanRecall(gotQF, exactF)
              drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:pq_sharded_filtered","recall_at_10":$rQF%.3f}""")
            }
            // the CALIBRATION row is budget-guarded and must run
            // whenever the scale allows — only the held-out GRADING
            // needs the exact oracle (SKIP_RECALL drops the grading,
            // never the budgeted verb)
            if (pqCalScale) {
              val maxShardCells = (0 until pqShards).map(r =>
                graft.operators.PqIndex.loadModel(spark, s"$shPqPath/shard=$r")
                  .coarse.centroids.length).max
              var calS: graft.sources.VectorIndexStore.PqShortCal = null
              var npS = 4
              var dblS = 0
              report(scale, "calibrate:pq_sharded", "cold", timed {
                while (calS == null) {
                  try calS = graft.sources.VectorIndexStore.calibrateShardedPqShortlist(
                    spark, shPqPath, pqShards, emb, target = 0.9, k = 10, nProbe = npS)
                  catch {
                    case e: IllegalStateException
                      if e.getMessage.contains("widen the PROBE") && npS < maxShardCells =>
                      npS = math.min(2 * npS, maxShardCells); dblS += 1
                  }
                }
                drillLine("DRILLCAL", f"""{"scale":$scale,"name":"calibrate:pq_sharded","target":0.9,"shortlist":${calS.shortlist},"measured":${calS.measured}%.3f,"nprobe":${calS.nProbe},"doublings":$dblS}""")
              })
              exactPq.foreach { exactQ =>
              val gotQ = graft.operators.AnnEval.shardedPqTopK(spark, shPqPath,
                pqShards, emb, probeQs, k = 10, nProbe = calS.nProbe,
                shortlist = graft.operators.PqIndex.ShortlistCalibrated)
              val rQ = graft.operators.AnnEval.meanRecall(gotQ, exactQ)
              drillLine("DRILLRECALL", f"""{"scale":$scale,"name":"probe:pq_sharded_cal","recall_at_10":$rQ%.3f,"shortlist":${calS.shortlist},"nprobe":${calS.nProbe}}""")
              }
            }
            // ENCODED catch-up reshard (round 17): the bounded-stall
            // protocol on the geometry that serves at 100 TB. Phase 1
            // re-encodes from the cold fp store (untimed setup writes
            // it — a deployment's fp store already exists); the REPLAY
            // row is the measured blocked window: id-column anti-joins
            // over the ~32x-narrower code tables + the delta's fetch +
            // re-encode. Both rows budgeted at the build class.
            val fpDir = s"$outRoot/pq_fp_x$scale"
            graft.sources.PosixMetaBackend.deleteRecursively(fpDir)
            graft.sources.FpStore.upsert(spark, fpDir, emb)
            val pqCuRoot = s"$outRoot/pq_catchup_x$scale/ix${pqShards / 2}"
            graft.sources.PosixMetaBackend.deleteRecursively(s"$outRoot/pq_catchup_x$scale")
            drillCatchUp(scale, "pq", graft.operators.ShardedPq,
              shPqPath, pqShards, pqCuRoot, pqShards / 2,
              emb.filter(pmod(col("vec_id"), lit(4L)) === 2)
                .select((col("vec_id") + lit(7000000000L)).as("vec_id"),
                  col("label"), col("embedding")), Some(fpDir))
            graft.sources.PosixMetaBackend.deleteRecursively(fpDir)
            graft.sources.PosixMetaBackend.deleteRecursively(s"$outRoot/pq_catchup_x$scale")
          }
          exactPq.foreach(_.unpersist())
          exactPqF.foreach(_.unpersist())
        }
      }
      // Drift-retrain at scale (the v19 lifecycle, drill edition): build
      // a PQ artifact on tranche A, append a SHIFTED tranche B (drift
      // factor > 2 by construction), then time the full recall-gated
      // retrain. Two scale-aware choices vs the declared v19 fixture
      // drill: the grading panel stays FIXED-size (rowPanel caps at 32 —
      // the exact oracle is Θ(panel·n), linear), and the re-rank
      // shortlist scales with the corpus (recall@10 over 10× candidates
      // at a FIXED shortlist is the grading getting harder, not the
      // retrain getting worse — a deployment holds its recall floor by
      // sizing re-rank depth to the corpus, so the drill does too).
      if (scale <= retrainScaleCap && selected.contains("retrain:pq")) {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val trancheA = emb.select((col("vec_id") * 2).as("vec_id"),
          col("label"), col("embedding"))
        val trancheB = emb.select((col("vec_id") * 2 + 1).as("vec_id"),
          col("label"),
          transform(col("embedding"), x => x + lit(8.0f))
            .cast("array<float>").as("embedding"))
        val corpus = trancheA.unionAll(trancheB)
        val shortlist = math.max(50L, corpus.count() / 80L).toInt
        val root = s"$outRoot/retrain_x$scale"
        graft.sources.PosixMetaBackend.deleteRecursively(root)
        graft.sources.VectorIndexStore.buildPqAt(spark, root, trancheA)
        graft.sources.VectorIndexStore.appendPq(spark, root, trancheB)
        report(scale, "retrain:pq", "cold", timed {
          val did = graft.sources.VectorIndexStore.retrainPqIfNeeded(
            spark, root, corpus, shortlist = shortlist)
          require(did, s"retrain:pq at x$scale: drift below threshold — " +
            "the drill premise (shifted tranche B) no longer drifts")
        })
      }

      // CDC-LOG SINK chain (round 18, What's-wrong #4): the seq-ordered
      // feed sinks (cdcLogShardedIngest / cdcLogShardedPqIngest) drilled
      // per batch shape — the net-op collapse window, the routed
      // appends/deletes, the fp upsert, and the re-add probe are exactly
      // the per-batch costs the drill exists to keep honest. Four timed
      // sink runs per geometry over ONE shared log (each sink has its
      // own checkpoint, so both see identical batch boundaries):
      //   cold    — the whole corpus as one add segment (pointer build);
      //   steady  — a 10% add tranche + a 10% takedown in one batch
      //             (collapse + routed appends + routed deletes;
      //             sidecars are born at the END of this batch);
      //   noreadd — a further 10% add tranche with sidecars PRESENT but
      //             no re-adds: the per-batch re-add probe overhead that
      //             the driver-side sidecar gate + per-sidecar-shard
      //             semi-join must keep batch-shaped;
      //   readd   — re-adds of a 10%-of-deletes slice WITH changed text:
      //             owning-shard compacts + the payload-replacing append
      //             (shard-sized rewrite, ~corpus/S per affected shard).
      if (!sys.env.contains("SPARK_GRAFT_DRILL_SKIP_CDC")) {
        val cdcRoot = s"$outRoot/cdc_x$scale"
        graft.sources.PosixMetaBackend.deleteRecursively(cdcRoot)
        val log = s"$cdcRoot/log"
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
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
          .select((col("doc_id") + lit(off)).as("doc_id"),
            concat(col("text"), lit(tag)).as("text"))
        val sinks = Seq(
          ("cdc:ivf_log", () => graft.streaming.StreamingOps.cdcLogShardedIngest(
            spark, log, s"$cdcRoot/ivf_home", 4,
            s"${graft.streaming.StreamingOps.ckptParent}/graft_cdc_ivf_x$scale")),
          ("cdc:pq_log", () => graft.streaming.StreamingOps.cdcLogShardedPqIngest(
            spark, log, s"$cdcRoot/pq_home", 4,
            s"${graft.streaming.StreamingOps.ckptParent}/graft_cdc_pq_x$scale",
            s"$cdcRoot/fp")))
        try {
          logSeg(1, "add", docs)
          for ((name, run) <- sinks) report(scale, name, "cold", timed(run()))
          logSeg(2, "add", shifted(1L, 5000000000L, " t2"))
          logSeg(2, "del", deleted)
          for ((name, run) <- sinks) report(scale, name, "steady", timed(run()))
          logSeg(3, "add", shifted(2L, 6000000000L, " t3"))
          for ((name, run) <- sinks) report(scale, name, "noreadd", timed(run()))
          logSeg(4, "add", deleted
            .filter(pmod(col("doc_id"), lit(100L)) === 6)
            .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text")))
          for ((name, run) <- sinks) report(scale, name, "readd", timed(run()))
        } finally {
          for (g <- Seq("ivf", "pq"))
            graft.sources.PosixMetaBackend.deleteRecursively(
              s"${graft.streaming.StreamingOps.ckptParent}/graft_cdc_${g}_x$scale")
          graft.sources.PosixMetaBackend.deleteRecursively(cdcRoot)
        }
      }
    }

    // ---- drill artifact (the Bench pattern): one JSONL row per line ----
    // timing rows first, then the persisted DRILLRECALL/DRILLCAL quality
    // rows — one committed artifact carries every number a doc may quote
    val jsonl = (rows.map { case (sc, n, ph, secs, in, sh) =>
      f"""{"scale":$sc,"name":"$n","phase":"$ph","secs":$secs%.3f,"rows_in":$in,"shuffle_rows":$sh,"master":"$master"}"""
    } ++ extraRows).mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outRoot/drill_results.jsonl"),
      jsonl.getBytes("UTF-8"))
    println(s"DRILL# artifact: $outRoot/drill_results.jsonl " +
      s"(${rows.length} timing + ${extraRows.length} quality rows)")

    if (scales.contains(1) && scales.contains(10)) {
      val checks = DrillCheck.evaluate(rows.toSeq)
      val failed = checks.filterNot(_.ok)
      val detail = checks.map { c =>
        f""""${c.name}/${c.phase}":{"ratio":${c.ratio}%.2f,"budget":${c.budget},"ok":${c.ok}}"""
      }.mkString("{", ",", "}")
      println(s"""DRILLCHECK {"pass":${failed.isEmpty},"checks":$detail}""")
      if (failed.nonEmpty && !sys.env.contains("SPARK_GRAFT_DRILL_NOCHECK")) {
        failed.foreach { c =>
          System.err.println(f"[drillcheck] ${c.name}/${c.phase} 1->10 ratio ${c.ratio}%.2f exceeds budget ${c.budget}") }
        spark.stop()
        sys.exit(1)
      }
    }
    // The 100× catch-up gate (round-17): the blocked replay's rows_in
    // must stay id-bookkeeping-shaped — the journal path reads the DELTA
    // plus per-shard ID-column idempotence scans (measured ~1.9 rows_in
    // per corpus row), while the pre-journal anti-join re-read the corpus
    // FULL-WIDTH (measured 8.25 per corpus row at 100×,
    // SCALE_DRILL_r16_100x_prejournal.jsonl). A 1→100 RATIO cannot
    // separate the two (the drill's delta is corpus-proportional, so both
    // paths scale ~linearly); the per-corpus-row ABSOLUTE does. The
    // catchup BUILD row's rows_in IS the corpus (the snapshot read), so
    // the artifact carries its own denominator.
    for (hi <- scales.filter(_ >= 100);
         c <- DrillCheck.catchupAbsolute(rows.toSeq, hi)) {
      println(f"""DRILLCHECK100 {"name":"${c.name}","scale":$hi,"ratio":${c.ratio}%.2f,"budget":${c.budget},"ok":${c.ok}}""")
      if (!c.ok && !sys.env.contains("SPARK_GRAFT_DRILL_NOCHECK")) {
        System.err.println(f"[drillcheck] catch-up replay rows_in at x$hi is ${c.ratio}%.2f per corpus row (budget ${c.budget}) — the blocked window is re-reading the corpus, the journal path is not being taken")
        spark.stop()
        sys.exit(1)
      }
    }
    spark.stop()
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
