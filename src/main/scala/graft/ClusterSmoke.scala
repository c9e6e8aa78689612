package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-JVM execution smoke: run a representative query slice twice —
  * once on `local[8]` (the single-JVM mode every bench/correctness number
  * so far was measured in) and once on `local-cluster[2,4,4096]` (2
  * separate executor JVMs × 4 cores — Spark's real cluster scheduler,
  * RPC, and serialization stack on one machine) — and assert BOTH runs
  * produce identical results AND identical work counters.
  *
  * What this converts from "designed for" into "ran on": closure
  * serialization of every operator in the slice, executor-side broadcast
  * + lazy rebuild of `IvfIndex.Model`/`Hier` (@transient lazy — each
  * executor JVM rebuilds the accelerator from the deserialized centroid
  * array), the custom AsOfJoin SparkPlan (r37) crossing codegen +
  * exchange on a real cluster scheduler, executor-side artifact READS
  * and WRITES (the store build runs its shuffles and parquet writes in
  * executor JVMs against the shared filesystem), and Structured
  * Streaming state-store providers hosted in executor processes (s04).
  *
  * Slice (the VERDICT-r12 prescription): x07 (PPJoin verify), x14
  * (funnel + IVF + panel grading), v18 (SemDeDup), x02 (posting-group
  * pair counts), k01 (BM25 top-k), r37 (native as-of join SparkPlan),
  * s04 (streaming dedup lifecycle), plus a cold IVF store build + kNN
  * probe in EACH mode (per-mode artifact roots, so the cluster run pays
  * its own executor-side build rather than probing the local run's).
  *
  * Counters (rows_in / shuffle_rows, from the Harness meter) are
  * plan-deterministic at equal parallelism (8 slots both modes, same
  * shuffle.partitions/AQE/broadcast configs), so COUNTER EQUALITY is the
  * falsifiable form of "the cluster ran the same plans" — a divergence
  * means cluster mode changed a plan (or lost/retried tasks), exactly
  * what the smoke exists to surface.
  *
  * Output: one `CLUSTERSMOKE {json}` line per query + a summary line
  * (the Bench artifact pattern), mirrored to
  * `<outRoot>/cluster_smoke.jsonl`; nonzero exit on any mismatch.
  *
  * Needs `SPARK_HOME` (=/opt/spark) exported: local-cluster worker JVMs
  * resolve the executor launch command from it.
  */
object ClusterSmoke {

  private val SliceNames = Seq(
    "x07_containment", "x14_funnel_ivf_semantic", "v18_semdedup",
    "x02_jaccard_stats", "k01_bm25_topk", "r37_asof_native",
    "s04_streaming_dedup",
    // round-14 additions — the surfaces the r13 slice never took across a
    // JVM boundary: transformWithState on the RocksDB state-store provider
    // (executor-hosted store instances), the PQ encode/ADC path plus a
    // recall-gated retrain under a writer lease (the full v19 lifecycle —
    // DrillOnce is reset per mode so each mode pays its own), and the
    // SubstrStore build+probe (dup-only broadcast join).
    "s08_transform_with_state", "v19_pq_drift_retrain",
    "x15_exact_substring_dedup")

  final case class Run(name: String, secs: Double, digest: String,
                       rows: Long, rowsIn: Long, shuffleRows: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outRoot = args.lift(1).getOrElse("/tmp/graft_clustersmoke")
    require(sys.env.contains("SPARK_HOME"),
      "ClusterSmoke needs SPARK_HOME (=/opt/spark): local-cluster " +
        "executor JVMs are launched from it")
    new java.io.File(outRoot).mkdirs()

    // focus filters for iterating on one failure (Bench's ONLY contract)
    val slice = Harness.selectOrExit("SPARK_GRAFT_SMOKE_ONLY",
      sys.env.get("SPARK_GRAFT_SMOKE_ONLY"), SliceNames)
    val clusterOnly = sys.env.contains("SPARK_GRAFT_SMOKE_CLUSTER_ONLY")

    // the shared probe artifact must be rebuilt per INVOCATION (a prior
    // run against a different sfDir would otherwise short-circuit on the
    // completeness marker and both modes would probe a stale corpus);
    // per-mode roots are deleted inside runMode
    val sharedIndex = s"$outRoot/shared_index"
    graft.sources.PosixMetaBackend.deleteRecursively(sharedIndex)
    val localRuns =
      if (clusterOnly) Map.empty[String, Run]
      else runMode("local", "local[8]", sfDir, s"$outRoot/local", sharedIndex, slice)
    val clusterRuns = runMode("cluster", "local-cluster[2,4,4096]", sfDir,
      s"$outRoot/cluster", sharedIndex, slice)
    if (clusterOnly) return

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0
    // Shuffle counters include per-task PARTIAL rows (window-group-limit /
    // partial-agg emissions) whose count depends on file->task packing and
    // attempt interleaving — the root-caused benign divergence classes of
    // SCALE.md round-14 §3. Two slice rows sit squarely in them and are
    // attempt-sensitive at the percent level EVEN WITHIN one mode (v19's
    // persist+rank partials; store:reshard probes an artifact each mode
    // wrote itself, so its window partials see per-mode file layouts).
    // Those two get a 5% shuffle band — a real plan regression moves
    // counters at the multiple level (x03's transition measured 112x) —
    // everything else stays byte-exact, as do ALL rows_in and results.
    val shuffleBand = Set("v19_pq_drift_retrain", "store:reshard",
      "store:reshard_catchup", "store:delete_probe",
      "store:catchup_compact_safe", "store:pq_catchup_safe")
    // The catch-up lifecycle (and the delete probe chained onto ITS
    // artifact) also sees the warm-vs-cold lazy-artifact class on the
    // INPUT side: whether a stage is recomputed or shuffle-reused across
    // the build→append→replay→probe chain differs per attempt, moving
    // rows_in by ~0.3% (measured 34,206 vs 34,110 on one run, byte-equal
    // on another — same code both times). Results stay byte-exact.
    val rowsInBand = Set("store:reshard_catchup", "store:delete_probe",
      "store:catchup_compact_safe", "store:pq_catchup_safe")
    for ((name, l) <- localRuns) {
      val c = clusterRuns(name)
      val resultOk = l.digest == c.digest && l.rows == c.rows
      val shuffleOk =
        if (shuffleBand(name))
          math.abs(l.shuffleRows - c.shuffleRows) <=
            0.05 * math.max(l.shuffleRows, c.shuffleRows)
        else l.shuffleRows == c.shuffleRows
      val rowsInOk =
        if (rowsInBand(name))
          math.abs(l.rowsIn - c.rowsIn) <= 0.05 * math.max(l.rowsIn, c.rowsIn)
        else l.rowsIn == c.rowsIn
      val countersOk = rowsInOk && shuffleOk
      if (!(resultOk && countersOk)) failed += 1
      lines += f"""{"name":"$name","result_match":$resultOk,"counters_match":$countersOk,"rows":${l.rows},"local_secs":${l.secs}%.3f,"cluster_secs":${c.secs}%.3f,"rows_in":[${l.rowsIn},${c.rowsIn}],"shuffle_rows":[${l.shuffleRows},${c.shuffleRows}]}"""
    }
    lines.foreach(l => println(s"CLUSTERSMOKE $l"))
    println(s"""CLUSTERSMOKE# {"pass":${failed == 0},"queries":${localRuns.size},"mismatches":$failed}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outRoot/cluster_smoke.jsonl"),
      (lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    if (failed > 0) sys.exit(1)
  }

  /** Run the slice in one mode; returns name -> Run. Each mode gets its
    * own artifact roots (cold builds on ITS executors) and is fully
    * stopped before the next starts.
    */
  private def runMode(mode: String, master: String, sfDir: String,
                      artifactRoot: String, sharedIndexRoot: String,
                      slice: Seq[String] = SliceNames): Map[String, Run] = {
    graft.sources.PosixMetaBackend.deleteRecursively(artifactRoot)
    // memoized lifecycle drills (v19) must run IN THIS MODE, on this
    // mode's executors — not reuse the previous session's scalars
    graft.queries.DrillOnce.reset()
    // local-cluster executors get their classpath + JDK-17 opens from
    // the factory (the round-13 relative-classpath lesson lives in
    // ClusterLaunch's doc)
    val spark = Harness.session(master, 8,
      "spark.app.name" -> s"graft-clustersmoke-$mode",
      "spark.executor.memory" -> "3g",
      "spark.graft.index.dir" -> s"$artifactRoot/index",
      "spark.graft.shingles.dir" -> s"$artifactRoot/shingles",
      "spark.graft.minhash.dir" -> s"$artifactRoot/minhash",
      "spark.graft.postings.dir" -> s"$artifactRoot/postings",
      "spark.graft.substr.dir" -> s"$artifactRoot/substr")

    def timedRun(name: String, df: => DataFrame): Run = {
      val (collected, w) = Harness.measure(spark)(df.collect())
      // canonical digest: sorted row renderings, md5-folded — both modes
      // run in THIS JVM, so formatting is identical and the digest
      // compares values, not plan or partition order
      val md = java.security.MessageDigest.getInstance("MD5")
      collected.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
      Run(name, w.secs, md.digest().map("%02x".format(_)).mkString,
        collected.length.toLong, w.rowsIn, w.shuffleRows)
    }

    /** Run `body` with the index-store root overridden, restoring OR
      * UNSETTING afterwards — `prev.foreach(set)` alone leaks the
      * override when the conf was unset at entry (benign only while the
      * next block happens to set its own root; a reordering would build
      * artifacts under the wrong root silently).
      */
    def withRootConf[T](root: String)(body: => T): T = {
      val key = graft.sources.VectorIndexStore.RootConf
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, root)
      try body finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }

    try {
      val qs = SparkEntry.queries
      val runs = slice.map { n =>
        val r = timedRun(n, qs(n)(spark, sfDir))
        println(f"CLUSTERSMOKE# $mode $n ${r.secs}%.2fs rows=${r.rows}")
        n -> r
      }
      // Cold IVF store BUILD, entirely in this mode (its own root,
      // deleted first — slice queries may have warmed the mode's main
      // index root; the cluster run must pay its own executor-side
      // train/assign/write here). Build counters are plan-deterministic;
      // measured byte-equal across modes.
      val coldRoot = s"$artifactRoot/index_cold"
      graft.sources.PosixMetaBackend.deleteRecursively(coldRoot)
      val buildRun = withRootConf(coldRoot) {
        timedRun("store:ivf_build", {
          graft.sources.VectorIndexStore.ensureIvf(spark, sfDir)
          spark.range(0).toDF("done") // counters carry the build work
        })
      }
      println(f"CLUSTERSMOKE# $mode store:ivf_build ${buildRun.secs}%.2fs")
      // Batched kNN PROBE against a SHARED artifact (first mode builds
      // it, the other short-circuits on the completeness marker): the
      // window top-k's PARTIAL WindowGroupLimit emits top-k per qid per
      // scan task, so its output cardinality depends on file->task
      // packing — i.e. on the artifact's physical file layout, not on
      // the execution mode (measured: per-mode artifacts gave 310 vs
      // 320 partial rows on byte-identical 90-row results). Probing one
      // shared artifact makes the counter comparison exact again.
      // DISTRIBUTED trainer under this mode: the round-13 off-driver
      // Lloyd is broadcast + typed map + repartition/sort/mapPartitions —
      // exactly the closure-serialization surface a cluster can break.
      // The model is bit-deterministic across partitionings BY CONTRACT
      // (IvfIndexSpec), so here the centroid array itself is the digest:
      // local and cluster runs must train the IDENTICAL model.
      val distRun = timedRun("store:ivf_dist_train", {
        import spark.implicits._
        val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        val m = graft.operators.IvfIndex.trainDistributed(spark, emb, k = 8, iters = 3)
        m.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "centroid")
      })
      println(f"CLUSTERSMOKE# $mode store:ivf_dist_train ${distRun.secs}%.2fs")
      // SHARDED store build IN THIS MODE (round 14): ShardedIvf.build
      // submits S concurrent Spark jobs from a bounded thread pool — the
      // one surface of the sharded lifecycle a single-JVM run cannot
      // vouch for on a real cluster scheduler (concurrent stages
      // interleaving across executor JVMs, parallel executor-side
      // clustered writes). Work counters are per-shard-deterministic and
      // sum over shards; the CONCURRENCY must not change them.
      val shRoot = s"$artifactRoot/index_sharded"
      graft.sources.PosixMetaBackend.deleteRecursively(shRoot)
      val shBuildRun = withRootConf(shRoot) {
        timedRun("store:sharded_build", {
          graft.sources.VectorIndexStore.ensureShardedIvf(spark, sfDir, shards = 3)
          spark.range(0).toDF("done") // counters carry the build work
        })
      }
      println(f"CLUSTERSMOKE# $mode store:sharded_build ${shBuildRun.secs}%.2fs")
      // SHARDED-PQ build in this mode (round 15): the composed geometry's
      // concurrent per-shard PQ builds (coarse train + codebooks + encode
      // writes) on this mode's executors — same per-mode-root pattern as
      // store:sharded_build; counters are per-shard-deterministic.
      val shPqRoot = s"$artifactRoot/index_sharded_pq"
      graft.sources.PosixMetaBackend.deleteRecursively(shPqRoot)
      val shPqBuildRun = withRootConf(shPqRoot) {
        timedRun("store:sharded_pq_build", {
          graft.sources.VectorIndexStore.ensureShardedPq(spark, sfDir, shards = 3)
          spark.range(0).toDF("done") // counters carry the build work
        })
      }
      println(f"CLUSTERSMOKE# $mode store:sharded_pq_build ${shPqBuildRun.secs}%.2fs")
      // SHARED-artifact rows (first mode builds, the other
      // short-circuits — the layout-equal-inputs rule exact counter
      // equality needs), all under one RootConf window:
      //   store:sharded_probe — batched sharded top-k;
      //   store:sharded_cal   — the one-pass recall-curve verb
      //     (AnnCalibrate): an exact panel grading plus a broadcast rank
      //     join, deterministic by contract, so both modes must size the
      //     IDENTICAL width and measure the identical recall (the digest
      //     IS the calibration);
      //   store:ivf_probe     — single-index batched probe (its ensure
      //     runs OUTSIDE the timed window: the first mode pays the shared
      //     build there, both modes' counters cover probing only).
      val (shProbeRun, calRun, probeRun, reshardRun, catchupRun, deleteRun,
           catchupSafeRun, shPqProbeRun, filteredProbeRun, filteredCalRun,
           pqFilteredProbeRun, pqFilteredCalRun, pqCatchupSafeRun) =
        withRootConf(sharedIndexRoot) {
        val shPath = graft.sources.VectorIndexStore.ensureShardedIvf(spark, sfDir, shards = 3)
        val panel = graft.operators.AnnEval.queryPanel(spark,
          graft.sources.Tables.load(spark, sfDir, "embeddings"))
        val p = timedRun("store:sharded_probe",
          graft.operators.AnnEval.shardedTopK(spark, shPath, 3, panel, k = 10))
        println(f"CLUSTERSMOKE# $mode store:sharded_probe ${p.secs}%.2fs rows=${p.rows}")
        val c = timedRun("store:sharded_cal", {
          import spark.implicits._
          val cal = graft.sources.VectorIndexStore.calibrateShardedIvf(
            spark, shPath, shards = 3, target = 0.9, k = 10)
          Seq((cal.width, cal.measured, cal.target, cal.k))
            .toDF("width", "measured", "target", "k")
        })
        println(f"CLUSTERSMOKE# $mode store:sharded_cal ${c.secs}%.2fs rows=${c.rows}")
        val ivfPath = graft.sources.VectorIndexStore.ensureIvf(spark, sfDir)
        val i = timedRun("store:ivf_probe",
          graft.operators.AnnEval.ivfTopK(spark, ivfPath, panel, k = 10, nProbe = 4))
        println(f"CLUSTERSMOKE# $mode store:ivf_probe ${i.secs}%.2fs rows=${i.rows}")
        //   store:reshard — the round-15 growth verb: re-tag the SHARED
        //     3-shard artifact (identical input layout in both modes)
        //     into a per-mode 2-shard artifact (concurrent per-shard
        //     rebuilds on THIS mode's executors), then probe the result.
        //     Digest = the resharded top-k; counters cover the re-tag
        //     pass + both shard builds + the probe.
        val reshRoot = s"$artifactRoot/index_resharded/ix2"
        graft.sources.PosixMetaBackend.deleteRecursively(s"$artifactRoot/index_resharded")
        val rr = timedRun("store:reshard", {
          graft.operators.ShardedIvf.reshard(spark, shPath, 3, reshRoot, 2)
          graft.operators.AnnEval.shardedTopK(spark, reshRoot, 2, panel, k = 10)
        })
        println(f"CLUSTERSMOKE# $mode store:reshard ${rr.secs}%.2fs rows=${rr.rows}")
        //   store:reshard_catchup — the round-16 bounded-stall reshard
        //     across the JVM boundary: snapshot rebuild of THIS MODE's
        //     2-shard artifact at S'=4 with NO old-root lease, an append
        //     landing between the phases, then the leased replay (the
        //     only blocked window) carrying exactly that delta. Digest =
        //     the caught-up probe + the replayed count; per-mode
        //     artifact, so its window partials get the store:reshard 5%
        //     shuffle band.
        val cuRoot = s"$artifactRoot/index_catchup/ix4"
        graft.sources.PosixMetaBackend.deleteRecursively(s"$artifactRoot/index_catchup")
        val cu = timedRun("store:reshard_catchup", {
          import org.apache.spark.sql.functions.{col, lit}
          graft.operators.ShardedIvf.reshardCatchUpBuild(spark, reshRoot, 2, cuRoot, 4)
          val emb0 = graft.sources.Tables.load(spark, sfDir, "embeddings")
          val tranche = emb0.select((col("vec_id") + 900000L).as("vec_id"),
            col("label"), col("embedding"))
          graft.operators.ShardedIvf.append(spark, reshRoot, 2, tranche)
          val replayed = graft.operators.ShardedIvf.reshardCatchUpReplay(
            spark, reshRoot, 2, cuRoot, 4)
          graft.operators.AnnEval.shardedTopK(spark, cuRoot, 4, panel, k = 10)
            .withColumn("replayed", lit(replayed))
        })
        println(f"CLUSTERSMOKE# $mode store:reshard_catchup ${cu.secs}%.2fs rows=${cu.rows}")
        //   store:delete_probe — the tombstone lifecycle verb across the
        //     JVM boundary: hash-routed delete on THIS MODE's caught-up
        //     4-shard artifact (owning-shard sidecar writes), then the
        //     batched sharded probe over the LOGICAL view — the per-shard
        //     broadcast anti-joins run in executor JVMs. Results must be
        //     byte-equal across modes; per-mode artifact, so its window
        //     partials share the reshard 5% shuffle band.
        val dp = timedRun("store:delete_probe", {
          import org.apache.spark.sql.functions.col
          val emb1 = graft.sources.Tables.load(spark, sfDir, "embeddings")
          graft.operators.ShardedIvf.delete(spark, cuRoot, 4,
            emb1.filter(col("vec_id") % 6 === 1).select("vec_id"))
          graft.operators.AnnEval.shardedTopK(spark, cuRoot, 4, panel, k = 10)
        })
        println(f"CLUSTERSMOKE# $mode store:delete_probe ${dp.secs}%.2fs rows=${dp.rows}")
        //   store:catchup_compact_safe — the round-17 flagship fix across
        //     the JVM boundary: a catch-up reshard of THIS MODE's
        //     tombstoned 4-shard artifact with a takedown AND the
        //     tombstone-fraction compact landing INSIDE the window (the
        //     documented maintenance schedule that silently resurrected
        //     deletes before the generation marker + reverse delta).
        //     Digest = the new generation's probe + a resurrected-id
        //     count that must read 0 in both modes; per-mode artifact,
        //     so it shares the reshard 5% bands.
        val ccRoot = s"$artifactRoot/index_catchup_safe/ix2"
        graft.sources.PosixMetaBackend.deleteRecursively(s"$artifactRoot/index_catchup_safe")
        val cs = timedRun("store:catchup_compact_safe", {
          import org.apache.spark.sql.functions.{col, lit}
          graft.operators.ShardedIvf.reshardCatchUpBuild(spark, cuRoot, 4, ccRoot, 2)
          val emb2 = graft.sources.Tables.load(spark, sfDir, "embeddings")
          val winDel = emb2.filter(col("vec_id") % 6 === 2).select("vec_id")
          graft.operators.ShardedIvf.delete(spark, cuRoot, 4, winDel)
          graft.operators.ShardedIvf.compactShardsIfDeleted(spark, cuRoot, 4,
            maxDeletedFraction = 0.001)
          graft.operators.ShardedIvf.reshardCatchUpReplay(spark, cuRoot, 4, ccRoot, 2)
          val resurrected = (0 until 2).map(r =>
            graft.operators.IvfIndex.loadVectors(spark, s"$ccRoot/shard=$r")
              .select("vec_id")).reduce(_ unionAll _)
            .filter(col("vec_id") % 6 === 2 && col("vec_id") < 900000L).count()
          graft.operators.AnnEval.shardedTopK(spark, ccRoot, 2, panel, k = 10)
            .withColumn("resurrected", lit(resurrected))
        })
        println(f"CLUSTERSMOKE# $mode store:catchup_compact_safe ${cs.secs}%.2fs rows=${cs.rows}")
        //   store:sharded_pq_probe — the composed probe plan across the
        //     JVM boundary: per-shard ADC frames (broadcast table maps in
        //     executor JVMs), per-(qid, shard) rank window over their
        //     union, exact re-rank join, global window. Probes the SHARED
        //     artifact (first mode builds), so counters are exact.
        val shPqPath = graft.sources.VectorIndexStore.ensureShardedPq(spark, sfDir, shards = 3)
        val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        val pq = timedRun("store:sharded_pq_probe",
          graft.operators.AnnEval.shardedPqTopK(spark, shPqPath, 3, emb, panel, k = 10))
        println(f"CLUSTERSMOKE# $mode store:sharded_pq_probe ${pq.secs}%.2fs rows=${pq.rows}")
        //   store:filtered_probe / store:filtered_cal — the filtered-ANN
        //     composition (v22) and its predicate-aware calibration verb
        //     across the JVM boundary: the predicate-filtered
        //     partition-pruned scan runs on this mode's executors, and
        //     the filtered capture-width pass must size the IDENTICAL
        //     width with the identical measured recall (the digest IS
        //     the calibration, like store:sharded_cal). Probes the
        //     SHARED artifact, so counters are exact.
        import org.apache.spark.sql.functions.col
        val fPred = col("label") === 3
        val fVecs = graft.operators.IvfIndex.loadVectors(spark, ivfPath)
          .filter(col("vec_id") =!= 0).filter(fPred)
        val fModel = graft.operators.IvfIndex.loadModel(spark, ivfPath)
        val fp = timedRun("store:filtered_probe",
          graft.operators.AnnEval.ivfTopKFrames(spark, fVecs, fModel,
            panel, k = 10, nProbe = 4))
        println(f"CLUSTERSMOKE# $mode store:filtered_probe ${fp.secs}%.2fs rows=${fp.rows}")
        val fc = timedRun("store:filtered_cal", {
          import spark.implicits._
          val cal = graft.operators.AnnCalibrate.calibrateFilteredWidth(
            spark, Seq(ivfPath), panel, k = 10, target = 0.9,
            predicate = fPred)
          cal.map { case (w, r) => (w, r) }.toSeq.toDF("width", "measured")
        })
        println(f"CLUSTERSMOKE# $mode store:filtered_cal ${fc.secs}%.2fs rows=${fc.rows}")
        //   store:pq_filtered_probe / store:pq_filtered_cal — the
        //     round-16 filtered ENCODED composition (v24) and its
        //     per-workload shortlist calibration across the JVM
        //     boundary: per-shard predicate-filtered ADC scans of the
        //     SHARED sharded-PQ artifact, and the filtered
        //     capture-shortlist pass must size the IDENTICAL depth with
        //     the identical measured recall in both modes.
        val pqf = timedRun("store:pq_filtered_probe",
          graft.operators.AnnEval.shardedPqTopK(spark, shPqPath, 3, emb,
            panel, k = 10, predicate = Some(fPred)))
        println(f"CLUSTERSMOKE# $mode store:pq_filtered_probe ${pqf.secs}%.2fs rows=${pqf.rows}")
        val pqc = timedRun("store:pq_filtered_cal", {
          import spark.implicits._
          val cal = graft.operators.AnnCalibrate.calibrateFilteredShortlist(
            spark, (0 until 3).map(r => s"$shPqPath/shard=$r"), emb, panel,
            k = 10, target = 0.9, predicate = fPred, nProbe = Int.MaxValue)
          cal.toSeq.toDF("shortlist", "measured")
        })
        println(f"CLUSTERSMOKE# $mode store:pq_filtered_cal ${pqc.secs}%.2fs rows=${pqc.rows}")
        //   store:pq_catchup_safe — the round-17 encoded bounded-stall
        //     reshard with the takedown + mid-window compact racing it,
        //     across the JVM boundary: per-mode 2-shard encoded build +
        //     fp store, unleased re-encode at S'=3, a window append AND
        //     delete + the tombstone-fraction sweep, then the leased
        //     replay reconciling both axes from the narrow code tables.
        //     Digest = the caught-up encoded probe + a resurrected-count
        //     column that must read 0 in both modes; per-mode artifact,
        //     reshard 5% bands.
        val pqCuOld = s"$artifactRoot/pq_catchup/ix2"
        val pqCuNew = s"$artifactRoot/pq_catchup/ix3"
        val pqCuFp = s"$artifactRoot/pq_catchup/fp"
        graft.sources.PosixMetaBackend.deleteRecursively(s"$artifactRoot/pq_catchup")
        val pcs = timedRun("store:pq_catchup_safe", {
          import org.apache.spark.sql.functions.{col, lit}
          val emb3 = graft.sources.Tables.load(spark, sfDir, "embeddings")
          graft.sources.FpStore.upsert(spark, pqCuFp, emb3)
          graft.operators.ShardedPq.build(spark, emb3, pqCuOld, 2)
          graft.operators.ShardedPq.reshardCatchUpBuild(
            spark, pqCuOld, 2, pqCuNew, 3, fp = Some(pqCuFp))
          val tranche = emb3.filter(col("vec_id") % 8 === 3)
            .select((col("vec_id") + 910000L).as("vec_id"), col("label"),
              col("embedding"))
          graft.sources.FpStore.upsert(spark, pqCuFp, tranche)
          graft.operators.ShardedPq.append(spark, pqCuOld, 2, tranche)
          val winDel = emb3.filter(col("vec_id") % 8 === 5).select("vec_id")
          graft.operators.ShardedPq.delete(spark, pqCuOld, 2, winDel)
          graft.operators.ShardedPq.compactShardsIfDeleted(spark, pqCuOld, 2,
            maxDeletedFraction = 0.001)
          graft.operators.ShardedPq.reshardCatchUpReplay(
            spark, pqCuOld, 2, pqCuNew, 3, fp = Some(pqCuFp))
          val resurrected = (0 until 3).map(r =>
            graft.operators.PqIndex.loadEncoded(spark, s"$pqCuNew/shard=$r")
              .select("vec_id")).reduce(_ unionAll _)
            .filter(col("vec_id") % 8 === 5 && col("vec_id") < 910000L).count()
          graft.operators.AnnEval.shardedPqTopK(spark, pqCuNew, 3,
            graft.sources.FpStore.read(spark, pqCuFp), panel, k = 10)
            .withColumn("resurrected", lit(resurrected))
        })
        println(f"CLUSTERSMOKE# $mode store:pq_catchup_safe ${pcs.secs}%.2fs rows=${pcs.rows}")
        (p, c, i, rr, cu, dp, cs, pq, fp, fc, pqf, pqc, pcs)
      }
      (runs ++ Seq("store:ivf_build" -> buildRun,
        "store:ivf_dist_train" -> distRun,
        "store:sharded_build" -> shBuildRun,
        "store:sharded_probe" -> shProbeRun,
        "store:sharded_cal" -> calRun,
        "store:ivf_probe" -> probeRun,
        "store:reshard" -> reshardRun,
        "store:reshard_catchup" -> catchupRun,
        "store:delete_probe" -> deleteRun,
        "store:catchup_compact_safe" -> catchupSafeRun,
        "store:pq_catchup_safe" -> pqCatchupSafeRun,
        "store:sharded_pq_build" -> shPqBuildRun,
        "store:sharded_pq_probe" -> shPqProbeRun,
        "store:filtered_probe" -> filteredProbeRun,
        "store:filtered_cal" -> filteredCalRun,
        "store:pq_filtered_probe" -> pqFilteredProbeRun,
        "store:pq_filtered_cal" -> pqFilteredCalRun)).toMap
    } finally {
      spark.stop()
      // the state-store maintenance threads are JVM-global and would keep
      // polling THIS (now dead) session's coordinator while the next
      // session runs (s04 loads executor/driver state stores)
      org.apache.spark.sql.GraftShim.stopStateStores()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
