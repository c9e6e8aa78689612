package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Sharded IVF-PQ composition contracts ([[ShardedPq]]): disjoint-total
  * encoded membership, exactness under full probing + corpus-wide
  * shortlists (the re-rank is exact cosine, so nothing outside the true
  * top-k survives a complete candidate set), append idempotence +
  * routing, per-shard drift retrain, root-level shortlist calibration
  * (honored / policy-mismatch degrade / retrain invalidation), and the
  * shards.META guard shared with [[ShardedIvf]].
  */
class ShardedPqSpec extends SparkTestBase with ShardedKinds {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def exactTop(k: Int, qid: Long, qv: Array[Float]): Seq[Long] = {
    import spark.implicits._
    emb.filter(col("vec_id") =!= qid)
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
          lit(qv.toArray).cast("array<float>")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(k)
      .select("vec_id").as[Long].collect().toSeq
  }

  test("encoded membership is disjoint-total; full probe + full shortlist equals brute force") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shpq").toString + "/ix"
    val shards = 3
    ShardedPq.build(spark, emb, root, shards, nCellsPerShard = 8)
    val ids = (0 until shards).map { r =>
      PqIndex.loadEncoded(spark, s"$root/shard=$r")
        .select("vec_id").as[Long].collect().toSet
    }
    assert(ids.map(_.size).sum == emb.count(),
      "encoded shards must partition the corpus without loss or duplication")
    for (a <- 0 until shards; b <- (a + 1) until shards)
      assert(ids(a).intersect(ids(b)).isEmpty, s"shards $a/$b overlap")
    // probing every cell with a corpus-wide shortlist makes the candidate
    // set complete; the exact re-rank then IS brute force
    val (qid, qv) = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val n = emb.count().toInt
    val got = ShardedPq.search(spark, root, shards,
      emb.filter(col("vec_id") =!= qid), qv, k = 10,
      nProbe = 8, shortlist = n)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactTop(10, qid, qv),
      "full probe + complete shortlist must reproduce the exact top-k")
  }

  test("searchFiltered scopes every shard's ADC scan; full probe + full shortlist is the exact filtered top-k") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shpq_f").toString + "/ix"
    ShardedPq.build(spark, emb, root, shards = 3, nCellsPerShard = 8)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val pred = col("label") === 3 && col("vec_id") =!= 0
    val n = emb.filter(pred).count().toInt
    // nothing pruned (every cell probed, shortlist covers every filtered
    // candidate) → the ADC stage only orders, the exact re-rank scores:
    // the composed filtered search IS the filtered brute force
    val got = ShardedPq.searchFiltered(spark, root, 3, emb, qv, k = 5,
      nProbe = Int.MaxValue, shortlist = n, predicate = Some(pred))
      .select("vec_id", "label").as[(Long, Int)].collect()
    assert(got.nonEmpty && got.forall(_._2 == 3),
      "every filtered result must satisfy the predicate")
    val exact = emb.filter(pred)
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
          lit(qv.toArray).cast("array<float>")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet == exact,
      "full-probe full-shortlist filtered sharded-PQ search must equal " +
        "the exact filtered top-k")
    // the default policy (auto probe, default shortlist) still yields
    // only predicate-satisfying rows — the ADC scan never sees the rest
    val auto = ShardedPq.searchFiltered(spark, root, 3, emb, qv, k = 5,
      predicate = Some(pred)).select("label").as[Int].collect()
    assert(auto.forall(_ == 3))
  }

  test("append hash-routes and is idempotent; probes see appended vectors") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shpq_app").toString + "/ix"
    val shards = 2
    val base = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    ShardedPq.build(spark, base, root, shards, nCellsPerShard = 8)
    ShardedPq.append(spark, root, shards, batch)
    assert((0 until shards).map(r =>
      PqIndex.loadEncoded(spark, s"$root/shard=$r").count()).sum == emb.count())
    // redelivery: the per-shard anti-join makes it a no-op
    ShardedPq.append(spark, root, shards, batch)
    assert((0 until shards).map(r =>
      PqIndex.loadEncoded(spark, s"$root/shard=$r").count()).sum == emb.count(),
      "redelivery must not double-insert")
    // an appended vector is findable at full probe/corpus shortlist
    val (qid, qv) = emb.filter(col("vec_id") === 301)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val got = ShardedPq.search(spark, root, shards,
      emb.filter(col("vec_id") =!= qid), qv, k = 10,
      nProbe = 8, shortlist = emb.count().toInt)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactTop(10, qid, qv))
  }

  test("compactShards bounds per-cell file counts and preserves probe results") {
    compactShardsCase(pqKind)
  }

  test("retrainIfNeeded is per-shard and feeds hash-routed full-precision slices") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shpq_rt").toString + "/ix"
    val shards = 2
    ShardedPq.build(spark, emb, root, shards, nCellsPerShard = 8)
    assert(ShardedPq.retrainIfNeeded(spark, root, shards, emb, recallFloor = 0.0) == 0,
      "fresh artifact must not retrain")
    val drifted = emb.select((col("vec_id") + 10000L).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(8.0f))
        .cast("array<float>").as("embedding"))
    ShardedPq.append(spark, root, shards, drifted)
    val full = emb.select("vec_id", "label", "embedding").unionAll(drifted)
    val retrained = ShardedPq.retrainIfNeeded(spark, root, shards, full, recallFloor = 0.0)
    assert(retrained == shards, s"both drifted shards should retrain, got $retrained")
    assert(ShardedPq.retrainIfNeeded(spark, root, shards, full, recallFloor = 0.0) == 0,
      "retrain must reset each shard's baseline")
  }

  test("root shortlist calibration: honored at its policy, degrades on mismatch, dropped by retrain") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shpq_cal").toString + "/ix"
    val shards = 2
    ShardedPq.build(spark, emb, root, shards, nCellsPerShard = 8)
    val cal = graft.sources.VectorIndexStore.calibrateShardedPqShortlist(
      spark, root, shards, emb, target = 0.6, k = 5, nProbe = 8, maxPanel = 8)
    assert(cal.shortlist >= 1 && cal.measured >= 0.6)
    val panel = AnnEval.rowPanel(emb.filter(col("vec_id") =!= 0), maxPanel = 8)
    val exact = AnnEval.exactTopK(spark, emb.filter(col("vec_id") =!= 0), panel, 5)
    // the sentinel at the calibrated policy must deliver >= target recall
    val viaCal = AnnEval.shardedPqTopK(spark, root, shards, emb, panel, 5,
      nProbe = 8, shortlist = PqIndex.ShortlistCalibrated)
    assert(AnnEval.meanRecall(viaCal, exact) >= 0.6)
    // equivalently: sentinel == explicit calibrated depth, rows identical
    val viaExplicit = AnnEval.shardedPqTopK(spark, root, shards, emb, panel, 5,
      nProbe = 8, shortlist = cal.shortlist)
    assert(viaCal.collect().toSet == viaExplicit.collect().toSet)
    // a DIFFERENT probe policy must not inherit the promise: degrades to
    // the default depth (same rows as explicitly passing the default)
    val viaMismatch = AnnEval.shardedPqTopK(spark, root, shards, emb, panel, 5,
      nProbe = 2, shortlist = PqIndex.ShortlistCalibrated)
    val viaDefault = AnnEval.shardedPqTopK(spark, root, shards, emb, panel, 5,
      nProbe = 2, shortlist = PqIndex.DefaultShortlist)
    assert(viaMismatch.collect().toSet == viaDefault.collect().toSet)
    // a shard's retrain stales the ROOT calibration (ShardChild propagation)
    val drifted = emb.select((col("vec_id") + 20000L).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(8.0f))
        .cast("array<float>").as("embedding"))
    ShardedPq.append(spark, root, shards, drifted)
    val full = emb.select("vec_id", "label", "embedding").unionAll(drifted)
    assert(ShardedPq.retrainIfNeeded(spark, root, shards, full, recallFloor = 0.0) > 0)
    assert(graft.sources.VectorIndexStore.readShortCal(root).isEmpty,
      "retrain must invalidate the root's shortlist calibration")
  }

  test("shards.META guards every sharded-PQ verb; store ensure publishes atomically") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shpq_meta").toString + "/ix"
    ShardedPq.build(spark, emb, root, shards = 2, nCellsPerShard = 8)
    assert(ShardedPq.shardCount(root).contains(2))
    val qv = emb.filter(col("vec_id") === 1).select("embedding").as[Array[Float]].head()
    intercept[IllegalArgumentException] {
      ShardedPq.search(spark, root, 3, emb, qv, k = 5)
    }
    intercept[IllegalArgumentException] {
      ShardedPq.append(spark, root, 3, emb.limit(5))
    }
    intercept[IllegalArgumentException] {
      AnnEval.shardedPqTopK(spark, root, 3, emb, Seq((1L, qv)), k = 5)
    }
    // store-level ensure: marker + short-circuit
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_shpq_ens").toString
    val prev = spark.conf.getOption(graft.sources.VectorIndexStore.RootConf)
    spark.conf.set(graft.sources.VectorIndexStore.RootConf, idxRoot)
    try {
      val path = graft.sources.VectorIndexStore.ensureShardedPq(spark, sf, shards = 2)
      assert(new java.io.File(s"$path/_SUCCESS").exists())
      val mtimes = new java.io.File(path).listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(graft.sources.VectorIndexStore.ensureShardedPq(spark, sf, shards = 2) == path)
      val after = new java.io.File(path).listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(after == mtimes, "idempotent ensure must not rewrite the artifact")
      // reshard by re-encoding: collision guard + GC, new META
      val p3 = graft.sources.VectorIndexStore.reshardShardedPq(spark, sf, 2, 3)
      assert(ShardedPq.shardCount(p3).contains(3))
      assert(!new java.io.File(path).exists(), "old artifact must be GC'd")
    } finally prev match {
      case Some(p) => spark.conf.set(graft.sources.VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(graft.sources.VectorIndexStore.RootConf)
    }
  }

  test("reshardShardedPqIfNeeded: no-op under budget, grows S past it, stale-S diagnostic") {
    import spark.implicits._
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_shpq_if").toString
    val prev = spark.conf.getOption(graft.sources.VectorIndexStore.RootConf)
    spark.conf.set(graft.sources.VectorIndexStore.RootConf, idxRoot)
    try {
      val n = emb.count()
      val path = graft.sources.VectorIndexStore.ensureShardedPq(spark, sf, shards = 2)
      // generous budget: S footer counts of the ENCODED tables, then a
      // no-op returning the serving pair unchanged
      assert(graft.sources.VectorIndexStore.reshardShardedPqIfNeeded(
        spark, sf, 2, maxShardRows = n) == (path, 2))
      assert(new java.io.File(path).exists(), "no-op must not touch the artifact")
      // tight budget: reshard to ceil(n / budget) by RE-ENCODING from the
      // full-precision store; membership total; old artifact GC'd
      val budget = n / 4
      val (newPath, newShards) = graft.sources.VectorIndexStore
        .reshardShardedPqIfNeeded(spark, sf, 2, maxShardRows = budget)
      assert(newShards == ((n + budget - 1) / budget).toInt && newShards > 2)
      assert(ShardedPq.shardCount(newPath).contains(newShards))
      assert(!new java.io.File(path).exists(), "old artifact must be GC'd")
      assert((0 until newShards).map(r =>
        PqIndex.loadEncoded(spark, s"$newPath/shard=$r").count()).sum == n)
      // at the policy line a second call is a no-op on the new artifact
      assert(graft.sources.VectorIndexStore.reshardShardedPqIfNeeded(
        spark, sf, newShards, maxShardRows = budget) == (newPath, newShards))
      // a scheduler whose configured S went stale gets the serving pqsh*
      // artifacts named, not a missing-path crash
      val e = intercept[IllegalStateException] {
        graft.sources.VectorIndexStore.reshardShardedPqIfNeeded(spark, sf, 2)
      }
      assert(e.getMessage.contains("resharded") && e.getMessage.contains("pqsh"))
    } finally prev match {
      case Some(p) => spark.conf.set(graft.sources.VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(graft.sources.VectorIndexStore.RootConf)
    }
  }

  test("encoded catch-up reshard: window appends carried, window deletes hidden even across a mid-window compact, replay idempotent") {
    catchUpMidWindowSweepCase(pqKind)
  }

  test("a window append whose fp row is missing fails the replay loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_shpq_orphan").toString
    val root2 = s"$tmp/jx"
    val newRoot2 = s"$tmp/jx2"
    val fp = Some(s"$tmp/fp")
    graft.sources.FpStore.upsert(spark, fp.get, emb)
    ShardedPq.build(spark, emb, root2, shards = 2, nCellsPerShard = 8)
    ShardedPq.reshardCatchUpBuild(spark, root2, 2, newRoot2, 3,
      nCellsPerShard = 8, fp = fp)
    val orphan = emb.limit(3)
      .select((col("vec_id") + 990000L).as("vec_id"), col("label"),
        col("embedding"))
    ShardedPq.append(spark, root2, 2, orphan) // no FpStore.upsert: contract broken
    val e = intercept[IllegalArgumentException] {
      ShardedPq.reshardCatchUpReplay(spark, root2, 2, newRoot2, 3, fp)
    }
    assert(e.getMessage.contains("FpStore.upsert"), e.getMessage)
  }

  test("catch-up reshard: appends land during the unleased build and the replay carries exactly the delta") {
    catchUpCarriesDeltaCase(pqKind)
  }

  test("catch-up replay is delta-shaped via the seq-stamped rows, across a mid-window compact too") {
    catchUpSeqJournalCase(pqKind)
  }

  test("catch-up replay survives a mid-window tombstone compaction: deleted ids stay hidden in the new generation") {
    catchUpTombstoneCompactCase(pqKind)
  }

  test("catch-up replay forwards only WINDOW deletes: a pre-snapshot tombstone leaves no stale sidecar row on the new root") {
    catchUpWindowDeletesOnlyCase(pqKind)
  }

  test("catch-up watermark for a shard with no qerr log is -1: the seq-0 window append is not dropped") {
    catchUpNoQerrCase(pqKind)
  }

  test("a crashed append (rows written, no qerr row) is replayed once, never double-materialized") {
    catchUpCrashedAppendCase(pqKind)
  }

  test("catch-up replay forwards deletes that landed during the rebuild window") {
    catchUpForwardsWindowDeletesCase(pqKind)
  }

  test("a catch-up window spanning a compact carries the batches on both sides of it") {
    catchUpAcrossCompactCase(pqKind)
  }

  test("a catch-up window spanning a retrain adds exactly the window's rows") {
    catchUpAcrossRetrainCase(pqKind)
  }

  test("a legacy-layout shard whose data files lack seq replays through the fallback") {
    catchUpLegacyLayoutCase(pqKind)
  }
}
