package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The sharded-IVF composition contracts (SCALE.md round-13 §1: the
  * design path past the single-index broadcast boundary, as code):
  * disjoint-total membership, exactness under full probing, recall
  * under the default pruned probe, and per-shard model independence.
  */
class ShardedIvfSpec extends SparkTestBase with ShardedKinds {

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

  test("shard membership is disjoint and total; full probe equals brute force") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shivf").toString + "/ix"
    val shards = 3
    ShardedIvf.build(spark, emb, root, shards, nCellsPerShard = 8)
    // disjoint + total: every vec_id in exactly one shard artifact
    val ids = (0 until shards).map { r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r")
        .select("vec_id").as[Long].collect().toSet
    }
    assert(ids.map(_.size).sum == emb.count(),
      "shards must partition the corpus without loss or duplication")
    for (a <- 0 until shards; b <- (a + 1) until shards)
      assert(ids(a).intersect(ids(b)).isEmpty, s"shards $a/$b overlap")
    // probing EVERY cell of EVERY shard is the exact brute-force top-k:
    // sharding is total, so unlike cell pruning it cannot lose a result
    val (qid, qv) = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].head()
    val all = (0 until shards).map { r =>
      val m = IvfIndex.loadModel(spark, s"$root/shard=$r")
      IvfIndex.search(spark,
        IvfIndex.loadVectors(spark, s"$root/shard=$r").filter(col("vec_id") =!= qid),
        m, qv, k = 10, nProbe = m.centroids.length)
    }.reduce(_ unionAll _)
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(all == exactTop(10, qid, qv))
  }

  test("searchFiltered scopes every shard's probe; full probe is the exact filtered top-k") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_f").toString + "/ix"
    ShardedIvf.build(spark, emb, root, shards = 3, nCellsPerShard = 8)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val pred = col("label") === 3 && col("vec_id") =!= 0
    val maxCells = (0 until 3).map(r =>
      IvfIndex.loadModel(spark, s"$root/shard=$r").centroids.length).max
    val got = ShardedIvf.searchFiltered(spark, root, 3, qv, k = 5,
      nProbe = maxCells, predicate = Some(pred))
      .select("vec_id", "label").as[(Long, Int)].collect()
    assert(got.nonEmpty && got.forall(_._2 == 3),
      "every filtered result must satisfy the predicate")
    // full probe over all shards == exact filtered brute force (sets:
    // the exact side orders by raw cosine, the probe by the rounded one)
    val exact = emb.filter(pred)
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
          lit(qv.toArray).cast("array<float>")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet == exact,
      "full-probe filtered sharded search must equal the exact filtered top-k")
  }

  test("default pruned probe keeps useful recall and peaks at one shard's model") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shivf2").toString + "/ix"
    val shards = 3
    ShardedIvf.build(spark, emb, root, shards, nCellsPerShard = 8)
    assert(ShardedIvf.totalCells(spark, root, shards) == 24)
    val queries = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    var hit = 0
    var total = 0
    queries.foreach { case (qid, qv) =>
      val exact = exactTop(10, qid, qv).toSet
      val approx = ShardedIvf.search(spark, root, shards, qv, k = 11)
        .filter(col("vec_id") =!= qid).limit(10)
        .select("vec_id").as[Long].collect().toSet
      hit += (exact & approx).size
      total += exact.size
    }
    val recall = hit.toDouble / total
    // auto-nProbe floor (4 of 8 cells per shard) probes half of each
    // shard: the union composition must not score below the
    // single-index nProbe=4/16 bound (IvfIndexSpec's 0.3)
    assert(recall >= 0.3, s"sharded recall@10 over 5 queries = $recall")
  }

  test("build leaves no corpus-sized scratch and attaches the lifecycle plane") {
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_lc").toString + "/ix"
    ShardedIvf.build(spark, emb, root, shards = 2, nCellsPerShard = 8)
    // the tagged staging table is deleted once every shard owns its vectors
    assert(!new java.io.File(s"$root/tagged").exists(),
      "shard-tagging scratch must not survive the build")
    // every shard artifact carries the SAME maintenance plane as a single
    // index: qerr watermark log + semantics-versioned baseline sidecar
    for (r <- 0 until 2) {
      assert(new java.io.File(s"$root/shard=$r/qerr").exists(), s"shard $r: no qerr log")
      assert(new java.io.File(s"$root/shard=$r/qerr.BASELINE").exists(),
        s"shard $r: no drift baseline")
    }
  }

  test("ensureShardedIvf publishes atomically and short-circuits when complete") {
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_shivf_ens").toString
    val prev = spark.conf.getOption(graft.sources.VectorIndexStore.RootConf)
    spark.conf.set(graft.sources.VectorIndexStore.RootConf, idxRoot)
    try {
      val path = graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      assert(new java.io.File(s"$path/_SUCCESS").exists(), "no completeness marker")
      val m0 = IvfIndex.loadModel(spark, s"$path/shard=0")
      // second ensure short-circuits on the marker: no rebuild, model file
      // untouched (same mtimes ⇒ no writes happened)
      val mtimes = new java.io.File(path).listFiles().map(f => f.getName -> f.lastModified).toMap
      val again = graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      assert(again == path)
      val after = new java.io.File(path).listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(after == mtimes, "idempotent ensure must not rewrite the artifact")
      IvfIndex.loadModel(spark, s"$path/shard=0").centroids
        .zip(m0.centroids).foreach { case (a, b) => assert(a.sameElements(b)) }
    } finally prev match {
      case Some(p) => spark.conf.set(graft.sources.VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(graft.sources.VectorIndexStore.RootConf)
    }
  }

  test("append hash-routes to shards, stays disjoint-total, preserves full-probe exactness") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_app").toString + "/ix"
    val shards = 3
    val base = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    ShardedIvf.build(spark, base, root, shards, nCellsPerShard = 8)
    ShardedIvf.append(spark, root, shards, batch)
    // membership over the UNION stays disjoint and total
    val ids = (0 until shards).map { r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r")
        .select("vec_id").as[Long].collect().toSet
    }
    assert(ids.map(_.size).sum == emb.count(),
      "appended corpus must still partition without loss or duplication")
    for (a <- 0 until shards; b <- (a + 1) until shards)
      assert(ids(a).intersect(ids(b)).isEmpty, s"shards $a/$b overlap after append")
    // redelivered batch: the per-shard anti-join makes the append a no-op
    ShardedIvf.append(spark, root, shards, batch)
    assert((0 until shards).map(r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r").count()).sum == emb.count(),
      "redelivery must not double-insert")
    // full probe over all shards is STILL the brute-force top-k
    val (qid, qv) = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val all = (0 until shards).map { r =>
      val m = IvfIndex.loadModel(spark, s"$root/shard=$r")
      IvfIndex.search(spark,
        IvfIndex.loadVectors(spark, s"$root/shard=$r").filter(col("vec_id") =!= qid),
        m, qv, k = 10, nProbe = m.centroids.length)
    }.reduce(_ unionAll _)
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(all == exactTop(10, qid, qv),
      "full-probe exactness must survive the append lifecycle")
  }

  test("compactShards bounds per-cell file counts and preserves probe results") {
    compactShardsCase(ivfKind)
  }

  test("retrainIfNeeded is per-shard: quiet index is a no-op, drifted shards retrain") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_rt").toString + "/ix"
    val shards = 2
    ShardedIvf.build(spark, emb, root, shards, nCellsPerShard = 8)
    assert(ShardedIvf.retrainIfNeeded(spark, root, shards) == 0,
      "fresh artifact must not retrain")
    // a strongly shifted batch drifts every shard's qerr past the factor
    val drifted = emb.select((col("vec_id") + 10000L).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(8.0f))
        .cast("array<float>").as("embedding"))
    ShardedIvf.append(spark, root, shards, drifted)
    val retrained = ShardedIvf.retrainIfNeeded(spark, root, shards)
    assert(retrained == shards, s"both drifted shards should retrain, got $retrained")
    assert(ShardedIvf.retrainIfNeeded(spark, root, shards) == 0,
      "retrain must reset each shard's baseline (second call is a no-op)")
  }

  test("reshard S->S' from the artifact itself: disjoint-total, appends survive, full probe exact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_resh").toString
    val root = s"$base/ix3"
    val root2 = s"$base/ix5"
    ShardedIvf.build(spark, emb.filter(col("vec_id") < 300), root, 3, nCellsPerShard = 8)
    // appended batches live only in the shard tables — a reshard sourcing
    // anything else would drop them
    ShardedIvf.append(spark, root, 3, emb.filter(col("vec_id") >= 300))
    ShardedIvf.reshard(spark, root, 3, root2, 5, nCellsPerShard = 8)
    val ids = (0 until 5).map { r =>
      IvfIndex.loadVectors(spark, s"$root2/shard=$r")
        .select("vec_id").as[Long].collect().toSet
    }
    assert(ids.map(_.size).sum == emb.count(),
      "resharded corpus (including appends) must partition without loss or duplication")
    for (a <- 0 until 5; b <- (a + 1) until 5)
      assert(ids(a).intersect(ids(b)).isEmpty, s"new shards $a/$b overlap")
    // full probe over the S' shards is still the brute-force top-k
    val (qid, qv) = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val all = (0 until 5).map { r =>
      val m = IvfIndex.loadModel(spark, s"$root2/shard=$r")
      IvfIndex.search(spark,
        IvfIndex.loadVectors(spark, s"$root2/shard=$r").filter(col("vec_id") =!= qid),
        m, qv, k = 10, nProbe = m.centroids.length)
    }.reduce(_ unionAll _)
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(all == exactTop(10, qid, qv),
      "full-probe exactness must survive the reshard")
    // every new shard carries the full lifecycle plane, and the old
    // artifact is untouched (the caller GCs it when readers are done)
    for (r <- 0 until 5) {
      assert(new java.io.File(s"$root2/shard=$r/qerr").exists(), s"new shard $r: no qerr")
      assert(new java.io.File(s"$root2/shard=$r/qerr.BASELINE").exists(),
        s"new shard $r: no baseline")
    }
    assert((0 until 3).map(r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r").count()).sum == emb.count(),
      "reshard must not mutate the old artifact")
  }

  test("catch-up reshard: appends land during the unleased build and the replay carries exactly the delta") {
    catchUpCarriesDeltaCase(ivfKind)
  }

  test("catch-up replay is delta-shaped via the seq-stamped rows, across a mid-window compact too") {
    catchUpSeqJournalCase(ivfKind)
  }

  test("catch-up replay survives a mid-window tombstone compaction: deleted ids stay hidden in the new generation") {
    catchUpTombstoneCompactCase(ivfKind)
  }

  test("catch-up replay forwards only WINDOW deletes: a pre-snapshot tombstone leaves no stale sidecar row on the new root") {
    catchUpWindowDeletesOnlyCase(ivfKind)
  }

  test("catch-up watermark for a shard with no qerr log is -1: the seq-0 window append is not dropped") {
    catchUpNoQerrCase(ivfKind)
  }

  test("a crashed append (rows written, no qerr row) is replayed once, never double-materialized") {
    catchUpCrashedAppendCase(ivfKind)
  }

  test("catch-up reshard: window appends carried, window deletes hidden even across a mid-window compact, replay idempotent") {
    catchUpMidWindowSweepCase(ivfKind)
  }

  test("a catch-up window spanning a compact carries the batches on both sides of it") {
    catchUpAcrossCompactCase(ivfKind)
  }

  test("a catch-up window spanning a retrain adds exactly the window's rows") {
    catchUpAcrossRetrainCase(ivfKind)
  }

  test("a legacy-layout shard whose data files lack seq replays through the fallback") {
    catchUpLegacyLayoutCase(ivfKind)
  }

  test("reshard drops calibration (a width for S says nothing about S') and can shrink") {
    val base = java.nio.file.Files.createTempDirectory("graft_resh2").toString
    val root = s"$base/ix3"
    val root2 = s"$base/ix2"
    ShardedIvf.build(spark, emb, root, 3, nCellsPerShard = 8)
    graft.sources.VectorIndexStore.calibrateShardedIvf(spark, root, 3,
      target = 0.5, k = 5, maxPanel = 8)
    assert(graft.sources.VectorIndexStore.readProbeCal(root).isDefined,
      "premise: old root is calibrated")
    ShardedIvf.reshard(spark, root, 3, root2, 2, nCellsPerShard = 8)
    assert(graft.sources.VectorIndexStore.readProbeCal(root2).isEmpty,
      "the S-shard width must not transfer to the S'-shard artifact")
    // the calibrated sentinel degrades to the auto policy on the new root
    import spark.implicits._
    val got = ShardedIvf.search(spark, root2, 2,
      emb.filter(col("vec_id") === 1).select("embedding")
        .as[Array[Float]].head(), k = 5, nProbe = IvfIndex.NProbeCalibrated)
    assert(got.count() == 5, "uncalibrated new root must still serve probes")
    val ids = (0 until 2).map { r =>
      IvfIndex.loadVectors(spark, s"$root2/shard=$r")
        .select("vec_id").as[Long].collect().toSet
    }
    assert(ids.map(_.size).sum == emb.count() && ids(0).intersect(ids(1)).isEmpty,
      "shrink reshard must stay disjoint-total")
  }

  test("store-level reshard publishes atomically, GCs the old artifact, ensure short-circuits onto it") {
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_resh_st").toString
    val prev = spark.conf.getOption(graft.sources.VectorIndexStore.RootConf)
    spark.conf.set(graft.sources.VectorIndexStore.RootConf, idxRoot)
    try {
      val oldPath = graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      val newPath = graft.sources.VectorIndexStore.reshardShardedIvf(spark, sf, 2, 3)
      assert(new java.io.File(s"$newPath/_SUCCESS").exists(), "no completeness marker")
      assert(!new java.io.File(oldPath).exists(), "old artifact must be GC'd")
      import spark.implicits._
      assert((0 until 3).map(r =>
        IvfIndex.loadVectors(spark, s"$newPath/shard=$r").count()).sum == emb.count())
      // a later ensure at the new shard count serves the resharded artifact
      val mtimes = new java.io.File(newPath).listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 3) == newPath)
      val after = new java.io.File(newPath).listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(after == mtimes, "ensure must short-circuit onto the resharded artifact")
    } finally prev match {
      case Some(p) => spark.conf.set(graft.sources.VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(graft.sources.VectorIndexStore.RootConf)
    }
  }

  test("store-level catch-up reshard carries appends, publishes, GCs, and refuses a live target") {
    import spark.implicits._
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_resh_cu").toString
    val prev = spark.conf.getOption(graft.sources.VectorIndexStore.RootConf)
    spark.conf.set(graft.sources.VectorIndexStore.RootConf, idxRoot)
    try {
      val oldPath = graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      // a streaming-fed artifact: appended rows beyond the fixture corpus
      val tranche = emb.select((col("vec_id") + 100000L).as("vec_id"),
        col("label"), col("embedding"))
      ShardedIvf.append(spark, oldPath, 2, tranche)
      val newPath = graft.sources.VectorIndexStore
        .reshardShardedIvfCatchUp(spark, sf, 2, 3)
      assert(new java.io.File(s"$newPath/_SUCCESS").exists(), "no completeness marker")
      assert(!new java.io.File(oldPath).exists(), "old artifact must be GC'd")
      val ids = (0 until 3).map(r =>
        IvfIndex.loadVectors(spark, s"$newPath/shard=$r").select("vec_id"))
        .reduce(_ unionAll _)
      assert(ids.count() == 2 * emb.count() &&
        ids.distinct().count() == 2 * emb.count(),
        "the caught-up artifact must carry the full appended corpus")
      // a live artifact at the target S is refused, not destroyed
      graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      val e = intercept[IllegalStateException] {
        graft.sources.VectorIndexStore.reshardShardedIvfCatchUp(spark, sf, 2, 3)
      }
      assert(e.getMessage.contains("already exists"), e.getMessage)
      assert(new java.io.File(s"$newPath/_SUCCESS").exists(),
        "the refused target must be left serving")
    } finally prev match {
      case Some(p) => spark.conf.set(graft.sources.VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(graft.sources.VectorIndexStore.RootConf)
    }
  }

  test("a failed VIRGIN build cleans its partial shards so the retry starts clean") {
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_vfail").toString + "/ix"
    // an impossible geometry fails the per-shard builds on a path that
    // never had a published artifact; partial shard=r dirs must not
    // survive (on remote paths they would read as published shards and
    // brick the retry on the rename refusal)
    intercept[Exception] {
      ShardedIvf.build(spark, emb, root, shards = 2, nCellsPerShard = 1000000)
    }
    assert(!new java.io.File(s"$root/shard=0").exists() &&
      !new java.io.File(s"$root/shard=1").exists(),
      "failed virgin build must not leak partial shard directories")
    assert(ShardedIvf.shardCount(root).isEmpty, "no sidecar on a failed build")
    // the retry is a clean virgin build and succeeds
    ShardedIvf.build(spark, emb, root, shards = 2, nCellsPerShard = 8)
    import spark.implicits._
    assert((0 until 2).map(r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r").count()).sum == emb.count())
  }

  test("a failed direct rebuild leaves the published artifact serving (scratch-and-rename)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_fail").toString + "/ix"
    ShardedIvf.build(spark, emb, root, shards = 2, nCellsPerShard = 8)
    val before = (0 until 2).map(r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r").count()).sum
    // an impossible geometry fails every shard build mid-flight: the
    // pre-r15 path had already deleted the live shards by then
    intercept[Exception] {
      ShardedIvf.build(spark, emb, root, shards = 2, nCellsPerShard = 1000000)
    }
    assert((0 until 2).map(r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r").count()).sum == before,
      "failed rebuild must not destroy the published artifact")
    val (qid, qv) = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    assert(ShardedIvf.search(spark, root, 2, qv, k = 5).count() == 5,
      "artifact must keep serving after the failed rebuild")
    assert(!new java.io.File(s"$root/shard=0.building").exists() &&
      !new java.io.File(s"$root/shard=1.building").exists(),
      "failed build must not leak corpus-sized scratch shards")
  }

  test("shards.META pins S: wrong-S verbs fail loudly, reshard re-stamps, legacy trusts caller") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_shmeta").toString
    val root = s"$base/ix"
    ShardedIvf.build(spark, emb, root, shards = 3, nCellsPerShard = 8)
    assert(ShardedIvf.shardCount(root).contains(3))
    val qv = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Array[Float]].head()
    // wrong S in EITHER direction is the silent-wrongness class: probing
    // with fewer shards drops candidates, appending with more routes
    // vectors to directories no reader scans — all verbs must throw
    intercept[IllegalArgumentException] {
      ShardedIvf.search(spark, root, 2, qv, k = 5)
    }
    intercept[IllegalArgumentException] {
      ShardedIvf.append(spark, root, 5, emb.limit(10))
    }
    intercept[IllegalArgumentException] {
      ShardedIvf.retrainIfNeeded(spark, root, 4)
    }
    intercept[IllegalArgumentException] {
      AnnEval.shardedTopK(spark, root, 2,
        Seq((1L, qv)), k = 5)
    }
    // the right S keeps working
    assert(ShardedIvf.search(spark, root, 3, qv, k = 5).count() == 5)
    // reshard stamps the new count on the new root
    val root2 = s"$base/ix2"
    ShardedIvf.reshard(spark, root, 3, root2, 2, nCellsPerShard = 8)
    assert(ShardedIvf.shardCount(root2).contains(2))
    // a legacy artifact (no sidecar) trusts the caller, as before
    graft.sources.Versioned.metaBackend.deleteRecursively(s"$root/shards.META")
    assert(ShardedIvf.shardCount(root).isEmpty)
    assert(ShardedIvf.search(spark, root, 3, qv, k = 5).count() == 5)
  }

  test("store reshard refuses a pre-existing target artifact; stale-S callers get a diagnostic") {
    import spark.implicits._
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_reshcol").toString
    val prev = spark.conf.getOption(graft.sources.VectorIndexStore.RootConf)
    spark.conf.set(graft.sources.VectorIndexStore.RootConf, idxRoot)
    try {
      val p2 = graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 3)
      // a complete artifact already sits at the target identity: ensureDir
      // would short-circuit onto ITS corpus and the GC would destroy the
      // live (possibly appended) one — must refuse, and touch nothing
      val e = intercept[IllegalStateException] {
        graft.sources.VectorIndexStore.reshardShardedIvf(spark, sf, 2, 3)
      }
      assert(e.getMessage.contains("already exists"))
      assert(new java.io.File(p2).exists(), "refusal must not GC the old artifact")
      // a scheduler whose configured S went stale after a reshard gets a
      // diagnostic naming the situation, not a missing-path crash
      graft.sources.VectorIndexStore.reshardShardedIvf(spark, sf, 2, 4)
      val e2 = intercept[IllegalStateException] {
        graft.sources.VectorIndexStore.reshardShardedIvfIfNeeded(spark, sf, 2)
      }
      assert(e2.getMessage.contains("resharded") && e2.getMessage.contains("ivfsh"))
    } finally prev match {
      case Some(p) => spark.conf.set(graft.sources.VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(graft.sources.VectorIndexStore.RootConf)
    }
  }

  test("reshardIfNeeded: no-op under the row budget, grows S to the policy line past it") {
    import spark.implicits._
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_reshif").toString
    val prev = spark.conf.getOption(graft.sources.VectorIndexStore.RootConf)
    spark.conf.set(graft.sources.VectorIndexStore.RootConf, idxRoot)
    try {
      val n = emb.count()
      val path = graft.sources.VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      // generous budget: the check is S footer counts, then a no-op that
      // returns the SERVING pair unchanged
      assert(graft.sources.VectorIndexStore.reshardShardedIvfIfNeeded(
        spark, sf, 2, maxShardRows = n) == (path, 2))
      assert(new java.io.File(path).exists(), "no-op must not touch the artifact")
      // tight budget: mean per-shard rows (n/2) exceeds it -> reshard to
      // ceil(n / maxShardRows) with full membership, old artifact GC'd
      val budget = n / 4
      val (newPath, newShards) = graft.sources.VectorIndexStore
        .reshardShardedIvfIfNeeded(spark, sf, 2, maxShardRows = budget)
      assert(newShards == ((n + budget - 1) / budget).toInt && newShards > 2)
      assert(ShardedIvf.shardCount(newPath).contains(newShards))
      assert(!new java.io.File(path).exists(), "old artifact must be GC'd")
      assert((0 until newShards).map(r =>
        IvfIndex.loadVectors(spark, s"$newPath/shard=$r").count()).sum == n)
      // post-reshard the mean sits AT the policy line: a second call at
      // the same budget is a no-op on the new artifact
      assert(graft.sources.VectorIndexStore.reshardShardedIvfIfNeeded(
        spark, sf, newShards, maxShardRows = budget) == (newPath, newShards))
    } finally prev match {
      case Some(p) => spark.conf.set(graft.sources.VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(graft.sources.VectorIndexStore.RootConf)
    }
  }

  test("a smaller-S rebuild leaves no unread tail shards behind") {
    val root = java.nio.file.Files.createTempDirectory("graft_shrink").toString + "/ix"
    ShardedIvf.build(spark, emb, root, shards = 4, nCellsPerShard = 8)
    ShardedIvf.build(spark, emb, root, shards = 2, nCellsPerShard = 8)
    assert(ShardedIvf.shardCount(root).contains(2))
    assert(!new java.io.File(s"$root/shard=2").exists() &&
      !new java.io.File(s"$root/shard=3").exists(),
      "stale tail shards from the larger prior build must be removed")
    import spark.implicits._
    assert((0 until 2).map(r =>
      IvfIndex.loadVectors(spark, s"$root/shard=$r").count()).sum == emb.count())
  }

  test("shards train independently: models differ and rebuild deterministically") {
    val root = java.nio.file.Files.createTempDirectory("graft_shivf3").toString + "/ix"
    ShardedIvf.build(spark, emb, root, shards = 2, nCellsPerShard = 8)
    val m0 = IvfIndex.loadModel(spark, s"$root/shard=0")
    val m1 = IvfIndex.loadModel(spark, s"$root/shard=1")
    assert(m0.centroids.map(_.toSeq).toSeq != m1.centroids.map(_.toSeq).toSeq,
      "independent shards over different data must not share a model")
    val root2 = java.nio.file.Files.createTempDirectory("graft_shivf4").toString + "/ix"
    ShardedIvf.build(spark, emb, root2, shards = 2, nCellsPerShard = 8)
    IvfIndex.loadModel(spark, s"$root2/shard=0").centroids
      .zip(m0.centroids).foreach { case (a, b) => assert(a.sameElements(b)) }
  }
}
