package graft.operators

import graft.SparkTestBase
import graft.sources.{Tables, Tombstones, VectorIndexStore}
import org.apache.spark.sql.functions._

/** DELETE — the tombstone lifecycle verb on the ANN geometries
  * ([[graft.sources.VectorIndexStore.deleteIvf]] / `deletePq`,
  * [[ShardedIvf.delete]], [[ShardedPq.delete]]): immediate logical
  * visibility through the load path every reader shares, physical
  * application (and sidecar clearing) at compact, owning-shard-only
  * routing, and tombstone survival across the reshard verbs
  * (artifact-sourced IVF reshard applies them physically; the
  * corpus-sourced PQ reshard and the catch-up replay FORWARD them). The
  * re-add-requires-compact contract and the single-index
  * compact-if-deleted policy run for both kinds in [[IndexKindSpec]].
  */
class VectorDeleteSpec extends SparkTestBase with ShardedKinds {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/ix"

  private def exactTop(corpus: org.apache.spark.sql.DataFrame,
                       qv: Array[Float], k: Int): Seq[Long] = {
    import spark.implicits._
    corpus.select(col("vec_id"),
      round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
        lit(qv.toArray).cast("array<float>")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(k)
      .select("vec_id").as[Long].collect().toSeq
  }

  private def queryVec: Array[Float] = {
    import spark.implicits._
    emb.filter(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
  }

  test("deleteIvf hides ids immediately; full probe equals exact over the remaining corpus") {
    import spark.implicits._
    val path = tmp("graft_del_ivf")
    VectorIndexStore.buildIvfAt(spark, path, emb, nCells = 8)
    val deleted = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    VectorIndexStore.deleteIvf(spark, path, deleted)
    val live = IvfIndex.loadVectors(spark, path)
    assert(live.filter(col("vec_id") % 7 === 3).count() == 0,
      "a tombstoned id must be invisible to the logical view immediately")
    assert(IvfIndex.loadVectorsRaw(spark, path).count() == emb.count(),
      "the physical table is untouched — delete cost is the sidecar, not a rewrite")
    val model = IvfIndex.loadModel(spark, path)
    val got = IvfIndex.search(spark,
      live.filter(col("vec_id") =!= 0), model, queryVec, k = 10, nProbe = 8)
      .select("vec_id").as[Long].collect().toSeq
    val want = exactTop(
      emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 3), queryVec, 10)
    assert(got == want,
      "full probe over the logical view must be the exact top-k over the remaining corpus")
  }

  test("compactIvf applies tombstones physically and clears the sidecar; probe rows unchanged") {
    import spark.implicits._
    val path = tmp("graft_del_compact")
    VectorIndexStore.buildIvfAt(spark, path, emb, nCells = 8)
    VectorIndexStore.deleteIvf(spark, path, emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
    val model = IvfIndex.loadModel(spark, path)
    def probe() = IvfIndex.search(spark,
      IvfIndex.loadVectors(spark, path).filter(col("vec_id") =!= 0),
      model, queryVec, k = 10, nProbe = 8)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    val before = probe()
    VectorIndexStore.compactIvf(spark, path, nCells = 8)
    assert(Tombstones.read(spark, path).isEmpty,
      "compaction physically applied the deletes — the sidecar must be cleared")
    assert(IvfIndex.loadVectorsRaw(spark, path)
      .filter(col("vec_id") % 7 === 3).count() == 0,
      "the compacted rewrite must omit tombstoned rows")
    assert(probe() == before,
      "a compaction is a physical no-op for readers — probe rows must be byte-equal")
  }

  test("deletePq excludes codes BEFORE the ADC scan — the logical view equals a manual pre-filter") {
    import spark.implicits._
    val path = tmp("graft_del_pq")
    VectorIndexStore.buildPqAt(spark, path, emb, nCells = 8)
    VectorIndexStore.deletePq(spark, path, emb.filter(col("vec_id") % 5 === 2).select("vec_id"))
    val model = PqIndex.loadModel(spark, path)
    // tight shortlist: if the anti-join sat AFTER the shortlist, deleted
    // codes would eat slots and the surviving candidate set would differ
    def rows(enc: org.apache.spark.sql.DataFrame) =
      PqIndex.search(spark, enc.filter(col("vec_id") =!= 0), emb, model,
        queryVec, k = 5, nProbe = 8, shortlist = 5)
        .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    val logical = rows(PqIndex.loadEncoded(spark, path))
    val manual = rows(PqIndex.loadEncodedRaw(spark, path)
      .filter(col("vec_id") % 5 =!= 2))
    assert(logical == manual,
      "loadEncoded must anti-join tombstones before the ADC stage, not after the shortlist")
    assert(logical.forall(_._1 % 5 != 2), "no deleted id may surface")
    VectorIndexStore.compactPq(spark, path, nCells = 8)
    assert(Tombstones.read(spark, path).isEmpty, "compactPq clears the sidecar")
    assert(rows(PqIndex.loadEncoded(spark, path)) == logical,
      "the physical apply must not change results")
  }

  test("sharded delete routes to owning shards only; search excludes; reshard applies physically") {
    import spark.implicits._
    val root = tmp("graft_del_sh")
    ShardedIvf.build(spark, emb, root, shards = 3, nCellsPerShard = 8)
    val delIds = emb.filter(col("vec_id") % 6 === 1).select("vec_id")
    ShardedIvf.delete(spark, root, 3, delIds)
    // routing: each shard's sidecar holds exactly the ids it owns
    val expected = delIds.withColumn("shard", pmod(xxhash64(col("vec_id")), lit(3L)).cast("int"))
    for (r <- 0 until 3) {
      val want = expected.filter(col("shard") === r).select("vec_id")
        .as[Long].collect().toSet
      val got = Tombstones.read(spark, s"$root/shard=$r")
        .map(_.as[Long].collect().toSet).getOrElse(Set.empty[Long])
      assert(got == want, s"shard $r sidecar must hold exactly its owned deletes")
    }
    val got = ShardedIvf.search(spark, root, 3, queryVec, k = 10,
      nProbe = Int.MaxValue).select("vec_id").as[Long].collect().toSeq
    val want = exactTop(emb.filter(col("vec_id") % 6 =!= 1), queryVec, 10)
    assert(got == want,
      "full probe over the deleted composition must be exact over the remaining corpus")
    // the artifact-sourced reshard reads the LOGICAL view: the new root is
    // born clean — deletes applied physically, no sidecars to carry
    val newRoot = tmp("graft_del_sh_new")
    ShardedIvf.reshard(spark, root, 3, newRoot, 2, nCellsPerShard = 8)
    assert((0 until 2).forall(r => Tombstones.read(spark, s"$newRoot/shard=$r").isEmpty),
      "a resharded artifact carries no tombstones")
    val member = (0 until 2).map(r =>
      IvfIndex.loadVectorsRaw(spark, s"$newRoot/shard=$r").select("vec_id"))
      .reduce(_ unionAll _)
    assert(member.filter(col("vec_id") % 6 === 1).count() == 0,
      "reshard must apply deletes physically (none of the deleted ids re-tagged)")
    assert(member.count() == emb.filter(col("vec_id") % 6 =!= 1).count(),
      "and must keep every live id")
  }

  test("catch-up replay forwards deletes that landed during the rebuild window") {
    catchUpForwardsWindowDeletesCase(ivfKind)
  }

  test("compactShardsIfDeleted compacts only crossed shards") {
    import spark.implicits._
    // sharded sweep: a SKEWED takedown (every deleted id owned by one
    // shard, minus one survivor) must compact only the crossed shard
    val root = tmp("graft_del_ifneeded_sh")
    ShardedIvf.build(spark, emb, root, shards = 3, nCellsPerShard = 8)
    val shardOf0 = pmod(xxhash64(lit(0L)), lit(3L)).cast("int")
    val target = spark.range(1).select(shardOf0.as("s")).as[Int].head()
    val ownedAll = emb.select(col("vec_id"))
      .withColumn("s", pmod(xxhash64(col("vec_id")), lit(3L)).cast("int"))
      .filter(col("s") === target).select("vec_id")
    val survivor = ownedAll.as[Long].collect().min
    ShardedIvf.delete(spark, root, 3, ownedAll.filter(col("vec_id") =!= survivor))
    val compacted = ShardedIvf.compactShardsIfDeleted(spark, root, 3,
      maxDeletedFraction = 0.5)
    assert(compacted == 1, "only the shard owning the skewed takedown pays the rewrite")
    assert(Tombstones.read(spark, s"$root/shard=$target").isEmpty)
    assert(IvfIndex.loadVectorsRaw(spark, s"$root/shard=$target")
      .select("vec_id").as[Long].collect().toSeq == Seq(survivor),
      "the rewrite keeps exactly the surviving row")
    // a FULLY tombstoned artifact refuses the empty rewrite (compactIvf)
    // and the policy verb SKIPS it instead of crashing a scheduler loop
    ShardedIvf.delete(spark, root, 3, emb.filter(col("vec_id") === survivor).select("vec_id"))
    assert(ShardedIvf.compactShardsIfDeleted(spark, root, 3,
      maxDeletedFraction = 0.01) == 0, "fully-deleted shard must be skipped, not compacted")
    assertThrows[IllegalArgumentException] {
      VectorIndexStore.compactIvf(spark, s"$root/shard=$target", nCells = 8)
    }
  }

  test("sharded PQ delete excludes codes; store reshard forwards pending tombstones") {
    import spark.implicits._
    val prior = spark.conf.getOption(VectorIndexStore.RootConf)
    spark.conf.set(VectorIndexStore.RootConf,
      java.nio.file.Files.createTempDirectory("graft_del_shpq_store").toString)
    try {
      val path = VectorIndexStore.ensureShardedPq(spark, sf, shards = 3)
      val delIds = emb.filter(col("vec_id") % 4 === 1).select("vec_id")
      ShardedPq.delete(spark, path, 3, delIds)
      val n = emb.count().toInt
      val got = ShardedPq.search(spark, path, 3,
        emb.filter(col("vec_id") % 4 =!= 1), queryVec, k = 10,
        nProbe = Int.MaxValue, shortlist = n)
        .select("vec_id").as[Long].collect().toSeq
      val want = exactTop(emb.filter(col("vec_id") % 4 =!= 1), queryVec, 10)
      assert(got == want,
        "full probe + full shortlist over the deleted encoded composition is exact over the remaining corpus")
      // the PQ reshard re-encodes from the FULL-PRECISION store (which
      // knows nothing of the artifact's deletes) — pending tombstones must
      // be forwarded, or the reshard silently resurrects every deleted id
      val newPath = VectorIndexStore.reshardShardedPq(spark, sf, 3, 2)
      val enc = (0 until 2).map(r =>
        PqIndex.loadEncoded(spark, s"$newPath/shard=$r").select("vec_id"))
        .reduce(_ unionAll _)
      assert(enc.filter(col("vec_id") % 4 === 1).count() == 0,
        "resharding must not resurrect deleted ids — tombstones forward to the new root")
      assert(enc.count() == emb.filter(col("vec_id") % 4 =!= 1).count(),
        "every live id survives the reshard")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(VectorIndexStore.RootConf, v)
        case None => spark.conf.unset(VectorIndexStore.RootConf)
      }
    }
  }
}
