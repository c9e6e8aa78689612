package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One sharded index kind as the kind-parameterized specs drive it: the
  * composition, its resolved per-shard data table (vectors or codes), its
  * single-query probe (root, S, query, k) and its ShardedHome growth loop
  * (home, maxShardRows).
  */
final case class KindUnderTest(sharded: Sharded,
                               dataDir: String => String,
                               search: (String, Int, Array[Float], Int) => DataFrame,
                               grow: (String, Long) => (String, Int))

/** Spec bodies shared by both sharded kinds: each case takes the kind as
  * an input, so IVF and PQ run the same assertions.
  */
trait ShardedKinds { self: SparkTestBase =>

  private lazy val kindEmb = Tables.load(spark, sf, "embeddings")

  lazy val ivfKind: KindUnderTest = KindUnderTest(ShardedIvf,
    IvfIndex.vectorsDir,
    (root, s, q, k) => ShardedIvf.search(spark, root, s, q, k),
    (home, maxRows) => ShardedHome.reshardIfNeeded(spark, home, maxRows))

  // the encoded home's growth loop re-encodes from an fp store; every
  // shared case keeps it under budget, so the store is never read
  lazy val pqKind: KindUnderTest = KindUnderTest(ShardedPq,
    PqIndex.encodedDir,
    (root, s, q, k) => ShardedPq.search(spark, root, s, kindEmb, q, k),
    (home, maxRows) =>
      ShardedHome.reshardPqIfNeeded(spark, home, s"$home/fp", maxRows))

  def compactShardsCase(kind: KindUnderTest): Unit = {
    import spark.implicits._
    val emb = kindEmb
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_cmp").toString + "/ix"
    val shards = 2
    val base = emb.filter(col("vec_id") < 300)
    kind.sharded.build(spark, base, root, shards, nCellsPerShard = 8)
    // three append batches fragment every touched cell directory
    for (lo <- Seq(300, 360, 420))
      kind.sharded.append(spark, root, shards,
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 60))
    val (qid, qv) = emb.filter(col("vec_id") === 1)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val before = kind.search(root, shards, qv, 10)
      .filter(col("vec_id") =!= qid)
      .select("vec_id").as[Long].collect().toSeq
    // count the RESOLVED data table only (compaction publishes a new
    // Versioned dir and keeps the legacy one for in-flight readers)
    def partFiles(r: Int): Int = {
      def count(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(count).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      count(new java.io.File(kind.dataDir(s"$root/shard=$r")))
    }
    val filesBefore = (0 until shards).map(partFiles).sum
    kind.sharded.compactShards(spark, root, shards)
    val filesAfter = (0 until shards).map(partFiles).sum
    assert(filesAfter < filesBefore,
      s"compaction must cut files: $filesBefore -> $filesAfter")
    val after = kind.search(root, shards, qv, 10)
      .filter(col("vec_id") =!= qid)
      .select("vec_id").as[Long].collect().toSeq
    assert(after == before, "compaction must not change probe results")
  }

  def liveRowsGrowthCase(kind: KindUnderTest): Unit = {
    val emb = kindEmb
    val home = java.nio.file.Files.createTempDirectory("graft_shhome_d").toString
    kind.sharded.build(spark, emb, s"$home/${ShardedHome.InitialGen}", 2,
      nCellsPerShard = 8)
    ShardedHome.publishServing(home, ShardedHome.InitialGen, 2)
    val n = emb.count()
    // budget sized so the FULL corpus is over the line but the post-delete
    // LIVE count is under it: counting deleted rows toward growth would
    // reshard; counting live rows must not
    kind.sharded.delete(spark, s"$home/gen-1", 2,
      emb.filter(col("vec_id") % 2 === 0).select("vec_id"))
    val live = emb.filter(col("vec_id") % 2 =!= 0).count()
    val budget = (live + n) / 4 // live/2 < budget < n/2 per shard mean
    assert(live <= budget * 2 && n > budget * 2, "premise: budget separates")
    assert(kind.grow(home, budget)
      == (s"$home/gen-1", 2),
      "tombstoned rows must not count toward growth (deletes thin shards)")
    assert(ShardedHome.serving(home).contains((s"$home/gen-1", 2)))
  }
}
