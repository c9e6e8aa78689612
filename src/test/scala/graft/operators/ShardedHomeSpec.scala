package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** ShardedHome contracts — the serving-pointer indirection a
  * streaming-fed sharded index resolves through: pointer publish/read
  * round-trip, the growth loop's no-op under budget, the catch-up
  * reshard to the next generation (pointer flip + old-generation GC,
  * membership preserved), and the loud no-pointer diagnostic.
  */
class ShardedHomeSpec extends SparkTestBase with ShardedKinds {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("pointer round-trips; growth loop no-ops under budget, flips generations past it") {
    import spark.implicits._
    val home = java.nio.file.Files.createTempDirectory("graft_shhome").toString
    assert(ShardedHome.serving(home).isEmpty)
    ShardedIvf.build(spark, emb, s"$home/${ShardedHome.InitialGen}", 3,
      nCellsPerShard = 8)
    ShardedHome.publishServing(home, ShardedHome.InitialGen, 3)
    assert(ShardedHome.serving(home)
      .contains((s"$home/${ShardedHome.InitialGen}", 3)))
    // under the row budget: the serving pair comes back unchanged
    assert(ShardedHome.reshardIfNeeded(spark, home, maxShardRows = 1L << 40)
      == (s"$home/gen-1", 3))
    assert(new java.io.File(s"$home/gen-1").exists())
    // past it: catch-up reshard to gen-2 at S' = ceil(total/budget),
    // pointer flipped, membership total at S'. A lease-free PROBER that
    // resolved the old (path, S) pair just before the flip must keep
    // its files mid-plan — keep-previous GC retains the retired
    // generation until the NEXT reshard (round-18; the immediate delete
    // this replaces could yank the prober's files)
    val n = emb.count()
    val preFlipPlan = IvfIndex.loadVectors(spark, s"$home/gen-1/shard=0")
      .select("vec_id") // resolved pre-flip, completed post-flip
    val (p2, s2) = ShardedHome.reshardIfNeeded(spark, home,
      maxShardRows = math.max(1L, (n + 4) / 5))
    assert(p2 == s"$home/gen-2" && s2 == 5, s"got ($p2, $s2)")
    assert(ShardedHome.serving(home).contains((p2, 5)))
    assert(new java.io.File(s"$home/gen-1").exists(),
      "the retired generation must survive its own flip (keep-previous GC)")
    assert(preFlipPlan.count() > 0,
      "a prober holding the pre-flip pair must complete across the flip")
    val ids = (0 until 5).map(r =>
      IvfIndex.loadVectors(spark, s"$p2/shard=$r").select("vec_id"))
      .reduce(_ unionAll _)
    assert(ids.count() == n && ids.distinct().count() == n)
    // appends resolve through the pointer's S and keep serving
    val tranche = emb.select((col("vec_id") + 50000L).as("vec_id"),
      col("label"), col("embedding"))
    ShardedIvf.append(spark, p2, s2, tranche)
    assert((0 until 5).map(r =>
      IvfIndex.loadVectors(spark, s"$p2/shard=$r").count()).sum == 2 * n)
    // the NEXT flip reclaims gen-1 (two flips old) and retires gen-2
    val (p3, s3) = ShardedHome.reshardIfNeeded(spark, home,
      maxShardRows = math.max(1L, (2 * n + 6) / 7))
    assert(p3 == s"$home/gen-3" && s3 == 7, s"got ($p3, $s3)")
    assert(!new java.io.File(s"$home/gen-1").exists(),
      "generations two flips old are GC'd at the cutover")
    assert(new java.io.File(s"$home/gen-2").exists(),
      "the just-retired generation is kept for in-flight probers")
    // the explicit operator verb reclaims the grace storage early
    assert(ShardedHome.gcRetired(home) == Seq("gen-2"))
    assert(!new java.io.File(s"$home/gen-2").exists() &&
      new java.io.File(p3).exists(),
      "gcRetired deletes every non-serving generation, never the serving one")
    // a home with no pointer fails loudly (nothing to reshard)
    val empty = java.nio.file.Files.createTempDirectory("graft_shhome_e").toString
    val e = intercept[IllegalStateException] {
      ShardedHome.reshardIfNeeded(spark, empty, maxShardRows = 1)
    }
    assert(e.getMessage.contains("SERVING"), e.getMessage)
  }

  test("growth check counts LIVE rows (physical minus sidecar) without a logical anti-join scan") {
    liveRowsGrowthCase(ivfKind)
  }

  test("encoded growth check counts LIVE rows (physical minus sidecar) without a logical anti-join scan") {
    liveRowsGrowthCase(pqKind)
  }
}
