package graft.operators

import graft.SparkTestBase
import graft.sources.VectorIndexStore

/** The shard-count growth judgment every growth loop shares: the
  * `Long.MaxValue` "no growth" sentinel (what the streaming sinks pass by
  * default) must read as no growth at every S, not wrap the
  * `maxShardRows * S` product negative and reshard to a nonsense S′.
  */
class ShardedGrowthSpec extends SparkTestBase {

  test("store growth loops return the serving pair unchanged under the Long.MaxValue sentinel") {
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_grow_max").toString
    val prev = spark.conf.getOption(VectorIndexStore.RootConf)
    spark.conf.set(VectorIndexStore.RootConf, idxRoot)
    try {
      // S = 2: Long.MaxValue * 2 wraps to -2, so a product-form check
      // reads every corpus as over the line
      val ivf = VectorIndexStore.ensureShardedIvf(spark, sf, shards = 2)
      assert(VectorIndexStore.reshardShardedIvfIfNeeded(
        spark, sf, 2, maxShardRows = Long.MaxValue) == (ivf, 2))
      assert(ShardedIvf.shardCount(ivf).contains(2))
      val pq = VectorIndexStore.ensureShardedPq(spark, sf, shards = 2)
      assert(VectorIndexStore.reshardShardedPqIfNeeded(
        spark, sf, 2, maxShardRows = Long.MaxValue) == (pq, 2))
      assert(ShardedPq.shardCount(pq).contains(2))
    } finally prev match {
      case Some(p) => spark.conf.set(VectorIndexStore.RootConf, p)
      case None => spark.conf.unset(VectorIndexStore.RootConf)
    }
  }

  test("grownShards: ceil(total / maxShardRows) past the mean, overflow-free") {
    assert(Sharded.grownShards(0L, 1, 1L).isEmpty)
    assert(Sharded.grownShards(100L, 2, 50L).isEmpty, "at the line is under it")
    assert(Sharded.grownShards(101L, 2, 50L).contains(3))
    assert(Sharded.grownShards(1000L, 3, 100L).contains(10))
    for (s <- Seq(1, 2, 3, 4, 1024))
      assert(Sharded.grownShards(Long.MaxValue, s, Long.MaxValue).isEmpty)
    assert(Sharded.grownShards(Long.MaxValue, 1, Long.MaxValue / 2).contains(3))
    intercept[IllegalArgumentException](Sharded.grownShards(10L, 1, 0L))
  }
}
