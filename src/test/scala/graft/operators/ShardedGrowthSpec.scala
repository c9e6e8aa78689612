package graft.operators

import graft.SparkTestBase
import graft.sources.VectorIndexStore
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The kind-free sharded layer: the shard-count growth judgment every
  * growth loop shares — the `Long.MaxValue` "no growth" sentinel (what the
  * streaming sinks pass by default) must read as no growth at every S,
  * not wrap the `maxShardRows * S` product negative and reshard to a
  * nonsense S′ — and the catch-up reshard's `catchup.META` grammar.
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

  test("catchup.META: one grammar; v1 and bare fpw tokens parse into the fallback, others are refused naming the file") {
    val file = "/artifacts/gen-2/catchup.META"
    val current = Sharded.parseCatchUp(file, "0:5:-1:0 1:3:2:1 fpw:9")
    assert(current == Sharded.CatchUp(
      Map(0 -> Sharded.Mark(5, -1, 0), 1 -> Sharded.Mark(3, 2, 1)), Some(9)))
    assert(Sharded.parseCatchUp(file, current.render) == current,
      "the one writer's output must parse back unchanged")
    // v1 "r:w" (written before the delete axis): no marks, so every shard
    // takes the fallback
    assert(Sharded.parseCatchUp(file, "0:5 1:-1") == Sharded.CatchUp(Map.empty, None))
    // the encoded composition's old bare "fpw:N": no marks either; N still
    // prunes the payload fetch (this token used to crash the IVF parser
    // with an unnamed NumberFormatException)
    assert(Sharded.parseCatchUp(file, "fpw:5") == Sharded.CatchUp(Map.empty, Some(5)))
    for (bad <- Seq("fpw:x", "0:x:1:2", "garbage", "1:2:3", "0:1:2:3:4", "-1:0:0:0")) {
      val e = intercept[IllegalStateException](
        Sharded.parseCatchUp(file, s"0:1:-1:0 $bad"))
      assert(e.getMessage.contains(file) && e.getMessage.contains(bad), e.getMessage)
    }
  }

  test("catch-up state: no main code writes an append log, and only Sharded writes catchup.META") {
    val files = {
      val walk = Files.walk(Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    // split literals: this file must not match its own scan. The delete
    // journal's directory (`..._del`) keeps its historical name.
    val appendLog = ("append" + "log(?!_del)").r
    val logWriters = files.filter(p => appendLog.findFirstIn(Files.readString(p)).isDefined)
    assert(logWriters.isEmpty, logWriters.mkString(", "))
    // the file name appears as a path literal only where it is written
    val metaLiteral = "catchup" + ".META\""
    val metaWriters = files.filter((p: Path) => Files.readString(p).contains(metaLiteral))
    assert(metaWriters.map(_.getFileName.toString) == List("Sharded.scala"),
      metaWriters.mkString(", "))
  }
}
