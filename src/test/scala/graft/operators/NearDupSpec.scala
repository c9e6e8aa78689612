package graft.operators

import graft.SparkTestBase
import graft.text.TextKernel

class NearDupSpec extends SparkTestBase {

  private val base = "the quick brown fox jumps over the lazy dog and keeps running through the green field"
  private val nearDup = base.replace("green", "wide")
  private val unrelated = "completely different content about database engines and vectorized execution plans"

  test("jaccard: identical=1, near-dup high, unrelated low") {
    val a = TextKernel.shingles(base, 3)
    val b = TextKernel.shingles(nearDup, 3)
    val c = TextKernel.shingles(unrelated, 3)
    assert(NearDup.jaccard(a, a) == 1.0)
    assert(NearDup.jaccard(a, b) > 0.5)
    assert(NearDup.jaccard(a, c) < 0.1)
  }

  test("minhash signature: deterministic and length NumHashes") {
    val s1 = NearDup.minhashSignature(base)
    val s2 = NearDup.minhashSignature(base)
    assert(s1.sameElements(s2))
    assert(s1.length == NearDup.NumHashes)
    assert(!s1.sameElements(NearDup.minhashSignature(unrelated)))
  }

  test("minhash signature similarity approximates jaccard") {
    val s1 = NearDup.minhashSignature(base)
    val s2 = NearDup.minhashSignature(nearDup)
    val agree = s1.zip(s2).count { case (x, y) => x == y }.toDouble / s1.length
    val trueJac = NearDup.jaccard(TextKernel.shingles(base, 3), TextKernel.shingles(nearDup, 3))
    assert(math.abs(agree - trueJac) < 0.25)
  }

  test("simhash: identical texts collide, near-dups are close, unrelated far") {
    val h1 = NearDup.simhash(base)
    val h2 = NearDup.simhash(nearDup)
    val h3 = NearDup.simhash(unrelated)
    assert(NearDup.hammingDistance(h1, h1) == 0)
    assert(NearDup.hammingDistance(h1, h2) <= 7) // measured: 4 (banding guarantee not needed here)
    assert(NearDup.hammingDistance(h1, h3) > 12)
  }

  test("minhashNearDupPairs finds planted duplicates and skips unrelated") {
    import spark.implicits._
    val docs = Seq(
      (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base + " extra tail words here"), (5L, "tiny")
    ).toDF("doc_id", "text")
    val pairs = NearDup.minhashNearDupPairs(spark, docs, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("duplicateClusters: transitive closure over pairs (a-b, b-c => one cluster)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val clusters = NearDup.duplicateClusters(spark, pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(7L) == 7L && clusters(9L) == 7L)
    assert(clusters.size == 5) // only clustered docs appear
  }

  test("duplicateClusters handles a chain (worst-case diameter)") {
    import spark.implicits._
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = NearDup.duplicateClusters(spark, chain)
      .as[(Long, Long)].collect().toMap
    assert(clusters.values.toSet == Set(1L))
    assert(clusters.size == 12)
  }

  test("duplicateClusters returns empty on empty pairs (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(NearDup.duplicateClusters(spark, empty).isEmpty)
  }

  test("alternating CC agrees with label propagation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(50)
      val edges = (1 to n).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      val byProp = NearDup.duplicateClusters(spark, df, maxIter = 100)
        .as[(Long, Long)].collect().toMap
      val byStar = NearDup.duplicateClustersAlternating(spark, df)
        .as[(Long, Long)].collect().toMap
      assert(byStar == byProp, s"trial $trial: $byStar vs $byProp")
    }
  }

  test("alternating CC resolves a chain in O(log n) rounds and empty input") {
    import spark.implicits._
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = NearDup.duplicateClustersAlternating(spark, chain)
      .as[(Long, Long)].collect().toMap
    assert(clusters.values.toSet == Set(1L) && clusters.size == 40)
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(NearDup.duplicateClustersAlternating(spark, empty).isEmpty)
  }

  test("empty and whitespace-only docs never pair (no zero-evidence buckets)") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "   "), (3L, "real content here for once"))
      .toDF("doc_id", "text")
    assert(NearDup.minhashBuckets(spark, docs).filter($"id" =!= 3L).isEmpty)
    assert(NearDup.minhashNearDupPairs(spark, docs, threshold = 0.5).isEmpty)
  }

  test("connectedComponents labels every node with its component's minimum id") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = NearDup.connectedComponents(spark, df)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("simhashNearDupPairs finds planted near-dups at the d<=3 threshold") {
    import spark.implicits._
    val tailDup = base + " tail" // measured hamming distance: 2
    val docs = Seq((1L, base), (2L, tailDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = NearDup.simhashNearDupPairs(spark, docs, maxDistance = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }
}
