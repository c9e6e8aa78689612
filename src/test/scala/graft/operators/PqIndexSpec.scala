package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkTestBase {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("training is deterministic and codebooks have the declared shape") {
    val m1 = PqIndex.train(spark, emb, nCells = 8, m = 8, codes = 16)
    val m2 = PqIndex.train(spark, emb, nCells = 8, m = 8, codes = 16)
    assert(m1.codebooks.length == 8)
    m1.codebooks.foreach { book =>
      assert(book.length <= 16 && book.head.length == m1.subDim)
    }
    m1.codebooks.zip(m2.codebooks).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
  }

  test("bounded-sample codebooks hold recall parity with an 8x sample on a 10x corpus") {
    import spark.implicits._
    // The measured form of PqIndex.train's bounded-sample claim: with
    // sub-quantizer k <= `codes` (256 max), a bounded driver-side sample
    // trains codebooks statistically equivalent to a much larger one at
    // ANY corpus size — so the codebook path never needs the distributed
    // trainer the coarse quantizer routes to. Drill shape: a 10-tranche
    // corpus (the ScaleDrill rotation+negation vector bijections — norms
    // and within-tranche cosine structure preserved), codebooks trained
    // from a bounded sample vs 8x that sample, SAME coarse geometry,
    // panel recall@10 compared. SCALE.md round-14 records the measured
    // pair; the floor here is parity-with-margin, not a tuned constant.
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val corpus = (0 until 10).map { i =>
      val r = i % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        rotated.cast("array<float>").as("embedding"), col("label"))
    }.reduce(_ unionAll _).persist()
    try {
      val small = PqIndex.train(spark, corpus, nCells = 16, m = 8, sampleSize = 512)
      val big = PqIndex.train(spark, corpus, nCells = 16, m = 8, sampleSize = 4096)
      // isolate the CODEBOOK variable: the bounded-vs-8x comparison must
      // not be confounded by the coarse geometry also moving with the
      // sample, so the big-sample codebooks are re-ranked over the
      // small model's coarse cells
      val bigOnSmallCoarse = PqIndex.Model(small.coarse, big.codebooks, big.subDim)
      val panel = AnnEval.rowPanel(corpus, maxPanel = 16)
      val exact = AnnEval.exactTopK(spark, corpus, panel, 10)
      def recallOf(model: PqIndex.Model): Double = {
        val enc = PqIndex.encode(spark, corpus, model)
        AnnEval.meanRecall(
          AnnEval.pqTopKFrames(spark, enc, model, corpus, panel, k = 10,
            nProbe = 8, shortlist = 50),
          exact)
      }
      val rSmall = recallOf(small)
      val rBig = recallOf(bigOnSmallCoarse)
      info(f"recall@10: bounded sample $rSmall%.3f vs 8x sample $rBig%.3f")
      assert(rSmall >= rBig - 0.1,
        f"bounded-sample codebooks lost recall vs the 8x sample: " +
          f"$rSmall%.3f vs $rBig%.3f — the bounded-sample claim no longer holds")
    } finally corpus.unpersist()
  }

  test("coarse training routes past maxTrainCells to the distributed trainer") {
    // maxTrainCells = 4 forces the routing at spec size; the coarse
    // geometry must be the distributed trainer's, verbatim, and the
    // model must still encode/search (codebooks train on the bounded
    // sample regardless of the coarse path)
    val routed = PqIndex.train(spark, emb, nCells = 8, maxTrainCells = 4)
    val direct = IvfIndex.trainDistributed(spark, emb, k = 8)
    routed.coarse.centroids.zip(direct.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b))
    }
    assert(routed.codebooks.nonEmpty)
    val encoded = PqIndex.encode(spark, emb, routed)
    assert(encoded.count() == emb.count())
  }

  test("codes are m bytes per vector — the 32x memory claim") {
    import spark.implicits._
    val model = PqIndex.train(spark, emb, nCells = 8, m = 8, codes = 16)
    val encoded = PqIndex.encode(spark, emb, model)
    assert(encoded.count() == emb.count())
    val lens = encoded.select(length(col("code"))).distinct()
      .as[Int].collect().toSeq
    assert(lens == Seq(8), s"code lengths: $lens")
  }

  test("all-cells probe + corpus-wide shortlist + re-rank == exact top-k") {
    import spark.implicits._
    val model = PqIndex.train(spark, emb, nCells = 8, m = 8, codes = 16)
    val encoded = PqIndex.encode(spark, emb, model).cache()
    val n = emb.count().toInt
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
          lit(query.toArray).cast("array<float>")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    // when nothing is pruned (all cells, shortlist = corpus) the exact
    // re-rank must erase every quantization error
    val pq = PqIndex.search(spark, encoded.filter(col("vec_id") =!= 0), emb, model,
        query, k = 10, nProbe = 8, shortlist = n)
      .select("vec_id").as[Long].collect().toSeq
    assert(pq == exact)
  }

  test("pruned probe + bounded shortlist keeps useful recall") {
    import spark.implicits._
    val model = PqIndex.train(spark, emb)
    val encoded = PqIndex.encode(spark, emb, model).cache()
    val queries = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    var hit = 0
    var total = 0
    queries.foreach { case (qid, qv) =>
      val exact = emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
            lit(qv.toArray).cast("array<float>")), 6).as("sim"))
        .orderBy(desc("sim"), col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSet
      val approx = PqIndex.search(spark, encoded.filter(col("vec_id") =!= qid), emb,
          model, qv, k = 10, nProbe = 4, shortlist = 50)
        .select("vec_id").as[Long].collect().toSet
      hit += (exact & approx).size
      total += exact.size
    }
    val recall = hit.toDouble / total
    assert(recall >= 0.3, s"recall@10 over 5 queries = $recall")
  }
}
