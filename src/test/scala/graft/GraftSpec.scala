package graft

import org.apache.spark.sql.functions._

/** The public facade delegates correctly and composes end-to-end. */
class GraftSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("ingest produces canonical rows with unit-norm embeddings") {
    Graft.install(spark)
    val out = Graft.ingest(spark, docs)
    assert(out.columns.toSeq == Seq("id", "content", "content_vector", "filename",
      "chunk_id", "text_hash", "timestamp", "file_type", "page_number", "metadata"))
    val n = out.count()
    assert(n > 0)
    // dedup happened: hashes are unique
    assert(out.select("text_hash").distinct().count() == n)
  }

  test("hashSplit covers every row exactly once and matches g04") {
    val split = docs.select(Graft.hashSplit(col("doc_id")).as("split"))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.values.sum == docs.count())
    assert(split.keySet == Set("train", "val", "test"))
  }

  test("hashSample(16) keeps everything; hashSample(1) keeps a strict subset") {
    val all = docs.filter(Graft.hashSample(col("doc_id"), 16)).count()
    val some = docs.filter(Graft.hashSample(col("doc_id"), 1)).count()
    assert(all == docs.count())
    assert(some > 0 && some < all)
  }

  test("packSequences conserves docs and starts each group at pack 0") {
    val sized = docs.select(col("doc_id"), col("source"),
      size(split(Graft.normalize(col("text")), " ")).cast("long").as("n_tokens"))
    val packed = Graft.packSequences(sized, "n_tokens", 2048, "source", "doc_id")
    assert(packed.count() == docs.count())
    val firstPacks = packed.groupBy("source").agg(min("pack_id").as("p0"))
      .select("p0").distinct().collect().map(_.getLong(0)).toSet
    assert(firstPacks == Set(0L))
  }

  test("knn returns k strongest matches for a real query vector") {
    Graft.install(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val top = Graft.knn(emb.filter(col("vec_id") =!= 0), qv, k = 5).collect()
    assert(top.length == 5)
    val sims = top.map(_.getDouble(1))
    assert(sims.sameElements(sims.sortBy(-_.toDouble)))
  }

  test("filteredIvfProbe scopes the probe by predicate; full probe is exact within it") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val path = graft.sources.VectorIndexStore.ensureIvf(spark, sf)
    val nCells = graft.operators.IvfIndex.loadModel(spark, path).centroids.length
    val pred = col("label") === 3 && col("vec_id") =!= 0
    val got = Graft.filteredIvfProbe(spark, path, pred, qv, k = 5,
      nProbe = nCells).collect()
    assert(got.nonEmpty && got.length <= 5)
    // every result satisfies the predicate...
    val labels = emb.filter(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_.getLong(0)).forall(labels.contains))
    // ...and at full probe the result IS the exact filtered top-k
    // (set compare: Graft.knn orders by raw cosine, the probe by the
    // 6-dp rounded cosine — a rounding tie could legally reorder)
    val exact = Graft.knn(emb.filter(pred), qv, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_.getLong(0)).toSet == exact,
      "full-probe filtered probe must equal the exact filtered top-k")
  }

  test("nearDupPairs + dupClusters compose") {
    val pairs = Graft.nearDupPairs(spark, docs, threshold = 0.5)
    val clusters = Graft.dupClusters(spark, pairs)
    if (pairs.isEmpty) assert(clusters.isEmpty)
    else assert(clusters.count() >= 2 * pairs.select("id_a").distinct().count() / 2)
  }

  test("facade round-3 surface: nfc, fallback key, snapshot diff") {
    import spark.implicits._
    Graft.install(spark)
    val rows = Seq((null.asInstanceOf[String], "abc", "f.txt", 0))
      .toDF("id", "content", "filename", "chunk_id")
    assert(Graft.withFallbackKey(rows).select("id").as[String].head.startsWith("f_txt_0_"))
    val prev = Seq((1L, "h1"), (2L, "h2")).toDF("doc_id", "text_hash")
    val cur = Seq((2L, "h2x"), (3L, "h3")).toDF("doc_id", "text_hash")
    val st = Graft.snapshotDiff(prev, cur).as[(Long, String)].collect().toMap
    assert(st == Map(1L -> "deleted", 2L -> "changed", 3L -> "added"))
    assert(rows.select(Graft.nfcNormalize(lit("abc")).as("n")).as[String].head == "abc")
  }

  test("bm25TopK ranks term-bearing docs and respects k") {
    val top = Graft.bm25TopK(docs, "doc_id", "text",
      Seq("dup", "vector", "stream"), k = 10).collect()
    assert(top.length == 10)
    val scores = top.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse), "descending scores")
    assert(top.forall(_.getAs[Int]("n_terms") >= 1))
  }

  test("rrfFuse merges two rankings with full-outer semantics") {
    import spark.implicits._
    val a = Seq((1L, 0.9), (2L, 0.8), (3L, 0.1)).toDF("id", "s1")
    val b = Seq((2L, 0.95), (4L, 0.5)).toDF("id", "s2")
    val fused = Graft.rrfFuse(a, "s1", b, "s2", k = 4).collect()
    assert(fused.length == 4)
    // id 2 appears in both rankings -> highest fused score
    assert(fused.head.getAs[Long]("id") == 2L)
  }

  test("redactPii masks emails, urls and ips") {
    import spark.implicits._
    val out = Seq("mail a@b.com or http://x.io or 10.0.0.1 end")
      .toDF("t").select(Graft.redactPii(col("t")).as("r")).as[String].head
    assert(out == "mail [EMAIL] or [URL] or [IP] end", out)
  }

  test("dsirWeights favors target-like documents") {
    val w = Graft.dsirWeights(docs, "doc_id", "text", col("lang") === "en")
    val byLang = docs.select(col("doc_id").as("id"), col("lang"))
      .join(w, "id")
      .groupBy("lang").agg(avg("dsir_weight").as("mw"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the en slice must score higher under its own LM than any other slice
    assert(byLang("en") > byLang.filterNot(_._1 == "en").values.max)
  }

  test("tokenWindows covers every token with the configured overlap") {
    val w = Graft.tokenWindows(docs, "doc_id", "text", size = 64, stride = 32)
    val perDoc = w.groupBy("id").count()
    assert(perDoc.count() == docs.count())
    // every window holds at least 1 and at most `size` tokens
    val bounds = w.agg(min("n_win_tokens"), max("n_win_tokens")).head
    assert(bounds.getInt(0) >= 1 && bounds.getInt(1) <= 64)
  }

  test("ivfPqKnn returns k rows and overlaps the exact top-k") {
    import spark.implicits._
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Seq[Float]].head().toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val approx = Graft.ivfPqKnn(spark, corpus, qv, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val exact = Graft.knn(corpus, qv, k = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.size == 10)
    assert((approx & exact).size >= 3, s"overlap ${(approx & exact).size}")
  }

  test("duplicatedSpans: fresh-frame facade equals the store-served x15 computation") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val fresh = Graft.duplicatedSpans(spark, docs)
    val stored = graft.sources.SubstrStore.spanStats(
      graft.sources.SubstrStore.table(spark, sf, "rows"),
      graft.sources.SubstrStore.table(spark, sf, "docs"),
      graft.sources.SubstrStore.derived(spark, sf, "df"))
    assert(fresh.count() == stored.count())
    assert(fresh.except(stored).isEmpty && stored.except(fresh).isEmpty)
    // structural sanity: dup_words bounded by n_words, frac consistent
    import org.apache.spark.sql.functions._
    assert(fresh.filter(col("dup_words") > col("n_words")).count() == 0)
    assert(fresh.filter(col("max_span_words") > col("dup_words")).count() == 0)
  }

  test("semanticDupPairs serves SemDedup's pair set from a persisted index") {
    val path = graft.sources.VectorIndexStore.ensureIvf(spark, sf)
    val pairs = Graft.semanticDupPairs(spark, path)
    import org.apache.spark.sql.functions._
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "sim"))
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(pairs.filter(col("sim") <= 0.45).count() == 0)
  }

  test("registerArtifactViews exposes joinable SQL views consistent with the stores") {
    Graft.registerArtifactViews(spark, sf)
    for (v <- Seq("graft_postings", "graft_posting_df", "graft_posting_stats",
        "graft_shingles", "graft_shingle_df", "graft_minhash_bands",
        "graft_substr_anchors", "graft_substr_df", "graft_documents"))
      assert(spark.catalog.tableExists(v), s"view $v not registered")
    // a cross-view join resolves and agrees with the store-level frames:
    // per-token doc counts from postings equal the df sidecar
    val mismatches = spark.sql(
      """SELECT p.tok FROM graft_postings p
        |JOIN graft_posting_df f ON p.tok = f.tok
        |GROUP BY p.tok, f.df HAVING count(*) <> f.df""".stripMargin).count()
    assert(mismatches == 0, s"$mismatches tokens where postings disagree with df")
    val nDocs = spark.sql("SELECT CAST(n_docs AS BIGINT) FROM graft_posting_stats")
      .head().getLong(0)
    assert(nDocs == spark.table("graft_documents").count())
  }
}
