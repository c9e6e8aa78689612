package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical ANN recall evaluation: BATCHED multi-query top-k for each
  * index path, so a ~100-vector query panel runs as ONE distributed plan
  * per path instead of 100 driver-looped probes (the round-6 v16 gate was
  * a single query point — deterministic but statistically fragile; a
  * geometry change could halve real recall and still pass).
  *
  * Shape shared by every path: a small (qid, …) probe frame carrying the
  * query vectors is BROADCAST against the (possibly cell/bucket-pruned)
  * corpus, cosine scores are computed in one pass, and a per-qid window
  * takes the top-k — the standard "batch the queries, not the corpus"
  * evaluation layout. At 100 TB the same plans hold: the probe frame stays
  * KB-sized, the corpus side is pruned by the index structure (cells /
  * buckets), and the window partitions by qid so no global sort exists.
  *
  * Determinism (oracle requirement): panels are fixed (every 50th vec_id),
  * models are the persisted seeded artifacts, scores are 6-dp-rounded with
  * vec_id tie-breaks — recall per path per corpus is one stable number.
  * Self-matches (vec_id == qid) are excluded on BOTH the exact and the ANN
  * side, so they cannot inflate recall.
  */
object AnnEval {

  /** Fixed query panel: every `stride`-th vector (vec_id % stride == 0,
    * vec 0 — the designated query vector of v01-v16 — excluded), collected
    * driver-side. Bounded: |corpus| / stride rows (10 at sf0.01, 100 at
    * sf0.1), the same cardinality class as the IVF training sample.
    */
  def queryPanel(spark: SparkSession, emb: DataFrame,
                 stride: Int = 50): Seq[(Long, Array[Float])] = {
    import spark.implicits._
    emb.filter(col("vec_id") % stride === 0 && col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
  }

  /** Id-space-agnostic panel: the `maxPanel` rows with the smallest
    * `xxhash64(vec_id)` — a deterministic pseudo-random sample over ANY id
    * space (the stride-on-vec_id panel of [[queryPanel]] assumes dense
    * ids, which an arbitrary retrain-time corpus does not have). The plan
    * is a distributed partial top-k (TakeOrderedAndProject), NOT a
    * single-partition global sort — safe at any corpus size. Used by the
    * retrain recall gate.
    */
  def rowPanel(corpus: DataFrame, maxPanel: Int = 32): Seq[(Long, Array[Float])] = {
    import corpus.sparkSession.implicits._
    corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(maxPanel)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
  }

  /** Hash-stratified ORACLE-RECOMPUTABLE panel: the `maxPanel` rows with
    * the smallest `md5(vec_id-as-string)` (vec_id tie-break). Same sampling
    * idea as [[rowPanel]], but the ordering key is md5 of the decimal id
    * string, which ANSI SQL engines compute identically
    * (`ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT P` in DuckDB) —
    * so panel MEMBERSHIP itself can be re-derived inside a correctness
    * oracle, making panel-restricted exact quantities hash-checkable.
    * Plan: distributed partial top-k (TakeOrderedAndProject) + a P-row
    * collect — safe at any corpus size.
    */
  def md5Panel(corpus: DataFrame, maxPanel: Int): Seq[(Long, Array[Float])] = {
    import corpus.sparkSession.implicits._
    corpus
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(maxPanel)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
  }

  /** Exact cosine near-dup pairs ANCHORED on a fixed panel: canonical
    * (id_a < id_b) pairs with `sim > tau` where AT LEAST ONE endpoint is a
    * panel member. This is the 100×-runnable grading baseline that replaces
    * a full Θ(n²) exact pair computation inside declared queries: work is
    * |panel|·n distance evaluations — LINEAR in corpus size with the panel
    * held constant — executed as one broadcast of the P-row panel frame
    * against a single corpus scan (the [[exactTopK]] layout). Pairs with
    * both endpoints in the panel are produced from both sides and collapsed
    * by the canonicalizing distinct. With a [[md5Panel]] panel the result
    * is recomputable verbatim in the DuckDB oracle, so anchored pair/drop
    * counts are hash-gated rather than taken on faith.
    */
  def panelAnchoredPairs(corpus: DataFrame, panel: Seq[(Long, Array[Float])],
                         tau: Double): DataFrame = {
    import corpus.sparkSession.implicits._
    val panelDf = broadcast(panel.toDF("pid", "pemb"))
    corpus.crossJoin(panelDf)
      .filter(col("vec_id") =!= col("pid"))
      .filter(graft.expressions.GraftFunctions.cosine_sim(
        col("embedding"), col("pemb")) > tau)
      .select(least(col("pid"), col("vec_id")).as("id_a"),
        greatest(col("pid"), col("vec_id")).as("id_b"))
      .distinct()
  }

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), col("vec_id"))))
      .filter(col("rn") <= k)
      .select("qid", "vec_id")

  /** Exact cosine top-k per panel query: (qid, vec_id) ground truth. The
    * corpus crosses the BROADCAST panel once; per-qid windows replace any
    * global sort. (At 100 TB the cross is per-block with a partial top-k
    * per block — the v03 block-grid layout; at evaluation panel sizes the
    * single pass is the right plan.)
    */
  def exactTopK(spark: SparkSession, corpus: DataFrame,
                queries: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    import spark.implicits._
    val panel = broadcast(queries.toDF("qid", "qemb"))
    topKPerQuery(
      corpus.crossJoin(panel)
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.expressions.GraftFunctions.cosine_sim(
            col("embedding"), col("qemb")), 6).as("sim")),
      k)
  }

  /** Batched IVF probe against a PERSISTED index: each query's `nProbe`
    * nearest cells are resolved driver-side from the centroid sidecar into
    * a (qid, cell, qemb) probe frame; the cell-partitioned vectors are
    * statically pruned to the UNION of probed cells, then each vector is
    * scored only against the queries probing its cell.
    */
  def ivfTopK(spark: SparkSession, indexPath: String,
              queries: Seq[(Long, Array[Float])], k: Int,
              nProbe: Int = IvfIndex.NProbeAuto): DataFrame = {
    val model = IvfIndex.loadModel(spark, indexPath)
    ivfTopKFrames(spark,
      IvfIndex.loadVectors(spark, indexPath).filter(col("vec_id") =!= 0),
      model, queries, k,
      IvfIndex.resolveNProbeAt(indexPath, nProbe, model.centroids.length))
  }

  /** [[ivfTopK]] over explicit (vectors, model) frames — the form the
    * retrain path uses to recall-gate a CANDIDATE geometry before its
    * pointers are published (nothing on disk references it yet).
    */
  def ivfTopKFrames(spark: SparkSession, vectors: DataFrame, model: IvfIndex.Model,
                    queries: Seq[(Long, Array[Float])], k: Int,
                    nProbe: Int = IvfIndex.NProbeAuto): DataFrame =
    topKPerQuery(ivfScored(spark, vectors, model, queries, nProbe), k)

  /** The cell-pruned scored frame (qid, vec_id, sim) behind
    * [[ivfTopKFrames]]: probe frame broadcast against the pruned
    * vectors, one cosine pass — shared with [[shardedTopK]], which
    * unions one of these per shard before its single global window.
    */
  private def ivfScored(spark: SparkSession, vectors: DataFrame,
                        model: IvfIndex.Model, queries: Seq[(Long, Array[Float])],
                        nProbe: Int): DataFrame = {
    import spark.implicits._
    val np = IvfIndex.resolveNProbe(nProbe, model.centroids.length)
    val probes = queries.flatMap { case (qid, qv) =>
      model.nearestCells(qv, np).map(c => (qid, c, qv))
    }
    val cells = probes.map(_._2).distinct
    val probeDf = broadcast(probes.toDF("qid", "cell", "qemb"))
    vectors
      .filter(col("cell").isin(cells: _*))
      .join(probeDf, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.expressions.GraftFunctions.cosine_sim(
          col("embedding"), col("qemb")), 6).as("sim"))
  }

  /** Batched panel probe against a PERSISTED sharded-IVF artifact
    * ([[ShardedIvf]]): each shard contributes its own cell-pruned scored
    * frame (its model's resolved per-shard `nProbe`), the S frames union
    * into ONE plan, and a single per-qid window takes the global top-k —
    * the batch-panel mirror of `ShardedIvf.search`, so sharded recall is
    * graded by exactly the machinery ([[meanRecall]] vs [[exactTopK]])
    * that grades every other index path. Models load sequentially; the
    * driver never holds more than one shard's centroid array plus the
    * KB-sized probe frames.
    */
  def shardedTopK(spark: SparkSession, path: String, shards: Int,
                  queries: Seq[(Long, Array[Float])], k: Int,
                  nProbe: Int = IvfIndex.NProbeAuto,
                  predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    ShardedIvf.verifyShards(path, shards) // wrong S silently drops shards
    val np = IvfIndex.resolveShardedNProbeAt(path, nProbe)
    val scored = Sharded.unionShards(path, shards) { (_, shardPath) =>
      // predicate: the batch mirror of ShardedIvf.searchFiltered — each
      // shard's cell-partitioned vectors are filtered BEFORE its probe
      val vecs = IvfIndex.loadVectors(spark, shardPath).filter(col("vec_id") =!= 0)
      ivfScored(spark, predicate.fold(vecs)(vecs.filter),
        IvfIndex.loadModel(spark, shardPath), queries, np)
    }
    topKPerQuery(scored, k)
  }

  /** Batched panel probe against a PERSISTED sharded IVF-PQ artifact
    * ([[ShardedPq]]): each shard contributes its ADC-scored candidates,
    * a per-(qid, SHARD) rank keeps each shard's shortlist (membership
    * is disjoint, so the shortlists union without loss), one exact
    * cosine re-rank of the union against the full-precision store, one
    * global per-qid window — the batch-panel mirror of
    * `ShardedPq.search`, graded by the same [[meanRecall]]/[[exactTopK]]
    * machinery as every other index path.
    *
    * `predicate` scopes the probe to a FILTERED workload (the batch
    * mirror of [[ShardedPq.searchFiltered]]): it applies to each
    * shard's encoded frame before the ADC scan, so each per-shard
    * shortlist holds filtered candidates only and the re-rank scores
    * survivors — grade it against the filtered [[exactTopK]] and size
    * the depth with `AnnCalibrate.calibrateFilteredShortlist`.
    */
  def shardedPqTopK(spark: SparkSession, path: String, shards: Int,
                    fullPrecision: DataFrame,
                    queries: Seq[(Long, Array[Float])], k: Int,
                    nProbe: Int = IvfIndex.NProbeAuto,
                    shortlist: Int = PqIndex.DefaultShortlist,
                    predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ShardedPq.verifyShards(path, shards) // wrong S silently drops shards
    val sl = ShardedPq.resolveShardedShortlist(path, nProbe, shortlist)
    val scored = Sharded.unionShards(path, shards) { (r, shardPath) =>
      val enc = PqIndex.loadEncoded(spark, shardPath).filter(col("vec_id") =!= 0)
      pqApproxScores(spark, predicate.fold(enc)(enc.filter),
        PqIndex.loadModel(spark, shardPath), queries, nProbe)
        .withColumn("shard", lit(r))
    }
    val short = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid", "shard").orderBy(col("approx_d"), col("vec_id"))))
      .filter(col("rn") <= sl)
      .select("qid", "vec_id")
    val panel = {
      import spark.implicits._
      broadcast(queries.toDF("qid", "qemb"))
    }
    topKPerQuery(
      short.join(fullPrecision.select(col("vec_id"), col("embedding")), "vec_id")
        .join(panel, "qid")
        .select(col("qid"), col("vec_id"),
          round(graft.expressions.GraftFunctions.cosine_sim(
            col("embedding"), col("qemb")), 6).as("sim")),
      k)
  }

  /** Batched IVF-PQ probe against a PERSISTED index: per-(qid, cell) ADC
    * tables broadcast as one map, approximate distances via m byte-code
    * lookups, per-qid shortlist, exact cosine re-rank of shortlists only —
    * the batched form of [[PqIndex.search]].
    */
  def pqTopK(spark: SparkSession, pqPath: String, fullPrecision: DataFrame,
             queries: Seq[(Long, Array[Float])], k: Int,
             nProbe: Int = IvfIndex.NProbeAuto,
             shortlist: Int = PqIndex.DefaultShortlist): DataFrame = {
    val model = PqIndex.loadModel(spark, pqPath)
    val servedNp = IvfIndex.resolveNProbe(nProbe, model.coarse.centroids.length)
    // ShortlistCalibrated: the artifact's measured re-rank depth
    // (shortlist.CAL) — valid ONLY at the probe width it was sized for
    // (the curve is conditional on nProbe: the sidecar records it).
    // Serving a calibrated depth at a different width would void the
    // recall promise silently, so that mismatch degrades to the default
    // depth with a diagnostic; an uncalibrated artifact degrades too.
    val sl =
      if (shortlist == PqIndex.ShortlistCalibrated)
        graft.sources.VectorIndexStore.readShortCal(pqPath) match {
          case Some(cal) if cal.nProbe == servedNp => cal.shortlist
          case Some(cal) =>
            System.err.println(s"[graft] shortlist.CAL at $pqPath was sized " +
              s"at nProbe=${cal.nProbe} but this probe serves nProbe=$servedNp" +
              " — its recall promise does not transfer; using the default " +
              "shortlist (recalibrate at the serving width)")
            PqIndex.DefaultShortlist
          case None => PqIndex.DefaultShortlist
        }
      else shortlist
    pqTopKFrames(spark,
      PqIndex.loadEncoded(spark, pqPath).filter(col("vec_id") =!= 0),
      model, fullPrecision, queries, k, servedNp, sl)
  }

  /** [[pqTopK]] over explicit (encoded, model) frames — the form the
    * retrain path uses to recall-gate a CANDIDATE geometry before its
    * pointers are published.
    */
  def pqTopKFrames(spark: SparkSession, encoded: DataFrame, model: PqIndex.Model,
                   fullPrecision: DataFrame, queries: Seq[(Long, Array[Float])],
                   k: Int, nProbe: Int = IvfIndex.NProbeAuto,
                   shortlist: Int = PqIndex.DefaultShortlist): DataFrame = {
    import spark.implicits._
    val approx = pqApproxScores(spark, encoded, model, queries, nProbe)
    val short = approx
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("approx_d"), col("vec_id"))))
      .filter(col("rn") <= PqIndex.resolveShortlist(shortlist))
      .select("qid", "vec_id")
    val panel = broadcast(queries.toDF("qid", "qemb"))
    topKPerQuery(
      short.join(fullPrecision.select(col("vec_id"), col("embedding")), "vec_id")
        .join(panel, "qid")
        .select(col("qid"), col("vec_id"),
          round(graft.expressions.GraftFunctions.cosine_sim(
            col("embedding"), col("qemb")), 6).as("sim")),
      k)
  }

  /** The ADC-scored candidate frame (qid, vec_id, approx_d) behind
    * [[pqTopKFrames]]: per-(qid, cell) ADC tables broadcast as one map,
    * approximate distance = m byte-code lookups per candidate in the
    * probed cells. Shared with [[AnnCalibrate.pqShortlistWidths]] — the
    * per-qid ADC RANK over this frame is a candidate's capture
    * shortlist, which makes the recall-vs-shortlist curve a one-pass
    * measurement.
    */
  private[graft] def pqApproxScores(spark: SparkSession, encoded: DataFrame,
                                    model: PqIndex.Model,
                                    queries: Seq[(Long, Array[Float])],
                                    nProbe: Int): DataFrame = {
    import spark.implicits._
    val np = IvfIndex.resolveNProbe(nProbe, model.coarse.centroids.length)
    // one O(k·dim) centroid scan per query yields BOTH the probe frame
    // and the ADC tables
    val probeTables = queries.flatMap { case (qid, qv) =>
      model.coarse.nearestCells(qv, np).map(c => (qid, c, model.adcTable(qv, c)))
    }
    val probes = probeTables.map { case (qid, c, _) => (qid, c) }
    val tables = probeTables.map { case (qid, c, t) => (qid, c) -> t }.toMap
    val bc = spark.sparkContext.broadcast(tables)
    val cells = probes.map(_._2).distinct
    val probeDf = broadcast(probes.toDF("qid", "cell"))
    encoded
      .filter(col("cell").isin(cells: _*))
      .join(probeDf, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cell"), col("code"))
      .as[(Long, Long, Int, Array[Byte])]
      .map { case (qid, id, cell, code) =>
        val t = bc.value((qid, cell))
        var d = 0.0
        var s = 0
        while (s < code.length) { d += t(s)(code(s) & 0xff); s += 1 }
        (qid, id, d)
      }
      .toDF("qid", "vec_id", "approx_d")
  }

  /** Mean recall@k of `annTopK` against `exactTopK` over the panel: the
    * joined hit count over the exact count (every panel query contributes
    * exactly k exact rows when the corpus has >= k candidates).
    */
  def meanRecall(annTopK: DataFrame, exactTopK: DataFrame): Double = {
    val total = exactTopK.count()
    require(total > 0, "empty exact ground truth — no panel queries?")
    annTopK.join(exactTopK, Seq("qid", "vec_id")).count().toDouble / total
  }
}
