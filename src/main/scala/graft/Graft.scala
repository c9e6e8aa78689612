package graft

import graft.operators.{Embedder, HashingEmbedder, Ingest, NearDup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The public facade: one import for the engine's operator surface, so a
  * user of the reference tool can drive the same pipelines programmatically
  * without going through the declared-query registry.
  *
  * Every method is a thin delegation to the tested operator modules —
  * semantics, scale posture, and determinism guarantees are documented on
  * the delegates (the operators package, SCALE.md).
  */
object Graft {

  /** Register native functions (cosine_sim / dot_product / norm_sq /
    * chunk_text) and the self-dot optimizer rule on a session.
    */
  def install(spark: SparkSession): Unit =
    graft.expressions.GraftFunctions.register(spark)

  // ---- ingestion (the reference's EP1 surface) ----

  /** Whitespace normalization (A7) as a column. */
  def normalize(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** docs(doc_id, text, lang, source, n_chars) → canonical chunk rows. */
  def chunk(spark: SparkSession, docs: DataFrame): DataFrame =
    Ingest.chunkDocuments(spark, docs).toDF()

  /** Full pipeline: normalize → chunk → hash → dedup → embed → canonical. */
  def ingest(spark: SparkSession, docs: DataFrame,
             embedder: Embedder = new HashingEmbedder()): DataFrame =
    Ingest.pipeline(spark, docs, embedder)

  /** Exact dedup with deterministic first-arrival survivor (A12). */
  def dedupExact(chunks: DataFrame, orderCols: Seq[String]): DataFrame =
    Ingest.dedupExactDeterministic(chunks, orderCols)

  /** Drop rows whose text_hash already exists in `existing` (cross-load). */
  def dedupAgainst(fresh: DataFrame, existing: DataFrame): DataFrame =
    Ingest.dedupAgainstExisting(fresh, existing)

  /** Unicode NFC canonicalization (native codegen expression) — run before
    * hash-based dedup so canonically-equal text hashes equal.
    */
  def nfcNormalize(c: Column): Column =
    graft.expressions.GraftFunctions.nfc_normalize(c)

  /** Deterministic fallback key for keyless rows (content-hash suffix;
    * reference's uuid branch, made idempotent).
    */
  def withFallbackKey(df: DataFrame): DataFrame = Ingest.withFallbackKey(df)

  /** CDC between two loads: (key, added|deleted|changed|unchanged). */
  def snapshotDiff(prev: DataFrame, cur: DataFrame,
                   keyCol: String = "doc_id", hashCol: String = "text_hash"): DataFrame =
    Ingest.snapshotDiff(prev, cur, keyCol, hashCol)

  // ---- near-duplicate detection ----

  /** MinHash-LSH near-dup pairs above a Jaccard threshold (>= 0.5). */
  def nearDupPairs(spark: SparkSession, docs: DataFrame,
                   threshold: Double = 0.5): DataFrame =
    NearDup.minhashNearDupPairs(spark, docs, threshold)

  /** SimHash near-dup pairs at a hamming-distance threshold (<= 3 exact). */
  def simhashPairs(spark: SparkSession, docs: DataFrame,
                   maxDistance: Int = 3): DataFrame =
    NearDup.simhashNearDupPairs(spark, docs, maxDistance)

  /** Connected components over near-dup pairs → (id, cluster) labels,
    * O(log n) rounds at any component diameter.
    */
  def dupClusters(spark: SparkSession, pairs: DataFrame): DataFrame =
    NearDup.connectedComponents(spark, pairs)

  /** Exact-substring dedup (Lee et al. 2022 ExactSubstr): per-document
    * cross-corpus duplicated-span statistics — (doc_id, n_words,
    * dup_words, n_spans, max_span_words, dup_frac), a span being a
    * verbatim run of >= SubstrStore.AnchorWords words shared with another
    * document. Computed fresh from `docs` (doc_id, text); corpora with a
    * persisted anchor artifact probe [[sources.SubstrStore]] directly.
    */
  def duplicatedSpans(spark: SparkSession, docs: DataFrame): DataFrame =
    sources.SubstrStore.freshStats(docs)

  /** SemDeDup (Abbas et al. 2023) semantic near-dup pairs served from a
    * PERSISTED IVF index (see saveIvfIndex): within-cell exact-cosine
    * pairs above `tau` under `assignK`-probe assignment — Σ(n_c)² work,
    * never all-pairs. Feed to [[dupClusters]] or drop id_b per pair for
    * the keep-lowest-id policy (SemDedup.dropped/survivors).
    */
  def semanticDupPairs(spark: SparkSession, indexPath: String,
                       tau: Double = 0.45,
                       assignK: Int = operators.SemDedup.DefaultAssignK): DataFrame =
    operators.SemDedup.cellPairs(
      operators.SemDedup.multiAssign(
        operators.IvfIndex.loadVectors(spark, indexPath),
        operators.IvfIndex.loadModel(spark, indexPath), assignK), tau)

  // ---- similarity search ----

  /** Exact cosine top-k of `corpus` rows against one broadcast query row.
    * corpus needs (idCol, vecCol); returns (idCol, sim) strongest first.
    */
  def knn(corpus: DataFrame, queryVec: Array[Float], k: Int,
          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = lit(queryVec)
    corpus.select(col(idCol),
        graft.expressions.GraftFunctions.cosine_sim(col(vecCol), q).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ approximate top-k (the memory-bounded ANN path — SCALE.md "ANN
    * memory story"): train coarse cells + residual codebooks on a bounded
    * driver sample, encode the corpus to m one-byte codes per vector, ADC
    * shortlist in the `nProbe` nearest cells, exact cosine re-rank of the
    * shortlist only. Corpus needs (vec_id, label, embedding).
    */
  def ivfPqKnn(spark: SparkSession, corpus: DataFrame, queryVec: Array[Float],
               k: Int, nProbe: Int = graft.operators.IvfIndex.NProbeAuto,
               shortlist: Int = graft.operators.PqIndex.DefaultShortlist): DataFrame = {
    val model = graft.operators.PqIndex.train(spark, corpus)
    val encoded = graft.operators.PqIndex.encode(spark, corpus, model)
    graft.operators.PqIndex.search(spark, encoded, corpus, model,
      queryVec, k, nProbe, shortlist)
  }

  /** Persist a trained IVF index (model sidecar + cell-partitioned corpus)
    * — the build-once half of the build-once / probe-many lifecycle. See
    * [[graft.operators.IvfIndex.save]] / [[graft.sources.VectorIndexStore]].
    */
  def saveIvfIndex(spark: SparkSession, corpus: DataFrame, path: String,
                   nCells: Int = 16): Unit =
    sources.VectorIndexStore.buildIvfAt(spark, path, corpus, nCells)

  /** Incrementally maintain a persisted IVF index: assign new vectors with
    * the existing model (idempotent on vec_id) and log the drift watermark
    * the retrain check consumes.
    */
  def appendIvfIndex(spark: SparkSession, indexPath: String,
                     vectors: DataFrame): Unit =
    sources.VectorIndexStore.appendIvf(spark, indexPath, vectors)

  /** Measured drift of appended vectors vs the build-time baseline (ratio;
    * None until something has been appended since the baseline).
    */
  def ivfDrift(spark: SparkSession, indexPath: String): Option[Double] =
    sources.VectorIndexStore.driftFactor(spark, indexPath)

  /** Close the watermark loop: retrain + recall-gate + atomically republish
    * the index when appended data has drifted `factor`x past the build-time
    * baseline. Returns true iff a retrain was performed; throws
    * [[sources.VectorIndexStore.RetrainRecallGateFailed]] (nothing
    * published) when the candidate geometry fails its recall floor.
    */
  def retrainIvfIfNeeded(spark: SparkSession, indexPath: String,
                         factor: Double = 2.0, recallFloor: Double = 0.2): Boolean =
    sources.VectorIndexStore.retrainIvfIfNeeded(spark, indexPath, factor, recallFloor)

  /** Probe a persisted IVF index: load the centroid sidecar, scan only the
    * `nProbe` nearest cell PARTITIONS of the persisted corpus (source-level
    * partition pruning — no training, no full scan; IndexStoreSpec asserts
    * the plan).
    */
  /** `nProbe` defaults to the engine probe policy
    * ([[graft.operators.IvfIndex.autoNProbe]]: constant cell fraction,
    * floor 4 — resolves to the historical 4 at every fixture geometry).
    */
  def ivfProbe(spark: SparkSession, indexPath: String, queryVec: Array[Float],
               k: Int, nProbe: Int = graft.operators.IvfIndex.NProbeAuto): DataFrame = {
    val model = graft.operators.IvfIndex.loadModel(spark, indexPath)
    // path-aware: NProbeCalibrated resolves from the artifact's nprobe.CAL
    graft.operators.IvfIndex.search(spark,
      graft.operators.IvfIndex.loadVectors(spark, indexPath), model,
      queryVec, k,
      graft.operators.IvfIndex.resolveNProbeAt(indexPath, nProbe,
        model.centroids.length))
  }

  /** [[ivfProbe]] scoped by a metadata predicate — filtered vector
    * search, one query (the reference's index declares filterable fields
    * next to its vector field). The predicate applies to the
    * cell-partitioned vectors BEFORE the probe: the scan prunes to the
    * probed cells AND pushes the filter into parquet (PlanSpec-guarded),
    * so work ∝ selectivity × probed fraction with no per-predicate
    * index rebuild. NOTE the width question: a width calibrated on the
    * unfiltered corpus (`NProbeCalibrated`) does not promise its recall
    * target under a predicate — size filtered workloads with
    * [[calibrateFilteredWidth]] and pass the result here.
    */
  def filteredIvfProbe(spark: SparkSession, indexPath: String,
                       predicate: org.apache.spark.sql.Column,
                       queryVec: Array[Float], k: Int,
                       nProbe: Int = graft.operators.IvfIndex.NProbeAuto)
      : DataFrame = {
    val model = graft.operators.IvfIndex.loadModel(spark, indexPath)
    graft.operators.IvfIndex.search(spark,
      graft.operators.IvfIndex.loadVectors(spark, indexPath)
        .filter(predicate),
      model, queryVec, k,
      graft.operators.IvfIndex.resolveNProbeAt(indexPath, nProbe,
        model.centroids.length))
  }

  // ---- sharded IVF (the geometry past one flat coarse quantizer) ----

  /** Build S independent hash-sharded IVF artifacts under `path/shard=r`:
    * one shard-partitioned tagging pass over the corpus, concurrent
    * pruned per-shard builds, each shard carrying the full per-index
    * lifecycle plane (model, cell-partitioned vectors, qerr baseline) —
    * [[graft.operators.ShardedIvf]]. Use when the single index's k×dim
    * centroid array outgrows what every executor can broadcast.
    */
  def buildShardedIvf(spark: SparkSession, corpus: DataFrame, path: String,
                      shards: Int, nCellsPerShard: Int = -1): Unit =
    graft.operators.ShardedIvf.build(spark, corpus, path, shards, nCellsPerShard)

  /** Hash-route a batch to its shards and append each slice idempotently
    * (per-shard anti-join + drift watermark, under writer leases).
    */
  def appendShardedIvf(spark: SparkSession, path: String, shards: Int,
                       vectors: DataFrame): Unit =
    graft.operators.ShardedIvf.append(spark, path, shards, vectors)

  /** Rebuild the sharded composition at a new shard count from the OLD
    * artifact's own shard tables (appends survive; no external corpus) —
    * the growth verb for S itself, since `append` hash-routes by the
    * build-time S forever and every shard otherwise grows back toward
    * the broadcast ceiling. Builds at `newPath` (shard count is part of
    * the artifact identity); calibration does not transfer — recalibrate
    * at S′. Store-managed artifacts use
    * [[sources.VectorIndexStore.reshardShardedIvf]], which adds the
    * atomic publish + old-artifact GC.
    */
  def reshardIvf(spark: SparkSession, oldPath: String, oldShards: Int,
                 newPath: String, newShards: Int,
                 nCellsPerShard: Int = -1): Unit =
    graft.operators.ShardedIvf.reshard(
      spark, oldPath, oldShards, newPath, newShards, nCellsPerShard)

  /** The growth loop for the shard count: reshard the store-managed
    * artifact when the mean per-shard corpus has outgrown
    * `maxShardRows` (S parquet footer counts — no corpus scan), else
    * no-op. Returns the serving (path, shards) either way — call it
    * from scheduled maintenance like the retrain/compact loops and
    * follow the pointer.
    */
  def reshardShardedIvfIfNeeded(spark: SparkSession, sfDir: String,
                                shards: Int,
                                maxShardRows: Long =
                                  sources.VectorIndexStore.DefaultMaxShardRows): (String, Int) =
    sources.VectorIndexStore.reshardShardedIvfIfNeeded(spark, sfDir, shards, maxShardRows)

  /** [[reshardShardedIvfIfNeeded]] for the sharded IVF-PQ composition:
    * mean per-shard ENCODED rows against the budget; reshards by
    * re-encoding from the full-precision store (the PQ shards hold
    * codes, not vectors — the documented source-of-truth difference
    * from the artifact-sourced IVF loop). Returns the serving
    * (path, shards) pair.
    */
  def reshardShardedPqIfNeeded(spark: SparkSession, sfDir: String,
                               shards: Int,
                               maxShardRows: Long =
                                 sources.VectorIndexStore.DefaultMaxShardRows): (String, Int) =
    sources.VectorIndexStore.reshardShardedPqIfNeeded(spark, sfDir, shards, maxShardRows)

  /** Per-shard drift check + recall-gated retrain; returns the number of
    * shards retrained (a drifted shard retrains its own cells only).
    */
  def retrainShardedIvfIfNeeded(spark: SparkSession, path: String, shards: Int,
                                factor: Double = 2.0,
                                recallFloor: Double = 0.2): Int =
    graft.operators.ShardedIvf.retrainIfNeeded(spark, path, shards, factor, recallFloor)

  /** Single-query top-k over a sharded artifact: per-shard pruned top-k
    * (each shard's auto `nProbe`), one union plan, one global TakeOrdered.
    */
  def shardedKnn(spark: SparkSession, path: String, shards: Int,
                 queryVec: Array[Float], k: Int,
                 nProbe: Int = graft.operators.IvfIndex.NProbeAuto): DataFrame =
    graft.operators.ShardedIvf.search(spark, path, shards, queryVec, k, nProbe)

  /** Batched panel top-k over a sharded artifact (one union plan + one
    * global per-qid window) — the form recall grading uses.
    */
  def shardedProbe(spark: SparkSession, path: String, shards: Int,
                   queries: Seq[(Long, Array[Float])], k: Int,
                   nProbe: Int = graft.operators.IvfIndex.NProbeAuto): DataFrame =
    graft.operators.AnnEval.shardedTopK(spark, path, shards, queries, k, nProbe)

  /** Measure the artifact's recall-vs-nProbe curve in one pass and
    * publish the smallest probe width holding `target` recall@k as its
    * `nprobe.CAL` sidecar — then pass
    * [[graft.operators.IvfIndex.NProbeCalibrated]] as `nProbe` anywhere
    * to probe at the calibrated width. The sized-from-measurement answer
    * to "what nProbe holds recall r on THIS artifact" (single index).
    */
  def calibrateIvf(spark: SparkSession, path: String, target: Double = 0.9,
                   k: Int = 10): graft.sources.VectorIndexStore.ProbeCal =
    graft.sources.VectorIndexStore.calibrateIvf(spark, path, target, k)

  /** [[calibrateIvf]] for a sharded artifact: one sidecar at the sharded
    * root holding the measured PER-SHARD width — the operational answer
    * to the sharded recall trade (each shard answers from an S×-sparser
    * subset, so holding a target needs a wider probe; this measures how
    * much wider on the artifact's own corpus).
    */
  def calibrateShardedIvf(spark: SparkSession, path: String, shards: Int,
                          target: Double = 0.9,
                          k: Int = 10): graft.sources.VectorIndexStore.ProbeCal =
    graft.sources.VectorIndexStore.calibrateShardedIvf(spark, path, shards, target, k)

  /** Size the smallest probe width holding `target` recall@k for a
    * FILTERED workload — queries scoped by `predicate` over the
    * cell-partitioned vectors (the filtered-search composition: apply
    * the predicate before the probe, partition pruning + parquet
    * pushdown do the rest). A filtered workload needs its own width: the
    * filter thins every probed cell, so the filtered true top-k spreads
    * across more cells than the unfiltered calibration saw (measured,
    * SCALE.md round-15 §13). Returns (width, measured recall), or None
    * when the target is unreachable within `maxWidth`. Measurement-only:
    * apply the width to your filtered probes; the artifact's
    * `nprobe.CAL` (the unfiltered-corpus contract) is not touched.
    */
  def calibrateFilteredWidth(spark: SparkSession, path: String,
                             queries: Seq[(Long, Array[Float])],
                             predicate: org.apache.spark.sql.Column,
                             target: Double = 0.9, k: Int = 10,
                             maxWidth: Int = Int.MaxValue)
      : Option[(Int, Double)] =
    graft.operators.AnnCalibrate.calibrateFilteredWidth(
      spark, Seq(path), queries, k, target, predicate, maxWidth)

  // ---- sharded IVF-PQ (the sharded geometry at the 32x memory point) ----

  /** Build S independent hash-sharded IVF-PQ artifacts — the composition
    * of [[buildShardedIvf]]'s scale-out coarse geometry with PQ's
    * one-byte-per-subspace codes; the shape a 1536-d corpus needs at
    * 100 TB ([[graft.operators.ShardedPq]]).
    */
  def buildShardedPq(spark: SparkSession, corpus: DataFrame, path: String,
                     shards: Int, nCellsPerShard: Int = -1): Unit =
    graft.operators.ShardedPq.build(spark, corpus, path, shards, nCellsPerShard)

  /** Hash-route a batch to its shards and append each slice through the
    * per-shard PQ encode (anti-join idempotent, quantization watermark).
    */
  def appendShardedPq(spark: SparkSession, path: String, shards: Int,
                      vectors: DataFrame): Unit =
    graft.operators.ShardedPq.append(spark, path, shards, vectors)

  /** Per-shard drift check + recall-gated PQ retrain from the
    * caller-supplied full-precision corpus (the encoded shards carry no
    * vectors); returns shards retrained.
    */
  def retrainShardedPqIfNeeded(spark: SparkSession, path: String, shards: Int,
                               fullPrecision: DataFrame, factor: Double = 2.0,
                               recallFloor: Double = 0.2): Int =
    graft.operators.ShardedPq.retrainIfNeeded(
      spark, path, shards, fullPrecision, factor, recallFloor)

  /** Single-query top-k over a sharded PQ artifact: per-shard ADC
    * shortlists, one exact re-rank against the full-precision store,
    * one global TakeOrdered.
    */
  def shardedPqKnn(spark: SparkSession, path: String, shards: Int,
                   fullPrecision: DataFrame, queryVec: Array[Float], k: Int,
                   nProbe: Int = graft.operators.IvfIndex.NProbeAuto,
                   shortlist: Int = graft.operators.PqIndex.DefaultShortlist): DataFrame =
    graft.operators.ShardedPq.search(spark, path, shards, fullPrecision,
      queryVec, k, nProbe, shortlist)

  /** Batched panel top-k over a sharded PQ artifact — the form recall
    * grading uses ([[graft.operators.AnnEval.shardedPqTopK]]).
    */
  def shardedPqProbe(spark: SparkSession, path: String, shards: Int,
                     fullPrecision: DataFrame,
                     queries: Seq[(Long, Array[Float])], k: Int,
                     nProbe: Int = graft.operators.IvfIndex.NProbeAuto,
                     shortlist: Int = graft.operators.PqIndex.DefaultShortlist): DataFrame =
    graft.operators.AnnEval.shardedPqTopK(spark, path, shards, fullPrecision,
      queries, k, nProbe, shortlist)

  /** [[calibratePqShortlist]] for a sharded PQ root: one pass sizes the
    * per-shard re-rank depth holding `target` recall@k, published as one
    * `shortlist.CAL` at the root (honored via
    * [[graft.operators.PqIndex.ShortlistCalibrated]] at the same probe
    * policy; any shard's retrain invalidates it).
    */
  def calibrateShardedPqShortlist(spark: SparkSession, path: String,
                                  shards: Int, fullPrecision: DataFrame,
                                  target: Double = 0.9,
                                  k: Int = 10): graft.sources.VectorIndexStore.PqShortCal =
    graft.sources.VectorIndexStore.calibrateShardedPqShortlist(
      spark, path, shards, fullPrecision, target, k)

  /** [[calibrateIvf]] for the IVF-PQ path, sizing the RE-RANK SHORTLIST
    * instead of the probe width (one ADC pass gives the whole
    * recall-vs-shortlist curve at the recorded probe width; the ceiling
    * is the cell-pruning recall — widen `nProbe` first for targets above
    * it). Publishes `shortlist.CAL`, honored via
    * [[graft.operators.PqIndex.ShortlistCalibrated]].
    */
  def calibratePqShortlist(spark: SparkSession, path: String,
                           fullPrecision: DataFrame, target: Double = 0.9,
                           k: Int = 10): graft.sources.VectorIndexStore.PqShortCal =
    graft.sources.VectorIndexStore.calibratePqShortlist(
      spark, path, fullPrecision, target, k)

  // ---- artifact SQL surface ----

  /** The persisted inverted-index postings (tok, doc_id, tf, dl) for the
    * fixture corpus — built once, served from the tok-sorted artifact.
    */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    sources.PostingStore.table(spark, sfDir, "postings")

  /** The persisted (tok, df) document-frequency table. */
  def postingDf(spark: SparkSession, sfDir: String): DataFrame =
    sources.PostingStore.derived(spark, sfDir, "df")

  /** The persisted one-row (n_docs, avgdl) corpus stats. */
  def postingStats(spark: SparkSession, sfDir: String): DataFrame =
    sources.PostingStore.derived(spark, sfDir, "stats")

  /** The persisted (doc_id, sh) shingle rows. */
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    sources.ShingleStore.table(spark, sfDir, "rows")

  /** The persisted (sh, df) shingle document frequencies. */
  def shingleDf(spark: SparkSession, sfDir: String): DataFrame =
    sources.ShingleStore.derived(spark, sfDir, "df")

  /** The persisted (id, band, bucket) MinHash-LSH band table. */
  def bands(spark: SparkSession, sfDir: String): DataFrame =
    sources.MinhashStore.table(spark, sfDir, "bands")

  /** The persisted positional substring-anchor rows
    * (doc_id, n_words, pos, h).
    */
  def substrAnchors(spark: SparkSession, sfDir: String): DataFrame =
    sources.SubstrStore.table(spark, sfDir, "rows")

  /** The persisted (h, df) substring-anchor document frequencies for
    * DUPLICATED anchors (df >= 2 — the only rows substring dedup reads;
    * unique anchors are not stored, which keeps the table broadcast-sized
    * at any corpus scale).
    */
  def substrDf(spark: SparkSession, sfDir: String): DataFrame =
    sources.SubstrStore.derived(spark, sfDir, "df")

  /** Register every persisted artifact (plus the documents corpus) as a
    * temp view, so the SQL user can JOIN against the index structures
    * directly — `graft_postings`, `graft_posting_df`,
    * `graft_posting_stats`, `graft_shingles`, `graft_shingle_df`,
    * `graft_minhash_bands`, `graft_documents`. Views resolve through the
    * stores' checked readers: the first reference builds the artifact,
    * later ones probe it (and self-repair a stale derived table). The
    * k04 query exercises a SQL join over these views against the
    * recompute-from-corpus oracle.
    */
  def registerArtifactViews(spark: SparkSession, sfDir: String): Unit = {
    sources.PostingStore.table(spark, sfDir, "postings").createOrReplaceTempView("graft_postings")
    sources.PostingStore.derived(spark, sfDir, "df").createOrReplaceTempView("graft_posting_df")
    sources.PostingStore.derived(spark, sfDir, "stats").createOrReplaceTempView("graft_posting_stats")
    sources.ShingleStore.table(spark, sfDir, "rows").createOrReplaceTempView("graft_shingles")
    sources.ShingleStore.derived(spark, sfDir, "df").createOrReplaceTempView("graft_shingle_df")
    sources.MinhashStore.table(spark, sfDir, "bands").createOrReplaceTempView("graft_minhash_bands")
    sources.SubstrStore.table(spark, sfDir, "rows").createOrReplaceTempView("graft_substr_anchors")
    sources.SubstrStore.derived(spark, sfDir, "df").createOrReplaceTempView("graft_substr_df")
    sources.Tables.load(spark, sfDir, "documents").createOrReplaceTempView("graft_documents")
  }

  // ---- training-data curation ----

  /** Deterministic md5-nibble split assignment column for a key column:
    * 'train' (12/16) / 'val' (2/16) / 'test' (2/16); stable under
    * re-sharding, append, and re-execution.
    */
  def hashSplit(key: Column): Column = {
    val nibble = substring(md5(key.cast("string")), 1, 1)
    when(nibble <= "b", "train").when(nibble.isin("c", "d"), "val").otherwise("test")
  }

  /** Deterministic per-stratum sample predicate: keeps ~(sixteenths/16). */
  def hashSample(key: Column, sixteenths: Int): Column = {
    require(sixteenths >= 1 && sixteenths <= 16, "sixteenths in [1,16]")
    substring(md5(key.cast("string")), 1, 1) <= "0123456789abcdef".charAt(sixteenths - 1).toString
  }

  /** Sequence packing by cumulative start offset: assigns each doc (ordered
    * by orderCol within groupCol) pack_id = floor(start_offset / budget).
    * Start-offset semantics, NOT a hard cap: a doc whose tokens straddle a
    * budget boundary stays in the pack its first token falls in, so a pack
    * holds at most budget + max(doc tokens) - 1 tokens, and a single doc
    * longer than the budget is never split. Callers needing a hard cap
    * should pre-split oversized docs (e.g. via the chunker) first.
    */
  def packSequences(docs: DataFrame, tokenCountCol: String, budget: Int,
                    groupCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("__offset", coalesce(sum(tokenCountCol).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("__offset") / budget))
      .drop("__offset")
  }

  // ---- tokenizer training ----

  /** Train BPE merge rules over a corpus: one distributed word-frequency
    * aggregation, then deterministic driver-side training over the bounded
    * vocabulary (see [[graft.text.BpeTokenizer]] — golden-pinned in
    * BpeSpec; round-1 pair counts oracle-checked by t19).
    */
  def trainBpe(docs: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 1 << 17): Vector[(String, String)] =
    graft.text.BpeTokenizer.train(
      graft.text.BpeTokenizer.wordFreqs(docs, textCol, maxWords), numMerges)

  /** Encode one word with a learned merge table (rank-order replay). */
  def bpeEncode(word: String, merges: Seq[(String, String)]): IndexedSeq[String] =
    graft.text.BpeTokenizer.encode(word, merges)

  /** Per-document token counts of the WHOLE corpus under a trained merge
    * table — each distinct word encoded once, broadcast-joined against one
    * tokenize pass (BpeTokenizer.corpusTokenCounts; a caller-supplied
    * vocabulary that misses corpus words fails loudly). Mirror
    * [[trainBpe]]'s `maxWords` here, or pass the vocabulary you already
    * aggregated for training to skip the second word-frequency pass (the
    * t21 pattern). Feed to [[packSequences]] for training-sequence packing.
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)],
                     maxWords: Int = 1 << 17,
                     vocabulary: Option[Seq[String]] = None): DataFrame =
    graft.text.BpeTokenizer.corpusTokenCounts(docs, idCol, textCol, merges,
      maxWords, vocabulary)

  // ---- retrieval (k01-k03 as parameterized library calls) ----

  /** Okapi BM25 ranked top-k: (id, n_terms, score) for documents matching
    * any of `terms`. Thin delegation to
    * [[graft.operators.Retrieval.bm25TopK]] — the SAME scoring formula the
    * oracle-checked k01/k02 queries run, with caller-chosen parameters.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = operators.Retrieval.DefaultK1,
               b: Double = operators.Retrieval.DefaultB): DataFrame =
    operators.Retrieval.bm25TopK(docs, idCol, textCol, terms, k, k1, b)

  /** Reciprocal-rank fusion of two rankings: frames with (id, a score col),
    * fused by 1/(rrfK + rank) each side, descending-score rank with id
    * tie-break. The standard hybrid keyword+vector combination (k02). Thin
    * delegation to [[graft.operators.Retrieval.rrfFuse]] — each modality is
    * bounded to its top-`candidateLimit` list (TakeOrderedAndProject) before
    * any rank window runs, and an id missing from one list contributes
    * exactly 0.0 from that side (null rank column).
    */
  def rrfFuse(a: DataFrame, scoreColA: String,
              b: DataFrame, scoreColB: String,
              k: Int, rrfK: Int = 60,
              candidateLimit: Int = operators.Retrieval.RrfCandidateLimit): DataFrame =
    operators.Retrieval.rrfFuse(a, scoreColA, b, scoreColB, k, rrfK, candidateLimit)

  // ---- curation transforms (g14/g15/d13 as library calls) ----

  /** PII-style redaction chain (g15): email → [EMAIL], URL → [URL],
    * IPv4 → [IP] (optionally long tokens → [LONG]), applied in that
    * order. Thin delegation to [[graft.operators.Curation.redactPii]] —
    * the same patterns the oracle-checked g15 query splices into its SQL.
    * A narrow map — compose freely, safe on raw (non-normalized) text.
    */
  def redactPii(c: Column, maskLongTokens: Boolean = false): Column =
    operators.Curation.redactPii(c, maskLongTokens)

  /** DSIR-style importance weight (g14): per-doc mean log-likelihood ratio
    * of the target-slice unigram LM over the full-corpus LM. Thin
    * delegation to [[graft.operators.Curation.dsirScores]] — the same
    * scoring core the oracle-checked g14 query runs.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame =
    operators.Curation.dsirScores(docs, idCol, textCol, isTarget)

  /** Strided token windows (d13): overlapping fixed-size training windows
    * (win_id, n_win_tokens, window_text) per document. Thin delegation to
    * [[graft.operators.Curation.tokenWindows]] — the same builder the
    * oracle-checked d13 query hashes.
    */
  def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
                   size: Int, stride: Int): DataFrame =
    operators.Curation.tokenWindows(docs, idCol, textCol, size, stride)
}
