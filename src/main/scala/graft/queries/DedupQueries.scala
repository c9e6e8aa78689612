package graft.queries

import graft.operators.NearDup
import graft.operators.ScaleOps.CheckpointSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` (§2.C): exact-hash variants live in
  * PipelineQueries (d04/d05); here are cross-load anti-join dedup, shingle
  * set-similarity (Jaccard + containment, oracle-checked), and the
  * MinHash-LSH / SimHash near-dup operators.
  *
  * Scale design: every pair-producing query generates candidates from an
  * EQUI-join — either LSH (band, bucket) buckets or a shared shingle — never
  * a cross join. The SHINGLE-JOIN queries (x02, x07) carry a
  * document-frequency cap ([[ShingleDfCap]]): a shingle shared by more than
  * that many documents is boilerplate (licence headers, templates) and is
  * dropped BEFORE the join — the standard prefix-filtering guard that keeps
  * set-similarity joins skew-free under Zipf-headed shingle distributions.
  * The cap is part of those queries' declared semantics and is applied
  * identically in their DuckDB oracles. The LSH queries (x03, x06) do NOT
  * cap: their candidates come from band buckets (no shingle join to
  * protect) and their verify step uses the full shingle sets — so their
  * oracles use the UNCAPPED pair CTE. On every fixture the two pair sets
  * coincide (max shingle df ≈ 7 vs cap 1000).
  */
object DedupQueries extends QuerySet {

  /** Df cap for shingle-keyed candidate joins. Sized as a boilerplate guard
    * (never binds on the synthetic corpus — max shingle df is ~7 at sf0.01 —
    * but bounds the worst-case join fan-out to cap² rows per hot shingle at
    * any corpus size). Cap behavior itself is unit-tested in NearDupSpec.
    */
  val ShingleDfCap = 1000

  /** (doc_id, shingle) pairs — 3-word shingles of the lowercased normalized
    * text, distinct per document. Served from the MATERIALIZED posting
    * artifact ([[graft.sources.ShingleStore]], built once per corpus, the
    * build-once/probe-many lifecycle): consumers read parquet instead of
    * re-running the normalize→split→shingle→explode string pipeline per
    * invocation. The expression itself (pure Catalyst, codegen, matching
    * TextKernel.shingles semantics) lives in ShingleStore.shingleRowsOf;
    * the oracles keep recomputing from `documents` via [[shingleSql]].
    */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    graft.sources.ShingleStore.table(s, d, "rows")

  /** The store's precomputed global (sh, df) document-frequency table —
    * input to the boilerplate cap and x07's rarest-first prefix rank.
    */
  private def shingleDf(s: SparkSession, d: String): DataFrame =
    graft.sources.ShingleStore.derived(s, d, "df")

  /** Verified MinHash near-dup pairs served from the PERSISTED band/set
    * artifact (graft.sources.MinhashStore, built once per corpus) — the
    * probe side of the lifecycle; signatures are never recomputed inside a
    * query. Oracles (x03/x06/x10) still recompute everything from
    * `documents` in SQL, so build/probe skew cannot pass silently.
    */
  private def minhashPairsFromStore(s: SparkSession, d: String): DataFrame =
    NearDup.minhashNearDupPairsFrom(s,
      graft.sources.MinhashStore.table(s, d, "bands"),
      graft.sources.MinhashStore.table(s, d, "sets"), threshold = 0.5)

  /** [[minhashPairsFromStore]], memoized per (SparkContext, fixture
    * fingerprint) and checkpoint-materialized once: x06/x10 and the
    * funnel (x11/x14) all consume the SAME verified pair frame x03
    * declares, and each used to re-materialize it from the band/set
    * artifact per invocation — three identical pair verifications per
    * bench pass. x03 itself stays on the direct form: it IS the declared
    * pair computation, so its bench work counters keep measuring it. The
    * key embeds the fixture fingerprint (sourceTag), so a regenerated
    * corpus recomputes instead of serving stale pairs; the store path is
    * only ever read for fixture dirs (streaming maintenance uses its own
    * artifact roots), so no in-process mutation can invalidate the memo.
    */
  private def minhashPairsMemo(s: SparkSession, d: String): DataFrame =
    DrillOnce.cached("minhash_pairs#" + s.sparkContext.applicationId + "#" +
        d + "#" + graft.sources.PhysicalLayout.sourceTag(d, "documents")) {
      minhashPairsFromStore(s, d).graftCheckpoint()
    }

  /** The exact cosine near-dup drop set over funnel survivors — the
    * `cp`/`sd` CTE pair x11's oracle embeds (x14's oracle restricts to the
    * panel-anchored pair set instead), with the threshold interpolated
    * from the SAME constant the Spark side passes to SemDedup.cellPairs
    * (VectorQueries.SemDedupTau): a threshold change now updates every
    * consumer or none.
    */
  private val semanticDropSql: String =
    s"""cp AS (SELECT a.vec_id AS da, b.vec_id AS db
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |    CAST(b.embedding AS DOUBLE[])) > ${VectorQueries.SemDedupTau}),
       |sd AS (SELECT DISTINCT db AS doc_id FROM cp
       |  WHERE da IN (SELECT doc_id FROM s3) AND db IN (SELECT doc_id FROM s3))""".stripMargin

  /** Stages 1–3 of the curation funnel, shared by x11 (exact semantic
    * baseline) and x14 (production IVF-served semantic stage): Gopher-style
    * gates → exact-hash dedup (keep-lowest-id) → MinHash-LSH near-dup from
    * the persisted band store. Returns (n_total, s1, s2, s3); s2/s3 are
    * checkpointed because each is read by two downstream stages AND
    * counted — without it the four stage counts re-run the whole upstream
    * lineage once per action (4.2 s → ~2 s at sf0.1).
    */
  private[queries] def funnelStages(s: SparkSession, d: String)
      : (Long, DataFrame, DataFrame, DataFrame) =
    // memoized per (SparkContext, fixture fingerprint) — x11 and x14 both
    // declare the SAME stages 1–3; each invocation used to re-run the gate
    // tokenization, hash dedup, and near-dup anti-join from scratch. The
    // frames are checkpoint-materialized, so reuse is safe; the fingerprint
    // key recomputes on a regenerated corpus (minhashPairsMemo discipline).
    DrillOnce.cached("funnel_stages#" + s.sparkContext.applicationId + "#" +
        d + "#" + graft.sources.PhysicalLayout.sourceTag(d, "documents")) {
      funnelStagesDirect(s, d)
    }

  private def funnelStagesDirect(s: SparkSession, d: String)
      : (Long, DataFrame, DataFrame, DataFrame) = {
    // docs feeds the gate tokenization AND the exact-dedup hash join, and
    // s1 is both consumed by s2 and counted by the callers — checkpoint
    // both so the corpus is scanned + normalized once (t13/g09 discipline;
    // the materialized frames are (doc_id, gnorm) and an id list)
    val docs = graft.operators.ScaleOps.spread(t(s, d, "documents")
      .select(col("doc_id"), normCol.as("gnorm"))).graftCheckpoint()
    val gtk = docs.select(col("doc_id"),
      explode(split(col("gnorm"), " ")).as("tok"))
    val s1 = (gtk.groupBy("doc_id").agg(
        count(lit(1)).as("n"),
        avg(length(col("tok"))).as("ml"),
        countDistinct(when(col("tok").isin(QualityQueries.stopwords: _*),
          col("tok"))).as("ns"))
      .filter(col("n").between(50, 100000) && col("ml").between(3.0, 10.0)
        && col("ns") >= 2)
      .select("doc_id")).graftCheckpoint()
    val s2 = (docs.join(s1, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("gnorm"))).orderBy("doc_id")))
      .filter(col("rn") === 1).select("doc_id")).graftCheckpoint()
    val jdrop = minhashPairsMemo(s, d)
      .join(s2.select(col("doc_id").as("id_a")), "id_a")
      .join(s2.select(col("doc_id").as("id_b")), "id_b")
      .select(col("id_b").as("doc_id")).distinct()
    val s3 = s2.join(jdrop, Seq("doc_id"), "left_anti").graftCheckpoint()
    (t(s, d, "documents").count(), s1, s2, s3)
  }

  /** The shared DuckDB CTE chain recomputing funnel stages 1–3 (names
    * `s1`/`s2`/`s3`; requires [[exactJaccardPairsSql]]'s `jac` in scope).
    */
  private def funnelStagesSql: String =
    s"""gn AS (SELECT doc_id, $normSql AS gnorm FROM documents),
       |gtk AS (SELECT doc_id, unnest(string_split(gnorm, ' ')) AS tok FROM gn),
       |gg AS (SELECT doc_id, count(*) AS n, avg(length(tok)) AS ml,
       |  count(DISTINCT CASE WHEN tok IN ${QualityQueries.stopSqlList} THEN tok END) AS ns
       |  FROM gtk GROUP BY doc_id),
       |s1 AS (SELECT doc_id FROM gg
       |  WHERE n BETWEEN 50 AND 100000 AND ml BETWEEN 3.0 AND 10.0 AND ns >= 2),
       |e AS (SELECT gn.doc_id, row_number() OVER
       |    (PARTITION BY md5(gnorm) ORDER BY gn.doc_id) AS rn
       |  FROM gn JOIN s1 USING (doc_id)),
       |s2 AS (SELECT doc_id FROM e WHERE rn = 1),
       |jd AS (SELECT DISTINCT db AS doc_id FROM jac
       |  WHERE j >= 0.5 AND da IN (SELECT doc_id FROM s2)
       |    AND db IN (SELECT doc_id FROM s2)),
       |s3 AS (SELECT doc_id FROM s2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM jd))""".stripMargin

  /** x14's pair-recall floor for the IVF-cell semantic stage over the
    * PANEL-ANCHORED pair set RESTRICTED to funnel survivors — same
    * discipline as v18's SemDedupPanelRecallFloor (measured recall with
    * ≥1.5× margin under the cross-SF minimum). Measured anchored+restricted
    * recall at assignK=3: 1.0 (1/1, sf0.01) / 0.75 (6/8, sf0.1); the
    * anchored exact counts match DuckDB's independent recompute at both
    * SFs, so panel membership provably agrees across engines.
    */
  private val FunnelSemRecallFloor = 0.5

  /** x11's corpus-size cap on the exact semantic stage: below this many
    * documents the blocked exact pair computation (~n²/2 distance evals
    * sharded as bounded-memory tasks — ≤ 5·10⁹ evals at the cap, a few
    * cluster-minutes) runs and every stage count is bit-exact oracle-able;
    * above it the stage is served from the persisted IVF artifact (x14's
    * production path) and `semantic_mode` records the switch. */
  private val ExactSemanticCap = 100000L

  /** [[exactJaccardPairsSql]] with a doc filter pushed into the base CTE —
    * the oracle side of probes over PARTIAL corpora (s14's streamed-store
    * pair probe covers doc_id < 500). Yields the same `jac` CTE name.
    */
  private[queries] def exactJaccardPairsSqlWhere(where: String): String =
    s"""norms AS (
       |  SELECT doc_id, lower($normSql) AS norm FROM documents $where),
       |tk AS (
       |  SELECT doc_id, norm, string_split(norm, ' ') AS toks
       |  FROM norms WHERE length(norm) > 0),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) < 3 THEN [norm]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |    END)) AS sh
       |  FROM tk),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT da, db, i, i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS j
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db)""".stripMargin

  /** DuckDB equivalent of [[shingleRows]] (CTE body yielding (doc_id, sh)). */
  private val shingleSql: String =
    s"""norms AS (
       |  SELECT doc_id, lower($normSql) AS norm FROM documents),
       |tk AS (
       |  SELECT doc_id, norm, string_split(norm, ' ') AS toks
       |  FROM norms WHERE length(norm) > 0),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) < 3 THEN [norm]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |    END)) AS sh
       |  FROM tk)""".stripMargin

  /** Shingle rows with the boilerplate df cap applied (both engines).
    * Both inputs come from the materialized store — the repeated reads that
    * round 5 protected with checkpoints are now plain parquet scans, and
    * the hot-shingle set comes from the PRECOMPUTED df table instead of a
    * per-invocation groupBy (x02 at sf0.1: 2.2 s rebuilt-per-call → ~0.5 s
    * store-backed, after the one-time build).
    */
  private def cappedShingleRows(s: SparkSession, d: String): DataFrame = {
    val hot = shingleDf(s, d).filter(col("df") > ShingleDfCap).select("sh")
    shingleRows(s, d).join(broadcast(hot), Seq("sh"), "left_anti")
  }

  private val cappedShingleSql: String =
    s"""$shingleSql,
       |hot AS (
       |  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
       |  WHERE df > $ShingleDfCap),
       |csh AS (
       |  SELECT doc_id, sh FROM sh
       |  WHERE sh NOT IN (SELECT sh FROM hot))""".stripMargin

  /** Exact pairwise shingle-Jaccard from the shared-shingle candidate join:
    * any pair with J > 0 shares a shingle, so the equi-join enumerates
    * exactly the nonzero-similarity pairs — no cross join. UNCAPPED — this
    * is the oracle for the LSH queries (x03, x06), whose Spark verify step
    * uses full shingle sets (see class doc).
    */
  private val exactJaccardPairsSql: String =
    s"""$shingleSql,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT da, db, i, i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS j
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db)""".stripMargin

  /** Capped variant of [[exactJaccardPairsSql]] — the oracle side of the
    * shingle-JOIN queries (x02), whose Spark side applies the same df cap.
    */
  private val cappedJaccardPairsSql: String =
    s"""$cappedShingleSql,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM csh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |  FROM csh a JOIN csh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT da, db, i, i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS j
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db)""".stripMargin

  def queries: Seq[Q] = Seq(

    // Cross-load dedup: rows whose hash is NOT present in the "existing"
    // half (doc_id < 250) — one distributed anti-join replacing the
    // reference's per-chunk index lookup (db_utils.py:135-146).
    Q("x01_crossload_dedup",
      (s, d) => {
        val hashed = t(s, d, "documents")
          .select(col("doc_id"), md5(normCol).as("text_hash"))
        val existing = hashed.filter(col("doc_id") < 250).select("text_hash").distinct()
        hashed.filter(col("doc_id") >= 250)
          .join(existing, Seq("text_hash"), "left_anti")
          .select("doc_id", "text_hash")
          .orderBy("doc_id")
      },
      Some(s"""WITH h AS (SELECT doc_id, md5($normSql) AS text_hash FROM documents),
        |existing AS (SELECT DISTINCT text_hash FROM h WHERE doc_id < 250)
        |SELECT f.doc_id, f.text_hash FROM h f
        |WHERE f.doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.text_hash = f.text_hash)
        |ORDER BY f.doc_id""".stripMargin)),

    // Corpus-wide shingle-Jaccard statistics over candidate pairs sharing
    // at least one (df-capped) shingle — the full-corpus replacement for the
    // old doc_id<200 diagnostic: candidates come from the shingle equi-join,
    // so cost scales with actual shingle collisions, not corpus².
    Q("x02_jaccard_stats",
      (s, d) => {
        // ONE LINEAR PIPELINE (round-13 rework, measured at 100x): the
        // candidate-pair multiset Σ C(df, 2) is the query's inherent
        // work (~132M rows at the 100x drill point, 1.7x input) and
        // must cross the wire once to be globally counted per pair —
        // but the OLD shape (posting self-join + pair agg + TWO
        // inter⋈sizes joins) re-shuffled the ~100M-row pair table twice
        // more to attach set sizes, measured at 394M total shuffle
        // (5.05x input). Here each posting carries its doc's capped set
        // size BEFORE enumeration (one window count over doc_id), each
        // shingle's posting list is clustered once (groupBy sh), ordered
        // in-group combinations emit (da, db, sa, sb) directly, and the
        // pair count-aggregate is the LAST shuffle — no post-enumeration
        // joins, no multi-consumer checkpoint. Group width is bounded by
        // the df cap (<= ShingleDfCap docs) so no combination fan-out
        // can run away; sort_array fixes the (nondeterministic) collect
        // order and yields da < db by construction (doc_id leads the
        // struct).
        val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        val sized = cappedShingleRows(s, d)
          .withColumn("sz", count(lit(1)).over(w))
        val jac = sized.groupBy("sh")
          .agg(sort_array(collect_list(struct(col("doc_id"), col("sz")))).as("docs"))
          .filter(size(col("docs")) >= 2)
          .select(explode(expr(
            """flatten(transform(docs, (a, i) ->
              |  transform(slice(docs, i + 2, size(docs) - i - 1),
              |            b -> struct(a.doc_id AS da, b.doc_id AS db,
              |                        a.sz AS sa, b.sz AS sb))))""".stripMargin)).as("p"))
          .groupBy(col("p.da").as("da"), col("p.db").as("db"),
            col("p.sa").as("sa"), col("p.sb").as("sb"))
          .agg(count(lit(1)).as("i"))
          // NOT a salted two-level aggregation (round-19 re-measure, closing
          // the round-13/18 deferral permanently): pair keys are near-unique
          // — a key's multiplicity is its pair's shared-shingle count,
          // bounded by the df cap — so salting cannot relieve any hot key
          // and only doubles the aggregated mass. Measured at sf0.1 with a
          // 16-way salt: 1.57 -> 1.86 s, shuffle_rows 1.58M -> 2.86M.
          .withColumn("jac", col("i") / (col("sa") + col("sb") - col("i")).cast("double"))
        jac.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("jac") >= 0.9, 1L).otherwise(0L)).as("n_high"),
          round(avg("jac"), 6).as("avg_jac"))
      },
      Some(s"""WITH $cappedJaccardPairsSql
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        | round(avg(j), 6) AS avg_jac
        |FROM jac""".stripMargin)),

    // MinHash-LSH near-dup pairs (scale path: banding → bucket join →
    // verify). Deterministic hash family; verified Jaccard attached.
    // Oracle: the EXACT shingle-Jaccard ≥ 0.5 pair set (computed in DuckDB
    // from the shared-shingle join). The 16x4 banding's miss probability at
    // the corpus's duplicate band (J ≥ 0.9) is 1-(1-(1-0.9⁴)¹⁶) ≈ 4e-8, so
    // the LSH output IS the exact answer here; a corpus with pairs sitting
    // just above 0.5 would need wider banding for the same guarantee (the
    // S-curve gives ~0.65 collision at J=0.5).
    Q("x03_minhash_neardup",
      (s, d) => minhashPairsFromStore(s, d),
      Some(s"""WITH $exactJaccardPairsSql
        |SELECT da AS id_a, db AS id_b, round(j, 6) AS jaccard
        |FROM jac WHERE j >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // MinHash ESTIMATE accuracy: for every exact near-dup pair, the
    // signature-agreement estimate (matching components / 64 perms) must
    // land within 0.25 of the exact shingle Jaccard — 4x the theoretical
    // std sqrt(J(1-J)/64) ≈ 0.0625 at J = 0.5. Estimates are deterministic
    // (seeded hash family), so the flag is a stable oracle row, and it
    // verifies the NUMERIC quality of the signatures themselves — x03 only
    // checks the emitted pair set.
    Q("x10_minhash_estimate",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val docs = t(s, d, "documents")
        val pairs = minhashPairsMemo(s, d)
        // only docs in the verified pair set need a second signature pass —
        // semi-join BEFORE the (opaque-to-Catalyst) signature map, so the
        // 64-permutation hashing runs over the handful of near-dup docs,
        // not the whole corpus again
        val pairIds = pairs.select(col("id_a").as("doc_id"))
          .union(pairs.select(col("id_b").as("doc_id"))).distinct()
        val sigs = docs.join(broadcast(pairIds), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, tx) => (id, NearDup.minhashSignature(tx)) }
          .toDF("sid", "sig")
        pairs
          .join(sigs.withColumnRenamed("sid", "id_a").withColumnRenamed("sig", "sig_a"), Seq("id_a"))
          .join(sigs.withColumnRenamed("sid", "id_b").withColumnRenamed("sig", "sig_b"), Seq("id_b"))
          .withColumn("est",
            aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
              .cast("double") / size(col("sig_a")))
          .select(col("id_a"), col("id_b"), col("jaccard"),
            (abs(col("est") - col("jaccard")) <= 0.25).cast("int").as("est_ok"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $exactJaccardPairsSql
        |SELECT da AS id_a, db AS id_b, round(j, 6) AS jaccard, 1 AS est_ok
        |FROM jac WHERE j >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // SimHash near-dup pairs: the standard 64-bit simhash threshold
    // (hamming <= 3), exact recall under the 4x16 banding (pigeonhole: at
    // most 3 differing bits cannot touch all 4 bands). The oracle
    // recomputes every simhash from scratch — md5-derived token hashes,
    // multiset bit voting, banding, candidate join, popcount verify — so
    // this is a full hash check of the signature pipeline, not rows-only.
    Q("x04_simhash_neardup",
      (s, d) => NearDup.simhashNearDupPairs(s, t(s, d, "documents"), maxDistance = 3),
      Some(DedupQueries.simhashPairsOracle)),

    // MinHash LSH bucket-size profile: how balanced are the band buckets
    // (skew diagnostics for the bucket join at scale). Oracle recomputes
    // the complete banding — shingle base hashes, the 64 spliced
    // universal-hash permutations in HUGEINT, per-band md5 buckets.
    Q("x05_minhash_bucket_profile",
      (s, d) => graft.sources.MinhashStore.table(s, d, "bands")
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_buckets"), max("n").as("max_bucket"),
          round(avg("n"), 6).as("avg_bucket"))
        .orderBy("band"),
      Some(DedupQueries.minhashBucketProfileOracle)),

    // Duplicate clusters: near-dup pairs -> connected components -> one
    // row per clustered doc (cluster = min member id). Alternating
    // large-star/small-star: O(log n) rounds independent of component
    // diameter (equivalence with plain propagation asserted in NearDupSpec).
    // Oracle: transitive closure (recursive CTE) over the exact ≥ 0.5
    // pair set — verifies pair generation AND the clustering.
    Q("x06_dup_clusters",
      (s, d) => {
        val pairs = minhashPairsMemo(s, d)
        // sortedOnce: CC's iterative chain would otherwise re-execute
        // under the declared sort's range-sampling pass
        graft.operators.ScaleOps.sortedOnce(
          NearDup.connectedComponents(s, pairs), col("id"))
      },
      Some(s"""WITH RECURSIVE $exactJaccardPairsSql,
        |pairs AS (SELECT da, db FROM jac WHERE j >= 0.5),
        |edges AS (
        |  SELECT da AS s, db AS d FROM pairs
        |  UNION
        |  SELECT db AS s, da AS d FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r)
        |SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // Shingle CONTAINMENT |A∩B| / |A| — directional: detects a document
    // embedded inside a larger one, which symmetric Jaccard misses when
    // the sizes differ a lot (the quote/boilerplate-absorption case).
    //
    // PPJoin-style prefix filtering (Xiao et al., WWW'08) on top of the df
    // cap: candidates come from joining only each CONTAINED side's prefix —
    // its floor((1-t)|A|)+1 rarest shingles in one global (df, sh) order —
    // against full postings. Pigeonhole: containment >= t allows at most
    // floor((1-t)|A|) misses, so a qualifying pair must share a prefix
    // shingle — exact recall, but the quadratic candidate join now runs on
    // ~(1-t) of each doc's postings (rarest-first keeps the prefix's
    // posting lists short, so candidate fan-out drops superlinearly).
    // Exact |A∩B| is then recomputed over FULL shingle sets for candidate
    // pairs only. Oracle unchanged: the filter is plan-level, not
    // semantic.
    //
    // Measured at sf0.1: flat vs the plain capped join (~3.5-4 s either
    // way) — the fixture's shingles are too sparse (max df ≈ 7) for
    // candidate reduction to pay, and the query's local floor is the
    // shingle materialization itself (x02, which skips all prefix
    // machinery, already costs ~2.4 s of it). The filter is kept for the
    // regime it exists for: corpora where mid-frequency shingles (df
    // below the boilerplate cap but large) make the candidate join
    // quadratic — there the prefix join touches ~(1-t) of postings,
    // picked rarest-first, and fan-out drops superlinearly while the
    // added passes stay linear.
    //
    // VERIFY stage (round-10 10x scaling drill finding): the original
    // posting-join verify fanned every candidate pair out to one row per
    // contained-doc shingle — Θ(candidates · |doc|) rows (205M at 10x
    // sf0.1). At test SF that mass hides inside a broadcast-join pipeline
    // (zero shuffle rows, partial aggregation collapses in place); the
    // moment the posting side outgrows the broadcast threshold the plan
    // legitimately switches to sort-merge and the WHOLE fan-out
    // materializes through an exchange (measured: x07 shuffle_rows
    // 266k → 226M, 851x, at 10x the data). PPJoin's own verify step
    // fetches the two candidate RECORDS instead — here each doc's
    // distinct shingle set is aggregated once and each candidate pair
    // joins to exactly two set rows, with |A∩B| computed by a codegen
    // array_intersect — Θ(candidates) shuffle rows at any scale
    // (measured at 10x: 226M → ~7M shuffle rows, 67.6 s → ~8 s probe).
    Q("x07_containment",
      (s, d) => {
        val threshold = 0.8
        // df comes from the store's PRECOMPUTED table and is reused for
        // both the boilerplate cap and the prefix rank — pre-cap df is
        // still one consistent global order, which is all the pigeonhole
        // argument needs
        val spark = s
        import spark.implicits._
        val dfTab = shingleDf(s, d)
        val hot = dfTab.filter(col("df") > ShingleDfCap).select("sh")
        // (A round-18 rework folding the prefix rank into the docSets
        // aggregation as sort_array(collect_list(struct(df, sh))) MEASURED
        // SLOWER — 4.7 → 7.5 s at sf0.1: per-doc struct-array sorts and the
        // doubled collected bytes cost more than the window they replaced;
        // kept the window form.)
        //
        // DENSE NUMERIC SHINGLE IDS (round 18, measured): the verify step
        // ships and hash-intersects two ~sz-element arrays per candidate
        // pair, and doing that over 3-word shingle STRINGS paid string
        // hashing + ~24 B/element shuffle width (phase-probed at 4.0 s of
        // the query's 5.8). `sid` is the shingle's rank in sh order over
        // the capped vocabulary (sorted zipWithIndex — distributed, no
        // single-partition window), an ORDER-COMPATIBLE bijection: sid
        // order == sh order, so the (df, sid) prefix rank picks exactly
        // the (df, sh) prefix, candidates and intersection counts are
        // row-for-row identical, and every downstream array is 8-byte
        // longs with specialized-hashset intersects (verify 4.0 → 2.4 s).
        // The ids join replaces the hot anti-join (ids excludes hot) AND
        // the prefix's dfTab join (df rides along).
        val ids = (dfTab.join(broadcast(hot), Seq("sh"), "left_anti")
          .select(col("sh"), col("df").cast("long").as("df"))
          .orderBy("sh").as[(String, Long)].rdd.zipWithIndex()
          .map { case ((shv, dfv), i) => (shv, dfv, i) }
          .toDF("sh", "df", "sid")).graftCheckpoint()
        // sh feeds the per-doc set aggregation, the prefix rank and the
        // candidate probe — checkpoint so the posting scan + vocabulary
        // join runs once instead of per consumer (t13/g09 discipline)
        val sh = (shingleRows(s, d)
          .join(ids, Seq("sh"))
          .select(col("doc_id"), col("sid"), col("df"))).graftCheckpoint()
        // one aggregation serves the prefix-length arithmetic (sz) AND the
        // verify sets: shingle rows are distinct per doc, so collect_list
        // IS the doc's set (checkpointed — read by prefix + both pair
        // sides). SORTED (round-19): per-doc sort once at build time lets
        // the verify intersect be a zero-allocation merge walk
        // (sorted_intersect_count) instead of a per-pair hash set +
        // materialized intersection array — and makes the collected order
        // deterministic rather than task-ordered.
        val docSets = (sh.groupBy("doc_id")
          .agg(sort_array(collect_list(col("sid"))).as("set"),
            count(lit(1)).as("sz")))
          .graftCheckpoint()
        val sizes = docSets.select(col("doc_id"), col("sz"))
        // prefix size = floor((1-t)·sz) + 2, NOT +1: (1-t) in binary64 is
        // 0.19999…96, so floor underestimates by one exactly at sz % 5 == 0
        // (e.g. sz=5: floor(0.9999…) = 0, losing a legitimate pair — caught
        // by the sf0.1 oracle). Float error is ≪ 1 at any real sz, so one
        // extra rank provably restores exact pigeonhole recall; the cost is
        // one more prefix shingle per doc.
        val prefix = sh
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("sid"))))
          .join(sizes, "doc_id")
          .filter(col("rk") <= floor((lit(1.0) - threshold) * col("sz")) + 2)
          .select(col("doc_id"), col("sid"))
        val cands = prefix.as("a").join(sh.as("b"),
            col("a.sid") === col("b.sid") && col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        // checkpoint the RESULT-sized verified pairs before the declared
        // global sort: orderBy's range-partition sampling pass otherwise
        // RE-EXECUTES the whole candidate+verify chain (phase-probed:
        // +1.1 s of pure recompute at sf0.1)
        (cands
          .join(docSets.select(col("doc_id").as("da"),
            col("set").as("seta"), col("sz").as("sa")), Seq("da"))
          .join(docSets.select(col("doc_id").as("db"),
            col("set").as("setb")), Seq("db"))
          // merge-walk |A∩B| over the sorted sets (sets are duplicate-free,
          // so this equals size(array_intersect) row for row — see
          // SortedIntersectCount's precondition note)
          .withColumn("i", graft.expressions.GraftFunctions
            .sorted_intersect_count(col("seta"), col("setb")))
          .withColumn("containment", col("i") / col("sa").cast("double"))
          .filter(col("containment") >= threshold)
          .select(col("da").as("contained_id"), col("db").as("container_id"),
            round(col("containment"), 6).as("containment")))
          .graftCheckpoint()
          .orderBy("contained_id", "container_id")
      },
      Some(s"""WITH $cappedShingleSql,
        |sizes AS (SELECT doc_id, count(*) AS sz FROM csh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM csh a JOIN csh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |cont AS (
        |  SELECT da, db, i / CAST(sz AS DOUBLE) AS c
        |  FROM inter JOIN sizes ON sizes.doc_id = da)
        |SELECT da AS contained_id, db AS container_id, round(c, 6) AS containment
        |FROM cont WHERE c >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin)),

    // Passage-level exact dedup: fixed-width 20-token passages (the
    // standard granularity when a corpus has no paragraph structure) —
    // narrow explode → md5 → one groupBy; surfaces passages repeated
    // across documents (cross-doc boilerplate that document-level dedup
    // misses). At 100 TB this is the exact-dedup shuffle shape with a
    // ~20x smaller key space than chunk dedup.
    Q("x08_passage_dedup",
      (s, d) => {
        val w = 20
        val toks = t(s, d, "documents")
          .select(col("doc_id"), split(lower(normCol), " ").as("toks"))
          .filter(size(col("toks")) > 0)
        val passages = toks.select(col("doc_id"),
          explode(transform(
            sequence(lit(0), floor((size(col("toks")) - 1) / w).cast("int")),
            j => concat_ws(" ", slice(col("toks"), j * w + 1, lit(w))))).as("passage"))
        passages.select(col("doc_id"), md5(col("passage")).as("ph"))
          .groupBy("ph")
          .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_total"))
          .filter(col("n_docs") > 1)
          .orderBy(desc("n_docs"), col("ph"))
      },
      Some(s"""WITH docs AS (
        |  SELECT doc_id, string_split(lower($normSql), ' ') AS toks FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(floor((len(toks) - 1) / 20) AS BIGINT) + 1),
        |    j -> array_to_string(toks[j*20+1 : j*20+20], ' '))) AS passage
        |  FROM docs WHERE len(toks) > 0),
        |g AS (
        |  SELECT md5(passage) AS ph, count(DISTINCT doc_id) AS n_docs,
        |    count(*) AS n_total
        |  FROM p GROUP BY 1)
        |SELECT ph, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_total AS BIGINT) AS n_total
        |FROM g WHERE n_docs > 1 ORDER BY n_docs DESC, ph""".stripMargin)),

    // Fuzzy string matching: 40-char title keys within edit distance 4 via
    // PassJoin segment blocking (Li et al., "PASS-JOIN", VLDB'11): split
    // each title into d+1 = 5 aligned 8-char segments; d edits leave at
    // least one segment intact, displaced by at most d positions, so
    // joining A's fixed segments against B's ±4-shifted substrings at the
    // same segment index has EXACT recall — and position-tagged 8-char
    // keys are high-entropy, so candidates stay tiny. Measured at sf0.1:
    // 373k candidates vs 11.7M for a 3-gram join (this corpus's ~30-word
    // vocabulary yields only 375 distinct trigrams — gram-count and
    // gram-prefix filters were measured at 44s and 116s; PassJoin ~3s).
    // Titles shorter than 40 normalized chars are excluded (fixed-width
    // key contract; none exist in the fixtures).
    Q("x09_fuzzy_title_match",
      (s, d) => {
        import s.implicits._
        val maxDist = 4
        val segLen = 8
        val titles = t(s, d, "documents")
          .select(col("doc_id"), substring(lower(normCol), 1, 40).as("title"))
          .filter(length(col("title")) === 40)
          .graftCheckpoint() // read by both join sides AND the verify joins
        val segIdx = (0 until 5).toDF("i")
        val shifts = (-maxDist to maxDist).toDF("sh")
        // index side: the 5 aligned segments
        val idx = titles.crossJoin(broadcast(segIdx))
          .select(col("doc_id"), col("i"),
            col("title").substr(col("i") * segLen + 1, lit(segLen)).as("seg"))
        // probe side: same-length substrings displaced by up to ±d
        val probe = titles.crossJoin(broadcast(segIdx)).crossJoin(broadcast(shifts))
          .withColumn("start", col("i") * segLen + 1 + col("sh"))
          .filter(col("start") >= 1 && col("start") + segLen - 1 <= 40)
          .select(col("doc_id"), col("i"), col("title").substr(col("start"), lit(segLen)).as("seg"))
        val cands = idx.as("a").join(probe.as("b"),
            col("a.i") === col("b.i") && col("a.seg") === col("b.seg") &&
            col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
          .distinct()
        cands
          .join(titles.select(col("doc_id").as("id_a"), col("title").as("ta")), Seq("id_a"))
          .join(titles.select(col("doc_id").as("id_b"), col("title").as("tb")), Seq("id_b"))
          // THRESHOLDED levenshtein: the banded DP computes O(len·maxDist)
          // cells and returns -1 past the bound, instead of the full
          // O(len²) table per candidate — same kept pairs, same distances
          .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
          .filter(col("dist") >= 0)
          .select(col("id_a"), col("id_b"), col("dist"))
          .graftCheckpoint() // before the declared sort (x07 discipline)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH titles AS (
        |  SELECT doc_id, substr(lower($normSql), 1, 40) AS title FROM documents
        |  WHERE length(substr(lower($normSql), 1, 40)) = 40),
        |idx AS (
        |  SELECT doc_id, i, substr(title, CAST(i*8 + 1 AS INT), 8) AS seg
        |  FROM titles, (SELECT unnest(range(0, 5)) AS i)),
        |probe AS (
        |  SELECT doc_id, i, substr(title, CAST(i*8 + 1 + sh AS INT), 8) AS seg
        |  FROM titles,
        |    (SELECT unnest(range(0, 5)) AS i),
        |    (SELECT unnest(range(-4, 5)) AS sh)
        |  WHERE i*8 + 1 + sh >= 1 AND i*8 + 8 + sh <= 40),
        |cands AS (
        |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
        |    greatest(a.doc_id, b.doc_id) AS id_b
        |  FROM idx a JOIN probe b
        |    ON a.i = b.i AND a.seg = b.seg AND a.doc_id <> b.doc_id)
        |SELECT id_a, id_b,
        | CAST(levenshtein(ta.title, tb.title) AS INT) AS dist
        |FROM cands
        |JOIN titles ta ON ta.doc_id = id_a
        |JOIN titles tb ON tb.doc_id = id_b
        |WHERE levenshtein(ta.title, tb.title) <= 4
        |ORDER BY id_a, id_b""".stripMargin)),

    // The whole curation pipeline composed end-to-end: Gopher gates (g01
    // semantics) → exact-hash dedup (d04 keep-lowest-id) → MinHash-LSH
    // near-dup served from the PERSISTED band/set store (x03 semantics,
    // exact at this corpus's duplicate band) → exact-cosine semantic dedup.
    // This is the fully-ORACLE-ABLE baseline: its stage 4 is deliberately
    // the exact computation so every stage count hash-matches DuckDB — but
    // the exact mode is CORPUS-SIZE-CAPPED: above ExactSemanticCap docs
    // the query switches stage 4 to the persisted-IVF cell path (x14's
    // production stage) instead of attempting Θ(n²) work, and the
    // `semantic_mode` column records which mode ran — so the DECLARED
    // query is runnable at any corpus size while remaining bit-exact
    // oracle-able at every size where exact is tractable (the driver SFs
    // are far below the cap, so the oracle pins mode = 'exact').
    // Near-dup/semantic stages use the one-pass drop policy
    // (drop iff a LOWER-id partner exists in the PRE-stage surviving set
    // — SemDedup.dropped's rule: deterministic, fixpoint-free). The
    // funnel proves the operators compose: the oracle recomputes all four
    // stages from scratch in DuckDB and the cumulative counts hash-match.
    // The PRODUCTION funnel — stage 4 ALWAYS served from the persisted
    // IVF artifact, panel-anchored grading, no Θ(n²) anywhere — is x14.
    Q("x11_curation_funnel",
      (s, d) => {
        val (nTotal, s1, s2, s3) = funnelStages(s, d)
        val (pairSrc, mode) =
          if (nTotal <= ExactSemanticCap)
            (VectorQueries.cosinePairsMemo(s, d).select("id_a", "id_b"),
              "exact")
          else {
            val ivfPath = graft.sources.VectorIndexStore.ensureIvf(s, d,
              graft.sources.VectorIndexStore.autoCells(
                VectorQueries.embeddingCount(s, d)))
            (graft.operators.SemDedup.cellPairs(
                graft.operators.SemDedup.multiAssign(
                  graft.operators.IvfIndex.loadVectors(s, ivfPath),
                  graft.operators.IvfIndex.loadModel(s, ivfPath),
                  VectorQueries.SemDedupAssignK),
                tau = VectorQueries.SemDedupTau).select("id_a", "id_b"),
              "ivf")
          }
        val sdrop = pairSrc
          .join(s3.select(col("doc_id").as("id_a")), "id_a")
          .join(s3.select(col("doc_id").as("id_b")), "id_b")
          .select(col("id_b").as("doc_id")).distinct()
        val s4 = s3.join(sdrop, Seq("doc_id"), "left_anti")
        val c1 = s1.count(); val c2 = s2.count()
        val c3 = s3.count(); val c4 = s4.count()
        s.range(1).select(
          lit(nTotal).as("n_total"), lit(c1).as("after_gates"),
          lit(c2).as("after_exact"), lit(c3).as("after_neardup"),
          lit(c4).as("after_semantic"), lit(mode).as("semantic_mode"))
      },
      Some(s"""WITH $exactJaccardPairsSql,
        |$funnelStagesSql,
        |$semanticDropSql
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total,
        | (SELECT CAST(count(*) AS BIGINT) FROM s1) AS after_gates,
        | (SELECT CAST(count(*) AS BIGINT) FROM s2) AS after_exact,
        | (SELECT CAST(count(*) AS BIGINT) FROM s3) AS after_neardup,
        | (SELECT CAST(count(*) AS BIGINT) FROM s3
        |    WHERE doc_id NOT IN (SELECT doc_id FROM sd)) AS after_semantic,
        | 'exact' AS semantic_mode""".stripMargin)),

    // THE PRODUCTION CURATION FUNNEL — x11 with its one scale-killer
    // replaced: stage 4 is served from the PERSISTED IVF artifact
    // (SemDedup.cellPairs over multiAssign(assignK=3), v18's path) instead
    // of the Θ(n²) exact block-grid, so no stage of the composed pipeline
    // exceeds Σ_cells(n_c)² work at any corpus size.
    //
    // GRADING IS PANEL-ANCHORED (v18's pattern): the engine-side exact
    // baseline is AnnEval.panelAnchoredPairs over the fixed md5Panel,
    // restricted to funnel survivors — |panel|·n work, linear in corpus
    // size, so the DECLARED QUERY ITSELF is 100×-runnable; the full
    // all-pairs recompute lives only in the DuckDB oracle's independent
    // panel restriction. Stages 1–3 AND the anchored exact pair/drop
    // counts are hash-checked; the approximate stage is pinned by three
    // deterministic gates — `pair_recall_ok` (panel-anchored within-cell
    // pairs over survivors recover ≥ FunnelSemRecallFloor of the anchored
    // exact restricted pair set), `drop_subset_ok` (anchored IVF drops ⊆
    // anchored exact drops — cosine is exact within cells, so a violation
    // means a broken pair generator), and `panel_survivors_ok` (the
    // PRODUCTION survivor set restricted to panel members keeps every
    // exact panel survivor — a panel member's complete exact drop status
    // is KNOWN, since any pair involving it is by definition anchored, so
    // `panel_exact_survivors` is hash-gated and a drop policy that
    // removes the wrong documents fails this gate even though the
    // full-corpus exact survivor count is never computed). The production
    // output is s4 from the artifact path. Ref lineage: dedup-before-
    // store, db_utils.py:135-146.
    Q("x14_funnel_ivf_semantic",
      (s, d) => {
        val (nTotal, s1, s2, s3) = funnelStages(s, d)
        // constant-occupancy geometry — see v18/autoCells
        val ivfPath = graft.sources.VectorIndexStore.ensureIvf(s, d,
          graft.sources.VectorIndexStore.autoCells(
            VectorQueries.embeddingCount(s, d)))
        val vectors = graft.operators.IvfIndex.loadVectors(s, ivfPath)
        val model = graft.operators.IvfIndex.loadModel(s, ivfPath)
        val cellPairs = graft.operators.SemDedup.cellPairs(
            graft.operators.SemDedup.multiAssign(vectors, model,
              VectorQueries.SemDedupAssignK),
            tau = VectorQueries.SemDedupTau)
          .select("id_a", "id_b")
          .join(s3.select(col("doc_id").as("id_a")), "id_a")
          .join(s3.select(col("doc_id").as("id_b")), "id_b")
          .graftCheckpoint()
        val ivfDrop = cellPairs.select(col("id_b").as("doc_id")).distinct()
          .graftCheckpoint()
        val s4 = s3.join(ivfDrop, Seq("doc_id"), "left_anti")
        // grading baseline (v18 pattern): panel-anchored exact pairs
        // restricted to the same survivors — what DuckDB recomputes
        // independently from its own md5-ordered panel
        val emb = t(s, d, "embeddings")
        val panel = graft.operators.AnnEval.md5Panel(
          emb, VectorQueries.ExactPanelSize)
        val panelIds = panel.map(_._1)
        val exactPairs = graft.operators.AnnEval.panelAnchoredPairs(
            emb, panel, VectorQueries.SemDedupTau)
          .join(s3.select(col("doc_id").as("id_a")), "id_a")
          .join(s3.select(col("doc_id").as("id_b")), "id_b")
          .graftCheckpoint()
        val exactDrop = exactPairs.select(col("id_b").as("doc_id")).distinct()
          .graftCheckpoint()
        val cellAnchored = cellPairs.filter(
          col("id_a").isin(panelIds: _*) || col("id_b").isin(panelIds: _*))
        val ivfDropAnchored = cellAnchored.select(col("id_b").as("doc_id"))
          .distinct()
        val c1 = s1.count(); val c2 = s2.count(); val c3 = s3.count()
        val nCellAnchored = cellAnchored.count()
        val nPanelPairs = exactPairs.count()
        val nPanelDropped = exactDrop.count()
        val escaped = ivfDropAnchored.join(exactDrop, Seq("doc_id"), "left_anti")
          .count()
        // panel-restricted survivor cross-check: for panel members the
        // exact drop status is COMPLETE (every pair touching a panel doc
        // is anchored), so the production survivor SET must contain every
        // exact panel survivor — checked as containment, not a count
        // comparison (a policy dropping the same NUMBER of wrong panel
        // docs would pass a count gate); the non-tautological
        // survivor-side gate a wrong-drop policy fails.
        val panelInS3 = s3.filter(col("doc_id").isin(panelIds: _*))
        val exactPanelSurvivors = panelInS3
          .join(exactDrop, Seq("doc_id"), "left_anti")
        val nPanelInS3 = panelInS3.count()
        val nPanelExactSurvivors = exactPanelSurvivors.count()
        val survivorViolations = exactPanelSurvivors
          .join(s4, Seq("doc_id"), "left_anti").count()
        s.range(1).select(
          lit(nTotal).as("n_total"), lit(c1).as("after_gates"),
          lit(c2).as("after_exact"), lit(c3).as("after_neardup"),
          lit(nPanelPairs).as("panel_pairs_exact"),
          lit(nPanelDropped).as("panel_dropped_exact"),
          lit(nPanelInS3).as("panel_docs_in_s3"),
          lit(nPanelExactSurvivors).as("panel_exact_survivors"),
          (lit(nCellAnchored) >= lit(nPanelPairs * FunnelSemRecallFloor))
            .cast("int").as("pair_recall_ok"),
          (lit(escaped) === 0).cast("int").as("drop_subset_ok"),
          (lit(survivorViolations) === 0).cast("int").as("panel_survivors_ok"))
      },
      Some(s"""WITH $exactJaccardPairsSql,
        |$funnelStagesSql,
        |${VectorQueries.exactPanelSql},
        |pp AS (SELECT a.vec_id AS da, b.vec_id AS db
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE (a.vec_id IN (SELECT vec_id FROM panel)
        |      OR b.vec_id IN (SELECT vec_id FROM panel))
        |    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) > ${VectorQueries.SemDedupTau}
        |    AND a.vec_id IN (SELECT doc_id FROM s3)
        |    AND b.vec_id IN (SELECT doc_id FROM s3))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total,
        | (SELECT CAST(count(*) AS BIGINT) FROM s1) AS after_gates,
        | (SELECT CAST(count(*) AS BIGINT) FROM s2) AS after_exact,
        | (SELECT CAST(count(*) AS BIGINT) FROM s3) AS after_neardup,
        | (SELECT CAST(count(*) AS BIGINT) FROM pp) AS panel_pairs_exact,
        | (SELECT CAST(count(DISTINCT db) AS BIGINT) FROM pp) AS panel_dropped_exact,
        | (SELECT CAST(count(*) AS BIGINT) FROM s3
        |    WHERE doc_id IN (SELECT vec_id FROM panel)) AS panel_docs_in_s3,
        | (SELECT CAST(count(*) AS BIGINT) FROM s3
        |    WHERE doc_id IN (SELECT vec_id FROM panel)) -
        |   (SELECT CAST(count(DISTINCT db) AS BIGINT) FROM pp
        |    WHERE db IN (SELECT vec_id FROM panel)) AS panel_exact_survivors,
        | 1 AS pair_recall_ok, 1 AS drop_subset_ok, 1 AS panel_survivors_ok""".stripMargin)),

    // Per-document corpus-duplicated n-gram coverage — the "duplicate
    // n-gram fraction" curation signal (Dolma/RefinedWeb lineage), computed
    // CROSS-corpus: what fraction of a doc's distinct shingles also occur
    // in at least one OTHER document. Served entirely from the persisted
    // shingle artifact — postings equi-joined with the PRECOMPUTED df
    // table (no text pipeline, no pair enumeration; cost is one join on sh
    // + one per-doc agg, both partial-aggregating map-side). The near-dup
    // flag is decided in exact integer arithmetic (5*n_dup >= 4*n_sh, i.e.
    // coverage >= 0.8) so no float threshold can drift between engines;
    // dup_frac is rounded symmetrically for display.
    Q("x12_dup_ngram_coverage",
      (s, d) => {
        shingleRows(s, d).join(shingleDf(s, d), Seq("sh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("dup_frac",
            round(col("n_dup") / col("n_sh").cast("double"), 6))
          .withColumn("is_neardup", col("n_dup") * 5 >= col("n_sh") * 4)
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleSql,
        |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
        |per AS (
        |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
        |    CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM sh s JOIN dfreq d ON s.sh = d.sh
        |  GROUP BY s.doc_id)
        |SELECT doc_id, n_sh, n_dup,
        |  round(n_dup / CAST(n_sh AS DOUBLE), 6) AS dup_frac,
        |  (n_dup * 5 >= n_sh * 4) AS is_neardup
        |FROM per ORDER BY doc_id""".stripMargin)),

    // x01's cross-load dedup with the bloom prefilter in front
    // (Ingest.bloomDedupAgainstExisting): the existing half's hashes are
    // packed once into a 2^20-bit mask (geometry-bounded, rides task
    // broadcast), every incoming row tests k=5 positions with codegen bit
    // arithmetic, and only rows whose positions are ALL set reach the
    // exact verification anti-join. No false negatives → the output is
    // hash-IDENTICAL to the exact x01 result (same oracle); false
    // positives only enlarge the verified sliver. At 100 TB this converts
    // the full fresh-side dedup shuffle into a narrow filter plus an
    // anti-join over ~(dup rate + fp rate) of the load.
    Q("x13_bloom_crossload_dedup",
      (s, d) => {
        val hashed = t(s, d, "documents")
          .select(col("doc_id"), md5(normCol).as("text_hash"))
        val fresh = hashed.filter(col("doc_id") >= 250)
        val existing = hashed.filter(col("doc_id") < 250)
        graft.operators.ScaleOps.sortedOnce(
          graft.operators.Ingest.bloomDedupAgainstExisting(fresh, existing)
            .select("doc_id", "text_hash"), col("doc_id"))
      },
      Some(s"""WITH h AS (SELECT doc_id, md5($normSql) AS text_hash FROM documents),
        |existing AS (SELECT DISTINCT text_hash FROM h WHERE doc_id < 250)
        |SELECT f.doc_id, f.text_hash FROM h f
        |WHERE f.doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.text_hash = f.text_hash)
        |ORDER BY f.doc_id""".stripMargin)),

    // EXACT-SUBSTRING DEDUP (Lee et al. 2022's ExactSubstr modality —
    // the fourth dedup family next to exact-hash / shingle-similarity /
    // semantic): per-document verbatim spans of >= AnchorWords words
    // shared with at least one OTHER document, plus the duplicated-word
    // fraction. Where the paper builds a suffix array, the engine serves
    // everything from the PERSISTED positional anchor artifact
    // (graft.sources.SubstrStore): dup anchors come from ONE equi-join of
    // the posting rows with the precomputed df table (df >= 2 ⇔ the
    // window occurs verbatim in another document), anchor starts expand
    // to their covered word positions (bounded ×W explode on dup anchors
    // only), and maximal spans fall out of one per-doc gaps-and-islands
    // window (pos - row_number) + two partial-aggregating groupBys. No
    // pair enumeration, no text pipeline, no global sort — cost is
    // O(postings + dup positions) with every shuffle keyed on h or
    // doc_id. A shared span of S >= W words contributes S-W+1 consecutive
    // anchors covering exactly its S positions, so spans are neither
    // missed nor overcounted. The oracle recomputes the anchors AS
    // STRINGS from `documents`; the artifact stores xxhash64(anchor), so
    // a hash-green run also certifies the hashed postings collide-free on
    // this corpus.
    Q("x15_exact_substring_dedup",
      (s, d) => graft.sources.SubstrStore.spanStats(
          graft.sources.SubstrStore.table(s, d, "rows"),
          graft.sources.SubstrStore.table(s, d, "docs"),
          graft.sources.SubstrStore.derived(s, d, "df"))
        .orderBy("doc_id"),
      Some(s"""WITH norms AS (
        |  SELECT doc_id, lower($normSql) AS norm FROM documents),
        |base AS (
        |  SELECT doc_id, string_split(norm, ' ') AS toks,
        |    len(string_split(norm, ' ')) AS n_words
        |  FROM norms WHERE length(norm) > 0),
        |starts AS (
        |  SELECT doc_id, n_words, toks,
        |    unnest(range(1, n_words - $SubstrW + 2)) AS pos
        |  FROM base WHERE n_words >= $SubstrW),
        |psh AS (
        |  SELECT doc_id, pos,
        |    array_to_string(toks[pos:pos+$SubstrW-1], ' ') AS sh
        |  FROM starts),
        |dfreq AS (
        |  SELECT sh FROM psh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT s.doc_id, unnest(range(s.pos, s.pos + $SubstrW)) AS p
        |    FROM psh s JOIN dfreq d USING (sh))),
        |isl AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM cov),
        |spans AS (
        |  SELECT doc_id, count(*) AS span_len FROM isl GROUP BY doc_id, grp),
        |agg AS (
        |  SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_words,
        |    CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(max(span_len) AS BIGINT) AS max_span_words
        |  FROM spans GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
        |  COALESCE(a.dup_words, 0) AS dup_words,
        |  COALESCE(a.n_spans, 0) AS n_spans,
        |  COALESCE(a.max_span_words, 0) AS max_span_words,
        |  round(COALESCE(a.dup_words, 0) / CAST(b.n_words AS DOUBLE), 6) AS dup_frac
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin))
  )

  /** x15's anchor width, spliced into its oracle from the ONE constant the
    * store build uses ([[graft.sources.SubstrStore.AnchorWords]]).
    */
  private def SubstrW = graft.sources.SubstrStore.AnchorWords

  private val Two64 = "CAST(18446744073709551616 AS HUGEINT)"
  private val Two63 = "CAST(9223372036854775808 AS HUGEINT)"

  /** Unsigned 64-bit md5 prefix of `expr` as a HUGEINT. DuckDB's '0x'
    * string cast only parses values that fit a signed BIGINT, so the 16-hex
    * prefix is assembled from two 32-bit halves.
    */
  private def md5U64Sql(expr: String): String =
    s"(CAST(CAST(('0x' || substring(md5($expr), 1, 8)) AS BIGINT) AS HUGEINT) * 4294967296" +
      s" + CAST(CAST(('0x' || substring(md5($expr), 9, 8)) AS BIGINT) AS HUGEINT))"

  /** DuckDB recomputation of the complete MinHash banding
    * (NearDup.minhashSignature + minhashBuckets): md5-derived 63-bit base
    * per shingle, the 64 universal-hash permutations — constants SPLICED
    * from NearDup.hashMult/hashAdd, evaluated in HUGEINT with the same
    * mod-2^64 wrap and >>> 1 — then per-band bucket = md5 of the
    * '|'-joined decimal band values. CTE yields `bands(doc_id, band,
    * bucket)`.
    */
  private def minhashBandsSql: String = {
    val sigExprs = (0 until NearDup.NumHashes).map { i =>
      val m = java.lang.Long.toUnsignedString(NearDup.hashMult(i))
      val a = java.lang.Long.toUnsignedString(NearDup.hashAdd(i))
      s"min(((b * $m + $a) % $Two64) // 2) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until NearDup.Bands).map { band =>
      val joined = (band * NearDup.RowsPerBand until (band + 1) * NearDup.RowsPerBand)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, CAST($band AS INT) AS band, CAST(('0x' || substring(md5($joined), 1, 8)) AS BIGINT) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$shingleSql,
       |hb AS (SELECT doc_id, ${md5U64Sql("sh")} // 2 AS b FROM sh),
       |sig AS (SELECT doc_id,
       |    $sigExprs
       |  FROM hb GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  private[queries] def minhashBucketProfileOracle: String =
    s"""WITH $minhashBandsSql
       |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
       | CAST(max(n) AS BIGINT) AS max_bucket, round(avg(n), 6) AS avg_bucket
       |FROM (SELECT band, bucket, count(*) AS n FROM bands GROUP BY band, bucket)
       |GROUP BY band ORDER BY band""".stripMargin

  /** DuckDB recomputation of the SimHash pipeline (NearDup.simhash +
    * simhashBuckets + pair verify): md5-derived 64-bit token hash, multiset
    * bit voting over all 64 bit positions, 4x16-bit banding for candidates,
    * popcount(xor) verify at hamming <= 3 — banding recall is exact by
    * pigeonhole, so the SQL pair set equals the engine's.
    */
  private[queries] def simhashPairsOracle: String = {
    val pw = (0 until 64).map(b =>
      s"(${b}, ${java.lang.Long.toUnsignedString(1L << b)})").mkString(", ")
    s"""WITH n AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |tk AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM n WHERE norm <> ''),
       |th AS (SELECT doc_id, ${md5U64Sql("tok")} AS hu FROM tk),
       |bits (bit, pw) AS (VALUES $pw),
       |votes AS (
       |  SELECT doc_id, bit, pw,
       |    sum(CASE WHEN (hu // CAST(pw AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, bits GROUP BY doc_id, bit, pw),
       |shash AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN v > 0 THEN CAST(pw AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS hu
       |  FROM votes GROUP BY doc_id),
       |sh64 AS (
       |  SELECT doc_id, CAST(CASE WHEN hu >= $Two63 THEN hu - $Two64 ELSE hu END AS BIGINT) AS sh,
       |    hu
       |  FROM shash),
       |bands AS (
       |  SELECT doc_id, band, (hu // CAST(p16 AS HUGEINT)) % 65536 AS bucket
       |  FROM sh64, (VALUES (0, 1), (1, 65536), (2, 4294967296), (3, 281474976710656)) AS bl(band, p16)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa.sh, sb.sh)) AS INT) AS hamming
       |FROM cand
       |JOIN sh64 sa ON sa.doc_id = id_a
       |JOIN sh64 sb ON sb.doc_id = id_b
       |WHERE bit_count(xor(sa.sh, sb.sh)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }
}
