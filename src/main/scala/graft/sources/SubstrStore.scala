package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build-once POSITIONAL anchor artifact for exact-substring deduplication
  * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better" — the ExactSubstr modality: verbatim spans of >= L tokens shared
  * ACROSS documents, beyond what shingle-set similarity measures). A
  * [[DocArtifact]]: a real corpus maintains the anchor tables
  * at ingest and every substring-dedup query probes them instead of
  * re-running the tokenize→gram→hash pipeline per invocation.
  *
  * Where the paper builds a suffix array (impractical to maintain
  * incrementally over a distributed, append-only corpus), this artifact
  * keeps fixed-width anchors: every [[AnchorWords]]-word window of the
  * lowercased normalized text, at its 1-based word position. A window
  * shared by >= 2 documents marks its [[AnchorWords]] positions duplicated;
  * maximal runs of duplicated positions are exactly the shared spans of
  * >= AnchorWords words (a shared span of S >= W words contributes S-W+1
  * consecutive anchors covering all S positions — no span is missed, none
  * is overcounted).
  *
  * Artifact layout:
  *   `rows` — (doc_id, n_words, pos, h): one row per anchor START, where
  *            `h = xxhash64(anchor text)`. Hashing the 8-word window to 64
  *            bits divides the posting payload by ~6x and makes the df
  *            join key fixed-width — the right trade at 100 TB (a random
  *            collision among 10^12 anchors is ~1e-14 per pair and could
  *            only mark a span duplicated, never hide one).
  *   `docs` — (doc_id, n_words): per-document token counts for EVERY
  *            non-empty document (including those shorter than the anchor
  *            width), so coverage queries never re-read the corpus text.
  *            A tiny sidecar: compaction rewrites it into one file.
  *   `df`   — derived (h, df) for DUPLICATED anchors only (df >= 2). Unique
  *            anchors dominate any real corpus (the table would otherwise
  *            be as large as the corpus word count), and every consumer
  *            filters df >= 2 anyway — storing only the dup side shrinks
  *            the artifact by orders of magnitude AND turns the
  *            anchors ⋈ df join's build side into a frame small enough
  *            that the planner broadcasts it (no shuffle of the anchor
  *            table at all; PlanSpec's x15 guard pins this), degrading
  *            gracefully to a sort-merge join only when the dup set is
  *            genuinely huge.
  *
  * At 100 TB: rows are written CLUSTERED by doc_id (PhysicalLayout
  * .writeSorted — each document's anchors co-located, tight doc_id
  * row-group ranges for per-doc provenance probes; appends add unsorted
  * files until a compaction re-clusters them). Clustering by `h`
  * was measured and REJECTED: no declared query probes by h, and
  * h-ordering scatters each doc's anchors across partitions, which
  * destroys the partial-aggregation locality of the covered-position
  * distinct (measured at sf0.1: shuffle_rows 59.8k doc-clustered vs
  * 117k h-sorted — the partial distinct stops collapsing same-doc
  * duplicates before the exchange). The dup-only df broadcast keeps the
  * big table un-shuffled; the per-doc span windows partition by doc_id
  * (no global sort anywhere); and maintenance is append-only with cost
  * ∝ new documents. The DuckDB
  * oracles recompute anchors from `documents` as strings — the artifact
  * is a plan-level materialization, not a semantic change (modulo the
  * documented hash-collision odds).
  */
object SubstrStore extends DocArtifact("spark.graft.substr.dir", "graft_substr",
  // v2: dup-only df table (round 10) — the layout version in the path
  // retires pre-change cached artifacts instead of serving a stale
  // full-df table through the idempotent ensure()
  s"sub${SubstrStore.AnchorWords}v2_") {

  /** Anchor window width in words: a shared verbatim run of >= 8 words
    * (~50+ chars) counts as a duplicated span — the smallest width at
    * which boilerplate 3-grams stop dominating (at width 3 the synthetic
    * corpus is ~92% "duplicated"; at 8 the signal is the actual shared
    * passages: ~9% of docs). A constant, so the layout prefix above can
    * read it before this object is initialized.
    */
  final val AnchorWords = 8

  private def normBase(docs: DataFrame): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    docs.select(col("doc_id"), norm.as("norm"))
      .filter(length(col("norm")) > 0)
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("n_words", size(col("toks")))
  }

  /** (doc_id, n_words) for every non-empty document — pure Catalyst. */
  def docRowsOf(docs: DataFrame): DataFrame =
    normBase(docs).select(col("doc_id"), col("n_words"))

  /** (doc_id, n_words, pos, h) positional anchor rows — pure Catalyst
    * (codegen): docs shorter than [[AnchorWords]] tokens contribute no
    * anchors (substring dedup of tiny documents is exact dedup's job);
    * `pos` is the 1-based word position of the window start.
    */
  def anchorRowsOf(docs: DataFrame): DataFrame =
    anchorsFromBase(normBase(docs))

  private def anchorsFromBase(base: DataFrame): DataFrame = {
    val w = AnchorWords
    base
      .filter(col("n_words") >= w)
      .select(col("doc_id"), col("n_words"),
        posexplode(transform(sequence(lit(1), col("n_words") - (w - 1)), i =>
          xxhash64(concat_ws(" ", slice(col("toks"), i, lit(w))))))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), col("n_words"),
        (col("pos0") + 1).as("pos"), col("h"))
  }

  /** [[spanStats]] computed FRESH from any (doc_id, text) frame with the
    * one-scan discipline: the normalized base is checkpointed once (it
    * feeds both the anchors and the per-doc word counts) and the anchors
    * once (they feed both the df aggregation and the coverage join) —
    * without the checkpoints Catalyst re-runs the corpus scan + tokenize
    * per consumer, three passes in all. Store-backed corpora probe the
    * persisted tables instead (x15's path).
    */
  def freshStats(docs: DataFrame): DataFrame = {
    val base = graft.operators.ScaleOps.checkpointed(normBase(docs))
    val anchors = graft.operators.ScaleOps.checkpointed(anchorsFromBase(base))
    spanStats(anchors,
      base.select(col("doc_id"), col("n_words")),
      anchors.groupBy("h").agg(countDistinct(col("doc_id")).as("df")))
  }

  protected val tables = Seq(
    DocArtifact.Table("rows", "doc_id", anchorRowsOf,
      build = DocArtifact.sorted("doc_id"), compact = DocArtifact.sorted("doc_id")),
    DocArtifact.Table("docs", "doc_id", docRowsOf,
      compact = (rows, dir, _) => rows.coalesce(1).write.parquet(dir)))

  // dup anchors only (df >= 2) — see the layout scaladoc: consumers never
  // read unique anchors, and dropping them is what keeps this table
  // broadcast-sized at any corpus scale
  override protected val derivedTables = Seq(DocArtifact.Derived("df",
    _.groupBy("h").agg(countDistinct(col("doc_id")).as("df")).filter(col("df") >= 2)))

  /** Per-document duplicated-span statistics from anchor/df/doc frames —
    * the exact-substring-dedup computation itself (x15's engine side and
    * the Graft.duplicatedSpans facade): anchors with df >= 2 expand to
    * their covered word positions (bounded ×AnchorWords explode over DUP
    * anchors only), maximal spans fall out of one per-doc
    * gaps-and-islands window, and every non-empty doc gets a row
    * (zeros when nothing is duplicated). Output: (doc_id, n_words,
    * dup_words, n_spans, max_span_words, dup_frac).
    */
  def spanStats(anchorRows: DataFrame, docRows: DataFrame,
                dfTable: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = AnchorWords
    val dup = anchorRows.join(dfTable.filter(col("df") >= 2), Seq("h"))
    val cov = dup.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .distinct()
    val isl = cov.withColumn("grp",
      col("p") - row_number().over(
        Window.partitionBy("doc_id").orderBy("p")))
    val spans = isl.groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("span_len"))
    val agg = spans.groupBy("doc_id").agg(
      sum("span_len").as("dup_words"),
      count(lit(1)).as("n_spans"),
      max("span_len").as("max_span_words"))
    docRows.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_words"), lit(0L)).as("max_span_words"),
        round(coalesce(col("dup_words"), lit(0L)) /
          col("n_words").cast("double"), 6).as("dup_frac"))
  }
}
