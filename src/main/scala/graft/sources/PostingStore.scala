package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once INVERTED INDEX for ranked keyword retrieval — the engine-side
  * equivalent of the reference's full-text-searchable index (the store
  * declares `content` searchable and a semantic-ranking configuration on
  * the same index, db_utils.py:55-57,112-118; created once, queried
  * forever). Round 5 rebuilt postings from the raw corpus inside every
  * k01/k02 invocation; a real deployment tokenizes 100 TB once and serves
  * every query from the index.
  *
  * A [[DocArtifact]]; artifact layout:
  *   `postings` — (tok, doc_id, tf, dl): one row per (term, doc), with the
  *                doc length denormalized in (no join at query time).
  *                Written SORTED BY tok ([[PhysicalLayout.writeSorted]]):
  *                a query's `tok IN (...)` predicate pushes down to parquet
  *                row-group min/max pruning, so a probe reads the queried
  *                terms' posting lists, not the corpus — the inverted-index
  *                access path, expressed as physical layout. Incremental
  *                appends add per-segment-sorted files; compaction
  *                re-sorts globally (SCALE.md "posting-segment
  *                compaction").
  *   `df`       — derived (tok, df): global document frequency
  *                (vocabulary-sized, broadcast at query time).
  *   `stats`    — derived (n_docs, avgdl): one row.
  *
  * All three tables are exact integer/long-sum quantities computed with the
  * same tokenization as [[graft.operators.Retrieval.bm25Contrib]], so
  * scores over the store are bitwise the scores over the corpus — k01/k02
  * stay hash-green against oracles that keep recomputing from `documents`.
  */
object PostingStore extends DocArtifact("spark.graft.postings.dir", "graft_postings",
  // v2 layout (pointer-versioned tables)
  "pt2_") {

  /** THE tokenization: (doc_id, dl, tok, tf) rows of a (doc_id, text)
    * frame — single definition shared by build and append so segments can
    * never drift from the initial index.
    */
  private def postingRowsOf(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("norm"))
      .withColumn("dl", size(split(col("norm"), " ")))
    base.select(col("doc_id"), col("dl"), explode(split(col("norm"), " ")).as("tok"))
      .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).as("tf"))
  }

  // appends add one tok-sorted SEGMENT: row-group min/max pruning is per
  // row group, so a per-segment sort keeps term probes pruned without a
  // global resort (the standard segmented-index trade); compaction
  // performs the off-line global re-sort
  protected val tables = Seq(DocArtifact.Table("postings", "doc_id", postingRowsOf,
    build = DocArtifact.sorted("tok"),
    append = DocArtifact.sorted("tok", SaveMode.Append),
    compact = DocArtifact.sorted("tok")))

  // df is additive and stats are a weighted average — both are exactly
  // recomputable from the artifact itself (every doc has >= 1 posting
  // row, dl is constant per doc), so a refresh never rereads the corpus
  override protected val derivedTables = Seq(
    DocArtifact.Derived("df", _.groupBy("tok").agg(count(lit(1)).as("df"))),
    DocArtifact.Derived("stats", _.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
      .coalesce(1)))

  /** Per-(doc, term) BM25 contribution served FROM an index at an explicit
    * path: filter the sorted postings to `terms` (row-group pruned scan),
    * broadcast-join the term df rows and the single stats row — the same
    * Lucene-smoothed formula as [[graft.operators.Retrieval.bm25Contrib]],
    * over identical integer inputs. Returns (id, c).
    */
  def bm25ContribFromIndexAt(spark: SparkSession, path: String, terms: Seq[String],
                             k1: Double = graft.operators.Retrieval.DefaultK1,
                             b: Double = graft.operators.Retrieval.DefaultB): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val tf = tableAt(spark, path, "postings").filter(col("tok").isin(terms: _*))
    val df = derivedAt(spark, path, "df").filter(col("tok").isin(terms: _*))
    tf.join(broadcast(df), "tok").crossJoin(broadcast(derivedAt(spark, path, "stats")))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .select(col("doc_id").as("id"), (col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))).as("c"))
  }

  /** [[bm25ContribFromIndexAt]] over the fixture's ensured index. */
  def bm25ContribFromIndex(spark: SparkSession, sfDir: String, terms: Seq[String],
                           k1: Double = graft.operators.Retrieval.DefaultK1,
                           b: Double = graft.operators.Retrieval.DefaultB): DataFrame =
    bm25ContribFromIndexAt(spark, ensure(spark, sfDir), terms, k1, b)
}
