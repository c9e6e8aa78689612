package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build-once shingle/posting artifact for the dedup family — a
  * [[DocArtifact]] (the lifecycle shared with the other document stores):
  * a real corpus maintains ONE shingle table (written at ingest,
  * incrementally appended), and every set-similarity query probes it;
  * rebuilding the normalize→split→shingle→explode string pipeline inside
  * each query invocation was round 5's x02/x07 shared floor (~2.4 s of
  * every run at sf0.1).
  *
  * Artifact layout:
  *   `rows` — (doc_id, sh): distinct 3-word shingles of the lowercased
  *            normalized text, one row per (doc, shingle);
  *   `df`   — derived (sh, df): global document frequency per shingle —
  *            the input to both the boilerplate cap and PPJoin's
  *            rarest-first prefix rank, precomputed once.
  *
  * At 100 TB the rows table would be written bucketed by `sh` (shuffle-free
  * posting self-joins) and maintained incrementally next to the chunk
  * store. Rows joins shuffle on `sh` with no range probes, so compaction
  * only fights the many-small-files tax (a plain repartitioned rewrite).
  * The DuckDB oracles keep recomputing shingles from `documents` — the
  * artifact is a plan-level materialization, not a semantic change.
  */
object ShingleStore extends DocArtifact("spark.graft.shingles.dir", "graft_shingles",
  // v3 layout (EVERY table pointer-versioned)
  "sh3_") {

  /** (doc_id, sh) shingle rows computed from a documents frame — pure
    * Catalyst (codegen), matching TextKernel.shingles semantics: docs
    * shorter than 3 tokens contribute their whole normalized text as one
    * shingle; empty docs contribute nothing. Single definition shared by
    * the store build and any caller needing un-persisted shingles.
    */
  def shingleRowsOf(docs: DataFrame): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val base = graft.operators.ScaleOps.spread(docs)
      .select(col("doc_id"), norm.as("norm"))
      .filter(length(col("norm")) > 0)
      .withColumn("toks", split(col("norm"), " "))
    val grams = when(size(col("toks")) < 3, array(col("norm")))
      .otherwise(transform(sequence(lit(1), size(col("toks")) - 2), i =>
        concat_ws(" ",
          element_at(col("toks"), i),
          element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2))))
    base.select(col("doc_id"), explode(array_distinct(grams)).as("sh"))
  }

  protected val tables = Seq(DocArtifact.Table("rows", "doc_id", shingleRowsOf))

  override protected val derivedTables = Seq(DocArtifact.Derived("df",
    _.groupBy("sh").agg(count(lit(1)).as("df"))))
}
