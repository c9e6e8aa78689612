package graft.sources

import graft.operators.NearDup
import graft.text.TextKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build-once MinHash artifact for the LSH near-dup family — a
  * [[DocArtifact]]: signatures are a pure deterministic function of the
  * corpus, so a real pipeline computes them ONCE at ingest and every
  * near-dup job joins the persisted band table instead of re-hashing every
  * shingle of every document per invocation.
  *
  * Artifact layout (no derived table — signatures are per-document):
  *   `bands` — (id, band, bucket): the 16x4 LSH banding of every
  *             document's 64-permutation minhash signature
  *             (NearDup.minhashBuckets output, verbatim);
  *   `sets`  — (tid, tsh): each document's SORTED distinct shingle
  *             array — the exact-Jaccard verify input, so the verify
  *             stage reads arrays instead of re-shingling text.
  *
  * Per-table append keying matters here: a duplicated band row would
  * corrupt x05's bucket counts. Oracles are untouched: they recompute
  * signatures from `documents` in SQL (x03/x05/x06/x10), which is
  * precisely what makes the artifact safe — any build/probe skew breaks
  * a hash compare.
  */
object MinhashStore extends DocArtifact("spark.graft.minhash.dir", "graft_minhash",
  // v2 layout (pointer-versioned tables)
  "mh2_") {

  /** The (tid, tsh) sorted verify sets of a (doc_id, text) frame. */
  private def setsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.ScaleOps.spread(
      docs.select(col("doc_id").cast("long").as("tid"), col("text"))
        .as[(Long, String)])
      .map { case (id, text) =>
        (id, TextKernel.shingles(text, NearDup.ShingleSize).toArray.sorted)
      }
      .toDF("tid", "tsh")
  }

  protected val tables = Seq(
    DocArtifact.Table("bands", "id", docs => NearDup.minhashBuckets(docs.sparkSession, docs)),
    DocArtifact.Table("sets", "tid", setsOf))
}
