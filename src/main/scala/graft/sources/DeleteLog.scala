package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-artifact DELETE JOURNAL — the delete axis of the catch-up reshard's
  * delta replay (the append axis needs no log: every data-table row carries
  * its write's `seq`, [[graft.operators.IndexKind.journal]]).
  *
  * A delete that lands during the catch-up window only REMOVES an id from
  * the logical view, and the tombstone sidecar alone cannot witness it
  * across a mid-window compact (the physical apply CLEARS it — the id would
  * silently resurrect in the new generation). The journal keeps the removal
  * replayable at cost ∝ deletes: [[record]] appends each delete batch under
  * its own seq axis to `path/appendlog_del` (the directory name predates
  * this object and is kept, so existing artifacts keep their journals).
  *
  * Completeness is the caller's [[Tombstones.generation]] check: every
  * physical apply (compact, retrain) bumps the generation and [[clear]]s
  * this journal, so while the generation a snapshot recorded is unchanged
  * the journal holds every delete since that snapshot — an absent journal
  * then means "no deletes", never "cleared".
  */
object DeleteLog {

  private def dir(path: String) = s"$path/appendlog_del"

  /** Current journal watermark: the seq of the LAST recorded delete batch
    * (−1 when no journal exists — the same convention the append axis
    * uses for an absent qerr). A snapshot captures this alongside
    * [[Tombstones.generation]]; [[since]] that watermark is then exactly
    * the window's deletes.
    */
  def watermark(spark: SparkSession, path: String): Long = {
    if (!Fs.exists(spark, dir(path))) return -1L
    val row = Fs.readParquet(spark, dir(path)).agg(max(col("seq"))).head()
    if (row.isNullAt(0)) -1L else row.getLong(0) // crash-left empty dir
  }

  /** Journal one delete batch (`ids`: one vec_id column) under the
    * caller's writer lease. Journal-FIRST relative to the tombstone
    * sidecar write: a crash in between leaves a journal row whose
    * tombstone never landed — the replay then forwards a SURPLUS
    * tombstone (hides an id the retried delete was about to hide anyway);
    * the reverse order could silently lose a removal, the unrecoverable
    * direction.
    */
  def record(spark: SparkSession, path: String, ids: DataFrame): Unit =
    ids.toDF("vec_id").distinct().withColumn("seq", lit(watermark(spark, path) + 1))
      .coalesce(1) // delete batches are takedown-sized by contract
      .write.mode("append").parquet(dir(path))

  /** The ids deleted after `watermark` (none when nothing was recorded
    * since). Complete only while the generation the watermark was taken
    * under is unchanged.
    */
  def since(spark: SparkSession, path: String, watermark: Long): Option[DataFrame] =
    if (this.watermark(spark, path) <= watermark) None
    else Some(Fs.readParquet(spark, dir(path)).filter(col("seq") > watermark).select("vec_id"))

  /** Drop the journal: a compact/retrain rewrote the corpus and applied
    * pending tombstones physically, so its rows are absorbed into the new
    * baseline.
    */
  def clear(spark: SparkSession, path: String): Unit =
    Fs.deleteRecursively(spark, dir(path))
}
