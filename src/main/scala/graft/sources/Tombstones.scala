package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tombstone-based DELETION for the artifact stores — the missing third
  * lifecycle verb (build/append/…/delete). A training-data pipeline must
  * propagate removals (takedowns, right-to-be-forgotten, contaminated
  * docs) through every derived index without rewriting 100 TB per
  * request; the standard answer is the LSM one:
  *
  *   - [[add]] appends the doc ids to an append-only `_deletes` sidecar
  *     (cost ∝ deleted ids — no table rewrite);
  *   - readers [[applyTo]] the sidecar as an anti-join (a logical delete,
  *     visible immediately and crash-safe: the sidecar is append-only);
  *   - COMPACTION applies the tombstones physically (the rewritten
  *     version simply omits the rows) and [[clear]]s the sidecar.
  *
  * Ordering is crash-safe without coordination: compaction publishes the
  * clean version FIRST, then clears — a crash in between leaves
  * tombstones that anti-join nothing (a no-op), never resurrected rows.
  *
  * Semantics until compaction: a tombstoned id stays deleted — appends
  * treat physically-present ids as existing (raw reads), so re-adding a
  * deleted document requires a compact first (documented on each store's
  * delete). This avoids the generation-tracking complexity of mixing a
  * tombstone with newer live rows for the same id.
  */
object Tombstones {

  // NOT underscore-prefixed: Spark's file listing treats `_`/`.`-prefixed
  // paths as hidden metadata and silently ignores their files
  private def dir(path: String) = s"$path/tombstones"
  private def genFile(path: String) = s"$path/tombstones.GEN"

  /** Monotone PHYSICAL-APPLY generation: how many times this artifact's
    * tombstones were applied physically and [[clear]]ed (compactions,
    * retrain rewrites). Observers that snapshot an artifact and later
    * reconcile against it (the catch-up reshard) compare generations: an
    * unchanged generation proves no mid-window compact silently turned
    * pending tombstones into physical absences — the one transition the
    * sidecar itself cannot witness (the apply CLEARS it). 0 before any
    * apply ever ran.
    */
  def generation(path: String): Long =
    Versioned.metaBackend.readString(genFile(path))
      .flatMap(_.trim.toLongOption).getOrElse(0L)

  /** Append `ids` (a one-column frame of doc ids) to the sidecar. */
  def add(spark: SparkSession, path: String, ids: DataFrame): Unit =
    ids.toDF("doc_id").distinct().coalesce(1)
      .write.mode("append").parquet(dir(path))

  /** The tombstoned ids, if any ([None] when no delete ever ran). */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    if (!Fs.exists(spark, dir(path))) None
    else Some(Fs.readParquet(spark, dir(path)))

  /** Anti-join `df` against the sidecar on `idCol` (no-op without one).
    * Column order is preserved — a using-column join moves the key first,
    * which would silently change the frame shape for positional consumers.
    */
  def applyTo(spark: SparkSession, path: String, df: DataFrame,
              idCol: String): DataFrame =
    read(spark, path) match {
      case Some(t) =>
        df.join(t.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*)
      case None => df
    }

  /** Drop the sidecar (after a compaction physically applied it) and bump
    * the [[generation]]. Gen-first: a crash between the bump and the drop
    * leaves a bumped gen with pending tombstones — observers then
    * conservatively treat the window as compacted (a fallback
    * reconciliation, never a resurrection); the reverse order could bless
    * a sidecar that no longer witnesses the rows the apply removed.
    */
  def clear(spark: SparkSession, path: String): Unit = {
    Versioned.metaBackend.writeAtomic(genFile(path),
      (generation(path) + 1).toString)
    Fs.deleteRecursively(spark, dir(path))
  }
}
