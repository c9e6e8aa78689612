package graft.sources

import graft.schemas.Schemas
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The engine-side chunk store: idempotent declaration (A21 — the reference
  * runs create-or-update index DDL on every client init, db_utils.py:48,
  * 120-127) and merge-on-key writes (A14).
  *
  * LAYOUT — [[Versioned]] pointer discipline (round 18; the two-rename
  * compact swap this replaces needed a read-quiesced window, a flat-local
  * restriction on the publish itself, and left a crash branch that could
  * strand the store in `.precompact`):
  *
  *   root/data.CURRENT — atomic pointer to the serving version dir;
  *   root/data-vN-…/   — parquet (flat or hive-partitioned);
  *                       [[upsert]] APPENDS files into the current
  *                       version, [[compact]] publishes a rewritten next
  *                       version behind one atomic pointer flip
  *                       (keep-previous GC — a reader that resolved the
  *                       pointer just before the flip keeps its files),
  *                       portable to every MetaBackend (posix / hadoop /
  *                       object-store);
  *   root.ts/          — tombstone sidecar anchor (a SIBLING: the data
  *                       versions live under the root, and the sidecar
  *                       must survive whole-version rewrites).
  *
  * Readers resolve through [[read]] (logical view) or [[readPhysical]];
  * at cluster scale the same calls can target a table format with
  * transactional upsert — the API is the boundary, not the storage.
  */
object ChunkStore {

  private val DataName = "data"

  /** The serving version's parquet directory, if any version published. */
  private def currentDir(path: String): Option[String] =
    Versioned.readPointer(path, DataName).map(c => s"$path/${c.dir}")

  // The pointer watermark slot records the base-count a DERIVED table was
  // built from in the other stores; this store IS the base table, so the
  // slot is unused (0) — the pointer carries identity only.
  private val NoWatermark = 0L

  /** Idempotent "CREATE TABLE IF NOT EXISTS": ensures an empty store with
    * the canonical schema exists; re-running is a no-op (never truncates).
    */
  def ensure(spark: SparkSession, path: String): Unit =
    if (currentDir(path).isEmpty) Versioned.withWriterLease(path) {
      if (currentDir(path).isEmpty) { // re-check under the lease
        if (!path.contains("://")) new java.io.File(path).mkdirs()
        Versioned.publish(path, DataName, NoWatermark) { dir =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            Schemas.chunkStore)
            .write.mode(SaveMode.ErrorIfExists).parquet(dir)
        }
      }
    }

  /** A14 batch upsert: first-arrival merge on `keyCol` — rows whose key
    * already exists in the store are skipped (the reference's
    * skip-if-hash-exists insert, db_utils.py:131-146), new rows appended
    * into the current version directory. One anti-join instead of one
    * lookup per row. Holds the writer lease — serialized with [[compact]]
    * (an upsert racing a compact could otherwise append into the version
    * the compact is about to retire).
    *
    * `partitionBy` (e.g. `Seq("file_type")` or an ingest-date column) turns
    * the store into a hive-partitioned layout so downstream readers get
    * partition pruning — the 100 TB layout; empty = flat local layout. The
    * anti-join reads only the key column either way (column pruning).
    */
  def upsert(spark: SparkSession, batch: DataFrame, path: String,
             keyCol: String = "text_hash", partitionBy: Seq[String] = Nil): Unit =
    Versioned.withWriterLease(path) {
      val deduped = batch.dropDuplicates(keyCol)
        .select(Schemas.chunkStore.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      currentDir(path) match {
        case None =>
          // absent store → everything is fresh; publish v1 directly from
          // the batch (don't mix an empty flat marker into a partitioned
          // layout — partition discovery refuses mixed roots)
          if (!path.contains("://")) new java.io.File(path).mkdirs()
          Versioned.publish(path, DataName, NoWatermark) { dir =>
            val w = deduped.write.mode(SaveMode.ErrorIfExists)
            (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
              .parquet(dir)
          }
        case Some(dir) =>
          val existing = Fs.readParquet(spark, dir).select(keyCol).distinct()
          val fresh = deduped.join(existing, Seq(keyCol), "left_anti")
          val w = fresh.write.mode(SaveMode.Append)
          (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
            .parquet(dir)
      }
    }

  /** Tombstone anchor: a SIBLING of the store root — the sidecar must
    * survive version rewrites, and a `tombstones/` subdirectory inside
    * the root would be GC-ambiguous next to `data-vN` version dirs.
    */
  private def tsAnchor(path: String): String = s"$path.ts"

  /** The serving version's raw parquet — the PHYSICAL table (tombstoned
    * rows still present until [[compact]]). Loud on a store no
    * ensure/upsert ever created.
    */
  def readPhysical(spark: SparkSession, path: String): DataFrame =
    Fs.readParquet(spark, currentDir(path).getOrElse(throw new IllegalStateException(
      s"chunk store at $path has no published version (run ensure/upsert first)")))

  /** The LOGICAL store view: the physical table minus the [[Tombstones]]
    * sidecar [[delete]] writes. Readers that must see removals (serving,
    * exports, downstream pipelines) read through here; [[upsert]]'s
    * key anti-join deliberately keeps reading the PHYSICAL table, so a
    * deleted key cannot be re-upserted until a [[compact]] — the same
    * re-add-requires-compact contract as every other store's delete.
    */
  def read(spark: SparkSession, path: String, keyCol: String = "text_hash"): DataFrame =
    Tombstones.applyTo(spark, tsAnchor(path), readPhysical(spark, path), keyCol)

  /** DELETE chunks by key — the removal half of the A14 merge sink
    * (takedowns must propagate to the chunk store exactly like to every
    * derived index; the reference's own surface is insert-only,
    * db_utils.py:131-146, so removal is an engine extension, LSM-style):
    * append the keys to the tombstone sidecar (cost ∝ deletes),
    * [[read]] hides them immediately, [[compact]] applies physically.
    */
  def delete(spark: SparkSession, path: String, keys: DataFrame): Unit =
    Versioned.withWriterLease(path) { Tombstones.add(spark, tsAnchor(path), keys) }

  /** Physically apply pending tombstones and bound the small-file count:
    * publish the logical view as the NEXT version behind one atomic
    * pointer flip, then clear the sidecar — publish-then-clear, so a
    * crash in between leaves tombstones that anti-join nothing, never
    * resurrected rows; a crash mid-write leaves an orphan version dir
    * the next publication GCs, and the pointer never references an
    * incomplete version. Reader-safe with NO quiesced window: the
    * keep-previous GC retains the version a concurrent reader resolved
    * just before the flip. Flat layout only (this verb's rewrite does
    * not re-partition; a hive-partitioned 100 TB store compacts through
    * a table format's own OPTIMIZE).
    */
  def compact(spark: SparkSession, path: String, keyCol: String = "text_hash",
              partitions: Int = 4): Unit =
    Versioned.withWriterLease(path) {
      // flat-layout only, loudly: rewriting a hive-partitioned store
      // through this verb would silently FLATTEN it — downstream readers
      // lose partition pruning with no error anywhere
      val cur = currentDir(path).getOrElse(throw new IllegalStateException(
        s"chunk store at $path has no published version — nothing to compact"))
      val partitioned = Versioned.metaBackend.list(cur)
        .exists(e => e.isDir && e.name.contains("="))
      require(!partitioned,
        s"chunk store at $path is hive-partitioned; this compact would " +
          "flatten it — at that layout compact through the table format's " +
          "own rewrite (local flat stores only)")
      val clean = read(spark, path, keyCol)
        .select(Schemas.chunkStore.fieldNames.map(org.apache.spark.sql.functions.col): _*)
        .repartition(partitions)
      Versioned.publish(path, DataName, NoWatermark) { dir =>
        clean.write.mode(SaveMode.ErrorIfExists).parquet(dir)
      }
      Tombstones.clear(spark, tsAnchor(path))
    }
}
