package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A DOCUMENT ARTIFACT: a build-once, incrementally maintained set of
  * document-keyed tables derived from a (doc_id, text) corpus — the one
  * lifecycle behind [[ShingleStore]], [[MinhashStore]], [[PostingStore]]
  * and [[SubstrStore]], the engine-side counterpart of the reference's
  * one index with one lifecycle (create-or-update, insert-or-skip on a
  * key, upsert, count — db_utils.py:93-110,135-146,169-189). Each store
  * supplies only its FORMAT: its base tables (how a document becomes rows,
  * how those rows are written) and its derived tables (what is aggregated
  * from them). Every verb is written once here.
  *
  * Artifact layout: `path/<table>` for every base and derived table, each
  * behind the [[Versioned]] pointer protocol (appends land inside the
  * current version, compaction and refreshes publish a new one with one
  * atomic pointer flip — readers always see a complete table), a
  * `tombstones` sidecar ([[Tombstones]]) and a `_SUCCESS` marker. The
  * artifact sits inside a fingerprint-pathed directory
  * ([[PhysicalLayout.ensureDir]]) so a regenerated corpus rebuilds instead
  * of serving stale rows.
  *
  * Derived tables are refreshed from the FIRST base table's tombstoned
  * rows and stamped with that table's row count as their watermark: a
  * recorded watermark that no longer matches the base count means a crash
  * landed between an append and the refresh (or the refresh was deferred),
  * and the checked read ([[derivedAt]]) repairs it before serving.
  *
  * Lifecycle contract: SINGLE WRITER per artifact (enforced by
  * [[Versioned.withWriterLease]] on every mutating verb); readers are
  * unrestricted. Append-only corpus: a CHANGED document is not re-derived
  * by [[append]] — route changes through delete + compact + append, as
  * with any segmented index.
  *
  * @param RootConf  conf key overriding the artifact root (default: the
  *                  system tmpdir + `rootDir`)
  * @param rootDir   directory name of the default root
  * @param prefix    layout version prefix of each artifact directory: it
  *                  keys the on-disk layout, so an artifact of an older
  *                  layout is never misread
  */
abstract class DocArtifact(val RootConf: String, rootDir: String, prefix: String) {

  import DocArtifact._

  /** Base tables in publication order. The first one carries the derived
    * watermark and the compaction trigger.
    */
  protected def tables: Seq[Table]

  /** Derived tables, refreshed from the first base table's rows. */
  protected def derivedTables: Seq[Derived] = Nil

  private def base(name: String): Table =
    tables.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"no base table $name (has ${tables.map(_.name).mkString(", ")})"))

  /** The artifact directory over the fixture at `sfDir`. */
  def path(spark: SparkSession, sfDir: String): String = {
    val root = spark.conf.getOption(RootConf)
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/$rootDir")
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      PhysicalLayout.sourceTag(sfDir, "documents")
    s"$root/$prefix$tag"
  }

  /** Build the artifact from any (doc_id, text) frame into `dir`: every
    * base table in order, then the derived tables over the just-written
    * rows (one parquet read, not a second pass over the corpus).
    * `blockSize` is the row-group size of sorted (probe-pruned) tables:
    * production by default; tests pass [[PhysicalLayout.TestBlockSize]]
    * to observe multi-group pruning at fixture scale.
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
            blockSize: Int = PhysicalLayout.ProductionBlockSize): Unit =
    Versioned.withWriterLease(dir) {
      // watermark −1: base tables are self-versioned for atomic compaction
      // re-pointing; staleness is defined only for DERIVED tables
      tables.foreach { t =>
        Versioned.publish(dir, t.name, -1L) { v =>
          t.build(t.rowsOf(docs), v, Layout(blockSize))
        }
      }
      refreshDerived(spark, dir)
      Versioned.metaBackend.createMarker(s"$dir/_SUCCESS")
    }

  /** Idempotent build over the `documents` fixture: the first caller pays
    * one corpus pass; later callers — in any JVM — read the published
    * parquet.
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val p = path(spark, sfDir)
    PhysicalLayout.ensureDir(p) { tmp =>
      build(spark, Tables.load(spark, sfDir, "documents"), tmp)
    }
    p
  }

  /** Base table `name`'s current version at an explicit path, with any
    * pending tombstones applied (a [[delete]] is visible immediately).
    */
  def tableAt(spark: SparkSession, path: String, name: String): DataFrame = {
    val t = base(name)
    Tombstones.applyTo(spark, path, Versioned.read(spark, path, t.name), t.id)
  }

  /** Derived table `name`'s current version, watermark-checked: a
    * recorded watermark that does not match the first base table's count
    * is repaired (one pass over persisted rows) before serving. The count
    * is fingerprint-cached ([[RowCountCache]]): the staleness decision
    * runs every read, the count only when the table changed.
    */
  def derivedAt(spark: SparkSession, path: String, name: String): DataFrame = {
    require(derivedTables.exists(_.name == name), s"no derived table $name")
    val first = tables.head.name
    val count = RowCountCache.countFor(path, first) {
      tableAt(spark, path, first).count()
    }
    if (!Versioned.readPointer(path, name).exists(_.watermark == count))
      try refreshDerived(spark, path)
      catch {
        // an ACTIVE writer holds the lease and its own refresh is in
        // flight — reads don't fail on maintenance contention. A CRASHED
        // writer's unexpired lease also lands here: a reader may serve the
        // previous (stale-but-complete) version for up to the lease TTL,
        // after which expiry takeover lets the next read repair.
        case _: Versioned.ConcurrentWriterException => ()
      }
    Versioned.read(spark, path, name)
  }

  /** [[tableAt]] over the fixture's ensured artifact. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    tableAt(spark, ensure(spark, sfDir), name)

  /** [[derivedAt]] over the fixture's ensured artifact. */
  def derived(spark: SparkSession, sfDir: String, name: String): DataFrame =
    derivedAt(spark, ensure(spark, sfDir), name)

  /** INCREMENTAL maintenance: append the rows of documents not yet in the
    * artifact, then refresh the derived tables from the artifact itself
    * (cost ∝ new documents plus one pass over persisted rows, never the
    * corpus). An absent store bootstraps with [[build]] (the first
    * streamed micro-batch creates it). build(A) + append(B) ==
    * build(A ∪ B), and redelivery is a no-op (ArtifactStoresSpec).
    *
    * `deferDerived`: leave the derived refresh to the first checked read.
    * Safe BECAUSE of the watermark protocol — a deferred derived table is
    * indistinguishable from a crash-stale one, and both are repaired
    * before serving; high-frequency appenders (the streaming maintenance
    * sink) use it to keep per-batch cost proportional to batch size.
    */
  def append(spark: SparkSession, path: String, newDocs: DataFrame,
             blockSize: Int = PhysicalLayout.ProductionBlockSize,
             deferDerived: Boolean = false): Unit =
    Versioned.withWriterLease(path) {
      if (Versioned.readPointer(path, tables.head.name).isEmpty)
        build(spark, newDocs, path, blockSize)
      else {
        appendBase(spark, path, newDocs, blockSize)
        if (!deferDerived) refreshDerived(spark, path)
      }
    }

  /** The base-table appends alone, WITHOUT the derived refresh —
    * private[sources] so the crash-recovery spec can stop between the two
    * steps. Each table anti-joins the new documents against its OWN raw
    * ids: after a crash between two tables' writes, a retry keyed on one
    * shared table would re-append the other's rows; per-table keying
    * converges. The RAW read counts a tombstoned id as present, so a
    * deleted document cannot be re-appended before a compact clears it.
    */
  private[sources] def appendBase(spark: SparkSession, path: String,
                                  newDocs: DataFrame,
                                  blockSize: Int = PhysicalLayout.ProductionBlockSize): Unit =
    tables.foreach { t =>
      val cur = s"$path/${Versioned.readPointer(path, t.name).get.dir}"
      val present = spark.read.parquet(cur).select(col(t.id).as("doc_id")).distinct()
      t.append(t.rowsOf(newDocs.join(present, Seq("doc_id"), "left_anti")), cur,
        Layout(blockSize))
    }

  /** DELETE documents: tombstone their ids (`docIds`, one column; cost ∝
    * deleted ids, no table rewrite), immediately visible to every reader,
    * then refresh the derived tables over the surviving rows. The next
    * [[compact]] applies the deletion physically. A tombstoned id stays
    * deleted until a compact clears the sidecar — re-adding a deleted
    * document requires compacting first.
    */
  def delete(spark: SparkSession, path: String, docIds: DataFrame): Unit =
    Versioned.withWriterLease(path) {
      Tombstones.add(spark, path, docIds)
      refreshDerived(spark, path)
    }

  /** COMPACTION: rewrite every base table from its tombstoned rows (into
    * `partitions` files; sorted tables restore their global sort) behind
    * one atomic re-point per table — readers mid-scan keep the previous
    * version. N appends leave N file sets whose per-file open cost (and,
    * for sorted tables, per-segment row-group ranges) erodes every scan;
    * the rewrite restores the layout of a fresh build. Publish-then-clear:
    * a crash before the clear leaves tombstones that anti-join nothing.
    * Derived tables are untouched — the rewrite preserves the
    * post-tombstone row set their watermark was stamped against.
    */
  def compact(spark: SparkSession, path: String,
              blockSize: Int = PhysicalLayout.ProductionBlockSize,
              partitions: Int = DefaultPartitions): Unit =
    Versioned.withWriterLease(path) {
      tables.foreach { t =>
        val rows = tableAt(spark, path, t.name)
        Versioned.publish(path, t.name, -1L) { v =>
          t.compact(rows, v, Layout(blockSize, partitions))
        }
      }
      Tombstones.clear(spark, path)
    }

  /** Part-file count of the first base table's current version — the
    * fragmentation signal (one driver-side listing, no job).
    */
  def fileCount(path: String): Int =
    Versioned.partFileCount(path, tables.head.name)

  /** SELF-SCHEDULING compaction: [[compact]] only when [[fileCount]]
    * exceeds `maxFiles`, so a long-running maintenance loop (the
    * streaming sink calls this per batch) bounds its own fragmentation;
    * between triggers the check is one listing. All base tables fragment
    * in lockstep (one append each per batch). Returns whether a
    * compaction ran.
    */
  def compactIfNeeded(spark: SparkSession, path: String, maxFiles: Int = 16,
                      blockSize: Int = PhysicalLayout.ProductionBlockSize,
                      partitions: Int = DefaultPartitions): Boolean = {
    val fragmented = fileCount(path) > maxFiles
    if (fragmented) compact(spark, path, blockSize, partitions)
    fragmented
  }

  // every derived version of one refresh carries the SAME watermark (the
  // base count of one snapshot)
  private def refreshDerived(spark: SparkSession, path: String): Unit =
    if (derivedTables.nonEmpty) Versioned.withWriterLease(path) {
      val rows = tableAt(spark, path, tables.head.name)
      val watermark = rows.count()
      derivedTables.foreach { d =>
        Versioned.publish(path, d.name, watermark)(d.of(rows).write.parquet(_))
      }
    }
}

object DocArtifact {

  /** File count of a compaction rewrite and of a sorted write. */
  val DefaultPartitions = 4

  /** How a write lays out its files: the row-group size (sorted tables)
    * and the file count (compaction rewrites, sorted tables).
    */
  final case class Layout(blockSize: Int, partitions: Int = DefaultPartitions)

  /** Writes `rows` to a directory. */
  type Write = (DataFrame, String, Layout) => Unit

  val plain: Write = (rows, dir, _) => rows.write.parquet(dir)
  val appended: Write = (rows, dir, _) => rows.write.mode("append").parquet(dir)
  val repartitioned: Write = (rows, dir, l) => rows.repartition(l.partitions).write.parquet(dir)

  /** [[PhysicalLayout.writeSorted]] by `sortCol`. */
  def sorted(sortCol: String, mode: SaveMode = SaveMode.Overwrite): Write =
    (rows, dir, l) => PhysicalLayout.writeSorted(rows, sortCol, dir, l.partitions,
      l.blockSize, mode)

  /** A base table: its pointer name, the column holding the document id,
    * the rows a (doc_id, text) frame contributes, and how a build, an
    * append (into the current version) and a compaction write them.
    */
  final case class Table(name: String, id: String, rowsOf: DataFrame => DataFrame,
                         build: Write = plain, append: Write = appended,
                         compact: Write = repartitioned)

  /** A derived table: its pointer name and the frame it aggregates from
    * the first base table's tombstoned rows.
    */
  final case class Derived(name: String, of: DataFrame => DataFrame)

  /** The four document artifacts, each with the subdirectory name a
    * maintained index root gives it.
    */
  def all: Seq[(String, DocArtifact)] = Seq("postings" -> PostingStore,
    "shingles" -> ShingleStore, "minhash" -> MinhashStore, "substr" -> SubstrStore)
}
