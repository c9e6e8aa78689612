package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE sharded-index composition: S independent local indexes over a
  * disjoint hash partition of the corpus (FAISS's sharded indexes; the
  * shape Odyssey and REPOSE use — one generic partitioning layer over
  * interchangeable local indexes). The local index is an [[IndexKind]],
  * with two instances — [[ShardedIvf]] over [[IndexKind.Ivf]]
  * (full-precision shards: model + vectors + qerr) and [[ShardedPq]] over
  * [[IndexKind.Pq]] (encoded shards: coarse + codebooks + codes + qerr).
  * Every shard is a self-contained single-index artifact under
  * `path/shard=r`, so each per-shard verb (build, append, delete, probe,
  * calibrate, drift, retrain, compact) is the store's single-index verb
  * over the kind; what is about SHARDING has one body here:
  *
  *   - ROUTING: `shard = pmod(xxhash64(vec_id), S)` ([[Sharded.shardCol]])
  *     — disjoint and total, so probing every cell of every shard is
  *     exactly the brute-force answer, and appends and deletes route by
  *     the same hash.
  *   - `shards.META`: the S an artifact was built with, and the loud
  *     wrong-S guard ([[verifyShards]]) every verb runs.
  *   - BUILD ([[build]]): one tagging pass, S concurrent pruned per-shard
  *     builds; virgin paths build in place, rebuilds of a published path
  *     go through scratch siblings + POSIX rename so a mid-build failure
  *     leaves the old artifact serving.
  *   - APPEND / DELETE: hash-routed under the root's writer lease.
  *   - MAINTENANCE: the per-shard retrain sweep, [[compactShards]],
  *     [[compactShardsIfDeleted]].
  *   - CATCH-UP RESHARD ([[reshardCatchUpBuild]] / [[reshardCatchUpReplay]]):
  *     the snapshot watermarks (`catchup.META`, [[Sharded.CatchUp]]) and
  *     the delta replay, for both kinds; the kind supplies only a
  *     delta's full-precision [[payload]].
  *   - GROWTH: [[Sharded.grownShards]], the overflow-safe judgment every
  *     shard-count growth loop calls (the store's and `ShardedHome`'s).
  */
abstract class Sharded(val kind: IndexKind) {

  /** Compact one shard at its own cell count. */
  private[graft] def compactAt(spark: SparkSession, shardPath: String): Unit =
    graft.sources.VectorIndexStore.compact(spark, kind, shardPath,
      kind.cells(kind.loadModel(spark, shardPath)))

  /** The shard count recorded at build/reshard time, when the artifact
    * carries the `shards.META` sidecar.
    */
  def shardCount(path: String): Option[Int] =
    graft.sources.Versioned.metaBackend.readString(Sharded.shardsMetaFile(path))
      .flatMap(_.trim.toIntOption)

  /** Loud mismatch guard for every verb that pairs a root with a
    * caller-supplied S. Before the sidecar a mismatch was silent in both
    * directions: probing a 4-shard artifact with shards=3 drops shard 3's
    * candidates; appending with shards=5 routes vectors to a `shard=4`
    * directory no reader scans. No-op on sidecar-less (legacy) artifacts,
    * which trust the caller.
    */
  private[graft] def verifyShards(path: String, shards: Int): Unit =
    shardCount(path).foreach { s =>
      require(s == shards,
        s"sharded artifact at $path was built with S=$s but the caller " +
          s"passed shards=$shards — a wrong S silently drops shards from " +
          "probes or routes appends to unread directories")
    }

  /** Every shard's logical / physical rows as one plan. */
  private[graft] def logical(spark: SparkSession, path: String, shards: Int): DataFrame =
    Sharded.unionShards(path, shards)((_, p) => kind.logical(spark, p))

  private[graft] def physical(spark: SparkSession, path: String, shards: Int): DataFrame =
    Sharded.unionShards(path, shards)((_, p) => kind.physical(spark, p))

  /** Build S independent artifacts under `path/shard=r`: one tagging pass
    * over `vectors`, then per-shard builds from pruned partitions (a
    * `shard = r` filter is source-level partition pruning — no shard
    * rescans the corpus), [[Sharded.buildParallelism]] at a time (the
    * scheduler interleaves the concurrent jobs' stages across the
    * executors). Each shard sizes its own geometry: `nCellsPerShard`, or
    * `autoCells` of the shard's row count when <= 0 (counted once from
    * the tagged table). The tagged scratch is deleted after the last
    * shard publishes. Callers wanting idempotent atomic publication go
    * through the store's `ensureSharded*` entries.
    */
  def build(spark: SparkSession, vectors: DataFrame, path: String,
            shards: Int, nCellsPerShard: Int = -1): Unit = {
    require(shards >= 1, s"shards=$shards")
    // REBUILD of a path with published shards goes through a scratch
    // sibling + directory-rename cutover so a mid-build failure leaves
    // the old artifact fully serving. Directory rename is a POSIX
    // primitive (the object-store meta plane deliberately has none), so
    // an in-place rebuild on remote storage is refused loudly — remote
    // deployments publish at a NEW root, which needs no rename at all.
    // A VIRGIN path builds directly into `shard=r`. Decided BEFORE the
    // corpus-sized tagging write: a refusal must cost S existence
    // checks, not a corpus round trip.
    val meta = graft.sources.Versioned.metaBackend
    val rebuild = (0 until shards).exists(r => meta.exists(s"$path/shard=$r"))
    if (rebuild) require(!path.contains("://"),
      s"in-place rebuild of $path needs a POSIX directory rename for its " +
        "crash-safe cutover; on remote storage build at a NEW root " +
        "(reshard / ensure*) or delete the artifact first")
    val taggedDir = s"$path/tagged"
    // overwrite: a failed prior build's scratch must not fail the retry
    vectors.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("shard", Sharded.shardCol(shards))
      .repartition(col("shard")) // shard-clustered: one file per shard dir
      .write.mode("overwrite").partitionBy("shard").parquet(taggedDir)
    try {
      val tagged = spark.read.parquet(taggedDir)
      // one column-pruned pass gives every shard's cardinality
      val counts: Map[Int, Long] = tagged.groupBy("shard").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(shards, Sharded.buildParallelism(spark)),
        (r: Runnable) => { val t = new Thread(r, "graft-shard-build"); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      var succeeded = false
      try {
        // Crash atomicity of the rebuild CUTOVER is per-shard (a crash
        // between renames leaves mixed generations — each a valid
        // artifact, but membership may straddle corpora; the sidecar
        // invalidation below keeps verifyShards from blessing that
        // state); callers needing all-or-nothing publication use the
        // store's ensure* entries, whose tmp-dir protocol wraps this.
        val builds = (0 until shards).map { r =>
          Future {
            val target =
              if (rebuild) s"$path/shard=$r.building" else s"$path/shard=$r"
            // a failed prior attempt's leftovers must not fail the retry
            // (the per-index parquet writes are ErrorIfExists)
            meta.deleteRecursively(target)
            val n = counts.getOrElse(r, 0L)
            graft.sources.VectorIndexStore.buildAt(spark, kind, target,
              tagged.filter(col("shard") === r).drop("shard"),
              if (nCellsPerShard > 0) nCellsPerShard
              else graft.sources.VectorIndexStore.autoCells(n))
          }
        }
        Await.result(Future.sequence(builds), Duration.Inf)
        if (rebuild) {
          // the sidecar must not bless a mixed-generation layout if this
          // cutover crashes midway: drop it FIRST (absent sidecar = the
          // legacy trust-the-caller mode), restamp only after the new
          // generation is fully in place
          meta.deleteRecursively(Sharded.shardsMetaFile(path))
          for (r <- 0 until shards) {
            meta.deleteRecursively(s"$path/shard=$r")
            val ok = new java.io.File(s"$path/shard=$r.building")
              .renameTo(new java.io.File(s"$path/shard=$r"))
            if (!ok) throw new IllegalStateException(
              s"could not publish shard $r of $path (rename failed)")
          }
        }
        // a rebuild at a smaller S must not leave a larger prior build's
        // tail shards lying around as unread directories
        meta.list(path)
          .filter(e => e.isDir && e.name.matches("shard=\\d+"))
          .map(_.name.stripPrefix("shard=").toInt).filter(_ >= shards)
          .foreach(r => meta.deleteRecursively(s"$path/shard=$r"))
        meta.writeAtomic(Sharded.shardsMetaFile(path), shards.toString)
        succeeded = true
      } finally {
        // on failure, Await rethrows the FIRST error while sibling shard
        // builds may still be reading the scratch — quiesce them before
        // the outer finally deletes it (bounded: a wedged sibling must
        // not hang cleanup forever)
        pool.shutdown()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        // a failed build must neither leak corpus-sized copies nor block
        // the retry: a failed REBUILD leaves scratch siblings (the
        // published shards are untouched), and a failed VIRGIN build
        // leaves partial shard=r dirs — on a remote path those would
        // read as "published shards" next time and brick the retry on
        // the rename refusal. Both cleaned here; no-ops on success.
        if (rebuild)
          (0 until shards).foreach(r => meta.deleteRecursively(s"$path/shard=$r.building"))
        else if (!succeeded)
          (0 until shards).foreach(r => meta.deleteRecursively(s"$path/shard=$r"))
      }
    } finally
      // scratch: on success every shard's vectors live inside its own
      // artifact; on a shard-build failure a corpus-sized copy must not
      // leak (and must not mask the root cause on retry)
      meta.deleteRecursively(taggedDir)
  }

  /** Hash-route `newVectors` to their shards and append each slice
    * through the kind's single-index append (existing-geometry
    * assignment or encode, vec_id anti-join idempotence, error
    * watermark — under the shard's own writer lease). S filtered passes
    * over the BATCH, not the corpus — append batches are ingest-sized by
    * contract. Returns the rows written (ids already present are not).
    */
  def append(spark: SparkSession, path: String, shards: Int,
             newVectors: DataFrame): Long =
    routed(path, shards,
      newVectors.select(col("vec_id"), col("label"), col("embedding")))(
      graft.sources.VectorIndexStore.append(spark, kind, _, _)).sum

  /** DELETE: hash-route the ids (one column, vec_id) to their OWNING
    * shards and tombstone each slice through the kind's single-index
    * delete — only shards owning a deleted id pay a sidecar write (cost
    * ∝ deletes, not S). Visible immediately (every reader anti-joins the
    * sidecar — deleted codes never occupy shortlist slots), physical at
    * the shard's next compact or retrain; re-adding an id requires that
    * compact first.
    */
  def delete(spark: SparkSession, path: String, shards: Int,
             ids: DataFrame): Unit =
    routed(path, shards, ids.toDF("vec_id").distinct())(
      graft.sources.VectorIndexStore.delete(spark, kind, _, _))

  /** Routing under the sharded ROOT's writer lease: serializes appenders,
    * deleters, retrains and the leased reshard, so two batches cannot
    * interleave their per-shard passes and a delete cannot land between
    * a reshard's corpus read and its cutover. Returns each non-empty
    * slice's `applyAt` result.
    */
  private def routed[T](path: String, shards: Int, rows: DataFrame)(
      applyAt: (String, DataFrame) => T): Seq[T] =
    graft.sources.Versioned.withWriterLease(path) {
      verifyShards(path, shards)
      val tagged = rows.withColumn("shard", Sharded.shardCol(shards))
      (0 until shards).flatMap { r =>
        val slice = tagged.filter(col("shard") === r).drop("shard")
        if (slice.isEmpty) None else Some(applyAt(s"$path/shard=$r", slice))
      }
    }

  /** The per-shard drift check + recall-gated retrain sweep: each shard's
    * qerr series is judged against ITS baseline, so a drifted shard
    * retrains its own k_s cells while quiet shards cost a one-file qerr
    * read. Sequential by design: retrain is rare scheduled maintenance
    * and each retrain is itself a cluster-saturating job. `retrainAt`
    * gets (r, shard path). Returns the number of shards retrained.
    *
    * `continueOnGateFailure`: a shard whose candidate FAILS ITS RECALL
    * GATE (the stale-but-valid geometry keeps serving) aborts the sweep
    * when false — the offline default, a loud operator signal. A
    * STREAMING sink passes true so one persistently gate-failing shard
    * cannot starve later drifted shards forever; the failure is logged
    * and the next batch retries that shard.
    */
  protected def retrainSweep(path: String, shards: Int,
                             continueOnGateFailure: Boolean)(
      retrainAt: (Int, String) => Boolean): Int = {
    verifyShards(path, shards)
    (0 until shards).count { r =>
      try retrainAt(r, s"$path/shard=$r")
      catch {
        case e: graft.sources.VectorIndexStore.RetrainRecallGateFailed
            if continueOnGateFailure =>
          System.err.println(
            s"[graft] shard $r retrain skipped (recall gate): ${e.getMessage}")
          false
      }
    }
  }

  /** Per-shard small-file COMPACTION: appends fragment each shard's cell
    * directories exactly like a single index's, so the same
    * pointer-published rewrite applies per shard, under the shard's
    * writer lease; readers mid-probe keep their resolved version.
    */
  def compactShards(spark: SparkSession, path: String, shards: Int): Unit = {
    verifyShards(path, shards)
    (0 until shards).foreach(r => compactAt(spark, s"$path/shard=$r"))
  }

  /** Per-shard tombstone-fraction compaction sweep: only shards whose
    * sidecar crossed the fraction pay a rewrite — after a skewed takedown
    * (one customer's corpus, one source's documents) this compacts
    * exactly the shards that need it. Returns the number compacted.
    */
  def compactShardsIfDeleted(spark: SparkSession, path: String, shards: Int,
                             maxDeletedFraction: Double = 0.1): Int = {
    verifyShards(path, shards)
    (0 until shards).count(r =>
      graft.sources.VectorIndexStore.compactIfDeleted(spark, kind,
        s"$path/shard=$r", maxDeletedFraction))
  }

  /** The full-precision (vec_id, label, embedding) rows of `rows` — old
    * shards' logical data rows — the one thing a reshard needs from the
    * kind: IVF rows carry their own vectors; PQ codes fetch theirs from
    * the full-precision store `fp`, pruned to the window above `fpw`
    * when the snapshot recorded that store's watermark.
    */
  protected def payload(spark: SparkSession, rows: DataFrame,
                        fp: Option[String], fpw: Option[Long]): DataFrame

  /** RESHARD core: build the S′ composition at a NEW root `newPath` (the
    * shard count is part of the artifact identity; an in-place cutover
    * would break readers holding the old S) from the [[payload]] of the
    * old root's logical rows; a reused target root drops its calibration
    * sidecar (sized for another S).
    */
  protected def rebuildAt(spark: SparkSession, oldPath: String, oldShards: Int,
                          newPath: String, newShards: Int, nCellsPerShard: Int,
                          fp: Option[String]): Unit = {
    require(newPath != oldPath, "reshard builds at a NEW root (shard count is part " +
      "of the artifact identity; in-place cutover would break readers holding the old S)")
    verifyShards(oldPath, oldShards)
    build(spark, payload(spark, logical(spark, oldPath, oldShards), fp, None),
      newPath, newShards, nCellsPerShard)
    graft.sources.Versioned.metaBackend.deleteRecursively(s"$newPath/${kind.cal.file}")
  }

  /** CATCH-UP reshard, phase 1 of 2 — the bounded-stall protocol for
    * streaming-fed indexes (the blocking reshards hold the old root's
    * writer lease across read+build+GC, which at 10⁹ vectors means hours
    * of blocked ingest). Takes NO lease on the old root: rebuilds the S′
    * composition at `newPath` from a SNAPSHOT of the old root's logical
    * rows (an encoded composition re-encodes them from its full-precision
    * store `fp`) while appends keep landing, and records the snapshot's
    * watermarks in `newPath/catchup.META`. MUST be followed by
    * [[reshardCatchUpReplay]] before cutover — publishing a phase-1-only
    * artifact silently drops every append that landed during the build.
    */
  def reshardCatchUpBuild(spark: SparkSession, oldPath: String, oldShards: Int,
                          newPath: String, newShards: Int, nCellsPerShard: Int = -1,
                          fp: Option[String] = None): Unit = {
    // captured BEFORE the corpus read: an append racing the capture lands
    // in the snapshot AND above the watermark, and the replay's
    // idempotent append absorbs the overlap; the reverse order could
    // silently drop a racing append from both
    val marks = watermarks(spark, oldPath, oldShards, fp)
    rebuildAt(spark, oldPath, oldShards, newPath, newShards, nCellsPerShard, fp)
    // recorded at the NEW root so the replay (possibly another process)
    // knows which appends and deletes the snapshot already holds
    Sharded.writeCatchUp(newPath, marks)
  }

  /** Every old shard's current [[Sharded.Mark]] and the full-precision
    * store's upsert seq — the snapshot capture and the post-replay advance.
    */
  private def watermarks(spark: SparkSession, oldPath: String, oldShards: Int,
                         fp: Option[String]): Sharded.CatchUp =
    Sharded.CatchUp((0 until oldShards).map { r =>
      val p = s"$oldPath/shard=$r"
      r -> Sharded.Mark(graft.sources.VectorIndexStore.nextSeq(spark, p) - 1,
        graft.sources.DeleteLog.watermark(spark, p), graft.sources.Tombstones.generation(p))
    }.toMap, fp.map(graft.sources.FpStore.maxSeq(spark, _)))

  /** CATCH-UP reshard, phase 2 of 2 — the ONLY window appends block:
    * under the old root's writer lease, the appends that landed during
    * phase 1 are hash-routed into the S′ artifact through the idempotent
    * [[append]], and the window's deletes are forwarded. The caller cuts
    * over INSIDE the same lease scope (publish the new identity / flip
    * the serving pointer, then GC the old root) so nothing can land after
    * the replay and be lost to the GC. Returns the rows the replay added
    * to the new root — the measured catch-up size.
    *
    * DELTA-SHAPED for a shard the snapshot recorded a [[Sharded.Mark]]
    * for: its window appends are its own rows with `seq > w`
    * ([[IndexKind.journal]] — pre-window files are skipped by their
    * footer statistics, and a mid-window compact keeps `seq`; a null seq,
    * a pre-seq row a compact rewrote, counts as in the window, which the
    * idempotent append absorbs), its window deletes the
    * [[graft.sources.DeleteLog]] rows above `dw` while its tombstone
    * generation is unchanged (a mid-window compact applies pending
    * tombstones physically and clears the journal — the one transition
    * neither can witness). The ONE FALLBACK, for a shard with no mark (no
    * or a legacy `catchup.META`) or with any data file that predates seq
    * stamping: its logical rows absent from the new root (an id
    * anti-join), and the reverse delta ([[replayRemovals]]) for removals.
    */
  def reshardCatchUpReplay(spark: SparkSession, oldPath: String, oldShards: Int,
                           newPath: String, newShards: Int,
                           fp: Option[String] = None): Long = {
    verifyShards(oldPath, oldShards)
    graft.sources.Versioned.withWriterLease(oldPath) {
      val meta = Sharded.readCatchUp(newPath)
      // per delta-shaped shard: (window appends, window deletes — None
      // when the generation moved); absent = the fallback
      val windows = (0 until oldShards).flatMap { r =>
        val p = s"$oldPath/shard=$r"
        for (m <- meta.flatMap(_.shards.get(r))
             if graft.sources.Fs.everyParquetFileHas(spark, kind.dataDir(p), IndexKind.SeqColumn))
          yield r -> (kind.journal(spark, p).filter(col(IndexKind.SeqColumn) > m.appendSeq ||
            col(IndexKind.SeqColumn).isNull).drop(IndexKind.SeqColumn),
            Option.when(graft.sources.Tombstones.generation(p) == m.gen)(
              graft.sources.DeleteLog.since(spark, p, m.delSeq).toList))
      }.toMap
      lazy val newIds = physical(spark, newPath, newShards).select("vec_id")
      // materialized ONCE (eager checkpoint) for its count, the payload and
      // the S routed append slices; a persist() would be unsafe — the
      // append refreshes the new root's listing, invalidating a cached
      // plan over it. dropDuplicates: an append batch holding one id twice
      // writes it twice, and the replay must not copy that twice
      val delta = ScaleOps.checkpointed(Sharded.unionShards(oldPath, oldShards) { (r, p) =>
        windows.get(r).fold(kind.logical(spark, p).join(newIds, Seq("vec_id"), "left_anti"))(_._1)
      }.dropDuplicates("vec_id"))
      val n = delta.count()
      val appended = if (n == 0) 0L else {
        val rows = ScaleOps.checkpointed(payload(spark, delta, fp, meta.flatMap(_.fpw)))
        require(rows.count() == n, s"catch-up replay found $n window appends but not every " +
          "one has a full-precision row — every appender of an encoded composition must " +
          "FpStore.upsert before appending codes, or the replay would silently drop it")
        append(spark, newPath, newShards, rows)
      }
      // DELETES that landed during phase 1 only REMOVE ids from the
      // logical view: invisible to the forward delta, yet the snapshot's
      // copies of those ids are physically present in the new artifact.
      // The journal rows are semi-joined against the new root's PHYSICAL
      // ids: a delete that raced the snapshot capture is recorded ABOVE
      // dw yet already absent there, and forwarding it would plant a stale
      // sidecar row that hides a legitimate post-cutover re-add
      val deletes = (0 until oldShards).map(r => windows.get(r).flatMap(_._2))
      if (deletes.exists(_.isEmpty)) replayRemovals(spark, oldPath, oldShards, newPath, newShards)
      else deletes.flatten.flatten.reduceOption(_ unionAll _).foreach(ids => delete(spark,
        newPath, newShards, ids.distinct().join(newIds, Seq("vec_id"), "left_semi")))
      // the new artifact is now current up to each old shard's PRESENT
      // state (the old lease is held — nothing lands mid-replay): advance
      // the recorded watermarks so a repeated replay reads an empty delta
      Sharded.writeCatchUp(newPath, watermarks(spark, oldPath, oldShards, fp))
      appended
    }
  }

  /** The catch-up replay's REVERSE DELTA: ids physically present in the
    * new root yet absent from the old root's LOGICAL view were removed
    * during the window — pending tombstones and applied-and-cleared ones
    * alike, so a mid-window compact cannot resurrect a takedown. They are
    * tombstoned on the new root, minus the ids it already hides, so a
    * repeated replay is a no-op. Id-column reads: corpus-shaped but
    * column-pruned.
    */
  private def replayRemovals(spark: SparkSession, oldPath: String,
                             oldShards: Int, newPath: String,
                             newShards: Int): Unit = {
    val alreadyHidden = (0 until newShards).flatMap(r =>
      graft.sources.Tombstones.read(spark, s"$newPath/shard=$r")
        .map(_.select(col("doc_id").as("vec_id"))))
    val removed0 = physical(spark, newPath, newShards).select("vec_id")
      .join(logical(spark, oldPath, oldShards).select("vec_id"),
        Seq("vec_id"), "left_anti").distinct()
    // materialized once: isEmpty + S routed delete slices would otherwise
    // re-run the reverse-delta scans each
    val removed = ScaleOps.checkpointed(
      if (alreadyHidden.isEmpty) removed0
      else removed0.join(alreadyHidden.reduce(_ unionAll _),
        Seq("vec_id"), "left_anti"))
    if (!removed.isEmpty) delete(spark, newPath, newShards, removed)
  }
}

/** The kind-free half of the sharded layer. */
object Sharded {

  /** Concurrent shard builds per [[Sharded.build]] call: enough to overlap
    * the driver-side phases (sample collect, model fold) of one shard with
    * the executor-side phases (assign scan, parquet write) of another,
    * without S driver threads each broadcasting a model at once.
    * Overridable per session via [[BuildParallelismConf]]; the default is
    * the measured knee (SCALE.md round-15: S=8 cold builds on the 10×
    * corpus, 8-core host — 16.8 / 7.0 / 5.0 / 5.2 / 4.4 s at pool
    * 1/2/4/6/8; past 4 the concurrent jobs contend for the same executor
    * slots, so 4 buys 3.3× of the available 3.8× and bounds driver-side
    * model memory at 4 in-flight centroid arrays).
    */
  val BuildParallelism = 4

  /** Conf key overriding [[BuildParallelism]] for a session. */
  val BuildParallelismConf = "spark.graft.shard.buildParallelism"

  private[graft] def buildParallelism(spark: SparkSession): Int =
    spark.conf.getOption(BuildParallelismConf)
      .flatMap(_.toIntOption).filter(_ >= 1)
      .getOrElse(BuildParallelism)

  /** Disjoint-total shard id of a vector id. */
  private[graft] def shardCol(shards: Int): Column =
    pmod(xxhash64(col("vec_id")), lit(shards.toLong)).cast("int")

  private def shardsMetaFile(path: String) = s"$path/shards.META"

  /** One old shard's snapshot watermarks: the last qerr seq the snapshot
    * holds (−1 when no qerr exists, matching the first append's seq 0 —
    * recording 0 would make `seq > 0` drop the seq-0 window append), the
    * delete-journal seq, and the tombstone generation the delete axis
    * trusts.
    */
  private[graft] final case class Mark(appendSeq: Long, delSeq: Long, gen: Long)

  /** `catchup.META`, the catch-up snapshot's watermarks at the new root:
    * whitespace-separated tokens, `r:w:dw:g` per old shard ([[Mark]]) and
    * `fpw:N` — the full-precision store's last upsert seq — when the
    * composition re-encodes from one.
    */
  private[graft] final case class CatchUp(shards: Map[Int, Mark], fpw: Option[Long]) {
    def render: String = (shards.toSeq.sortBy(_._1).map { case (r, m) =>
      s"$r:${m.appendSeq}:${m.delSeq}:${m.gen}" } ++ fpw.map(w => s"fpw:$w")).mkString(" ")
  }

  private def catchUpFile(root: String) = s"$root/catchup.META"

  private def writeCatchUp(root: String, c: CatchUp): Unit =
    graft.sources.Versioned.metaBackend.writeAtomic(catchUpFile(root), c.render)

  private def readCatchUp(root: String): Option[CatchUp] =
    graft.sources.Versioned.metaBackend.readString(catchUpFile(root)).map(parseCatchUp(catchUpFile(root), _))

  // bounded digit counts: every match converts without overflow
  private val MarkToken = """(\d{1,9}):(-?\d{1,18}):(-?\d{1,18}):(-?\d{1,18})""".r
  private val V1Token = """\d{1,9}:-?\d{1,18}""".r
  private val FpwToken = """fpw:(-?\d{1,18})""".r

  /** Parse `catchup.META` content read from `file`. Tokens older snapshot
    * builds wrote parse into the FALLBACK (no [[Mark]] for the shard):
    * v1 `r:w` (no delete axis), and the encoded composition's bare
    * `fpw:N` (no per-shard marks; N still prunes the payload fetch). Any
    * other token raises an IllegalStateException naming the file.
    */
  private[graft] def parseCatchUp(file: String, content: String): CatchUp =
    content.trim.split("\\s+").filter(_.nonEmpty).foldLeft(CatchUp(Map.empty, None)) {
      case (c, MarkToken(r, w, dw, g)) =>
        c.copy(shards = c.shards + (r.toInt -> Mark(w.toLong, dw.toLong, g.toLong)))
      case (c, V1Token()) => c
      case (c, FpwToken(w)) => c.copy(fpw = Some(w.toLong))
      case (_, tok) => throw new IllegalStateException(
        s"unparseable catchup.META token '$tok' in $file")
    }

  /** One plan over every shard: `load(r, path/shard=r)`, unioned. */
  private[graft] def unionShards(path: String, shards: Int)(
      load: (Int, String) => DataFrame): DataFrame =
    (0 until shards).map(r => load(r, s"$path/shard=$r")).reduce(_ unionAll _)

  /** The growth judgment every shard-count growth loop calls: `total`
    * live rows over `shards` shards exceed the `maxShardRows` mean iff
    * S′ = ceil(total / maxShardRows) > S, and S′ is the reshard target
    * (sized so the post-reshard mean sits AT the policy line). Computed
    * without `maxShardRows * shards` or `total + maxShardRows - 1`, both
    * of which wrap under the no-growth sentinel `Long.MaxValue`. None =
    * keep serving at S.
    */
  private[graft] def grownShards(total: Long, shards: Int,
                                 maxShardRows: Long): Option[Int] = {
    require(maxShardRows >= 1, s"maxShardRows=$maxShardRows")
    val needed = total / maxShardRows + (if (total % maxShardRows == 0) 0 else 1)
    if (needed <= shards) None else Some(math.toIntExact(needed))
  }
}
