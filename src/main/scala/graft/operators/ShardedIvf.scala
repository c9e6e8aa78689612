package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sharded IVF — the [[Sharded]] composition over full-precision IVF
  * shards, the design path PAST the last single-index boundary. After
  * round 13, [[IvfIndex.train]] scales to any cell count the k×dim
  * centroid array can broadcast (~10⁶ cells at 128-dim); the remaining
  * ceiling is that ARRAY itself — one flat coarse quantizer puts every
  * centroid in every executor's memory and every probe's cell-selection
  * scan. S independent sub-indexes cap every object at one shard's
  * k_s×dim centroids. Each shard is built through the store's
  * single-index build over [[IndexKind.Ivf]], so it carries the same
  * lifecycle plane as a single index (`model`, cell-partitioned
  * `vectors`, `qerr` watermarks, `qerr.BASELINE`); drift and retrain are
  * judged PER SHARD, so one drifted shard retrains k_s cells, not k.
  *
  * Kind-specific here: the artifact-sourced [[reshard]], the
  * AppendLog-journal catch-up pair, [[search]] and [[totalCells]].
  *
  * PROBE: each shard answers its own pruned top-k (nProbe of ITS cells),
  * and the global answer is the k best of the S×k candidates; driver
  * memory peaks at one shard's model. Probing ALL cells of ALL shards is
  * EXACTLY the brute-force top-k (membership is total, preserved under
  * appends). One measured caveat (SCALE.md round-14 §1): at a FIXED
  * per-shard cell fraction, recall is lower than a same-fraction single
  * index's, because each shard answers from an S×-sparser subset whose
  * exact top-k sits at larger radii — a sharded deployment holding a
  * recall target sizes `nProbe` wider from the measured curve
  * (0.435/0.675/0.900/1.000 at 2.8%/10.5%/30.7%/100% of per-shard cells
  * on the 100× drill corpus).
  *
  * Lifecycle entry point:
  * [[graft.sources.VectorIndexStore.ensureShardedIvf]]. This stays an
  * API + spec + drill row: every fixture corpus fits a single index by
  * orders of magnitude — the capability exists for the geometry that
  * needs it, the scale-out form of the reference's one index
  * (db_utils.py:93-110).
  */
object ShardedIvf extends Sharded(IndexKind.Ivf) {

  /** Build the S′ composition at `newPath` from the old root's own
    * logical shard tables; a reused target root drops its width sidecar.
    */
  private def rebuildFrom(spark: SparkSession, oldPath: String,
                          oldShards: Int, newPath: String, newShards: Int,
                          nCellsPerShard: Int): Unit = {
    build(spark, logical(spark, oldPath, oldShards)
      .select(col("vec_id"), col("label"), col("embedding")),
      newPath, newShards, nCellsPerShard)
    graft.sources.Versioned.metaBackend.deleteRecursively(s"$newPath/${kind.cal.file}")
  }

  /** RESHARD: rebuild the composition at a new shard count S′ from the
    * old artifact's OWN shards — the growth verb for the shard count
    * itself. Routing fixes S at build time, so a corpus that grows 10×
    * grows every shard 10× and each coarse quantizer marches back toward
    * the broadcast ceiling; this verb moves to S′ before that happens (or
    * shrinks an over-sharded index — S′ < S is equally valid).
    *
    * No external corpus is needed: each shard's full-precision vectors
    * live inside its artifact, so the union of the S LOGICAL shard tables
    * is the source of truth — INCLUDING every appended batch, and with
    * every pending delete applied physically (a resharded artifact is
    * born clean). The new artifact is built at a NEW root: S is part of
    * the artifact identity (`VectorIndexStore.shardedIvfPath` embeds it),
    * so cutover = repointing readers at (newPath, S′), and the old root
    * stays intact for in-flight probes — the Versioned-pointer discipline
    * one level up. The store-level entry
    * (`VectorIndexStore.reshardShardedIvf`) wraps this in atomic
    * publication and GCs the old artifact.
    *
    * Calibration does NOT transfer (a per-shard width sized for S says
    * nothing about S′), so the new root has no `nprobe.CAL` until
    * recalibrated. Holds the OLD root's writer lease for the duration so
    * no append can land between the read and the cutover and be lost
    * (reshard is rare scheduled maintenance — blocking appends for one
    * rebuild is the correct trade).
    */
  def reshard(spark: SparkSession, oldPath: String, oldShards: Int,
              newPath: String, newShards: Int,
              nCellsPerShard: Int = -1): Unit = {
    requireNewRoot(oldPath, oldShards, newPath)
    graft.sources.Versioned.withWriterLease(oldPath) {
      rebuildFrom(spark, oldPath, oldShards, newPath, newShards, nCellsPerShard)
    }
  }

  /** CATCH-UP reshard, phase 1 of 2 — the bounded-stall protocol for
    * streaming-fed indexes ([[reshard]] holds the old root's writer lease
    * across read+build+GC, which at 10⁹ vectors means hours of blocked
    * ingest). This phase takes NO lease on the old root: it builds the S′
    * composition at `newPath` from a SNAPSHOT of the old shard tables
    * (the tagging pass materializes it in one read — appends landing
    * after that listing miss it and are replayed in phase 2). MUST be
    * followed by [[reshardCatchUpReplay]] before cutover — publishing a
    * phase-1-only artifact silently drops every append that landed
    * during the build.
    */
  def reshardCatchUpBuild(spark: SparkSession, oldPath: String, oldShards: Int,
                          newPath: String, newShards: Int,
                          nCellsPerShard: Int = -1): Unit = {
    requireNewRoot(oldPath, oldShards, newPath)
    // captured BEFORE the corpus read: an append racing the capture lands
    // in the snapshot AND above the watermark, and the replay's
    // idempotent append absorbs the overlap — the conservative direction;
    // the reverse order could silently drop a racing append from both
    val marks = watermarks(spark, oldPath, oldShards)
    rebuildFrom(spark, oldPath, oldShards, newPath, newShards, nCellsPerShard)
    // recorded at the NEW root so the replay (possibly another process)
    // knows which appends and deletes the snapshot already holds
    graft.sources.Versioned.metaBackend.writeAtomic(s"$newPath/catchup.META", marks)
  }

  /** Every old shard's current watermarks as `catchup.META` tokens
    * "r:w:dw:g" — the snapshot capture of [[reshardCatchUpBuild]] and the
    * post-replay advance of [[reshardCatchUpReplay]]:
    *   w  — append-seq watermark (last qerr seq; -1 when no qerr exists,
    *        matching appendIvf's first seq = 0 — recording 0 would make
    *        since(0) silently drop the seq-0 window append);
    *   dw — delete-journal watermark (AppendLog.delSeqWatermark; -1 when
    *        no journal exists);
    *   g  — Tombstones.generation: the replay trusts the delete journal
    *        only if g is UNCHANGED, because a mid-window compact applies
    *        pending tombstones physically and clears both the sidecar
    *        and the journal — the one transition neither can witness.
    */
  private def watermarks(spark: SparkSession, oldPath: String,
                         oldShards: Int): String =
    (0 until oldShards).map { r =>
      val shardPath = s"$oldPath/shard=$r"
      val w = graft.sources.VectorIndexStore.nextSeq(spark, shardPath) - 1
      val dw = graft.sources.AppendLog.delSeqWatermark(spark, shardPath)
      val g = graft.sources.Tombstones.generation(shardPath)
      s"$r:$w:$dw:$g"
    }.mkString(" ")

  /** One old shard's snapshot watermarks: append seq, and (v2 META) the
    * delete-journal seq + tombstone generation the delete axis trusts.
    */
  private case class CatchupMark(appendSeq: Long,
                                 delAxis: Option[(Long, Long)])

  /** Parse `catchup.META` — v2 tokens "r:w:dw:g"; v1 ("r:w", written by
    * an older snapshot build) parses with no delete axis, so the replay
    * falls back to the reverse delta for removals.
    */
  private def catchupWatermarks(newPath: String): Option[Map[Int, CatchupMark]] =
    graft.sources.Versioned.metaBackend.readString(s"$newPath/catchup.META")
      .map(_.trim.split("\\s+").map { tok =>
        tok.split(":") match {
          case Array(r, w, dw, g) =>
            r.toInt -> CatchupMark(w.toLong, Some((dw.toLong, g.toLong)))
          case Array(r, w) => r.toInt -> CatchupMark(w.toLong, None)
          case other => throw new IllegalStateException(
            s"unparseable catchup.META token '${other.mkString(":")}' at $newPath")
        }
      }.toMap)

  /** CATCH-UP reshard, phase 2 of 2 — the ONLY window appends block:
    * under the old root's writer lease, the delta that landed during
    * phase 1 is hash-routed into the S′ artifact through the idempotent
    * [[append]], and the window's deletes are forwarded. The caller cuts
    * over INSIDE the same lease scope (publish the new identity / flip
    * the serving pointer, then GC the old root) so nothing can land after
    * the replay and be lost to the GC. Returns the replayed row count —
    * the measured catch-up size, which the drill grades against the
    * blocked window.
    */
  def reshardCatchUpReplay(spark: SparkSession, oldPath: String,
                           oldShards: Int, newPath: String,
                           newShards: Int): Long = {
    verifyShards(oldPath, oldShards)
    graft.sources.Versioned.withWriterLease(oldPath) {
      // DELTA-SHAPED when possible: each old shard's append log serves
      // exactly the rows with seq above the snapshot's recorded watermark
      // (graft.sources.AppendLog — I/O ∝ the delta, not the corpus).
      // Per-shard fallback to the corpus anti-join when the log cannot
      // prove completeness back to the watermark (legacy artifact, log
      // cleared by a mid-window compact/retrain) or when no watermark
      // was recorded (a snapshot built by older code).
      lazy val snapshotIds = logical(spark, newPath, newShards).select("vec_id")
      val wm = catchupWatermarks(newPath)
      // dropDuplicates: a crash between AppendLog.record and the qerr
      // watermark row makes the retried append re-record the same batch
      // at the same seq — surplus log rows whose vec_ids must not
      // double-materialize as physical rows (appendIvf's idempotence
      // anti-join reads EXISTING presence only, not intra-batch dups)
      val delta = Sharded.unionShards(oldPath, oldShards) { (r, shardPath) =>
        wm.flatMap(_.get(r))
          .flatMap(m => graft.sources.AppendLog.since(spark, shardPath, m.appendSeq))
          .getOrElse {
            kind.logical(spark, shardPath)
              .select(col("vec_id"), col("label"), col("embedding"))
              .join(snapshotIds, Seq("vec_id"), "left_anti")
          }
      }.dropDuplicates("vec_id")
      val n = delta.count()
      if (n > 0) append(spark, newPath, newShards, delta)
      // DELETES that landed during phase 1 are invisible to the forward
      // delta (they only REMOVE ids from the logical view, and an id the
      // snapshot already captured is physically present in the new
      // artifact — serving it would silently undo a takedown). JOURNAL
      // path (cost ∝ deletes) when every shard's delete journal is
      // trustworthy — its Tombstones.generation UNCHANGED since the
      // snapshot (no mid-window compact turned pending tombstones into
      // unjournaled physical absences): the window's removals are exactly
      // the journal rows above each dw. Only WINDOW deletes forward: a
      // pre-snapshot tombstone's id is already physically absent from the
      // new root, and forwarding it would plant a stale sidecar row that
      // silently hides a legitimate post-cutover re-add. Otherwise (a
      // generation moved, a journal cannot prove completeness, or a v1
      // META) the reverse delta ([[replayRemovals]]).
      val journalDeletes: Option[Seq[DataFrame]] =
        wm.flatMap { marks =>
          val per = (0 until oldShards).map { r =>
            val shardPath = s"$oldPath/shard=$r"
            marks.get(r).flatMap(_.delAxis).flatMap { case (dw, g) =>
              if (graft.sources.Tombstones.generation(shardPath) != g) None
              else if (graft.sources.AppendLog
                .delSeqWatermark(spark, shardPath) <= dw)
                Some(Nil) // no window deletes on this shard
              else graft.sources.AppendLog.deletesSince(spark, shardPath, dw)
                .map(df => List(df))
            }
          }
          if (per.forall(_.isDefined)) Some(per.flatMap(_.get)) else None
        }
      journalDeletes match {
        case Some(dfs) if dfs.nonEmpty =>
          // semi-join against the new root's PHYSICAL ids: a delete that
          // raced the snapshot capture (landed after the dw capture but
          // before the corpus materialization) is journaled ABOVE dw yet
          // already physically absent from the new root — forwarding it
          // would plant a stale sidecar row that hides a legitimate
          // post-cutover re-add. Paid only when window deletes exist
          // (takedowns mid-reshard are rare); the no-delete path stays
          // delta-shaped.
          val ids = dfs.reduce(_ unionAll _).distinct()
            .join(physical(spark, newPath, newShards).select("vec_id"),
              Seq("vec_id"), "left_semi")
          if (!ids.isEmpty) delete(spark, newPath, newShards, ids)
        case Some(_) => () // no window deletes anywhere
        case None => replayRemovals(spark, oldPath, oldShards, newPath, newShards)
      }
      // the new artifact is now current up to each old shard's PRESENT
      // state (the old lease is held — nothing lands mid-replay), so
      // advance the recorded watermarks on BOTH axes: a repeated replay
      // serves an empty delta instead of re-reading the same journal rows
      if (wm.isDefined)
        graft.sources.Versioned.metaBackend.writeAtomic(
          s"$newPath/catchup.META", watermarks(spark, oldPath, oldShards))
      n
    }
  }

  /** Per-shard drift check + recall-gated retrain
    * (`retrainIvfIfNeeded` on each shard artifact) through the shared
    * sweep, `continueOnGateFailure` included. Each per-shard retrain
    * invalidates its parent's `nprobe.CAL`
    * (VectorIndexStore.invalidateCal), so root-calibration staleness
    * needs nothing extra here. Returns the number of shards retrained.
    */
  def retrainIfNeeded(spark: SparkSession, path: String, shards: Int,
                      factor: Double = 2.0, recallFloor: Double = 0.2,
                      nProbe: Int = IvfIndex.NProbeAuto, k: Int = 10,
                      continueOnGateFailure: Boolean = false): Int =
    retrainSweep(path, shards, continueOnGateFailure)((_, shardPath) =>
      graft.sources.VectorIndexStore.retrainIvfIfNeeded(
        spark, shardPath, factor, recallFloor, nProbe, k))

  /** Global approximate top-k over all shards: per-shard pruned top-k
    * (each with ITS model's resolved `nProbe`), one union plan, one
    * global TakeOrdered. Models load sequentially — peak driver memory
    * is a single shard's centroid array. Batch-panel form:
    * [[AnnEval.shardedTopK]].
    */
  def search(spark: SparkSession, path: String, shards: Int,
             query: Array[Float], k: Int,
             nProbe: Int = IvfIndex.NProbeAuto): DataFrame =
    searchFiltered(spark, path, shards, query, k, nProbe, predicate = None)

  /** [[search]] scoped by a metadata predicate. The predicate applies to
    * each shard's cell-partitioned vectors BEFORE its probe (partition
    * pruning to the probed cells + parquet predicate pushdown, the
    * single-index v22 plan, S times), so the disjoint-membership union
    * stays lossless and full probe over every shard IS the exact filtered
    * top-k. Width note: neither the auto policy nor the root's
    * `nprobe.CAL` (unfiltered contracts) promise a recall target under a
    * predicate — size filtered workloads with
    * [[AnnCalibrate.calibrateFilteredWidth]] over the shard paths and
    * pass the result as `nProbe`.
    */
  def searchFiltered(spark: SparkSession, path: String, shards: Int,
                     query: Array[Float], k: Int,
                     nProbe: Int = IvfIndex.NProbeAuto,
                     predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    verifyShards(path, shards)
    val np = IvfIndex.resolveShardedNProbeAt(path, nProbe)
    Sharded.unionShards(path, shards) { (_, shardPath) =>
      val model = IvfIndex.loadModel(spark, shardPath)
      val vecs = IvfIndex.loadVectors(spark, shardPath)
      IvfIndex.search(spark, predicate.fold(vecs)(vecs.filter),
        model, query, k, np)
    }.orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** Total cell count across shards — the geometry a single flat index
    * would have needed one broadcastable array for.
    */
  def totalCells(spark: SparkSession, path: String, shards: Int): Int = {
    verifyShards(path, shards)
    (0 until shards)
      .map(r => IvfIndex.loadModel(spark, s"$path/shard=$r").centroids.length)
      .sum
  }
}
