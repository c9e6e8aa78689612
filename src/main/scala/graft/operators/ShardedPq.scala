package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sharded IVF-PQ — the [[Sharded]] composition over encoded shards, and
  * the true 100 TB ANN design point: sharding takes the coarse geometry
  * past one quantizer's broadcast ceiling, and PQ takes the per-vector
  * memory down 32× (one byte per subspace instead of 4·dim bytes — at the
  * reference's 1536-d (db_utils.py:33) a full-precision shard is
  * ~6 KB/vector, untenable exactly where sharding is needed). Each shard
  * is built through the store's single-index build over [[IndexKind.Pq]]
  * and carries the full PQ lifecycle plane (coarse model, codebooks,
  * cell-partitioned one-byte codes, qerr quantization watermarks,
  * versioned baseline).
  *
  * Kind-specific here, because the PQ artifact deliberately carries no
  * full-precision vectors:
  *   - [[retrainIfNeeded]] feeds each shard the hash-routed slice of a
  *     caller-supplied full-precision corpus (at scale, a pruned read of
  *     the same cold store the re-rank already consults);
  *   - RESHARD re-encodes from the full-precision store at S′ (decoding
  *     codes would bake quantization error into the new artifact): the
  *     store's `reshardShardedPq`, and the fp-store catch-up pair here;
  *   - PROBE ([[search]] / [[AnnEval.shardedPqTopK]]): each shard
  *     ADC-scores its probed cells and keeps ITS shortlist (membership is
  *     disjoint, so shortlists union without loss), one exact cosine
  *     re-rank of the union against the full-precision store, one global
  *     top-k;
  *   - CALIBRATION: one `shortlist.CAL` at the sharded root (per-shard
  *     depth, [[resolveShardedShortlist]]), invalidated by any shard's
  *     retrain.
  */
object ShardedPq extends Sharded(IndexKind.Pq) {

  /** CATCH-UP reshard for the ENCODED composition, phase 1 of 2 — the
    * bounded-stall protocol ([[ShardedIvf.reshardCatchUpBuild]]'s shape).
    * Takes NO lease on the old root: the corpus-sized RE-ENCODE (from the
    * cold full-precision store scoped to the old root's logical
    * membership) runs while appends keep landing on the old generation.
    * MUST be followed by [[reshardCatchUpReplay]] before cutover.
    *
    * No journal, unlike the IVF protocol: the encoded tables are ~32×
    * narrower than full-precision, so the replay's delta discovery is an
    * id-column anti-join over CODES — already the cheap shape the IVF
    * append log exists to reach. The snapshot is simply the membership
    * the build read.
    */
  def reshardCatchUpBuild(spark: SparkSession, oldPath: String,
                          oldShards: Int, newPath: String, newShards: Int,
                          fpPath: String, nCellsPerShard: Int = -1): Unit = {
    requireNewRoot(oldPath, oldShards, newPath)
    // fp watermark captured BEFORE the membership read — the conservative
    // direction: an upsert racing the capture lands above the watermark
    // AND (if its codes landed too) in the snapshot, and the replay's
    // delta semi-join absorbs the overlap
    val fpw = graft.sources.FpStore.maxSeq(spark, fpPath)
    build(spark, graft.sources.FpStore.readMember(spark, fpPath,
      logical(spark, oldPath, oldShards).select("vec_id")),
      newPath, newShards, nCellsPerShard)
    // a reused target root must not serve a depth sized for another S
    graft.sources.Versioned.metaBackend.deleteRecursively(s"$newPath/${kind.cal.file}")
    // recorded at the NEW root so the replay (possibly another process)
    // can fetch the window's payloads file-pruned instead of re-reading
    // the full-width fp store
    graft.sources.Versioned.metaBackend.writeAtomic(s"$newPath/catchup.META",
      s"fpw:$fpw")
  }

  /** CATCH-UP reshard phase 2 — the ONLY window external appenders
    * block: under the old root's writer lease, reconcile BOTH axes with
    * id-column anti-joins over the narrow encoded tables:
    *
    *   - APPENDS that landed during phase 1: old-logical ids absent from
    *     the new root's physical codes → their full-precision rows fetch
    *     from the fp store and re-encode through the idempotent
    *     [[append]]. Every appender must [[graft.sources.FpStore.upsert]]
    *     BEFORE appending codes (the sinks do; the require makes an
    *     appender that skipped it loud, not a silent drop).
    *   - DELETES that landed during phase 1: the reverse delta
    *     ([[replayRemovals]]).
    *
    * Naturally idempotent with no watermark state: after a replay the
    * new root's physical ids ⊇ the old logical view, so a repeat serves
    * an empty delta. The caller cuts over inside the same lease scope.
    * Returns the replayed append count.
    */
  def reshardCatchUpReplay(spark: SparkSession, oldPath: String,
                           oldShards: Int, newPath: String, newShards: Int,
                           fpPath: String): Long = {
    verifyShards(oldPath, oldShards)
    graft.sources.Versioned.withWriterLease(oldPath) {
      // materialized ONCE (eager local checkpoint): the delta plan reads
      // both roots' id columns, and its consumers (count, the window
      // fetch's semi-join, S per-shard append slices) would each
      // re-evaluate those corpus-id scans — and a plain persist would be
      // UNSAFE here (the append below refreshes the new root's listing,
      // invalidating a cached plan over it; the checkpoint pins the data)
      val delta = ScaleOps.checkpointed(
        logical(spark, oldPath, oldShards).select("vec_id")
          .join(physical(spark, newPath, newShards).select("vec_id"),
            Seq("vec_id"), "left_anti").distinct())
      val n = delta.count()
      if (n > 0) {
        // Payload fetch, DELTA-SHAPED when possible: the snapshot's fp
        // watermark (catchup.META) + FpStore's per-batch seq stamps let
        // the scan prune every pre-window file by footer stats — the
        // blocked window must not re-read the full-width fp store to
        // fetch a batch-sized delta (here the fp store's own append-only
        // layout is the journal). FpStore.since/read resolve max-seq per
        // id (latest-wins), so a window re-add serves its NEWEST
        // payload. Falls back to the full semi-join scan when the
        // watermark is absent (legacy snapshot) or the window files
        // don't cover the delta (an appender that upserted fp BEFORE
        // the snapshot but appended codes after — legal under the
        // upsert-then-append contract). Each fetch is materialized ONCE
        // (checkpoint) and its count reused: the coverage check, the
        // require, and the S routed append slices must not re-run the
        // fp-window join per consumer.
        val fpw = graft.sources.Versioned.metaBackend
          .readString(s"$newPath/catchup.META")
          .map(_.trim).filter(_.startsWith("fpw:"))
          .flatMap(_.stripPrefix("fpw:").toLongOption)
        val windowRows = fpw.map(w => ScaleOps.checkpointed(
          graft.sources.FpStore.since(spark, fpPath, w)
            .join(delta, Seq("vec_id"), "left_semi")))
        val rows = windowRows.filter(_.count() == n).getOrElse {
          ScaleOps.checkpointed(graft.sources.FpStore.read(spark, fpPath)
            .join(delta, Seq("vec_id"), "left_semi"))
        }
        val got = rows.count()
        require(got == n,
          s"catch-up replay found $n window appends but only $got have " +
            "full-precision rows — every appender must FpStore.upsert " +
            "before appending codes, or the replay would silently drop " +
            "the difference")
        append(spark, newPath, newShards, rows)
      }
      // advance the watermark so a repeated replay's (empty) fetch stays
      // file-pruned too
      graft.sources.Versioned.metaBackend.writeAtomic(
        s"$newPath/catchup.META",
        s"fpw:${graft.sources.FpStore.maxSeq(spark, fpPath)}")
      replayRemovals(spark, oldPath, oldShards, newPath, newShards)
      n
    }
  }

  /** Per-shard drift check + recall-gated retrain (`retrainPqIfNeeded`
    * on each shard artifact, fed the hash-routed slice of the
    * caller-supplied full-precision corpus) through the shared sweep,
    * `continueOnGateFailure` included. Returns the number of shards
    * retrained; each retrain invalidates the sharded root's
    * `shortlist.CAL` (a depth sized for the old geometry is stale).
    */
  def retrainIfNeeded(spark: SparkSession, path: String, shards: Int,
                      fullPrecision: DataFrame, factor: Double = 2.0,
                      recallFloor: Double = 0.2,
                      nProbe: Int = IvfIndex.NProbeAuto, k: Int = 10,
                      shortlist: Int = PqIndex.DefaultShortlist,
                      continueOnGateFailure: Boolean = false): Int = {
    val tagged = fullPrecision
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("shard", Sharded.shardCol(shards))
    retrainSweep(path, shards, continueOnGateFailure)((r, shardPath) =>
      graft.sources.VectorIndexStore.retrainPqIfNeeded(spark, shardPath,
        tagged.filter(col("shard") === r).drop("shard"),
        factor, recallFloor, nProbe, k, shortlist))
  }

  /** Single-query top-k over all shards: per-shard ADC shortlist (each
    * with ITS model's resolved `nProbe` and the resolved per-shard
    * `shortlist`), exact re-rank of the unioned shortlists against the
    * full-precision store, one global TakeOrdered.
    */
  def search(spark: SparkSession, path: String, shards: Int,
             fullPrecision: DataFrame, query: Array[Float], k: Int,
             nProbe: Int = IvfIndex.NProbeAuto,
             shortlist: Int = PqIndex.DefaultShortlist): DataFrame =
    searchFiltered(spark, path, shards, fullPrecision, query, k, nProbe,
      shortlist, predicate = None)

  /** [[search]] scoped by a metadata predicate — filtered vector search
    * on the ENCODED composition (the reference's surface pairs
    * filterable fields with the vector field, db_utils.py:65-70 +
    * 58-64). The predicate applies to each shard's encoded frame BEFORE
    * its ADC scan — the encoded table carries the filter column next to
    * the codes (`(vec_id, label, cell, code)`, [[PqIndex.encode]]), so
    * at scale this is partition pruning to the probed cells plus
    * parquet predicate pushdown on the encoded scan (the v22 plan on
    * the encoded frame; PlanSpec gates it). Each shard's SHORTLIST is
    * then a shortlist of FILTERED candidates, and the exact re-rank
    * scores only survivors, so with every cell probed and a
    * corpus-wide shortlist the composed filtered search is EXACT within
    * the filter (ADC only orders; the re-rank scores). Width/depth
    * note: neither the auto probe policy nor the root's `shortlist.CAL`
    * (unfiltered contracts) promise a recall target under a predicate —
    * the filter thins every probed cell, so the filtered true top-k
    * sits DEEPER in each shard's ADC order; size filtered workloads
    * with [[graft.operators.AnnCalibrate.calibrateFilteredShortlist]]
    * and pass the result as `shortlist`.
    */
  def searchFiltered(spark: SparkSession, path: String, shards: Int,
                     fullPrecision: DataFrame, query: Array[Float], k: Int,
                     nProbe: Int = IvfIndex.NProbeAuto,
                     shortlist: Int = PqIndex.DefaultShortlist,
                     predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    verifyShards(path, shards)
    val sl = resolveShardedShortlist(path, nProbe, shortlist)
    val shorts = Sharded.unionShards(path, shards) { (_, shardPath) =>
      val enc = PqIndex.loadEncoded(spark, shardPath)
      PqIndex.adcShortlist(spark, predicate.fold(enc)(enc.filter),
        PqIndex.loadModel(spark, shardPath), query, nProbe, sl)
    }
    val qCol = lit(query).cast("array<float>")
    shorts.select("vec_id")
      .join(fullPrecision.select(col("vec_id"), col("label"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("label"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"), qCol), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** Resolve the per-shard shortlist for a sharded ROOT: the
    * calibration sentinel reads the root's `shortlist.CAL`, which is
    * honored only at the REQUESTED-nProbe policy it was measured under
    * (per-shard resolved widths differ across shards, so the sidecar
    * records the requested policy value verbatim — unlike the
    * single-index sidecar, which records its one resolved width). A
    * mismatch or an uncalibrated root degrades loudly to the default.
    */
  private[graft] def resolveShardedShortlist(path: String, nProbe: Int,
                                             shortlist: Int): Int =
    if (shortlist == PqIndex.ShortlistCalibrated)
      graft.sources.VectorIndexStore.readShortCal(path) match {
        case Some(cal) if cal.nProbe == nProbe => cal.shortlist
        case Some(cal) =>
          System.err.println(s"[graft] shortlist.CAL at $path was sized " +
            s"under probe policy ${cal.nProbe} but this probe requests " +
            s"$nProbe — its recall promise does not transfer; using the " +
            "default shortlist (recalibrate at the serving policy)")
          PqIndex.DefaultShortlist
        case None => PqIndex.DefaultShortlist
      }
    else PqIndex.resolveShortlist(shortlist)
}
