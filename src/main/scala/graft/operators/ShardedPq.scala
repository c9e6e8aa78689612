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
  *     store's `reshardShardedPq`, and the catch-up reshard through the
  *     fp-store [[payload]] here;
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

  /** An encoded shard holds codes, not vectors: the payload of `rows` is
    * the full-precision store `fp` scoped to their ids (latest-wins, so a
    * window re-add serves its NEWEST payload). With a snapshot watermark
    * `fpw`, the fetch first tries the window alone — FpStore's per-upsert
    * seq stamps let `seq > fpw` skip every pre-window file by footer
    * stats, so the blocked window does not re-read the full-width store
    * for a batch-sized delta — and takes it only when it covers every id
    * (an appender may legally upsert fp BEFORE the snapshot and append
    * codes after); otherwise the membership-scoped full read.
    */
  protected def payload(spark: SparkSession, rows: DataFrame,
                        fp: Option[String], fpw: Option[Long]): DataFrame = {
    val store = fp.getOrElse(throw new IllegalArgumentException(
      "an encoded composition reshards from its full-precision store: pass fp"))
    val ids = rows.select("vec_id")
    fpw.map(w => ScaleOps.checkpointed(graft.sources.FpStore.since(spark, store, w)
        .join(ids, Seq("vec_id"), "left_semi")))
      .filter(_.count() == ids.count())
      .getOrElse(graft.sources.FpStore.readMember(spark, store, ids))
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
