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
  * Kind-specific here: the artifact-sourced [[reshard]] and catch-up
  * [[payload]] (a shard's own rows), [[search]] and [[totalCells]].
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

  /** An IVF shard's rows carry their own full-precision vectors, so every
    * reshard (blocking or catch-up) is artifact-sourced; `fp` is unused.
    */
  protected def payload(spark: SparkSession, rows: DataFrame,
                        fp: Option[String], fpw: Option[Long]): DataFrame =
    rows.select(col("vec_id"), col("label"), col("embedding"))

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
              newPath: String, newShards: Int, nCellsPerShard: Int = -1): Unit =
    graft.sources.Versioned.withWriterLease(oldPath) {
      rebuildAt(spark, oldPath, oldShards, newPath, newShards, nCellsPerShard, None)
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
