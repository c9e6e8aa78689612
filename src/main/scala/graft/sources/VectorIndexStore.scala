package graft.sources

import graft.operators.{IndexKind, IvfIndex, PqIndex, ScaleOps, ShardedIvf, ShardedPq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Build-once / probe-many lifecycle for the ANN index family.
  *
  * The reference's vector index is a PERSISTENT artifact: created once,
  * idempotently, on client init, then queried forever (db_utils.py:48,
  * 120-127 — create-if-not-exists DDL + the HNSW index declaration at
  * 93-110). Until round 5 the engine retrained and re-encoded IVF/PQ inside
  * every query invocation — correct, but the wrong lifecycle for 100 TB,
  * where training + encoding is an hours-long build job and probes are
  * sub-second reads. This store is the engine's equivalent of the
  * reference's idempotent DDL:
  *
  *   - `ensureIvf`/`ensurePq` are the "CREATE INDEX IF NOT EXISTS": the
  *     first caller pays the train+assign/encode+write; every later caller
  *     (and every later QUERY, in any JVM) sees a complete published
  *     artifact and goes straight to probing. Publication is atomic
  *     (temp-dir + rename via [[PhysicalLayout.ensureDir]]), so concurrent
  *     builders cannot interleave half-written indexes.
  *   - The artifact path embeds a content fingerprint of the embeddings
  *     fixture ([[PhysicalLayout.sourceTag]]): a regenerated corpus misses
  *     the cache instead of silently serving a stale index.
  *   - The vectors/encoded tables are parquet PARTITIONED BY cell, so a
  *     probe's `cell IN (...)` predicate prunes at the source — `nProbe`
  *     of `nCells` directories read, which is the layout that makes IVF
  *     the distributed answer at 100 TB (SCALE.md "ANN memory story").
  *
  * Local builds root the store under java.io.tmpdir; a cluster deployment
  * points [[root]] at durable shared storage (same boundary-not-storage
  * contract as ChunkStore).
  */
object VectorIndexStore {

  /** Conf key overriding the artifact root (default: system tmpdir). */
  val RootConf = "spark.graft.index.dir"

  private def root(spark: SparkSession): String =
    spark.conf.getOption(RootConf)
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft_index")

  private def tag(sfDir: String): String =
    sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      PhysicalLayout.sourceTag(sfDir, "embeddings")

  // nCells is part of the artifact identity: two geometries must not share
  // a published directory
  def ivfPath(spark: SparkSession, sfDir: String, nCells: Int): String =
    s"${root(spark)}/ivf${nCells}_${tag(sfDir)}"

  // nCells joins the identity like ivfPath's; the historical default 16
  // keeps every existing artifact path (and pinned fixture behavior)
  // byte-identical
  def pqPath(spark: SparkSession, sfDir: String, nCells: Int = 16): String =
    if (nCells == 16) s"${root(spark)}/pq_${tag(sfDir)}"
    else s"${root(spark)}/pq${nCells}_${tag(sfDir)}"

  // shard count is part of the artifact identity, like nCells for ivfPath
  def shardedIvfPath(spark: SparkSession, sfDir: String, shards: Int): String =
    shardedPath(spark, sfDir, "ivfsh", shards)

  def shardedPqPath(spark: SparkSession, sfDir: String, shards: Int): String =
    shardedPath(spark, sfDir, "pqsh", shards)

  private def shardedPath(spark: SparkSession, sfDir: String, prefix: String,
                          shards: Int): String =
    s"${root(spark)}/$prefix${shards}_${tag(sfDir)}"

  /** Cell count for an n-vector corpus at constant target occupancy.
    * SemDeDup consumers size their IVF geometry with this: the within-cell
    * pair work is Σ n_c², so FIXED cells make it grow quadratically with
    * corpus density (measured in SCALE.md's round-10 drill: 16 cells gave
    * v18 a 6.6× time ratio at 10× data), while constant ~targetCellSize
    * occupancy keeps it ∝ n·targetCellSize — linear. At the fixture sizes
    * (≤ 2048 vectors) this resolves to the historical default 16, so
    * every pinned oracle, golden and artifact path is unchanged there.
    */
  def autoCells(n: Long, targetCellSize: Int = 128): Int =
    math.max(16L, (n + targetCellSize - 1) / targetCellSize).toInt

  /** Idempotent index build over the `embeddings` fixture — the ONE
    * "CREATE INDEX IF NOT EXISTS" of every store geometry: the first caller
    * runs `build(tmp, corpus)` inside [[PhysicalLayout.ensureDir]]'s atomic
    * temp-dir publication and stamps the completeness marker; a complete
    * artifact short-circuits (no training scan). Returns the path.
    */
  private def ensure(spark: SparkSession, path: String, sfDir: String)(
      build: (String, DataFrame) => Unit): String = {
    PhysicalLayout.ensureDir(path) { tmp =>
      build(tmp, Tables.load(spark, sfDir, "embeddings"))
      markComplete(tmp)
    }
    path
  }

  /** Idempotent IVF build: coarse quantizer + cell-partitioned vectors. */
  def ensureIvf(spark: SparkSession, sfDir: String, nCells: Int = 16): String =
    ensure(spark, ivfPath(spark, sfDir, nCells), sfDir)(
      buildAt(spark, IndexKind.Ivf, _, _, nCells))

  /** Idempotent IVF-PQ build: coarse cells + residual codebooks +
    * cell-partitioned one-byte-per-subspace codes (no full-precision
    * vectors in the artifact — that is the 32x memory point).
    */
  def ensurePq(spark: SparkSession, sfDir: String, nCells: Int = 16): String =
    ensure(spark, pqPath(spark, sfDir, nCells), sfDir)(
      buildAt(spark, IndexKind.Pq, _, _, nCells))

  /** Non-idempotent build core at an explicit directory: train, write the
    * kind's rows (assign / encode) and model, and stamp the BUILD-TIME
    * DRIFT BASELINE — the full-corpus mean error (assignment distortion /
    * quantization error) under the fresh model, logged as `qerr` row 0 and
    * recorded in the `qerr.BASELINE` sidecar that [[retrainIfNeeded]]
    * compares appends against; the rows carry that row's seq. Called by
    * [[ensure]] (inside its atomic
    * temp-dir publication), by every sharded build per shard, and by the
    * streaming first-ingest path (which creates the index on the live
    * path, the reference's create-index-on-first-ingest). `nCells` sizes
    * the coarse quantizer — the fixture-class default 16 keeps every pinned
    * oracle and golden unchanged; scale deployments (and the drill) pass
    * [[autoCells]] of the corpus so the artifact is constant-occupancy
    * (fixed cells make probe cost grow ∝ n — the round-10 flat-IVF lesson).
    */
  private[graft] def buildAt(spark: SparkSession, kind: IndexKind, dir: String,
                             vectors: DataFrame, nCells: Int): Unit = {
    val model = kind.train(spark, vectors, nCells)
    val seq = nextSeq(spark, dir)
    kind.save(spark, model, stamped(kind.rows(spark, vectors, model), seq), dir)
    stampBaseline(spark, dir, seq, kind.stats(spark, vectors, model))
  }

  def buildIvfAt(spark: SparkSession, dir: String, vectors: DataFrame, nCells: Int = 16): Unit =
    buildAt(spark, IndexKind.Ivf, dir, vectors, nCells)

  def buildPqAt(spark: SparkSession, dir: String, vectors: DataFrame, nCells: Int = 16): Unit =
    buildAt(spark, IndexKind.Pq, dir, vectors, nCells)

  /** Idempotent SHARDED IVF build over the `embeddings` fixture
    * ([[graft.operators.ShardedIvf]] — S independent sub-indexes over a
    * disjoint hash partition; the geometry past a single flat coarse
    * quantizer's broadcast ceiling). Same atomic publish-or-short-circuit
    * protocol as [[ensureIvf]]; each shard artifact under `path/shard=r`
    * carries the full per-index lifecycle plane (model, cell-partitioned
    * vectors, qerr watermarks, baseline), maintained through
    * `ShardedIvf.append`/`retrainIfNeeded`.
    */
  def ensureShardedIvf(spark: SparkSession, sfDir: String, shards: Int,
                       nCellsPerShard: Int = -1): String =
    ensure(spark, shardedIvfPath(spark, sfDir, shards), sfDir)(
      (tmp, corpus) => ShardedIvf.build(spark, corpus, tmp, shards, nCellsPerShard))

  /** [[ensureShardedIvf]] for the sharded IVF-PQ composition
    * ([[graft.operators.ShardedPq]] — the sharded coarse geometry with
    * the 32× PQ memory point; the true 100 TB ANN design shape).
    */
  def ensureShardedPq(spark: SparkSession, sfDir: String, shards: Int,
                      nCellsPerShard: Int = -1): String =
    ensure(spark, shardedPqPath(spark, sfDir, shards), sfDir)(
      (tmp, corpus) => ShardedPq.build(spark, corpus, tmp, shards, nCellsPerShard))

  /** The store reshard preconditions: a real S -> S′ change over a
    * complete artifact. Returns the (old, new) identity paths.
    */
  private def reshardPaths(oldShards: Int, newShards: Int)(
      pathOf: Int => String): (String, String) = {
    require(newShards != oldShards && newShards >= 1,
      s"reshard $oldShards -> $newShards is not a reshard")
    val oldPath = pathOf(oldShards)
    require(Versioned.metaBackend.exists(s"$oldPath/_SUCCESS"),
      s"no complete sharded artifact at $oldPath to reshard")
    (oldPath, pathOf(newShards))
  }

  /** Refuse a complete artifact at the reshard target: ensureDir would
    * short-circuit onto ITS corpus and the GC would destroy the live one.
    */
  private def refuseExistingTarget(oldPath: String, newPath: String): Unit =
    if (Versioned.metaBackend.exists(s"$newPath/_SUCCESS"))
      throw new IllegalStateException(
        s"an artifact already exists at the target shard count " +
          s"($newPath); resharding onto it would repoint readers at " +
          s"ITS corpus and GC the live one at $oldPath — delete the " +
          "target first (or pick another S') if that artifact is " +
          "disposable")

  /** The shared reshard PUBLICATION protocol of both sharded
    * compositions: refuse a pre-existing artifact at the target identity
    * ([[refuseExistingTarget]]), run `build` under BOTH writer leases —
    * the old root's (so no append can land between the corpus read and
    * the GC and be lost) and the NEW root's (two reshards from
    * DIFFERENT old artifacts converging on the same S' hold disjoint
    * old-path leases; without the target lease both would pass the
    * collision check while the target is still absent and the loser
    * would GC its live artifact after short-circuiting onto the
    * winner's — the second acquirer now fails loudly on the lease, and
    * its re-check inside sees the winner's marker) — then GC the old
    * artifact. The collision check runs INSIDE the target lease for
    * exactly that reason.
    */
  private def reshardPublish(oldPath: String, newPath: String,
                             gcOld: Boolean)(build: => Unit): Unit =
    Versioned.withWriterLease(oldPath) {
      Versioned.withWriterLease(newPath) {
        refuseExistingTarget(oldPath, newPath)
        build
      }
      if (gcOld) Versioned.metaBackend.deleteRecursively(oldPath)
    }

  /** RESHARD the store's sharded artifact from `oldShards` to `newShards`
    * ([[graft.operators.ShardedIvf.reshard]] — the growth verb for the
    * shard count itself, sourced from the old artifact's own shard tables
    * so appended batches survive). The new artifact publishes atomically
    * at its own identity path (`shardedIvfPath(sfDir, newShards)`) via the
    * same publish-or-short-circuit protocol as [[ensureShardedIvf]]; the
    * old artifact is then GC'd (skippable via `gcOld = false` when
    * in-flight readers still hold it — they keep working until the
    * operator deletes it, the Versioned-pointer discipline one level up).
    * Calibration does not transfer: the new root has no `nprobe.CAL`
    * until recalibrated. Returns the new artifact path.
    */
  def reshardShardedIvf(spark: SparkSession, sfDir: String, oldShards: Int,
                        newShards: Int, nCellsPerShard: Int = -1,
                        gcOld: Boolean = true): String = {
    val (oldPath, newPath) =
      reshardPaths(oldShards, newShards)(shardedIvfPath(spark, sfDir, _))
    // (withWriterLease is re-entrant, so ShardedIvf.reshard's own
    // old-path acquisition folds into the helper's)
    reshardPublish(oldPath, newPath, gcOld) {
      PhysicalLayout.ensureDir(newPath) { tmp =>
        graft.operators.ShardedIvf.reshard(
          spark, oldPath, oldShards, tmp, newShards, nCellsPerShard)
        markComplete(tmp)
      }
    }
    newPath
  }

  /** CATCH-UP variant of [[reshardShardedIvf]] — the bounded-stall
    * protocol for a streaming-fed store artifact. [[reshardShardedIvf]]
    * holds the OLD root's writer lease across read+build+GC (correct
    * for scheduled offline maintenance, but at 10⁹ vectors that is
    * hours of blocked ingest); this variant splits the verb at the
    * lease ([[graft.operators.ShardedIvf.reshardCatchUpBuild]] /
    * `reshardCatchUpReplay`): the corpus-sized rebuild runs from a
    * SNAPSHOT with no old-root lease — appends keep landing — and the
    * old lease is taken only for the replay of the landed delta
    * (each shard's rows stamped after the snapshot), the publish rename, and the
    * GC, so nothing lands after the replay and is lost. The target
    * collision check runs under the NEW identity's lease, as in
    * [[reshardPublish]]. The publish rename is a POSIX primitive, so a
    * `://` store root is refused loudly (remote deployments publish at
    * a new root with the blocking variant, which needs no rename).
    * Returns the new artifact path.
    */
  def reshardShardedIvfCatchUp(spark: SparkSession, sfDir: String,
                               oldShards: Int, newShards: Int,
                               nCellsPerShard: Int = -1,
                               gcOld: Boolean = true): String = {
    val (oldPath, newPath) =
      reshardPaths(oldShards, newShards)(shardedIvfPath(spark, sfDir, _))
    require(!newPath.contains("://"),
      s"catch-up reshard publishes $newPath by directory rename (POSIX " +
        "only); on remote storage use reshardShardedIvf at a new root")
    Versioned.withWriterLease(newPath) {
      refuseExistingTarget(oldPath, newPath)
      val tmp = newPath + ".tmp-" + ProcessHandle.current().pid() +
        "-" + System.nanoTime()
      // PHASE 1 — no old-root lease: ingest flows for the whole rebuild
      graft.operators.ShardedIvf.reshardCatchUpBuild(
        spark, oldPath, oldShards, tmp, newShards, nCellsPerShard)
      // PHASE 2 — the only blocked window: replay, publish, GC under
      // the old lease (re-entrant with the replay's own acquisition)
      Versioned.withWriterLease(oldPath) {
        graft.operators.ShardedIvf.reshardCatchUpReplay(
          spark, oldPath, oldShards, tmp, newShards)
        markComplete(tmp)
        Option(new java.io.File(newPath).getParentFile).foreach(_.mkdirs())
        if (!new java.io.File(tmp).renameTo(new java.io.File(newPath))) {
          Versioned.metaBackend.deleteRecursively(tmp)
          throw new IllegalStateException(
            s"could not publish $newPath (rename failed)")
        }
        if (gcOld) Versioned.metaBackend.deleteRecursively(oldPath)
      }
    }
    newPath
  }

  /** [[reshardShardedIvf]] for the ENCODED composition: a sharded PQ
    * artifact reshards by RE-ENCODING the full-precision corpus at S′ —
    * its shards hold one-byte codes, not vectors (that is their point),
    * so the full-precision store (the same one every re-rank reads) is
    * the source of truth, and "reshard" = a collision-guarded atomic
    * build at the new identity + GC of the old artifact. Calibration
    * does not transfer. NOTE the source-of-truth consequence: vectors
    * appended to the ENCODED artifact survive the reshard only if they
    * are in the full-precision store this rebuilds from (for the
    * fixture-backed store that is the `embeddings` table) — unlike the
    * IVF reshard, which is artifact-sourced. Returns the new path.
    */
  def reshardShardedPq(spark: SparkSession, sfDir: String, oldShards: Int,
                       newShards: Int, nCellsPerShard: Int = -1,
                       gcOld: Boolean = true): String = {
    val (oldPath, newPath) =
      reshardPaths(oldShards, newShards)(shardedPqPath(spark, sfDir, _))
    reshardPublish(oldPath, newPath, gcOld) {
      ensureShardedPq(spark, sfDir, newShards, nCellsPerShard)
      // the rebuild re-encodes from the FULL-PRECISION store, which knows
      // nothing of the old artifact's tombstones — forward the old
      // shards' pending deletes so a deleted id stays deleted across the
      // reshard (the IVF reshard needs none of this: it is
      // artifact-sourced through the logical view, so deletes apply
      // physically). Materialized (sidecar writes) before the old root's
      // GC; the new root's next compact clears them.
      val pending = (0 until oldShards).flatMap(r =>
        Tombstones.read(spark, s"$oldPath/shard=$r"))
      if (pending.nonEmpty)
        graft.operators.ShardedPq.delete(spark, newPath, newShards,
          pending.reduce(_ unionAll _))
      ()
    }
    newPath
  }

  /** Default reshard trigger: the per-shard corpus size at which the
    * shard's own constant-occupancy geometry ([[autoCells]], target
    * occupancy 128) reaches 4096 cells. Well below any hard limit — a
    * 4096×128-d centroid array is ~4 MB, broadcastable by orders of
    * magnitude — because resharding EARLY is cheap (the artifact-sourced
    * re-tag measured CHEAPER than the original build at 100×,
    * SCALE.md round-15 §6) while resharding late means every probe and
    * retrain in the interim paid the oversized-shard cost.
    */
  val DefaultMaxShardRows: Long = 4096L * 128

  /** GROWTH LOOP for the shard count — the `-IfNeeded` form of
    * [[reshardShardedIvf]], completing the maintenance symmetry
    * (retrainIvfIfNeeded judges drift, compactIfNeeded judges segment
    * counts, this judges per-shard corpus growth): appends hash-route
    * into a FIXED S forever, so the mean per-shard corpus grows with
    * the total and each shard marches back toward the single-index
    * ceiling. See [[reshardShardedIfNeeded]]. Returns the serving (path,
    * shards) pair either way, so a maintenance scheduler can call it
    * unconditionally and follow the pointer.
    */
  def reshardShardedIvfIfNeeded(spark: SparkSession, sfDir: String,
                                shards: Int,
                                maxShardRows: Long = DefaultMaxShardRows,
                                gcOld: Boolean = true): (String, Int) =
    reshardShardedIfNeeded(spark, sfDir, shards, maxShardRows,
      graft.operators.ShardedIvf, "ivfsh")(
      reshardShardedIvf(spark, sfDir, shards, _, gcOld = gcOld))

  /** [[reshardShardedIvfIfNeeded]] for the ENCODED composition: over the
    * line it reshards via [[reshardShardedPq]] — which re-encodes from
    * the full-precision store, the documented source-of-truth difference
    * from the artifact-sourced IVF loop.
    */
  def reshardShardedPqIfNeeded(spark: SparkSession, sfDir: String,
                               shards: Int,
                               maxShardRows: Long = DefaultMaxShardRows,
                               gcOld: Boolean = true): (String, Int) =
    reshardShardedIfNeeded(spark, sfDir, shards, maxShardRows,
      graft.operators.ShardedPq, "pqsh")(
      reshardShardedPq(spark, sfDir, shards, _, gcOld = gcOld))

  /** The ONE store-level growth loop: judge the mean per-shard LOGICAL
    * rows against `maxShardRows` ([[graft.operators.Sharded.grownShards]]
    * — S footer-count jobs when no tombstones are pending, no corpus
    * scan); over the line, `reshardTo` S′ = ceil(total / maxShardRows)
    * (> S whenever the trigger fires, and sized so the post-reshard mean
    * sits AT the policy line) and return the new pair. `prefix` names the
    * kind's store identity (`<prefix><S>_<tag>`): a scheduler re-invoking
    * with a now-stale configured S (the artifact was resharded and GC'd)
    * gets a diagnostic naming the serving artifacts, not an opaque
    * missing-path failure from the first shard read.
    */
  private def reshardShardedIfNeeded(spark: SparkSession, sfDir: String,
                                     shards: Int, maxShardRows: Long,
                                     sharded: graft.operators.Sharded,
                                     prefix: String)(
      reshardTo: Int => String): (String, Int) = {
    val path = shardedPath(spark, sfDir, prefix, shards)
    if (!Versioned.metaBackend.exists(s"$path/_SUCCESS")) {
      val siblings = Versioned.metaBackend.list(root(spark))
        .filter(e => e.isDir && e.name.startsWith(prefix) &&
          e.name.endsWith(tag(sfDir)))
        .map(_.name)
      throw new IllegalStateException(
        s"no sharded artifact at S=$shards for $sfDir ($path) — it was " +
          "likely resharded and GC'd; follow the (path, shards) pair a " +
          "prior reshard returned" +
          (if (siblings.nonEmpty)
            s" (serving artifacts for this corpus: ${siblings.mkString(", ")})"
          else ""))
    }
    sharded.verifyShards(path, shards)
    val total = (0 until shards)
      .map(r => sharded.kind.logical(spark, s"$path/shard=$r").count()).sum
    graft.operators.Sharded.grownShards(total, shards, maxShardRows) match {
      case None => (path, shards)
      case Some(newShards) => (reshardTo(newShards), newShards)
    }
  }

  /** [[calibratePqShortlist]] for a sharded PQ root: one pass over the
    * unioned per-shard ADC frames sizes the smallest PER-SHARD re-rank
    * depth holding `target` recall@k, published as ONE `shortlist.CAL`
    * at the root. The sidecar records the REQUESTED probe policy
    * verbatim (per-shard resolved widths differ across shards), and the
    * sentinel honors it only at that policy —
    * [[graft.operators.PqIndex.resolveShortlist]].
    */
  def calibrateShardedPqShortlist(spark: SparkSession, path: String,
                                  shards: Int, fullPrecision: org.apache.spark.sql.DataFrame,
                                  target: Double = 0.9, k: Int = 10,
                                  nProbe: Int = graft.operators.IvfIndex.NProbeAuto,
                                  maxPanel: Int = 32): PqShortCal = {
    graft.operators.ShardedPq.verifyShards(path, shards)
    val corpus = fullPrecision.select("vec_id", "label", "embedding")
      .filter(org.apache.spark.sql.functions.col("vec_id") =!= 0)
    val panel = graft.operators.AnnEval.rowPanel(corpus, maxPanel)
    val hist = graft.operators.AnnCalibrate.widthHistogram(
      graft.operators.AnnCalibrate.shardedPqShortlistWidths(
        spark, path, shards, corpus, panel, k, nProbe))
    val total = hist.map(_._2).sum.toDouble
    val ceiling = hist.filter(_._1 != Int.MaxValue).map(_._2).sum / total
    val (shortlist, measured) =
      graft.operators.AnnCalibrate.calibrateWidth(hist, target)
        .getOrElse(throw new IllegalStateException(
          f"recall target $target%.3f exceeds the cell-pruning ceiling " +
            f"$ceiling%.3f at this nProbe on $path — widen the PROBE, the " +
            "shortlist cannot recover neighbors in unprobed cells"))
    val cal = PqShortCal(shortlist, measured, target, k, panel.size, nProbe,
      ProbeCalSemanticsVersion)
    writeCal(path, ShortCalSidecar, cal)
    cal
  }

  /** INCREMENTAL maintenance: write new vectors' rows (assign / encode)
    * with the EXISTING model (no retrain — the standard IVF/IVF-PQ append
    * path: quantizer geometry drifts slowly, so retraining is a scheduled
    * rebuild, not a per-batch cost) into the cell-partitioned layout.
    * Idempotent via the vec_id anti-join; probe results over
    * build(A)+append(B) equal probes over the rows of A ∪ B with the same
    * model (ArtifactStoresSpec).
    *
    * Each effective append logs an ERROR WATERMARK into `path/qerr` —
    * (append_seq, n_vectors, mean_sq_err of the appended batch under the
    * existing model: assignment distortion / quantization error). A
    * drifting corpus shows a rising series, the signal that the scheduled
    * retrain is due ([[retrainIfNeeded]]; asserted in ArtifactStoresSpec).
    * The written rows carry the same seq, so the data table is its own
    * append journal ([[IndexKind.journal]]). Returns the rows written (0
    * for a redelivered batch, which logs no watermark row).
    */
  private[graft] def append(spark: SparkSession, kind: IndexKind, path: String,
                            newVectors: DataFrame): Long =
    Versioned.withWriterLease(path) {
      val model = kind.loadModel(spark, path)
      val dir = kind.dataDir(path)
      val existing = Fs.readParquet(spark, dir).select("vec_id").distinct()
      // executed ONCE for its three consumers (count, error stats, rows
      // write) by an eager checkpoint; a persist() would be unsafe — the
      // write's refreshByPath(dir) drops a cached plan over `dir`, and the
      // recompute would anti-join the just-written rows and read EMPTY
      val fresh = ScaleOps.checkpointed(
        newVectors.join(existing, Seq("vec_id"), "left_anti"))
      val n = fresh.count()
      if (n > 0) {
        // the seq this batch takes; the lease makes the peek race-free
        val seq = nextSeq(spark, path)
        val stats = statsMeanOf(spark, kind.stats(spark, fresh, model))
        stamped(kind.rows(spark, fresh, model), seq)
          .write.mode("append").partitionBy("cell").parquet(dir)
        logWatermark(spark, path, seq, stats)
      }
      n
    }

  def appendIvf(spark: SparkSession, path: String, newVectors: DataFrame): Unit =
    append(spark, IndexKind.Ivf, path, newVectors)

  def appendPq(spark: SparkSession, path: String, newVectors: DataFrame): Unit =
    append(spark, IndexKind.Pq, path, newVectors)

  /** Small-file COMPACTION of the data table: scheduled appends leave one
    * file set per append inside every cell directory; the rewrite
    * repartitions by cell (≈ one file per cell) and publishes behind a
    * [[Versioned]] pointer — the first compaction UPGRADES the plain
    * layout to the pointer protocol (reads fall back to the plain dir
    * until then, so existing artifacts are untouched), and the legacy dir
    * is removed once a later compaction proves the pointer authoritative.
    * Readers mid-probe keep their resolved version.
    */
  private[graft] def compact(spark: SparkSession, kind: IndexKind, path: String,
                             nCells: Int): Unit =
    Versioned.withWriterLease(path) {
    val hadPointer = Versioned.readPointer(path, kind.table).isDefined
    // rows keep their write seq (a catch-up window stays `seq > w` across
    // the rewrite); rows of pre-seq files rewrite with a null seq, or the
    // whole table without the column (IndexKind.journal)
    val all = kind.journal(spark, path)
    // an ENTIRELY tombstoned corpus rewrites to zero rows — a partitionBy
    // write then emits NO files (partition dirs only exist per value) and
    // the published version is unreadable (schema inference finds
    // nothing); a flat empty file instead would mix layouts with the next
    // partitioned append. Refuse loudly: the logical-delete design keeps
    // serving (empty results) and appending (new ids) WITHOUT the
    // compact, so a fully-deleted artifact either keeps its sidecar or
    // gets GC'd/rebuilt by the operator.
    require(!all.isEmpty,
      s"compacting $path would publish an EMPTY ${kind.table} version " +
        "(every row is tombstoned) — an empty partitioned rewrite is " +
        "unreadable; keep serving through the sidecar, or GC/rebuild")
    Versioned.publish(path, kind.table, -1L) { v =>
      all.repartition(nCells, col("cell")).write.partitionBy("cell").parquet(v)
    }
    // the plain legacy dir has had no new readers since the first pointer
    // publish — remove it once a SECOND compaction confirms that
    if (hadPointer) deleteLegacy(path, kind.table)
    // `all` is the LOGICAL view, so the rewrite applied any tombstones
    // physically; publish-then-clear (a crash in between leaves
    // tombstones that anti-join nothing — never resurrected rows)
    Tombstones.clear(spark, path)
    DeleteLog.clear(spark, path)
  }

  def compactIvf(spark: SparkSession, path: String, nCells: Int = 16): Unit =
    compact(spark, IndexKind.Ivf, path, nCells)

  def compactPq(spark: SparkSession, path: String, nCells: Int = 16): Unit =
    compact(spark, IndexKind.Pq, path, nCells)

  /** DELETE vectors — the lifecycle verb takedowns and
    * right-to-be-forgotten requests need: propagating a removal through a
    * derived index must not rewrite 100 TB per request. Same LSM
    * discipline as the dedup stores ([[MinhashStore.delete]]): `ids` (one
    * column, the vec_ids) append to the artifact's [[Tombstones]] sidecar
    * under the writer lease (cost ∝ deleted ids), every reader (the
    * kind's logical view — probes, calibration, drift, retrain, reshard;
    * PQ's anti-joins BEFORE the ADC scan, so deleted codes never occupy
    * shortlist slots) anti-joins it immediately, and the next [[compact]]
    * (or a retrain, which rewrites the corpus anyway) applies it
    * physically and clears the sidecar.
    *
    * Contract until that compact: a tombstoned id stays deleted —
    * [[append]]'s idempotence anti-join reads PHYSICAL presence, so
    * re-adding a deleted vector requires a compact first (the documented
    * trade that keeps appends one anti-join instead of a
    * generation-reconciling merge). The calibration sidecar is NOT
    * invalidated: deletes thin cells the same way appends fill them —
    * bounded staleness under the same measured policy (SCALE.md round-15
    * §2), with the retrain drift gate as the backstop.
    *
    * Deletes JOURNAL as well as tombstone ([[DeleteLog.record]],
    * journal-first — its crash-ordering note): the sidecar alone cannot
    * witness a removal across a mid-window compact (the physical apply
    * clears it), and the catch-up reshard needs exactly that witness to
    * keep its delta replay delete-safe. Cost ∝ deleted ids, like the
    * sidecar write itself.
    */
  private[graft] def delete(spark: SparkSession, kind: IndexKind, path: String,
                            ids: DataFrame): Unit =
    Versioned.withWriterLease(path) {
      DeleteLog.record(spark, path, ids)
      Tombstones.add(spark, path, ids)
    }

  def deleteIvf(spark: SparkSession, path: String, ids: DataFrame): Unit =
    delete(spark, IndexKind.Ivf, path, ids)

  def deletePq(spark: SparkSession, path: String, ids: DataFrame): Unit =
    delete(spark, IndexKind.Pq, path, ids)

  /** SELF-SCHEDULING physical apply for the delete sidecar (the
    * PostingStore.compactIfNeeded pattern on the deletes axis): the
    * logical-delete design is cheap only while the sidecar stays small —
    * every probe broadcasts it, and a sidecar that grows toward the
    * corpus turns "negligible anti-join" into a real per-query tax. When
    * the tombstoned-id count exceeds `maxDeletedFraction` of the
    * PHYSICAL corpus, compact (apply + clear) at the model's own cell
    * count. The check costs one sidecar count and one footer count; under
    * the line it does nothing. Returns whether a compact ran. A
    * maintenance scheduler calls it unconditionally after takedown
    * batches, like the other `-IfNeeded` verbs.
    */
  private[graft] def compactIfDeleted(spark: SparkSession, kind: IndexKind,
                                      path: String,
                                      maxDeletedFraction: Double): Boolean = {
    require(maxDeletedFraction > 0, s"maxDeletedFraction=$maxDeletedFraction")
    val deleted = Tombstones.read(spark, path)
      .map(_.distinct().count()).getOrElse(0L)
    if (deleted == 0) return false
    val physical = kind.physical(spark, path).count()
    if (deleted < maxDeletedFraction * physical) false
    else if (kind.logical(spark, path).isEmpty) {
      // fully deleted: compact would publish an unreadable empty version
      // (compact refuses) — keep serving through the sidecar; a
      // scheduler loop must not crash on this state every pass
      System.err.println(s"[graft] $path is fully tombstoned — compact " +
        "skipped (GC/rebuild the artifact, or let new appends regrow it)")
      false
    } else {
      compact(spark, kind, path, kind.cells(kind.loadModel(spark, path)))
      true
    }
  }

  def compactIvfIfDeleted(spark: SparkSession, path: String,
                          maxDeletedFraction: Double = 0.1): Boolean =
    compactIfDeleted(spark, IndexKind.Ivf, path, maxDeletedFraction)

  def compactPqIfDeleted(spark: SparkSession, path: String,
                         maxDeletedFraction: Double = 0.1): Boolean =
    compactIfDeleted(spark, IndexKind.Pq, path, maxDeletedFraction)

  /** The `append_seq` the next `qerr` watermark row takes: the log's
    * current row count (0 before the first row). An fs existence check,
    * not exception-driven control flow: an expected missing path surfaced
    * as ERROR-level listener noise on every first append when probed by
    * catching PATH_NOT_FOUND.
    */
  private[graft] def nextSeq(spark: SparkSession, path: String): Long =
    if (!Fs.exists(spark, s"$path/qerr")) 0L
    else Fs.readParquet(spark, s"$path/qerr").count()

  /** Append one (n_vectors, mean_sq_err, append_seq) watermark row to the
    * artifact's `qerr` log — the error series every append emits; a
    * rising series is the retrain-due signal, CONSUMED by
    * [[retrainIfNeeded]].
    */
  private def logWatermark(spark: SparkSession, path: String, seq: Long,
                           stats: (Long, Double)): Unit = {
    import spark.implicits._
    Seq((stats._1, stats._2, seq)).toDF("n_vectors", "mean_sq_err", "append_seq")
      .coalesce(1).write.mode("append").parquet(s"$path/qerr")
  }

  /** The data-table rows of one write, stamped with the qerr `seq` it logs. */
  private def stamped(rows: DataFrame, seq: Long): DataFrame =
    rows.withColumn(IndexKind.SeqColumn, lit(seq))

  /** A fresh geometry's full-corpus error (`stats`, under the model just
    * built or retrained) logged as watermark `seq` — the [[nextSeq]] its
    * rows were [[stamped]] with — and recorded as the drift baseline, with
    * drift counted from the row after it.
    */
  private def stampBaseline(spark: SparkSession, path: String, seq: Long,
                            stats: DataFrame): Unit = {
    val (n, mean) = statsMeanOf(spark, stats)
    logWatermark(spark, path, seq, (n, mean))
    writeBaseline(path, mean, seq + 1)
  }

  /** Execute a one-row (n_vectors, mean_sq_err) stats frame. */
  private def statsMeanOf(spark: SparkSession,
                          stats: DataFrame): (Long, Double) = {
    import spark.implicits._
    stats
      .select(org.apache.spark.sql.functions.col("n_vectors").cast("long"),
        org.apache.spark.sql.functions.col("mean_sq_err").cast("double"))
      .as[(Long, Double)].head()
  }

  // ---------------------------------------------------------------------
  // Drift baseline + scheduled retrain: the consumer of the qerr series.
  // ---------------------------------------------------------------------

  /** Version of the error SEMANTICS a `qerr.BASELINE` mean was computed
    * under. A baseline is only comparable to fresh watermarks computed the
    * same way; when the engine changes what "assignment distortion" means,
    * this version bumps and [[rebaselineIfStale]] recomputes the baseline
    * in place instead of letting the cross-semantics comparison fire one
    * spurious recall-gated retrain.
    *
    *   v1 — pre-round-11: exact-min distortion at every k, no zero-pad
    *        tail term for ragged vectors;
    *   v2 — round-11/12 semantics: above `IvfIndex.HierThreshold` cells
    *        the distortion of the REAL grouped assignment (>= the exact
    *        min), and ragged vectors score with the centroid-tail term on
    *        BOTH the flat and grouped paths (affects flat-path small-k
    *        artifacts too when the corpus has ragged vectors).
    */
  val DistortionSemanticsVersion = 2

  /** `qerr.BASELINE` sidecar: `<meanSqErr> <firstDriftSeq> <semver>` — the
    * mean error of the CURRENT geometry over the corpus it was (re)trained
    * on, the first qerr append_seq that counts as post-baseline drift, and
    * the [[DistortionSemanticsVersion]] the mean was computed under (a
    * legacy 2-field sidecar reads as version 1). Written atomically
    * (tmp + ATOMIC_MOVE) at build and after every retrain.
    */
  private def baselineFile(path: String) = s"$path/qerr.BASELINE"

  private def writeBaseline(path: String, mean: Double, firstDriftSeq: Long): Unit =
    Versioned.metaBackend.writeAtomic(baselineFile(path),
      s"$mean $firstDriftSeq $DistortionSemanticsVersion")

  /** (mean, firstDriftSeq, semanticsVersion); 2-field legacy → version 1.
    * Unparseable content (corrupt file, or a future layout this build does
    * not know) reads as NO baseline — the retrain entry points then
    * rebaseline under current semantics instead of this throwing an
    * uncontextualized MatchError/NumberFormatException mid-maintenance.
    */
  private def readBaseline(path: String): Option[(Double, Long, Int)] =
    Versioned.metaBackend.readString(baselineFile(path)).flatMap { content =>
      try {
        content.trim.split(" ") match {
          case Array(m, s) => Some((m.toDouble, s.toLong, 1))
          case Array(m, s, v) => Some((m.toDouble, s.toLong, v.toInt))
          case _ => throw new NumberFormatException("field count")
        }
      } catch {
        case _: NumberFormatException =>
          System.err.println(s"[graft] unparseable qerr.BASELINE at " +
            s"${baselineFile(path)} (content: '${content.trim.take(80)}'): " +
            "treating as absent — the next retrain check rebaselines")
          None
      }
    }

  /** Rebaseline an artifact whose `qerr.BASELINE` predates the current
    * [[DistortionSemanticsVersion]] — or has NO baseline at all (a
    * pre-round-8 artifact, or a corrupt sidecar read as absent): recompute
    * the baseline mean under the CURRENT semantics (one corpus scan via
    * `stats`) and mark every existing qerr row pre-baseline, so drift
    * measured from here on is corpus drift, not a semantics change. The
    * no-sidecar case matters because [[driftFactor]]'s legacy fallback
    * compares the FIRST qerr row (v1-computed) against v2 watermarks —
    * exactly the cross-semantics comparison the version stamp exists to
    * prevent; the retrain entry points must never act on it. Returns true
    * when a rewrite happened; the scan runs at most once per upgraded
    * artifact.
    */
  private def rebaselineIfStale(spark: SparkSession, path: String)
                               (stats: => DataFrame): Boolean =
    readBaseline(path) match {
      case Some((_, _, ver)) if ver == DistortionSemanticsVersion => false
      case other => // version-stale, corrupt, or missing sidecar: rebaseline
        // A FUTURE-semantics baseline (a newer binary wrote it) is as
        // incomparable as a past one: honoring its mean would judge drift
        // across a semantics boundary this binary cannot interpret — the
        // same reads-as-absent contract the CAL sidecars enforce.
        // Rebaseline under THIS binary's semantics with a diagnostic.
        other.filter(_._3 > DistortionSemanticsVersion).foreach { case (_, _, ver) =>
          System.err.println(s"[graft] qerr.BASELINE at $path has semantics " +
            s"v$ver > supported v$DistortionSemanticsVersion: treating as " +
            "stale — rebaselining under current semantics")
        }
        val seq = nextSeq(spark, path)
        val (_, mean) = statsMeanOf(spark, stats)
        writeBaseline(path, mean, seq)
        true
    }

  /** Measured drift of the appended corpus against the build-time baseline:
    * ratio of the n-weighted mean error of every post-baseline qerr row to
    * the baseline mean. None when nothing has been appended since the
    * baseline (or the artifact predates the qerr log). A pre-round-8
    * artifact without a `qerr.BASELINE` sidecar treats its EARLIEST
    * watermark row as the baseline (conservative, and exactly what that
    * row meant when it was written).
    *
    * Upgrade note (intended behavior): the round-11/12 semantics change
    * ([[DistortionSemanticsVersion]] v2) inflates post-upgrade watermarks
    * relative to a v1 baseline in two reachable cases — (a) k >
    * `IvfIndex.HierThreshold` artifacts, where `assignmentDistortion` now
    * reports the REAL grouped assignment's distortion (>= the exact min
    * the v1 baseline recorded), and (b) ANY-k artifacts over a
    * ragged-vector corpus, where the flat-path distance now accumulates
    * the centroid zero-pad tail term that v1 dropped. This read-only
    * monitor reports the cross-semantics ratio as-is (a drift jump on an
    * upgraded artifact is the semantics, not the corpus); the RETRAIN
    * entry points neutralize it by rebaselining under current semantics
    * (one corpus scan, no retrain) before comparing — see
    * [[rebaselineIfStale]].
    */
  def driftFactor(spark: SparkSession, path: String): Option[Double] = {
    import spark.implicits._
    if (!Fs.exists(spark, s"$path/qerr")) return None // no appends yet
    val rows = spark.read.parquet(s"$path/qerr")
      .select(org.apache.spark.sql.functions.col("n_vectors").cast("long"),
        org.apache.spark.sql.functions.col("mean_sq_err").cast("double"),
        org.apache.spark.sql.functions.col("append_seq").cast("long"))
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    if (rows.isEmpty) return None
    val (baseMean, fromSeq) = readBaseline(path)
      .map { case (m, s, _) => (m, s) }
      .getOrElse {
        val first = rows.head
        (first._2, first._3 + 1)
      }
    val drift = rows.filter(_._3 >= fromSeq)
    if (drift.isEmpty) None
    else {
      val n = drift.map(_._1).sum
      if (n == 0) None
      else {
        val wmean = drift.map(r => r._1 * r._2).sum / n
        // a zero baseline (a training corpus the model fit exactly — e.g.
        // a first micro-batch with <= nCells vectors) must not DISABLE the
        // loop: any positive post-baseline error is then infinite drift,
        // not un-measurable drift
        if (baseMean > 0.0) Some(wmean / baseMean)
        else if (wmean > 0.0) Some(Double.PositiveInfinity)
        else Some(1.0)
      }
    }
  }

  /** Loud failure of the retrain recall gate: the candidate geometry is
    * DISCARDED (its pointers are never published), the live index keeps
    * serving, and the operator gets a real error instead of a silent
    * recall regression.
    */
  final class RetrainRecallGateFailed(msg: String) extends IllegalStateException(msg)

  /** CLOSE THE WATERMARK LOOP: when the appended corpus has drifted
    * `factor`x past the build-time baseline, retrain the model on the
    * CURRENT corpus at the live cell count (the kind's default would
    * silently revert an autoCells-built artifact to the fixture class),
    * re-write every row, recall-gate the candidate geometry, and publish
    * data table + model sidecars behind atomic [[Versioned]] pointers. The
    * scheduled-rebuild half of the [[append]] contract ("retraining is a
    * scheduled rebuild, not a per-batch cost") — called from the streaming
    * maintenance sink like the compactIfNeeded family; the per-batch cost
    * when drift is below threshold is one read of the tiny qerr log.
    *
    * The corpus: an IVF artifact is self-contained (`fullPrecision` None —
    * its full-precision vectors live in its own logical table). A PQ
    * artifact carries codes only (that is its point), so the caller
    * supplies the full-precision corpus (vec_id, label, embedding — at
    * scale, the cold store the re-rank already reads), minus this
    * artifact's tombstones.
    *
    * Publication order (single writer, crash-self-healing): data table →
    * model → baseline reset. A reader between the pointer flips sees
    * new-geometry rows probed with the old model — a VALID probe with
    * degraded recall for that sub-second window, never wrong data (cells
    * are filtered then scored exactly). A crash anywhere in the window
    * leaves qerr still above threshold, so the next maintenance call
    * re-runs the retrain, which is deterministic (seeded sample of the
    * same corpus) and converges to the same state. A retrain drops the
    * kind's calibration sidecar: a width or depth sized for the OLD
    * geometry is stale.
    *
    * Returns true iff a retrain was performed. Throws
    * [[RetrainRecallGateFailed]] (nothing published) when the candidate's
    * measured panel recall falls below `recallFloor`.
    */
  private[graft] def retrainIfNeeded(spark: SparkSession, kind: IndexKind,
                                     path: String,
                                     fullPrecision: Option[DataFrame],
                                     factor: Double, recallFloor: Double,
                                     nProbe: Int, k: Int,
                                     shortlist: Int): Boolean =
    Versioned.withWriterLease(path) {
    def source = fullPrecision.getOrElse(kind.logical(spark, path))
      .select("vec_id", "label", "embedding")
    // a semantics-stale baseline is rebaselined (one scan), never retrained
    rebaselineIfStale(spark, path)(
      kind.stats(spark, source, kind.loadModel(spark, path)))
    if (!driftFactor(spark, path).exists(_ > factor)) return false
    // the caller's full-precision corpus doesn't know about THIS
    // artifact's deletions — re-encoding it verbatim would resurrect
    // every tombstoned id; anti-join first, clear after the publish
    val corpus =
      if (fullPrecision.isEmpty) source
      else Tombstones.applyTo(spark, path, source, "vec_id")
    val model = kind.train(spark, corpus, kind.cells(kind.loadModel(spark, path)))
    val rows = kind.rows(spark, corpus, model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (recallFloor > 0) {
        val panel = graft.operators.AnnEval.rowPanel(corpus)
        val exact = graft.operators.AnnEval.exactTopK(spark, corpus, panel, k)
        val recall = graft.operators.AnnEval.meanRecall(
          kind.topKFrames(spark, rows, model, corpus, panel, k, nProbe, shortlist),
          exact)
        if (recall < recallFloor)
          throw new RetrainRecallGateFailed(
            s"${kind.name} retrain candidate at $path measured panel recall@$k " +
              f"$recall%.3f < floor $recallFloor%.3f: keeping the live geometry")
      }
      val parts = kind.modelParts(spark, model)
      val hadPointer = (kind.table +: parts.map(_._1))
        .filter(Versioned.readPointer(path, _).isDefined)
      val seq = nextSeq(spark, path)
      Versioned.publish(path, kind.table, -1L) { v =>
        // clustered: one file per cell (IvfIndex.save's rationale)
        stamped(rows, seq).repartition(col("cell"))
          .write.partitionBy("cell").parquet(v)
      }
      parts.foreach { case (name, write) => Versioned.publish(path, name, -1L)(write) }
      hadPointer.foreach(deleteLegacy(path, _))
      stampBaseline(spark, path, seq, kind.stats(spark, corpus, model))
      invalidateCal(path, kind.cal)
      // the rewrite applied any tombstones physically; a stale sidecar left
      // behind would silently hide the next append of a formerly-deleted
      // id. Cleared LAST: the lazy `corpus` plan above still references
      // the sidecar's parquet files, so clearing before its final
      // execution is a FILE_NOT_EXIST crash (a crash before this line
      // leaves tombstones that anti-join nothing — the same benign
      // publish-then-clear gap as compact's)
      Tombstones.clear(spark, path)
      DeleteLog.clear(spark, path)
      true
    } finally rows.unpersist()
  }

  def retrainIvfIfNeeded(spark: SparkSession, path: String, factor: Double = 2.0,
                         recallFloor: Double = 0.2,
                         nProbe: Int = IvfIndex.NProbeAuto,
                         k: Int = 10): Boolean =
    retrainIfNeeded(spark, IndexKind.Ivf, path, None, factor, recallFloor, nProbe, k,
      PqIndex.DefaultShortlist)

  def retrainPqIfNeeded(spark: SparkSession, path: String,
                        fullPrecision: DataFrame,
                        factor: Double = 2.0, recallFloor: Double = 0.2,
                        nProbe: Int = IvfIndex.NProbeAuto, k: Int = 10,
                        shortlist: Int = PqIndex.DefaultShortlist): Boolean =
    retrainIfNeeded(spark, IndexKind.Pq, path, Some(fullPrecision), factor,
      recallFloor, nProbe, k, shortlist)

  /** Calibrated-probe sidecar `nprobe.CAL`:
    * `<width> <measuredRecall> <target> <k> <panelSize> <semver>` — the
    * smallest probe width (per shard, for a sharded artifact) whose
    * measured recall@k over a hash-stratified panel of the artifact's own
    * corpus meets `target`, plus the measurement parameters so a reader
    * can tell WHAT the width was sized for. Written atomically (single
    * PUT — no lease needed); honored at probe time by passing
    * [[graft.operators.IvfIndex.NProbeCalibrated]] anywhere `nProbe` is
    * accepted. Like `qerr.BASELINE`, unparseable or future-layout content
    * reads as ABSENT (with a diagnostic naming the file), so a corrupt
    * sidecar degrades to the auto policy instead of failing probes.
    */
  final case class ProbeCal(width: Int, measured: Double, target: Double,
                            k: Int, panelSize: Int, version: Int)

  val ProbeCalSemanticsVersion = 1

  /** A calibration sidecar: its file name in the artifact and the policy
    * probes fall back to while it is absent. `nprobe.CAL` and
    * `shortlist.CAL` share one reader, writer and invalidator.
    */
  private[graft] final case class CalSidecar(file: String, fallback: String)

  private[graft] val ProbeCalSidecar = CalSidecar("nprobe.CAL", "the auto policy")
  private[graft] val ShortCalSidecar = CalSidecar("shortlist.CAL", "the default shortlist")

  /** Write a calibration record as its fields in declaration order. */
  private def writeCal(path: String, sidecar: CalSidecar, cal: Product): Unit =
    Versioned.metaBackend.writeAtomic(s"$path/${sidecar.file}",
      cal.productIterator.mkString(" "))

  /** Read a calibration record: `parse` maps the space-separated fields
    * (any other field count, or a bad number, reads as absent), and a
    * record whose `version` is newer than [[ProbeCalSemanticsVersion]]
    * reads as absent too — its value may mean something else entirely,
    * and honoring it silently is the cross-semantics class
    * qerr.BASELINE's version stamp exists to prevent.
    */
  private def readCal[C](path: String, sidecar: CalSidecar)(
      parse: PartialFunction[Array[String], C])(version: C => Int): Option[C] = {
    val file = s"$path/${sidecar.file}"
    Versioned.metaBackend.readString(file).flatMap { content =>
      try Some(parse.applyOrElse(content.trim.split(" "),
        (_: Array[String]) => throw new NumberFormatException("field count")))
      catch {
        case _: NumberFormatException =>
          System.err.println(s"[graft] unparseable ${sidecar.file} at $file " +
            s"(content: '${content.trim.take(80)}'): treating as absent — " +
            s"probes fall back to ${sidecar.fallback}")
          None
      }
    }.filter { cal =>
      val ok = version(cal) <= ProbeCalSemanticsVersion
      if (!ok) System.err.println(s"[graft] ${sidecar.file} at $path has " +
        s"semantics v${version(cal)} > supported v$ProbeCalSemanticsVersion: " +
        s"treating as absent — probes fall back to ${sidecar.fallback}")
      ok
    }
  }

  def readProbeCal(path: String): Option[ProbeCal] =
    readCal(path, ProbeCalSidecar) {
      case Array(w, m, t, k, p, v) =>
        ProbeCal(w.toInt, m.toDouble, t.toDouble, k.toInt, p.toInt, v.toInt)
    }(_.version)

  /** The calibrated probe width of an artifact, if one was measured and
    * published — what [[graft.operators.IvfIndex.NProbeCalibrated]]
    * resolves to at probe entry points that know their artifact path.
    */
  def calibratedWidth(path: String): Option[Int] = readProbeCal(path).map(_.width)

  /** Drop an artifact's calibration sidecar — called by the RETRAIN path
    * after publishing a new geometry, because a width or depth sized
    * against the old cell layout says nothing about the new one (the
    * calibration analogue of resetting `qerr.BASELINE`; probes degrade to
    * the sidecar's fallback until the operator recalibrates). Appends do
    * NOT invalidate: the calibration drifts with the corpus exactly like
    * the quantizer does, and the same `qerr` watermarks that schedule the
    * retrain bound that staleness — the retrain then lands here.
    */
  private def invalidateCal(path: String, sidecar: CalSidecar): Unit = {
    val file = s"$path/${sidecar.file}"
    if (Versioned.metaBackend.exists(file)) {
      Versioned.metaBackend.deleteRecursively(file)
      System.err.println(s"[graft] dropped stale ${sidecar.file} at $path " +
        s"(geometry retrained) — probes use ${sidecar.fallback} until recalibrated")
    }
    // a shard artifact's geometry change stales its sharded ROOT's
    // calibration too — keyed here to the retrain itself, so a direct
    // per-shard retrain of `path/shard=r` (the documented per-shard
    // lifecycle) cannot leave the composition's calibration stale
    path match {
      case ShardChild(parent) => invalidateCal(parent, sidecar)
      case _ => ()
    }
  }

  private val ShardChild = "(.*)/shard=\\d+$".r

  /** Measure the artifact's recall-vs-width curve in one pass
    * ([[graft.operators.AnnCalibrate]]) over a hash-stratified panel of
    * its OWN corpus, size the smallest width holding `target` recall@k,
    * and publish it as the `nprobe.CAL` sidecar. `shardPaths` length 1
    * calibrates a single index; the sharded entry below calibrates the
    * composition (each shard probing `width` of ITS cells — exactly what
    * `AnnEval.shardedTopK` executes). Cost: one exact panel grading —
    * the same work class as the retrain recall gate. Returns the
    * published calibration.
    */
  private def calibrateAt(spark: SparkSession, sidecarPath: String,
                          shardPaths: Seq[String], target: Double, k: Int,
                          maxPanel: Int, maxWidth: Int): ProbeCal = {
    val corpus = shardPaths
      .map(p => IvfIndex.loadVectors(spark, p)
        .select("vec_id", "label", "embedding"))
      .reduce(_ unionAll _)
      .filter(org.apache.spark.sql.functions.col("vec_id") =!= 0)
    val panel = graft.operators.AnnEval.rowPanel(corpus, maxPanel)
    val hist = graft.operators.AnnCalibrate.widthHistogram(
      graft.operators.AnnCalibrate.neighborWidths(spark, shardPaths, panel, k, maxWidth))
    val (width, measured) = graft.operators.AnnCalibrate.calibrateWidth(hist, target)
      .getOrElse(throw new IllegalStateException(
        f"recall target $target%.3f unreachable within maxWidth=$maxWidth at " +
          s"$sidecarPath — raise maxWidth (full probe is exact on the " +
          "artifact's own corpus)"))
    val cal = ProbeCal(width, measured, target, k, panel.size, ProbeCalSemanticsVersion)
    writeCal(sidecarPath, ProbeCalSidecar, cal)
    cal
  }

  /** `shortlist.CAL` sidecar for the IVF-PQ artifact:
    * `<shortlist> <measuredRecall> <target> <k> <panelSize> <nProbe> <semver>`
    * — the smallest ADC re-rank shortlist whose measured recall@k meets
    * `target` AT the recorded probe width (the curve is conditional on
    * `nProbe`: shortlist only sizes what the probed cells contain).
    * Same robustness contract as `nprobe.CAL`.
    */
  final case class PqShortCal(shortlist: Int, measured: Double, target: Double,
                              k: Int, panelSize: Int, nProbe: Int, version: Int)

  def readShortCal(path: String): Option[PqShortCal] =
    readCal(path, ShortCalSidecar) {
      case Array(s, m, t, k, p, np, v) =>
        PqShortCal(s.toInt, m.toDouble, t.toDouble, k.toInt, p.toInt, np.toInt, v.toInt)
    }(_.version)

  /** The calibrated re-rank shortlist of a PQ artifact, if published —
    * what [[graft.operators.PqIndex.ShortlistCalibrated]] resolves to.
    */
  def calibratedShortlist(path: String): Option[Int] =
    readShortCal(path).map(_.shortlist)

  /** Size the smallest ADC re-rank shortlist holding `target` recall@k on
    * the PQ artifact's own corpus at the engine-default (or given) probe
    * width, and publish it as `shortlist.CAL`. The reachable ceiling is
    * the CELL-PRUNING recall at that `nProbe` (no shortlist recovers a
    * neighbor in an unprobed cell) — an unreachable target throws with
    * that diagnosis, pointing at `nProbe`, not the shortlist.
    */
  def calibratePqShortlist(spark: SparkSession, path: String,
                           fullPrecision: org.apache.spark.sql.DataFrame,
                           target: Double = 0.9, k: Int = 10,
                           nProbe: Int = graft.operators.IvfIndex.NProbeAuto,
                           maxPanel: Int = 32): PqShortCal = {
    val corpus = fullPrecision.select("vec_id", "label", "embedding")
      .filter(org.apache.spark.sql.functions.col("vec_id") =!= 0)
    val panel = graft.operators.AnnEval.rowPanel(corpus, maxPanel)
    // one model load serves the rank pass AND the recorded probe width
    val model = PqIndex.loadModel(spark, path)
    val encoded = PqIndex.loadEncoded(spark, path)
      .filter(org.apache.spark.sql.functions.col("vec_id") =!= 0)
    val hist = graft.operators.AnnCalibrate.widthHistogram(
      graft.operators.AnnCalibrate.pqShortlistWidthsFrames(
        spark, encoded, model, corpus, panel, k, nProbe))
    val total = hist.map(_._2).sum.toDouble
    val ceiling = hist.filter(_._1 != Int.MaxValue).map(_._2).sum / total
    val (shortlist, measured) =
      graft.operators.AnnCalibrate.calibrateWidth(hist, target)
        .getOrElse(throw new IllegalStateException(
          f"recall target $target%.3f exceeds the cell-pruning ceiling " +
            f"$ceiling%.3f at this nProbe on $path — widen the PROBE, the " +
            "shortlist cannot recover neighbors in unprobed cells"))
    val np = graft.operators.IvfIndex.resolveNProbe(nProbe,
      model.coarse.centroids.length)
    val cal = PqShortCal(shortlist, measured, target, k, panel.size, np,
      ProbeCalSemanticsVersion)
    writeCal(path, ShortCalSidecar, cal)
    cal
  }

  /** Calibrate a single persisted IVF artifact to `target` recall@k and
    * publish its `nprobe.CAL`.
    */
  def calibrateIvf(spark: SparkSession, path: String, target: Double = 0.9,
                   k: Int = 10, maxPanel: Int = 32,
                   maxWidth: Int = 4096): ProbeCal =
    calibrateAt(spark, path, Seq(path), target, k, maxPanel, maxWidth)

  /** Calibrate a sharded IVF artifact ([[graft.operators.ShardedIvf]]) to
    * `target` recall@k: ONE sidecar at the sharded root holding the
    * per-shard width — the deployment answer to the measured sharded
    * recall trade (SCALE.md round-14 §1: a shard answers from an
    * S×-sparser subset, so holding a target needs a wider probe than the
    * single-index fraction; this measures exactly how much wider, on the
    * artifact's own geometry and corpus).
    */
  def calibrateShardedIvf(spark: SparkSession, path: String, shards: Int,
                          target: Double = 0.9, k: Int = 10,
                          maxPanel: Int = 32, maxWidth: Int = 4096): ProbeCal = {
    graft.operators.ShardedIvf.verifyShards(path, shards) // a width sized
    // over the wrong S would publish a wrong calibration at the root
    calibrateAt(spark, path, (0 until shards).map(r => s"$path/shard=$r"),
      target, k, maxPanel, maxWidth)
  }

  private def deleteLegacy(path: String, name: String): Unit =
    Versioned.metaBackend.deleteRecursively(s"$path/$name")

  // ensureDir's completeness marker is a top-level _SUCCESS; the parquet
  // sub-tables each write their own, but the artifact is only complete once
  // ALL sub-tables are down
  private def markComplete(dir: String): Unit =
    Versioned.metaBackend.createMarker(s"$dir/_SUCCESS")
}
