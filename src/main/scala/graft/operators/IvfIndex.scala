package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor (§2.C similarity-search
  * scale path, alternative to random-hyperplane LSH): a small k-means coarse
  * quantizer partitions the corpus into cells; a query probes only the
  * `nProbe` nearest cells, turning a full scan into a pruned partition scan.
  *
  * Deterministic: centroid init = lowest-id vectors, fixed Lloyd iteration
  * count, no RNG. The quantizer trains on a bounded driver-side sample
  * (independent of corpus size); assignment is a narrow map over the corpus
  * — flat exact scan up to [[HierThreshold]] cells, two-level grouped
  * search ([[Hier]], O(2√k·dim) per row) above it, so the build stays
  * linear in n when `VectorIndexStore.autoCells` grows k with the corpus
  * (the round-10 drill measured the flat path quadratic there: 443 s at
  * 100× — SCALE.md "final-engine drill numbers").
  * At 100 TB the cell id becomes the table's partition column so probes are
  * partition-pruned at the source.
  */
object IvfIndex {

  /** Above this cell count, [[Model.nearestCell]] routes through the
    * two-level grouped accelerator ([[Model.hier]]) instead of the flat
    * O(k·dim) scan. Every declared fixture-scale geometry (8/16 cells —
    * `VectorIndexStore.autoCells` resolves to 16 at ≤ 2048 vectors) stays
    * on the flat EXACT path, so all pinned oracles/goldens/artifacts are
    * bit-identical; the accelerator engages exactly where autoCells makes
    * k grow with the corpus — the regime where the round-10 drill measured
    * the flat assignment going quadratic (O(n·k), k ∝ n → 443 s at 100×,
    * SCALE.md "final-engine drill numbers").
    */
  val HierThreshold = 64

  /** Deterministic two-level assignment accelerator: the k flat centroids
    * are themselves k-means-clustered into g ≈ √k GROUPS (init = first g
    * centroids, fixed Lloyd iterations, ties to the lowest index — no
    * RNG); an assignment scans the g group centers, then only the member
    * centroids of the [[Hier.WProbeGroups]] nearest groups:
    * O((√k + wProbe·k/√k)·dim) = O(2√k·dim) per vector instead of
    * O(k·dim). Derived purely from the centroid array, so it never touches
    * the artifact format — saved models are unchanged and the accelerator
    * is rebuilt identically (deterministic build) wherever the model is
    * deserialized.
    */
  final case class Hier(groupCenters: Array[Array[Double]],
                        members: Array[Array[Int]]) extends Serializable {

    /** Nearest centroid id under grouped search (ties by lowest id). */
    def nearestCell(v: Array[Float], centroids: Array[Array[Double]]): Int = {
      // distances to every group center (g ≈ √k of them)
      val g = groupCenters.length
      val gd = new Array[Double](g)
      var gi = 0
      while (gi < g) { gd(gi) = Hier.sqDist(groupCenters(gi), v); gi += 1 }
      // wProbe nearest groups (ties by lowest group id): tiny g — two
      // linear argmin passes beat a sort
      var best = -1
      var bestD = Double.MaxValue
      var probed = 0
      val taken = new Array[Boolean](g)
      while (probed < Hier.WProbeGroups && probed < g) {
        var bg = -1
        var bgD = Double.MaxValue
        gi = 0
        while (gi < g) {
          if (!taken(gi) && gd(gi) < bgD) { bgD = gd(gi); bg = gi }
          gi += 1
        }
        taken(bg) = true
        val mem = members(bg)
        var mi = 0
        while (mi < mem.length) {
          val c = mem(mi)
          val d = Hier.sqDist(centroids(c), v)
          if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
          mi += 1
        }
        probed += 1
      }
      best
    }

    /** [[nearestCell]] over a double-array vector — the training-sample
      * variant used by the grouped Lloyd rounds in `trainFromSample`.
      * Same scan order and tie-breaking as the float path.
      */
    def nearestCellD(v: Array[Double], centroids: Array[Array[Double]]): Int = {
      val g = groupCenters.length
      val gd = new Array[Double](g)
      var gi = 0
      while (gi < g) { gd(gi) = Hier.sqDistDD(groupCenters(gi), v); gi += 1 }
      var best = -1
      var bestD = Double.MaxValue
      var probed = 0
      val taken = new Array[Boolean](g)
      while (probed < Hier.WProbeGroups && probed < g) {
        var bg = -1
        var bgD = Double.MaxValue
        gi = 0
        while (gi < g) {
          if (!taken(gi) && gd(gi) < bgD) { bgD = gd(gi); bg = gi }
          gi += 1
        }
        taken(bg) = true
        val mem = members(bg)
        var mi = 0
        while (mi < mem.length) {
          val c = mem(mi)
          val d = Hier.sqDistDD(centroids(c), v)
          if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
          mi += 1
        }
        probed += 1
      }
      best
    }

    /** `n` nearest centroid ids under grouped search (for corpus-side
      * multi-assignment): groups are scanned in ascending center distance
      * until at least [[Hier.WProbeGroups]] groups AND `n` candidate
      * centroids have been seen; candidates sort by (distance, id).
      */
    def nearestCells(v: Array[Float], centroids: Array[Array[Double]],
                     n: Int): Seq[Int] = {
      // n <= 0 returns empty like the flat Model.nearestCells (take(n)) —
      // without this the pinned head would make the grouped path return
      // one cell where the flat path returns none
      if (n <= 0) return Seq.empty
      val g = groupCenters.length
      val order = groupCenters.indices
        .map(gi => (Hier.sqDist(groupCenters(gi), v), gi))
        .sorted.map(_._2)
      val cand = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
      // Min over the first min(W, g) groups — EXACTLY nearestCell's scan
      // set and tie rule — pinned as the head so that
      // `assignCells(v, n).head == nearestCell(v)` holds even when fewer
      // than n candidates force extra groups to be probed (an extra group
      // may hold a closer centroid, which must rank AFTER the
      // single-assignment cell, not displace it).
      var headBest: (Double, Int) = null
      val headGroups = math.min(Hier.WProbeGroups, g)
      var probed = 0
      while (probed < g &&
        (probed < Hier.WProbeGroups || cand.length < n)) {
        members(order(probed)).foreach { c =>
          cand += ((Hier.sqDist(centroids(c), v), c))
        }
        probed += 1
        if (probed == headGroups && cand.nonEmpty) headBest = cand.min
      }
      if (headBest == null && cand.nonEmpty) headBest = cand.min
      if (cand.isEmpty) Seq.empty
      else {
        val head = headBest._2
        head +: cand.sorted.iterator.map(_._2)
          .filter(_ != head).take(n - 1).toSeq
      }
    }
  }

  object Hier {
    /** Groups scanned per assignment — the standard multi-probe guard
      * against boundary vectors whose true nearest centroid sits in a
      * close-but-not-closest group. 3 measures ≥ 0.9 exact-agreement even
      * on UNIFORM random vectors (no cluster structure — the worst case
      * for a grouped search; IvfIndexSpec gates it), at O((√k + 3k/√k)·dim)
      * per row — still √k-class.
      */
    val WProbeGroups = 3

    /** Squared L2 in the CENTROID's dimension space — the engine-wide
      * ragged-vector convention (declared at `trainFromSample`): a vector
      * shorter than the centroid reads as zero-padded (the centroid-tail
      * squares are accumulated); vector dims beyond the centroid's are
      * ignored, exactly as training ignores them in the sums.
      *
      * Every IVF/PQ kernel takes its vector as `Array[Float]`, decoded
      * once at the typed-Dataset boundary (`.as[(..., Array[Float])]`).
      * Spark decodes an array column typed as a Scala `Seq` into a linked
      * `List`, whose `v(i)` is O(i): these per-dimension loops would turn
      * O(dims²) per vector per centroid.
      */
    private[operators] def sqDist(cent: Array[Double], v: Array[Float]): Double = {
      var d = 0.0
      var i = 0
      val lim = math.min(cent.length, v.length)
      while (i < lim) { val t = cent(i) - v(i); d += t * t; i += 1 }
      while (i < cent.length) { val t = cent(i); d += t * t; i += 1 }
      d
    }

    /** [[sqDist]] over doubles; first argument is the centroid/center. */
    private[operators] def sqDistDD(cent: Array[Double], b: Array[Double]): Double = {
      var d = 0.0
      var i = 0
      val lim = math.min(cent.length, b.length)
      while (i < lim) { val t = cent(i) - b(i); d += t * t; i += 1 }
      while (i < cent.length) { val t = cent(i); d += t * t; i += 1 }
      d
    }

    /** Group the centroids: deterministic k-means with g = ceil(√k)
      * (same init/iteration discipline as [[trainFromSample]]), then one
      * final hard assignment; empty groups are dropped so every probed
      * group has members. O(k·√k·dim) once per model — negligible next to
      * one corpus sweep.
      */
    private[operators] def build(centroids: Array[Array[Double]]): Hier = {
      val k = centroids.length
      val g = math.ceil(math.sqrt(k.toDouble)).toInt
      var centers = centroids.take(g).map(_.clone())
      val assignTo = (cs: Array[Array[Double]], v: Array[Double]) => {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val d = sqDistDD(cs(c), v)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
      for (_ <- 0 until 5) {
        val dims = centers(0).length
        val sums = Array.fill(g)(new Array[Double](dims))
        val counts = new Array[Long](g)
        centroids.foreach { v =>
          val b = assignTo(centers, v)
          counts(b) += 1
          var i = 0
          val lim = math.min(dims, v.length)
          while (i < lim) { sums(b)(i) += v(i); i += 1 }
        }
        centers = Array.tabulate(g) { c =>
          if (counts(c) == 0) centers(c) else sums(c).map(_ / counts(c))
        }
      }
      val memberBuf = Array.fill(g)(scala.collection.mutable.ArrayBuffer.empty[Int])
      centroids.zipWithIndex.foreach { case (v, i) =>
        memberBuf(assignTo(centers, v)) += i
      }
      val nonEmpty = memberBuf.indices.filter(memberBuf(_).nonEmpty)
      Hier(nonEmpty.map(centers(_)).toArray,
        nonEmpty.map(memberBuf(_).toArray).toArray)
    }
  }

  final case class Model(centroids: Array[Array[Double]]) extends Serializable {

    /** Grouped accelerator, present only past [[HierThreshold]] cells.
      * Transient + lazy: each deserialized copy (driver, every executor a
      * broadcast reaches) rebuilds it on first use, deterministically, so
      * all copies assign identically.
      */
    @transient private lazy val hier: Option[Hier] =
      if (centroids.length > HierThreshold) Some(Hier.build(centroids)) else None

    def nearestCell(v: Array[Float]): Int = hier match {
      case Some(h) => h.nearestCell(v, centroids)
      case None => nearestCells(v, 1).head
    }

    /** Exact n nearest centroids by full scan — the PROBE-side primitive
      * (per-query, O(k·dim) on a handful of queries) and the flat
      * assignment path below [[HierThreshold]]. Deliberately NOT routed
      * through [[hier]]: probe cell selection drives recall directly and
      * its cost is per-query, not per-corpus-row.
      */
    def nearestCells(v: Array[Float], n: Int): Seq[Int] = {
      val dists = centroids.indices.map { c =>
        (c, Hier.sqDist(centroids(c), v))
      }
      dists.sortBy { case (c, d) => (d, c) }.take(n).map(_._1)
    }

    /** `n` nearest cells for CORPUS-SIDE multi-assignment (SemDeDup's
      * multi-probe expansion — one call per corpus row): exact
      * [[nearestCells]] below [[HierThreshold]], grouped search above it.
      * Probe-side cell selection keeps using [[nearestCells]] directly
      * (per-query cost, exactness buys recall).
      */
    def assignCells(v: Array[Float], n: Int): Seq[Int] = hier match {
      case Some(h) => h.nearestCells(v, centroids, n)
      case None => nearestCells(v, n)
    }

    /** Squared L2 distance of `v` to its ASSIGNED centroid — the coarse
      * assignment distortion (the k-means objective per row). A corpus
      * drifting away from the trained cells shows a rising mean, which is
      * the signal that the scheduled retrain is due (appendIvf logs it).
      * Below [[HierThreshold]] this is the exact min over all centroids;
      * above it, the distance to the centroid [[nearestCell]] actually
      * picks — the distortion of the REAL assignment, consistent with
      * what the index serves (and the sweep stays O(2√k·dim) per row
      * instead of the flat O(k·dim) that made the baseline sweep half of
      * the quadratic build).
      */
    def assignmentDistortion(v: Array[Float]): Double = hier match {
      case Some(h) => Hier.sqDist(centroids(h.nearestCell(v, centroids)), v)
      case None =>
        var best = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          val d = Hier.sqDist(centroids(c), v)
          if (d < best) best = d
          c += 1
        }
        best
    }
  }

  /** One-row coarse-distortion summary of assigning `vectors` with
    * `model`: (n_vectors, mean_sq_err) — the IVF analogue of
    * [[PqIndex.quantizationStats]].
    */
  def distortionStats(spark: SparkSession, vectors: org.apache.spark.sql.DataFrame,
                      model: Model): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bc = spark.sparkContext.broadcast(model)
    vectors.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (_, e) => bc.value.assignmentDistortion(e) }
      .toDF("sq_err")
      .agg(count(lit(1)).as("n_vectors"), avg("sq_err").as("mean_sq_err"))
  }

  /** Bounded driver-side training sample (corpus-size independent): the
    * first `sampleSize` vectors by id, as doubles. Shared by [[train]] and
    * PqIndex.train so composed training collects the sample ONCE.
    */
  private[operators] def collectSample(spark: SparkSession, embeddings: DataFrame,
                                       sampleSize: Int): Array[Array[Double]] = {
    import spark.implicits._
    embeddings.orderBy("vec_id").limit(sampleSize)
      .select("embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble))
  }

  /** Ceiling on DRIVER-SAMPLE-trainable cell counts: past this, the
    * driver-side sample (8 points/cell, see [[train]]) approaches ~1M
    * vectors and flat-k-means-on-the-driver is the wrong tool even
    * grouped. A corpus that WANTS more cells at constant occupancy
    * (≳ 17M vectors at occupancy 128) is routed to
    * [[trainDistributed]] — Lloyd as Spark jobs over the full corpus,
    * nothing corpus- or sample-sized ever collected. The remaining hard
    * boundary above that path is the broadcastability of the k×dim
    * centroid array itself — the same object every probe already
    * broadcasts, ~1 GB at k = 10⁶ × dim 128 — which is inherent to a
    * single flat IVF coarse quantizer, not to its training.
    */
  val MaxTrainCells = 131072

  /** Train the coarse quantizer: deterministic k-means (init = first k
    * vectors by id, `iters` Lloyd steps) on a driver-side sample.
    *
    * The sample GROWS with k (≥ 8 points per cell): constant-occupancy
    * geometries (`VectorIndexStore.autoCells`) grow k with the corpus,
    * and a fixed 2048-vector sample would first degenerate (k ≈ samples:
    * one point per centroid) and then throw (k > samples) — the round-11
    * self-review caught this one decade past the 100× drill point
    * (k = 2048 at ~262k vectors). At the fixture and drill-10×
    * geometries (k ≤ 256) the effective sample is the historical 2048,
    * so nothing previously measured or pinned moves.
    *
    * Past `maxTrainCells` the call routes to [[trainDistributed]]
    * instead of refusing (round 13; the parameter exists so specs can
    * exercise the routing without a 131k-cell corpus).
    */
  def train(spark: SparkSession, embeddings: DataFrame, k: Int,
            iters: Int = 5, sampleSize: Int = 2048,
            maxTrainCells: Int = MaxTrainCells): Model = {
    if (k > maxTrainCells) return trainDistributed(spark, embeddings, k, iters)
    val eff = math.max(sampleSize, 8 * k)
    trainFromSample(collectSample(spark, embeddings, eff), k, iters)
  }

  /** DISTRIBUTED coarse-quantizer training — the off-driver path past
    * [[MaxTrainCells]]: each Lloyd round runs as Spark jobs over the
    * FULL corpus. Assignment is the same narrow map the index build
    * uses (broadcast current centroids; grouped O(√k·dim) search above
    * [[HierThreshold]]); the update clusters the corpus by assigned
    * cell (one hash shuffle of n rows per round) and folds each cell's
    * vectors SEQUENTIALLY IN ASCENDING vec_id ORDER inside the cell's
    * single sorted partition, so the floating-point sum order — and
    * therefore the trained model — is identical regardless of
    * parallelism, partition count, or cluster layout (spec-asserted).
    * A map-side partial aggregation would shuffle k-ish rows instead of
    * n but makes the sum order layout-dependent; a deterministic model
    * is an engine-wide contract (persisted artifacts, retrain
    * convergence, oracle stability), so the build job pays the n-row
    * shuffle — linear per round, `iters` rounds total.
    *
    * Only model-sized data crosses the driver: the k-row init sample
    * and one (cell, sum, count) row per non-empty cell per round.
    * (Bit-determinism assumes unique vec_ids — the engine-wide vectors
    * contract; duplicate ids would make the sort's tie order, and so
    * the fold order, layout-dependent.)
    * Ragged vectors follow the engine-wide convention (missing tail =
    * zero, dims beyond the centroid's ignored — see [[Hier.sqDist]]).
    * Not bit-identical to [[trainFromSample]] at equal k (full corpus
    * vs 8/cell sample; different fold order) — recall parity at equal
    * k is what IvfIndexSpec gates.
    *
    * Reference lineage: this is the engine's build-scale answer to the
    * reference's HNSW index DDL (db_utils.py:93-110) — the one
    * component whose BUILD must scale for 100 TB ingest to hold.
    */
  def trainDistributed(spark: SparkSession, embeddings: DataFrame, k: Int,
                       iters: Int = 5): Model = {
    import spark.implicits._
    var centroids = distinctInit(spark, embeddings, k)
    val dims = centroids(0).length
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(Model(centroids))
      val perCell = vecs
        .map { case (id, e) => (bc.value.nearestCell(e), id, e) }
        .toDF("cell", "vec_id", "embedding")
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .as[(Int, Long, Array[Float])]
        .mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Array[Double], Long)]
          var cur = Int.MinValue
          var acc: Array[Double] = null
          var n = 0L
          def flush(): Unit =
            if (acc != null) out += ((cur, acc, n))
          it.foreach { case (cell, _, e) =>
            if (cell != cur) { flush(); cur = cell; acc = new Array[Double](dims); n = 0L }
            var i = 0
            val lim = math.min(dims, e.length)
            while (i < lim) { acc(i) += e(i); i += 1 }
            n += 1
          }
          flush()
          out.iterator
        }
        .collect() // <= one row per non-empty cell: model-sized
      val next = centroids.map(_.clone())
      perCell.foreach { case (cell, sum, n) =>
        next(cell) = sum.map(_ / n) // empty cells keep their centroid
      }
      centroids = next
      bc.unpersist()
    }
    Model(centroids)
  }

  /** The first k DISTINCT vectors of `sample` (order-preserving), padded
    * with duplicates when the whole sample holds fewer than k distinct —
    * the SHARED duplicate-free k-means init head of both trainers (a
    * duplicate seed starves its twin cell for every Lloyd round; a
    * duplicate-free head is bit-identical to the historical take(k)).
    */
  private[operators] def dedupHead(sample: Array[Array[Double]],
                                   k: Int): Array[Array[Double]] = {
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    val distinct = sample.filter(v => seen.add(v.toSeq))
    (distinct ++ sample).take(k)
  }

  /** DISTINCT k-means init for [[trainDistributed]]: the first `k`
    * DISTINCT vectors in vec_id order. A duplicate embedding in the plain
    * head sample would seed two identical centroids, and since empty
    * cells keep their centroid every Lloyd round, the shadowed cell stays
    * degenerate for ALL iterations — wasted cells, reduced recall on
    * corpora with repeated head vectors. The sample enlarges
    * bounded-exponentially (k → 2k → 4k → 8k) only when the head carries
    * duplicates; a corpus with fewer than k distinct vectors in that
    * window pads with duplicates (degenerate cells are then inherent to
    * the corpus, not the init). Deterministic: vec_id order, first
    * occurrence wins — a duplicate-free head reproduces the historical
    * init exactly.
    */
  private def distinctInit(spark: SparkSession, embeddings: DataFrame,
                           k: Int): Array[Array[Double]] = {
    var size = k
    while (true) {
      val sample = collectSample(spark, embeddings, size)
      require(sample.length >= k, s"need >= $k corpus vectors")
      val head = dedupHead(sample, k)
      val distinctCount = head.map(_.toSeq).distinct.length
      if (distinctCount >= k || sample.length < size || size >= 8 * k)
        return head // enough distinct, or exhausted/capped: pad with dups
      size *= 2
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[train]] body over a pre-collected sample. Above [[HierThreshold]]
    * cells each Lloyd round assigns the sample through a grouped search
    * over the CURRENT centroids (rebuilt per round — centroids move), so
    * training is O(sample·√k·dim·iters) instead of O(sample·k·dim·iters):
    * with the sample itself ∝ k (see [[train]]) the flat form would be
    * the same O(k²) the assignment sweep just stopped paying. Grouped
    * Lloyd is the standard approximate-assignment k-means; deterministic
    * here (the accelerator build is), and the fixture geometries
    * (k ≤ 16 ≪ threshold) keep the exact flat rounds bit-identical.
    */
  private[operators] def trainFromSample(sample: Array[Array[Double]], k: Int,
                                         iters: Int): Model = {
    require(sample.length >= k, s"need >= $k sample vectors")
    // duplicate-free init ([[dedupHead]], shared with the distributed
    // trainer's distinctInit): < k distinct in the whole sample pads
    // with duplicates (the corpus owns its degenerate cells)
    var centroids = dedupHead(sample, k).map(_.clone())
    for (_ <- 0 until iters) {
      val dims = centroids(0).length
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      val cents = centroids // stable reference for the closure
      val assignOf: Array[Double] => Int =
        if (k > HierThreshold) {
          val h = Hier.build(cents)
          v => h.nearestCellD(v, cents)
        } else { v =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0
            var i = 0
            val lim = math.min(dims, v.length) // ragged vectors: missing tail = 0
            while (i < lim) { val t = cents(c)(i) - v(i); d += t * t; i += 1 }
            while (i < dims) { val t = cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
      sample.foreach { v =>
        val best = assignOf(v)
        counts(best) += 1
        var i = 0
        val lim = math.min(dims, v.length)
        while (i < lim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    Model(centroids)
  }

  /** Assign every corpus vector to its cell (narrow map, no shuffle). */
  def assign(spark: SparkSession, embeddings: DataFrame, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, label, e) => (id, label, e, bc.value.nearestCell(e)) }
      .toDF("vec_id", "label", "embedding", "cell")
  }

  /** Persist a trained index as a durable build-once artifact (the
    * reference's index is created once, idempotently, and queried forever —
    * db_utils.py:48,120-127; this is the engine's equivalent lifecycle):
    *
    *   `path/model`   — centroid sidecar, one row per cell (tiny; loaded to
    *                    the driver at probe time like any ANN model);
    *   `path/vectors` — the assigned corpus, parquet PARTITIONED BY cell —
    *                    the layout SCALE.md promises: a probe's
    *                    `cell IN (...)` filter becomes source-level
    *                    partition pruning, so `nProbe` of `nCells`
    *                    directories are ever listed or read.
    *
    * No training, encoding, or corpus scan happens after this write.
    *
    * The write CLUSTERS by cell first (one shuffle of the corpus): a raw
    * `partitionBy` write emits one file per (writer task × cell) — at a
    * deployment-scale geometry (1000 tasks × 100k cells) that is 10⁸
    * files from the INITIAL build alone, before compaction ever runs.
    * Clustered, the build lands exactly one file per cell (constant
    * occupancy keeps cells file-sized by construction); `compactIvf`
    * remains the owner of re-coalescing APPEND fragmentation.
    */
  def save(spark: SparkSession, model: Model, assigned: DataFrame, path: String): Unit = {
    saveModel(spark, model, s"$path/model")
    assigned.repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Write just the centroid sidecar — [[save]]'s model half, reused by the
    * retrain path which publishes a NEW model version behind a
    * [[graft.sources.Versioned]] pointer instead of overwriting in place.
    */
  private[graft] def saveModel(spark: SparkSession, model: Model, dir: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1).write.parquet(dir)
  }

  /** Resolve the current model directory: the [[graft.sources.Versioned]]
    * pointer once a retrain has published one, else the original `model`
    * sidecar [[save]] writes (backward compatible, like [[vectorsDir]]).
    */
  private[graft] def modelDir(path: String): String =
    graft.sources.Versioned.readPointer(path, "model")
      .map(c => s"$path/${c.dir}").getOrElse(s"$path/model")

  /** Load the centroid sidecar back into a [[Model]]. Doubles round-trip
    * parquet exactly, so the loaded model is bitwise the trained one
    * (asserted in IndexStoreSpec) — probe results cannot drift from the
    * build-time model.
    *
    * Served from the driver-side model cache: keyed by the resolved model
    * dir (and the SparkContext, so each context's work counters include
    * its own first load), valid while the dir's listing fingerprint
    * ([[graft.sources.Versioned.listingFingerprint]]) is unchanged. A
    * retrain publishes a new versioned dir; a rebuild of the unversioned
    * `model` dir writes new UUID-named part files — either moves the key
    * or the token, so a probe never sees a stale model, and a hit costs a
    * pointer read and one listing instead of a schema job and a collect.
    * Callers must not mutate the returned arrays.
    */
  def loadModel(spark: SparkSession, path: String): Model = {
    val dir = modelDir(path)
    models(s"${spark.sparkContext.applicationId}#$dir",
      graft.sources.Versioned.listingFingerprint(dir)) {
      import spark.implicits._
      val rows = spark.read.parquet(dir)
        .select("cell", "centroid").as[(Int, Seq[Double])]
        .collect().sortBy(_._1)
      Model(rows.map(_._2.toArray))
    }
  }

  /** Centroid doubles the model cache holds at once (128 MiB); a larger
    * model is loaded per call, as without a cache.
    */
  private val ModelCacheDoubles = 1L << 24

  private val models = new graft.sources.FreshnessMemo[Model](ModelCacheDoubles,
    _.centroids.iterator.map(_.length.toLong).sum)

  /** Resolve the current vectors directory: the [[graft.sources.Versioned]]
    * pointer when a compaction has published one, else the original
    * `vectors` layout [[save]] writes — backward compatible, so existing
    * artifacts read unchanged until their first compaction.
    */
  private[graft] def vectorsDir(path: String): String =
    graft.sources.Versioned.readPointer(path, "vectors")
      .map(c => s"$path/${c.dir}").getOrElse(s"$path/vectors")

  /** The persisted corpus with its `cell` partition column — feed straight
    * into [[search]] for a probe-only query (no training scan in the plan).
    *
    * This is the LOGICAL view: the artifact's `tombstones` sidecar
    * ([[graft.sources.Tombstones]], written by
    * [[graft.sources.VectorIndexStore.deleteIvf]]) is anti-joined out, so
    * every consumer — probes, calibration, drift stats, retrain, reshard —
    * sees deletions immediately without a corpus rewrite. The sidecar is
    * tiny (∝ deleted ids) and broadcast by Spark's size estimate, so the
    * anti-join costs one broadcast, never a corpus shuffle; with no
    * sidecar the frame is returned untouched (one existence check).
    * Physical presence (what [[graft.sources.VectorIndexStore.appendIvf]]'s
    * idempotence anti-join must see) reads [[loadVectorsRaw]].
    */
  def loadVectors(spark: SparkSession, path: String): DataFrame =
    graft.sources.Tombstones.applyTo(spark, path, loadVectorsRaw(spark, path), "vec_id")

  /** The PHYSICAL vectors table — tombstoned rows included. For verbs
    * whose contract is physical presence (append idempotence); readers
    * answering queries use [[loadVectors]]. The store's write `seq`
    * column is dropped (the catch-up journal reads it through
    * [[IndexKind.journal]]). The schema comes from one footer read on the
    * driver ([[graft.sources.Fs.readParquet]]), so loading launches no job.
    */
  def loadVectorsRaw(spark: SparkSession, path: String): DataFrame =
    graft.sources.Fs.readParquet(spark, vectorsDir(path)).drop(IndexKind.SeqColumn)

  /** Sentinel `nProbe` value: resolve the probe width from the model's
    * cell count via [[autoNProbe]] — the ENGINE DEFAULT probe policy.
    */
  val NProbeAuto: Int = -1

  /** Sentinel `nProbe` value: resolve the probe width from the artifact's
    * published `nprobe.CAL` calibration sidecar
    * ([[graft.sources.VectorIndexStore.calibrateIvf]] /
    * `calibrateShardedIvf` — the measured smallest width holding a recall
    * target on the artifact's own corpus). Honored by probe entry points
    * that know their artifact path ([[AnnEval.ivfTopK]],
    * [[AnnEval.shardedTopK]], [[ShardedIvf.search]]); an uncalibrated
    * artifact — or a path-less entry point — falls back to [[autoNProbe]].
    */
  val NProbeCalibrated: Int = -2

  /** Default probe-width fraction of the cell count. Measured (SCALE.md §8,
    * round-11 drill): holding the PROBED CELL FRACTION constant as
    * `autoCells` grows k with the corpus held recall@10 at 0.86 across two
    * decades (1×→100×) for +28% probe time, where a fixed nProbe=4 decayed
    * to 0.715. 2.6% is that measured fraction (nProbe 40 of 1563 cells at
    * the 100× point).
    */
  val NProbeFraction: Double = 0.026

  /** Probe width for a k-cell geometry under the constant-cell-fraction
    * policy: `max(floor, ceil(fraction·k))`. The floor keeps every pinned
    * fixture geometry (16 cells) at the historical nProbe 4, so declared
    * oracles are bit-identical under auto resolution.
    */
  def autoNProbe(nCells: Int, fraction: Double = NProbeFraction,
                 floor: Int = 4): Int =
    math.max(floor, math.ceil(nCells * fraction).toInt)

  /** `nProbe` argument resolution: [[NProbeAuto]] → [[autoNProbe]] of the
    * model's cell count; any explicit positive value is taken verbatim.
    * [[NProbeCalibrated]] resolves to the auto policy HERE (this is the
    * path-less fallback) — path-aware entry points intercept it first via
    * [[resolveNProbeAt]].
    */
  private[graft] def resolveNProbe(nProbe: Int, nCells: Int): Int =
    if (nProbe == NProbeAuto || nProbe == NProbeCalibrated) autoNProbe(nCells)
    else {
      // any other non-positive value — in particular PqIndex's distinct
      // ShortlistCalibrated sentinel (-3) transposed into this parameter —
      // must fail loudly, not probe zero cells and return empty results
      require(nProbe >= 1,
        s"nProbe=$nProbe is neither a positive width nor a known sentinel " +
          s"(NProbeAuto=$NProbeAuto, NProbeCalibrated=$NProbeCalibrated) — " +
          "a transposed shortlist sentinel must fail, not probe nothing")
      nProbe
    }

  /** Path-aware resolution: [[NProbeCalibrated]] reads the artifact's
    * `nprobe.CAL` sidecar (auto policy when absent); everything else
    * defers to [[resolveNProbe]].
    */
  private[graft] def resolveNProbeAt(artifactPath: String, nProbe: Int,
                                     nCells: Int): Int =
    if (nProbe == NProbeCalibrated)
      graft.sources.VectorIndexStore.calibratedWidth(artifactPath)
        .getOrElse(autoNProbe(nCells))
    else resolveNProbe(nProbe, nCells)

  /** [[resolveNProbeAt]] for a SHARDED root: the root's `nprobe.CAL` is
    * the per-shard width (that is what `calibrateShardedIvf` measured);
    * an uncalibrated root keeps the sentinel flowing so each shard's
    * model resolves its OWN auto policy downstream. The single shared
    * home of this resolution for `AnnEval.shardedTopK` and
    * `ShardedIvf.search`.
    */
  private[graft] def resolveShardedNProbeAt(rootPath: String, nProbe: Int): Int =
    if (nProbe == NProbeCalibrated)
      graft.sources.VectorIndexStore.calibratedWidth(rootPath).getOrElse(nProbe)
    else nProbe

  /** Approximate top-k: scan only the `nProbe` cells nearest to the query
    * vector, exact cosine within them. `nProbe` defaults to the
    * constant-cell-fraction policy ([[autoNProbe]]).
    */
  def search(spark: SparkSession, assigned: DataFrame, model: Model,
             query: Array[Float], k: Int, nProbe: Int = NProbeAuto): DataFrame = {
    val cells = model.nearestCells(query, resolveNProbe(nProbe, model.centroids.length))
    val qCol = lit(query).cast("array<float>")
    assigned
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("label"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"), qCol), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }
}
