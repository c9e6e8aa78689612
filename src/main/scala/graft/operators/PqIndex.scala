package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: product-quantized residuals inside IVF cells — the memory end of
  * the ANN spectrum (§2.C similarity search; the reference's index declares
  * a graph ANN, db_utils.py:93-110 — see SCALE.md "ANN memory story" for why
  * a partition-prunable IVF family, not a graph, is the distributed answer).
  *
  * Layout: the [[IvfIndex]] coarse quantizer assigns each vector a cell; the
  * residual (vector − cell centroid) is split into `m` subspaces, each
  * encoded as the id of its nearest per-subspace codebook centroid. A
  * 64-dim float32 vector (256 B) becomes `m` = 8 one-byte codes + a cell id:
  * 32× smaller, so a 100 TB embedding column's index fits ~3 TB of executor
  * memory cluster-wide while the full-precision column stays in cold
  * storage and is read only to re-rank shortlists.
  *
  * Search = ADC (asymmetric distance computation): per probed cell, a
  * (m × codes) table of exact sub-distances between the query residual and
  * every codebook entry; a row's approximate distance is m table lookups +
  * adds — no float vector is touched until the exact re-rank of the
  * shortlist.
  *
  * Determinism (oracle requirement): coarse quantizer and codebooks train
  * with the same seeded, RNG-free Lloyd iteration as [[IvfIndex.train]] on
  * a bounded driver-side sample (corpus-size independent); encoding and ADC
  * are pure functions of the model.
  */
object PqIndex {

  final case class Model(
      coarse: IvfIndex.Model,
      // codebooks(sub)(code) = centroid of that residual subspace, len subDim
      codebooks: Array[Array[Array[Double]]],
      subDim: Int) extends Serializable {

    def m: Int = codebooks.length

    def residual(v: Array[Float], cell: Int): Array[Double] = {
      val cent = coarse.centroids(cell)
      val r = new Array[Double](cent.length)
      var i = 0
      while (i < cent.length) {
        r(i) = (if (i < v.length) v(i).toDouble else 0.0) - cent(i)
        i += 1
      }
      r
    }

    /** Nearest codebook entry per subspace → m byte-sized codes. */
    def encode(v: Array[Float], cell: Int): Array[Byte] = {
      val r = residual(v, cell)
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val book = codebooks(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val idx = s * subDim + i
            val t = (if (idx < r.length) r(idx) else 0.0) - book(c)(i)
            d += t * t
            i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }

    /** Total squared quantization error of encoding `v` — the part of the
      * residual the m chosen codebook entries fail to capture (the per-row
      * ADC approximation error). Same nearest-entry scan as [[encode]],
      * accumulating the winning distances instead of the codes.
      */
    def quantError(v: Array[Float], cell: Int): Double = {
      val r = residual(v, cell)
      var total = 0.0
      var s = 0
      while (s < m) {
        val book = codebooks(s)
        var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val idx = s * subDim + i
            val t = (if (idx < r.length) r(idx) else 0.0) - book(c)(i)
            d += t * t
            i += 1
          }
          if (d < bestD) bestD = d
          c += 1
        }
        total += bestD
        s += 1
      }
      total
    }

    /** ADC lookup table for one probed cell: table(sub)(code) = squared L2
      * between the query's residual subvector and that codebook entry.
      */
    def adcTable(query: Array[Float], cell: Int): Array[Array[Double]] = {
      val r = residual(query, cell)
      Array.tabulate(m) { s =>
        val book = codebooks(s)
        Array.tabulate(book.length) { c =>
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val idx = s * subDim + i
            val t = (if (idx < r.length) r(idx) else 0.0) - book(c)(i)
            d += t * t
            i += 1
          }
          d
        }
      }
    }
  }

  /** Deterministic per-subspace k-means (init = first `codes` sample
    * residual subvectors, fixed Lloyd steps — the IvfIndex discipline).
    */
  private def trainCodebook(sub: Array[Array[Double]], codes: Int,
                            iters: Int): Array[Array[Double]] = {
    val k = math.min(codes, sub.length)
    var cents = sub.take(k).map(_.clone())
    val dims = cents(0).length
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      sub.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var i = 0
          while (i < dims) { val t = cents(c)(i) - v(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dims) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  /** Train coarse quantizer + residual codebooks on a bounded driver-side
    * sample (corpus-size independent, like [[IvfIndex.train]]).
    */
  def train(spark: SparkSession, embeddings: DataFrame,
            nCells: Int = 16, m: Int = 8, codes: Int = 16,
            iters: Int = 5, sampleSize: Int = 2048,
            maxTrainCells: Int = IvfIndex.MaxTrainCells): Model = {
    require(codes <= 256, s"codes=$codes does not fit one byte; encode would wrap")
    // ONE driver-side sample collect, shared by coarse + codebook
    // training. Same guards as IvfIndex.train (the round-11 bug class):
    // the sample grows with nCells (>= 8 points/cell — a fixed sample
    // first degenerates then throws as autoCells-style geometries grow
    // k), and past MaxTrainCells the COARSE quantizer trains off-driver
    // via trainDistributed; codebook k stays <= 256, for which the
    // bounded sample is statistically right at any corpus size —
    // MEASURED, not argued: PqIndexSpec's bounded-sample parity test
    // trains codebooks from the bounded sample vs 8x that sample over a
    // 10x tranche corpus (same coarse geometry) and the bounded sample
    // holds recall parity (0.313 vs 0.275 measured; SCALE.md round-14).
    val distributedCoarse = nCells > maxTrainCells
    val sample = IvfIndex.collectSample(spark, embeddings,
      if (distributedCoarse) sampleSize // codebooks only: bounded is right
      else math.max(sampleSize, 8 * nCells))
    val coarse =
      if (distributedCoarse)
        IvfIndex.trainDistributed(spark, embeddings, nCells, iters)
      else IvfIndex.trainFromSample(sample, nCells, iters)
    val dims = coarse.centroids(0).length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val subDim = dims / m
    // residuals of the sample w.r.t. their own cells — what search-time
    // residuals actually look like
    val res = sample.map { v =>
      val cell = coarse.nearestCell(v.map(_.toFloat))
      val cent = coarse.centroids(cell)
      Array.tabulate(dims)(i => (if (i < v.length) v(i) else 0.0) - cent(i))
    }
    val books = Array.tabulate(m) { s =>
      trainCodebook(res.map(r => r.slice(s * subDim, (s + 1) * subDim)), codes, iters)
    }
    Model(coarse, books, subDim)
  }

  /** Encode the corpus: (vec_id, label, cell, code) — a narrow map; the
    * full-precision vector is NOT carried (that is the point).
    */
  def encode(spark: SparkSession, embeddings: DataFrame, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, label, e) =>
        val cell = bc.value.coarse.nearestCell(e)
        (id, label, cell, bc.value.encode(e, cell))
      }
      .toDF("vec_id", "label", "cell", "code")
  }

  /** One-row quantization-error summary of encoding `vectors` with `model`:
    * (n_vectors, mean_sq_err). The mean squared ADC error is the index's
    * health metric — a corpus drifting away from the trained codebooks
    * shows a RISING error series across appends, which is the signal that a
    * scheduled retrain is due (appendPq logs this per append).
    */
  def quantizationStats(spark: SparkSession, vectors: DataFrame, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    vectors.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (_, e) =>
        bc.value.quantError(e, bc.value.coarse.nearestCell(e))
      }
      .toDF("sq_err")
      .agg(count(lit(1)).as("n_vectors"), avg("sq_err").as("mean_sq_err"))
  }

  /** Persist a trained IVF-PQ index (build-once / probe-many — the same
    * lifecycle as [[IvfIndex.save]]):
    *
    *   `path/coarse`    — coarse-quantizer centroid sidecar (cell, centroid);
    *   `path/codebooks` — residual codebooks (sub, code, centroid);
    *   `path/encoded`   — the PQ-encoded corpus (vec_id, label, code),
    *                      parquet partitioned by cell — at 100 TB this is
    *                      the ~3 TB index that lives hot while the
    *                      full-precision column stays cold; probes prune to
    *                      `nProbe` cell directories at the source.
    */
  def save(spark: SparkSession, model: Model, encoded: DataFrame, path: String): Unit = {
    saveModel(spark, model, s"$path/coarse", s"$path/codebooks")
    // clustered write: one file per cell, not one per (task × cell) —
    // see IvfIndex.save, same small-file rationale
    encoded.repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$path/encoded")
  }

  /** Write just the model sidecars — [[save]]'s model half, reused by the
    * retrain path which publishes NEW model versions behind
    * [[graft.sources.Versioned]] pointers instead of overwriting in place.
    */
  private[graft] def saveModel(spark: SparkSession, model: Model,
                               coarseDir: String, codebooksDir: String): Unit = {
    IvfIndex.saveModel(spark, model.coarse, coarseDir)
    saveCodebooks(spark, model, codebooksDir)
  }

  private[graft] def saveCodebooks(spark: SparkSession, model: Model,
                                   dir: String): Unit = {
    import spark.implicits._
    (for {
      s <- model.codebooks.indices
      c <- model.codebooks(s).indices
    } yield (s, c, model.codebooks(s)(c).toSeq)).toDF("sub", "code", "centroid")
      .repartition(1).write.parquet(dir)
  }

  /** Resolve current model sidecar dirs: the [[graft.sources.Versioned]]
    * pointers once a retrain has published them, else the plain layout
    * [[save]] writes (backward compatible, like [[encodedDir]]).
    */
  private[graft] def coarseDir(path: String): String =
    graft.sources.Versioned.readPointer(path, "coarse")
      .map(c => s"$path/${c.dir}").getOrElse(s"$path/coarse")

  private[graft] def codebooksDir(path: String): String =
    graft.sources.Versioned.readPointer(path, "codebooks")
      .map(c => s"$path/${c.dir}").getOrElse(s"$path/codebooks")

  /** Load the model sidecars back into a [[Model]] (bitwise the trained one
    * — doubles round-trip parquet exactly; subDim is recovered from the
    * codebook centroid length).
    */
  def loadModel(spark: SparkSession, path: String): Model = {
    import spark.implicits._
    val coarse = spark.read.parquet(coarseDir(path))
      .select("cell", "centroid").as[(Int, Seq[Double])]
      .collect().sortBy(_._1).map(_._2.toArray)
    val books = spark.read.parquet(codebooksDir(path))
      .select("sub", "code", "centroid").as[(Int, Int, Seq[Double])]
      .collect().groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3.toArray) }
    Model(IvfIndex.Model(coarse), books, books(0)(0).length)
  }

  /** Resolve the current encoded directory: the pointer when a compaction
    * has published one, else the original `encoded` layout (backward
    * compatible — see [[IvfIndex.vectorsDir]]).
    */
  private[graft] def encodedDir(path: String): String =
    graft.sources.Versioned.readPointer(path, "encoded")
      .map(c => s"$path/${c.dir}").getOrElse(s"$path/encoded")

  /** The persisted encoded corpus with its `cell` partition column.
    *
    * The LOGICAL view — the artifact's `tombstones` sidecar
    * ([[graft.sources.VectorIndexStore.deletePq]]) is anti-joined out
    * BEFORE the ADC scan, so deleted codes never enter a shortlist (a
    * post-shortlist filter would let deleted rows eat re-rank slots and
    * silently displace live candidates). Same cost shape as
    * [[IvfIndex.loadVectors]]: one existence check when clean, one
    * broadcast anti-join when tombstones exist. Physical presence (the
    * append idempotence anti-join) reads [[loadEncodedRaw]].
    */
  def loadEncoded(spark: SparkSession, path: String): DataFrame =
    graft.sources.Tombstones.applyTo(spark, path, loadEncodedRaw(spark, path), "vec_id")

  /** The PHYSICAL encoded table — tombstoned rows included, the write
    * `seq` column dropped (as [[IvfIndex.loadVectorsRaw]]).
    */
  def loadEncodedRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(encodedDir(path)).drop(IndexKind.SeqColumn)

  /** Default ADC re-rank shortlist when no measured calibration applies. */
  val DefaultShortlist = 50

  /** Sentinel `shortlist` value: resolve the re-rank depth from the
    * artifact's `shortlist.CAL` sidecar
    * ([[graft.sources.VectorIndexStore.calibratePqShortlist]] — the
    * measured smallest shortlist holding a recall target at the recorded
    * probe width). Honored by path-aware entry points
    * ([[AnnEval.pqTopK]]); an uncalibrated artifact falls back to
    * [[DefaultShortlist]].
    *
    * DISTINCT from [[IvfIndex.NProbeCalibrated]] (-2) on purpose: the two
    * sentinels flow through ADJACENT Int parameters of the same
    * signatures (`pqTopK`/`search` take nProbe then shortlist), so equal
    * values would let a transposed call silently resolve to the default
    * policy instead of erroring — [[resolveShortlist]] and
    * `IvfIndex.resolveNProbe` reject each other's sentinel loudly.
    */
  val ShortlistCalibrated: Int = -3

  /** `shortlist` argument resolution for PATH-LESS entry points
    * ([[adcShortlist]], [[search]], `AnnEval.pqTopKFrames`): the
    * calibration sentinel falls back to [[DefaultShortlist]] here —
    * without an artifact path there is no sidecar to read, and passing
    * the raw sentinel through would make `rn <= -3` silently return zero
    * rows (the IVF twin maps `NProbeCalibrated` to the auto policy the
    * same way in `resolveNProbe`). Path-aware entries (`AnnEval.pqTopK`)
    * intercept the sentinel first. Any OTHER non-positive value — in
    * particular a transposed `NProbeCalibrated` — is rejected loudly:
    * the silent-degradation class this resolution exists to prevent.
    */
  private[graft] def resolveShortlist(shortlist: Int): Int =
    if (shortlist == ShortlistCalibrated) DefaultShortlist
    else {
      require(shortlist >= 1,
        s"shortlist=$shortlist is neither a positive re-rank depth nor the " +
          s"ShortlistCalibrated sentinel ($ShortlistCalibrated) — a " +
          "transposed nProbe sentinel must fail, not serve a default depth")
      shortlist
    }

  /** `shortlist` argument resolution for an artifact at `path`: the
    * calibration sentinel reads its `shortlist.CAL`, which holds only at
    * the probe width it was sized for — `nProbe` as the sidecar records
    * it (the single index records its one resolved width; a sharded root
    * records the requested policy verbatim, since per-shard resolved
    * widths differ). A mismatch or an uncalibrated artifact degrades
    * loudly to [[DefaultShortlist]]: serving a calibrated depth at another
    * width would void its recall promise silently.
    */
  private[graft] def resolveShortlist(path: String, nProbe: Int, shortlist: Int): Int =
    if (shortlist == ShortlistCalibrated)
      graft.sources.VectorIndexStore.readShortCal(path) match {
        case Some(cal) if cal.nProbe == nProbe => cal.shortlist
        case Some(cal) =>
          System.err.println(s"[graft] shortlist.CAL at $path was sized " +
            s"at nProbe=${cal.nProbe} but this probe serves nProbe=$nProbe" +
            " — its recall promise does not transfer; using the default " +
            "shortlist (recalibrate at the serving width)")
          DefaultShortlist
        case None => DefaultShortlist
      }
    else resolveShortlist(shortlist)

  /** ADC shortlist: probe the `nProbe` nearest cells, score every encoded
    * row by m table lookups, keep the `shortlist` smallest approximate
    * distances (TakeOrderedAndProject). Returns (vec_id, label, approx_d).
    */
  def adcShortlist(spark: SparkSession, encoded: DataFrame, model: Model,
                   query: Array[Float], nProbe: Int = IvfIndex.NProbeAuto,
                   shortlist: Int = PqIndex.DefaultShortlist): DataFrame = {
    import spark.implicits._
    val cells = model.coarse.nearestCells(query,
      IvfIndex.resolveNProbe(nProbe, model.coarse.centroids.length))
    val tables = cells.map(c => c -> model.adcTable(query, c)).toMap
    val bc = spark.sparkContext.broadcast(tables)
    encoded
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("label"), col("cell"), col("code"))
      .as[(Long, Int, Int, Array[Byte])]
      .map { case (id, label, cell, code) =>
        val t = bc.value(cell)
        var d = 0.0
        var s = 0
        while (s < code.length) { d += t(s)(code(s) & 0xff); s += 1 }
        (id, label, d)
      }
      .toDF("vec_id", "label", "approx_d")
      .orderBy(col("approx_d"), col("vec_id"))
      .limit(resolveShortlist(shortlist))
  }

  /** Full IVF-PQ retrieval: ADC shortlist, then exact cosine re-rank of
    * the shortlist against the full-precision store (at scale: a point
    * lookup of `shortlist` rows, the only full-precision read).
    */
  def search(spark: SparkSession, encoded: DataFrame, fullPrecision: DataFrame,
             model: Model, query: Array[Float], k: Int,
             nProbe: Int = IvfIndex.NProbeAuto, shortlist: Int = PqIndex.DefaultShortlist): DataFrame = {
    val short = adcShortlist(spark, encoded, model, query, nProbe, shortlist)
    val qCol = lit(query).cast("array<float>")
    short.select("vec_id")
      .join(fullPrecision.select(col("vec_id"), col("label"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("label"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"), qCol), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }
}
