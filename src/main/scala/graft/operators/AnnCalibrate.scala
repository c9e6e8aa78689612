package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probe-width CALIBRATION: measure an IVF artifact's full
  * recall-vs-nProbe curve in ONE pass and size the smallest probe width
  * that holds a recall target on that artifact's own corpus.
  *
  * Why this exists: the engine's default probe policy
  * ([[IvfIndex.autoNProbe]], a constant cell FRACTION) was measured on
  * single full-corpus indexes (SCALE.md round-11 §8). A SHARDED artifact
  * ([[ShardedIvf]]) answers each query from S×-sparser subsets, where the
  * exact top-k sits at larger radii and spreads over more cells — the
  * measured, root-caused trade of SCALE.md round-14 §1 — so the same cell
  * fraction captures less there. Rather than hard-coding a second policy
  * constant, calibration turns the artifact's own geometry into its probe
  * width: a deployment states the recall it needs and the artifact
  * carries the measured width that delivers it (the `nprobe.CAL` sidecar,
  * [[graft.sources.VectorIndexStore.calibrateIvf]] /
  * `calibrateShardedIvf`), honored at probe time via
  * [[IvfIndex.NProbeCalibrated]].
  *
  * The one-pass trick: an exact-top-k neighbor enters the IVF answer at
  * probe width w iff the 1-based rank of ITS cell in the query's
  * centroid-distance order is <= w — once its cell is scanned, nothing
  * outside the exact top-k can outscore it (scores are the same rounded
  * cosine with the same vec_id tie-break on both sides). So the WHOLE
  * curve is one number per (query, true-neighbor) pair — the neighbor's
  * capture width — and recall@k at ANY width w is the fraction of pairs
  * with capture width <= w. One exact-ground-truth pass plus one
  * broadcast-join against the driver-computed cell ranks replaces a probe
  * re-run per candidate width; calibration cost is ~one panel grading,
  * independent of how many widths the curve resolves. For a sharded
  * artifact the rank is computed within the neighbor's OWN shard (each
  * shard probes w of its cells), which grades exactly what
  * [[AnnEval.shardedTopK]] executes.
  *
  * Scale shape: the exact pass is the panel-broadcast corpus scan every
  * recall grade already pays (|panel|·n, linear); the rank frame is
  * driver-built but bounded by |panel|·S·maxWidth rows (KB–MB class —
  * cap `maxWidth` for 10⁵+-cell geometries); the join is
  * broadcast-against-k·|panel| rows. No new shuffle classes.
  */
object AnnCalibrate {

  /** Capture widths (qid, vec_id, shard, width) for every exact-top-k
    * neighbor of every panel query: `width` = 1-based rank of the
    * neighbor's cell in the probe order of its shard's model for that
    * query, or Int.MaxValue when past `maxWidth` (rank not enumerated).
    * `shardPaths` lists the per-shard artifact roots — length 1 grades a
    * single index. Vector 0 (the designated query vector of the v-family
    * fixtures) is excluded on both sides, matching [[AnnEval.ivfTopK]].
    *
    * `predicate` restricts BOTH sides to a FILTERED workload (the v22
    * composition: the predicate applies to the cell-partitioned vectors
    * before the probe): the exact ground truth becomes the filtered
    * top-k and the capture widths grade the filtered probe, so the
    * curve — and any width sized from it — holds the recall target FOR
    * QUERIES UNDER THAT PREDICATE. A filtered workload needs its own
    * width: the filter thins every probed cell, spreading the filtered
    * true top-k across more cells than an unfiltered calibration saw
    * (measured: SCALE.md round-15 §13). The capture-width equivalence
    * is unchanged — within the filtered corpus, a true neighbor enters
    * the filtered probe's answer iff its cell rank is <= w
    * (AnnCalibrateSpec gates this == real filtered probes at every
    * width). Widths sized under a predicate are per-WORKLOAD numbers
    * for the caller to apply ([[calibrateFilteredWidth]]); they are
    * never published to the artifact's `nprobe.CAL`, which records the
    * unfiltered-corpus width.
    */
  def neighborWidths(spark: SparkSession, shardPaths: Seq[String],
                     queries: Seq[(Long, Array[Float])], k: Int,
                     maxWidth: Int = Int.MaxValue,
                     predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import spark.implicits._
    require(shardPaths.nonEmpty, "no shard paths")
    val perShard = shardPaths.zipWithIndex.map { case (p, i) =>
      val base = IvfIndex.loadVectors(spark, p).filter(col("vec_id") =!= 0)
      predicate.fold(base)(base.filter)
        .select(col("vec_id"), col("cell"), col("embedding"))
        .withColumn("shard", lit(i))
    }
    val corpus = perShard.reduce(_ unionAll _)
    val exact = AnnEval.exactTopK(spark, corpus, queries, k)
    // driver-side rank enumeration: |panel| × Σ min(maxWidth, k_s) rows
    val ranks = shardPaths.zipWithIndex.flatMap { case (p, i) =>
      val model = IvfIndex.loadModel(spark, p)
      val w = math.min(maxWidth, model.centroids.length)
      queries.flatMap { case (qid, qv) =>
        model.nearestCells(qv, w).zipWithIndex.map {
          case (c, j) => (qid, i, c, j + 1)
        }
      }
    }
    val rankDf = broadcast(ranks.toDF("qid", "shard", "cell", "width"))
    exact
      .join(corpus.select(col("vec_id"), col("cell"), col("shard")), "vec_id")
      .join(rankDf, Seq("qid", "shard", "cell"), "left")
      .select(col("qid"), col("vec_id"), col("shard"),
        coalesce(col("width"), lit(Int.MaxValue)).as("width"))
  }

  /** Capture SHORTLISTS for the IVF-PQ path: (qid, vec_id, width) where
    * `width` is the exact-top-k neighbor's per-query ADC RANK among the
    * candidates in its probed cells — the smallest re-rank shortlist at
    * which [[AnnEval.pqTopKFrames]] (at the SAME `nProbe`) returns it.
    * Once shortlisted, the exact re-rank keeps a true neighbor (only
    * other exact members outscore it), so the recall-vs-shortlist curve
    * is one ADC pass + one rank window, not a probe re-run per candidate
    * shortlist. Neighbors whose cell is NOT probed get Int.MaxValue — no
    * shortlist recovers them, which is why the PQ curve's ceiling is the
    * cell-pruning recall, not 1.0 (size `nProbe` first, then the
    * shortlist).
    */
  def pqShortlistWidths(spark: SparkSession, pqPath: String,
                        fullPrecision: DataFrame,
                        queries: Seq[(Long, Array[Float])], k: Int,
                        nProbe: Int = IvfIndex.NProbeAuto): DataFrame =
    pqShortlistWidthsFrames(spark,
      PqIndex.loadEncoded(spark, pqPath).filter(col("vec_id") =!= 0),
      PqIndex.loadModel(spark, pqPath), fullPrecision, queries, k, nProbe)

  /** [[pqShortlistWidths]] over explicit (encoded, model) frames — lets a
    * caller that already holds the model (the calibration verb) avoid a
    * second codebook load.
    */
  def pqShortlistWidthsFrames(spark: SparkSession, encoded: DataFrame,
                              model: PqIndex.Model, fullPrecision: DataFrame,
                              queries: Seq[(Long, Array[Float])], k: Int,
                              nProbe: Int = IvfIndex.NProbeAuto): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = AnnEval.pqApproxScores(spark, encoded, model, queries, nProbe)
      .withColumn("width", row_number().over(
        Window.partitionBy("qid").orderBy(col("approx_d"), col("vec_id"))))
      .select(col("qid"), col("vec_id"), col("width"))
    val exact = AnnEval.exactTopK(spark,
      fullPrecision.filter(col("vec_id") =!= 0), queries, k)
    exact
      .join(ranked, Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("vec_id"),
        coalesce(col("width"), lit(Int.MaxValue)).as("width"))
  }

  /** [[pqShortlistWidthsFrames]] for a SHARDED PQ artifact
    * ([[ShardedPq]]): a true neighbor enters the answer iff its cell is
    * probed AND its per-(query, SHARD) ADC rank is <= the per-shard
    * shortlist, so the capture width is the rank within the neighbor's
    * OWN shard's candidate frame — one window over the unioned ADC
    * scores, exactly what [[AnnEval.shardedPqTopK]] executes. Unprobed
    * cells read Int.MaxValue (the ceiling is cell-pruning recall, as in
    * the single-index curve).
    */
  def shardedPqShortlistWidths(spark: SparkSession, path: String, shards: Int,
                               fullPrecision: DataFrame,
                               queries: Seq[(Long, Array[Float])], k: Int,
                               nProbe: Int = IvfIndex.NProbeAuto): DataFrame =
    pqShortlistWidthsAt(spark,
      (0 until shards).map(r => s"$path/shard=$r"), fullPrecision,
      queries, k, nProbe, predicate = None)

  /** The general path-based capture-shortlist frame over encoded
    * geometries: `shardPaths` lists the per-shard IVF-PQ artifact roots
    * (length 1 = a single [[PqIndex]] artifact — the one-shard window
    * degenerates to the single-index per-qid rank), and `predicate`
    * restricts BOTH sides to a FILTERED workload (the
    * [[ShardedPq.searchFiltered]] composition): it applies to each
    * shard's encoded frame before the ADC scan AND to the full-precision
    * corpus before the exact pass, so the ground truth is the filtered
    * top-k and a capture width is the true neighbor's ADC rank among
    * FILTERED candidates in its own shard — exactly the per-shard
    * shortlist at which the filtered probe returns it. The predicate
    * must name columns BOTH frames carry (`vec_id` / `label` — the
    * filterable fields the encoded schema keeps next to the codes).
    * Widths sized under a predicate are per-WORKLOAD numbers for the
    * caller to pass as `shortlist` ([[calibrateFilteredShortlist]]);
    * they never publish to `shortlist.CAL`, which records the
    * unfiltered-corpus depth.
    */
  def pqShortlistWidthsAt(spark: SparkSession, shardPaths: Seq[String],
                          fullPrecision: DataFrame,
                          queries: Seq[(Long, Array[Float])], k: Int,
                          nProbe: Int = IvfIndex.NProbeAuto,
                          predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardPaths.nonEmpty, "no shard paths")
    val scored = shardPaths.zipWithIndex.map { case (p, i) =>
      val enc = PqIndex.loadEncoded(spark, p).filter(col("vec_id") =!= 0)
      AnnEval.pqApproxScores(spark, predicate.fold(enc)(enc.filter),
        PqIndex.loadModel(spark, p), queries, nProbe)
        .withColumn("shard", lit(i))
    }.reduce(_ unionAll _)
    val ranked = scored
      .withColumn("width", row_number().over(
        Window.partitionBy("qid", "shard").orderBy(col("approx_d"), col("vec_id"))))
      .select(col("qid"), col("vec_id"), col("width"))
    val fp = fullPrecision.filter(col("vec_id") =!= 0)
    val exact = AnnEval.exactTopK(spark, predicate.fold(fp)(fp.filter), queries, k)
    exact
      .join(ranked, Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("vec_id"),
        coalesce(col("width"), lit(Int.MaxValue)).as("width"))
  }

  /** The capture-width HISTOGRAM of [[neighborWidths]], collected: sorted
    * (width, pairs-captured-at-exactly-width). Everything downstream
    * (curve points, target quantile) is driver arithmetic over this
    * one-collect summary — at most one row per distinct width.
    */
  def widthHistogram(widths: DataFrame): Seq[(Int, Long)] =
    widths.groupBy("width").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq

  /** recall@k at each requested width, from one histogram: the cumulative
    * captured fraction. `total` is the histogram mass (every exact pair,
    * captured or not, is a histogram row). The Int.MaxValue bucket —
    * never-capturable pairs (beyond `maxWidth`, or in unprobed cells on
    * the PQ path) — is excluded at EVERY requested width, including a
    * requested Int.MaxValue: the curve's ceiling is the real capture
    * ceiling, never 1.0 by sentinel accounting.
    */
  def recallCurve(hist: Seq[(Int, Long)], ws: Seq[Int]): Seq[(Int, Double)] = {
    val total = hist.map(_._2).sum.toDouble
    require(total > 0, "empty ground truth — no panel queries?")
    ws.sorted.map { w =>
      w -> hist.iterator.takeWhile(_._1 <= w)
        .filter(_._1 != Int.MaxValue).map(_._2).sum / total
    }
  }

  /** Smallest width w with recall(w) >= target, plus the recall measured
    * AT that width — the calibration answer. Returns None when the target
    * is not reachable within the enumerated widths (raise `maxWidth`, or
    * the target exceeds what full probing of this artifact delivers —
    * impossible on the index's own corpus, where full probe is exact).
    */
  def calibrateWidth(hist: Seq[(Int, Long)], target: Double): Option[(Int, Double)] = {
    val total = hist.map(_._2).sum.toDouble
    require(total > 0, "empty ground truth — no panel queries?")
    var cum = 0L
    val it = hist.iterator
    while (it.hasNext) {
      val (w, n) = it.next()
      if (w != Int.MaxValue) {
        cum += n
        if (cum / total >= target) return Some((w, cum / total))
      }
    }
    None
  }

  /** Size the smallest probe width holding `target` recall for a
    * FILTERED workload (queries scoped by `predicate` over the
    * cell-partitioned vectors — the v22 composition): one filtered
    * exact pass + the capture-width join, same cost class as the
    * unfiltered calibration. Returns (width, measured recall) or None
    * when the target is unreachable within `maxWidth`. This is a
    * per-WORKLOAD measurement for the caller to apply to its filtered
    * probes — it does not publish to the artifact's `nprobe.CAL` (a
    * width sized under one predicate says nothing about another, or
    * about the unfiltered corpus the sidecar contract covers).
    */
  def calibrateFilteredWidth(spark: SparkSession, shardPaths: Seq[String],
                             queries: Seq[(Long, Array[Float])], k: Int,
                             target: Double,
                             predicate: org.apache.spark.sql.Column,
                             maxWidth: Int = Int.MaxValue)
      : Option[(Int, Double)] =
    calibrateWidth(
      widthHistogram(neighborWidths(spark, shardPaths, queries, k, maxWidth,
        Some(predicate))),
      target)

  /** [[calibrateFilteredWidth]]'s twin for the ENCODED geometries: size
    * the smallest per-shard RE-RANK SHORTLIST holding `target` recall
    * for a FILTERED workload over an IVF-PQ artifact (`shardPaths`
    * length 1) or a [[ShardedPq]] composition (the per-shard roots) —
    * one filtered ADC pass + one filtered exact pass, same cost class
    * as the unfiltered shortlist calibration. The curve is conditional
    * on `nProbe` (a neighbor in an unprobed cell is never capturable —
    * size the probe width first), and the answer is per-WORKLOAD: the
    * caller passes it as `shortlist` to
    * [[ShardedPq.searchFiltered]] / `AnnEval.shardedPqTopK(predicate=)`;
    * it is never published to the artifact's `shortlist.CAL` (a depth
    * sized under one predicate says nothing about another, or about the
    * unfiltered corpus the sidecar contract covers). Returns (depth,
    * measured recall at that depth) or None when the target exceeds the
    * cell-pruning ceiling at this `nProbe`.
    */
  def calibrateFilteredShortlist(spark: SparkSession, shardPaths: Seq[String],
                                 fullPrecision: DataFrame,
                                 queries: Seq[(Long, Array[Float])], k: Int,
                                 target: Double,
                                 predicate: org.apache.spark.sql.Column,
                                 nProbe: Int = IvfIndex.NProbeAuto)
      : Option[(Int, Double)] =
    calibrateWidth(
      widthHistogram(pqShortlistWidthsAt(spark, shardPaths, fullPrecision,
        queries, k, nProbe, Some(predicate))),
      target)
}
