package graft.operators

import graft.text.TextKernel
import graft.operators.ScaleOps.CheckpointSyntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for the LLM-data-pipeline surface (§2.C):
  * MinHash+LSH banding, SimHash, and n-gram Jaccard — all deterministic
  * (md5-derived base hashes + spliced splitmix64 universal-hash constants;
  * no RNG at runtime, and every hash is recomputable in plain SQL, which
  * is what lets the x04/x05 oracles check the signatures end-to-end).
  *
  * Scale design (100 TB): the pair-generation step never does a cross join.
  * MinHash/SimHash reduce each document to a small signature (narrow map),
  * candidate pairs come from a shuffle on (band, bucket) — cost proportional
  * to actual collisions, which is the standard LSH trade. Exact Jaccard is
  * only computed on candidates.
  */
object NearDup {

  val NumHashes = 64
  val Bands = 16          // 16 bands x 4 rows: catches Jaccard >~ 0.5
  val RowsPerBand: Int = NumHashes / Bands
  val ShingleSize = 3

  /** Per-function universal-hash parameters (splitmix64 of the function
    * index — deterministic across JVMs, no RNG at runtime). Exposed so the
    * DuckDB oracle splices the SAME constants (x05) — like v06's
    * hyperplanes, the two sides cannot drift.
    */
  private[graft] val hashMult: Array[Long] = Array.tabulate(NumHashes)(i => splitmix64(2L * i + 1) | 1L)
  private[graft] val hashAdd: Array[Long] = Array.tabulate(NumHashes)(i => splitmix64(2L * i + 2))

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic minhash signature from the word-shingle set. Each shingle
    * is string-hashed ONCE (md5-derived, engine-portable — see
    * TextKernel.md5Hash64); the NumHashes permutations are cheap universal
    * hashes of that value — 64x fewer string hashes than hashing per
    * function, which dominates at corpus scale. The base is reduced to 63
    * bits (>>> 1) so `base * mult` stays below 2^127 and the oracle can
    * evaluate the same wrapping product in DuckDB's signed HUGEINT.
    */
  def minhashSignature(text: String, numHashes: Int = NumHashes): Array[Long] = {
    val sh = TextKernel.shingles(text, ShingleSize)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { g =>
      val base = TextKernel.md5Hash64(g) >>> 1
      var i = 0
      while (i < numHashes) {
        val h = (base * hashMult(i) + hashAdd(i)) >>> 1 // non-negative
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** 64-bit SimHash over word tokens (weighted bit voting, multiset — a
    * token occurring twice votes twice). Token hash is md5-derived
    * (engine-portable), so the x04 oracle recomputes every simhash.
    */
  def simhash(text: String): Long = {
    val toks = TextKernel.tokens(if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
    if (toks.isEmpty) return 0L
    val votes = new Array[Int](64)
    toks.foreach { tk =>
      val h = TextKernel.md5Hash64(tk)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val inter = a.intersect(b).size
    val union = a.size + b.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Jaccard over two sorted, distinct arrays — linear merge walk, no Set
    * allocation per pair.
    */
  def jaccardSorted(a: Array[String], b: Array[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** docs(id, text) → (id, band, bucket): LSH banding of minhash signatures.
    * One narrow map + explode; the downstream self-join on (band, bucket) is
    * the only shuffle.
    */
  def minhashBuckets(spark: SparkSession, docs: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    ScaleOps.spread(
      docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
        .as[(Long, String)])
      .flatMap { case (id, text) =>
        val sig = minhashSignature(text)
        // a shingle-less (empty/whitespace) doc has the all-MaxValue
        // signature: it would bucket-collide with every other empty doc on
        // zero evidence — emit nothing instead (matches the oracle's
        // exclusion of empty-normalized docs)
        if (sig(0) == Long.MaxValue) Seq.empty
        else (0 until Bands).map { band =>
          val rows = sig.slice(band * RowsPerBand, (band + 1) * RowsPerBand)
          // md5 of the '|'-joined decimal band values: engine-portable
          // (the x05 oracle rebuilds the same string and hash in SQL)
          (id, band, TextKernel.md5Hash32(rows.mkString("|")))
        }
      }
      .toDF("id", "band", "bucket")
  }

  /** Candidate near-dup pairs from LSH band collisions (id_a < id_b),
    * verified with exact shingle Jaccard >= `threshold`.
    */
  def minhashNearDupPairs(spark: SparkSession, docs: DataFrame, threshold: Double,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    // materialized once: the signature map is the expensive stage and the
    // frame feeds BOTH sides of the candidate self-join — without the
    // checkpoint each side re-hashes every shingle of every document.
    // (Fixture-backed queries skip this whole stage: they pass the
    // PERSISTED band/set tables via minhashNearDupPairsFrom.)
    val buckets = minhashBuckets(spark, docs, idCol, textCol).graftCheckpoint()
    // shingle sets computed ONCE per doc (sorted arrays), not once per pair;
    // checkpointed for the same both-join-sides reason as buckets
    val shingleSets = ScaleOps.spread(
      docs.select(col(idCol).cast("long").as("tid"), col(textCol).as("ttext"))
        .as[(Long, String)])
      .map { case (id, text) => (id, TextKernel.shingles(text, ShingleSize).toArray.sorted) }
      .toDF("tid", "tsh")
      .graftCheckpoint()
    minhashNearDupPairsFrom(spark, buckets, shingleSets, threshold)
  }

  /** [[minhashNearDupPairs]] body over precomputed inputs — `buckets` as
    * produced by [[minhashBuckets]] (id, band, bucket) and `shingleSets` as
    * (tid, tsh sorted distinct shingles). The build-once/probe-many entry:
    * both frames are pure deterministic functions of the corpus, so a
    * persisted copy (graft.sources.MinhashStore) yields the identical pair
    * set without re-hashing a single shingle.
    */
  def minhashNearDupPairsFrom(spark: SparkSession, buckets: DataFrame,
                              shingleSets: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val a = buckets.as("a")
    val b = buckets.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val withSets = candidates
      .join(shingleSets.withColumnRenamed("tid", "id_a").withColumnRenamed("tsh", "sh_a"), Seq("id_a"))
      .join(shingleSets.withColumnRenamed("tid", "id_b").withColumnRenamed("tsh", "sh_b"), Seq("id_b"))
    val verified = withSets.as[(Long, Long, Array[String], Array[String])]
      .map { case (idB, idA, sa, sb) => (idA, idB, jaccardSorted(sa, sb)) }
      .toDF("id_a", "id_b", "jaccard")
    verified.filter(col("jaccard") >= threshold)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")
  }

  /** Document-frequency-cap guard for posting-list self-joins (shingles,
    * q-grams, fingerprints): keys present in more than `cap` rows are the
    * Zipf/boilerplate head that makes an equi-join quadratic — drop them
    * BEFORE the join via a broadcast anti-join against the hot-key set
    * (which is bounded by total_rows / cap at any corpus size). The
    * standard prefix-filter guard for set-similarity joins.
    */
  def dfCapped(rows: DataFrame, keyCol: String, cap: Int): DataFrame = {
    val hot = rows.groupBy(keyCol).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(keyCol)
    rows.join(broadcast(hot), Seq(keyCol), "left_anti")
  }

  /** Connected components over near-dup pairs → (id, cluster = min member
    * id) by alternating large-star/small-star rounds
    * ([[duplicateClustersAlternating]]): O(log n) rounds at ANY component
    * diameter, where a single deep chain would stall min-label
    * propagation ([[duplicateClusters]], kept as the spec's reference).
    */
  def connectedComponents(spark: SparkSession, pairs: DataFrame): DataFrame =
    // pairs is typically an expensive pipeline (LSH + verify) that the
    // rounds read more than once (node set + edge set) — evaluate it
    // exactly once here
    duplicateClustersAlternating(spark, pairs.graftCheckpoint())

  /** Duplicate clusters from near-dup pairs: distributed connected
    * components via iterative min-label propagation (each node adopts the
    * minimum label in its neighborhood until fixpoint — SURVEY.md §2.C
    * "connected components via iterative join"). Returns (id, cluster)
    * where cluster = min doc id of the component.
    *
    * Scale notes: one shuffle per iteration, iterations bounded by component
    * diameter (near-dup components are shallow); the checkpoint truncates
    * the growing lineage each round (on a cluster: checkpoint to durable
    * storage instead).
    */
  def duplicateClusters(spark: SparkSession, pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).graftCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("dcluster")), Seq("dst"))
        .groupBy("src").agg(min("dcluster").as("nmin"))
      // change flag computed inline so convergence detection reads the
      // already-checkpointed frame instead of re-joining old vs new labels
      val next = labels
        .join(neighborMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          (coalesce(col("nmin"), col("cluster")) < col("cluster")).cast("long").as("chg"))
        .graftCheckpoint()
      // coalesce: sum over an EMPTY label frame is null (no pairs found)
      val changed = next.agg(coalesce(sum("chg"), lit(0L))).head().getLong(0)
      labels = next.drop("chg")
      converged = changed == 0
      i += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter iterations " +
        "(component diameter exceeds maxIter) — raise maxIter")
    labels
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log n) rounds regardless of component
    * diameter — the 100 TB path when chains can be deep, where plain
    * min-label propagation (duplicateClusters) needs diameter rounds.
    * Same contract: (id, cluster = min member id) for every node that
    * appears in `pairs`.
    */
  def duplicateClustersAlternating(spark: SparkSession, pairs: DataFrame,
                                   maxIter: Int = 30): DataFrame = {
    import org.apache.spark.sql.DataFrame

    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()

    // large-star: every strictly-larger neighbor of u links to the min of
    // u's closed neighborhood
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src")
        .agg(least(min("dst"), first("src")).as("m"))
      canon(sym.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
    }

    // small-star: orient large→small; every neighbor (and u) links to the
    // min neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = canon(e) // src > dst for every row
      val m = oriented.groupBy("src").agg(min("dst").as("m"))
      val viaNeighbors = oriented.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      canon(viaNeighbors.union(m))
    }

    // Two independent digests (32-bit murmur sum + xxhash64 sum) plus count.
    // Checksum equality is only the FAST filter for convergence — on a match
    // the fixpoint is confirmed exactly below, so a collision can delay
    // detection by a round but can never terminate the loop early.
    def checksum(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(hash(col("src"), col("dst")).cast("long")), lit(0L)),
        // high 32 bits only: summing full-range xxhash64 longs overflows
        // under ANSI; a 32-bit-per-row sum is safe to ~2^31 rows
        coalesce(sum(shiftright(xxhash64(col("src"), col("dst")), 32)), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    val nodes = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct().graftCheckpoint()
    var edges = canon(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .graftCheckpoint()
    var prev = checksum(edges)
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).graftCheckpoint()
      val cur = checksum(next)
      // exact confirmation: both sides are distinct sets, so count-equal +
      // one empty set-difference ⇒ set-equal. Runs at most once per
      // convergence (checksums gate it), so the loop stays one cheap agg
      // per round.
      converged = cur == prev && next.except(edges).isEmpty
      edges = next
      prev = cur
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternating connected components did not converge in $maxIter rounds")
    // fixpoint: edges form stars (node > center). centers map to themselves.
    nodes.join(edges.select(col("src").as("id"), col("dst").as("center")), Seq("id"), "left")
      .select(col("id"), coalesce(col("center"), col("id")).as("cluster"))
  }

  /** docs → (id, simhash, band buckets) for hamming-near-dup candidate
    * generation. 4 bands x 16 bits: by pigeonhole, any pair with hamming
    * distance <= 3 shares at least one clean band — exact recall for the
    * standard 64-bit simhash near-dup threshold (d <= 3, Manku et al.,
    * WWW'07). Narrower bands would cover larger distances but flood the
    * bucket join with candidates on high-similarity corpora.
    */
  val SimhashBands = 4
  val SimhashBandBits = 16

  def simhashBuckets(spark: SparkSession, docs: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // token-less (empty/whitespace) docs: simhash 0 would band-collide
        // every such doc with every other on zero evidence (an O(m²)
        // clique) — emit nothing, matching the minhashBuckets guard and
        // the x04 oracle's empty-norm exclusion
        val toks = TextKernel.tokens(
          if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
        if (toks.isEmpty) Seq.empty
        else {
          val h = simhash(text)
          val mask = (1L << SimhashBandBits) - 1
          (0 until SimhashBands).map(band =>
            (id, h, band, (h >>> (band * SimhashBandBits)) & mask))
        }
      }
      .toDF("id", "simhash", "band", "bucket")
  }

  /** SimHash near-dup pairs: band-bucket candidates, verified by full hamming
    * distance <= maxDistance. Recall is exact for maxDistance <= 7 (see
    * simhashBuckets); beyond that candidates become probabilistic.
    */
  def simhashNearDupPairs(spark: SparkSession, docs: DataFrame, maxDistance: Int,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxDistance <= SimhashBands - 1,
      s"banding guarantees recall only for distance <= ${SimhashBands - 1}")
    // checkpointed: the simhash map feeds both self-join sides
    val buckets = simhashBuckets(spark, docs, idCol, textCol).graftCheckpoint()
    val a = buckets.as("a")
    val b = buckets.as("b")
    import spark.implicits._
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .as[(Long, Long, Long, Long)]
      .map { case (ia, ib, sa, sb) => (ia, ib, hammingDistance(sa, sb)) }
      .toDF("id_a", "id_b", "hamming")
      .filter(col("hamming") <= maxDistance)
      .orderBy("id_a", "id_b")
  }
}
