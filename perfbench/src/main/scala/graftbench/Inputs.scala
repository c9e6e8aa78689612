package graftbench

import java.util.SplittableRandom

/** Seeded input generator. Everything a workload feeds the engine comes
  * from here; the same seed yields byte-identical inputs ([[digest]]).
  */
object Inputs {

  final case class Doc(docId: Long, text: String, source: String)

  /** Document loads for the ingest workload.
    *
    * Each load holds `docsPerLoad` documents. Its original (non-copy)
    * documents are a `longShare` of long multi-chunk texts (`longChars`
    * characters, ~20 chunks at the chunker's 400/100 geometry), the rest
    * short texts (`shortChars`, one or two chunks). `withinDupShare` of each
    * load's documents copy another document of the same load, and from the
    * second load on `crossDupShare` copy a document of an earlier load.
    * Copies get a fresh doc_id and source, so their chunks differ in key
    * but not in `text_hash`.
    *
    * Where the sizes come from:
    *  - `docsPerLoad` = 10 is the reference's upload cap (`MAX_FILES=10`,
    *    SURVEY.md section 2.A, operator A1).
    *  - `shortChars` = 48 to 553 is the `n_chars` range of the seed-42
    *    `documents` fixture at sf0.01 (500 rows). Its quartiles (176, 306,
    *    419) are close to a uniform draw's (174, 300, 427), so short texts
    *    are drawn uniformly; 71% of the fixture's documents are under the
    *    400-character chunk size.
    *  - `longShare`, `longChars`, both duplicate shares and `loads` have no
    *    measured source. The fixture holds no document over 577 characters
    *    and no repeated text at sf0.01 (8 repeats in 5,000 at sf0.1), while
    *    the workload must cover multi-chunk documents and both dedup paths;
    *    these values are assumptions.
    */
  final case class IngestSpec(loads: Int = 5, docsPerLoad: Int = 10,
                              longShare: Double = 0.3,
                              shortChars: (Int, Int) = (48, 553),
                              longChars: (Int, Int) = (5500, 6500),
                              withinDupShare: Double = 0.1,
                              crossDupShare: Double = 0.2)

  /** Clustered, labelled vectors for the maintain workload:
    * `clusters` random unit centers in `dims` dimensions, each vector a
    * center plus gaussian noise of scale `noise`, with `labels` label
    * values spread evenly over every cluster.
    */
  final case class VectorSpec(n: Int, dims: Int = 1536, clusters: Int = 8,
                              noise: Double = 0.6, labels: Int = 4)

  final case class Vec(id: Long, label: Int, v: Array[Float])

  private def vocabulary(rng: SplittableRandom, size: Int): Array[String] =
    Array.fill(size) {
      val len = 2 + rng.nextInt(9)
      new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }

  private def text(rng: SplittableRandom, vocab: Array[String], chars: Int): String = {
    val b = new StringBuilder
    var wordsInPara = 0
    val paraLen = 30 + rng.nextInt(50)
    while (b.length < chars) {
      if (b.nonEmpty) b ++= (if (wordsInPara >= paraLen) { wordsInPara = 0; "\n\n" } else " ")
      b ++= vocab(rng.nextInt(vocab.length))
      wordsInPara += 1
    }
    b.append('.').toString
  }

  def ingestLoads(seed: Long, spec: IngestSpec): IndexedSeq[IndexedSeq[Doc]] = {
    val rng = new SplittableRandom(seed ^ 0x1e57L)
    val vocab = vocabulary(rng, 5000)
    var nextId = 0L
    // the j-th of m fresh documents of a kind takes its length from the
    // j-th of m equal slices of the kind's range (stratified uniform), so
    // every seed gives loads of about the same size
    def fresh(long: Boolean, j: Int, m: Int): Doc = {
      val (lo, hi) = if (long) spec.longChars else spec.shortChars
      nextId += 1
      val chars = lo + ((j + rng.nextDouble()) / m * (hi - lo + 1)).toInt
      Doc(nextId, text(rng, vocab, chars), s"file_$nextId.pdf")
    }
    def copyOf(d: Doc): Doc = { nextId += 1; Doc(nextId, d.text, s"file_$nextId.pdf") }
    def longCount(k: Int) = math.round(k * spec.longShare).toInt
    def isLong(d: Doc) = d.text.length >= spec.longChars._1
    // `k` copies of random docs from `pool`, with the same long share as
    // the originals, so every seed gives loads of about the same work
    def copies(pool: IndexedSeq[Doc], k: Int): IndexedSeq[Doc] = {
      val (long, short) = pool.partition(isLong)
      IndexedSeq.tabulate(k) { j =>
        val from = if (j < longCount(k)) long else short
        copyOf(from(rng.nextInt(from.size)))
      }
    }
    val loads = IndexedSeq.newBuilder[IndexedSeq[Doc]]
    val earlier = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (l <- 0 until spec.loads) {
      val n = spec.docsPerLoad
      val nWithin = math.round(n * spec.withinDupShare).toInt
      val nCross = if (l == 0) 0 else math.round(n * spec.crossDupShare).toInt
      val nOrig = n - nWithin - nCross
      val nLong = longCount(nOrig)
      val originals = IndexedSeq.tabulate(nOrig)(k =>
        if (k < nLong) fresh(long = true, k, nLong) else fresh(long = false, k - nLong, nOrig - nLong))
      val all = originals ++ copies(originals, nWithin) ++ copies(earlier.toIndexedSeq, nCross)
      // seeded Fisher-Yates so copies are not all at the end of a load
      val arr = all.toArray
      for (i <- arr.indices.reverse.dropRight(1)) {
        val j = rng.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
      }
      loads += arr.toIndexedSeq
      earlier ++= originals
    }
    loads.result()
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller, one draw per call
    val u1 = rng.nextDouble().max(1e-300); val u2 = rng.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }

  /** The cluster centers of a vector stream (shared by corpus and probes). */
  def centers(seed: Long, spec: VectorSpec): Array[Array[Double]] = {
    val rng = new SplittableRandom(seed ^ 0xce17L)
    Array.fill(spec.clusters)(unit(Array.fill(spec.dims)(gaussian(rng))))
  }

  private def around(rng: SplittableRandom, c: Array[Double], noise: Double): Array[Float] = {
    val scale = noise / math.sqrt(c.length.toDouble)
    c.map(x => (x + gaussian(rng) * scale).toFloat)
  }

  /** `spec.n` vectors with ids `firstId ...`, noise drawn from stream
    * `stream`. Id i belongs to cluster i % clusters and has label
    * (i / clusters) % labels, so clusters and labels are balanced and
    * every seed gives an index of the same shape.
    */
  def vectors(seed: Long, spec: VectorSpec, stream: Long, firstId: Long): IndexedSeq[Vec] = {
    val cs = centers(seed, spec)
    val rng = new SplittableRandom(seed * 31 + stream)
    IndexedSeq.tabulate(spec.n) { i =>
      val id = firstId + i
      Vec(id, ((id / spec.clusters) % spec.labels).toInt,
        around(rng, cs((id % spec.clusters).toInt), spec.noise))
    }
  }

  /** Query vectors near the corpus clusters, with a label for the
    * filtered share of probes.
    */
  def probes(seed: Long, spec: VectorSpec, n: Int, stream: Long): IndexedSeq[Vec] =
    vectors(seed, spec.copy(n = n), 1000 + stream, 0L)

  /** SHA-256 over a canonical serialization of the inputs. */
  def digest(loads: Seq[Seq[Doc]], vecs: Seq[Vec]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    loads.foreach { l =>
      long(l.size)
      l.foreach { d =>
        long(d.docId); md.update(d.source.getBytes("UTF-8"))
        val t = d.text.getBytes("UTF-8"); long(t.length); md.update(t)
      }
    }
    vecs.foreach { v =>
      long(v.id); long(v.label)
      v.v.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
