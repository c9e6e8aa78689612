package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** The IVF/PQ vector kernels take `Array[Float]`: a guard against a linear
  * Scala sequence type reaching them again, and a full-width (1536-dim)
  * check that the Dataset paths compute exactly what a plain array loop
  * computes.
  */
class VectorKernelSpec extends SparkTestBase {

  private val Dims = 1536
  private val Cells = 8

  /** 96 clustered vectors (8 clusters of 12), vec_id order = row order. */
  private lazy val vectors: Seq[(Long, Int, Array[Float])] = {
    val rng = new scala.util.Random(1536)
    val centers = Array.fill(Cells)(Array.fill(Dims)(rng.nextGaussian()))
    (0 until 96).map { i =>
      val c = centers(i % Cells)
      (i.toLong, i % 4, Array.tabulate(Dims)(j => (c(j) + 0.3 * rng.nextGaussian()).toFloat))
    }
  }

  /** One partition, rows in vec_id order: the mean aggregates sum in the
    * same order as the reference loops below.
    */
  private lazy val corpus = {
    import spark.implicits._
    vectors.toDF("vec_id", "label", "embedding").coalesce(1)
  }

  private def refSqDist(cent: Array[Double], v: Array[Float]): Double = {
    var d = 0.0
    for (i <- cent.indices) {
      val t = cent(i) - (if (i < v.length) v(i).toDouble else 0.0)
      d += t * t
    }
    d
  }

  /** Nearest centroid, ties to the lowest id, and its distance. */
  private def refNearest(cents: Array[Array[Double]], v: Array[Float]): (Int, Double) = {
    var best = 0
    var bestD = Double.MaxValue
    for (c <- cents.indices) {
      val d = refSqDist(cents(c), v)
      if (d < bestD) { bestD = d; best = c }
    }
    (best, bestD)
  }

  /** PQ codes of `v` in `cell` and their total squared error. */
  private def refEncode(model: PqIndex.Model, v: Array[Float],
                        cell: Int): (Array[Byte], Double) = {
    val cent = model.coarse.centroids(cell)
    val r = Array.tabulate(cent.length)(i => v(i).toDouble - cent(i))
    var total = 0.0
    val codes = Array.tabulate(model.m) { s =>
      val book = model.codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      for (c <- book.indices) {
        var d = 0.0
        for (i <- 0 until model.subDim) {
          val t = r(s * model.subDim + i) - book(c)(i)
          d += t * t
        }
        if (d < bestD) { bestD = d; best = c }
      }
      total += bestD
      best.toByte
    }
    (codes, total)
  }

  private def mean(xs: Seq[Double]): Double = {
    var s = 0.0
    xs.foreach(s += _)
    s / xs.length
  }

  test("no linear Seq/List of Float is decoded or taken as a parameter under src/main") {
    val banned = """\b(Seq|List|Iterable)\[Float\]""".r
    val files = Files.walk(Paths.get("src/main/scala"))
    val offenders = try {
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}"
          }
        }
    } finally files.close()
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("1536-dim IVF assign/distortion and PQ encode/error equal a plain array loop") {
    import spark.implicits._
    val ivf = IvfIndex.train(spark, corpus, k = Cells)
    val nearest = vectors.map { case (id, _, v) => id -> refNearest(ivf.centroids, v) }.toMap
    val cells = IvfIndex.assign(spark, corpus, ivf)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(cells == nearest.map { case (id, (c, _)) => id -> c })
    assert(cells.values.toSet.size > 1)
    val dist = IvfIndex.distortionStats(spark, corpus, ivf).head()
    assert(dist.getLong(0) == vectors.length)
    assert(dist.getDouble(1) == mean(vectors.map { case (id, _, _) => nearest(id)._2 }))

    val pq = PqIndex.train(spark, corpus, nCells = Cells, m = 8, codes = 16)
    val ref = vectors.map { case (id, _, v) =>
      val cell = refNearest(pq.coarse.centroids, v)._1
      val (codes, err) = refEncode(pq, v, cell)
      id -> (cell, codes, err)
    }.toMap
    val encoded = PqIndex.encode(spark, corpus, pq)
      .select("vec_id", "cell", "code").as[(Long, Int, Array[Byte])].collect()
    assert(encoded.length == vectors.length)
    encoded.foreach { case (id, cell, code) =>
      assert(cell == ref(id)._1, s"vec $id")
      assert(code.sameElements(ref(id)._2), s"vec $id")
    }
    val quant = PqIndex.quantizationStats(spark, corpus, pq).head()
    assert(quant.getLong(0) == vectors.length)
    assert(quant.getDouble(1) == mean(vectors.map { case (id, _, _) => ref(id)._3 }))
  }
}
