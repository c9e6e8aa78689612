package graft.sources

import graft.SparkTestBase
import graft.operators.{IvfIndex, PqIndex}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The build-once / probe-many index lifecycle (VectorIndexStore +
  * IvfIndex/PqIndex.save/load): the model round-trips bitwise, the probe
  * plan is partition-pruned to exactly nProbe cell directories, and it
  * never rescans the source embeddings table — probes are reads of the
  * published artifact, full stop.
  */
class IndexStoreSpec extends SparkTestBase {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def freshDir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_idx_$name").toString + "/idx"

  test("IVF model survives save/load bitwise") {
    val model = IvfIndex.train(spark, emb, k = 8)
    val dir = freshDir("ivf_rt")
    IvfIndex.save(spark, model, IvfIndex.assign(spark, emb, model), dir)
    val loaded = IvfIndex.loadModel(spark, dir)
    assert(loaded.centroids.length == model.centroids.length)
    loaded.centroids.zip(model.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b)) // doubles round-trip parquet exactly
    }
    // the persisted corpus is complete and carries the cell partition column
    val vectors = IvfIndex.loadVectors(spark, dir)
    assert(vectors.count() == emb.count())
    assert(vectors.columns.contains("cell"))
  }

  test("PQ model survives save/load bitwise and encodes identically") {
    import spark.implicits._
    val model = PqIndex.train(spark, emb, nCells = 8)
    val dir = freshDir("pq_rt")
    PqIndex.save(spark, model, PqIndex.encode(spark, emb, model), dir)
    val loaded = PqIndex.loadModel(spark, dir)
    assert(loaded.subDim == model.subDim)
    loaded.coarse.centroids.zip(model.coarse.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b))
    }
    assert(loaded.codebooks.length == model.codebooks.length)
    loaded.codebooks.zip(model.codebooks).foreach { case (bl, bm) =>
      bl.zip(bm).foreach { case (a, b) => assert(a.sameElements(b)) }
    }
    // a loaded model encodes exactly like the trained one (pure function of
    // the model), and the persisted codes match a fresh encode
    val v = emb.filter(col("vec_id") === 3).select("embedding").as[Array[Float]].head()
    val cell = model.coarse.nearestCell(v)
    assert(loaded.encode(v, cell).sameElements(model.encode(v, cell)))
    val persisted = PqIndex.loadEncoded(spark, dir)
      .filter(col("vec_id") === 3).select("code").as[Array[Byte]].head()
    assert(persisted.sameElements(model.encode(v, cell)))
  }

  test("probe plan prunes to nProbe cell partitions and has no training scan") {
    import spark.implicits._
    val path = VectorIndexStore.ensureIvf(spark, sf, nCells = 8)
    val model = IvfIndex.loadModel(spark, path)
    val vectors = IvfIndex.loadVectors(spark, path)
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    // AQE wraps scans in query stages that hide them from plan.collect;
    // partition pruning is static, so assert on the non-adaptive plan
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nProbe = 2
      val probed = IvfIndex.search(spark,
        vectors.filter(col("vec_id") =!= 0), model, query, k = 5, nProbe = nProbe)
      probed.collect()
      val scans = probed.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      // exactly one file scan — the artifact; the source embeddings table
      // does not appear anywhere in the probe plan
      assert(scans.nonEmpty, "probe plan has no file scan")
      scans.foreach { sc =>
        assert(!sc.relation.location.rootPaths.mkString(",").contains("embeddings.parquet"),
          "probe plan rescans the source embeddings table")
      }
      val scan = scans.head
      assert(scan.partitionFilters.nonEmpty,
        s"no partition filters on the index scan: ${scan.partitionFilters}")
      assert(scan.metrics.contains("numPartitions"),
        s"scan metrics: ${scan.metrics.keys.mkString(",")}")
      assert(scan.metrics("numPartitions").value == nProbe,
        s"probe read ${scan.metrics("numPartitions").value} partitions, expected $nProbe")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("probing all cells of the persisted index reproduces exact top-k") {
    import spark.implicits._
    val path = VectorIndexStore.ensureIvf(spark, sf, nCells = 8)
    val model = IvfIndex.loadModel(spark, path)
    val vectors = IvfIndex.loadVectors(spark, path)
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosine_sim(col("embedding"),
          lit(query.toArray).cast("array<float>")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    val probedAll = IvfIndex.search(spark,
        vectors.filter(col("vec_id") =!= 0), model, query, k = 10, nProbe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(probedAll == exact)
  }

  test("ensure is idempotent: second call does not rebuild") {
    val path = VectorIndexStore.ensureIvf(spark, sf, nCells = 8)
    val marker = new java.io.File(path, "_SUCCESS")
    val stamp = marker.lastModified()
    val again = VectorIndexStore.ensureIvf(spark, sf, nCells = 8)
    assert(again == path)
    assert(marker.lastModified() == stamp, "ensure rebuilt an existing artifact")
  }
}
