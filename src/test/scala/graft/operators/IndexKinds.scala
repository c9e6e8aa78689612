package graft.operators

import graft.{Graft, SparkTestBase}
import graft.sources.{Tables, Tombstones, VectorIndexStore, Versioned}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One single-index kind as the kind-parameterized specs drive it: the
  * store's per-kind verbs over one artifact path — build (dir, corpus,
  * nCells), append, delete, compact (path, nCells), compact-if-deleted
  * (path, maxDeletedFraction), a forced retrain (path, full-precision
  * rows; factor 0 and recall floor 0, so any appended error retrains) and
  * a k-probe at the default width (path, full-precision rows, query, k) —
  * and the main-side [[IndexKind]] for its logical / physical loaders.
  */
final case class IndexUnderTest(name: String,
                                kind: IndexKind,
                                build: (String, DataFrame, Int) => Unit,
                                append: (String, DataFrame) => Unit,
                                delete: (String, DataFrame) => Unit,
                                compact: (String, Int) => Unit,
                                compactIfDeleted: (String, Double) => Boolean,
                                retrain: (String, DataFrame) => Boolean,
                                probe: (String, DataFrame, Array[Float], Int) => DataFrame)

/** What a probe's model load must serve: the artifact's CURRENT model. */
object ServedModel {

  /** A loaded model's numbers: its centroid rows, then (PQ) every
    * codebook row in (subspace, code) order.
    */
  def rows(model: Any): Seq[Seq[Double]] = model match {
    case m: IvfIndex.Model => m.centroids.map(_.toSeq).toSeq
    case m: PqIndex.Model => rows(m.coarse) ++ m.codebooks.flatMap(_.map(_.toSeq)).toSeq
  }

  /** The same numbers read straight from the model parquet the artifact's
    * pointers resolve to, bypassing the loaders and their cache.
    */
  def stored(spark: SparkSession, kind: IndexKind, path: String): Seq[Seq[Double]] = {
    import spark.implicits._
    def centroids(dir: String): Seq[Seq[Double]] =
      spark.read.parquet(dir).select("cell", "centroid").as[(Int, Seq[Double])]
        .collect().sortBy(_._1).map(_._2).toSeq
    kind match {
      case IndexKind.Ivf => centroids(IvfIndex.modelDir(path))
      case IndexKind.Pq => centroids(PqIndex.coarseDir(path)) ++
        spark.read.parquet(PqIndex.codebooksDir(path))
          .select("sub", "code", "centroid").as[(Int, Int, Seq[Double])]
          .collect().sortBy(r => (r._1, r._2)).map(_._3).toSeq
    }
  }

  /** `kind`'s loader serves `path`'s current model — equal element-wise to
    * an uncached read — and serves it again from the cache: the repeated
    * load reads no rows.
    */
  def assertCurrent(spark: SparkSession, kind: IndexKind, path: String): Unit = {
    val served = rows(kind.loadModel(spark, path))
    assert(served == stored(spark, kind, path),
      s"${kind.name} at $path: the loaded model differs from the stored one")
    val (_, w) = graft.Harness.measure(spark)(kind.loadModel(spark, path))
    assert(w.rowsIn == 0, s"${kind.name} at $path: a repeated load read ${w.rowsIn} rows")
  }
}

/** Spec bodies shared by both single-index kinds (the sibling of
  * [[ShardedKinds]]): each case takes the kind as an input, so IVF and PQ
  * run the same assertions.
  */
trait IndexKinds { self: SparkTestBase =>

  private lazy val kindEmb = Tables.load(spark, sf, "embeddings")

  lazy val ivfIndex: IndexUnderTest = IndexUnderTest("ivf", IndexKind.Ivf,
    VectorIndexStore.buildIvfAt(spark, _, _, _),
    VectorIndexStore.appendIvf(spark, _, _),
    VectorIndexStore.deleteIvf(spark, _, _),
    VectorIndexStore.compactIvf(spark, _, _),
    VectorIndexStore.compactIvfIfDeleted(spark, _, _),
    (path, _) => VectorIndexStore.retrainIvfIfNeeded(spark, path, factor = 0.0,
      recallFloor = 0.0),
    (path, _, q, k) => Graft.ivfProbe(spark, path, q, k))

  lazy val pqIndex: IndexUnderTest = IndexUnderTest("pq", IndexKind.Pq,
    VectorIndexStore.buildPqAt(spark, _, _, _),
    VectorIndexStore.appendPq(spark, _, _),
    VectorIndexStore.deletePq(spark, _, _),
    VectorIndexStore.compactPq(spark, _, _),
    VectorIndexStore.compactPqIfDeleted(spark, _, _),
    (path, fp) => VectorIndexStore.retrainPqIfNeeded(spark, path, fp, factor = 0.0,
      recallFloor = 0.0),
    (path, fp, q, k) => PqIndex.search(spark, PqIndex.loadEncoded(spark, path), fp,
      PqIndex.loadModel(spark, path), q, k))

  private def tmpIndex(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/ix"

  def readdCase(ix: IndexUnderTest): Unit = {
    val emb = kindEmb
    val path = tmpIndex(s"graft_${ix.name}_readd")
    ix.build(path, emb, 8)
    val victim = emb.filter(col("vec_id") === 1)
    ix.delete(path, victim.select("vec_id"))
    // the append idempotence anti-join reads PHYSICAL presence: the row is
    // still in the table, so the re-add is skipped and the id stays deleted
    ix.append(path, victim)
    assert(ix.kind.logical(spark, path).filter(col("vec_id") === 1).count() == 0,
      "an append must not resurrect a tombstoned id (compact first — the documented contract)")
    ix.compact(path, 8)
    ix.append(path, victim)
    assert(ix.kind.logical(spark, path).filter(col("vec_id") === 1).count() == 1,
      "after the compact the id is physically gone and a fresh append must land")
  }

  def compactIfDeletedCase(ix: IndexUnderTest): Unit = {
    val emb = kindEmb
    val path = tmpIndex(s"graft_${ix.name}_ifneeded")
    ix.build(path, emb, 8)
    // under the line: ~1 deleted id of n — the check must do nothing
    ix.delete(path, emb.filter(col("vec_id") === 1).select("vec_id"))
    assert(!ix.compactIfDeleted(path, 0.5))
    assert(Tombstones.read(spark, path).isDefined, "under the line the sidecar stays")
    // over the line: half the corpus — the verb compacts and clears
    ix.delete(path, emb.filter(col("vec_id") % 2 === 0).select("vec_id"))
    assert(ix.compactIfDeleted(path, 0.4))
    assert(Tombstones.read(spark, path).isEmpty)
    assert(ix.kind.physical(spark, path).count() ==
      emb.filter(col("vec_id") % 2 =!= 0 && col("vec_id") =!= 1).count())
    assert(!ix.compactIfDeleted(path, 0.1), "idempotent when clean")
  }

  // ---------------------------------------------------------------------
  // Model-cache freshness: after each event that changes what an artifact
  // serves, a probe must see the new version.
  // ---------------------------------------------------------------------

  /** `rows` re-keyed at `base` and shifted off the corpus geometry (the
    * drift a retrain reacts to).
    */
  private def drifted(rows: DataFrame, base: Long): DataFrame =
    rows.select((col("vec_id") + base).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(1.0f)).cast("array<float>").as("embedding"))

  private def vectorOf(rows: DataFrame): (Long, Array[Float]) = {
    import spark.implicits._
    rows.orderBy("vec_id").select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].head()
  }

  /** Whether a k=10 probe with row `v` of `fp` returns `v`'s own id. */
  private def servesOwnId(ix: IndexUnderTest, path: String, fp: DataFrame,
                          v: (Long, Array[Float])): Boolean = {
    import spark.implicits._
    ix.probe(path, fp, v._2, 10).select("vec_id").as[Long].collect().contains(v._1)
  }

  def retrainFreshnessCase(ix: IndexUnderTest): Unit = {
    val path = tmpIndex(s"graft_${ix.name}_fresh_rt")
    ix.build(path, kindEmb, 8)
    val before = ServedModel.rows(ix.kind.loadModel(spark, path))
    ServedModel.assertCurrent(spark, ix.kind, path)
    val batch = drifted(kindEmb.limit(40), 700000L)
    ix.append(path, batch)
    val fp = kindEmb.unionByName(batch)
    assert(ix.retrain(path, fp), "premise: factor 0 retrains on any appended error")
    ServedModel.assertCurrent(spark, ix.kind, path)
    assert(ServedModel.rows(ix.kind.loadModel(spark, path)) != before,
      "the retrain published a new model pointer; the loader must serve it")
    assert(servesOwnId(ix, path, fp, vectorOf(batch)),
      "a probe after the retrain must find an appended vector")
  }

  def compactFreshnessCase(ix: IndexUnderTest): Unit = {
    val path = tmpIndex(s"graft_${ix.name}_fresh_cmp")
    ix.build(path, kindEmb, 8)
    val gone = vectorOf(kindEmb.filter(col("vec_id") === 1))
    assert(servesOwnId(ix, path, kindEmb, gone), "premise: the built id is served")
    val batch = kindEmb.limit(20).select((col("vec_id") + 600000L).as("vec_id"),
      col("label"), col("embedding"))
    ix.append(path, batch)
    ix.delete(path, kindEmb.filter(col("vec_id") === 1).select("vec_id"))
    val fp = kindEmb.unionByName(batch)
    val oldDir = ix.kind.dataDir(path)
    ix.compact(path, 8)
    val newDir = ix.kind.dataDir(path)
    assert(newDir != oldDir, "premise: the compact publishes a new data pointer")
    val added = vectorOf(batch)
    val probe = ix.probe(path, fp, added._2, 10)
    val artifactFiles = probe.inputFiles.filter(_.contains(path))
    assert(artifactFiles.nonEmpty &&
      artifactFiles.forall(_.contains(new java.io.File(newDir).getName + "/")),
      s"the probe must read the new data version $newDir: ${artifactFiles.mkString(", ")}")
    assert(servesOwnId(ix, path, fp, added), "an appended vector must be served after the compact")
    assert(!servesOwnId(ix, path, fp, gone), "the compact removed id 1; no probe may serve it")
    ServedModel.assertCurrent(spark, ix.kind, path)
  }

  def rebuildFreshnessCase(ix: IndexUnderTest): Unit = {
    val path = tmpIndex(s"graft_${ix.name}_fresh_rb")
    ix.build(path, kindEmb, 8)
    ServedModel.assertCurrent(spark, ix.kind, path)
    assert(ix.kind.cells(ix.kind.loadModel(spark, path)) == 8)
    // a legacy unversioned artifact, deleted and rebuilt at the SAME path:
    // the `model` dir name is unchanged, only its files are new
    Versioned.metaBackend.deleteRecursively(path)
    val shifted = drifted(kindEmb, 0L)
    ix.build(path, shifted, 4)
    assert(ix.kind.cells(ix.kind.loadModel(spark, path)) == 4,
      "the rebuilt artifact has 4 cells; a probe on the old model would use 8")
    ServedModel.assertCurrent(spark, ix.kind, path)
    assert(servesOwnId(ix, path, shifted, vectorOf(shifted)),
      "a probe after the rebuild must find a rebuilt vector")
  }
}
