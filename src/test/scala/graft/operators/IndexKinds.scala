package graft.operators

import graft.SparkTestBase
import graft.sources.{Tables, Tombstones, VectorIndexStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One single-index kind as the kind-parameterized specs drive it: the
  * store's per-kind verbs over one artifact path — build (dir, corpus,
  * nCells), append, delete, compact (path, nCells) and compact-if-deleted
  * (path, maxDeletedFraction) — and the main-side [[IndexKind]] for its
  * logical / physical loaders.
  */
final case class IndexUnderTest(name: String,
                                kind: IndexKind,
                                build: (String, DataFrame, Int) => Unit,
                                append: (String, DataFrame) => Unit,
                                delete: (String, DataFrame) => Unit,
                                compact: (String, Int) => Unit,
                                compactIfDeleted: (String, Double) => Boolean)

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
    VectorIndexStore.compactIvfIfDeleted(spark, _, _))

  lazy val pqIndex: IndexUnderTest = IndexUnderTest("pq", IndexKind.Pq,
    VectorIndexStore.buildPqAt(spark, _, _, _),
    VectorIndexStore.appendPq(spark, _, _),
    VectorIndexStore.deletePq(spark, _, _),
    VectorIndexStore.compactPq(spark, _, _),
    VectorIndexStore.compactPqIfDeleted(spark, _, _))

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
}
