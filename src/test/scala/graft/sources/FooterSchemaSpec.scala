package graft.sources

import graft.{Graft, SparkTestBase}
import graft.operators.{HashingEmbedder, IndexKind, Ingest, IvfIndex, PqIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Fs.readParquet]]: a read with the schema one driver-side footer
  * declares gives the frame `spark.read.parquet` gives — the same schema,
  * partition columns included, and the same rows — without the schema
  * job, so a warm probe runs exactly its one search job.
  */
class FooterSchemaSpec extends SparkTestBase {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_footer_$name").toString

  /** Same schema, same rows (`except` both ways), as Spark's inference. */
  private def assertSameAsInferred(dir: String): Unit = {
    val declared = Fs.readParquet(spark, dir)
    val inferred = spark.read.parquet(dir)
    assert(declared.schema == inferred.schema,
      s"$dir:\n declared ${declared.schema.treeString}\n inferred ${inferred.schema.treeString}")
    assert(declared.count() == inferred.count())
    assert(declared.except(inferred).isEmpty && inferred.except(declared).isEmpty,
      s"$dir: the rows differ")
  }

  /** Jobs `body` launches, counted under a job group of its own. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"footer-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("the vectors table reads as Spark infers it") {
    val path = s"${tmp("ivf")}/ix"
    VectorIndexStore.buildIvfAt(spark, path, emb, 8)
    assertSameAsInferred(IvfIndex.vectorsDir(path))
    assert(IvfIndex.loadVectorsRaw(spark, path).columns.contains("cell"))
  }

  test("the encoded table reads as Spark infers it") {
    val path = s"${tmp("pq")}/ix"
    VectorIndexStore.buildPqAt(spark, path, emb, 8)
    assertSameAsInferred(PqIndex.encodedDir(path))
  }

  test("a hive-partitioned chunk store reads as Spark infers it") {
    val path = s"${tmp("chunks")}/chunks"
    val docs = Tables.load(spark, sf, "documents")
    ChunkStore.upsert(spark, Ingest.pipeline(spark, docs.limit(20), new HashingEmbedder()),
      path, partitionBy = Seq("filename"))
    ChunkStore.upsert(spark, Ingest.pipeline(spark, docs.limit(30), new HashingEmbedder()),
      path, partitionBy = Seq("filename"))
    val dir = s"$path/${Versioned.readPointer(path, "data").get.dir}"
    assertSameAsInferred(dir)
    assert(ChunkStore.readPhysical(spark, path).columns.last == "filename")
  }

  test("a vectors dir mixing pre-seq and seq files reads as Spark infers it") {
    val path = s"${tmp("mixed")}/ix"
    VectorIndexStore.buildIvfAt(spark, path, emb, 8)
    // the data table as a build before seq stamping wrote it ...
    val dir = IvfIndex.vectorsDir(path)
    spark.read.parquet(dir).drop(IndexKind.SeqColumn)
      .write.partitionBy("cell").parquet(s"$dir.legacy")
    Versioned.metaBackend.deleteRecursively(dir)
    assert(new java.io.File(s"$dir.legacy").renameTo(new java.io.File(dir)))
    // ... then an append, whose files carry seq
    VectorIndexStore.appendIvf(spark, path, emb.limit(12)
      .select((col("vec_id") + 900000L).as("vec_id"), col("label"), col("embedding")))
    assert(!Fs.everyParquetFileHas(spark, dir, IndexKind.SeqColumn))
    assertSameAsInferred(dir)
  }

  test("a dir with no data file fails exactly as spark.read.parquet does") {
    val missing = s"${tmp("none")}/absent"
    val inferred = intercept[Exception](spark.read.parquet(missing))
    val declared = intercept[Exception](Fs.readParquet(spark, missing))
    assert(declared.getClass == inferred.getClass && declared.getMessage == inferred.getMessage)
  }

  test("a footer-declared read launches no job; a warm probe runs one") {
    val path = s"${tmp("jobs")}/ix"
    VectorIndexStore.buildIvfAt(spark, path, emb, 8)
    val dir = IvfIndex.vectorsDir(path)
    assert(jobsOf(spark.read.parquet(dir).schema) >= 1,
      "premise: Spark's inference launches a schema job")
    assert(jobsOf(Fs.readParquet(spark, dir).schema) == 0)
    val q = emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    Graft.ivfProbe(spark, path, q, 10).collect() // loads the model once
    var probe: DataFrame = null
    assert(jobsOf { probe = Graft.ivfProbe(spark, path, q, 10) } == 0,
      "a warm probe's construction must launch no job")
    assert(jobsOf(probe.collect()) == 1, "a warm probe is its one search job")
  }
}
