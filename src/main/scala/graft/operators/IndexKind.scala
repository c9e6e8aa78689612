package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** An ANN INDEX KIND: what one local index format supplies to the one
  * single-index lifecycle in [[graft.sources.VectorIndexStore]] (ensure,
  * build, append, delete, compact, compact-if-deleted, retrain) and to the
  * [[Sharded]] composition over it. Two instances — [[IndexKind.Ivf]]
  * (centroid model + cell-partitioned full-precision `vectors`) and
  * [[IndexKind.Pq]] (coarse model + codebooks + cell-partitioned one-byte
  * `encoded` codes). Each supplies only what differs between the formats;
  * the lifecycle bodies are written once against this class. `Model` is
  * abstract, so a model a kind loads or trains goes back to the SAME
  * kind's writers without a cast.
  *
  * Both kinds' data tables are their own APPEND JOURNAL: every row
  * carries the `seq` of the qerr watermark its write logged (build and
  * retrain: the baseline row; append: the batch's row), so "what landed
  * after watermark w" is `seq > w` over the kind's own rows ([[journal]]).
  * The row loaders ([[logical]], [[physical]]) drop the column.
  *
  * @param name       the kind in diagnostics ("IVF" / "PQ")
  * @param table      pointer name of the cell-partitioned data table
  * @param cal        the calibration sidecar a retrain invalidates
  */
sealed abstract class IndexKind(
    val name: String,
    val table: String,
    private[graft] val cal: graft.sources.VectorIndexStore.CalSidecar) {

  type Model

  /** The LOGICAL rows WITH their `seq` column as the table carries it:
    * absent when the schema Spark infers (from one footer) predates seq
    * stamping, null for rows of pre-seq files otherwise. Whether EVERY
    * file carries the column is a per-file question
    * ([[graft.sources.Fs.everyParquetFileHas]]).
    */
  def journal(spark: SparkSession, path: String): DataFrame =
    graft.sources.Tombstones.applyTo(spark, path, spark.read.parquet(dataDir(path)), "vec_id")

  /** The resolved data-table directory (the compaction/retrain pointer
    * once published, else the build-time layout).
    */
  def dataDir(path: String): String

  /** The LOGICAL rows (tombstones anti-joined) and the PHYSICAL table. */
  def logical(spark: SparkSession, path: String): DataFrame
  def physical(spark: SparkSession, path: String): DataFrame

  def loadModel(spark: SparkSession, path: String): Model

  /** Coarse cell count of a model. */
  def cells(model: Model): Int

  def train(spark: SparkSession, vectors: DataFrame, nCells: Int): Model

  /** The data-table rows of `vectors` under `model` (assign / encode). */
  def rows(spark: SparkSession, vectors: DataFrame, model: Model): DataFrame

  /** One-row (n_vectors, mean_sq_err) error of `vectors` under `model`:
    * assignment distortion / quantization error.
    */
  def stats(spark: SparkSession, vectors: DataFrame, model: Model): DataFrame

  /** Write a fresh artifact at `dir`: model sidecars + data table. */
  def save(spark: SparkSession, model: Model, rows: DataFrame, dir: String): Unit

  /** The model sidecars a retrain publishes, as (pointer name, writer)
    * pairs in publication order.
    */
  def modelParts(spark: SparkSession, model: Model): Seq[(String, String => Unit)]

  /** Per-query ANN top-k over candidate `rows` under `model` — the
    * retrain recall gate's measured side (`corpus` is the full-precision
    * re-rank source where the kind needs one).
    */
  def topKFrames(spark: SparkSession, rows: DataFrame, model: Model,
                 corpus: DataFrame, panel: Seq[(Long, Array[Float])], k: Int,
                 nProbe: Int, shortlist: Int): DataFrame
}

object IndexKind {

  /** The data-table column holding each row's write seq. */
  val SeqColumn = "seq"

  object Ivf extends IndexKind("IVF", "vectors",
    graft.sources.VectorIndexStore.ProbeCalSidecar) {
    type Model = IvfIndex.Model
    def dataDir(path: String): String = IvfIndex.vectorsDir(path)
    def logical(spark: SparkSession, path: String): DataFrame =
      IvfIndex.loadVectors(spark, path)
    def physical(spark: SparkSession, path: String): DataFrame =
      IvfIndex.loadVectorsRaw(spark, path)
    def loadModel(spark: SparkSession, path: String): Model =
      IvfIndex.loadModel(spark, path)
    def cells(model: Model): Int = model.centroids.length
    def train(spark: SparkSession, vectors: DataFrame, nCells: Int): Model =
      IvfIndex.train(spark, vectors, k = nCells)
    def rows(spark: SparkSession, vectors: DataFrame, model: Model): DataFrame =
      IvfIndex.assign(spark, vectors, model)
    def stats(spark: SparkSession, vectors: DataFrame, model: Model): DataFrame =
      IvfIndex.distortionStats(spark, vectors, model)
    def save(spark: SparkSession, model: Model, rows: DataFrame, dir: String): Unit =
      IvfIndex.save(spark, model, rows, dir)
    def modelParts(spark: SparkSession, model: Model): Seq[(String, String => Unit)] =
      Seq("model" -> (IvfIndex.saveModel(spark, model, _)))
    def topKFrames(spark: SparkSession, rows: DataFrame, model: Model,
                   corpus: DataFrame, panel: Seq[(Long, Array[Float])], k: Int,
                   nProbe: Int, shortlist: Int): DataFrame =
      AnnEval.ivfTopKFrames(spark, rows, model, panel, k, nProbe)
  }

  object Pq extends IndexKind("PQ", "encoded",
    graft.sources.VectorIndexStore.ShortCalSidecar) {
    type Model = PqIndex.Model
    def dataDir(path: String): String = PqIndex.encodedDir(path)
    def logical(spark: SparkSession, path: String): DataFrame =
      PqIndex.loadEncoded(spark, path)
    def physical(spark: SparkSession, path: String): DataFrame =
      PqIndex.loadEncodedRaw(spark, path)
    def loadModel(spark: SparkSession, path: String): Model =
      PqIndex.loadModel(spark, path)
    def cells(model: Model): Int = model.coarse.centroids.length
    def train(spark: SparkSession, vectors: DataFrame, nCells: Int): Model =
      PqIndex.train(spark, vectors, nCells = nCells)
    def rows(spark: SparkSession, vectors: DataFrame, model: Model): DataFrame =
      PqIndex.encode(spark, vectors, model)
    def stats(spark: SparkSession, vectors: DataFrame, model: Model): DataFrame =
      PqIndex.quantizationStats(spark, vectors, model)
    def save(spark: SparkSession, model: Model, rows: DataFrame, dir: String): Unit =
      PqIndex.save(spark, model, rows, dir)
    def modelParts(spark: SparkSession, model: Model): Seq[(String, String => Unit)] =
      Seq("coarse" -> (IvfIndex.saveModel(spark, model.coarse, _)),
        "codebooks" -> (PqIndex.saveCodebooks(spark, model, _)))
    def topKFrames(spark: SparkSession, rows: DataFrame, model: Model,
                   corpus: DataFrame, panel: Seq[(Long, Array[Float])], k: Int,
                   nProbe: Int, shortlist: Int): DataFrame =
      AnnEval.pqTopKFrames(spark, rows, model, corpus, panel, k, nProbe, shortlist)
  }
}
