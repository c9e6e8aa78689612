package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Filesystem existence probe through the Hadoop FileSystem API, so
  * store-presence checks work on ANY filesystem Spark can read
  * (hdfs://, s3a://, file:) — `java.io.File.exists` silently answers
  * false for every remote URI, which turns an "absent store, bootstrap"
  * branch into a correctness bug off the local filesystem (re-appending
  * rows the store already holds). Data-plane probes route through here;
  * the lease/pointer control plane stays on [[LeaseBackend]]'s documented
  * storage-class backends.
  */
object Fs {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursive delete through the same API (no-op when absent) — the
    * data-plane counterpart of [[exists]] for sidecar/GC removal. A
    * `java.io`-based delete would silently leave every remote sidecar in
    * place, turning "tombstones applied and cleared" into "tombstones
    * applied forever" off the local filesystem.
    */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Whether every data file of the parquet table at `dir` (the files
    * Spark's own listing reads, partition directories included) declares
    * `column` in its OWN footer. A directory can mix files written before
    * and after a column was introduced, and Spark infers a directory's
    * schema from a single footer, so only a per-file check can tell.
    * False when `dir` does not exist.
    */
  def everyParquetFileHas(spark: SparkSession, dir: String, column: String): Boolean =
    exists(spark, dir) && readParquet(spark, dir).inputFiles.forall { f =>
      footer(spark, new Path(f)).getFileMetaData.getSchema.containsField(column)
    }

  /** `spark.read.parquet(dir)` without Spark's schema-inference job: the
    * data schema comes from ONE footer read on the driver, the footer of
    * the file Spark's inference reads itself (the first data file in path
    * order), so the frame's schema is the one `spark.read.parquet(dir)`
    * infers: the footer's Spark row metadata, else its parquet schema
    * converted under the session's conf, then the partition columns Spark
    * discovers from the directory names, with the types it infers.
    * Whether a column is in EVERY file is still a per-file question
    * ([[everyParquetFileHas]]). The schema is memoized per (file path,
    * length): a parquet file is written once. A directory with no data
    * file falls through to `spark.read.parquet`, which fails (or reads
    * nothing) exactly as before.
    */
  def readParquet(spark: SparkSession, dir: String): DataFrame =
    firstDataFile(spark, dir) match {
      case Some(f) => spark.read.schema(footerSchema(spark, f)).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** Footer schemas kept at once (one per table a process reads). */
  private val MaxFooterSchemas = 4096L

  private val footerSchemas = new FreshnessMemo[StructType](MaxFooterSchemas, _ => 1L)

  private def footerSchema(spark: SparkSession, f: FileStatus): StructType =
    footerSchemas(f.getPath.toString, f.getLen.toString) {
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer(spark, f.getPath)),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }

  private def footer(spark: SparkSession, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** The data file Spark's schema inference reads: the smallest full path
    * among the files its listing keeps (names starting with `_` — unless
    * a `k=v` partition directory — or `.`, and `._COPYING_` files, are
    * skipped). Sorting siblings by name, with `/` appended to directories,
    * is full-path order, so only one branch per level is listed. None when
    * `dir` is absent or vanishes mid-listing (a GC'd version): the caller
    * then fails through Spark's own read.
    */
  private def firstDataFile(spark: SparkSession, dir: String): Option[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def kept(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    def first(s: FileStatus): Option[FileStatus] =
      if (!s.isDirectory) Some(s)
      else fs.listStatus(s.getPath).filter(kept)
        .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
        .iterator.flatMap(first).nextOption()
    try first(fs.getFileStatus(root))
    catch { case _: java.io.FileNotFoundException => None }
  }
}
