package graft.sources

import org.apache.spark.sql.SparkSession

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
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursive delete through the same API (no-op when absent) — the
    * data-plane counterpart of [[exists]] for sidecar/GC removal. A
    * `java.io`-based delete would silently leave every remote sidecar in
    * place, turning "tombstones applied and cleared" into "tombstones
    * applied forever" off the local filesystem.
    */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
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
    exists(spark, dir) && spark.read.parquet(dir).inputFiles.forall { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration))
      try reader.getFileMetaData.getSchema.containsField(column) finally reader.close()
    }
}
