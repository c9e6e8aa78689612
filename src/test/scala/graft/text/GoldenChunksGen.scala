package graft.text

import graft.operators.Ingest
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Golden-fixture generator for GoldenChunksSpec. Run ONLY on an intentional
  * splitter-semantics change:
  *
  *   sbt "Test/runMain graft.text.GoldenChunksGen"
  *
  * Rewrites the checked-in chunker digests for sf0.01 and sf0.1.
  */
object GoldenChunksGen {

  /** Tidy a single-file golden: rename the one part file to `name`, drop
    * _SUCCESS and .crc noise — keeps the checked-in fixture one clean file.
    */
  private def tidy(dir: String, name: String): Unit = {
    val d = new java.io.File(dir)
    d.listFiles().foreach { f =>
      if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        require(f.renameTo(new java.io.File(d, name)), s"rename failed in $dir")
      else if (f.getName != name) f.delete()
    }
  }

  def main(args: Array[String]): Unit = {
    // UTC (the factory's, like SparkTestBase/Verify): the canonical
    // metadata column renders the injected timestamp with the SESSION
    // timezone, so a generator on a non-UTC host would write goldens the
    // UTC-pinned spec (and the pinned digest literals) could never match
    val spark = graft.Harness.session("local[8]", 8)
    for ((sf, suffix) <- Seq("sf0.01" -> "sf001", "sf0.1" -> "sf01")) {
      val docs = Tables.load(spark, s"/root/testdata/$sf", "documents")
      Ingest.chunkDocuments(spark, docs).toDF()
        .select(col("id"), col("filename"), col("chunk_id"), col("text_hash"),
          length(col("content")).as("n_chars"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"src/test/resources/golden/chunk_digest_$suffix")
      tidy(s"src/test/resources/golden/chunk_digest_$suffix", "chunk_digest.parquet")
      println(s"[golden] wrote chunk_digest_$suffix")
      // the composed flagship output (d10: full A1→A14 pipeline to the
      // canonical store, vector as dim+L2 digest), raw rows — the driver's
      // d10 query hash-gates a one-row xor digest of these; this golden is
      // the byte-level backstop, built from the SAME frame helper the
      // declared query digests (d10Canonical)
      graft.queries.PipelineQueries.d10Canonical(spark, s"/root/testdata/$sf")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"src/test/resources/golden/d10_digest_$suffix")
      tidy(s"src/test/resources/golden/d10_digest_$suffix", "d10_digest.parquet")
      println(s"[golden] wrote d10_digest_$suffix")
      // m06's composed binary-ingest output, same backstop role as d10's
      graft.queries.MultimodalQueries.m06Canonical(spark, s"/root/testdata/$sf")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"src/test/resources/golden/m06_digest_$suffix")
      tidy(s"src/test/resources/golden/m06_digest_$suffix", "m06_digest.parquet")
      println(s"[golden] wrote m06_digest_$suffix")
    }
    spark.stop()
  }
}
