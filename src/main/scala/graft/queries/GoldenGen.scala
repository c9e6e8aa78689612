package graft.queries

/** Golden-value generator for the non-SQL-expressible oracles (the VALUES
  * literals in PipelineQueries.GoldenD08/GoldenD09,
  * MultimodalQueries.GoldenM04, and TextQueries.GoldenT21): prints each
  * map's rows from a live engine run at both pinned fixture SFs. Run after
  * an INTENDED change to the generating operator (recipe:
  * tools/golden_chunk_oracles.md) — and only after the suite certifying
  * that operator passes: the chunker parity/property suites for
  * d08/d09/m04, BpeSpec's golden merge tables + properties for t21.
  * Printed numbers are SQL literals; strip nothing, copy verbatim.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session("local[8]", 8)
    val m = Registry.asMap
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val n = spark.read.parquet(s"$d/documents.parquet").count()
      val d08 = m("d08_chunks")(spark, d).head()
      println(s"""GOLDEN d08 ${n}L -> Seq("${d08.getLong(0)}, ${d08.getLong(1)}, ${d08.getLong(2)}")""")
      val d09 = m("d09_chunk_stats")(spark, d).collect()
      println(s"GOLDEN d09 ${n}L -> Seq(")
      d09.foreach { r =>
        println(s"""GOLDEN   "'${r.getString(0)}', ${r.getLong(1)}, ${r.getLong(2)}, ${r.getInt(3)}",""")
      }
      println("GOLDEN )")
      val m04 = m("m04_chunks_sql")(spark, d).head()
      println(s"""GOLDEN m04 ${n}L -> Seq("${m04.getLong(0)}, ${m04.getLong(1)}, ${m04.getLong(2)}")""")
      val t21 = m("t21_bpe_encode_pack")(spark, d).head()
      println(s"""GOLDEN t21 ${n}L -> Seq("${t21.getLong(0)}, ${t21.getLong(1)}, ${t21.getLong(2)}, ${t21.getLong(3)}, ${t21.getLong(4)}")""")
      val d10 = m("d10_ingest_canonical")(spark, d).head()
      println(s"""GOLDEN d10 ${n}L -> Seq("${d10.getLong(0)}, ${d10.getLong(1)}, ${d10.getLong(2)}")""")
      val m06 = m("m06_e2e_binary_ingest")(spark, d).head()
      println(s"""GOLDEN m06 ${n}L -> Seq("${m06.getLong(0)}, ${m06.getLong(1)}, ${m06.getLong(2)}")""")
    }
    spark.stop()
  }
}
