package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The one harness: work meter, name filter, session factory. Runs in the
  * shared test session (never stopped here — other suites reuse it).
  */
class HarnessSpec extends SparkTestBase {

  private def readEmbeddings(): Unit =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .write.mode("overwrite").format("noop").save()

  test("measure counts a read's input rows, once even after a second install") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(n > 0)
    val ((), w) = Harness.measure(spark)(readEmbeddings())
    assert(w.rowsIn == n)
    assert(w.shuffleRows == 0)
    assert(w.secs > 0)
    assert(Harness.Meter.install(spark) eq Harness.Meter.install(spark))
    val ((), again) = Harness.measure(spark)(readEmbeddings())
    assert(again.rowsIn == n)
  }

  test("select names members in universe order; absent or empty means all") {
    val universe = Seq("a01", "b02", "c03")
    assert(Harness.select("ONLY", Some("c03, a01"), universe) == Seq("a01", "c03"))
    assert(Harness.select("ONLY", Some(" b02 ,,"), universe) == Seq("b02"))
    assert(Harness.select("ONLY", None, universe) == universe)
    assert(Harness.select("ONLY", Some(""), universe) == universe)
    assert(Harness.select("ONLY", Some(" , "), universe) == universe)
  }

  test("select rejects a list with one unknown name, naming it") {
    val e = intercept[IllegalArgumentException] {
      Harness.select("SPARK_GRAFT_ONLY", Some("k01_bm25_topk,k0l_bm25_topk"),
        Seq("k01_bm25_topk", "x02_jaccard_stats"))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY"), e.getMessage)
    assert(e.getMessage.contains("k0l_bm25_topk"), e.getMessage)
    assert(!e.getMessage.contains("k01_bm25_topk"), e.getMessage)
  }

  test("the factory's session runs in UTC with the native functions and rule") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val sim = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s").head().getDouble(0)
    assert(sim == 1.0)
    assert(spark.experimental.extraOptimizations
      .contains(graft.expressions.SelfDotToNormSq))
  }

  test("only the harness builds sessions or adds listeners") {
    // split literals: this file must not match its own scan
    val banned = Seq("SparkSession" + ".builder", "addSpark" + "Listener")
    val harness = Paths.get("src/main/scala/graft/Harness.scala")
    assert(Files.exists(harness))
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot((p: Path) => Files.isSameFile(p, harness)).filter { p =>
      val text = Files.readString(p)
      banned.exists(text.contains)
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
