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

  test("select pulls in needs transitively, in universe order") {
    val universe = Seq("build", "probe", "reshard", "catchup", "delete", "other")
    val needs = Map("probe" -> Seq("build"), "reshard" -> Seq("build"),
      "catchup" -> Seq("reshard"), "delete" -> Seq("catchup", "probe"))
      .withDefaultValue(Seq.empty[String])
    assert(Harness.select("ONLY", Some("delete"), universe, needs) ==
      Seq("build", "probe", "reshard", "catchup", "delete"))
    assert(Harness.select("ONLY", Some("other,catchup"), universe, needs) ==
      Seq("build", "reshard", "catchup", "other"))
    assert(Harness.select("ONLY", None, universe, needs) == universe)
  }

  test("select runs an opt-in entry only when it is named or needed") {
    val universe = Seq("sweep", "build", "probe", "pastmax")
    val needs = Map("probe" -> Seq("build"), "pastmax" -> Seq("build"))
      .withDefaultValue(Seq.empty[String])
    val optIn = Set("sweep", "pastmax")
    assert(Harness.select("ONLY", None, universe, needs, optIn) == Seq("build", "probe"))
    assert(Harness.select("ONLY", Some(""), universe, needs, optIn) == Seq("build", "probe"))
    assert(Harness.select("ONLY", Some("pastmax"), universe, needs, optIn) ==
      Seq("build", "pastmax"))
    assert(Harness.select("ONLY", Some("sweep,probe"), universe, needs, optIn) ==
      Seq("sweep", "build", "probe"))
    val needsOptIn = needs.updated("probe", Seq("sweep"))
    assert(Harness.select("ONLY", Some("probe"), universe, needsOptIn, optIn) ==
      Seq("sweep", "probe"))
  }

  test("select with needs still rejects an unknown name, and a need outside the table") {
    val universe = Seq("build", "probe")
    val needs = Map("probe" -> Seq("build")).withDefaultValue(Seq.empty[String])
    val e = intercept[IllegalArgumentException] {
      Harness.select("SPARK_GRAFT_DRILL_ONLY", Some("probe,prbe"), universe, needs)
    }
    assert(e.getMessage.contains("prbe") && !e.getMessage.contains("build"), e.getMessage)
    val broken = intercept[IllegalArgumentException] {
      Harness.select("ONLY", Some("probe"), universe, Map("probe" -> Seq("biuld")))
    }
    assert(broken.getMessage.contains("probe"), broken.getMessage)
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
