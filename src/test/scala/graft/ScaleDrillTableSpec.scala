package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The drill table, without Spark: its order honours every `needs`, a
  * default run reports exactly the row names of the committed 1×+10× drill
  * artifact, and the knobs the table replaced are gone from the sources.
  */
class ScaleDrillTableSpec extends AnyFunSuite {

  private val names = ScaleDrill.table.map(_.name)

  test("names are unique and every need names an entry listed earlier") {
    assert(names.distinct == names)
    for ((d, i) <- ScaleDrill.table.zipWithIndex; n <- d.needs)
      assert(names.take(i).contains(n), s"${d.name} needs $n, which is not listed before it")
  }

  test("the default selection reports exactly the committed drill artifact's rows") {
    val default = ScaleDrill.select(None)
    val emitted = ScaleDrill.table.filter(d => default.contains(d.name)).flatMap(_.emits).toSet
    val artifact = Files.readAllLines(Paths.get("SCALE_DRILL_seq_journal.jsonl")).asScala
      .filter(_.nonEmpty)
      .map(l => """"name":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1)).toSet
    assert(emitted == artifact,
      s"only in the table: ${emitted -- artifact}; only in the artifact: ${artifact -- emitted}")
  }

  test("opt-in entries run only when named") {
    val optIn = ScaleDrill.table.filter(_.optIn).map(_.name)
    assert(optIn.toSet == Set("sweep:build_parallelism", "ivf_pastmax"))
    assert(ScaleDrill.select(None).intersect(optIn).isEmpty)
    assert(ScaleDrill.select(Some("ivf_pastmax")) == Seq("ivf_pastmax"))
  }

  test("one entry brings its prerequisites and nothing else") {
    assert(ScaleDrill.select(Some("ivf_delete")) ==
      Seq("ivf_sharded", "ivf_reshard", "ivf_catchup", "ivf_delete"))
    assert(ScaleDrill.select(Some("x02_jaccard_stats")) ==
      Seq("build:shingle", "build:minhash", "build:substr", "x02_jaccard_stats"))
    assert(ScaleDrill.select(Some("retrain:pq")) == Seq("retrain:pq"))
    intercept[IllegalArgumentException](ScaleDrill.select(Some("ivf_deleet")))
  }

  test("the replaced drill knobs appear nowhere under src") {
    // split literals: this file must not match its own scan
    val banned = Seq("SPARK_GRAFT_DRILL_" + "SKIP_", "knob" + "Map",
      "DRILL_" + "PASTMAX", "DRILL_" + "SWEEP_PAR")
    val files = Files.walk(Paths.get("src"))
    val offenders =
      try files.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
        val text = new String(Files.readAllBytes(p), "ISO-8859-1")
        banned.exists(text.contains)
      }.toList
      finally files.close()
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
