package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source guards for the probe's read path: every index-model parquet read
  * goes through the cached loaders, the index data tables are read with a
  * footer-declared schema, and the engine's option surface (conf keys and
  * env vars) stays the one it was before the model cache existed — the
  * cache is bounded by constants, not knobs.
  */
class ReadPathGuardSpec extends AnyFunSuite {

  private def mainFiles: Seq[java.nio.file.Path] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  private def text(file: String): String = Files.readString(Paths.get(file))

  /** The body of `def name(` in `src`: from its line to the next member
    * at the same indentation.
    */
  private def body(src: String, name: String): String = {
    val start = src.indexOf(s"  def $name(")
    assert(start >= 0, s"no def $name")
    val rest = src.substring(start + 1)
    val end = """\n  (def |private |val |lazy |final |/\*\*)""".r.findFirstMatchIn(rest)
      .map(_.start).getOrElse(rest.length)
    rest.substring(0, end)
  }

  // split literals: this file must not match its own scans
  private val parquetRead = "read" + ".parquet("
  private val modelDirs = Seq("modelDir", "coarseDir", "codebooksDir")

  test("model parquet is read only inside the cached loaders") {
    val loaders = Map(
      "src/main/scala/graft/operators/IvfIndex.scala" -> 1,
      "src/main/scala/graft/operators/PqIndex.scala" -> 2)
    loaders.foreach { case (file, reads) =>
      val src = text(file)
      val inLoader = body(src, "loadModel")
      assert(inLoader.contains("models("), s"$file: loadModel is not served by the model cache")
      assert(inLoader.split(java.util.regex.Pattern.quote(parquetRead), -1).length - 1 == reads,
        s"$file: loadModel should read $reads model table(s)")
      assert(src.split(java.util.regex.Pattern.quote(parquetRead), -1).length - 1 == reads,
        s"$file reads parquet outside loadModel")
    }
    val offenders = mainFiles.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(parquetRead) && modelDirs.exists(line.contains) =>
          s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("the index data-table loaders read with a footer-declared schema") {
    Seq("src/main/scala/graft/operators/IvfIndex.scala" -> "loadVectorsRaw",
      "src/main/scala/graft/operators/PqIndex.scala" -> "loadEncodedRaw").foreach {
      case (file, loader) =>
        val b = body(text(file), loader)
        assert(b.contains("Fs.readParquet("), s"$file: $loader does not name Fs.readParquet")
        assert(!b.contains(parquetRead), s"$file: $loader infers its schema")
    }
  }

  test("the spark.graft.* / SPARK_GRAFT_* option list is unchanged") {
    val pinned = Set(
      "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRILL_DRYRUN",
      "SPARK_GRAFT_DRILL_EXEC_MEM", "SPARK_GRAFT_DRILL_EXPLAIN", "SPARK_GRAFT_DRILL_MASTER",
      "SPARK_GRAFT_DRILL_NOCHECK", "SPARK_GRAFT_DRILL_NPROBE", "SPARK_GRAFT_DRILL_ONLY",
      "SPARK_GRAFT_DRILL_PARTS", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_SMOKE_CLUSTER_ONLY", "SPARK_GRAFT_SMOKE_ONLY",
      "spark.graft.checkpoint.dir", "spark.graft.checkpoint.mode", "spark.graft.index.dir",
      "spark.graft.minhash.dir", "spark.graft.percentile.mode", "spark.graft.postings.dir",
      "spark.graft.shard.buildParallelism", "spark.graft.shingles.dir",
      "spark.graft.substr.dir")
    val option = """spark\.graft\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+""".r
    val found = mainFiles.flatMap(p => option.findAllIn(Files.readString(p))).toSet
    assert(found == pinned,
      s"added: ${(found -- pinned).mkString(", ")}; removed: ${(pinned -- found).mkString(", ")}")
  }
}
