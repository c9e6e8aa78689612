package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round harness: dump `.explain("formatted")` for declared
  * queries to `<outDir>/<name>_<suffix>.txt` (the plans/r18 deliverable).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *
  * NOTE for imperative queries (lifecycle drills whose fn runs its own
  * actions and returns a literal frame): the dumped plan covers only the
  * RETURNED frame; sub-frame plans for those are captured by hand where an
  * optimization touches them (see OPTIMIZATION_r18.md).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val selected = Harness.selectOrExit("the query list argument", args.lift(3),
      SparkEntry.queries.keys.toSeq.sorted)
    val spark = Harness.localSession()
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    val queries = SparkEntry.queries
    selected.foreach { name =>
      try {
        val df = queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(mode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
