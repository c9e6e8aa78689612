package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   graftbench.Main --workload ingest|maintain --seed N
  *                   --seconds S --trace 0|1 --work DIR
  *
  * One Spark session in one process, local[N] with N = min(4, cores), AQE
  * on, shuffle partitions = N, UTC (the session shape of `graft.Bench`).
  * Prints a detail line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * untraced, the per-layer metrics traced. Exits 1 if an output check or
  * an operation failed.
  */
object Main {

  /** End-to-end metrics every workload reports (untraced run). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "work_per_s" -> "1/s")

  /** Per-layer metrics every workload reports (traced run). */
  val PerLayer: Seq[(String, String)] = Seq(
    "construct_ms" -> "ms", "action_ms" -> "ms", "jobs_per_op" -> "count",
    "stages_per_op" -> "count", "tasks_per_op" -> "count",
    "rows_in_per_op" -> "count", "shuffle_bytes_per_op" -> "bytes",
    "executor_busy_ms" -> "ms", "driver_ms" -> "ms", "gc_ms" -> "ms",
    "scanned_fraction" -> "ratio", "trace_overhead" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(1L)
    val seconds = opts.get("seconds").flatMap(_.toIntOption).getOrElse(10).max(1)
    val trace = opts.get("trace").contains("1")
    val work = new java.io.File(opts.getOrElse("work", "perfbench/.work/run")).getAbsoluteFile
    val run: Ctx => Outcome = workload match {
      case "ingest" => IngestWorkload.run
      case "maintain" => MaintainWorkload.run
      case other =>
        System.err.println(s"[perfbench] unknown workload '$other' (ingest|maintain)")
        sys.exit(2)
    }
    work.mkdirs()
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors()).max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(spark)

    val ctx = new Ctx(spark, seed, seconds, new Tracer(spark, trace), work)
    val t0 = System.nanoTime()
    val out = try run(ctx) catch {
      case e: Throwable =>
        ctx.fail(s"workload $workload", e)
        Outcome(Map.empty, Map.empty, Map.empty)
    }
    val sentinel = try hostSentinel(ctx) catch { case e: Throwable => ctx.fail("host sentinel", e); Double.NaN }
    val wallS = (System.nanoTime() - t0) / 1e9

    val declared = if (trace) PerLayer else EndToEnd
    val values: Map[String, Any] = if (trace) out.layers else out.e2e
    val metrics = declared.map { case (name, unit) =>
      name -> Json.Raw(Json.obj("value" -> values.getOrElse(name, Double.NaN), "unit" -> unit))
    }
    val missing = declared.map(_._1).filter(n => values.get(n).forall {
      case d: Double => d.isNaN || d.isInfinite
      case _ => false
    })
    if (ctx.correct && missing.nonEmpty) ctx.fail("metrics", new IllegalStateException(
      s"no measurement for ${missing.mkString(", ")}"))

    if (trace) {
      val spansFile = new java.io.File(work.getParentFile, s"spans-$workload-seed$seed.jsonl")
      val w = new java.io.PrintWriter(spansFile, "UTF-8")
      try ctx.tracer.jsonLines.foreach(w.println) finally w.close()
    }
    println(Json.obj("detail" -> Json.Raw(Json.obj((Seq[(String, Any)](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cpus, "wall_s" -> wallS, "host_sentinel_s" -> sentinel,
      "checks" -> ctx.checks.asScala.toMap, "errors" -> ctx.errorMap) ++
      out.detail.toSeq ++
      (if (trace) out.layers.toSeq.filterNot(kv => PerLayer.exists(_._1 == kv._1)) else Nil)): _*))))
    println(Json.obj(
      "correct" -> ctx.correct,
      "attempted" -> ctx.attempted.get().max(1L),
      "failed" -> ctx.failed.get(),
      "metrics" -> Json.Raw(Json.obj(metrics: _*))))
    System.out.flush()
    spark.stop()
    sys.exit(if (ctx.correct) 0 else 1)
  }

  /** Host-noise field, not a gated metric: `graft.Bench`'s sentinel query
    * (lineitem group-agg through the noop sink, min of 3) over a fixed
    * seed-42 lineitem-shaped table of 100k rows written by the benchmark.
    */
  private def hostSentinel(ctx: Ctx): Double = {
    val spark = ctx.spark
    val path = ctx.freshDir("lineitem")
    spark.range(0, 100000, 1, 4).select(
      col("id").as("l_orderkey"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pmod(xxhash64(col("id"), lit(42)), lit(3)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pmod(xxhash64(col("id"), lit(7)), lit(2)) + 1).cast("int")).as("l_linestatus"),
      (pmod(xxhash64(col("id"), lit(1)), lit(50)) + 1).cast("double").as("l_quantity"),
      (pmod(xxhash64(col("id"), lit(2)), lit(100000)) / 10.0).as("l_extendedprice"))
      .write.parquet(path)
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(path).groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }.min
  }
}
