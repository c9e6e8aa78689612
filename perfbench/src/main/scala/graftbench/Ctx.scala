package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call of a workload's closed loop. */
final case class OpSample(role: String, ms: Double, mode: String, span: Option[Span])

/** Per-run state shared by the workloads: the session, the seed, the
  * tracer, the run's scratch directory and the attempted / failed
  * counters. A failed operation or check is counted and its exception
  * class recorded; the run is then reported incorrect.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val workDir: java.io.File) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val errors = new ConcurrentHashMap[String, AtomicLong]
  val checks = new ConcurrentHashMap[String, Boolean]
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[OpSample]
  private val dirs = new AtomicLong
  private val ops = new AtomicLong

  def trace: Boolean = tracer.enabled

  private val born = System.nanoTime()

  /** Progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")

  def fail(where: String, e: Throwable): Unit = {
    failed.incrementAndGet()
    errors.computeIfAbsent(e.getClass.getName, _ => new AtomicLong).incrementAndGet()
    System.err.println(s"[perfbench] $where failed: $e")
  }

  /** An output check: counts as one attempted operation. */
  def check(name: String)(cond: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val ok = try cond catch { case e: Throwable => fail(s"check $name", e); return false }
    checks.merge(name, ok, (a: Boolean, b: Boolean) => a && b)
    if (!ok) fail(s"check $name", new CheckFailed(name))
    ok
  }

  /** A fresh directory path under the run's scratch directory. */
  def freshDir(name: String): String =
    new java.io.File(workDir, s"$name-${dirs.incrementAndGet()}").getAbsolutePath

  def nextOp(): Long = ops.incrementAndGet()

  /** Run one operation of the closed loop and record its latency. `mode`
    * is "plain" (untraced), "traced" (spans + listener counts on the same
    * calls) or "layers" (each layer materialized inside its own span).
    * Returns None if the operation threw.
    */
  def timed[T](role: String, mode: String)(body: Long => T): Option[T] = {
    attempted.incrementAndGet()
    val op = nextOp()
    var span: Option[Span] = None
    val t0 = System.nanoTime()
    try {
      val r =
        if (mode == "plain") body(op)
        else tracer.spanned(role, op) { s => span = s; body(op) }
      samples.add(OpSample(role, (System.nanoTime() - t0) / 1e6, mode, span))
      Some(r)
    } catch { case e: Throwable => fail(role, e); None }
  }

  /** A child span inside an operation, recorded only in traced modes. */
  def span[T](mode: String, name: String, op: Long)(body: => T): T =
    if (mode == "plain") body else tracer.span(name, op)(body)

  def samplesOf(role: String, mode: String): Seq[OpSample] =
    samples.asScala.toSeq.filter(s => s.role == role && s.mode == mode)

  def correct: Boolean = failed.get() == 0

  def errorMap: Map[String, Long] = errors.asScala.map { case (k, v) => k -> v.get }.toMap
}

final class CheckFailed(name: String) extends RuntimeException(s"output check failed: $name")

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
