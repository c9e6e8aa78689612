package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval around a call into the engine. Listener counts are
  * SELF counts: work of jobs submitted while this span was the innermost
  * open span of its thread. Inclusive counts add the children's.
  */
final class Span(val id: Long, val name: String, val parent: Long,
                 val op: Long, val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var gcMs: Long = 0L // JVM-wide GC time over the span
  val jobs, stages, tasks, rowsIn, shuffleBytes, execRunMs = new LongAdder
  /** [launch, finish] of every task charged to this span, epoch ms. */
  val taskIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the SparkListener that charges jobs,
  * stages and tasks to spans. A span id travels to Spark as a thread-local
  * job property, so concurrent callers (the maintain workload's reader and
  * writer) are attributed separately. Disabled, [[span]] only runs its
  * body: untraced runs install no listener and set no properties.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "graftbench.span"
  private val ids = new AtomicLong
  private val spans = new ConcurrentHashMap[Long, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val current = new ThreadLocal[Span]

  private def gcNow(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(s => Option(spans.get(s.toLong)))

  if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      spanOf(js.properties).foreach { s =>
        s.jobs.increment()
        js.stageIds.foreach(id => stageSpan.put(id, s))
      }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      spanOf(ss.properties).foreach { s =>
        s.stages.increment()
        stageSpan.put(ss.stageInfo.stageId, s)
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(te.stageId)).foreach { s =>
        s.tasks.increment()
        val m = te.taskMetrics
        if (m != null) {
          s.rowsIn.add(m.inputMetrics.recordsRead)
          s.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          s.execRunMs.add(m.executorRunTime)
        }
        val ti = te.taskInfo
        if (ti != null && ti.finishTime > 0) s.taskIntervals.add((ti.launchTime, ti.finishTime))
      }
  })

  /** Time `body` as a span named `name` under the thread's open span. */
  def span[T](name: String, op: Long)(body: => T): T = spanned(name, op)(_ => body)

  /** [[span]], handing the open span (None when disabled) to `body`. */
  def spanned[T](name: String, op: Long)(body: Option[Span] => T): T =
    if (!enabled) body(None)
    else {
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), name,
        if (parent == null) 0L else parent.id, op, System.nanoTime())
      spans.put(s.id, s)
      val sc = spark.sparkContext
      current.set(s)
      sc.setLocalProperty(Prop, s.id.toString)
      val gc0 = gcNow()
      try body(Some(s))
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = gcNow() - gc0
        current.set(parent)
        sc.setLocalProperty(Prop, if (parent == null) null else parent.id.toString)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.sql.GraftShim.drainListenerBus(spark)

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = children(s).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a0, b0) =>
      val a = a0.max(s.startNs); val b = b0.min(s.endNs)
      if (b > a) {
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = curE.max(b)
      }
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = {
    val byParent = all.groupBy(_.parent)
    def go(x: Span): Seq[Span] = x +: byParent.getOrElse(x.id, Nil).flatMap(go)
    go(s)
  }

  /** Wall time during which at least one task of the span's subtree ran. */
  def executorBusyMs(s: Span): Double = {
    val iv = subtree(s).flatMap(_.taskIntervals.asScala).sortBy(_._1)
    var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = curE.max(b)
    }
    if (curE > curS) busy += curE - curS
    busy.toDouble.min(s.durMs)
  }

  def inclusive(s: Span, f: Span => LongAdder): Long = subtree(s).map(f(_).sum).sum

  /** All spans as JSON lines, for the spans file written at the end. */
  def jsonLines: Seq[String] = all.map { s =>
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
      "self_ms" -> selfMs(s), "gc_ms" -> s.gcMs,
      "jobs" -> s.jobs.sum, "stages" -> s.stages.sum, "tasks" -> s.tasks.sum,
      "rows_in" -> s.rowsIn.sum, "shuffle_bytes" -> s.shuffleBytes.sum,
      "executor_run_ms" -> s.execRunMs.sum)
  }
}
