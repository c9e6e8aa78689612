package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftShim, SparkSession}

/** What every main (and the test base) is built on: the one session
  * factory, the one work meter and the one name filter.
  */
object Harness {

  /** The one place a session is built. Every session runs in UTC with no
    * UI, AQE on, WARN logs and the engine's native functions plus the
    * `SelfDotToNormSq` rule installed (so the session `Verify` dumps from
    * is the session `Bench` times); a `local-cluster` master also gets the
    * executor launch config. `confs` are the caller's extras (app name,
    * artifact dirs, warehouse dir, executor memory, ...).
    */
  def session(master: String, partitions: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    if (master.startsWith("local-cluster")) ClusterLaunch.configure(b)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.install(spark)
    spark
  }

  /** The driver-contract mains' session: `local[SPARK_GRAFT_CPUS]`
    * (default 4) with one shuffle partition per core.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    session(s"local[$cpus]", cpus)
  }

  /** WORK COUNTERS of one SparkContext: rows read from sources and rows
    * written to shuffles, accumulated per task. They make a timing claim
    * falsifiable from an artifact alone — identical work + different
    * seconds = environment noise, different work = a real plan change.
    */
  final class Meter private[Harness] () extends SparkListener {
    private val rowsInAcc = new AtomicLong
    private val shuffleAcc = new AtomicLong
    def rowsIn: Long = rowsInAcc.get()
    def shuffleRows: Long = shuffleAcc.get()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        rowsInAcc.addAndGet(m.inputMetrics.recordsRead)
        shuffleAcc.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  object Meter {
    // one per SparkContext: a JVM may run several contexts in sequence
    // (ClusterSmoke's two modes), and a second listener on the same
    // context would count every task twice
    private val installed = new java.util.WeakHashMap[SparkContext, Meter]

    /** The session's meter, added to its context's listener bus on first use. */
    def install(spark: SparkSession): Meter = installed.synchronized {
      val sc = spark.sparkContext
      Option(installed.get(sc)).getOrElse {
        val m = new Meter
        sc.addSparkListener(m)
        installed.put(sc, m)
        m
      }
    }
  }

  /** One measured run: wall seconds, the meter's deltas, and driver-JVM
    * GC time (with byte-equal work counters, a wall-clock delta that
    * tracks gc_ms is JVM state, not a plan change).
    */
  final case class Work(secs: Double, rowsIn: Long, shuffleRows: Long, gcMs: Long)

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .stream().mapToLong(_.getCollectionTime).sum()

  /** Run `body` and return its value with the work it did. The listener
    * bus is drained before the snapshot and after the body, so every task
    * that ended inside the body is counted and none from before it.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Work) = {
    val meter = Meter.install(spark)
    GraftShim.drainListenerBus(spark)
    val in0 = meter.rowsIn; val sh0 = meter.shuffleRows; val gc0 = gcMs()
    val t0 = System.nanoTime()
    val out = body
    val secs = (System.nanoTime() - t0) / 1e9
    GraftShim.drainListenerBus(spark)
    (out, Work(secs, meter.rowsIn - in0, meter.shuffleRows - sh0, gcMs() - gc0))
  }

  /** The members of `universe` a comma list names, in universe order; an
    * absent or empty list names every member that is not `optIn`. Each
    * picked member brings its `needs`, transitively (an opt-in member
    * runs only when named or needed). A name outside `universe` throws,
    * naming every such entry — a typo must not quietly shrink a run into
    * one that reads as success.
    */
  def select(source: String, filter: Option[String], universe: Seq[String],
             needs: String => Seq[String] = _ => Nil,
             optIn: String => Boolean = _ => false): Seq[String] = {
    val names = filter.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(universe.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"$source names unknown entries: ${unknown.mkString(",")}")
    @annotation.tailrec
    def close(todo: List[String], got: Set[String]): Set[String] = todo match {
      case Nil => got
      case n :: rest =>
        val fresh = needs(n).filterNot(got)
        require(fresh.forall(universe.contains), s"$source: $n needs an entry outside the table")
        close(fresh.toList ++ rest, got ++ fresh)
    }
    val picked = if (names.isEmpty) universe.filterNot(optIn) else names
    val all = close(picked.toList, picked.toSet)
    universe.filter(all)
  }

  /** [[select]] for a main: unknown names print to stderr and exit 2. */
  def selectOrExit(source: String, filter: Option[String], universe: Seq[String],
                   needs: String => Seq[String] = _ => Nil,
                   optIn: String => Boolean = _ => false): Seq[String] =
    try select(source, filter, universe, needs, optIn)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[harness] ${e.getMessage}")
        sys.exit(2)
    }
}
