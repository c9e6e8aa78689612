package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Two-phase pointer-file publication for derived tables inside an
  * artifact directory — the crash- and reader-safe replacement for
  * delete-then-rename swaps (round-6's refresh left a window where a
  * reader between the delete and the rename saw a MISSING table, and a
  * crash between a base-table append and the derived refresh left the
  * derived table silently stale).
  *
  * Protocol (no transactional table format needed):
  *   1. write the new version into a fresh sibling directory
  *      `<name>-v<n>-<pid>-<nano>` (never touches the current one);
  *   2. atomically flip the pointer file `<name>.CURRENT` (tmp file +
  *      `ATOMIC_MOVE`) to the new directory, stamping a WATERMARK — the
  *      base-table row count the version was derived from;
  *   3. garbage-collect versions older than the immediately previous one
  *      (kept for readers that resolved the pointer just before the flip).
  *
  * Reader guarantees:
  *   - a reader concurrent with a refresh sees either the old or the new
  *     version, both complete — never a missing or half-written table;
  *   - a reader can compare the pointer's watermark against the base
  *     table's current row count (parquet footer metadata — no data scan)
  *     and DETECT a stale derived table (crash-after-append), triggering
  *     repair instead of serving wrong aggregates.
  *
  * Writer contract: SINGLE WRITER per artifact (the standard contract for
  * segmented-index maintenance — concurrent appenders would both anti-join
  * against the same base snapshot and double-insert regardless of this
  * protocol). Readers are unrestricted. ENFORCED by [[withWriterLease]]
  * (create-exclusive lease file, loud [[ConcurrentWriterException]] on
  * contention, expiry-based takeover after a crash), acquired by every
  * store append/compact entry point. Asserted in ArtifactStoresSpec
  * (concurrent-writer, reader-during-refresh, crash-recovery tests).
  */
object Versioned {

  final case class Current(dir: String, watermark: Long)

  /** Thrown on writer-lease contention — the single-writer contract made
    * LOUD. Before round 8 the contract was documentation only: two
    * concurrent appenders would each anti-join against the same base
    * snapshot and double-insert, corrupting the store silently.
    */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** Default lease time-to-live. A crashed writer's lease is takeover-able
    * after this long; a HEALTHY long-running writer renews every ttl/3 (the
    * heartbeat), so the TTL bounds only (a) how long a crashed writer
    * blocks other writers and (b) how long a checked reader may tolerate a
    * crashed writer's stale derived table — both want a SHORT ttl, and the
    * heartbeat removes the old reason for a long one (jobs that outlive
    * it). 5 min still tolerates extreme GC/IO stalls between heartbeats.
    */
  val LeaseTtlMs: Long = 5 * 60 * 1000L

  // In-JVM guard: one ReentrantLock per canonical artifact path. Two
  // threads of the same process contend HERE (the lease file alone cannot
  // arbitrate them — both would read their own pid); cross-process writers
  // contend on the create-exclusive lease file below. The map only ever
  // holds paths this JVM has written — bounded by the artifact count.
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]

  // The lease lives BESIDE the artifact directory, not inside it: taking a
  // lease must not create the artifact dir as a side effect (a premature
  // mkdirs would make PhysicalLayout.ensureDir's atomic rename publication
  // fail spuriously against a half-created target), and the lease survives
  // whole-directory rewrites.
  private def leasePath(canonical: String) = canonical + ".WRITER.LEASE"

  /** Arbitration backend for lease mutations ([[LeaseBackend]]). POSIX
    * file-lock CAS by default; swap for an object-store backend (S3
    * conditional-put) or an in-memory one in protocol drills.
    */
  @volatile var leaseBackend: LeaseBackend = PosixLeaseBackend

  /** Storage backend for the artifact metadata plane ([[MetaBackend]]):
    * pointer files, completeness markers, version listings/GC. POSIX by
    * default; [[HadoopMetaBackend]] for hdfs://-class deployments.
    */
  @volatile var metaBackend: MetaBackend = PosixMetaBackend

  /** Writer identity: host + pid. Pid alone is NOT an identity on shared
    * storage — pid spaces wrap per host, and a cross-host collision would
    * make an ACTIVE foreign lease look like our own crashed predecessor.
    */
  private lazy val selfId: String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName.replaceAll("\\s", "_")
      catch { case _: Exception => "localhost" }
    s"$host:${ProcessHandle.current().pid()}"
  }

  /** Run `body` holding the EXCLUSIVE writer lease for the artifact at
    * `path` — acquired by every store append/compact/refresh entry point.
    *
    * Protocol: create-exclusive lease file `WRITER.LEASE` containing
    * `<pid> <expiryEpochMs>`. Contention fails LOUDLY with
    * [[ConcurrentWriterException]] (never blocks, never corrupts); an
    * EXPIRED lease (crashed writer) is taken over — the takeover itself is
    * race-safe because the loser of the re-create throws. Re-entrant
    * within a thread (compact internally publishes; nested acquisition of
    * the same artifact is one lease).
    */
  def withWriterLease[T](path: String, ttlMs: Long = LeaseTtlMs)(body: => T): T = {
    // URI paths (hdfs://, s3a://) are already canonical and need no parent
    // mkdirs (object stores have no directories; the lease backend for
    // such a deployment writes objects, not files). java.io canonicalizes
    // only genuinely-local paths.
    val canonical =
      if (path.contains("://")) path.stripSuffix("/")
      else {
        val dir = new java.io.File(path)
        Option(dir.getParentFile).foreach(_.mkdirs()) // lease is a SIBLING file
        dir.getCanonicalPath
      }
    val lock = jvmLocks.computeIfAbsent(canonical,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (lock.isHeldByCurrentThread) { lock.lock(); try body finally lock.unlock() }
    else {
      if (!lock.tryLock())
        throw new ConcurrentWriterException(
          s"artifact $canonical already has an active writer in this process " +
            "(Versioned single-writer contract): serialize maintenance calls")
      try {
        // `owned` tracks the exact content of OUR current lease incarnation
        // — renewal and release only ever touch the file while it still
        // holds that content, so neither can clobber a successor's lease
        // after a pathological takeover.
        val owned = new java.util.concurrent.atomic.AtomicReference[String](
          acquireFileLease(canonical, ttlMs))
        // HEARTBEAT: a healthy writer renews its expiry every ttl/3, so a
        // maintenance job that legitimately outlives the TTL (a retrain is
        // an hours-long rebuild at scale) is never taken over mid-write —
        // expiry-based takeover remains strictly a crashed-writer path.
        // Every tick's file mutation runs under `tickLock`, and release
        // clears `owned` under the SAME lock before deleting — an
        // in-flight renewal either completes before the delete (and its
        // write is removed by it) or observes the cleared state and does
        // nothing. No straggler can resurrect a released lease.
        val tickLock = new Object
        val period = math.max(50L, ttlMs / 3)
        val renewal = renewScheduler.scheduleAtFixedRate(
          () => tickLock.synchronized { renewLease(canonical, ttlMs, owned) },
          period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
        try body finally {
          renewal.cancel(false)
          tickLock.synchronized {
            releaseFileLease(canonical, owned.getAndSet(null))
          }
        }
      } finally lock.unlock()
    }
  }

  // SMALL POOL of daemon threads shared by every lease heartbeat in the
  // process — per-acquisition executors would create and tear down a thread
  // for every sub-second store append in a streaming sink, while a SINGLE
  // shared thread doing blocking file I/O would let one renewal hung on
  // stalled storage (NFS stall) delay every other held lease's heartbeat
  // past its TTL, turning healthy concurrent writers into takeover victims.
  private lazy val renewScheduler: java.util.concurrent.ScheduledExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newScheduledThreadPool(4,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-lease-renew-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }

  /** Renew OUR lease incarnation via one backend CAS: the compare (file
    * still carries the exact content we last wrote) and the write are a
    * single linearizable step, so a holder stalled between heartbeats can
    * never land a renewal on top of a successor's fresh lease — the old
    * read-compare-then-move shape had exactly that window. A failed CAS
    * means the lease was legitimately taken over after a stall: stop
    * renewing, flag the holder.
    */
  private[sources] def renewLease(canonical: String, ttlMs: Long,
                         owned: java.util.concurrent.atomic.AtomicReference[String]): Unit =
    try {
      val mine = owned.get()
      if (mine == null) return
      val next = s"$selfId ${System.currentTimeMillis() + ttlMs}"
      if (leaseBackend.replaceIfContent(leasePath(canonical), mine, next))
        owned.set(next)
      else {
        System.err.println(s"[graft] writer lease for $canonical was lost " +
          "(taken over after a stall?): stopping renewal for this holder")
        owned.set(null)
      }
    } catch { case _: Exception => () } // transient I/O: next tick retries

  /** Acquisition; returns the lease content we wrote.
    *
    * - Claim = [[LeaseBackend.createIfAbsent]] (O_EXCL under the POSIX
    *   backend; `If-None-Match: *` under an object-store one).
    * - An existing lease is judged: parseable + unexpired + foreign →
    *   active writer, loud refusal. Unparseable (torn garbage from a
    *   crash mid-claim on a backend whose create isn't content-atomic) →
    *   judged by AGE: younger than the TTL → active; NEGATIVE age (mtime
    *   in the future — cross-host clock skew on shared storage) is also
    *   judged active, so a skewed-clock contender can never retire a
    *   lease another host created milliseconds ago.
    * - Takeover of an expired lease is ONE backend CAS (expired content →
    *   ours): exactly one contender succeeds, and a last-millisecond
    *   renewal by the old holder changes the content first, failing every
    *   contender's CAS — the holder keeps its lease.
    */
  private[sources] def acquireFileLease(canonical: String, ttlMs: Long): String = {
    val path = leasePath(canonical)
    val content = s"$selfId ${System.currentTimeMillis() + ttlMs}"
    if (leaseBackend.createIfAbsent(path, content)) return content
    val cur = leaseBackend.read(path) match {
      case Some(c) => c
      case None => // vanished between claim and read (holder released): retry once
        if (leaseBackend.createIfAbsent(path, content)) return content
        else throw new ConcurrentWriterException(
          s"artifact $canonical: lost the lease claim race to another writer")
    }
    val (id, expiry, parsed) =
      try {
        val Array(p, e) = cur.trim.split(" ")
        (p, e.toLong, true)
      } catch { case _: Exception => ("?", 0L, false) }
    val now = System.currentTimeMillis()
    val active =
      if (parsed) expiry >= now && id != selfId
      else // torn content: judge by age; absent/negative age → conservative
        leaseBackend.ageMs(path).forall(_ <= ttlMs)
    if (active)
      throw new ConcurrentWriterException(
        s"artifact $canonical has an active writer lease ($id, " +
          s"expires ${new java.util.Date(expiry)}): Versioned " +
          "single-writer contract — a second concurrent appender would " +
          "double-insert against the same base snapshot")
    if (leaseBackend.replaceIfContent(path, cur, content)) content
    else throw new ConcurrentWriterException(
      s"artifact $canonical: lost the takeover race for an expired " +
        "writer lease to another process")
  }

  /** Delete the lease only while it still carries OUR content (one backend
    * CAS) — release after a pathological takeover must not remove the
    * successor's lease, and the compare-and-delete is atomic where the old
    * read-then-delete was not.
    */
  private[sources] def releaseFileLease(canonical: String, mine: String): Unit =
    try {
      if (mine == null) return
      leaseBackend.deleteIfContent(leasePath(canonical), mine)
      ()
    } catch { case _: Exception => () } // expiry reclaims a leaked lease

  private def pointerFile(path: String, name: String) =
    s"$path/$name.CURRENT"

  /** Version number encoded in a version-directory name. */
  private def versionOf(dir: String): Long = {
    val tail = dir.substring(dir.lastIndexOf("-v") + 2)
    val end = tail.indexOf('-')
    (if (end < 0) tail else tail.substring(0, end)).toLong
  }

  /** Part-file count of `name`'s current version — the self-scheduling
    * compaction trigger's one driver-side check (shared by every store's
    * compactIfNeeded variant).
    */
  def partFileCount(path: String, name: String): Int = {
    val cur = readPointer(path, name).get.dir
    metaBackend.list(s"$path/$cur").count(_.name.startsWith("part-"))
  }

  /** Listing fingerprint of `dir`: each visible child's name and size
    * (`.`-prefixed checksum and tmp siblings skipped), in name order; ""
    * when absent. A driver-side metadata read that moves whenever a file
    * is added, removed or rewritten under a new name (parquet writers name
    * every part file with a fresh UUID) — the freshness token of every
    * [[FreshnessMemo]] over a directory.
    */
  def listingFingerprint(dir: String): String =
    metaBackend.list(dir)
      .filterNot(_.name.startsWith("."))
      .sortBy(_.name)
      .map(e => s"${e.name}:${e.size}")
      .mkString("|")

  /** Resolve the current version of derived table `name`, if published. */
  def readPointer(path: String, name: String): Option[Current] =
    metaBackend.readString(pointerFile(path, name)).map { content =>
      val Array(dir, wm) = content.trim.split(" ")
      Current(dir, wm.toLong)
    }

  /** The current version of `name` as a DataFrame (fails loudly when no
    * version was ever published — an incomplete artifact, not an empty
    * table).
    */
  def read(spark: SparkSession, path: String, name: String): DataFrame = {
    val cur = readPointer(path, name).getOrElse(throw new IllegalStateException(
      s"derived table $name has no published version at $path"))
    spark.read.parquet(s"$path/${cur.dir}")
  }

  /** Publish a new version of `name`: `write` produces into a fresh
    * version directory, then one atomic pointer flip makes it current with
    * `watermark` recorded. A crash mid-`write` leaves an orphan directory
    * the next publication GCs — the pointer never references an incomplete
    * version.
    */
  def publish(path: String, name: String, watermark: Long)
             (write: String => Unit): Unit = {
    val prev = readPointer(path, name)
    val n = prev.map(c => versionOf(c.dir) + 1).getOrElse(1L)
    val dir = s"$name-v$n-${ProcessHandle.current().pid()}-${System.nanoTime()}"
    write(s"$path/$dir")
    metaBackend.writeAtomic(pointerFile(path, name), s"$dir $watermark")
    // GC anything older than the version that was current just before the
    // flip: a reader holding THAT version finishes unharmed; anything older
    // (including orphans of crashed publications) has no live readers
    prev.foreach { c =>
      val cutoff = versionOf(c.dir)
      metaBackend.list(path)
        .filter(e => e.isDir && e.name.startsWith(s"$name-v") &&
          e.name != c.dir && e.name != dir &&
          versionOf(e.name) < cutoff)
        .foreach(e => metaBackend.deleteRecursively(s"$path/${e.name}"))
    }
  }
}
