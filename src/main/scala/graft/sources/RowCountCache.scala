package graft.sources

/** Process-wide cache for the watermark row counts the checked derived-table
  * reads need ([[DocArtifact.derivedAt]]'s repair check): the check itself must run on EVERY read — that is what detects a
  * crash between an append and its derived refresh — but the count it
  * compares only changes when the underlying table changes. Re-counting a
  * posting table per probe is a full scan per query invocation (at 100 TB, a
  * full corpus pass to decide "nothing changed").
  *
  * Freshness token = the current version's pointer dir + a driver-side fs
  * listing fingerprint of its part files (name + size) + the same for the
  * tombstone sidecar. Every mutation path moves the token: appends add part
  * files to the current dir, compaction re-points the version, deletes
  * write the sidecar, clears remove it. The listing is a metadata operation
  * (the compactIfNeeded pattern) — only the COUNT is cached, never the
  * staleness decision. Cross-process writers are covered because the token
  * is recomputed from the filesystem on every read; the cache is only ever
  * a (token → count) memo.
  */
object RowCountCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def fingerprint(path: String, name: String): String = {
    def listFp(dir: String): String =
      Versioned.metaBackend.list(dir)
        .filterNot(_.name.startsWith("."))
        .sortBy(_.name)
        .map(e => s"${e.name}:${e.size}")
        .mkString("|")
    val cur = Versioned.readPointer(path, name).map(_.dir).getOrElse("-")
    s"$cur#${listFp(s"$path/$cur")}#${listFp(s"$path/tombstones")}"
  }

  /** The row count of derived table `name`'s current version at `path`,
    * recomputed via `compute` only when the version's filesystem
    * fingerprint changed since the last call in this process.
    */
  def countFor(path: String, name: String)(compute: => Long): Long = {
    val token = fingerprint(path, name)
    val hit = cache.get(s"$path#$name")
    if (hit != null && hit._1 == token) hit._2
    else {
      val n = compute
      cache.put(s"$path#$name", (token, n))
      n
    }
  }
}
