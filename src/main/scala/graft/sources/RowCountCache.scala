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
  * staleness decision (a [[FreshnessMemo]]).
  */
object RowCountCache {

  /** Counts kept at once; one entry per (store, derived table). */
  private val MaxCounts = 4096L

  private val counts = new FreshnessMemo[Long](MaxCounts, _ => 1L)

  private def fingerprint(path: String, name: String): String = {
    val cur = Versioned.readPointer(path, name).map(_.dir).getOrElse("-")
    s"$cur#${Versioned.listingFingerprint(s"$path/$cur")}#" +
      Versioned.listingFingerprint(s"$path/tombstones")
  }

  /** The row count of derived table `name`'s current version at `path`,
    * recomputed via `compute` only when the version's filesystem
    * fingerprint changed since the last call in this process.
    */
  def countFor(path: String, name: String)(compute: => Long): Long =
    counts(s"$path#$name", fingerprint(path, name))(compute)
}
