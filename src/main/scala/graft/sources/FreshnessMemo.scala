package graft.sources

/** A bounded, process-wide memo whose entries hold only while a freshness
  * token matches: `apply(key, token)(compute)` returns the value cached
  * under `key` if it was computed under the same `token`, else computes,
  * keeps and returns a new one. The caller recomputes the token from the
  * filesystem on EVERY call ([[Versioned.listingFingerprint]]), so the memo
  * never decides staleness and cross-process writers are covered; it is
  * only a (token → value) lookup. Shared by [[RowCountCache]] (derived-table
  * row counts), the index-model loaders (`IvfIndex.loadModel`,
  * `PqIndex.loadModel`) and [[Fs.readParquet]]'s footer schemas.
  *
  * Callers compute the token BEFORE the value: a value read after a change
  * but kept under the older token only costs a later miss, while the
  * reverse order could keep a stale value under the fresh token.
  *
  * Safe for concurrent readers and writers (one `ConcurrentHashMap`; two
  * threads missing together both compute, and either result is correct
  * for its token). Bounded by `capacity` in units of `weight`: past it,
  * other entries are evicted in arbitrary order, and a value heavier than
  * `capacity` is returned without being kept.
  */
final class FreshnessMemo[V](capacity: Long, weight: V => Long) {

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()
  private val held = new java.util.concurrent.atomic.AtomicLong(0L)

  def apply(key: String, token: String)(compute: => V): V = {
    val hit = entries.get(key)
    if (hit != null && hit._1 == token) hit._2
    else {
      val value = compute
      val w = weight(value)
      if (w <= capacity) {
        val prev = entries.put(key, (token, value))
        held.addAndGet(w - (if (prev == null) 0L else weight(prev._2)))
        val keys = entries.keySet.iterator
        while (held.get > capacity && keys.hasNext) {
          val other = keys.next()
          if (other != key) {
            val gone = entries.remove(other)
            if (gone != null) held.addAndGet(-weight(gone._2))
          }
        }
      }
      value
    }
  }
}
