package graft.core

/** The driver-side cache behind every warm serve tier: the `Cli.serve`
  * symbol cache, [[graft.pipeline.AnnServe]]'s cell and query-vector
  * caches and [[graft.pipeline.Bm25Serve]]'s per-term postings cache.
  *
  * A bounded, access-ordered LRU: at most `capacity` entries, the
  * least recently used evicted first. Each entry carries the version
  * its value was loaded at; `version(k)` is the artifact's current
  * version for `k` (an IVFPQ cell, a BM25 bucket, or a constant for
  * callers that [[invalidate]] instead), and an entry whose key's
  * version has advanced past its load version is stale — never
  * served, reloaded on the next [[getOrLoad]]. Thread-safe; loads run
  * outside the lock, so a slow cold load never blocks warm reads.
  */
final class ServeCache[K, V](capacity: Int, version: K => Long) {
  import ServeCache.Entry

  private val lru = new java.util.LinkedHashMap[K, Entry[V]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Entry[V]]): Boolean =
      size() > capacity
  }

  private def fresh(k: K): Option[V] = {
    val e = lru.get(k)
    if (e != null && version(k) <= e.version) Some(e.value) else None
  }

  /** The cached value for `k` when present and not stale. */
  def get(k: K): Option[V] = synchronized(fresh(k))

  /** Every cached value that is not stale, most recently used last. */
  def values: Seq[V] = synchronized {
    val b = Seq.newBuilder[V]
    lru.forEach((k, e) => if (version(k) <= e.version) b += e.value)
    b.result()
  }

  /** Every cached key, stale or not. */
  def keys: Set[K] = synchronized {
    val b = Set.newBuilder[K]
    lru.keySet.forEach(k => b += k)
    b.result()
  }

  /** Drop `k`; the next [[getOrLoad]] reloads it. */
  def invalidate(k: K): Unit = synchronized { lru.remove(k) }

  /** Values for `keys`, loading the missing or stale ones with ONE
    * `load` call. The load rule:
    *
    *  - the versions of the keys to load are snapshotted BEFORE `load`
    *    runs, and entries store at that snapshot. A writer that bumps
    *    a version after its data is visible and races the load leaves
    *    the entry stale, so it reloads on the next call — never marked
    *    fresh with pre-write data.
    *  - only the requested keys are stored; anything else `load`
    *    returns is dropped.
    *  - a requested key `load` did not return stores `absent(k)` (an
    *    empty cell, a term not in the corpus), so a repeat stays warm.
    *    What is absent is decided by what THIS load returned, never by
    *    re-reading the cache afterwards: a racing writer could have
    *    made a just-loaded entry stale, and a post-load check would
    *    then clobber real data with the placeholder.
    *  - the answer comes from the call itself, not from the cache, so
    *    every requested key is present even when the cache holds fewer
    *    entries than were requested.
    */
  def getOrLoad(keys: Seq[K])(load: Seq[K] => Map[K, V])(absent: K => V): Map[K, V] = {
    val (hits, toLoad) = synchronized {
      val ks = keys.distinct
      val hits = ks.flatMap(k => fresh(k).map(k -> _))
      val hitKeys = hits.map(_._1).toSet
      (hits.toMap, ks.filterNot(hitKeys).map(k => k -> version(k)))
    }
    if (toLoad.isEmpty) hits
    else {
      val loaded = load(toLoad.map(_._1))
      val got = toLoad.map { case (k, v) => (k, loaded.getOrElse(k, absent(k)), v) }
      synchronized(got.foreach { case (k, value, v) => lru.put(k, Entry(value, v)) })
      hits ++ got.map { case (k, value, _) => k -> value }
    }
  }

  /** [[getOrLoad]] for one key whose load always yields a value. */
  def getOrLoadOne(key: K)(load: => V): V = {
    lazy val v = load
    getOrLoad(Seq(key))(_ => Map(key -> v))(_ => v)(key)
  }
}

object ServeCache {
  /** `read` under one committed `state` of the artifact: rerun until
    * the state taken before it is still current after it. When the
    * cache's `version` and its loads both read the artifact's current
    * state, the entries a [[ServeCache.getOrLoad]] returns are never
    * older than a state taken before the call, and none is newer while
    * that state is current — so a stable read's entries all belong to
    * the returned state, and the caller scores them with its model.
    */
  @annotation.tailrec
  def stable[S <: AnyRef, V](state: => S)(read: => V): (S, V) = {
    val s = state
    val v = read
    if (state eq s) (s, v) else stable(state)(read)
  }

  private final case class Entry[V](value: V, version: Long)
}
