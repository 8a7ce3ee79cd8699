package graft.sources

/** Driver-side state of persisted indexes, one entry per path, each
  * stamped with the [[Tables.fingerprint]] of the path it was made from.
  * A reader passes the path's current fingerprint and gets the entry only
  * when the stamps match, so an index rewritten or appended to is read
  * again, never served stale. A writer that knows what it just wrote
  * primes the entry, so the next reader loads nothing. Past `max` paths,
  * the least recently used entry goes. */
final class FingerprintCache[V](max: Int) {
  private val entries =
    new java.util.LinkedHashMap[String, (String, V)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, V)]): Boolean = size() > max
    }

  /** The entry for `path` at fingerprint `fp`, loaded first when the one
    * kept is missing or stamped with another fingerprint. */
  def apply(path: String, fp: String)(load: => V): V =
    Option(entries.synchronized(entries.get(path)))
      .collect { case (`fp`, v) => v }
      .getOrElse { val v = load; prime(path, fp, v); v }

  /** Keep `v` as the entry for `path` at fingerprint `fp`. */
  def prime(path: String, fp: String, v: V): Unit =
    entries.synchronized(entries.put(path, (fp, v)))
}
