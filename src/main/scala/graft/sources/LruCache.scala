package graft.sources

/** A thread-safe map bounded at `capacity` entries: on overflow it evicts
  * the least recently used entry (one read or write counts as a use), so a
  * hot working set survives a scan over many cold keys. */
private[sources] final class LruCache[K, V <: AnyRef](val capacity: Int) {
  require(capacity > 0, s"LruCache capacity must be positive, got $capacity")
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size > capacity
  }
  /** The cached value, or null. */
  def get(k: K): V = synchronized(map.get(k))
  def put(k: K, v: V): Unit = synchronized(map.put(k, v): Unit)
  def remove(k: K): Unit = synchronized(map.remove(k): Unit)
  def size: Int = synchronized(map.size)
}
