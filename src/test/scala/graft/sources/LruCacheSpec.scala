package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The kv manifest and shard-parse caches are LRU-bounded: memory stays
  * capped however many tables a process touches, and an overflow evicts the
  * coldest entry instead of emptying the cache. */
class LruCacheSpec extends AnyFunSuite {

  test("size stays at the bound however many keys go in") {
    val c = new LruCache[Int, String](64)
    (0 until 5000).foreach(i => c.put(i, i.toString))
    assert(c.size == 64)
    // the newest 64 are the ones kept
    assert((5000 - 64 until 5000).forall(i => c.get(i) == i.toString))
    assert(c.get(5000 - 65) == null)
  }

  test("a recently used entry survives an overflow; the coldest goes") {
    val c = new LruCache[Int, String](4)
    (1 to 4).foreach(i => c.put(i, i.toString))
    assert(c.get(1) == "1") // 1 is now the most recently used
    c.put(5, "5")
    assert(c.get(1) == "1")
    assert(c.get(2) == null)
    assert(c.size == 4)
    c.put(3, "3'") // a write is a use, too
    c.put(6, "6")
    assert(c.get(3) == "3'" && c.get(4) == null)
    c.remove(3)
    assert(c.size == 3 && c.get(3) == null)
  }

  test("the kv caches keep their bounds: 512 manifests, 2048 shard parses") {
    assert(GraftKvSink.manifestCache.capacity == 512)
    assert(GraftKvSink.shardParseCache.capacity == 2048)
  }

  test("concurrent use keeps the bound") {
    val c = new LruCache[Int, String](32)
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 2000).foreach { i =>
        c.put(t * 10000 + i, "v"); c.get(t * 10000 + i / 2)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(c.size == 32)
  }
}
