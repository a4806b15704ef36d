package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Caches

/** The bounded cross-query memo's policy ([[Caches.Memo]]): an access-order
  * LRU of 8 entries that releases what it evicts or invalidates, and drops
  * stale entries (a stopped session's) without releasing them.
  */
class MemoSpec extends AnyFunSuite {

  private class Fixture {
    val stale = mutable.Set.empty[String]
    val released = mutable.Buffer.empty[String]
    val built = mutable.Buffer.empty[String]
    val memo = new Caches.Memo[String, String](stale.contains, released += _)
    def get(k: String): String = memo(k) { built += k; s"v-$k" }
  }

  test("a 9th key evicts the least recently used entry and releases it") {
    val f = new Fixture
    (1 to 9).foreach(i => f.get(s"k$i"))
    assert(f.released == Seq("v-k1"))
    f.get("k2")
    assert(f.built == (1 to 9).map(i => s"k$i"), "k2 is still held")
    f.get("k1")
    assert(f.built.last == "k1", "k1 was forgotten and is built again")
    assert(f.released == Seq("v-k1", "v-k3"))
  }

  test("a hit moves its key to the front") {
    val f = new Fixture
    (1 to 8).foreach(i => f.get(s"k$i"))
    assert(f.get("k1") == "v-k1")
    f.get("k9")
    assert(f.released == Seq("v-k2"))
    assert(f.built == (1 to 9).map(i => s"k$i"))
  }

  test("a stale key's entry is dropped on the next access, without a release") {
    val f = new Fixture
    f.get("k1"); f.get("k2")
    f.stale += "k1"
    f.get("k2")
    f.stale.clear()
    f.get("k1")
    assert(f.built == Seq("k1", "k2", "k1"))
    assert(f.released.isEmpty)
  }

  test("invalidate releases the entry and forgets it") {
    val f = new Fixture
    f.get("k1"); f.get("k2")
    f.memo.invalidate("k1")
    assert(f.released == Seq("v-k1"))
    f.memo.invalidate("k3")
    assert(f.released == Seq("v-k1"), "an absent key releases nothing")
    f.get("k1"); f.get("k2")
    assert(f.built == Seq("k1", "k2", "k1"))
  }

  test("concurrent askers of one key build it once") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slow = new Caches.Memo[String, String](_ => false, _ => ())
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val ts = (1 to 4).map(_ => new Thread(() => {
      gate.await()
      slow("k") { builds.incrementAndGet(); Thread.sleep(50); "v" }
      ()
    }))
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    assert(builds.get == 1)
  }
}
