package graft.core

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The [[ServeCache]] contract the three serve tiers rely on: the
  * version snapshot rule, what a load may store, LRU eviction, and
  * answers that do not depend on the cache's capacity. Plus the
  * [[LocalParquet.localFirst]] fallback rule.
  */
class ServeCacheSpec extends AnyFunSuite {

  /** A cache over mutable per-key versions that counts the keys each
    * load is asked for.
    */
  private class Fixture(capacity: Int) {
    val versions = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cache = new ServeCache[String, String](capacity, versions)
    val loads = mutable.ArrayBuffer.empty[Seq[String]]
    def get(keys: String*): Map[String, String] =
      cache.getOrLoad(keys) { ks =>
        loads += ks
        ks.map(k => k -> s"$k@${versions(k)}").toMap
      }(k => s"$k:absent")
  }

  test("a version bump during load leaves the entry stale, so the next call reloads it") {
    val f = new Fixture(8)
    val got = f.cache.getOrLoad(Seq("a")) { ks =>
      f.loads += ks
      val v = Map("a" -> s"a@${f.versions("a")}") // data read at version 0
      f.versions("a") = 1L                         // a writer lands mid-load
      v
    }(_ => "absent")
    assert(got === Map("a" -> "a@0"))
    assert(f.cache.get("a").isEmpty, "an entry loaded across a bump must be stale")
    assert(f.get("a") === Map("a" -> "a@1"))
    assert(f.loads.toSeq === Seq(Seq("a"), Seq("a")))
    assert(f.get("a") === Map("a" -> "a@1"))
    assert(f.loads.size === 2, "a fresh entry must not reload")
  }

  test("a bump after the load makes the entry stale") {
    val f = new Fixture(8)
    f.get("a")
    f.versions("a") = 3L
    assert(f.cache.get("a").isEmpty)
    assert(f.get("a") === Map("a" -> "a@3"))
    assert(f.loads.size === 2)
  }

  test("a requested key the load did not return caches absent; an unrequested one is not cached") {
    val f = new Fixture(8)
    val got = f.cache.getOrLoad(Seq("a", "b")) { ks =>
      f.loads += ks
      Map("a" -> "A", "z" -> "Z") // b missing, z never asked for
    }(k => s"$k:absent")
    assert(got === Map("a" -> "A", "b" -> "b:absent"))
    assert(f.cache.keys === Set("a", "b"))
    assert(f.cache.get("b") === Some("b:absent"))
    assert(f.cache.get("z").isEmpty)
    // the placeholder stays warm
    assert(f.get("a", "b") === Map("a" -> "A", "b" -> "b:absent"))
    assert(f.loads.size === 1)
  }

  test("only missing or stale keys reach the load, in one call") {
    val f = new Fixture(8)
    f.get("a", "b")
    f.versions("b") = 1L
    assert(f.get("a", "b", "c", "c") === Map("a" -> "a@0", "b" -> "b@1", "c" -> "c@0"))
    assert(f.loads.toSeq === Seq(Seq("a", "b"), Seq("b", "c")))
  }

  test("entries are evicted in LRU order at capacity") {
    val f = new Fixture(3)
    f.get("a"); f.get("b"); f.get("c")
    f.get("a") // touch: b is now least recently used
    f.get("d")
    assert(f.cache.keys === Set("a", "c", "d"))
    f.get("e")
    assert(f.cache.keys === Set("a", "d", "e"))
    f.cache.invalidate("d")
    assert(f.cache.keys === Set("a", "e"))
  }

  test("the answer holds every requested key even when capacity is smaller") {
    val f = new Fixture(2)
    val keys = Seq("a", "b", "c", "d", "e")
    assert(f.get(keys: _*) === keys.map(k => k -> s"$k@0").toMap)
    assert(f.cache.keys.size === 2)
    // partly warm: hits and loads merge into one complete answer
    assert(f.get(keys: _*) === keys.map(k => k -> s"$k@0").toMap)
  }

  test("values lists only entries that are not stale") {
    val f = new Fixture(8)
    f.get("a", "b")
    f.versions("a") = 1L
    assert(f.cache.values === Seq("b@0"))
  }

  test("getOrLoadOne loads once, then serves warm") {
    val cache = new ServeCache[String, Int](4, _ => 0L)
    var n = 0
    assert(cache.getOrLoadOne("x") { n += 1; 42 } === 42)
    assert(cache.getOrLoadOne("x") { n += 1; 7 } === 42)
    assert(n === 1)
  }

  /** Lines `body` writes to stderr. */
  private def stderrOf[T](body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val out = try body finally System.setErr(saved)
    (out, buf.toString.split("\n").toSeq.filter(_.nonEmpty))
  }

  test("localFirst: a throwing read answers from spark with one stderr line; a decline is silent") {
    val (thrown, thrownErr) = stderrOf(
      LocalParquet.localFirst[Int]("spec site")(throw new IllegalStateException("boom"))(7))
    assert(thrown === 7)
    assert(thrownErr.size === 1, thrownErr)
    assert(thrownErr.head.contains("spec site") && thrownErr.head.contains("boom"))

    val (declined, declinedErr) = stderrOf(LocalParquet.localFirst[Int]("spec site")(None)(8))
    assert(declined === 8)
    assert(declinedErr.isEmpty, declinedErr)

    var sparkRan = false
    val (local, localErr) = stderrOf(
      LocalParquet.localFirst[Int]("spec site")(Some(9)) { sparkRan = true; 0 })
    assert(local === 9 && !sparkRan && localErr.isEmpty)
  }
}
