package graft.core

import java.util.UUID
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** The build-once registry: one build per (session, kind, corpus,
  * params), shared by concurrent first callers; nested builds complete;
  * a failed build leaves the key unbuilt, also for its waiters.
  */
class ArtifactsSpec extends AnyFunSuite {
  import TestSpark._

  /** A key no other suite can have built. */
  private def fresh(kind: String, params: Any*): Artifacts.Key =
    Artifacts.key(spark, kind, UUID.randomUUID().toString, params: _*)

  test("4 threads asking for one new key get one instance from one build") {
    val k = fresh("spec.concurrent")
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val got = try {
      val futures = (1 to 4).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          Artifacts(k) { runs.incrementAndGet(); Thread.sleep(200); new Object }
        }
      }))
      start.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(got.forall(_ eq got.head))
    assert(runs.get === 1)
    assert(Artifacts.peek[AnyRef](k).exists(_ eq got.head))
  }

  test("a build that asks the registry for another key completes") {
    val outer = fresh("spec.outer")
    val inner = fresh("spec.inner")
    assert(Artifacts(outer)(Artifacts(inner)(21) * 2) === 42)
    assert(Artifacts.peek[Int](inner) === Some(21))
    assert(Artifacts.peek[Int](outer) === Some(42))
    // the real shape: an IVFPQ build forces its IVF cells' entry
    val emb = Tables.embeddings(spark, sf)
    val idx = graft.pipeline.Similarity.ivfPqIndex(emb)
    assert(Artifacts.peek(Artifacts.keyOf(emb, "ivf", idx.nlist)).isDefined)
  }

  test("a build that throws leaves no entry, and the next call builds") {
    val k = fresh("spec.failing")
    intercept[IllegalStateException] {
      Artifacts[Int](k)(throw new IllegalStateException("build failed"))
    }
    assert(Artifacts.peek[Int](k).isEmpty)
    assert(Artifacts(k)(7) === 7)
    assert(Artifacts.peek[Int](k) === Some(7))
  }

  test("a caller waiting on a build that throws builds the one entry anew") {
    val k = fresh("spec.failing.waiter")
    val attempts = new AtomicInteger()
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // throws on its first run only: a waiter that re-ran this closure in
    // the failed cell would get a value the registry never stores
    def build(): AnyRef = {
      if (attempts.incrementAndGet() == 1) {
        inBuild.countDown()
        release.await(60, TimeUnit.SECONDS)
        throw new IllegalStateException("build failed")
      }
      new Object
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = Artifacts(k)(build())
      })
      assert(inBuild.await(60, TimeUnit.SECONDS))
      @volatile var waiterThread: Thread = null
      val waiter = pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = { waiterThread = Thread.currentThread(); Artifacts(k)(build()) }
      })
      // let the failure happen only once the waiter is blocked on the build
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while ((waiterThread == null || waiterThread.getState != Thread.State.BLOCKED) &&
          System.nanoTime() < deadline) Thread.sleep(1)
      release.countDown()
      val e = intercept[java.util.concurrent.ExecutionException] {
        first.get(60, TimeUnit.SECONDS)
      }
      assert(e.getCause.isInstanceOf[IllegalStateException])
      val v = waiter.get(60, TimeUnit.SECONDS)
      assert(attempts.get === 2, "one failed build and one good one")
      assert(Artifacts.peek[AnyRef](k).exists(_ eq v))
      assert(Artifacts(k)(build()) eq v)
      assert(attempts.get === 2)
    } finally pool.shutdownNow()
  }

  test("spark.newSession() gets its own entry") {
    val corpus = UUID.randomUUID().toString
    val other = spark.newSession()
    val a = Artifacts(Artifacts.key(spark, "spec.session", corpus))(new Object)
    val b = Artifacts(Artifacts.key(other, "spec.session", corpus))(new Object)
    assert(!(a eq b))
    assert(Artifacts(Artifacts.key(spark, "spec.session", corpus))(new Object) eq a)
  }

  test("different params give different entries") {
    val corpus = UUID.randomUUID().toString
    val a = Artifacts(Artifacts.key(spark, "spec.params", corpus, 16))(new Object)
    val b = Artifacts(Artifacts.key(spark, "spec.params", corpus, 24))(new Object)
    assert(!(a eq b))
    assert(Artifacts(Artifacts.key(spark, "spec.params", corpus, 16))(new Object) eq a)
  }

  test("q_ann_ivf oracle keeps its own centroids after another IVF build") {
    // IVFPQ builds IVF cells on the same embeddings with its own nlist;
    // the q_ann_ivf dump must still carry the nlist = 16 table it used
    SparkEntry.queries("q_ann_ivf")(spark, sf).collect()
    graft.pipeline.IvfIndex.forTable(Tables.embeddings(spark, sf), 24)
    val sql = SparkEntry.oracleSql("q_ann_ivf")
    val marker = "cents(cell, c) AS (VALUES "
    val values = sql.drop(sql.indexOf(marker) + marker.length).takeWhile(_ != '\n')
    val cells = """\((\d+), \[""".r.findAllMatchIn(values).map(_.group(1).toInt).toSeq
    assert(cells === (0 until 16))
  }
}
