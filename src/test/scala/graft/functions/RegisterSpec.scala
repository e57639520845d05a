package graft.functions

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[GraftFunctions.register]] is safe to race: every caller returns
  * only once the session's whole function set exists.
  */
class RegisterSpec extends AnyFunSuite {
  import TestSpark._

  private val names = Seq("graft_minhash", "graft_simhash", "graft_fingerprint",
    "graft_zorder", "graft_dot", "graft_sig_match", "graft_min_pos_dist",
    "graft_lsh_bucket", "graft_quantize_i8", "graft_dot_i8", "graft_min_k",
    "graft_max_k", "graft_gcd", "graft_cov_moments")

  test("concurrent first registrations on a fresh session all see every function") {
    val threads = 8
    for (round <- 1 to 3) {
      val fresh = spark.newSession()
      val barrier = new CyclicBarrier(threads)
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val results = (1 to threads).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            def call(): Seq[Long] = {
              barrier.await(30, TimeUnit.SECONDS)
              GraftFunctions.register(fresh)
              val missing = names.filterNot(fresh.catalog.functionExists)
              assert(missing.isEmpty, s"round $round: missing after register: $missing")
              fresh.sql("SELECT graft_minhash('the quick brown fox jumps')")
                .head().getSeq[Long](0)
            }
          })
        }.map(_.get(60, TimeUnit.SECONDS))
        assert(results.forall(r => r.size == 16 && r == results.head))
      } finally pool.shutdown()
    }
  }

  test("no register call returns before the session's functions exist") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val threads = 4
    val returned = new CountDownLatch(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      // the registry serializes writes on its own monitor: holding it
      // stalls the creating thread, so an early return is observable
      val calls = registry.synchronized {
        val fs = (1 to threads).map(_ => pool.submit(new Runnable {
          def run(): Unit = { GraftFunctions.register(fresh); returned.countDown() }
        }))
        Thread.sleep(500)
        assert(returned.getCount === threads,
          s"${threads - returned.getCount} register call(s) returned before registration finished")
        fs
      }
      calls.foreach(_.get(60, TimeUnit.SECONDS))
      assert(names.forall(fresh.catalog.functionExists))
      assert(fresh.sql("SELECT graft_minhash('a b c d')").head().getSeq[Long](0).size === 16)
    } finally pool.shutdown()
  }
}
