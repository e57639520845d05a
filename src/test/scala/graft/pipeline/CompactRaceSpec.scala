package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

/** Delete → compact racing the serve tiers' reads. `compact` swaps
  * the data directory and retires the tombstone sidecar; a reader that
  * paired the old (unmasked) directory with the new (absent) mask would
  * serve deleted rows. A reader thread loops over the driver-side serve
  * load and the Spark-path logical table while the main thread deletes
  * and compacts, and no id whose delete had returned before a read
  * began may appear in that read.
  */
class CompactRaceSpec extends AnyFunSuite {
  import TestSpark._

  private val rounds = 4

  /** Runs `read` on a thread until `mutate` (given the round number)
    * has run every round; returns the reads that leaked an id deleted
    * before they began, and how many reads ran.
    */
  private def race(ids: Seq[Long], delete: Seq[Long] => Unit, compact: () => Unit)
      (read: Int => Set[Long]): (Seq[String], Int) = {
    val deleted = new AtomicReference(Set.empty[Long])
    val stop = new AtomicBoolean(false)
    val leaks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failure = new AtomicReference[Throwable](null)
    var reads = 0
    val reader = new Thread(() => {
      try {
        var i = 0
        while (!stop.get) {
          val before = deleted.get
          val leaked = read(i) intersect before
          if (leaked.nonEmpty) leaks.add(s"read $i returned deleted ids ${leaked.take(5)}")
          i += 1
        }
        reads = i
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    try {
      (0 until rounds).foreach { r =>
        val batch = ids.filter(_ % rounds == r)
        delete(batch)
        deleted.set(deleted.get ++ batch)
        compact()
      }
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    Option(failure.get).foreach(t => throw t)
    import scala.jdk.CollectionConverters._
    (leaks.asScala.toSeq, reads)
  }

  test("IVFPQ: no read returns a vector deleted before it began") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val nl = IvfPqIndex.defaultNlist(IvfPqIndex.countFor(emb))
    val idx = IvfPqIndex.build(emb, nl, 8, 16) // private — delete mutates
    val victims = emb.select(col("vec_id")).as[Long].collect().toSeq.filter(_ % 5 == 1)
    val (leaks, reads) = race(victims, b => idx.delete(b.toDF("vec_id")), () => idx.compact()) { i =>
      if (i % 4 == 3) idx.codes().select(col("vec_id")).as[Long].collect().toSet
      else idx.cellRowsLocal(0 until nl).valuesIterator.flatMap(_.map(_._1)).toSet
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
    assert(reads > 0)
    val left = idx.cellRowsLocal(0 until nl).valuesIterator.flatMap(_.map(_._1)).toSet
    assert((left intersect victims.toSet).isEmpty)
    assert(left.nonEmpty)
  }

  test("BM25: no read returns a document deleted before it began") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val idx = Bm25Index.build(docs) // private — delete mutates
    val terms = graft.SparkEntry.Bm25Terms
    val buckets = terms.map(Bm25Index.bucketOf).distinct
    def local(): Set[Long] =
      idx.postingsLocal(buckets, terms).valuesIterator.flatMap(_.map(_._1)).toSet
    val matching = local()
    val victims = matching.toSeq.sorted.filter(_ % 3 == 1)
    assert(victims.size >= rounds, s"too few documents hold $terms")
    val (leaks, reads) = race(victims,
        b => idx.delete(b.toDF("doc_id")), () => idx.compact()) { i =>
      if (i % 4 == 3)
        idx.readPostings.filter(col("term").isin(terms: _*))
          .select(col("doc_id")).as[Long].collect().toSet
      else local()
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
    assert(reads > 0)
    assert(local() === matching -- victims)
  }
}
