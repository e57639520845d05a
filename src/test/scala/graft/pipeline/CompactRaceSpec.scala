package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

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
  * began may appear in that read. An append racing `compact` must land
  * in the directory the index keeps, never in the one it retires.
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
    CompactRaceSpec.race((0 until rounds).map { r => () =>
      val batch = ids.filter(_ % rounds == r)
      delete(batch)
      deleted.set(deleted.get ++ batch)
      compact()
    }) { i =>
      val before = deleted.get
      val leaked = read(i) intersect before
      if (leaked.nonEmpty) Some(s"read $i returned deleted ids ${leaked.take(5)}") else None
    }
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

  test("IVFPQ: vectors appended while compact runs are never lost") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val nl = IvfPqIndex.defaultNlist(IvfPqIndex.countFor(emb))
    val idx = IvfPqIndex.build(emb, nl, 8, 16) // private — appends mutate
    val src = emb.filter(col("vec_id") < 5).localCheckpoint()
    val offsets = (1 to 6).map(_ * 100000L)
    val appended = offsets.flatMap(o => (0L until 5L).map(_ + o)).toSet
    val done = new AtomicBoolean(false)
    val failure = new AtomicReference[Throwable](null)
    val appender = new Thread(() =>
      try offsets.foreach(o => idx.appendEncode(src.withColumn("vec_id", col("vec_id") + o)))
      catch { case t: Throwable => failure.set(t) }
      finally done.set(true))
    appender.start()
    var compactions = 0
    try while (!done.get) {
      idx.compact()
      compactions += 1
      Thread.sleep(20) // let a waiting append take the lock
    } finally appender.join(300000)
    Option(failure.get).foreach(t => throw t)
    assert(compactions > 0)
    val viaSpark = idx.codes().select(col("vec_id")).as[Long].collect().toSet
    val viaLocal = idx.cellRowsLocal(0 until nl).valuesIterator.flatMap(_.map(_._1)).toSet
    assert((appended -- viaSpark).isEmpty, s"codes() lost ${appended -- viaSpark}")
    assert((appended -- viaLocal).isEmpty, s"cellRowsLocal lost ${appended -- viaLocal}")
  }
}

object CompactRaceSpec {
  /** Runs `read` (given the read number) on a thread while the calling
    * thread runs `rounds` in order, until the last round returns;
    * returns the problems the reads reported and how many reads ran.
    * A read that throws fails the race.
    */
  def race(rounds: Seq[() => Unit])(read: Int => Option[String]): (Seq[String], Int) = {
    val stop = new AtomicBoolean(false)
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failure = new AtomicReference[Throwable](null)
    var reads = 0
    val reader = new Thread(() => {
      try {
        var i = 0
        while (!stop.get) {
          read(i).foreach(problems.add)
          i += 1
        }
        reads = i
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    try rounds.foreach(_())
    finally {
      stop.set(true)
      reader.join(120000)
    }
    Option(failure.get).foreach(t => throw t)
    (problems.asScala.toSeq, reads)
  }
}
