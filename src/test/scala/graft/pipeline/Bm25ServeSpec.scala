package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

/** r16: the warm BM25 serve path — the AnnServeSpec contract for the
  * lexical tier: a serve answer must EQUAL the Spark `Bm25Index.topK`
  * collected result, a warm repeat must schedule zero Spark jobs, and
  * an index append must evict exactly the stale buckets so the warm
  * path reflects the grown corpus.
  */
class Bm25ServeSpec extends AnyFunSuite {
  import TestSpark._

  private def viaSpark(idx: Bm25Index, terms: Seq[String], k: Int) =
    idx.topK(terms, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("serve answers equal the Spark indexed query path") {
    val docs = Tables.documents(spark, sf)
    val idx = Bm25Index.forTable(docs)
    val srv = Bm25Serve.forTable(docs)
    Seq(graft.SparkEntry.Bm25Terms, Seq("dup"), Seq("the", "vector")).foreach { terms =>
      assert(srv.topK(terms, 10) === viaSpark(idx, terms, 10),
        s"terms $terms")
    }
  }

  test("a warm repeat query schedules zero Spark jobs") {
    val srv = Bm25Serve.forTable(Tables.documents(spark, sf))
    srv.topK(graft.SparkEntry.Bm25Terms, 10) // warm the probed buckets
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = srv.topK(graft.SparkEntry.Bm25Terms, 10)
      assert(r.nonEmpty)
      Thread.sleep(1000) // let any (wrong) job's start event land
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 0,
      s"warm serve query scheduled ${jobs.get()} Spark job(s)")
  }

  test("r17: only the queried terms' postings materialize — never a bucket") {
    val docs = Tables.documents(spark, sf)
    val idx = Bm25Index.forTable(docs)
    // pick a term from a bucket that genuinely holds other vocabulary —
    // a bucket at 100 TB is O(corpus/64); a term is O(df), and the r16
    // whole-bucket collect was the repo's one driver-OOM path
    val byBucket = spark.read.parquet(idx.postingsDir)
      .select(col("bucket"), col("term")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val (bucket, terms) = byBucket.toSeq.sortBy(_._1)
      .find(_._2.size >= 2).getOrElse(fail("no multi-term bucket at this SF"))
    val probe = terms.head
    val srv = Bm25Serve.forTable(docs)
    srv.topK(Seq(probe), 10)
    // the cache holds exactly the queried (bucket, term) key — none of
    // the bucket's other terms loaded
    assert(srv.cachedKeys === Set((bucket, probe)),
      s"cache holds ${srv.cachedKeys} — bucket $bucket has terms $terms")
  }

  test("r17: duplicated terms and AND retrieval agree with the index path") {
    val docs = Tables.documents(spark, sf)
    val idx = Bm25Index.forTable(docs)
    val srv = Bm25Serve.forTable(docs)
    assert(srv.topK(Seq("dup", "dup"), 5) === viaSpark(idx, Seq("dup"), 5))
    val andServe = srv.topK(graft.SparkEntry.Bm25Terms, 10, conjunctive = true)
    val andSpark = idx.topK(graft.SparkEntry.Bm25Terms, 10, conjunctive = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(andServe === andSpark)
  }

  test("r17: a query with more terms than the cache bound fails loudly") {
    val srv = Bm25Serve.forTable(Tables.documents(spark, sf), maxTerms = 2)
    intercept[IllegalArgumentException] {
      srv.topK(Seq("dup", "spark", "join"), 10)
    }
  }

  test("r17: warm hybrid fusion equals RRF over the Spark-path legs") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val terms = graft.SparkEntry.Bm25Terms
    // the serve legs are spec-gated equal to the Spark index paths, so
    // fusing the WARM lists must equal fusing the Spark-path lists
    val bmSpark = Bm25Index.forTable(docs).topK(terms, 20)
      .collect().map(_.getLong(0)).toSeq
    val nl = IvfPqIndex.defaultNlist(IvfPqIndex.countFor(emb))
    val annSpark = IvfPqIndex.forTable(emb, nl, 8, 16)
      .topK(3L, 20, IvfPqIndex.defaultNprobe(nl), Similarity.IvfPqShortlist)
      .collect().map(_.getLong(0)).toSeq
    val expect = Similarity.rrfFuse(Seq(bmSpark, annSpark), 10)
    val bmWarm = Bm25Serve.forTable(docs).topK(terms, 20).map(_._1)
    val annWarm = AnnServe.forTable(emb).topKById(3L, 20).map(_._1)
    val got = Similarity.rrfFuse(Seq(bmWarm, annWarm), 10)
    assert(got === expect)
    assert(got.size === 10)
  }

  test("r18: over-cap terms never collect postings; the query still answers") {
    val docs = Tables.documents(spark, sf)
    val idx = Bm25Index.forTable(docs)
    // cap between the two fixture terms' dfs: 'dup' (rare) stays
    // cacheable, 'spark' (common) routes distributed
    val dfs = idx.dfTable(idx.snapshot)
      .filter(col("term").isin("dup", "spark"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfs("dup") < dfs("spark"), s"fixture assumption broke: $dfs")
    val srv = Bm25Serve.forTable(docs, maxDf = dfs("dup"))
    val got = srv.topK(Seq("spark", "dup"), 10)
    assert(got === viaSpark(idx, Seq("spark", "dup"), 10),
      "routed query diverged from the distributed path")
    // the heavy term cached a MARKER — zero posting rows on the driver
    assert(srv.cachedState("spark") === Some((0, true)),
      s"stopword-class postings collected: ${srv.cachedState("spark")}")
    // repeat answers stay correct (the routing decision is warm)
    assert(srv.topK(Seq("spark", "dup"), 10) === got)
    // an under-cap-only query still serves from the cache
    assert(srv.topK(Seq("dup"), 5) === viaSpark(idx, Seq("dup"), 5))
    assert(srv.cachedState("dup").exists(s => !s._2 && s._1 > 0))
  }

  test("r18: delete evicts warm terms — serve answers track the filtered index") {
    import spark.implicits._
    // private standing index (delete mutates — never the digest-cached
    // shared instance)
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 19 =!= 0)
    val idx = Bm25Index.build(base)
    val srv = Bm25Serve.forIndex(idx)
    val before = srv.topK(Seq("dup"), 10) // warm
    assert(before.nonEmpty)
    // delete the current top hit — the warm path must drop it
    val victim = before.head._1
    idx.delete(Seq(victim).toDF("doc_id"))
    val after = srv.topK(Seq("dup"), 10)
    assert(!after.exists(_._1 == victim),
      s"warm serve still returns the tombstoned doc $victim")
    assert(after === viaSpark(idx, Seq("dup"), 10))
  }

  test("append evicts stale buckets — warm serve sees the grown corpus") {
    import spark.implicits._
    // private corpus slice (digest-distinct from the other tests)
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 7 =!= 0)
    val idx = Bm25Index.forTable(base)
    val srv = Bm25Serve.forTable(base)
    val terms = Seq("dup")
    srv.topK(terms, 10) // warm
    // append a doc that MUST become the top hit for 'dup' (max tf,
    // minimal length)
    val nw = Seq((999999L, "dup dup dup dup", "en", "synth", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    idx.append(nw)
    val warm = srv.topK(terms, 10)
    assert(warm.head._1 === 999999L,
      s"warm serve missed the appended doc: $warm")
    // and still equals the Spark path on the post-append index
    assert(warm === viaSpark(idx, terms, 10))
  }
}
