package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.core.Tables

/** Appends and deletes racing the BM25 tiers' readers. A reader that
  * took the df table, N/Σdl or the postings of one mutation and the
  * rest of another scores against a model no from-scratch build has.
  * A reader thread loops the indexed, served, phrase and proximity
  * queries while the main thread runs alternating append and delete
  * rounds; every answer must equal the answer of some committed state.
  * Those answers are taken on the main thread after each commit, while
  * no writer runs — the same answers a twin index given the same
  * mutations would give.
  */
class ModelRaceSpec extends AnyFunSuite {
  import TestSpark._

  test("BM25 tiers: every answer racing append/delete is a committed state's") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val idx = Bm25Index.build(docs) // private — the rounds mutate
    val pos = Bm25PosIndex.build(docs)
    val serve = Bm25Serve.forIndex(idx)
    val terms = SparkEntry.Bm25Terms
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    def indexed(): Seq[String] = idx.topK(terms, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)).toString).toSeq
    val queries: Seq[(String, () => Seq[String])] = Seq(
      "topK" -> (() => indexed()),
      "serve" -> (() => serve.topK(terms, 10).map(_.toString)),
      "phrase" -> (() => rows(pos.phraseTopK(SparkEntry.Bm25Phrases, 2, 10))),
      "near" -> (() => rows(pos.nearTopK("spark", "join", 3, 10))))

    // what each reader may answer: serve ≡ index (Bm25ServeSpec)
    val expect = queries.toMap + ("serve" -> (() => indexed()))
    val committed = scala.collection.mutable.Map.empty[String, Set[Seq[String]]]
      .withDefaultValue(Set.empty)
    def record(): Unit = expect.foreach { case (name, q) => committed(name) += q() }
    record()
    // docs holding the query terms, so every round moves the answers
    val holders = idx.readPostings.filter(col("term").isin(terms: _*))
      .select(col("doc_id")).distinct().as[Long].collect().sorted.toSeq
    val rounds = (0 until 6).map { r => () =>
      if (r % 2 == 0)
        idx.append(docs.filter(col("doc_id") % 6 === r)
          .withColumn("doc_id", col("doc_id") + (r + 1) * 100000L))
      else {
        val batch = holders.filter(_ % 6 == r).toDF("doc_id")
        idx.delete(batch)
        pos.delete(batch)
      }
      record()
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val (problems, reads) = CompactRaceSpec.race(rounds) { i =>
      val (name, q) = queries(i % queries.size)
      seen.add(name -> q())
      None
    }
    assert(problems.isEmpty)
    assert(reads >= queries.size, s"only $reads reads ran")
    assert(committed("topK").size > 1 && committed("phrase").size > 1,
      "the rounds did not move the answers")
    import scala.jdk.CollectionConverters._
    val mixed = seen.asScala.toSeq.filterNot { case (name, a) => committed(name)(a) }
    assert(mixed.isEmpty, s"${mixed.size} of ${seen.size} answers match no committed " +
      s"state, first: ${mixed.headOption}")
  }
}
