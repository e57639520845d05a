package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

/** r18 (the r17 verdict's #1): the DELETION lifecycle across the index
  * artifacts — tombstones filtered at read, physical drop at compact,
  * warm-serve eviction via the version handshake. The BM25 twin lives
  * in Bm25IndexSpec/Bm25ServeSpec; this suite gates the ANN and
  * SemDeDup tiers.
  */
class DeleteSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = Tables.embeddings(spark, sf)

  private def annRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("IVFPQ delete equals the same index with the ids masked (IDSelector)") {
    val nl = IvfPqIndex.defaultNlist(IvfPqIndex.countFor(emb))
    val np = IvfPqIndex.defaultNprobe(nl)
    val sl = Similarity.IvfPqShortlist
    val idx = IvfPqIndex.build(emb, nl, 8, 16) // private — delete mutates
    val del = emb.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    assert(idx.delete(del) > 0L)
    // the reference: the SHARED (unmutated) index, ids masked by the
    // r16 filter composition — identical constants, identical
    // candidate set, so identical answers
    val expect = annRows(IvfPqIndex.forTable(emb, nl, 8, 16)
      .topK(0L, 10, np, sl, Some(col("vec_id") % 9 =!= 4)))
    val got = annRows(idx.topK(0L, 10, np, sl))
    assert(got === expect)
    assert(got.nonEmpty && got.forall(_._1 % 9 != 4),
      "a tombstoned vector leaked into the probe")
    // re-deleting the same ids is a no-op
    assert(idx.delete(del) === 0L)
    assert(annRows(idx.topK(0L, 10, np, sl)) === expect)
  }

  test("IVFPQ compact physically drops tombstoned vectors, answers unchanged") {
    val nl = IvfPqIndex.defaultNlist(IvfPqIndex.countFor(emb))
    val np = IvfPqIndex.defaultNprobe(nl)
    val idx = IvfPqIndex.build(emb, nl, 8, 16)
    idx.delete(emb.filter(col("vec_id") % 15 === 7).select(col("vec_id")))
    assert(idx.hasTombstones)
    val before = annRows(idx.topK(0L, 10, np, Similarity.IvfPqShortlist))
    idx.compact()
    assert(!idx.hasTombstones, "compaction must retire the sidecar")
    val raw = spark.read.parquet(idx.codesDir)
    assert(raw.filter(col("vec_id") % 15 === 7).count() === 0L,
      "tombstoned vectors survived compaction physically")
    assert(annRows(idx.topK(0L, 10, np, Similarity.IvfPqShortlist)) === before)
  }

  test("delete evicts warm AnnServe cells — serve answers track the mask") {
    import spark.implicits._
    val nl = IvfPqIndex.defaultNlist(IvfPqIndex.countFor(emb))
    val idx = IvfPqIndex.build(emb, nl, 8, 16)
    val srv = AnnServe.forIndex(idx, emb)
    val before = srv.topKById(0L, 10) // warm the probed cells
    assert(before.nonEmpty)
    val victim = before.head._1
    idx.delete(Seq(victim).toDF("vec_id"))
    val after = srv.topKById(0L, 10)
    assert(!after.exists(_._1 == victim),
      s"warm serve still returns the tombstoned vector $victim")
    // and still equals the Spark path on the tombstoned index
    val expect = idx.topK(0L, 10, IvfPqIndex.defaultNprobe(nl),
        Similarity.IvfPqShortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after === expect)
  }

  test("SemDeDup delete equals a filtered re-verdict against stored centroids") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val del = emb.filter(col("vec_id") % 21 === 6).select(col("vec_id"))
    val got = rows(Similarity.semDedupDelete(emb, del))
    val remaining = SemDedupIndex.remainingOf(emb, del)
    // never a second full fit: the artifact registers under the
    // filtered digest without building
    assert(graft.core.Artifacts.peek[SemDedupIndex.Fit](
      SemDedupIndex.fitKey(remaining)).isEmpty,
      "delete ran the full fit for the filtered corpus")
    val (cents, _) = SemDedupIndex.constantsFor(emb).get
    val ref = rows(
      SemDedupIndex.verdictsAgainst(remaining, cents, 0.25)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("is_kept"))
        .orderBy("vec_id"))
    assert(got === ref)
    // deleted ids are gone; survivors all have verdicts
    assert(got.forall(_._1 % 21 != 6))
    assert(got.size.toLong === remaining.count())
    // a repeat delete is a pure cache read
    assert(rows(Similarity.semDedupDelete(emb, del)) === got)
  }

  test("SemDeDup delete resurrects a doc whose keepers all died") {
    // find a dropped doc, delete every OTHER member of its cluster:
    // with no pairs left, the full re-verdict must keep it — the
    // non-monotone direction the append path never faces
    import spark.implicits._
    val stored = SemDedupIndex.verdicts(emb)
      .select(col("vec_id"), col("cluster"), col("is_kept"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val dropped = stored.find(_._3 == 0L)
      .getOrElse(fail("no dropped doc at this SF — fixture assumption broke"))
    val others = stored.filter(s => s._2 == dropped._2 && s._1 != dropped._1)
      .map(_._1).toSeq
    assert(others.nonEmpty)
    val verdictAfter = Similarity
      .semDedupDelete(emb, others.toDF("vec_id"))
      .filter(col("vec_id") === dropped._1)
      .collect().map(_.getLong(2)).toSeq
    assert(verdictAfter === Seq(1L),
      s"doc ${dropped._1} should be resurrected once its cluster emptied")
  }
}
