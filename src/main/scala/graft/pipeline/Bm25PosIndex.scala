package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** r18 (the r17 verdict's #4): POSITIONAL postings — the Lucene
  * proximity index re-expressed as a partitioned table. r17's phrase
  * tier was shingle postings: each phrase length n was its OWN index
  * (n = 1, 2, 3 → three corpus tokenizes, three artifacts). One
  * positional layout — `(term, doc_id, tf, dl, positions)` bucket-
  * partitioned like [[Bm25Index]] — serves EVERY n plus proximity
  * queries, from ONE corpus tokenize:
  *
  *  - **phrase retrieval** ([[phraseTopK]]): an n-word phrase's tf in
  *    a doc is the size of the intersection of its words' position
  *    lists under shifts 0..n−1 — exactly the shingle stream's term
  *    frequency, so scoring over the derived n-gram MODEL (N is
  *    shared; per-doc n-gram length = max(dl − (n−1), 1), the
  *    `ngramize` convention including its `''`-for-short-docs case;
  *    Σdl_n derives from the driver-held dl histogram) reproduces the
  *    r17 shingle-index answers HASH-IDENTICALLY (Bm25PosSpec gates
  *    it; the q_bm25_phrase/q_bm25_phrase3 oracles are unchanged).
  *  - **proximity retrieval** ([[nearTopK]], `q_bm25_near`): docs
  *    where two terms occur within a position window w, ranked by
  *    their standard BM25 sum — the `"a NEAR/w b"` operator.
  *
  * Scale shape per query: the words' postings load in ONE bucket-
  * pruned scan (≤ words buckets, pushed In(term) row-group skipping —
  * the [[Bm25Index.build]] sorted layout), position intersections are
  * per-doc array ops over the joined lists (O(Σ tf), zero corpus
  * scans), per-phrase df aggregates over the candidate table
  * (vocabulary-bounded collect), and top-k is TakeOrderedAndProject.
  * The artifact is fatter than [[Bm25Index]]'s (positions ride every
  * row — the classic Lucene .prx trade) but there is ONE of it for
  * every n.
  */
class Bm25PosIndex private (docs: DataFrame, initial: Bm25PosIndex.State) {

  private def spark = docs.sparkSession

  /** The index state: positional postings, tombstone sidecar and the
    * model (df table, N, Σdl and the dl histogram), replaced whole by
    * [[delete]] under the index lock; every reader takes it once.
    */
  @volatile private var state = initial

  def nDocs: Long = state.nDocs
  def totalLen: Long = state.totalLen

  private[pipeline] def hasTombstones: Boolean = state.files.tombstones.nonEmpty

  private[pipeline] def postingsDir: String = state.files.data

  /** r18: document deletion on the positional tier — the
    * [[Bm25Index.delete]] tombstone discipline: ids mask out of every
    * read, the model constants (N, Σdl, df, AND the dl histogram the
    * n-gram models derive from) move by exact integer deltas off the
    * deleted docs' own posting rows, so phrase/proximity answers equal
    * a from-scratch build over the filtered corpus. Same contract: ids
    * must be current members; already-deleted ids are ignored.
    */
  def delete(ids: DataFrame): Long = synchronized {
    val cur = state
    cur.files.delete(ids).fold(0L) { case (nDel, rows, files) =>
      val deleted = rows.select(col("term"), col("doc_id"), col("dl"))
        .localCheckpoint()
      val dfPath = files.fresh("df")
      Bm25Index.mergeDf(graft.core.Tables.read(spark, cur.dfPath),
        deleted.groupBy(col("term")).agg((-count(lit(1))).as("df")), dfPath)
      // per-dl deleted-doc counts — the dl histogram decrements (the
      // n-gram model constants for EVERY n stay exact)
      val dlGone = deleted.groupBy(col("doc_id")).agg(min(col("dl")).as("dl"))
        .groupBy(col("dl")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hist = (cur.dlHist.keySet ++ dlGone.keySet).flatMap { dl =>
        val left = cur.dlHist.getOrElse(dl, 0L) - dlGone.getOrElse(dl, 0L)
        if (left > 0) Some(dl -> left) else None
      }.toMap
      state = Bm25PosIndex.State(files.committed(Nil), dfPath, cur.nDocs - nDel,
        cur.totalLen - dlGone.map { case (dl, c) => dl * c }.sum, hist)
      nDel
    }
  }

  /** Σ per-doc n-gram stream length over the corpus: docs with
    * dl ≥ n contribute dl − (n−1); shorter docs contribute 1 (their
    * n-gram text is `''` → one token — the ngramize convention). Docs
    * absent from the histogram (NULL text → no postings) also ngramize
    * to `''` and contribute 1 each.
    */
  private def totalLenN(st: Bm25PosIndex.State, n: Int): Long = {
    val inHist = st.dlHist.map { case (dl, cnt) =>
      math.max(dl - (n - 1), 1L) * cnt
    }.sum
    inHist + (st.nDocs - st.dlHist.values.sum) // NULL-text docs: dl_n = 1
  }

  /** Pruned positional postings for `words` — one bucket-pruned scan,
    * read through the tombstone mask (absent until the first delete).
    */
  private def prunedFor(st: Bm25PosIndex.State, words: Seq[String]): DataFrame = {
    val buckets = words.map(Bm25Index.bucketOf).distinct
    st.files.frame
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(words: _*))
  }

  /** Top-k BM25 over `phrases` (each n words joined by `_` — the
    * shingle query format), scored on the derived n-gram model. Equals
    * the r17 shingle index's [[Bm25Index.topK]] over `ngramize(docs,
    * n)` value for value.
    */
  def phraseTopK(phrases0: Seq[String], n: Int, k: Int): DataFrame = {
    val phrases = phrases0.distinct
    require(phrases.nonEmpty, "phrase bm25 needs at least one phrase")
    val split = phrases.map(p => p -> p.split("_").toSeq)
    require(split.forall(_._2.size == n),
      s"every phrase must have exactly $n words: $phrases")
    val words = split.flatMap(_._2).distinct
    val st = state
    val posts = prunedFor(st, words)
      .select(col("term"), col("doc_id"), col("dl"), col("positions"))
      .localCheckpoint() // each phrase's n-way join consumes a slice
    // per (phrase, doc): tf = |∩_j shift(positions(w_j), −j)| — the
    // n-gram stream frequency
    val cands = split.zipWithIndex.map { case ((_, ws), pi) =>
      val base = posts.filter(col("term") === ws.head)
        .select(col("doc_id"), col("dl"), col("positions").as("p0"))
      val joined = ws.zipWithIndex.drop(1).foldLeft(base) {
        case (df, (w, j)) =>
          df.join(posts.filter(col("term") === w)
              .select(col("doc_id"), col("positions").as(s"p$j")),
            Seq("doc_id"))
      }
      val inter = (1 until n).foldLeft(col("p0")) { (acc, j) =>
        array_intersect(acc, transform(col(s"p$j"), x => x - j))
      }
      joined.select(lit(pi).as("pi"), col("doc_id"),
        size(inter).cast("long").as("tf"),
        greatest(col("dl") - (n - 1), lit(1L)).as("dln"))
        .filter(col("tf") > 0L)
    }.reduce(_.unionByName(_)).localCheckpoint() // df aggregate + scoring
    // per-phrase df — ≤ |phrases| rows
    val dfs: Map[Int, Long] = cands.groupBy(col("pi"))
      .agg(count(lit(1)).as("df")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nD = st.nDocs.toDouble
    val avgdl = totalLenN(st, n).toDouble / nD
    val idf6: Map[Int, Double] = split.indices.map { pi =>
      pi -> Bm25Index.idf6(nD, dfs.getOrElse(pi, 0L).toDouble)
    }.toMap
    val contrib = Bm25Index.weight(element_at(typedLit(idf6), col("pi")),
      col("tf"), col("dln"), lit(avgdl))
    cands
      .select(col("doc_id"), col("dln"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("dln")).as("dl"), sum(col("c")).as("s"))
      .select(col("doc_id"), col("dl"), col("s").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Proximity retrieval — `a NEAR/w b`: docs containing both terms
    * with min |pos(a) − pos(b)| ≤ `w`, ranked by the standard BM25 sum
    * of the two terms (the corpus-level unigram model — identical
    * scoring to [[Bm25Index.topK]] on the same terms), emitting the
    * min distance beside the score. Distances are exact ints, so the
    * gate and emission are engine-identical.
    */
  def nearTopK(a: String, b: String, w: Int, k: Int): DataFrame = {
    require(a != b, "near needs two distinct terms")
    val st = state
    val posts = prunedFor(st, Seq(a, b))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"),
        col("positions"))
      .localCheckpoint() // both term slices + the df collect read it
    val dfs: Map[String, Long] = posts.groupBy(col("term"))
      .agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nD = st.nDocs.toDouble
    val avgdl = st.totalLen.toDouble / nD
    val idf6: Map[String, Double] = Seq(a, b).map { t =>
      t -> Bm25Index.idf6(nD, dfs.getOrElse(t, 0L).toDouble)
    }.toMap
    val pa = posts.filter(col("term") === a)
      .select(col("doc_id"), col("dl"), col("tf").as("tfa"),
        col("positions").as("pa"))
    val pb = posts.filter(col("term") === b)
      .select(col("doc_id"), col("tf").as("tfb"), col("positions").as("pb"))
    // min pairwise |i − j| — two-pointer merge over the already-sorted
    // position lists (r19; was flatten(transform×transform), an
    // O(tf_a·tf_b) array PER DOC — an executor-OOM grenade on a
    // stopword-class pair at scale). O(tf_a + tf_b), exact ints, stays
    // in WholeStageCodegen; same minimum, q_bm25_near hash unchanged.
    graft.functions.GraftFunctions.register(spark)
    val minDist = expr("graft_min_pos_dist(pa, pb)")
    def contrib(t: String, tf: Column): Column =
      Bm25Index.weight(lit(idf6(t)), tf, col("dl"), lit(avgdl))
    pa.join(pb, Seq("doc_id"))
      .select(col("doc_id"), col("dl"), minDist.cast("long").as("min_dist"),
        (contrib(a, col("tfa")) + contrib(b, col("tfb")))
          .cast("double").as("score"))
      .filter(col("min_dist") <= w)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}

object Bm25PosIndex {
  /** One committed state: the [[Bm25Index.State]] parts plus the dl
    * histogram the n-gram models derive from.
    */
  private[pipeline] final case class State(files: IndexFiles, dfPath: String,
      nDocs: Long, totalLen: Long, dlHist: Map[Long, Long])

  /** Cached build: one positional index per (session, corpus digest). */
  def forTable(docs: DataFrame): Bm25PosIndex =
    graft.core.Artifacts(graft.core.Artifacts.keyOf(docs, "bm25pos"))(build(docs))

  /** Offline build: ONE corpus tokenize (posexplode keeps positions)
    * writes the bucket-partitioned positional postings in the
    * [[Bm25Index.build]] term-sorted layout; the vocabulary df table,
    * Σdl and the dl histogram (driver-held — it derives the n-gram
    * model constants for any n) come from counter-only passes over the
    * written postings; N is the one corpus COUNT(*) (the NULL-text
    * convention shared with [[Bm25Index.build]]).
    */
  def build(docs: DataFrame): Bm25PosIndex = {
    val dir = graft.core.TempDirs.scoped("graft_bm25pos_")
    val postingsPath = s"$dir/postings"
    val dfPath = s"$dir/df"
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        posexplode(col("ws")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bucket", pmod(hash(col("term")), lit(Bm25Index.Buckets)))
      .repartitionByRange(col("bucket"), col("term"))
      .sortWithinPartitions(col("bucket"), col("term"))
      .write.partitionBy("bucket").parquet(postingsPath)
    val files = IndexFiles.open(docs.sparkSession, postingsPath, "doc_id")
    val postings = files.stored
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.parquet(dfPath)
    val n = docs.count()
    val perDoc = postings.groupBy(col("doc_id")).agg(min(col("dl")).as("dl"))
    val hist = perDoc.groupBy(col("dl")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tot = hist.map { case (dl, cnt) => dl * cnt }.sum
    new Bm25PosIndex(docs, State(files, dfPath, n, tot, hist))
  }
}
