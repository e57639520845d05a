package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{fromMicros, quant6, quant6Micros}

/** r16: the INVERTED-INDEX BM25 tier — the 100 TB path behind
  * [[TextOps.bm25]]'s scan formulation. The scan path reads the whole
  * corpus per query (right for ad-hoc audits); a standing retrieval
  * service builds postings ONCE and reads only the queried terms'
  * slices ever after — the Lucene lifecycle re-expressed as a
  * partitioned table, exactly as [[IvfIndex]] re-expresses FAISS:
  *
  *  - **bucket-partitioned postings**: `(term, doc_id, tf, dl)` written
  *    `partitionBy(bucket)` over `pmod(hash(term), Buckets)` — querying
  *    k terms is DIRECTORY-LEVEL PARTITION PRUNING of the postings
  *    table (≤ k buckets of ~1/Buckets of the vocabulary each), plus a
  *    pushed `term IN (…)` data filter inside the pruned scan. The
  *    document length rides ON the posting row (the Lucene norms file,
  *    denormalized) so scoring needs NO join back to the corpus.
  *  - **driver-held stats**: N, Σdl and the per-term document
  *    frequencies (collected from the vocabulary-sized df table at
  *    query time, pruned by term) are the model constants — the idf
  *    table is literal-mapped into the scan, the [[IvfPqIndex]] ADC
  *    posture.
  *  - **identical scoring**: the same quant6'd Lucene idf and
  *    re-quantized per-term contributions as [[TextOps.bm25]], summed
  *    as exact decimals (order-free) — so the indexed answer EQUALS the
  *    scan answer value for value (Bm25IndexSpec gates it; the
  *    `q_bm25_indexed` oracle is the scan formulation re-derived by
  *    DuckDB, which the index must therefore match too).
  *
  * Scale shape per query: one pruned postings scan (candidates only —
  * docs containing ≥1 query term), one (doc_id, contribution) partial
  * aggregation, TakeOrderedAndProject top-k. Zero corpus scans, zero
  * text anywhere (postings carry counters only).
  */
class Bm25Index private (
    docs: DataFrame,
    initial: Bm25Index.State,
    val attrCols: Seq[String]) {

  /** Stored attribute column types — what an [[append]] batch missing
    * an attribute aligns its typed NULLs to.
    */
  private val attrTypes: Map[String, org.apache.spark.sql.types.DataType] =
    attrCols.map(a => a -> docs.schema.fields.find(_.name == a)
      .map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)).toMap

  /** The index state: postings directory, tombstone sidecar, bucket
    * versions and the model (df table path, N, Σdl), replaced whole by
    * [[delete]], [[append]] and [[compact]] under the index lock; every
    * reader takes it once. [[compact]] swaps the directory (the
    * [[IvfPqIndex.compact]] posture: appends fragment bucket partitions
    * into many small files; compaction rewrites each bucket into one
    * file under a fresh versioned dir, row-exactly) and retires the
    * sidecar in the same assignment. The sidecar (r18, the r17
    * verdict's #1): the doc_ids logically deleted from the index — the
    * Lucene deleted-docs bitset re-expressed as a (small) parquet id
    * table, rewritten under a fresh versioned path per [[delete]]
    * batch. `None` = nothing deleted (the common case pays zero
    * overhead).
    */
  @volatile private var state = initial

  private def spark = docs.sparkSession

  /** The current state, for a reader that needs more than one part of
    * it to agree ([[Bm25Serve]]).
    */
  private[pipeline] def snapshot: Bm25Index.State = state

  def nDocs: Long = state.nDocs
  def totalLen: Long = state.totalLen

  /** The vocabulary df table `(term, df)` of state `st` — every Spark
    * read of it (term-pruned model slices, the batch join, df merges)
    * starts here.
    */
  private[pipeline] def dfTable(st: Bm25Index.State): DataFrame =
    graft.core.Tables.read(spark, st.dfPath)

  /** Last generation that appended into or deleted from `bucket` — the
    * [[IvfPqIndex.cellVersion]] staleness handshake for warm
    * [[Bm25Serve]] caches: a bucket whose version advanced past a cache
    * entry's load version changed postings and must reload.
    */
  def bucketVersion(bucket: Int): Long = state.files.version(bucket)

  private[pipeline] def postingsDir: String = state.files.data

  /** Test hook: whether any tombstones are live (compaction retires
    * them).
    */
  private[pipeline] def hasTombstones: Boolean = state.files.tombstones.nonEmpty

  /** The LOGICAL postings table — the stored rows minus tombstoned
    * docs. Every reader (queries, serves, compaction, stats audits)
    * goes through here; the anti-join is absent entirely until the
    * first delete, and filters/pruning push through the left side of
    * the anti-join, so the partition-pruned + row-group-skip plan
    * shape is unchanged.
    */
  private[pipeline] def readPostings: DataFrame = state.files.frame

  /** r20 (the r19 verdict's #3): driver-side df lookup for `terms` —
    * a term-filtered parquet-mr read of the vocabulary table (filter2
    * row-group stats + dictionary pruning stand in for the pushed-down
    * Spark scan; no job). Throws on surprises — callers fall back to
    * the Spark path.
    */
  private[pipeline] def dfLocal(terms: Seq[String]): Map[String, Long] = {
    import graft.core.LocalParquet
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.parquet.io.api.Binary
    val conf = spark.sparkContext.hadoopConfiguration
    val pred = terms.map(t =>
      FilterApi.eq(FilterApi.binaryColumn("term"),
        Binary.fromString(t)): FilterPredicate).reduce(FilterApi.or)
    val out = Map.newBuilder[String, Long]
    LocalParquet.dataFiles(new org.apache.hadoop.fs.Path(state.dfPath), conf)
      .foreach(f => LocalParquet.readGroups(f.getPath, conf, Some(pred))(g =>
        out += g.getString("term", 0) -> g.getLong("df", 0)))
    out.result()
  }

  /** r20: driver-side postings load for the serve tier — term-filtered
    * parquet-mr reads of the probed `bucket=<b>` partitions (the
    * scanRangeLocal posture; the r17 sorted-write layout means the
    * term filter skips non-matching row groups exactly like the Spark
    * scan's pushed `In`). Same semantics as collecting [[readPostings]]
    * filtered to (buckets × terms): one state's files and tombstone
    * mask, rows sorted by doc_id per (bucket, term).
    * Throws on surprises — callers fall back to the Spark path.
    */
  private[pipeline] def postingsLocal(buckets: Seq[Int], terms: Seq[String])
      : Map[(Int, String), Array[(Long, Long, Long)]] = {
    import graft.core.LocalParquet
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.parquet.io.api.Binary
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = state.files // read once: a listing and its own mask
    val dead = cur.deadIds(conf)
    val termSet = terms.toSet
    val pred = terms.map(t =>
      FilterApi.eq(FilterApi.binaryColumn("term"),
        Binary.fromString(t)): FilterPredicate).reduce(FilterApi.or)
    LocalParquet.parMap(buckets) { b =>
      val acc = scala.collection.mutable.Map
        .empty[(Int, String), scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]]
      cur.partFiles(s"bucket=$b")
        .foreach(f => LocalParquet.readGroups(f, conf, Some(pred)) { g =>
          val t = g.getString("term", 0)
          if (termSet(t)) {
            val doc = g.getLong("doc_id", 0)
            if (!dead.contains(doc))
              acc.getOrElseUpdate((b, t),
                scala.collection.mutable.ArrayBuffer.empty) +=
                ((doc, g.getLong("tf", 0), g.getLong("dl", 0)))
          }
        })
      acc
    }.flatten.map { case (k, rs) => k -> rs.sortBy(_._1).toArray }.toMap
  }

  /** r18 (the r17 verdict's #1): document DELETION — the curation
    * pipeline's output is "drop these doc_ids" (dedup survivors,
    * quality filters, decontamination verdicts), and acting on it
    * previously meant a full index rebuild. `delete` makes the index
    * answer EXACTLY as a from-scratch build over the filtered corpus
    * would (the clustersAppend equality discipline, oracled by
    * q_bm25_deleted):
    *
    *  - the ids land in the tombstone sidecar, filtered out of every
    *    read ([[readPostings]]) until [[compact]] drops them
    *    physically;
    *  - the model constants move by EXACT deltas derived from the
    *    deleted docs' own posting rows: df −= per-term deleted doc
    *    counts, Σdl −= deleted docs' lengths, N −= batch size — all
    *    integer arithmetic, so idf/avgdl equal the rebuild's bit for
    *    bit;
    *  - touched bucket versions advance so warm [[Bm25Serve]] caches
    *    evict exactly the buckets that lost postings.
    *
    * Cost shape: ONE postings-table scan per delete batch (doc_id is
    * not the partition key — the same O(corpus-read) class as
    * [[compact]], amortized over a whole curation batch), plus
    * vocabulary-sized df maintenance. `ids` must be CURRENT members of
    * the corpus (the [[Dedup.clustersAppend]] primary-key contract —
    * N decrements by the batch size; a stranger id would skew it);
    * ids already tombstoned are ignored. Returns the number of docs
    * newly deleted.
    */
  def delete(ids: DataFrame): Long = synchronized {
    val cur = state
    cur.files.delete(ids).fold(0L) { case (nDel, rows, files) =>
      // the deleted docs' posting rows — the one postings scan; deltas,
      // touched buckets and the Σdl decrement all derive from it
      val deleted = rows.select(col("bucket"), col("term"), col("doc_id"), col("dl"))
        .localCheckpoint()
      val touched = deleted.select(col("bucket")).distinct().collect()
        .map(_.getInt(0))
      val dfPath = files.fresh("df")
      Bm25Index.mergeDf(dfTable(cur),
        deleted.groupBy(col("term")).agg((-count(lit(1))).as("df")), dfPath)
      val dlGone = deleted.groupBy(col("doc_id")).agg(min(col("dl")).as("dl"))
        .agg(coalesce(sum(col("dl")), lit(0L)).as("tot")).head().getLong(0)
      state = Bm25Index.State(files.committed(touched), dfPath,
        cur.nDocs - nDel, cur.totalLen - dlGone)
      nDel
    }
  }

  /** r16: incremental corpus growth — the [[IvfPqIndex.appendEncode]]
    * posture for the lexical tier. New docs tokenize ONCE into posting
    * rows appended into the bucket partitions (O(batch)); the
    * vocabulary df table re-derives from the postings (vocabulary-
    * sized, never the corpus) into a fresh versioned path; N and Σdl
    * advance by the batch's scalars. After an append, [[topK]] answers
    * over the union corpus exactly as a from-scratch build would
    * (Bm25IndexSpec gates equality with the scan path on the union).
    * `newDocs` doc_ids must be disjoint from the corpus — the same
    * primary-key contract as [[Dedup.clustersAppend]].
    */
  def append(newDocs: DataFrame): Unit = synchronized {
    // r18 (the r17 verdict's #3): align the batch to the STORED posting
    // schema before tokenizing — an attribute-less batch appended to an
    // attribute-built index otherwise writes a DIFFERENT column set into
    // the same directory (the r16 hard-won fact: parquet append with a
    // different column set silently mixes file schemas; attr columns
    // read back NULL or vanish depending on which footer Spark samples,
    // so filtered queries silently drop appended docs). Missing stored
    // attributes append as typed NULLs (the IvfPqIndex.appendEncode
    // discipline); attributes the batch carries but the index was NOT
    // built with are rejected loudly — appending them would mix schemas
    // the other way.
    val extra = attrCols.filterNot(a => newDocs.columns.contains(a) ||
      Seq("doc_id", "text").contains(a))
    val strayAttrs = Seq("lang", "source")
      .filter(a => newDocs.columns.contains(a) && !attrCols.contains(a))
    require(strayAttrs.isEmpty,
      s"batch carries attribute column(s) ${strayAttrs.mkString(",")} the " +
        "index was not built with — rebuild with the attributes or drop " +
        "them from the batch (appending would mix parquet schemas)")
    val aligned = extra.foldLeft(newDocs)((df, a) =>
      df.withColumn(a, lit(null).cast(attrTypes(a))))
    val batch = Bm25Index.postingsOf(aligned, attrCols)
      .localCheckpoint() // the write and the touched-bucket collect share it
    val cur = state
    // r17: the batch sorts by (bucket, term) before the write so the
    // appended fragments keep the term-clustered row-group property of
    // the build layout (see [[Bm25Index.build]]) — the pushed In(term)
    // filter row-group-skips appended postings too
    batch.sortWithinPartitions(col("bucket"), col("term"))
      .write.mode("append").partitionBy("bucket").parquet(cur.files.data)
    val touched = batch.select(col("bucket")).distinct().collect()
      .map(_.getInt(0))
    // r17 (ADVICE): df advances by the BATCH's deltas merged into the
    // previous vocabulary table — two vocabulary-sized inputs, never a
    // rescan of the corpus-sized postings (a long-running append stream
    // was paying O(corpus) per micro-batch for a vocabulary-sized fact)
    val dfPath = cur.files.fresh("df")
    Bm25Index.mergeDf(dfTable(cur),
      batch.groupBy(col("term")).agg(count(lit(1)).as("df")), dfPath)
    val stats = newDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      // coalesce: an EMPTY batch (a quiet micro-batch) sums to NULL —
      // getLong would NPE
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("tot"))
      .head()
    state = Bm25Index.State(cur.files.appended(touched), dfPath,
      cur.nDocs + stats.getLong(0), cur.totalLen + stats.getLong(1))
  }

  /** r16: compact the bucket partitions fragmented by [[append]] —
    * one file per bucket under a fresh versioned dir (repartition by
    * bucket routes each wholly into one task), preserving posting rows
    * exactly; readers in flight keep the old dir (process-exit
    * cleaned), warm serve caches stay valid (contents identical,
    * bucket versions don't advance).
    */
  def compact(): Unit = synchronized {
    val cur = state
    // r17: one file per bucket AND term-sorted within it — compaction
    // restores the tightest row-group term stats (appends fragment in
    // sorted runs; the rewrite merges them into one sorted run).
    // r18: the rewrite reads the logical table, so tombstoned rows DROP
    // PHYSICALLY here and the sidecar retires — logical contents are
    // unchanged (reads were already filtered), so bucket versions
    // don't advance and warm serve caches stay valid.
    val live = cur.files.frame
    // a FULLY tombstoned index compacts to zero rows — a partitioned
    // write of an empty frame leaves a directory with no parquet files,
    // which every later read would fail to schema-infer on. Keep the
    // mask instead (reads stay correct through the anti-join); the
    // degenerate all-deleted case is not worth bricking the read path.
    if (live.isEmpty) return
    val dir = cur.files.fresh("compact")
    live.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"))
      .write.partitionBy("bucket").parquet(dir)
    state = cur.copy(files = cur.files.compacted(dir))
  }

  /** Top-k BM25 documents for `terms` — the pruned-postings path.
    * `conjunctive = true` keeps only docs containing EVERY query term
    * (AND semantics — postings carry one row per (term, doc), so the
    * per-doc posting count equals the number of distinct query terms
    * present); scoring is identical either way. `filter` (r17, the
    * q_ann_filtered posture for the lexical tier) is a predicate over
    * the posting-row attributes (lang/source — denormalized at build)
    * composed INTO the same pruned scan, filter-then-rank, so k fills
    * with ELIGIBLE docs and no join back to the corpus happens; idf/
    * avgdl stay corpus-level (the standard filtered-retrieval choice,
    * matching the filtered-ANN tier's corpus-level centroids).
    */
  def topK(terms0: Seq[String], k: Int,
      conjunctive: Boolean = false,
      filter: Option[Column] = None): DataFrame = {
    // r17 (ADVICE): duplicated query terms must score ONCE on every
    // path — `isin` dedups here naturally, so the scan path and the
    // serve path dedup too (all three agree on any input)
    val terms = terms0.distinct
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val st = state
    // per-term df, collected from the term-pruned vocabulary table
    // (≤ |terms| rows — the driver-held model slice)
    val dfs: Map[String, Long] = dfTable(st)
      .filter(col("term").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val buckets = terms.map(Bm25Index.bucketOf).distinct
    val avgdl = st.totalLen.toDouble / st.nDocs.toDouble
    val idf6: Map[String, Double] = terms.map { t =>
      t -> Bm25Index.idf6(st.nDocs.toDouble, dfs.getOrElse(t, 0L).toDouble)
    }.toMap
    val contrib = Bm25Index.weight(element_at(typedLit(idf6), col("term")),
      col("tf"), col("dl"), lit(avgdl))
    val pruned = st.files.frame
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val grouped = filter.fold(pruned)(pruned.filter)
      .select(col("doc_id"), col("dl"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"), sum(col("c")).as("s"),
        count(lit(1)).as("nt"))
    val kept = if (conjunctive) grouped.filter(col("nt") === terms.size)
               else grouped
    kept
      .select(col("doc_id"), col("dl"), col("s").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** r17: BATCH retrieval — every query scored in ONE plan. This is
    * the decontamination shape at scale: thousands of benchmark
    * prompts are queries, and per-prompt [[topK]] calls would pay a
    * Spark job (and a postings read) each; here the postings are read
    * ONCE for the whole batch. `queries` = (query_id, text) rows,
    * tokenized exactly like documents. Scoring is the same quant6'd
    * chain, computed IN-PLAN per (query, term) — a row of the tiny
    * query-term table, never per posting — so each query's top-k
    * EQUALS its [[topK]] answer row for row (Bm25IndexSpec gates it).
    *
    * Scale shape, two regimes:
    *  - batch vocabulary ≤ [[Bm25Index.BatchPruneCap]] distinct terms:
    *    the term list collects to the driver (vocabulary-bounded) and
    *    the postings scan keeps the single-query directory pruning +
    *    pushed `In(term)` row-group skipping;
    *  - above the cap (a benchmark-suite-sized batch): ONE full
    *    postings scan joined to the broadcast query-term table — at
    *    that size most buckets are touched anyway, and one scan
    *    amortized over the whole batch is the win per query.
    * Per-query top-k is `graft_min_k` on a complement-packed
    * (score desc, doc_id) key — map-side bounded k-buffers, so no task
    * ever sorts one query's full candidate list (a stopword query's
    * candidates are a big fraction of the corpus; a rank window would
    * drain them through one task).
    */
  def topKBatch(queries: DataFrame, k: Int,
      conjunctive: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.types.DecimalType
    val qterms = queries
      .select(col("query_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .localCheckpoint() // three consumers: term list, nt_q, the join
    val st = state
    val nDocsD = st.nDocs.toDouble
    val avgdl = st.totalLen.toDouble / nDocsD
    val termRows = qterms.select(col("term")).distinct()
      .limit(Bm25Index.BatchPruneCap + 1).collect()
    val prunedRegime = termRows.length <= Bm25Index.BatchPruneCap
    // per-(query, term) idf. r18 (ADVICE): in the pruned regime the
    // distinct terms are already driver-collected, so idf6 is the SAME
    // driver-side map [[topK]] builds — Spark's
    // in-plan log() lowers to StrictMath.log while math.log is the
    // intrinsic, and the two can differ by 1 ulp, which a value landing
    // on a .5 micro boundary would quant6 differently, breaking the
    // gated batch ≡ single-query equality (the divergence class the
    // test SFs are too small to hit). Above the cap the in-plan log
    // stays (a vocabulary-sized literal map is no longer an option);
    // that regime's residual 1-ulp risk is documented here — it affects
    // batch-vs-topK agreement on .5-boundary idfs only, never the
    // oracle (which mirrors the scan formulation).
    val qt = if (prunedRegime) {
      val terms = termRows.map(_.getString(0)).toSeq
      val dfs: Map[String, Long] = dfTable(st)
        .filter(col("term").isin(terms: _*))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val idf6: Map[String, Double] = terms.map { t =>
        t -> Bm25Index.idf6(nDocsD, dfs.getOrElse(t, 0L).toDouble)
      }.toMap
      qterms.select(col("query_id"), col("term"),
        element_at(typedLit(idf6), col("term")).as("idf6"))
    } else {
      qterms.join(dfTable(st), Seq("term"), "left")
        .select(col("query_id"), col("term"),
          Bm25Index.idf6(lit(nDocsD),
            coalesce(col("df"), lit(0L)).cast("double")).as("idf6"))
    }
    val post =
      if (prunedRegime) {
        val terms = termRows.map(_.getString(0)).toSeq
        val buckets = terms.map(Bm25Index.bucketOf).distinct
        st.files.frame
          .filter(col("bucket").isin(buckets: _*) &&
            col("term").isin(terms: _*))
      } else st.files.frame
    val contrib = Bm25Index.weight(col("idf6"), col("tf"), col("dl"), lit(avgdl))
    val grouped = post.join(qt, Seq("term"))
      .select(col("query_id"), col("doc_id"), col("dl"), contrib.as("c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("dl")).as("dl"), sum(col("c")).as("s"),
        count(lit(1)).as("nt"))
    val kept = if (conjunctive) {
      val ntQ = qterms.groupBy(col("query_id"))
        .agg(count(lit(1)).as("nt_q"))
      grouped.join(ntQ, Seq("query_id")).filter(col("nt") === col("nt_q"))
    } else grouped
    // complement-packed key: (1e18 − score_micro) asc ≡ score desc,
    // doc_id appended for the deterministic tie (lpad 19/20 covers the
    // full non-negative ranges — the lpad-truncation rule); dl rides
    // the id slot (the key is already unique per doc, so the id never
    // decides order)
    val micro = (col("s") * lit(1000000)).cast("long")
    val packed = kept.select(col("query_id"),
      concat(
        lpad((lit(1000000000000000000L) - micro).cast("string"), 19, "0"),
        lpad(col("doc_id").cast("string"), 20, "0")).as("mk"),
      col("dl"))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_min_k(mk, dl, $k)").as("top"))
    packed.select(col("query_id"), explode(col("top")).as("x"))
      .select(col("query_id"),
        substring(col("x.k"), 20, 20).cast("long").as("doc_id"),
        col("x.id").as("dl"),
        ((lit(1000000000000000000L) - substring(col("x.k"), 1, 19)
          .cast("long")).cast(DecimalType(18, 0)) *
          lit(new java.math.BigDecimal("0.000001"))
            .cast(DecimalType(7, 6)))
          .cast(DecimalType(18, 6)).cast("double").as("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }
}

object Bm25Index {
  /** Postings partition count — at 100 TB each bucket holds ~1/64 of
    * the vocabulary's postings; a k-term query prunes to ≤ k dirs.
    */
  val Buckets = 64

  /** [[Bm25Index.topKBatch]]'s driver-collect bound on the batch's
    * distinct-term list: below it the batch keeps single-query
    * partition pruning; above it the plan switches to one full
    * postings scan joined to the (broadcast) query-term table.
    */
  val BatchPruneCap = 8192

  /** BM25's Lucene-style idf `ln((N − df + 0.5)/(df + 0.5) + 1)`,
    * quant6'd driver-side (ln is the 1-ulp libm class) — the value
    * every indexed and serve path scores a term with.
    */
  private[pipeline] def idf6(nDocs: Double, df: Double): Double =
    fromMicros(quant6Micros(math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)))

  /** The same idf computed in-plan, for plans whose term list never
    * reaches the driver (DOUBLE columns `nDocs`, `df`). Spark's log()
    * is StrictMath.log and may sit 1 ulp off the driver's math.log.
    */
  private[pipeline] def idf6(nDocs: Column, df: Column): Column =
    quant6(log((nDocs - df + 0.5) / (df + 0.5) + 1.0) * 1000000.0).cast("double")

  /** One term's BM25 contribution `idf6 · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl))`, quant6'd to DECIMAL(18,6) so per-doc sums are exact
    * and order-free. `2.2` (k1+1) is a literal, as in the oracle.
    */
  private[pipeline] def weight(idf6: Column, tf: Column, dl: Column,
      avgdl: Column): Column = {
    val t = tf.cast("double")
    val ratio = t * lit(2.2) / (t + lit(TextOps.Bm25K1) *
      (lit(1.0) - lit(TextOps.Bm25B) +
        lit(TextOps.Bm25B) * (dl.cast("double") / avgdl)))
    quant6(idf6 * ratio * 1000000.0)
  }

  /** Driver-side twin of [[weight]], in micros: the same double chain,
    * so a micro sum equals the Spark path's exact decimal sum.
    */
  private[pipeline] def weightMicros(idf6: Double, tf: Long, dl: Long,
      avgdl: Double): Long = {
    val ratio = tf.toDouble * 2.2 / (tf.toDouble + TextOps.Bm25K1 *
      (1.0 - TextOps.Bm25B + TextOps.Bm25B * (dl.toDouble / avgdl)))
    quant6Micros(idf6 * ratio)
  }

  /** Driver-side twin of the build's bucket expression: Spark's
    * `hash()` is Murmur3_x86_32 with seed 42 — internal layout only
    * (the oracle never re-derives buckets), but driver and executors
    * must agree.
    */
  private[pipeline] def bucketOf(term: String): Int = {
    // Spark hash(): Murmur3 over the UTF8String bytes, seed 42
    val m = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L).toInt
    val b = m % Buckets
    if (b < 0) b + Buckets else b
  }

  /** One committed state of a BM25 index: its stored postings (files,
    * tombstones, bucket versions) and the model they are scored
    * against — the vocabulary df table, N and Σdl.
    */
  private[pipeline] final case class State(
      files: IndexFiles, dfPath: String, nDocs: Long, totalLen: Long)

  /** The df table `from` plus per-term `deltas` (term, df), written
    * to `to` — two vocabulary-sized inputs, never a postings scan.
    * Terms whose df falls to 0 drop out: a from-scratch build has no
    * row for them (an absent row scores the same idf as df = 0, so
    * either convention matches; the table stays clean). Appended deltas
    * are ≥ 1, so on an append the filter keeps every row.
    */
  private[pipeline] def mergeDf(from: DataFrame, deltas: DataFrame, to: String): Unit =
    from.unionByName(deltas)
      .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
      .filter(col("df") > 0L)
      .write.parquet(to)

  /** Cached build: one index per (session, corpus digest). */
  def forTable(docs: DataFrame): Bm25Index =
    graft.core.Artifacts(graft.core.Artifacts.keyOf(docs, "bm25"))(build(docs))

  /** Offline build: ONE corpus scan writes the bucket-partitioned
    * postings (dl denormalized onto each row), the vocabulary df table
    * derives from the postings (never the corpus), and the scalar
    * stats (N, Σdl) come from one counter-only pass.
    */
  /** `(term, doc_id, tf, dl, bucket)` posting rows for a doc slice —
    * the one tokenizing pass, shared by [[build]] and
    * [[Bm25Index.append]] so the two cannot drift.
    */
  private[pipeline] def postingsOf(docs: DataFrame,
      attrs: Seq[String]): DataFrame = {
    // r17: lang/source ride the posting rows when the corpus has them
    // (the IvfPqIndex r16 attributes-beside-the-codes posture, which
    // is Lucene's stored-fields trade) — an attribute-FILTERED query
    // then composes its predicate into the one pruned scan instead of
    // joining back to the corpus. Attribute-less corpora (e.g. the
    // bigramized phrase view) build plain postings. r18: the attribute
    // list is the INDEX'S (fixed at build), not the input's — append
    // batches align to it before reaching here.
    val aggs = Seq(count(lit(1)).as("tf"), min(col("dl")).as("dl")) ++
      attrs.map(a => min(col(a)).as(a)) // constant per doc — min = the value
    docs.select(col("doc_id") +: split(col("text"), " ").as("ws") +:
        attrs.map(col): _*)
      .select(col("doc_id") +: size(col("ws")).cast("long").as("dl") +:
        explode(col("ws")).as("term") +: attrs.map(col): _*)
      .groupBy(col("term"), col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket", pmod(hash(col("term")), lit(Buckets)))
  }

  /** The build-time attribute pick: lang/source when the corpus has
    * them (see [[postingsOf]]).
    */
  private def buildAttrsOf(docs: DataFrame): Seq[String] =
    Seq("lang", "source").filter(docs.columns.contains)

  def build(docs: DataFrame,
      writerOptions: Map[String, String] = Map.empty): Bm25Index = {
    val dir = graft.core.TempDirs.scoped("graft_bm25_")
    val postingsPath = s"$dir/postings"
    val dfPath = s"$dir/df"
    val attrs = buildAttrsOf(docs)
    // r17 (the r16 verdict's #1): the postings files are TERM-SORTED —
    // the Lucene term-dictionary property. Range-partition on
    // (bucket, term) so each task (and so each written file) covers a
    // CONTIGUOUS term range, then sort within the task so every row
    // group's term min/max stats are tight; the pushed `In(term)` data
    // filter then skips row groups, making a rare-term query O(df)
    // instead of O(bucket). Without this the build shuffle was
    // hash-partitioned and every row group carried near-full-range
    // stats — a ~1.5%-of-corpus scan per query at 100 TB. Range
    // partitioning (not repartition(bucket)) keeps the build scalable:
    // no single task ever sorts a whole bucket's 1/64 of the corpus.
    postingsOf(docs, attrs)
      .repartitionByRange(col("bucket"), col("term"))
      .sortWithinPartitions(col("bucket"), col("term"))
      .write.options(writerOptions).partitionBy("bucket").parquet(postingsPath)
    val files = IndexFiles.open(docs.sparkSession, postingsPath, "doc_id")
    val postings = files.stored
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.parquet(dfPath)
    // r17: Σdl derives from the WRITTEN postings (per-doc dl rides
    // every posting row; even an empty-text doc owns one posting — its
    // `""` term) — one counter-only aggregate, never a second text
    // decode. r18 (ADVICE): N does NOT come from the postings — a
    // NULL-text doc produces no posting row (explode of a null token
    // array drops it) but the scan formulation and the DuckDB oracle
    // count it via COUNT(*) (its dl stays NULL and sums to nothing,
    // which the postings-derived Σdl matches). N is therefore a
    // column-pruned COUNT over the corpus — the one convention all
    // three paths (scan, index, oracle) share.
    val n = docs.count()
    val tot = postings
      .groupBy(col("doc_id")).agg(min(col("dl")).as("dl"))
      .agg(coalesce(sum(col("dl")), lit(0L)).as("tot"))
      .head().getLong(0)
    new Bm25Index(docs, State(files, dfPath, n, tot), attrs)
  }
}
