package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** r16 (the r15 verdict's #1): the SemDeDup verdict ARTIFACT — the
  * Abbas et al. 2023 (arXiv:2303.09540) semantic-dedup pass
  * materialized once per corpus digest as `(vec_id, cluster, dc,
  * is_kept)`, the [[Dedup.clusters]] lifecycle applied to the
  * embedding side. r15 ran the Lloyd fit + assignment + pair join on
  * EVERY call (2.0 s at sf0.1 — the slowest non-streaming query), with
  * a FIXED k = 4: a cluster-scoped pair join is only bounded if k
  * grows with N (the paper's own design — k = 11k at 100M vectors), so
  * fixed-k was O(n²/k) — a cartesian in disguise at 100 TB.
  *
  * What changed:
  *
  *  - **k(N) policy**: [[defaultK]] reuses the
  *    [[IvfPqIndex.defaultNlist]] occupancy discipline — ~√N clusters
  *    bounded by the n/39 training-point budget, floored at 16 — so
  *    expected cluster size is ~√N and the per-cluster pair join stays
  *    O(N) total work as the corpus grows.
  *  - **per-cluster pair cap**: clusters above [[MaxCluster]] members
  *    skip the pair comparison entirely (all members kept) — the
  *    [[Dedup.maxBucket]] precedent: a degenerate cluster (all vectors
  *    identical) otherwise lands m²/2 pairs on one task; a real corpus
  *    removes those with exact dedup first.
  *  - **artifact lifecycle**: the fit runs ONCE per corpus digest and
  *    the verdict once per (digest, tau); every later call — and every downstream consumer —
  *    is a metadata read of the persisted verdict table. The verdict
  *    artifact carries the fitted centroids ([[constantsFor]]), which
  *    the oracle dump inlines, so DuckDB re-derives assignment, cap,
  *    keeper rule and cosine gate from the SAME constants the Spark
  *    answer used.
  *  - **incremental append** ([[append]]): new vectors assign against
  *    the STORED centroids (the [[IvfPqIndex.appendEncode]]
  *    discipline) and only TOUCHED clusters re-verdict — drops are
  *    monotone under the keeper rule (old↔old pairs are already folded
  *    into the stored verdicts), so append ≡ a full re-verdict of the
  *    union against the stored centroids, at O(touched members) cost.
  *
  * Engine parity is unchanged from r15: cluster ids and centroid
  * distances are rounded-argmin values both engines derive identically
  * from the dumped centroids, the cosine gate is the shared
  * ROUND(dot/(‖a‖·‖b‖), 4) chain, the keeper rule a pure (dc, vec_id)
  * comparison of rounded values.
  */
object SemDedupIndex {

  /** Per-cluster member cap for the pair join — clusters above this
    * are degenerate (exact-dup shards) and skip pair comparison, all
    * kept; the [[Dedup.maxBucket]] twin.
    */
  val MaxCluster = 10000

  /** k(N): the [[IvfPqIndex.defaultNlist]] occupancy policy — ~√N
    * clusters (expected cluster size √N ⇒ pair work Σ sᵢ² ≈ N·√N/√N =
    * O(N)), bounded by the n/39 k-means training budget, floored at
    * 16. The paper's k = 11k at N = 100M sits on the same √N curve.
    */
  def defaultK(n: Long): Int = IvfPqIndex.defaultNlist(n)

  /** Fitted centroids and k of a corpus. */
  type Fit = (Seq[(Int, Array[Double])], Int)

  /** A persisted verdict table and the fit it was computed against —
    * for an append or delete refresh, the BASE corpus's fit.
    */
  private[pipeline] final case class Verdicts(path: String, fit: Fit)

  /** The cosine threshold every caller uses unless it passes its own. */
  private[pipeline] val DefaultTau = 0.25

  /** The from-scratch fit of `emb`, its own registry entry: its
    * presence says whether a corpus ever paid the full fit (an appended
    * union or a filtered corpus never does).
    */
  private[pipeline] def fitKey(emb: DataFrame): graft.core.Artifacts.Key =
    graft.core.Artifacts.keyOf(emb, "semdedup.fit")

  private def fitOf(emb: DataFrame): Fit =
    graft.core.Artifacts(fitKey(emb)) {
      val k = defaultK(IvfPqIndex.countFor(emb))
      (KMeansOps.fitCentroids(emb, k, iters = 2), k)
    }

  private[pipeline] def verdictKey(emb: DataFrame, tau: Double): graft.core.Artifacts.Key =
    graft.core.Artifacts.keyOf(emb, "semdedup.verdicts", tau)

  /** The (centroids, k) the built verdict artifact of `emb` was
    * computed against — the oracle-dump handshake; None until built.
    */
  def constantsFor(emb: DataFrame): Option[Fit] =
    graft.core.Artifacts.peek[Verdicts](verdictKey(emb, DefaultTau)).map(_.fit)

  /** The persisted verdict table `(vec_id, cluster, dc, is_kept)` for
    * `emb` — built on first touch, a parquet read ever after.
    */
  def verdicts(emb: DataFrame, tau: Double = DefaultTau): DataFrame =
    graft.core.Tables.read(emb.sparkSession, verdictsOf(emb, tau).path)

  private def verdictsOf(emb: DataFrame, tau: Double): Verdicts =
    graft.core.Artifacts(verdictKey(emb, tau)) {
      val fit = fitOf(emb)
      written(verdictsAgainst(emb, fit._1, tau), fit)
    }

  /** `verdicts` persisted as an artifact scored against `fit`. */
  private def written(table: DataFrame, fit: Fit): Verdicts = {
    val p = graft.core.TempDirs.scoped("graft_semdedup_") + "/verdicts"
    table.write.parquet(p)
    Verdicts(p, fit)
  }

  /** The full verdict pass against FIXED centroids — shared by the
    * offline build, the [[append]] equality contract, and the spec's
    * reference path. One localCheckpointed assignment feeds the size
    * gate, both pair-join sides and the verdict join.
    */
  private[pipeline] def verdictsAgainst(emb: DataFrame,
      cents: Seq[(Int, Array[Double])], tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = KMeansOps.assignWithDist(emb, cents).localCheckpoint()
    verdictsOver(base, base, tau)
  }

  /** Keeper-rule verdicts over an assigned member table: pairs are
    * drawn from `pairSource` (size-capped per cluster), every row of
    * `all` gets a verdict — 0 when out-ranked by a ≥τ partner, else
    * `kept`. `pairSource` ⊆ `all` plus the `pairFilter` predicate over
    * the `a`/`b` sides let [[append]] limit pair generation to pairs
    * touching a new vector.
    */
  private def verdictsOver(all: DataFrame, pairSource: DataFrame,
      tau: Double, pairFilter: Option[Column] = None,
      kept: Column = lit(1L)): DataFrame = {
    // cluster sizes from the FULL member table (k rows — AQE broadcasts
    // the join back; deliberately unhinted per the chunk-offsets rule)
    val sizes = all.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, MaxCluster))
      .select(col("cluster"))
    val elig = pairSource.join(sizes, Seq("cluster"))
    // zero vectors have no direction: their cosine is 0/0 (an ANSI
    // DIVIDE_BY_ZERO on Spark where DuckDB's x/0 is NULL — the §4
    // divide-guard class). The when() short-circuits in codegen, so
    // the division never evaluates for a zero-norm side; a NULL
    // comparison filters the pair on both engines identically (zero
    // vectors are always kept — never anyone's duplicate).
    def n2(side: String): Column =
      Similarity.dot(col(s"$side.embedding"), col(s"$side.embedding"))
    val cos = when(n2("a") > 0.0 && n2("b") > 0.0,
      round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 4))
    val sameCluster = col("a.cluster") === col("b.cluster") &&
      col("a.vec_id") =!= col("b.vec_id")
    val dup = elig.as("a").join(elig.as("b"),
        pairFilter.fold(sameCluster)(sameCluster && _) &&
          (col("a.dc") > col("b.dc") ||
            (col("a.dc") === col("b.dc") && col("a.vec_id") < col("b.vec_id"))))
      .filter(cos >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(1L))
    all.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dc"),
        when(col("dropped").isNull, kept).otherwise(0L).as("is_kept"))
  }

  /** r16 (the r15 verdict's #7): INCREMENTAL verdict refresh. New
    * vectors assign against the STORED centroids and only clusters
    * RECEIVING a new vector re-verdict — and within those, only pairs
    * touching a new vector are generated (old↔old pairs are already
    * folded into the stored verdicts; drops are monotone under the
    * keeper rule, so `stored_drop ∨ new_pair_drop` EQUALS the full
    * union re-verdict against the same centroids — gated by
    * SemDedupSpec). Old members of touched clusters re-read their
    * embeddings via a vec_id join against the base corpus (the verdict
    * artifact deliberately stores no vectors); untouched clusters are
    * a pure metadata copy.
    *
    * Model staleness is the [[IvfPqIndex.appendEncode]] trade: the
    * centroids (and k) stay those of the BASE fit — the rebuild
    * trigger is the corpus version advancing, which re-keys the digest
    * and re-fits. Documented divergence ([[Dedup.clustersAppend]]
    * precedent): a cluster crossing [[MaxCluster]] only BECAUSE of the
    * append keeps its pre-existing drops (a full rebuild would skip
    * the whole degenerate cluster).
    *
    * The refreshed artifact registers under the digest of
    * `base.unionByName(newVecs)`, so later [[verdicts]] reads of that
    * union hit it without any rebuild.
    */
  /** The filtered-corpus view a [[delete]] leaves behind — shared by
    * the delete path and its digest registration so the two can never
    * desync on the plan string the artifact caches key on.
    */
  private[graft] def remainingOf(base: DataFrame,
      delIds: DataFrame): DataFrame =
    base.join(delIds.select(col("vec_id")), Seq("vec_id"), "left_anti")

  /** r18 (the r17 verdict's #1): vector DELETION on the semantic-dedup
    * tier. Deletion is NOT monotone under the keeper rule — removing a
    * keeper can RESURRECT the doc it out-ranked (its only ≥τ partner
    * gone), so unlike [[append]]'s pairs-touching-new reduction, every
    * cluster that LOST a member re-verdicts in full over its remaining
    * members (bounded by touched cluster sizes; untouched clusters are
    * a pure metadata copy — their pair sets are unchanged). Centroids
    * and k stay the BASE fit's (the [[IvfPqIndex.appendEncode]]
    * staleness trade; the refit is the digest-advance rebuild's job),
    * so the result EQUALS a full re-verdict of the filtered corpus
    * against the stored centroids — which is exactly what the
    * q_semdedup_deleted oracle re-derives from the dumped constants.
    * The refreshed artifact registers under the filtered corpus's
    * digest, so later [[verdicts]] reads of it hit the cache.
    */
  def delete(base: DataFrame, delIds: DataFrame,
      tau: Double = DefaultTau): DataFrame =
    graft.core.Tables.read(base.sparkSession, graft.core.Artifacts(
      verdictKey(remainingOf(base, delIds), tau))(deleted(base, delIds, tau)).path)

  /** The verdict artifact of `base` minus `delIds` (see [[delete]]). */
  private def deleted(base: DataFrame, delIds: DataFrame,
      tau: Double): Verdicts = {
    val spark = base.sparkSession
    val baseV = verdictsOf(base, tau) // builds the base artifact if absent
    val stored = graft.core.Tables.read(spark, baseV.path)
    val delSet = delIds.select(col("vec_id")).distinct().localCheckpoint()
    // clusters that lost a member (metadata-sized); their survivors
    // re-fetch embeddings by vec_id (the append discipline — the
    // verdict artifact deliberately stores no vectors)
    val touched = stored.join(delSet, Seq("vec_id"), "left_semi")
      .select(col("cluster")).distinct()
    val survivors = stored.join(delSet, Seq("vec_id"), "left_anti")
    val touchedMembers = survivors
      .join(touched, Seq("cluster"), "left_semi")
      .join(base.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cluster"), col("dc"))
      .localCheckpoint()
    val reVerdict = verdictsOver(touchedMembers, touchedMembers, tau)
    val untouched = survivors.join(touched, Seq("cluster"), "left_anti")
      .select(col("vec_id"), col("cluster"), col("dc"), col("is_kept"))
    // the filtered corpus answers oracle dumps with the BASE constants
    written(untouched.unionByName(reVerdict), baseV.fit)
  }

  def append(base: DataFrame, newVecs: DataFrame,
      tau: Double = DefaultTau): DataFrame =
    graft.core.Tables.read(base.sparkSession, graft.core.Artifacts(
      verdictKey(base.unionByName(newVecs), tau))(appended(base, newVecs, tau)).path)

  /** The verdict artifact of `base ∪ newVecs` (see [[append]]). */
  private def appended(base: DataFrame, newVecs: DataFrame,
      tau: Double): Verdicts = {
    val spark = base.sparkSession
    val baseV = verdictsOf(base, tau) // builds the base artifact if absent
    val cents = baseV.fit._1
    val stored = graft.core.Tables.read(spark, baseV.path)
    val assignedNew = KMeansOps.assignWithDist(newVecs, cents)
      .localCheckpoint() // touched set, pair side and verdicts all read it
    val touched = assignedNew.select(col("cluster")).distinct()
    val oldTouched = stored.join(touched, Seq("cluster"), "left_semi")
    // old members re-fetch embeddings by vec_id (high-card, skew-free)
    val oldMembers = oldTouched
      .join(base.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cluster"), col("dc"),
        col("is_kept").as("old_kept"), lit(false).as("is_new"))
    val newMembers = assignedNew
      .select(col("vec_id"), col("embedding"), col("cluster"), col("dc"),
        lit(1L).as("old_kept"), lit(true).as("is_new"))
    val members = oldMembers.unionByName(newMembers).localCheckpoint()
    val pairSource = members
      .select(col("vec_id"), col("embedding"), col("cluster"), col("dc"),
        col("is_new"))
    // r17 (ADVICE): the documented append divergence — a touched
    // cluster crossing MaxCluster only BECAUSE of the append keeps its
    // pre-existing drops, where a full rebuild would skip the whole
    // degenerate cluster — contradicts the strict append ≡
    // full-re-verdict gates (q_semdedup_append oracle, SemDedupSpec).
    // It has never fired at a verify/bench SF; if it ever does, this
    // warning makes the red immediately attributable instead of a
    // silent hash mismatch. Touched clusters only — a bounded read.
    val crossed = members.groupBy(col("cluster"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > MaxCluster)
      .join(stored.filter(col("is_kept") === 0L)
        .select(col("cluster")).distinct(), Seq("cluster"), "left_semi")
      .select(col("cluster")).collect().map(_.get(0))
    if (crossed.nonEmpty)
      System.err.println(
        s"[graft] WARNING: SemDedupIndex.append — touched cluster(s) " +
          s"${crossed.mkString(",")} crossed MaxCluster=$MaxCluster with " +
          "stored drops; append keeps those drops but a full rebuild " +
          "would skip the whole cluster — expect the strict-equality " +
          "gates (q_semdedup_append / SemDedupSpec) to mismatch here")
    // pairs must touch a new vector (keeper drops b when a out-ranks
    // it, so either side may be the new one); a member no new pair
    // drops keeps its stored verdict
    val reVerdict = verdictsOver(members, pairSource, tau,
      pairFilter = Some(col("a.is_new") || col("b.is_new")),
      kept = col("old_kept"))
    val untouched = stored.join(touched, Seq("cluster"), "left_anti")
      .select(col("vec_id"), col("cluster"), col("dc"), col("is_kept"))
    // the union corpus answers oracle dumps with the BASE constants —
    // append never refits
    written(untouched.unionByName(reVerdict), baseV.fit)
  }
}
