package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{AnnServe, Bm25Index, Bm25Serve, Similarity}

/** `retrieval`: a closed loop, one client, of `ann`, `search` and
  * `hybrid` commands into `Cli.serve` over the sf0.1 embeddings and
  * documents. Vector ids and query terms are Zipf-skewed, so some
  * repeat; search terms mix frequent words with rare ones. The serve
  * start, including both tiers' prewarm, is the set-up.
  */
object Retrieval {
  val Setups = 3
  val ZipfS = 1.0
  val K = 10
  val Warmup = 300

  final case class Cmd(kind: String, vec: Long, terms: Seq[String]) {
    def text: String = kind match {
      case "ann" => s"ann $vec $K"
      case "search" => s"search ${terms.mkString(" ")}"
      case _ => s"hybrid $vec ${terms.mkString(" ")}"
    }
  }

  /** Index-order double dot product, the fold AnnServe re-ranks with. */
  private def dot(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length && i < y.length) { s += x(i) * y(i); i += 1 }
    s
  }
  private def round4(x: Double) = java.math.BigDecimal.valueOf(x)
    .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def run(ctx: Ctx): Result = {
    val res = new Result("retrieval")
    val spark = ctx.spark
    val tr = ctx.tracer
    val rng = new java.util.Random(ctx.seed)

    // inputs: vector ids and the vocabulary by document frequency
    val emb: Map[Long, Array[Double]] = Tables.embeddings(spark, ctx.dataDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val norm = emb.map { case (i, e) => i -> math.sqrt(dot(e, e)) }
    def cosine(a: Long, b: Long) = dot(emb(a), emb(b)) / (norm(a) * norm(b))
    val ids = emb.keys.toArray.sorted
    val vocab = Tables.documents(spark, ctx.dataDir)
      .select(explode(array_distinct(split(col("text"), " "))).as("t"))
      .filter(length(col("t")) > 0).groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(p => (-p._2, p._1))
    val common = vocab.take(2000).map(_._1)
    val rare = vocab.filter(_._2 <= 3).map(_._1)
    val vecZipf = new Zipf(ids.length, ZipfS, rng)
    val termZipf = new Zipf(common.length, ZipfS, rng)
    def terms(): Seq[String] = Seq.fill(1 + rng.nextInt(3))(
      if (rare.nonEmpty && rng.nextDouble() < 0.3) rare(rng.nextInt(rare.length))
      else common(termZipf.next())).distinct
    def next(): Cmd = {
      val u = rng.nextDouble()
      val kind = if (u < 0.40) "ann" else if (u < 0.75) "search" else "hybrid"
      Cmd(kind, ids(vecZipf.next()), if (kind == "ann") Nil else terms())
    }

    val tickDir = ctx.fresh("empty_ticks")
    var loop: ServeLoop = null
    val setups = (1 to Setups).map { _ =>
      if (loop != null) loop.stop()
      val t0 = System.nanoTime()
      loop = new ServeLoop(spark, tickDir, Some(ctx.dataDir), "retrieval")
      loop.start().foreach(l => res.check(Some(s"serve start: $l")))
      (System.nanoTime() - t0) / 1e9
    }

    val cmds = mutable.ArrayBuffer.empty[Cmd]
    val sent = mutable.ArrayBuffer.empty[Long]
    val replies = mutable.ArrayBuffer.empty[Reply]
    def exchange(): Unit = {
      val c = next()
      cmds += c
      sent += System.nanoTime()
      loop.send(c.text)
      replies += loop.reply()
    }
    // untimed warm-up from the same distribution, so the timed loop
    // sees the tiers' steady-state cache contents
    (0 until Warmup).foreach(_ => exchange())
    val jobs0 = ctx.jobsStarted()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) exchange()
    val loopS = (System.nanoTime() - t0) / 1e9
    val jobs = ctx.jobsStarted() - jobs0
    loop.stop()

    // untimed: ann against exact cosine top-k, search against a
    // reference BM25 over the documents (itself checked against the
    // Spark index path), hybrid against RRF of the reference's top-20
    // and a fresh AnnServe's top-20
    val v0 = System.nanoTime()
    val docs = Tables.documents(spark, ctx.dataDir)
    val (ann, prewarmMs) = {
      val a = System.nanoTime()
      val ann = AnnServe.forTable(Tables.embeddings(spark, ctx.dataDir)); ann.prewarm()
      (ann, (System.nanoTime() - a) / 1e6)
    }
    val bm25 = new Bm25Reference(docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))))
    // the reference must agree with the Spark index path
    cmds.filter(_.kind == "search").map(_.terms).distinct.take(2).foreach { t =>
      val idx = Bm25Index.forTable(docs).topK(t, K, false).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      res.checkEq(s"BM25 reference vs Bm25Index for '${t.mkString(" ")}'", bm25.topK(t, K), idx)
    }
    res.detail("verify_spark_s") = (System.nanoTime() - v0) / 1e9
    val exactCache = mutable.HashMap.empty[Long, Seq[(Long, Double)]]
    def exact(v: Long): Seq[(Long, Double)] = exactCache.getOrElseUpdate(v, {
      // rounding to 4 places only reorders near-ties, so round just the
      // candidates within 1e-4 of the K-th raw cosine
      val raw = ids.filter(_ != v).map(i => i -> cosine(i, v))
      val kth = raw.map(_._2).sorted(Ordering[Double].reverse)(K - 1)
      raw.filter(_._2 >= kth - 1e-4).map { case (i, c) => i -> round4(c) }
        .sortBy { case (i, c) => (-c, i) }.take(K).toSeq
    })
    // the exact helper must agree with the Spark brute-force query
    cmds.filter(_.kind == "ann").map(_.vec).distinct.take(2).foreach { v =>
      val bf = Similarity.bruteForceTopK(Tables.embeddings(spark, ctx.dataDir), v, K).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      res.checkEq(s"exact top-$K vs bruteForceTopK for vec $v", exact(v), bf)
    }
    def verify(c: Cmd, got: Vector[String]): (Option[String], Double) =
      c.kind match {
        case "ann" =>
          val ex = exact(c.vec)
          val hits = got.drop(1).map(_.split(" ")).collect {
            case Array("Vec:", id, "Cosine:", cs) => id.toLong -> cs
          }
          val wrongCos = hits.filter { case (id, cs) =>
            !emb.contains(id) || f"${round4(cosine(id, c.vec))}%.4f" != cs
          }
          val key = hits.map(h => (-h._2.toDouble, h._1))
          (if (got.headOption.contains(s"Top $K neighbors for vec ${c.vec}:") && hits.length == K &&
              wrongCos.isEmpty && key == key.sorted && hits.map(_._1).distinct.length == K) None
            else Some(s"${c.text}: ${got.take(3).mkString(" | ")}"),
            hits.map(_._1).toSet.intersect(ex.map(_._1).toSet).size.toDouble / K)
        case "search" =>
          val r = bm25.topK(c.terms, K)
          val want = s"Top ${r.length} docs for ANY of '${c.terms.mkString(" ")}':" +:
            r.map { case (doc, dl, s) => f"Doc: $doc Len: $dl BM25: $s%.6f" }.toVector
          (if (got == want) None else Some(s"${c.text}: ${got.take(2).mkString(" | ")}"), 0.0)
        case _ =>
          val fused = Similarity.rrfFuse(Seq(bm25.topK(c.terms, 20).map(_._1),
            ann.topKById(c.vec, 20).map(_._1)), K)
          val want = s"Top ${fused.length} hybrid hits for vec ${c.vec} + '${c.terms.mkString(" ")}':" +:
            fused.map { case (id, s) => f"Doc: $id RRF: $s%.6f" }.toVector
          (if (got == want) None else Some(s"${c.text}: ${got.take(2).mkString(" | ")}"), 0.0)
      }
    res.detail("verify_refs_s") = (System.nanoTime() - v0) / 1e9
    val verifyMs = mutable.HashMap.empty[String, Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    // replies repeat under Zipf skew: verify each distinct one once
    val verified = mutable.HashMap.empty[(Cmd, Vector[String]), (Option[String], Double)]
    cmds.indices.foreach { j =>
      val c = cmds(j)
      val got = replies(j).lines
      val a = System.nanoTime()
      val (err, recall) = verified.getOrElseUpdate((c, got), verify(c, got))
      verifyMs(c.kind) = verifyMs.getOrElse(c.kind, 0.0) + (System.nanoTime() - a) / 1e6
      res.check(err)
      if (c.kind == "ann") recalls += recall
    }

    res.detail("verify_s") = (System.nanoTime() - v0) / 1e9
    res.detail("verify_ms_by_kind") = verifyMs.toMap
    val timed = Warmup until cmds.length
    val lat = cmds.indices.map(j => (replies(j).endNs - sent(j)) / 1e6)
    def p50(kind: String) = Stats.median(timed.filter(cmds(_).kind == kind).map(lat))
    def n(kind: String) = timed.count(cmds(_).kind == kind)
    val (tp, tv) = Stats.tail(timed.map(lat))
    res.e2e("setup_s") = (Stats.median(setups), "s")
    res.e2e("p50_ms") = (Stats.geomean(Seq(p50("ann"), p50("search"), p50("hybrid"))), "ms")
    res.e2e("work_per_s") = (timed.length / loopS, "1/s")
    res.metric("setup_s", Stats.median(setups), "s", s"median of $Setups serve starts with prewarm")
    res.metric("ann_p50_ms", p50("ann"), "ms", s"n=${n("ann")}")
    res.metric("search_p50_ms", p50("search"), "ms", s"n=${n("search")}")
    res.metric("hybrid_p50_ms", p50("hybrid"), "ms", s"n=${n("hybrid")}")
    res.metric("ann_recall10", recalls.sum / recalls.length, "ratio", s"mean recall@$K over ${recalls.length} ann answers vs exact cosine")
    res.detail("commands") = timed.length
    res.detail("setup_runs_s") = setups
    res.detail("distinct_vecs") = cmds.map(_.vec).distinct.length
    res.detail("tail") = Map("pct" -> tp, "ms" -> tv)
    res.detail("warmup_commands") = Warmup
    res.detail("first_setup_s") = setups.head
    if (tr.enabled) {
      timed.foreach { j =>
        val r = replies(j)
        val root = tr.record("bench.request", cmds(j).kind, 0L, 0L, sent(j), r.endNs)
        tr.record("Cli.service", cmds(j).kind, root, root, r.startNs,
          math.min(r.endNs, r.startNs + (r.serviceMs * 1e6).toLong))
      }
      val ts = sent.slice(Warmup, cmds.length).toSeq
      ctx.serveLayers(res, cmds.slice(Warmup, cmds.length).map(_.kind).toSeq,
        replies.slice(Warmup, cmds.length).toSeq, ts, ts, jobs)
      res.layer("pipeline.spark_jobs_per_cmd") = (jobs.toDouble / timed.length, "jobs")
      val b0 = System.nanoTime()
      val bm = Bm25Serve.forTable(docs); bm.prewarm()
      res.layer("pipeline.prewarm_ms") = (prewarmMs + (System.nanoTime() - b0) / 1e6, "ms")
      // load every term the run used, so the replay below times warm scoring
      bm.topK(cmds.flatMap(_.terms).distinct.take(4000).toSeq, 1)
      // the tiers' own calls, replayed warm without the loop
      def med(f: Cmd => Unit, kind: String) = Stats.median(cmds.filter(_.kind == kind).take(200).map { c =>
        val a = System.nanoTime(); f(c); (System.nanoTime() - a) / 1e6
      }.toSeq)
      res.layer("pipeline.ann_topk_ms") = (med(c => ann.topKById(c.vec, K), "ann"), "ms")
      res.layer("pipeline.bm25_topk_ms") = (med(c => bm.topK(c.terms, K), "search"), "ms")
      val lists = cmds.filter(_.kind == "hybrid").take(200).map(c =>
        Seq(bm.topK(c.terms, 20).map(_._1), ann.topKById(c.vec, 20).map(_._1)))
      res.layer("pipeline.rrf_ms") = (Stats.median(lists.map { l =>
        val a = System.nanoTime(); Similarity.rrfFuse(l, K); (System.nanoTime() - a) / 1e6
      }.toSeq), "ms")
    }
    res
  }
}

/** Reference BM25 over the raw documents: the index's tokenization
  * (`split(text, " ")`, every token a term, dl = token count; a null
  * text counts in N but has no postings) and the serve tier's scoring
  * (idf and each contribution rounded to micro-units, summed exactly,
  * ranked by score then doc id).
  */
final class Bm25Reference(docs: Array[(Long, Option[String])]) {
  private val postings: Map[String, Array[(Long, Long, Long)]] = {
    val acc = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
    docs.foreach { case (id, text) =>
      text.foreach { t =>
        val ws = t.split(" ", -1)
        ws.groupBy(identity).foreach { case (w, occ) =>
          acc.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += ((id, occ.length.toLong, ws.length.toLong))
        }
      }
    }
    acc.map { case (k, v) => k -> v.toArray }.toMap
  }
  private val n = docs.length.toDouble
  private val avgdl = docs.flatMap(_._2).map(_.split(" ", -1).length.toLong).sum.toDouble / n

  private def micro(x: Double): Long = {
    val s = x * 1000000.0
    (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toLong
  }

  def topK(terms: Seq[String], k: Int): Seq[(Long, Long, Double)] = {
    val acc = mutable.LongMap.empty[Long]
    val dls = mutable.LongMap.empty[Long]
    terms.distinct.foreach { t =>
      val posts = postings.getOrElse(t, Array.empty[(Long, Long, Long)])
      val df = posts.length.toDouble
      val idf6 = new java.math.BigDecimal(micro(math.log((n - df + 0.5) / (df + 0.5) + 1.0)))
        .movePointLeft(6).doubleValue()
      posts.foreach { case (doc, tf, dl) =>
        val ratio = tf.toDouble * 2.2 / (tf.toDouble + graft.pipeline.TextOps.Bm25K1 *
          (1.0 - graft.pipeline.TextOps.Bm25B + graft.pipeline.TextOps.Bm25B * (dl.toDouble / avgdl)))
        acc(doc) = acc.getOrElse(doc, 0L) + micro(idf6 * ratio)
        dls(doc) = dl
      }
    }
    // top k by (score desc, doc asc), without sorting every hit
    val worstFirst = Ordering.by[(Long, Long), (Long, Long)] { case (doc, m) => (m, -doc) }
    val top = mutable.PriorityQueue.empty[(Long, Long)](worstFirst.reverse)
    acc.foreach { case (doc, m) =>
      top.enqueue((doc, m))
      if (top.size > k) top.dequeue()
    }
    top.toSeq.sortBy { case (doc, m) => (-m, doc) }.map { case (doc, m) =>
      (doc, dls(doc), new java.math.BigDecimal(m).movePointLeft(6).doubleValue())
    }
  }
}
