package graft.pipeline

import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{LocalParquet, ServeCache}
import graft.core.LocalParquet.localFirst

/** r15 (the r14 verdict's item 4): WARM driver-side ANN serving — the
  * TickStore `scanRangeLocal`/serve-cache posture applied to
  * retrieval. The Cli serve loop answers point/range tick reads in
  * ~0.1 ms from a driver cache; an interactive retrieval user wants
  * the same for ANN, without paying Spark job scheduling (~100+ ms)
  * per query.
  *
  * What stays driver-resident is exactly what FAISS keeps in RAM:
  * the coarse centroids and PQ codebooks (the [[IvfPqIndex]] already
  * holds both), plus an LRU of PROBED CELLS' code+vector arrays —
  * bounded on the cell axis like the Cli symbol cache is bounded on
  * symbols, so a 100 TB corpus serves its hot cells from driver
  * memory while cold cells pay one pruned load on first touch.
  *
  * Every arithmetic step mirrors the Spark query path bit for bit
  * (same quant6 ADC entries — they are BUILT by the same driver code
  * — same index-order cosine fold, same HALF_UP round, same tie
  * orders), so a warm serve answer EQUALS `ivfPqTopK`'s collected
  * result (AnnServeSpec gates this).
  */
class AnnServe private (
    index: IvfPqIndex,
    emb: DataFrame,
    nprobe: Int,
    shortlist: Int,
    maxCells: Int) {

  // r17 (ADVICE): a single query probing more cells than the cache
  // holds would SELF-EVICT mid-pass (cells loaded early evicted by
  // later ones, so every repeat reloads them all). Guard the
  // configuration instead of degrading quietly.
  require(nprobe <= maxCells,
    s"nprobe=$nprobe exceeds the cell cache bound maxCells=$maxCells — " +
      "a query would evict its own probes mid-pass")

  /** A probed cell's rows sorted by vec_id. Cached at the
    * [[IvfPqIndex.cellVersion]] it was loaded at: a cell appended into
    * or deleted from since then is stale and reloads (r16, the r15
    * verdict's #2: without this a warm cell silently serves the
    * pre-append array forever while the Spark query path sees the
    * appended vectors).
    */
  private final case class CellData(
      ids: Array[Long], codes: Array[Array[Int]], embs: Array[Array[Float]])

  private val cellCache = new ServeCache[Int, CellData](maxCells, index.cellVersion)

  // query-vector read-through cache (ids served repeatedly stay warm);
  // a vector never changes under its id, so entries never go stale
  private val vecCache = new ServeCache[Long, Array[Float]](4096, _ => 0L)

  /** The probed cells' rows — cached cells as they are, missing or
    * stale ones loaded driver-side from the cell partitions (r20, the
    * scanRangeLocal posture: no Spark job on the serve path), else by
    * ONE pruned Spark read. Warm queries never load.
    */
  private def warmCells(probes: Seq[Int]): Map[Int, CellData] =
    cellCache.getOrLoad(probes) { missing =>
      // both paths produce (cell -> rows sorted by vec_id); the local
      // map carries every requested cell, the Spark map only the
      // non-empty ones — empty cells cache as empty arrays either way
      val byCell: Map[Int, Array[(Long, Array[Int], Array[Float])]] =
        localFirst("ann cell load")(Some(index.cellRowsLocal(missing))) {
          index.codes()
            .filter(col("cell").isin(missing: _*))
            .select(col("cell"), col("vec_id"), col("codes"), col("embedding"))
            .collect()
            .groupBy(_.getInt(0))
            .map { case (cell, rs) =>
              cell -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(1),
                r.getSeq[Int](2).toArray, r.getSeq[Float](3).toArray))
            }
        }
      byCell.map { case (cell, rs) =>
        cell -> CellData(rs.map(_._1), rs.map(_._2), rs.map(_._3))
      }
    }(_ => CellData(Array.empty, Array.empty, Array.empty))

  // the embeddings table's file roots, when (and only when) `emb` is a
  // plain parquet scan a driver-side read can stand in for (r20)
  private lazy val embRoots: Option[Seq[org.apache.hadoop.fs.Path]] =
    localFirst("ann embeddings roots")(Some(LocalParquet.plainParquetRoots(emb)))(None)

  /** Driver-side point lookup of `vecId`'s embedding with a parquet-mr
    * vec_id filter (row-group stats and dictionary pages prune exactly
    * like the pushed-down Spark scan; no job). None when `emb` is not
    * a plain parquet table, has more than 64 files (a driver-side
    * lookup would open every footer — that is the distributed scan's
    * job), or holds no such id.
    */
  private def vecLocal(vecId: Long): Option[Array[Float]] = embRoots.flatMap { roots =>
    val conf = emb.sparkSession.sparkContext.hadoopConfiguration
    val files = roots.flatMap(LocalParquet.dataFiles(_, conf))
    if (files.isEmpty || files.size > 64) None
    else {
      val pred = FilterApi.eq(FilterApi.longColumn("vec_id"),
        java.lang.Long.valueOf(vecId))
      // footer stats skip non-matching row groups per file; only the
      // file holding the id decodes anything
      LocalParquet.parMap(files) { f =>
        var found: Option[Array[Float]] = None
        LocalParquet.readGroups(f.getPath, conf, Some(pred)) { g =>
          if (found.isEmpty)
            found = Some(LocalParquet.floatArray(g, "embedding"))
        }
        found
      }.flatten.headOption
    }
  }

  /** Query vector by id: warm cells first, then the driver-side point
    * lookup, then a Spark scan (which throws on an unknown id). Served
    * ids stay warm in the LRU either way.
    */
  private def vecFor(vecId: Long): Array[Float] = vecCache.getOrLoadOne(vecId) {
    cellCache.values.iterator.flatMap { cd =>
      val i = java.util.Arrays.binarySearch(cd.ids, vecId)
      if (i >= 0) Some(cd.embs(i)) else None
    }.nextOption().getOrElse(
      localFirst("ann vector lookup")(vecLocal(vecId)) {
        emb.filter(col("vec_id") === vecId)
          .select(col("embedding")).head().getSeq[Float](0).toArray
      })
  }

  /** Serve-start init of the driver-side readers that answer
    * [[warmCells]] and [[vecFor]]: resolves the embeddings roots and
    * makes one zero-row filtered parquet-mr read, loading the read
    * stack (Hadoop FS, footer reader, GroupReadSupport, filter2 classes
    * — ~100 ms of one-time class loading otherwise billed to the first
    * cold query). Stats prune every row group for vec_id = −1, so no
    * data is read or cached. No Spark job runs: the Spark reads behind
    * [[localFirst]] answer only when a driver-side read declines or
    * throws.
    */
  def prewarm(): Unit = {
    localFirst("ann prewarm")(embRoots.map { roots =>
      val conf = emb.sparkSession.sparkContext.hadoopConfiguration
      val pred = FilterApi.eq(FilterApi.longColumn("vec_id"),
        java.lang.Long.valueOf(-1L))
      roots.flatMap(LocalParquet.dataFiles(_, conf)).headOption.foreach(f =>
        LocalParquet.readGroups(f.getPath, conf, Some(pred))(_ => ()))
    })(())
  }

  /** Warm top-k by query id — the serve-loop entry point. */
  def topKById(vecId: Long, k: Int): Seq[(Long, Double)] =
    topK(vecFor(vecId), k, excludeId = vecId)

  /** Driver-computed IVFPQ top-k: probe selection, per-cell residual
    * ADC, shortlist, exact cosine re-rank — the [[IvfPqIndex.topK]]
    * arithmetic executed as plain loops over the cached cell arrays.
    */
  def topK(qvecF: Array[Float], k: Int, excludeId: Long = -1L): Seq[(Long, Double)] = {
    val m = index.m
    val qn = IvfIndex.normalize(qvecF.map(_.toDouble))
    val probes = IvfIndex.nearestCells(index.centroids, qn, nprobe)
    val (_, cells) = ServeCache.stable(index.snapshot)(warmCells(probes))
    val tables: Map[Int, Array[Map[Int, Double]]] = probes.map { cell =>
      cell -> Array.tabulate(m)(j => index.cellAdcTable(qn, cell, j).toMap)
    }.toMap
    // candidates: (adc, vec_id) over the probed cells
    val cand = Array.newBuilder[(Double, Long, Array[Float])]
    probes.foreach { cell =>
      val cd = cells(cell)
      val tj = tables(cell)
      var r = 0
      while (r < cd.ids.length) {
        if (cd.ids(r) != excludeId) {
          var adc = 0.0
          var j = 0
          while (j < m) { adc += tj(j)(cd.codes(r)(j)); j += 1 }
          cand += ((adc, cd.ids(r), cd.embs(r)))
        }
        r += 1
      }
    }
    // shortlist by (adc, vec_id) asc — the orderBy/limit mirror
    val short = cand.result().sortBy(t => (t._1, t._2)).take(shortlist)
    // exact cosine re-rank: index-order double folds, IEEE sqrt, one
    // division, HALF_UP round to 4 (the Spark Round(double) sequence)
    val qd = qvecF.map(_.toDouble)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val qq = math.sqrt(dot(qd, qd))
    short.map { case (_, id, ef) =>
      val ed = ef.map(_.toDouble)
      val cs = dot(ed, qd) / (math.sqrt(dot(ed, ed)) * qq)
      val rounded = java.math.BigDecimal.valueOf(cs)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      (id, rounded)
    }.sortBy { case (id, cs) => (-cs, id) }.take(k).toSeq
  }
}

object AnnServe {
  /** Serve wrapper over the (digest-cached) IVFPQ index for `emb`,
    * with the same nlist/nprobe/shortlist policy defaults as
    * [[Similarity.ivfPqTopK]] — a serve answer and a Spark query
    * answer come from the SAME artifact and constants.
    */
  def forTable(emb: DataFrame, maxCells: Int = 256): AnnServe = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val nl = IvfPqIndex.defaultNlist(IvfPqIndex.countFor(emb))
    val np = IvfPqIndex.defaultNprobe(nl)
    new AnnServe(IvfPqIndex.forTable(emb, nl, 8, 16), emb, np,
      Similarity.IvfPqShortlist, maxCells)
  }

  /** Serve wrapper over a STANDING (caller-held) index — the
    * delete/append lifecycle entry point: mutations on `index` are
    * observed through the cell-version handshake.
    */
  def forIndex(index: IvfPqIndex, emb: DataFrame,
      maxCells: Int = 256): AnnServe = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    new AnnServe(index, emb, IvfPqIndex.defaultNprobe(index.nlist),
      Similarity.IvfPqShortlist, maxCells)
  }
}
