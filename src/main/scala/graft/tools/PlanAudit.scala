package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** r19 optimization-round audit: execute each query (AQE-final plans)
  * and print one line per query — wall time plus scan / exchange /
  * join / window node counts, with the scanned file roots — so
  * double-scan and extra-shuffle shapes stand out mechanically.
  * Usage: runMain graft.tools.PlanAudit [query ...] (default: every
  * non-streaming query).
  */
object PlanAudit {
  private def unwrap(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case r: ReusedExchangeExec => Seq(r) // do NOT descend: shared subtree
      case other => Seq(other) ++ other.children.flatMap(unwrap)
    }
    // subqueries (scalar/broadcast) hide more plans
    here ++ p.subqueries.flatMap(unwrap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.LocalSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(_.startsWith("q_stream_"))
    // warmup: one-time JIT, footer and offline index builds
    Seq("q1_agg", "q_range_scan", "q_ohlc_daily", "q_ann_ivf", "q_ann_pq",
        "q_bucketed_join").foreach { n =>
      try graft.SparkEntry.queries(n)(spark, sfDir).collect()
      catch {
        // r20 (r19 ADVICE): a silently-failing warmup (e.g. after a
        // testdata regeneration) would quietly cost every subsequent
        // audit timing its warm baseline — announce it
        case e: Throwable => println(s"WARMUP-ERROR $n: ${e.getMessage}")
      }
    }
    names.foreach { name =>
      graft.SparkEntry.queries.get(name).foreach { fn =>
        try {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          val nodes = unwrap(df.queryExecution.executedPlan)
          val scans = nodes.collect { case s: FileSourceScanExec => s }
          val scanRoots = scans
            .map(_.relation.location.rootPaths.headOption
              .map(_.getName).getOrElse("?"))
            .groupBy(identity).map { case (k, v) => s"$k×${v.size}" }
            .toSeq.sorted.mkString(",")
          def n(f: PartialFunction[SparkPlan, Unit]): Int =
            nodes.count(f.isDefinedAt)
          println(f"AUDIT $name%-28s ${dt}%6.2f s " +
            f"scans=${scans.size}%d [$scanRoots] " +
            f"xchg=${n { case _: ShuffleExchangeExec => }}%d " +
            f"bcast=${n { case _: BroadcastExchangeExec => }}%d " +
            f"reuse=${n { case _: ReusedExchangeExec => }}%d " +
            f"smj=${n { case _: SortMergeJoinExec => }}%d " +
            f"shj=${n { case _: ShuffledHashJoinExec => }}%d " +
            f"bhj=${n { case _: BroadcastHashJoinExec => }}%d " +
            f"win=${n { case _: WindowExec => }}%d")
        } catch {
          case e: Throwable =>
            println(s"AUDIT $name ERROR: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
