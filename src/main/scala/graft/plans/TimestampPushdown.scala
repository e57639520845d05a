package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Optimizer rule: rewrite time-range predicates on a converted
  * timestamp view of the stored column into predicates on the stored
  * column itself, so they reach parquet row-group pruning.
  *
  * Two view shapes are recovered — the distributed analog of the
  * reference's B+-tree range descent
  * (/root/reference/bplus_tree.hpp), done by the optimizer instead of
  * hand-written raw-column filters:
  *
  *  1. tz-cast view (current `events.parquet`, TIMESTAMP_MICROS with
  *     isAdjustedToUTC=false → Spark TIMESTAMP_NTZ): the friendly view
  *     is `ts.cast(TIMESTAMP)`. A filter against it compares
  *     `Cast(ts_ntz, TIMESTAMP, zone)` with a timestamp literal —
  *     which V1 parquet pushdown cannot translate (it only pushes
  *     bare-attribute predicates). Under a fixed zero-offset zone
  *     (graft pins session tz = UTC) the cast is the identity on the
  *     stored µs value, so each comparison rewrites to the same
  *     comparison on the NTZ column with an NTZ literal of the same
  *     µs value. Non-UTC / DST zones are left untouched (wall-clock
  *     mapping is not injective there).
  *  2. ns→µs view (legacy TIMESTAMP(NANOS) files read as raw longs):
  *     `ts = timestamp_micros(ts_ns div 1000)` rewrites to raw bounds
  *     (`ts_us >= T ⟺ ts_ns >= T·1000`, `ts_us <= T ⟺
  *     ts_ns <= T·1000 + 999`, …). Sound for non-negative raw values
  *     and positive literals (integral division truncates toward
  *     zero); literals at/below epoch 0 are left untouched.
  */
object TimestampFilterPushdown extends Rule[LogicalPlan] {

  /** Matches the µs-view of a raw ns column: MicrosToTimestamp(a div 1000). */
  private object MicrosView {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(IntegralDivide(a, Literal(1000L, LongType), _))
          if a.dataType == LongType => Some(a)
      case _ => None
    }
  }

  /** Matches the session-tz cast view of a TIMESTAMP_NTZ column when
    * the cast zone is a fixed zero-offset zone (UTC/GMT/+00:00) — the
    * only case where NTZ→LTZ is the identity on the µs value.
    */
  private object NtzCastView {
    def unapply(e: Expression): Option[Expression] = e match {
      case c @ Cast(a, TimestampType, _, _)
          if a.dataType == TimestampNTZType && c.timeZoneId.exists { z =>
            val rules = java.time.ZoneId.of(z).getRules
            rules.isFixedOffset &&
              rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
          } => Some(a)
      case _ => None
    }
  }

  private object TsLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(us: Long, TimestampType)
          if us > 0 && us < Long.MaxValue / 1000 - 1000 => Some(us)
      case _ => None
    }
  }

  private def rewrite(e: Expression): Expression = e match {
    // tz-cast view: identity on the µs value under a zero-offset zone,
    // so every comparison shape rewrites in place
    case b: BinaryComparison => (b.left, b.right) match {
      case (NtzCastView(a), TsLit(t)) =>
        b.withNewChildren(Seq(a, Literal(t, TimestampNTZType)))
      case (TsLit(t), NtzCastView(a)) =>
        b.withNewChildren(Seq(Literal(t, TimestampNTZType), a))
      case _ => rewriteNs(b)
    }
    case other => other
  }

  private def rewriteNs(e: Expression): Expression = e match {
    case GreaterThanOrEqual(MicrosView(a), TsLit(t)) =>
      GreaterThanOrEqual(a, Literal(t * 1000L, LongType))
    case GreaterThan(MicrosView(a), TsLit(t)) =>
      GreaterThan(a, Literal(t * 1000L + 999L, LongType))
    case LessThanOrEqual(MicrosView(a), TsLit(t)) =>
      LessThanOrEqual(a, Literal(t * 1000L + 999L, LongType))
    case LessThan(MicrosView(a), TsLit(t)) =>
      LessThan(a, Literal(t * 1000L, LongType))
    case EqualTo(MicrosView(a), TsLit(t)) =>
      And(GreaterThanOrEqual(a, Literal(t * 1000L, LongType)),
        LessThanOrEqual(a, Literal(t * 1000L + 999L, LongType)))
    // literal-on-the-left forms
    case GreaterThanOrEqual(TsLit(t), MicrosView(a)) =>
      LessThanOrEqual(a, Literal(t * 1000L + 999L, LongType))
    case GreaterThan(TsLit(t), MicrosView(a)) =>
      LessThan(a, Literal(t * 1000L, LongType))
    case LessThanOrEqual(TsLit(t), MicrosView(a)) =>
      GreaterThanOrEqual(a, Literal(t * 1000L, LongType))
    case LessThan(TsLit(t), MicrosView(a)) =>
      GreaterThan(a, Literal(t * 1000L + 999L, LongType))
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = cond.transformUp { case e => rewrite(e) }
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }
}

/** Installer for sessions created outside the builder (the mains'
  * `LocalSession` sessions): `spark.experimental` has no optimizer hook,
  * so this goes through `extraOptimizations`.
  */
object GraftOptimizations {
  // Tables.table() calls install on every read and test suites share one
  // session across parallel suites — the check-then-set on
  // extraOptimizations must not race (double registration is benign but
  // unclean). Fast path: a concurrent installed-set per session; slow
  // path: the read-modify-write serialized on this object.
  private val installed = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  def install(spark: SparkSession): Unit =
    if (!installed.contains(spark)) synchronized {
      val existing = spark.experimental.extraOptimizations
      if (!existing.contains(TimestampFilterPushdown))
        spark.experimental.extraOptimizations = existing :+ TimestampFilterPushdown
      installed.add(spark)
    }
}
