package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Machbase datetime-as-int64 SQL semantics for the query door.
  *
  * In the reference engine a `datetime` column IS an epoch-nanosecond
  * int64: SQL mixes it freely with integer literals and arithmetic —
  * `TIME / (1000*1000*1000) * (1000*1000*1000)` buckets to seconds,
  * `TIME BETWEEN 1705291858000000000 AND …` compares raw ns
  * (mods/server/http_query_test.go select_between_sub_query), and the
  * generated rollup SQL does
  * `from_timestamp(round(to_timestamp(time)/1000000)*1000000)`
  * (mods/tql/fm_dbsrc.go:191,217). Spark types tag-table TIME as
  * TIMESTAMP, where such mixes fail analysis — so this module supplies:
  *
  *  - [[Coerce]], a resolution rule that rewrites a binary operator
  *    mixing TIMESTAMP and an integral type by converting the timestamp
  *    side to its epoch-ns long. Strictly additive: without the rule the
  *    mixed form is an analysis ERROR, so no existing plan changes.
  *    `/` maps to integral division when both sides become longs this
  *    way — int64 division semantics, so bucket arithmetic floors
  *    exactly instead of drifting through doubles.
  *  - machbase `to_timestamp` (datetime → int64 ns; int64 passes
  *    through) and `from_timestamp` (int64 ns → datetime; datetime
  *    passes through), registered by
  *    [[graft.functions.SqlRegistry]] into the session function
  *    registry, shadowing Spark's string-parsing `to_timestamp` for
  *    door SQL only (nothing in the engine calls the Spark builtin by
  *    its SQL name; the Column API is unaffected by registry names).
  *
  * Injected via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (core/Sessions.configure) so every engine session gets the dialect.
  */
object MachTime {
  private def isTs(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** timestamp expression → epoch-ns long (µs-precision storage × 1000,
    * exact in Long: 2024-ns ≈ 1.7e18 < 2^63). */
  private def ns(e: Expression): Expression = {
    val ts = if (e.dataType == TimestampNTZType) Cast(e, TimestampType) else e
    Multiply(UnixMicros(ts), Literal(1000L))
  }

  private def fix(e: Expression): Expression =
    if (isTs(e.dataType)) ns(e) else e

  private def mixed(l: Expression, r: Expression): Boolean =
    l.resolved && r.resolved &&
      ((isTs(l.dataType) && isIntegral(r.dataType)) ||
        (isIntegral(l.dataType) && isTs(r.dataType)))

  /** Resolution rule: TIMESTAMP ⊕ integral → epoch-ns long ⊕ integral. */
  object Coerce extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsUp { case p =>
        p.transformExpressionsUp {
          case c: BinaryComparison if mixed(c.left, c.right) =>
            c.withNewChildren(Seq(fix(c.left), fix(c.right)))
          case d: Divide if mixed(d.left, d.right) =>
            // int64 division like the engine's — `TIME/1e9*1e9` must
            // floor to the bucket, not round-trip through double
            IntegralDivide(fix(d.left), fix(d.right))
          case a: BinaryArithmetic if mixed(a.left, a.right) =>
            a.withNewChildren(Seq(fix(a.left), fix(a.right)))
        }
      }
  }

  /** `to_timestamp` builder (machbase: datetime → epoch-ns int64;
    * an int64 is already ns and passes through). */
  def toTimestampBuilder(args: Seq[Expression]): Expression = {
    // machbase to_timestamp takes exactly one argument — a stray Spark
    // two-arg parse form must error, not silently drop its format
    if (args.size != 1) throw new IllegalArgumentException(
      s"to_timestamp requires 1 argument, got ${args.size}")
    val c = args.head
    c.dataType match {
      case dt if isTs(dt) => ns(c)
      case dt if isIntegral(dt) => c
      case _ => Cast(c, LongType)
    }
  }

  /** `from_timestamp` builder (machbase: epoch-ns int64 → datetime;
    * a datetime passes through). Accepts doubles because the engine's
    * own bucket SQL routes through `round()` (fm_dbsrc.go:191). */
  def fromTimestampBuilder(args: Seq[Expression]): Expression = {
    if (args.size != 1) throw new IllegalArgumentException(
      s"from_timestamp requires 1 argument, got ${args.size}")
    val c = args.head
    c.dataType match {
      case dt if isTs(dt) => c
      case LongType => MicrosToTimestamp(IntegralDivide(c, Literal(1000L)))
      case _ =>
        MicrosToTimestamp(IntegralDivide(Cast(c, LongType), Literal(1000L)))
    }
  }
}

/** graft's one `spark.sql.extensions` entry point
  * (`core.Sessions.configure` names it). It installs:
  *  - [[MachTime.Coerce]], a resolution rule (datetime-as-int64 SQL);
  *  - [[SmallSort]], an AQE query-stage preparation rule (a global sort
  *    over a small input sorts in one task, with no range exchange).
  * Rollup routing is an optimizer rule that `Sessions.installRules`
  * adds per session through `experimental.extraOptimizations`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => MachTime.Coerce)
    ext.injectQueryStagePrepRule(_ => SmallSort)
  }
}
