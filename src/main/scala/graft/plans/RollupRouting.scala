package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pre-aggregation routing: rewrite time-bucket aggregates over a raw tag
  * table onto its engine-maintained rollup table when the requested
  * bucket is a multiple of the rollup period — the optimization the
  * reference performs in its API layer via ROLLUP hints + DATE_TRUNC
  * (machbase/neo-server mods/server/http_lake.go:1692-1716, V$ROLLUP
  * spi/show.go:1209-1222), expressed as a Catalyst `Rule[LogicalPlan]`
  * so EVERY query shape benefits, not just one endpoint.
  *
  * A rollup table (built by `Lake.rollup` / maintained by
  * `Watch.rollupStream`) has schema
  * `(name, time_ns, min_value, max_value, sum_value, sumsq_value, cnt)`
  * at some period R. An aggregate
  *   `GROUP BY name, ts - ts % P` with P a multiple of R, aggregating
  *   min/max/sum/count/avg over the raw value column,
  * is answered from the rollup by merging partials:
  *   min→min(min_value), max→max(max_value), sum→sum(sum_value),
  *   count→sum(cnt), avg→sum(sum_value)/sum(cnt), sumsq→sum(sumsq_value).
  *
  * TIERS: a raw table may register several rollups (the reference keeps
  * SEC/MIN/HOUR tiers per tag table, spi/show.go:1209-1222); the rule
  * picks the COARSEST registered period that divides the requested
  * bucket and validates, so a day-bucket query reads the HOUR rollup
  * (24 rows/tag/day), not the SEC one (86,400).
  *
  * FRESHNESS: a rollup maintained by a stream trails the raw table. A
  * registered horizon H (max rolled-up time, `setHorizon`) makes the
  * rewrite exact on fresh data: closed buckets (< H floored to R) come
  * from the rollup, and the raw tail (≥ that floor) is unioned in as
  * synthesized per-row partials that the same merge aggregates — the
  * reference routes only closed intervals to rollups for the same
  * reason (mods/server/http_lake.go:1692-1716). Without a horizon the
  * rollup is trusted as complete (a static batch build).
  *
  * Conservative by design: the rewrite fires only when the child is the
  * bare registered relation (optionally under Project/Filter) and every
  * aggregate/grouping matches a supported shape; otherwise the plan is
  * untouched.
  */
object RollupRouting {
  /** Registered rollup tier: rollup parquet path + period + raw columns. */
  case class Spec(rollupPath: String, periodNs: Long,
                  nameCol: String, timeCol: String, valueCol: String)

  private val catalog = TrieMap.empty[String, Vector[Spec]]
  /** rollupPath → max rolled-up time in ns (exclusive coverage bound). */
  private val horizons = TrieMap.empty[String, Long]

  /** Register a rollup tier for a raw table path (repeated calls with
    * distinct periods build the tier ladder; same period REPLACES —
    * one rollup per (table, period), the engine's own contract, and the
    * determinism anchor: whoever registered last owns that period, so a
    * query that registers its tier immediately before running always
    * routes through it regardless of what other code registered
    * earlier in the process).
    * Paths are compared by Hadoop-qualified root path string suffix.
    *
    * `initialHorizonNs`: for a STREAM-maintained rollup, pass the last
    * known coverage bound (e.g. the persisted one via [[load]]) so the
    * rollup is never routed horizonless between register() and the
    * maintainer's first non-empty batch — a horizonless rollup is
    * trusted as complete, which silently drops fresh raw rows. */
  def register(rawPath: String, spec: Spec,
               initialHorizonNs: Option[Long] = None): Unit = {
    catalog.updateWith(normalize(rawPath)) {
      case Some(v) => Some(v.filterNot(_.periodNs == spec.periodNs) :+ spec)
      case None => Some(Vector(spec))
    }
    initialHorizonNs.foreach(setHorizon(spec.rollupPath, _))
  }

  /** Declare how far the rollup at `rollupPath` has been maintained:
    * raw records with ts < `maxRolledNs` are fully reflected in it.
    * Streaming maintainers (Watch.rollupStream foreachBatch) advance
    * this per batch; queries spanning past it union in the raw tail. */
  def setHorizon(rollupPath: String, maxRolledNs: Long): Unit =
    horizons.put(normalize(rollupPath), maxRolledNs)

  def horizonOf(rollupPath: String): Option[Long] =
    horizons.get(normalize(rollupPath))

  def clear(): Unit = { catalog.clear(); horizons.clear() }

  private def normalize(p: String): String = p.stripSuffix("/")

  // ---- durable routing metadata --------------------------------------
  // The registry and horizon above are process-local; the rollup parquet
  // is not. A restarted session that re-reads the rollup without its
  // routing metadata either doesn't route (registry gone) or routes
  // WRONGLY (horizon gone → stream-maintained rollup trusted as
  // complete). So the metadata persists next to the artifact — the same
  // train-once/load-everywhere contract as Ivf.save/Pq.save — in an
  // underscore-prefixed sidecar that parquet directory readers ignore.

  /** Sidecar file name inside the rollup directory. */
  val MetaFile = "_graft_rollup.json"

  private def fsPath(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  /** Persist the routing metadata for the tier at `spec.rollupPath`
    * (its raw table, period, columns, and current horizon if any) into
    * `<rollupPath>/_graft_rollup.json`. Cheap (one small FS write, no
    * Spark job) — stream maintainers call it every batch commit. */
  def save(spark: SparkSession, rawPath: String, spec: Spec): Unit = {
    import scala.collection.mutable.LinkedHashMap
    val m = LinkedHashMap[String, Any](
      "version" -> 1L,
      "rawPath" -> normalize(rawPath),
      "periodNs" -> spec.periodNs,
      "nameCol" -> spec.nameCol,
      "timeCol" -> spec.timeCol,
      "valueCol" -> spec.valueCol)
    horizons.get(normalize(spec.rollupPath))
      .foreach(h => m("horizonNs") = h)
    val (fs, dir) = fsPath(spark, spec.rollupPath)
    val meta = new org.apache.hadoop.fs.Path(dir, MetaFile)
    val tmp = new org.apache.hadoop.fs.Path(dir, MetaFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(graft.script.Builtins.jsonStringify(m).toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(meta, false)
    if (!fs.rename(tmp, meta))
      throw new java.io.IOException(s"cannot publish $meta")
  }

  /** Restore the routing metadata persisted at `rollupPath`: registers
    * the tier (building the ladder if other tiers were already loaded)
    * and restores its horizon. Returns the registered spec. */
  def load(spark: SparkSession, rollupPath: String): Spec = {
    val (fs, dir) = fsPath(spark, rollupPath)
    val meta = new org.apache.hadoop.fs.Path(dir, MetaFile)
    require(fs.exists(meta), s"no $MetaFile at $rollupPath")
    val in = fs.open(meta)
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val m = graft.script.Builtins.jsonParse(text)
      .asInstanceOf[scala.collection.Map[String, Any]]
    def str(k: String): String = m.get(k) match {
      case Some(s: String) => s
      case other => throw new IllegalArgumentException(s"bad $MetaFile field $k: $other")
    }
    def lng(k: String): Option[Long] = m.get(k) match {
      case Some(l: Long) => Some(l)
      case Some(l: java.lang.Long) => Some(l)
      case Some(d: Double) => Some(d.toLong)
      case _ => None
    }
    val spec = Spec(normalize(rollupPath), lng("periodNs").getOrElse(
      throw new IllegalArgumentException(s"bad $MetaFile: periodNs missing")),
      str("nameCol"), str("timeCol"), str("valueCol"))
    register(str("rawPath"), spec, lng("horizonNs"))
    spec
  }

  private def specsFor(rel: LogicalRelation): Vector[Spec] = rel.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.headOption.map { root =>
        val s = root.toString
        catalog.collect {
          case (path, specs) if s == path || s.endsWith(path) => specs
        }.flatten.toVector
      }.getOrElse(Vector.empty)
    case _ => Vector.empty
  }

  /** An epoch-ns view of a time column, in any of the encodings the
    * engine's `Q.tsNs` kernel emits: a raw ns-int64 attribute, or
    * `unix_micros([cast](µs-timestamp attr)) * 1000` for (N)TZ-typed
    * parquet. Yields the underlying relation attribute. */
  private object TsNsExpr {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute if a.dataType == LongType => Some(a)
      case Multiply(UnixMicros(inner), Literal(1000L, _), _) => strip(inner)
      case Multiply(Literal(1000L, _), UnixMicros(inner), _) => strip(inner)
      case _ => None
    }
    private def strip(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case Cast(c, _, _, _) => strip(c)
      case _ => None
    }
  }

  /** The bucket shape our kernel emits: (t - pmod(t, P)) [cast long]. */
  private object BucketExpr {
    def unapply(e: Expression): Option[(Attribute, Long)] = strip(e) match {
      case Subtract(TsNsExpr(t1), Pmod(TsNsExpr(t2), Literal(p: Long, _), _), _)
        if t1.semanticEquals(t2) => Some((t1, p))
      case _ => None
    }
    private def strip(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => strip(c)
      case a: Alias => strip(a.child)
      case other => other
    }
  }

  /** A time-bound literal comparison in epoch-ns, from either encoding:
    * `tsNs(t) <op> nsLiteral` or `t <op> timestampLiteral` (timestamp
    * literals carry epoch-µs internally; exact at the ns grid the
    * rollup periods live on).
    *
    * An NTZ literal carries WALL-CLOCK µs, not epoch µs — treating it as
    * epoch is only correct when the session timezone is UTC, so the NTZ
    * branch is gated on `ntzIsUtc` (a non-UTC session simply doesn't
    * route that filter shape; the plan is left untouched, never wrong). */
  private object TimeBound {
    def extract(p: (Expression, Expression),
                ntzIsUtc: Boolean): Option[(Attribute, Long)] = p match {
      case (TsNsExpr(t), Literal(v: Long, LongType)) => Some((t, v))
      case (t: Attribute, Literal(us: Long, TimestampType)) =>
        Some((t, us * 1000L))
      case (t: Attribute, Literal(us: Long, TimestampNTZType)) if ntzIsUtc =>
        Some((t, us * 1000L))
      case _ => None
    }
  }

  class Route(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (catalog.isEmpty) return plan
      plan.transformUp {
        case agg @ Aggregate(groupings, aggExprs, child, _) =>
          tryRewrite(groupings, aggExprs, child).getOrElse(agg)
      }
    }

    /** Peel Project/Filter/SubqueryAlias down to a registered relation,
      * keeping the alias definitions the optimizer pulled out of the
      * groupings (PullOutGroupingExpressions) and any Filter conjuncts
      * (validated later for rollup-safety). */
    private def baseRelation(p: LogicalPlan,
                             aliases: Map[ExprId, Expression] = Map.empty,
                             filters: Seq[Expression] = Nil)
        : Option[(LogicalRelation, Vector[Spec], Map[ExprId, Expression], Seq[Expression])] = p match {
      case rel: LogicalRelation =>
        val specs = specsFor(rel)
        if (specs.isEmpty) None else Some((rel, specs, aliases, filters))
      case Project(projList, child) =>
        val newAliases = aliases ++ projList.collect {
          case a @ Alias(e, _) => a.exprId -> e
        }
        if (projList.forall(e => e.isInstanceOf[Attribute] || e.isInstanceOf[Alias]))
          baseRelation(child, newAliases, filters)
        else None
      case Filter(cond, child) =>
        baseRelation(child, aliases, filters ++ splitConj(cond))
      case SubqueryAlias(_, child) => baseRelation(child, aliases, filters)
      case _ => None
    }

    private def splitConj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitConj(l) ++ splitConj(r)
      case other => Seq(other)
    }

    private def tryRewrite(groupings: Seq[Expression],
                           aggExprs: Seq[NamedExpression],
                           child: LogicalPlan): Option[LogicalPlan] = {
      val (rel, specs, aliases, filters) = baseRelation(child) match {
        case Some(x) => x
        case None => return None
      }
      // coarsest dividing tier wins: a day bucket over SEC/MIN/HOUR tiers
      // reads the HOUR rollup (fewest partials); finer tiers are the
      // fallback when the coarse one doesn't divide or validate
      specs.sortBy(-_.periodNs).iterator
        .map(spec => rewriteWith(spec, rel, aliases, filters, groupings, aggExprs))
        .collectFirst { case Some(p) => p }
    }

    /** Build the epoch-ns expression for a raw time attribute (inverse of
      * TsNsExpr, for the raw-tail side of a freshness union). */
    private def tsNsOf(a: Attribute): Option[Expression] = a.dataType match {
      case LongType => Some(a)
      case TimestampType => Some(Multiply(UnixMicros(a), Literal(1000L)))
      case TimestampNTZType => Some(Multiply(
        UnixMicros(Cast(a, TimestampType, Some(conf.sessionLocalTimeZone))),
        Literal(1000L)))
      case _ => None
    }

    private def rewriteWith(spec: Spec,
                            rel: LogicalRelation,
                            aliases: Map[ExprId, Expression],
                            filters: Seq[Expression],
                            groupings: Seq[Expression],
                            aggExprs: Seq[NamedExpression]): Option[LogicalPlan] = {
      def isCol(a: Attribute, name: String): Boolean = a.name == name
      // resolve an expression through the pulled-out aliases
      def deref(e: Expression): Expression = e match {
        case a: Attribute => aliases.getOrElse(a.exprId, a)
        case other => other
      }

      // groupings: the name column and/or ONE aligned time bucket
      var bucket: Option[(Attribute, Long)] = None // (grouping attr or null, period)
      var nameGroupAttr: Option[Attribute] = None
      val groupingsOk = groupings.forall { g =>
        (g, deref(g)) match {
          case (a: Attribute, na: Attribute) if isCol(na, spec.nameCol) =>
            nameGroupAttr = Some(a); true
          case (a: Attribute, BucketExpr(t, p))
            if isCol(t, spec.timeCol) && p % spec.periodNs == 0 && bucket.isEmpty =>
            bucket = Some((a, p)); true
          case (BucketExpr(t, p), _)
            if isCol(t, spec.timeCol) && p % spec.periodNs == 0 && bucket.isEmpty =>
            bucket = Some((null, p)); true
          case _ => false
        }
      }
      if (!groupingsOk || bucket.isEmpty) return None
      val period = bucket.get._2

      // Filters are routable iff every conjunct is (a) a name predicate,
      // (b) a time-range bound aligned to the rollup period — then
      // "raw ts in range" ⟺ "bucket start in range" — or (c) an
      // IsNotNull on the routed columns (vacuous on the rollup).
      sealed trait FPred
      case class TimeLo(ns: Long, inclusive: Boolean) extends FPred
      case class TimeHi(ns: Long, inclusive: Boolean) extends FPred
      case class NamePred(rebuild: Expression => Expression) extends FPred
      val ntzIsUtc = conf.sessionLocalTimeZone == "UTC"
      def timeBound(lhs: Expression, rhs: Expression) =
        TimeBound.extract((lhs, rhs), ntzIsUtc)
      val fpreds = filters.map { f =>
        f match {
          case IsNotNull(a: Attribute)
            if isCol(a, spec.timeCol) || isCol(a, spec.nameCol) || isCol(a, spec.valueCol) =>
            Some(NamePred(_ => Literal.TrueLiteral))
          case GreaterThanOrEqual(lhs, rhs) if timeBound(lhs, rhs)
            .exists { case (t, v) => isCol(t, spec.timeCol) && v % spec.periodNs == 0 } =>
            timeBound(lhs, rhs).map { case (_, v) => TimeLo(v, true) }
          case GreaterThan(lhs, rhs) if timeBound(lhs, rhs)
            .exists { case (t, v) => isCol(t, spec.timeCol) && (v + 1) % spec.periodNs == 0 } =>
            timeBound(lhs, rhs).map { case (_, v) => TimeLo(v + 1, true) }
          case LessThan(lhs, rhs) if timeBound(lhs, rhs)
            .exists { case (t, v) => isCol(t, spec.timeCol) && v % spec.periodNs == 0 } =>
            timeBound(lhs, rhs).map { case (_, v) => TimeHi(v, false) }
          case LessThanOrEqual(lhs, rhs) if timeBound(lhs, rhs)
            .exists { case (t, v) => isCol(t, spec.timeCol) && (v + 1) % spec.periodNs == 0 } =>
            timeBound(lhs, rhs).map { case (_, v) => TimeHi(v + 1, false) }
          case EqualTo(a: Attribute, l: Literal) if isCol(a, spec.nameCol) =>
            Some(NamePred(rn => EqualTo(rn, l)))
          case EqualTo(l: Literal, a: Attribute) if isCol(a, spec.nameCol) =>
            Some(NamePred(rn => EqualTo(rn, l)))
          case In(a: Attribute, vs) if isCol(a, spec.nameCol) && vs.forall(_.isInstanceOf[Literal]) =>
            Some(NamePred(rn => In(rn, vs)))
          case _ => None
        }
      }
      if (fpreds.exists(_.isEmpty)) return None

      // rollup relation + column handles
      val rPlan = graft.core.Tables.relation(spark, spec.rollupPath)
      val h = Seq("name", "time_ns", "min_value", "max_value", "sum_value",
        "sumsq_value", "cnt").map(n => n -> rPlan.output.find(_.name == n)).toMap
      if (h.values.exists(_.isEmpty)) return None
      val rName = h("name").get; val rTime = h("time_ns").get
      val rMin = h("min_value").get; val rMax = h("max_value").get
      val rSum = h("sum_value").get; val rSumSq = h("sumsq_value").get
      val rCnt = h("cnt").get

      // type guards: re-binding grouping/aggregate attrs must not change
      // output types (a rollup built with different column types bails)
      val rawName = rel.output.find(_.name == spec.nameCol)
      val rawValue = rel.output.find(_.name == spec.valueCol)
      if (rawName.exists(_.dataType != rName.dataType)) return None
      if (rawValue.exists(v => v.dataType != rMin.dataType ||
          v.dataType != rSum.dataType)) return None

      val newBucket = Cast(
        Subtract(rTime, Pmod(rTime, Literal(period))),
        LongType)

      // rollup-side filter from the validated conjuncts
      val rollupConds: Seq[Expression] = fpreds.flatten.flatMap {
        case TimeLo(v, _) => Some(GreaterThanOrEqual(rTime, Literal(v)))
        case TimeHi(v, _) => Some(LessThan(rTime, Literal(v)))
        case NamePred(rebuild) => rebuild(rName) match {
          case Literal.TrueLiteral => None
          case e => Some(e)
        }
      }
      val rSource: LogicalPlan =
        if (rollupConds.isEmpty) rPlan
        else Filter(rollupConds.reduce(And), rPlan)

      // FRESHNESS: with a horizon H, only R-buckets whose start lies
      // strictly below floor(H, R) are complete; the raw tail past that
      // floor joins the merge as synthesized per-row partials.
      val partials = Seq(rName, rTime, rMin, rMax, rSum, rSumSq, rCnt)
      val partialSrc: Option[LogicalPlan] = horizons.get(normalize(spec.rollupPath)) match {
        case None => Some(rSource) // static build: trusted as complete
        case Some(hNs) =>
          val hFloor = hNs - java.lang.Math.floorMod(hNs, spec.periodNs)
          val rawTimeAttr = rel.output.find(_.name == spec.timeCol)
          (rawTimeAttr, rawName, rawValue) match {
            case (Some(tA), Some(nA), Some(vA)) =>
              tsNsOf(tA).map { tNs =>
                val rollupSide = Project(partials,
                  Filter(LessThan(rTime, Literal(hFloor)), rSource))
                // pushdown-friendly bound when the raw column is a µs
                // timestamp and the floor sits on the µs grid. An NTZ
                // literal is wall-clock µs, so an NTZ column gets this
                // branch only in a UTC session (tsNsOf converts NTZ via
                // the session tz — a non-UTC zone would offset the tail
                // filter and drop/double-count rows near the horizon);
                // otherwise it falls through to the epoch-ns bound.
                val tailBound: Expression = tA.dataType match {
                  case TimestampType if hFloor % 1000L == 0 =>
                    GreaterThanOrEqual(tA, Literal(hFloor / 1000L, tA.dataType))
                  case TimestampNTZType if hFloor % 1000L == 0 &&
                      conf.sessionLocalTimeZone == "UTC" =>
                    GreaterThanOrEqual(tA, Literal(hFloor / 1000L, tA.dataType))
                  case _ => GreaterThanOrEqual(tNs, Literal(hFloor))
                }
                def cc(e: Expression, to: Attribute): Expression =
                  if (e.dataType == to.dataType) e
                  else Cast(e, to.dataType, Some(conf.sessionLocalTimeZone))
                // cnt mirrors the build's count(value): nulls contribute 0
                val one = If(IsNull(vA), Literal(0L), Literal(1L))
                val rawTail = Project(Seq(
                  Alias(cc(nA, rName), rName.name)(),
                  Alias(cc(tNs, rTime), rTime.name)(),
                  Alias(cc(vA, rMin), rMin.name)(),
                  Alias(cc(vA, rMax), rMax.name)(),
                  Alias(cc(vA, rSum), rSum.name)(),
                  Alias(cc(Multiply(vA, vA), rSumSq), rSumSq.name)(),
                  Alias(cc(one, rCnt), rCnt.name)()),
                  Filter((filters :+ tailBound).reduce(And), rel))
                Union(Seq(rollupSide, rawTail), byName = false,
                  allowMissingCol = false)
              }
            case _ => None
          }
      }
      if (partialSrc.isEmpty) return None

      // the project under the new Aggregate: re-bind the original grouping
      // attr ids onto rollup-derived expressions + pass rollup attrs for
      // the merged aggregates (Union keeps the first child's expr ids, so
      // the handles stay valid over both sources)
      val projOut = Seq.newBuilder[NamedExpression]
      nameGroupAttr.foreach(a => projOut += Alias(rName, a.name)(exprId = a.exprId))
      bucket.get._1 match {
        case null =>
        case a => projOut += Alias(newBucket, a.name)(exprId = a.exprId)
      }
      projOut ++= partials
      val newChild = Project(projOut.result(), partialSrc.get)

      def mergeAgg(fn: AggregateFunction): Option[Expression] = fn match {
        case Min(v: Attribute) if isCol(v, spec.valueCol) => Some(aggE(Min(rMin)))
        case Max(v: Attribute) if isCol(v, spec.valueCol) => Some(aggE(Max(rMax)))
        case Sum(v: Attribute, _) if isCol(v, spec.valueCol) => Some(aggE(Sum(rSum)))
        case Count(Seq(v: Attribute)) if isCol(v, spec.valueCol) => Some(aggE(Sum(rCnt)))
        case Count(Seq(Literal(_, _))) => Some(aggE(Sum(rCnt)))
        case Average(v: Attribute, _) if isCol(v, spec.valueCol) =>
          Some(Divide(aggE(Sum(rSum)), Cast(aggE(Sum(rCnt)), rSum.dataType)))
        case Sum(Multiply(a: Attribute, b: Attribute, _), _)
          if isCol(a, spec.valueCol) && isCol(b, spec.valueCol) =>
          Some(aggE(Sum(rSumSq)))
        case _ => None
      }

      val groupingAttrIds: Set[ExprId] =
        (nameGroupAttr.toSeq ++ Option(bucket.get._1).toSeq).map(_.exprId).toSet
      val rawAttrIds = rel.output.map(_.exprId).toSet

      var ok = true
      val newAggs = aggExprs.map { ne =>
        val rewritten = ne.transformUp {
          case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
            mergeAgg(ae.aggregateFunction).getOrElse { ok = false; ae }
          case ae: AggregateExpression => ok = false; ae
        }
        // after rewrite, no references to the raw relation may remain
        // except via the re-bound grouping attrs
        if (rewritten.references.exists(a =>
            rawAttrIds(a.exprId) && !groupingAttrIds(a.exprId))) ok = false
        rewritten.asInstanceOf[NamedExpression]
      }
      if (!ok) return None

      val newGroupings = groupings.map {
        case a: Attribute => a // re-bound via the project aliases
        case BucketExpr(_, p2) => Cast(
          Subtract(rTime, Pmod(rTime, Literal(p2))),
          LongType)
        case other => other
      }
      Some(Aggregate(newGroupings, newAggs, newChild))
    }

    private def aggE(fn: AggregateFunction): AggregateExpression =
      AggregateExpression(fn, Complete, isDistinct = false)
  }
}
