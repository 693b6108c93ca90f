package graft.plans

import graft.functions.GeoPredicate
import graft.operators.SpatialJoin
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ColumnShim

/**
 * Logical rewrite of SQL spatial joins, mirroring the reference's
 * RangeJoinSpatialPredicateRewriter (core/optimizer_rules.cpp:33-279):
 * `a JOIN b ON ST_Intersects(a.g, b.g)` would otherwise execute as a
 * BroadcastNestedLoopJoin (quadratic — the Spark analog of the
 * blockwise-NL join the reference avoids). We rewrite it to the grid
 * decomposition of [[SpatialJoin]]: explode to covering cells,
 * equi-join on cell, reference-point dedup, exact predicate.
 *
 * The rewrite only fires when the join has no equi-join conjunct (if
 * one exists, Spark already hash-partitions on it and the spatial
 * predicate is a cheap residual filter).
 *
 * Config: `spark.graft.spatialJoin.cellSize` (double; unset/<=0 → the
 * cell size is estimated at RUNTIME by one reused scalar subquery over
 * per-partition samples of both sides — never via a plan-time collect,
 * and with no Limit operator, whose generated code differs per plan
 * instance), `spark.graft.spatialJoin.enabled` (default true).
 */
case class SpatialJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get("spark.graft.spatialJoin.enabled", "true").toBoolean) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if j.resolved && !cond.exists(_.isInstanceOf[SubqueryExpression]) =>
        val cs = conjuncts(cond)
        // fire only on "pure" spatial joins (the reference rewrites
        // LogicalAnyJoin — optimizer_rules.cpp:48-80); a join that
        // already has cross-side equality (hash-partitionable) or
        // range conjuncts (incl. our own broadcast-path bbox filter)
        // executes fine without us
        val hasEqui = cs.exists {
          case c: org.apache.spark.sql.catalyst.expressions.BinaryComparison =>
            val (l, r) = (c.left, c.right)
            (refsOnly(l, left) && refsOnly(r, right)) || (refsOnly(l, right) && refsOnly(r, left))
          case _ => false
        }
        val spatialIdx = cs.indexWhere {
          case GeoPredicate(name, l, r) if SpatialJoin.supported.contains(name) =>
            (refsOnly(l, left) && refsOnly(r, right)) || (refsOnly(l, right) && refsOnly(r, left))
          case graft.functions.GeoScalar("st_dwithin", Seq(l, r, d)) if d.foldable =>
            (refsOnly(l, left) && refsOnly(r, right)) || (refsOnly(l, right) && refsOnly(r, left))
          case _ => false
        }
        if (hasEqui || spatialIdx < 0) j
        else {
          val (name, l, r, dist) = (cs(spatialIdx): @unchecked) match {
            case GeoPredicate(n, a, b) => (n, a, b, 0.0)
            case graft.functions.GeoScalar("st_dwithin", Seq(a, b, d)) =>
              val dv = d.eval(null) match {
                case n: java.lang.Number => n.doubleValue()
                case other => other.toString.toDouble
              }
              ("st_dwithin", a, b, dv)
          }
          val swapped = refsOnly(l, right)
          val (lExpr, rExpr) = if (swapped) (r, l) else (l, r)
          // st_within/contains/coveredby/covers are asymmetric: keep
          // orientation by mapping to the swapped predicate
          val pred = if (!swapped) name else name match {
            case "st_within" => "st_contains"
            case "st_contains" => "st_within"
            case "st_coveredby" => "st_covers"
            case "st_covers" => "st_coveredby"
            case "st_containsproperly" => "st_within" // conservative: exact filter below re-checks
            case sym => sym
          }
          val rest = cs.patch(spatialIdx, Nil, 1)
          val cellSize = spark.conf.get("spark.graft.spatialJoin.cellSize", "0").toDouble
          val leftDf = ColumnShim.ofRows(spark, left)
          val rightDf = ColumnShim.ofRows(spark, right)
          // driverSample=false: with no configured cell size the
          // estimator is embedded as a scalar subquery instead of a
          // collect() — a Spark job inside logical optimization would
          // block planning and re-enter the optimizer at scale
          val joined = SpatialJoin.join(
            leftDf, rightDf,
            ColumnShim.column(lExpr), ColumnShim.column(rExpr),
            if (pred == "st_containsproperly") "st_intersects" else pred,
            cellSize = cellSize, distance = dist, driverSample = false)
          val exactRecheck: Seq[Expression] =
            if (name == "st_containsproperly" || pred == "st_containsproperly") Seq(cs(spatialIdx)) else Nil
          val base = joined.queryExecution.analyzed
          val remaining = (rest ++ exactRecheck).reduceOption(And)
          val out = remaining match {
            case Some(f) => org.apache.spark.sql.catalyst.plans.logical.Filter(remapRefs(f, j, base), base)
            case None => base
          }
          // preserve original output attribute ids: alias each (possibly
          // re-aliased) grid-join output column back to the id the rest
          // of the plan references
          val projectList = j.output.zip(base.output).map { case (orig, nb) =>
            if (nb.exprId == orig.exprId) orig
            else org.apache.spark.sql.catalyst.expressions.Alias(nb, orig.name)(
              exprId = orig.exprId, qualifier = orig.qualifier)
          }
          org.apache.spark.sql.catalyst.plans.logical.Project(projectList, out)
        }
    }
  }

  /** The grid join's output is the original join's columns in order
   *  (left then right, helper columns dropped), but attribute ids may
   *  have been re-aliased (e.g. by Spark's self-join dedup of `a JOIN
   *  a`). Remap positionally (orig output i → base output i), falling
   *  back to id identity for non-output refs. */
  private def remapRefs(e: Expression, orig: Join, base: LogicalPlan): Expression = {
    require(base.output.length == orig.output.length,
      s"grid join output arity ${base.output.length} != original ${orig.output.length}")
    val idMap = orig.output.map(_.exprId).zip(base.output).toMap
    e.transform { case a: Attribute => idMap.getOrElse(a.exprId, a) }
  }
}

/** Session extension installer: functions + optimizer rules.
 *  Usage: spark.sql.extensions=graft.plans.GraftExtensions
 *  (or `Graft.install(spark)` on an existing session). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.functions._

  override def apply(e: SparkSessionExtensions): Unit = {
    GeoOps.ops.keys.foreach { name =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), exprs => GeoScalar(name, exprs)))
    }
    graft.Graft.predicateNames.foreach { name =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), exprs => GeoPredicate(name, exprs(0), exprs(1))))
    }
    e.injectFunction((FunctionIdentifier("st_extent_agg"),
      new ExpressionInfo("graft", "st_extent_agg"), exprs => StExtentAgg(exprs.head)))
    e.injectFunction((FunctionIdentifier("st_union_agg"),
      new ExpressionInfo("graft", "st_union_agg"), exprs => StUnionAgg(exprs.head)))
    e.injectFunction((FunctionIdentifier("st_intersection_agg"),
      new ExpressionInfo("graft", "st_intersection_agg"), exprs => StIntersectionAgg(exprs.head)))
    e.injectOptimizerRule(spark => NativeDispatchRule(spark))
    e.injectOptimizerRule(spark => SpatialJoinRule(spark))
    e.injectOptimizerRule(spark => SpatialFilterRule(spark))
  }
}
