package graft.matview

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSeq, Cast, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Automatic materialized-view substitution — a Catalyst optimizer rule
  * that replaces any query subtree computing the same result as a
  * registered MV's defining plan with a scan of the persisted MV.
  *
  * The reference performs this rewrite manually: the author re-targets Q4's
  * queries at sales/View1/View2/View3 and reasons about grouping
  * compatibility and data sufficiency by hand (assignment-5.sql:328–469;
  * SURVEY §4 "Manual view selection — automating it would need a custom
  * Rule"). This is that rule, scoped to exact-equivalence: subtree match is
  * decided by Catalyst's own `LogicalPlan.sameResult` (canonicalized plan
  * equality), so there are no false positives — the subtree provably
  * computes the MV's exact relation. Partial/containment rewrites (e.g.
  * answering a coarser GROUP BY from a finer MV) stay the author's job, as
  * in the reference.
  *
  * Injection: `spark.experimental.extraOptimizations` — no session rebuild
  * needed; [[Materializer.enableAutoRewrite]] wires it. At scale the win is
  * the reference's own Q4 lesson: the rewritten plan reads a small
  * pre-aggregated parquet relation instead of re-running the fact join.
  */
final class MvRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  /** name -> (defining plan analyzed, persisted relation plan). Guarded
    * by this rule's monitor: MVs are (de)registered from concurrent
    * creates while other threads optimize queries through the rule. */
  private val registry = mutable.LinkedHashMap.empty[String, (LogicalPlan, () => LogicalPlan)]

  def register(name: String, defining: DataFrame, read: () => DataFrame): Unit = {
    // store the OPTIMIZED defining plan: extraOptimizations run after the
    // main optimizer batches, so subtrees arrive post-pruning/pushdown and
    // must be compared in the same normal form
    val plan = defining.queryExecution.optimizedPlan
    synchronized { registry(name) = (plan, () => read().queryExecution.analyzed) }
  }

  def deregister(name: String): Unit = synchronized { registry.remove(name) }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val entries = synchronized(registry.values.toList)
    if (entries.isEmpty) plan
    else plan.transformUp {
      case subtree =>
        exactSubstitution(entries, subtree).getOrElse(subtree match {
          case agg: Aggregate => bestContainment(entries, agg).getOrElse(agg)
          case other => other
        })
    }
  }

  private type Entry = (LogicalPlan, () => LogicalPlan)

  /** Exact-equivalence substitution: first registered MV whose defining
    * plan sameResult-matches the subtree. */
  private def exactSubstitution(entries: Seq[Entry],
      subtree: LogicalPlan): Option[LogicalPlan] =
    entries.collectFirst {
      case (defining, readRelation) if subtree.sameResult(defining) =>
        val relation = readRelation()
        // map the MV relation's output attributes onto the subtree's
        // expected output (same schema by sameResult; ids differ)
        val projections: Seq[NamedExpression] =
          subtree.output.zip(relation.output).map { case (want, have) =>
            Alias(have, want.name)(exprId = want.exprId,
              qualifier = want.qualifier)
          }
        Project(projections, relation)
    }

  /** Containment rewrite over ALL registered MVs; when several can answer
    * the aggregate, pick the cheapest by the optimizer's own size
    * estimate (a pre-aggregated MV beats a denormalized one). Size ties
    * break by the MV's GRAIN — fewer grouping columns = coarser = fewer
    * stored rows (the reference's own View2-over-View1 reasoning): at
    * kilobyte scale two MVs' parquet sizes are footer-dominated and can
    * tie exactly, and a registration-order pick would be arbitrary. */
  private def bestContainment(entries: Seq[Entry],
      agg: Aggregate): Option[LogicalPlan] = {
    val candidates = entries.flatMap { case (defining, read) =>
      rollupFromMv(agg, defining, read).map { p =>
        val grain = defining match {
          case a: Aggregate => a.groupingExpressions.size
          case _ => Int.MaxValue
        }
        (p, grain)
      }
    }.toSeq
    if (candidates.isEmpty) None
    else {
      Some(candidates.minBy { case (p, grain) =>
        (try p.stats.sizeInBytes catch { case _: Throwable => BigInt(Long.MaxValue) },
          grain)
      }._1)
    }
  }

  /** Containment rewrite: answer `Aggregate(g2, a2, base')` from an MV
    * defined as `Aggregate(g1, a1, base)` when base' computes base, g2 is a
    * subset of g1, and every aggregate in a2 re-aggregates one stored in a1
    * (sum->sum of sums, count(*)->sum of counts, min->min, max->max — the
    * algebra the reference proves re-aggregable, assignment-5.md:160–187;
    * averages deliberately unsupported). The reference's Q4 does exactly
    * this by hand against View2/View3.
    */
  /** Normalize an Aggregate against optimizer artifacts under it: child
    * Projects are folded away — bare attributes pass through, alias
    * definitions (extracted grouping expressions like
    * `year(x) AS _groupingexpression`) are inlined back into the
    * grouping/aggregate expressions — so both sides compare against the
    * same underlying relation regardless of pruning/extraction. */
  private def inlineChildProjects(agg: Aggregate): Aggregate = agg.child match {
    case Project(plist, grandchild)
        if plist.forall(ne => ne.isInstanceOf[Attribute] || ne.isInstanceOf[Alias]) =>
      val subs: Map[Long, Expression] = plist.collect {
        case a: Alias => a.exprId.id -> a.child
      }.toMap
      def sub(e: Expression): Expression = e.transformUp {
        case ar: Attribute if subs.contains(ar.exprId.id) => subs(ar.exprId.id)
      }
      // Top-level outputs must keep their identity: an output Attribute
      // whose substitution is a different expression (renamed column or a
      // computed alias body) is re-wrapped under its ORIGINAL name and
      // exprId — ancestors reference that id, and the substituted body
      // need not even be a NamedExpression.
      val newAggExprs = agg.aggregateExpressions.map { ne =>
        sub(ne) match {
          case n: NamedExpression if n.exprId == ne.exprId => n
          case e => Alias(e, ne.name)(exprId = ne.exprId,
            qualifier = ne.qualifier)
        }
      }
      inlineChildProjects(agg.copy(
        groupingExpressions = agg.groupingExpressions.map(sub),
        aggregateExpressions = newAggExprs,
        child = grandchild))
    case _ => agg
  }

  /** Strip column-pruning Projects (attribute-only) so differently-pruned
    * plans over the same relation still compare equal. */
  private def stripPruning(p: LogicalPlan): LogicalPlan = p match {
    case Project(ps, child) if ps.forall(_.isInstanceOf[Attribute]) =>
      stripPruning(child)
    case other => other
  }

  private def rollupFromMv(
      query0: Aggregate,
      defining: LogicalPlan,
      readRelation: () => LogicalPlan): Option[LogicalPlan] = defining match {
    case mvAgg: Aggregate =>
      val mv = inlineChildProjects(mvAgg)
      val query = inlineChildProjects(query0)
      val a1 = mv.aggregateExpressions
      val base = stripPruning(mv.child)
      // filter containment: Aggregate(Filter(pred, base')) answers from
      // the MV when pred maps onto stored grouping columns (the filter
      // then runs over the MV's — far smaller — grouped relation)
      val (qchild, qfilter) = stripPruning(query.child) match {
        case Filter(cond, fc) => (stripPruning(fc), Some(cond))
        case c => (c, None)
      }
      if (!qchild.sameResult(base)) return None
      // canonical form of an expression relative to its plan's input
      def canon(e: Expression, input: Seq[Attribute]): Expression =
        QueryPlan.normalizeExpressions(e, AttributeSeq(input)).canonicalized
      val baseIn = base.output
      val queryIn = qchild.output
      val relation = readRelation()
      // position i of a1  <->  relation.output(i)
      def findStored(pred: Expression => Boolean): Option[Attribute] =
        a1.zipWithIndex.collectFirst {
          case (Alias(child, _), i) if pred(child) => relation.output(i)
          case (a: Attribute, i) if pred(a) => relation.output(i)
        }
      // Only aggregate-free stored outputs are addressable as grouping
      // values: a stored aggregate column is valid to read directly only
      // at the MV's own grain (the exact-substitution path) — mapping it
      // from inside a coarser Aggregate would reference a non-grouping
      // column outside any aggregate function.
      def storedGroup(e2: Expression): Option[Attribute] =
        if (e2.exists(_.isInstanceOf[AggregateExpression])) None
        else findStored(e1 =>
          !e1.exists(_.isInstanceOf[AggregateExpression]) &&
            canon(e1, baseIn) == canon(e2, queryIn))
      def storedAgg(pred: AggregateExpression => Boolean): Option[Attribute] =
        findStored {
          case ae: AggregateExpression => pred(ae)
          case _ => false
        }

      /** Re-aggregate one aggregate call from stored measures; inserts a
        * cast when re-aggregation widens the type (sum of decimal sums),
        * which is value-safe — the total provably fits the query's own
        * output type. */
      def rewriteAggFn(ae: AggregateExpression): Option[Expression] = {
        if (ae.isDistinct || ae.filter.nonEmpty) return None
        val re: Option[Expression] = ae.aggregateFunction match {
          case Sum(x, _) =>
            storedAgg(_.aggregateFunction match {
              case Sum(x1, _) => canon(x1, baseIn) == canon(x, queryIn)
              case _ => false
            }).map(m => Sum(m).toAggregateExpression())
          case Count(Seq(l)) if l.foldable =>
            // count(*) over ZERO rows is 0, but sum(stored_n) over zero MV
            // groups is NULL — reachable as a GLOBAL rollup whose filter
            // matches nothing. Coalesce restores the exact count
            // semantics, but ONLY on the global shape: a grouped rollup
            // never sees an empty group (a group exists iff rows do), and
            // wrapping the grouped form would break MV-on-MV chaining —
            // a stored coalesce(sum(n), 0) column no longer pattern-
            // matches as a re-aggregable Sum, which is exactly how a
            // coarser MV whose defining was captured over a finer MV
            // serves later queries (matview_cost_choice's narrow path).
            storedAgg(_.aggregateFunction match {
              case Count(Seq(l1)) => l1.foldable
              case _ => false
            }).map { m =>
              val s = Sum(m).toAggregateExpression()
              if (query.groupingExpressions.isEmpty)
                org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(s,
                  org.apache.spark.sql.catalyst.expressions.Literal(0L)))
              else s
            }
          case Min(x) =>
            storedAgg(_.aggregateFunction match {
              case Min(x1) => canon(x1, baseIn) == canon(x, queryIn)
              case _ => false
            }).map(m => Min(m).toAggregateExpression())
          case Max(x) =>
            storedAgg(_.aggregateFunction match {
              case Max(x1) => canon(x1, baseIn) == canon(x, queryIn)
              case _ => false
            }).map(m => Max(m).toAggregateExpression())
          // stored SKETCHES re-aggregate by their merge operator — the
          // merged sketch is bit-identical to a one-shot sketch over the
          // base rows, so these are the rewrites where the MV stores a
          // sketch, not row aggregates: the add-merge counter vectors
          // (quantile histogram, CMS) by element-wise sum, the KMV
          // minima set by k-bounded union.
          // The COUNTER sketches (quantile/CMS/HLL) are gated to grouped
          // rollups: over ZERO input rows the original sketch evaluates
          // to its fixed-geometry zero vector while VecSum/VecMax's empty
          // sentinel evaluates to [], so a GLOBAL rollup whose filter
          // matches nothing would diverge. KMV is exempt — its empty
          // sketch IS the empty array on both paths.
          case qs: graft.functions.QuantileSketchAgg
              if query.groupingExpressions.nonEmpty =>
            storedAgg(_.aggregateFunction match {
              case q1: graft.functions.QuantileSketchAgg =>
                canon(q1.child, baseIn) == canon(qs.child, queryIn)
              case _ => false
            }).map(m =>
              graft.functions.VecSumAgg(m).toAggregateExpression())
          case cs: graft.functions.CmsAgg
              if query.groupingExpressions.nonEmpty =>
            storedAgg(_.aggregateFunction match {
              case c1: graft.functions.CmsAgg =>
                // geometry must match: summing counters of different
                // (seeds, width) grids would be silent garbage
                c1.seeds == cs.seeds && c1.width == cs.width &&
                  canon(c1.child, baseIn) == canon(cs.child, queryIn)
              case _ => false
            }).map(m =>
              graft.functions.VecSumAgg(m).toAggregateExpression())
          case ks: graft.functions.KmvAgg =>
            storedAgg(_.aggregateFunction match {
              case k1: graft.functions.KmvAgg => k1.k == ks.k &&
                canon(k1.child, baseIn) == canon(ks.child, queryIn)
              case _ => false
            }).map(m =>
              graft.functions.KmvUnionAgg(m, ks.k).toAggregateExpression())
          // ... and the max-merge HLL registers by element-wise max
          case hs: graft.functions.HllAgg
              if query.groupingExpressions.nonEmpty =>
            storedAgg(_.aggregateFunction match {
              case h1: graft.functions.HllAgg => h1.p == hs.p &&
                canon(h1.child, baseIn) == canon(hs.child, queryIn)
              case _ => false
            }).map(m =>
              graft.functions.VecMaxAgg(m).toAggregateExpression())
          case _ => None
        }
        re.map(r => if (r.dataType == ae.dataType) r else Cast(r, ae.dataType))
      }

      /** Rewrite a whole output expression: aggregate calls re-aggregate,
        * any subexpression matching a stored grouping column maps to it
        * (including derived groupings like year(g) over a date-grained
        * MV), and remaining scalar structure is preserved. Covers
        * composites like sum(x)/count(*) — the exact-average shape. */
      def rewriteTree(e: Expression): Option[Expression] = e match {
        case ae: AggregateExpression => rewriteAggFn(ae)
        case other =>
          storedGroup(other).orElse(other match {
            case _: Attribute => None
            case leaf if leaf.children.isEmpty => Some(leaf)
            case _ =>
              val kids = other.children.map(rewriteTree)
              if (kids.exists(_.isEmpty)) None
              else Some(other.withNewChildren(kids.map(_.get)))
          })
      }

      val g2Mapped = query.groupingExpressions.map(rewriteTree)
      if (g2Mapped.exists(_.isEmpty)) return None

      val rewritten: Seq[Option[NamedExpression]] = query.aggregateExpressions.map {
        case a: Attribute =>
          storedGroup(a).map(m => Alias(m, a.name)(exprId = a.exprId))
        case al @ Alias(child, name) =>
          rewriteTree(child).map(e =>
            Alias(e, name)(exprId = al.exprId, qualifier = al.qualifier))
        case _ => None
      }
      if (rewritten.exists(_.isEmpty)) return None

      val mappedFilter = qfilter.map(rewriteTree)
      if (mappedFilter.exists(_.isEmpty)) return None

      val newChild = mappedFilter.flatten
        .map(pred => Filter(pred, relation): LogicalPlan)
        .getOrElse(relation)
      val newAgg = Aggregate(g2Mapped.map(_.get), rewritten.map(_.get), newChild)
      // type guard: the rewritten output must match exactly; bail out
      // when a cast could not reconcile it
      val ok = newAgg.output.zip(query.output).forall { case (n, o) =>
        n.dataType == o.dataType
      }
      if (ok) Some(newAgg) else None
    case _ => None
  }
}

object MvRewrite {
  private val active = mutable.Map.empty[SparkSession, MvRewrite]

  /** Install (idempotently) the rewrite rule on this session and return it. */
  def forSession(spark: SparkSession): MvRewrite =
    active.getOrElseUpdate(spark, {
      val rule = new MvRewrite(spark)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
      rule
    })
}
