package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/** Transparent materialized-view rewrite: an optimizer rule that
  * replaces `Aggregate(groupCols, aggs, scan(source))` with a scan of
  * the registered summary table when [[MvCatalog]] holds a FRESH claim
  * covering exactly those grouping columns and every requested
  * aggregate — the query-acceleration half of incremental view
  * maintenance (the other half, keeping the summary current, is
  * [[graft.sinks.IncrementalAggView]]).
  *
  * At 100 TB this turns a full fact-table aggregation into a read of
  * an O(groups) rollup — the query text doesn't change, so every
  * dashboard on the base table accelerates the moment a view is
  * registered.
  *
  * Safety properties (each falls through to the base table, never a
  * wrong answer):
  *   - the source scan must sit directly under the aggregate, modulo
  *     the optimizer's column-pruning projection and at most one
  *     deterministic Filter over GROUP columns (such a predicate
  *     commutes with the grouping and re-applies over the view's group
  *     values); filters touching aggregated columns, computed
  *     projections, or anything else in between disqualify;
  *   - grouping expressions must be bare columns matching the
  *     registered set (order-insensitive); every aggregate must be
  *     non-DISTINCT, unfiltered, and structurally match a registered
  *     key — `sum/min/max(col)`, `count(*)`, `count(col)`, plus
  *     `avg(col)` derived as `sum(col)/count(col)` when BOTH parts are
  *     registered (legacy-mode division: an all-NULL group yields NULL
  *     exactly like the original avg);
  *   - replacement expressions must reproduce the original output
  *     types bit-for-bit and are re-aliased under the original
  *     exprIds, so parent operators resolve unchanged;
  *   - [[MvCatalog.freshEntry]] re-checks the source's file-listing
  *     fingerprint, so a source write after the last view refresh
  *     disables the rewrite instead of serving stale rows.
  */
object MvRewriteRule extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty || MvCatalog.isBypassed) plan
    else plan.transformUp {
      // bottom-up: a registered JOIN subtree rewrites first, then an
      // aggregate-view claim above can still match what remains
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        rewriteJoin(j).getOrElse(j)
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
      case f: Filter => rewriteTopK(f).getOrElse(f)
    }

  /** A rewrite source: the location a claim is registered under, the
    * source's column names and its residual filter. */
  private case class Src(loc: String, columns: Seq[String],
                         filter: Option[Expression])

  /** The source under the aggregate, looked through a pruning projection
    * of bare attributes (what ColumnPruning inserts) and at most one
    * deterministic, subquery-free Filter — predicates over group
    * columns commute with the grouping, so [[rewrite]] can re-apply
    * them over the view's group values. A source is a single-root
    * parquet scan, or a [[graft.sinks.LogMirror]] read of a mirror's
    * current segment set ([[graft.sinks.LogMirror.rootOfRead]]), whose
    * live-row filter then sits above the latest-per-key node. */
  private def sourceOf(plan: LogicalPlan): Option[Src] =
    plan match {
      case r: LogicalRelation =>
        locationOf(r).map(Src(_, r.output.map(_.name), None))
      // columns from the scans: column pruning may have narrowed the
      // node's own output
      case n: LatestPerKeyNode =>
        graft.sinks.LogMirror.rootOfRead(n).map(Src(_,
          n.collectLeaves().flatMap(_.output.map(_.name)).distinct, None))
      // bare-attribute pruning projections, plus IDENTITY aliases
      // (Alias(attr, attr.name)) — the shape [[rewriteJoin]] emits, so
      // an agg-view claim over a JOIN VIEW composes with the join
      // rewrite in the same pass (the chained star-rollup case)
      case Project(ps, child) if ps.forall {
        case _: AttributeReference => true
        case Alias(a: AttributeReference, name) => a.name == name
        case _ => false
      } => sourceOf(child)
      case Filter(cond, child)
        if cond.deterministic &&
          cond.find(_.isInstanceOf[PlanExpression[_]]).isEmpty =>
        sourceOf(child).flatMap(s =>
          if (s.filter.isEmpty) Some(s.copy(filter = Some(cond))) else None)
      case _ => None
    }

  private def locationOf(rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.toSeq match {
        case Seq(single) => Some(single.toString)
        case _ => None
      }
      case _ => None
    }

  private def aggKeyOf(fn: AggregateFunction): Option[MvCatalog.AggKey] =
    fn match {
      case s: Sum => s.child match {
        case a: AttributeReference => Some(("sum", a.name)); case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference => Some(("min", a.name)); case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference => Some(("max", a.name)); case _ => None
      }
      case c: Count => c.children match {
        case Seq(Literal(v, _)) if v != null => Some(("count", "*"))
        case Seq(a: AttributeReference) => Some(("count", a.name))
        case _ => None
      }
      case _ => None
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val spark = SparkSession.active
    for {
      src <- sourceOf(agg.child)
      entry <- MvCatalog.freshEntry(spark, MvCatalog.qualify(spark, src.loc))
      groupAttrs <- bareAttrs(agg.groupingExpressions)
      names = groupAttrs.map(_.name)
      if names.distinct == names && names.toSet.subsetOf(entry.groupCols.toSet)
      // filter handling: conjuncts the claim declares ABSORBED (the
      // predicate a maintained view is built under, e.g. live mirror
      // rows) are dropped — and the claim's core predicate must be
      // PRESENT, else the query reads rows the view doesn't hold; the
      // remaining conjuncts may only touch view group columns (they
      // commute with the grouping and re-apply over the view's group
      // values)
      conjuncts = src.filter.toSeq.flatMap(splitConjunctivePredicates)
      if entry.sourcePredicate.forall(_.satisfied(conjuncts))
      remaining = conjuncts.filterNot(c =>
        entry.sourcePredicate.exists(_.absorbs(c)))
      if remaining.forall(_.references.forall(a =>
        entry.groupCols.contains(a.name)))
      viewPlan = entry.view().queryExecution.analyzed
      child <- remaining match {
        case Nil => Some(viewPlan)
        case cs => rebind(cs.reduce(And), viewPlan).map(Filter(_, viewPlan))
      }
      result <-
        if (names.sorted == entry.groupCols.sorted)
          // exact grouping match: pure projection of the (filtered) view
          projection(agg.aggregateExpressions, names.toSet, entry, viewPlan)
            .map(p => Project(p, child))
        else
          // coarser grouping (strict subset, incl. a global aggregate):
          // re-aggregate the O(groups) view — sum of sums, min of mins,
          // count as sum of counts, avg from summed parts
          rollup(agg.aggregateExpressions, names.toSet, entry, viewPlan, child)
    } yield result
  }

  /** Replace a whole `fact ⋈ dim` inner equi-join subtree with its
    * registered row-grain join view (see [[MvCatalog.registerJoin]] —
    * the [[graft.sinks.IncrementalJoinView]] claim). Safety rules, each
    * a fallthrough:
    *   - both children must be scans of the registered (fact, dim)
    *     pair, modulo pruning projections and at most one deterministic
    *     filter per side; for an INNER equi-join, a single-side
    *     predicate commutes with the join (it filters (fact,dim) PAIRS
    *     exactly like filtering its side first), so the remaining
    *     conjuncts rebind by name over the view and re-apply above it;
    *   - the join condition must be exactly the registered same-named
    *     key equalities, nothing else;
    *   - every join output attribute must map to a view column of the
    *     same name and type; the dim-side KEY attribute maps to the
    *     view's single key column (equal on every inner-join row).
    *     Non-key name collisions across the two sides refuse the
    *     rewrite (name-based mapping would silently cross sides);
    *   - the replacement projects the view under the ORIGINAL join
    *     output exprIds, so parents resolve unchanged;
    *   - freshness per [[MvCatalog.freshJoinEntry]] (listing
    *     fingerprints of both dirs, or the registered version check) —
    *     a lagging view stops matching and the query falls through to
    *     the real join. */
  private def rewriteJoin(
      j: org.apache.spark.sql.catalyst.plans.logical.Join): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.Inner
    val spark = SparkSession.active
    if (j.joinType != Inner || j.condition.isEmpty) return None
    // try both orientations: the query may write dim.join(fact)
    val oriented = Seq((j.left, j.right, false), (j.right, j.left, true))
    oriented.view.flatMap { case (factSide, dimSide, _) =>
      for {
        srcF <- sourceOf(factSide)
        srcD <- sourceOf(dimSide)
        entry <- MvCatalog.freshJoinEntry(spark,
          MvCatalog.qualify(spark, srcF.loc), MvCatalog.qualify(spark, srcD.loc))
        // condition = exactly the registered same-named key equalities
        pairs <- keyPairs(j.condition.get, factSide, dimSide)
        if pairs.forall { case (f, d) => f.name == d.name } &&
          pairs.map(_._1.name).sorted == entry.joinKeys.sorted
        dimKeyIds = pairs.map(_._2.exprId).toSet
        viewPlan = entry.view().queryExecution.analyzed
        // every join output column must resolve uniquely in the view;
        // the dim-side key attr maps to the view's shared key column
        outNames = j.output.map(a =>
          if (dimKeyIds.contains(a.exprId))
            pairs.find(_._2.exprId == a.exprId).get._1.name
          else a.name)
        // unique mapping — except a key name may appear twice (the
        // fact-side and dim-side key attrs both map to the view's one
        // key column, which equals both on every inner-join row)
        if outNames.groupBy(identity).forall { case (n, occ) =>
          occ.size == 1 ||
            (occ.size == 2 && entry.joinKeys.contains(n))
        }
        mapped <- {
          val m = j.output.zip(outNames).map { case (a, n) =>
            viewPlan.output.find(v => v.name == n && v.dataType == a.dataType)
              .map(v => Alias(v, a.name)(exprId = a.exprId))
          }
          if (m.forall(_.isDefined)) Some(m.map(_.get)) else None
        }
        // per-side residual filters: claim-absorbed conjuncts drop, the
        // claim's core predicate must be present on BOTH sides, and the
        // rest rebinds over the view (sound for inner equi-joins)
        conjF = srcF.filter.toSeq.flatMap(splitConjunctivePredicates)
        conjD = srcD.filter.toSeq.flatMap(splitConjunctivePredicates)
        if entry.sourcePredicate.forall(p =>
          p.satisfied(conjF) && p.satisfied(conjD))
        remaining = (conjF ++ conjD).filterNot(c =>
          entry.sourcePredicate.exists(_.absorbs(c)) ||
            // IsNotNull on a join key is IMPLIED by the inner join the
            // view materializes (every view row joined on that key) —
            // the optimizer infers these from the join condition, and
            // carrying them as residual filters would block claims
            // stacked above (the star-rollup chain)
            (c match {
              case IsNotNull(a: AttributeReference) =>
                entry.joinKeys.contains(a.name)
              case _ => false
            }))
        // a filter column whose NAME exists on both scans (and is not a
        // shared key) would rebind ambiguously — refuse
        if remaining.forall(_.references.forall(a =>
          entry.joinKeys.contains(a.name) ||
            !(srcF.columns.contains(a.name) && srcD.columns.contains(a.name))))
        child <- remaining match {
          case Nil => Some(viewPlan)
          case cs => rebind(cs.reduce(And), viewPlan).map(Filter(_, viewPlan))
        }
      } yield Project(mapped, child): LogicalPlan
    }.headOption
  }

  /** Replace `Filter(rn <= n, Window(row_number over (partition, order),
    * scan(source)))` — the top-n-per-group query shape — with a read of
    * the registered leaderboard view (see [[MvCatalog.registerTopK]] —
    * the maintained-top-k claim). Safety rules, each a fallthrough:
    *   - exactly ONE window expression, and it must be `row_number()`
    *     (rank/dense_rank admit ties the bounded leaderboard never
    *     stores);
    *   - the partition columns must set-match and the ORDER must
    *     list-match the claim exactly, directions included — a
    *     different order is a different leaderboard;
    *   - the filter must bound the rank at some n ≤ k (`<=`, `<`, `=`
    *     against an integer literal); ALL conjuncts (the rank bound
    *     included) rebind over the view and re-apply — re-filtering
    *     stored 1..k ranks at n ≤ k is exact;
    *   - every output attribute must map to a view column of the same
    *     name and type (the rank attr maps to the claim's `rankCol`),
    *     re-aliased under the original exprIds;
    *   - scans with residual filters only rewrite when the claim's
    *     sourcePredicate absorbs them (a filtered source ranks
    *     different rows than the view);
    *   - freshness per [[MvCatalog.freshTopKEntry]] — a source write
    *     the view hasn't folded falls the query through. */
  private def rewriteTopK(f: Filter): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val spark = SparkSession.active
    // look through a pruning projection between the filter and window
    def windowOf(p: LogicalPlan): Option[LWindow] = p match {
      case w: LWindow => Some(w)
      case Project(ps, child)
        if ps.forall(_.isInstanceOf[AttributeReference]) => windowOf(child)
      case _ => None
    }
    for {
      w <- windowOf(f.child)
      alias <- w.windowExpressions match {
        case Seq(a: Alias) => Some(a)
        case _ => None
      }
      we <- alias.child match {
        case e: WindowExpression => Some(e)
        case _ => None
      }
      _ <- we.windowFunction match {
        case _: RowNumber => Some(())
        case _ => None
      }
      // the optimizer has already inserted its WindowGroupLimit
      // pre-filter below the window by the time extra rules run —
      // semantics-preserving, look through it
      src <- sourceOf(w.child match {
        case wgl: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
          wgl.child
        case other => other
      })
      entry <- MvCatalog.freshTopKEntry(spark, MvCatalog.qualify(spark, src.loc))
      partAttrs <- bareAttrs(w.partitionSpec)
      if partAttrs.map(_.name).sorted == entry.partitionCols.sorted
      orderPairs <- {
        val ps = w.orderSpec.map {
          case SortOrder(a: AttributeReference, dir, _, _) =>
            Some((a.name, dir == Descending))
          case _ => None
        }
        if (ps.forall(_.isDefined)) Some(ps.map(_.get)) else None
      }
      if orderPairs == entry.ordering
      // residual source filter: only claim-absorbed conjuncts allowed,
      // and the claim's core predicate must be present when declared
      conjSrc = src.filter.toSeq.flatMap(splitConjunctivePredicates)
      if entry.sourcePredicate.forall(_.satisfied(conjSrc))
      if conjSrc.forall(c => entry.sourcePredicate.exists(_.absorbs(c)))
      rankAttr = alias.toAttribute
      conjuncts = splitConjunctivePredicates(f.condition)
      if conjuncts.exists(c => rankBound(c, rankAttr).exists(_ <= entry.k))
      viewPlan = entry.view().queryExecution.analyzed
      vmap = viewPlan.output.map(a => a.name -> a).toMap
      // every output column the parents may read must be served
      mapped <- {
        val m = f.output.map { o =>
          val name = if (o.exprId == rankAttr.exprId) entry.rankCol else o.name
          vmap.get(name).filter(_.dataType == o.dataType)
            .map(v => Alias(v, o.name)(exprId = o.exprId))
        }
        if (m.forall(_.isDefined)) Some(m.map(_.get)) else None
      }
      cond2 <- {
        val ok = f.condition.references.forall { a =>
          val name = if (a.exprId == rankAttr.exprId) entry.rankCol else a.name
          vmap.get(name).exists(_.dataType == a.dataType)
        }
        if (!ok) None
        else Some(f.condition.transform {
          case a: AttributeReference =>
            vmap(if (a.exprId == rankAttr.exprId) entry.rankCol else a.name)
        })
      }
    } yield Project(mapped, Filter(cond2, viewPlan)): LogicalPlan
  }

  /** The inclusive rank bound n in `attr <= n` / `attr < n+1` /
    * `attr = n` (integer literal, either operand order); None if the
    * conjunct doesn't bound `attr` from above. */
  private def rankBound(c: Expression, attr: Attribute): Option[Long] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
    def isAttr(e: Expression) = e match {
      case a: AttributeReference => a.exprId == attr.exprId
      case _ => false
    }
    c match {
      case LessThanOrEqual(a, l) if isAttr(a) => lit(l)
      case LessThan(a, l) if isAttr(a) => lit(l).map(_ - 1)
      case EqualTo(a, l) if isAttr(a) => lit(l)
      case EqualTo(l, a) if isAttr(a) => lit(l)
      case GreaterThanOrEqual(l, a) if isAttr(a) => lit(l)
      case GreaterThan(l, a) if isAttr(a) => lit(l).map(_ - 1)
      case _ => None
    }
  }

  /** The condition decomposed into (factAttr, dimAttr) equality pairs;
    * None when any conjunct is not such an equality. */
  private def keyPairs(cond: Expression, factSide: LogicalPlan,
                       dimSide: LogicalPlan): Option[Seq[(Attribute, Attribute)]] = {
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
        if factSide.outputSet.contains(a) && dimSide.outputSet.contains(b) =>
        Some((a: Attribute, b: Attribute))
      case EqualTo(b: AttributeReference, a: AttributeReference)
        if factSide.outputSet.contains(a) && dimSide.outputSet.contains(b) =>
        Some((a: Attribute, b: Attribute))
      case _ => None
    }
    if (pairs.forall(_.isDefined)) Some(pairs.map(_.get)) else None
  }

  /** Re-point a predicate's source attributes at the view's columns of
    * the same name; None if any attribute or type fails to line up. */
  private def rebind(cond: Expression,
                     viewPlan: LogicalPlan): Option[Expression] = {
    val ok = cond.references.forall(a =>
      viewPlan.output.exists(v => v.name == a.name && v.dataType == a.dataType))
    if (!ok) None
    else Some(cond.transform {
      case a: AttributeReference =>
        viewPlan.output.find(_.name == a.name).get
    })
  }

  /** Bare-attribute grouping expressions (empty = global aggregate). */
  private def bareAttrs(es: Seq[Expression]): Option[Seq[AttributeReference]] =
    if (es.forall(_.isInstanceOf[AttributeReference]))
      Some(es.map(_.asInstanceOf[AttributeReference]))
    else None

  /** Map every output expression of the aggregate onto the view's
    * columns, or refuse the whole rewrite. */
  private def projection(outs: Seq[NamedExpression], groupNames: Set[String],
                         entry: MvCatalog.Entry,
                         viewPlan: LogicalPlan): Option[Seq[NamedExpression]] = {
    def viewAttr(name: String): Option[Attribute] =
      viewPlan.output.find(_.name == name)
    def byKey(key: MvCatalog.AggKey): Option[Attribute] =
      entry.aggs.get(key).flatMap(viewAttr)

    val mapped = outs.map {
      // grouping column passthrough (possibly re-aliased by the user)
      case a: AttributeReference if groupNames.contains(a.name) =>
        viewAttr(a.name).filter(_.dataType == a.dataType)
          .map(v => Alias(v, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name)
        if groupNames.contains(a.name) =>
        viewAttr(a.name).filter(_.dataType == al.dataType)
          .map(v => Alias(v, name)(exprId = al.exprId))
      case al @ Alias(ae: AggregateExpression, name)
        if !ae.isDistinct && ae.filter.isEmpty =>
        val repl: Option[Expression] = ae.aggregateFunction match {
          case av: Average => av.child match {
            case a: AttributeReference =>
              for {
                s <- byKey(("sum", a.name))
                c <- byKey(("count", a.name))
              } yield Divide(Cast(s, DoubleType), Cast(c, DoubleType),
                EvalMode.LEGACY)
            case _ => None
          }
          case fn => aggKeyOf(fn).flatMap(byKey)
        }
        repl.filter(_.dataType == al.dataType)
          .map(e => Alias(e, name)(exprId = al.exprId))
      case _ => None
    }
    if (mapped.forall(_.isDefined)) Some(mapped.map(_.get)) else None
  }

  /** Coarser-grain rewrite: `GROUP BY subset` re-aggregates the view.
    * Every supported aggregate is decomposable — `sum→sum(sum)`,
    * `min→min(min)`, `max→max(max)`, `count→sum(count)` (coalesced to
    * 0 so a global count over an empty source still returns 0, like
    * the original), `avg→sum(sum)/sum(count)`. A non-decomposable or
    * type-shifting shape (e.g. decimal sums, which widen on re-sum)
    * refuses the whole rewrite. */
  private def rollup(outs: Seq[NamedExpression], groupNames: Set[String],
                     entry: MvCatalog.Entry, viewPlan: LogicalPlan,
                     child: LogicalPlan): Option[LogicalPlan] = {
    def viewAttr(name: String): Option[Attribute] =
      viewPlan.output.find(_.name == name)
    def byKey(key: MvCatalog.AggKey): Option[Attribute] =
      entry.aggs.get(key).flatMap(viewAttr)
    def reAgg(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)
    def sumOfCounts(key: MvCatalog.AggKey): Option[Expression] =
      byKey(key).map(c => Coalesce(Seq(reAgg(Sum(c)), Literal(0L))))

    val mapped: Seq[Option[NamedExpression]] = outs.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        viewAttr(a.name).filter(_.dataType == a.dataType)
          .map(v => Alias(v, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name)
        if groupNames.contains(a.name) =>
        viewAttr(a.name).filter(_.dataType == al.dataType)
          .map(v => Alias(v, name)(exprId = al.exprId))
      case al @ Alias(ae: AggregateExpression, name)
        if !ae.isDistinct && ae.filter.isEmpty =>
        val repl: Option[Expression] = ae.aggregateFunction match {
          case s: Sum => s.child match {
            case a: AttributeReference =>
              byKey(("sum", a.name)).map(v => reAgg(Sum(v)))
            case _ => None
          }
          case m: Min => m.child match {
            case a: AttributeReference =>
              byKey(("min", a.name)).map(v => reAgg(Min(v)))
            case _ => None
          }
          case m: Max => m.child match {
            case a: AttributeReference =>
              byKey(("max", a.name)).map(v => reAgg(Max(v)))
            case _ => None
          }
          case c: Count => c.children match {
            case Seq(Literal(v, _)) if v != null => sumOfCounts(("count", "*"))
            case Seq(a: AttributeReference) => sumOfCounts(("count", a.name))
            case _ => None
          }
          case av: Average => av.child match {
            case a: AttributeReference =>
              for {
                s <- byKey(("sum", a.name))
                c <- byKey(("count", a.name))
              } yield Divide(Cast(reAgg(Sum(s)), DoubleType),
                Cast(reAgg(Sum(c)), DoubleType), EvalMode.LEGACY)
            case _ => None
          }
          case _ => None
        }
        repl.filter(_.dataType == al.dataType)
          .map(e => Alias(e, name)(exprId = al.exprId))
      case _ => None
    }
    val groupExprs = groupNames.toSeq.sorted.map(viewAttr)
    if (mapped.forall(_.isDefined) && groupExprs.forall(_.isDefined))
      Some(Aggregate(groupExprs.map(_.get), mapped.map(_.get), child))
    else None
  }
}
