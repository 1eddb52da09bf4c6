package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Prune unused payload fields out of `min_by`/`max_by` struct aggregates.
  *
  * The engine's per-key dedup family — `RelOps.latestPerKey`,
  * `RelOps.firstWinsDedup`, `Dedup.exact` — aggregates
  * `min_by(struct(<all columns>), struct(<ordering>))` so the shuffle
  * carries one combined row per key per partition instead of the whole
  * table. But when the CALLER then projects a subset of the payload
  * (`latestPerKey(orders).select(key, date)`), Catalyst's column pruning
  * stops at the aggregate: nothing in the stock optimizer reaches INSIDE
  * an aggregate function's struct argument, so every untouched field —
  * at corpus scale, whole document-text columns — still rides the
  * aggregation buffer and the exchange (observed on executed plans; the
  * motivating case shuffled full text the query then discarded).
  *
  * Three plan shapes carry the pattern, and the rule handles all:
  *
  *   1. `Project(.. __row.f ..,  Aggregate(.. min_by(struct) AS __row ..))`
  *      — the multi-field form (CollapseProject declines to inline an
  *      aggregate output referenced more than once). The payload narrows
  *      to the extracted fields; the alias gets a FRESH attribute (its
  *      struct type changes) and the projection's ordinals remap.
  *      1b. the same with a `Filter` between projection and aggregate
  *      (`latestPerKey(..).filter(..).select(..)`) — the filter
  *      condition counts as one more consumer and remaps with the rest.
  *   2. `Aggregate(.. GetStructField(min_by(struct), i) AS f ..)` — the
  *      single/few-field form CollapseProject produces by merging the
  *      projection into the aggregate. All extractions over canonically
  *      equal min_by/max_by instances narrow against ONE shared field
  *      set, so every rewritten instance stays canonically equal and
  *      physical planning still deduplicates them into one aggregate
  *      buffer — splitting into per-field `min_by(field, ord)` calls
  *      would instead lose the single-winner guarantee under ordering
  *      ties.
  *
  * Semantics are unchanged in both shapes: the ordering argument is
  * untouched, so the same row wins each group — payload fields are pure
  * carry-along output. Whole-struct consumption disables pruning for
  * that aggregate. Narrowing the struct then lets the standard
  * column-pruning batch drop the columns from the scan itself in the
  * same fixed point.
  *
  * Registered via [[graft.GraftExtensions]] (`injectOptimizerRule` → the
  * operator-optimization fixed point, composing with `CollapseProject`).
  * Idempotent: after one application every payload field is referenced,
  * so the `used.size < n` guard fails.
  *
  * TRADEOFF — multi-consumer plans: the rule is session-wide, so when one
  * plan consumes the SAME per-key dedup subtree with DIFFERENT projected
  * subsets (e.g. a self-join of `latestPerKey` output, one side reading
  * (k, a), the other (k, b)), the two min_by structs are no longer
  * canonically equal — exchange/aggregate reuse is defeated and the
  * upstream scan + shuffle runs once per consumer. External callers of
  * `latestPerKey`/`firstWinsDedup`/`Dedup.exact` get this silently; the
  * engine's own multi-consumer pipelines mitigate it with shared persisted
  * layers (`TextAnalysis.scoreBase`). A dedup output fanned out to
  * differently-projecting consumers should be pinned with
  * `graft.util.Caching.ensurePersisted` (one narrowed materialization,
  * every consumer reads it) rather than left to plan-level reuse.
  */
object MinMaxByPayloadPruning extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList, agg: Aggregate) =>
      rewriteAliased(projectList, Nil, agg) match {
        case Some((newProjectList, _, newAgg)) => Project(newProjectList, newAgg)
        case None => p
      }

    // the filtered form (`latestPerKey(..).filter(..).select(..)` — the
    // address-assembly spine): extractions in the Filter condition count
    // as uses too, and the condition's ordinals remap with the rest
    case p @ Project(projectList, Filter(cond, agg: Aggregate)) =>
      rewriteAliased(projectList, Seq(cond), agg) match {
        case Some((newProjectList, Seq(newCond), newAgg)) =>
          Project(newProjectList, Filter(newCond, newAgg))
        case _ => p
      }

    case agg: Aggregate =>
      pruneInline(agg)
  }

  /** Shape 1 (+1b) core: prune aliased min_by/max_by payloads consumed by
    * `projectList` (and `extraConsumers` — a Filter condition) strictly
    * through field extraction. Returns the rewritten projection, the
    * rewritten extra consumers (same order), and the aggregate — or None
    * when nothing prunes.
    */
  private def rewriteAliased(projectList: Seq[NamedExpression],
                             extraConsumers: Seq[Expression], agg: Aggregate)
      : Option[(Seq[NamedExpression], Seq[Expression], Aggregate)] = {
    val consumers: Seq[Expression] = projectList ++ extraConsumers
    val rewrites = agg.aggregateExpressions.flatMap(aliasCandidate(_, consumers))
    if (rewrites.isEmpty) None
    else {
      val byId = rewrites.map(r => r.oldAttr.exprId -> r).toMap
      val newAggList = agg.aggregateExpressions.map { ne =>
        byId.values.find(_.oldAlias eq ne).map(_.newAlias).getOrElse(ne)
      }
      def remap(e: Expression): Expression = e.transform {
        case GetStructField(ar: AttributeReference, ord, nameOpt)
            if byId.contains(ar.exprId) =>
          val r = byId(ar.exprId)
          GetStructField(r.newAlias.toAttribute, r.ordinalMap(ord), nameOpt)
      }
      Some((
        projectList.map(remap(_).asInstanceOf[NamedExpression]),
        extraConsumers.map(remap),
        agg.copy(aggregateExpressions = newAggList)))
    }
  }

  /** Shape 2: extractions merged into the aggregate list itself. Groups
    * min_by/max_by instances by canonical equality; an instance is
    * prunable when every occurrence across the aggregate list sits under
    * a `GetStructField` and the union of extracted ordinals is a proper
    * subset of the payload.
    */
  private def pruneInline(agg: Aggregate): Aggregate = {
    final case class Usage(struct: CreateNamedStruct,
                           build: CreateNamedStruct => aggregate.AggregateFunction,
                           used: scala.collection.mutable.SortedSet[Int],
                           var whole: Boolean)
    val usages = scala.collection.mutable.LinkedHashMap.empty[Expression, Usage]
    def payloadOf(ae: AggregateExpression)
        : Option[(CreateNamedStruct, CreateNamedStruct => aggregate.AggregateFunction)] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else ae.aggregateFunction match {
        case MinBy(v: CreateNamedStruct, ord) => Some((v, (s: CreateNamedStruct) => MinBy(s, ord)))
        case MaxBy(v: CreateNamedStruct, ord) => Some((v, (s: CreateNamedStruct) => MaxBy(s, ord)))
        case _ => None
      }
    def record(ae: AggregateExpression, ord: Option[Int]): Unit =
      payloadOf(ae).foreach { case (struct, build) =>
        val u = usages.getOrElseUpdate(ae.canonicalized,
          Usage(struct, build, scala.collection.mutable.SortedSet.empty[Int], whole = false))
        ord match {
          case Some(i) => u.used += i
          case None => u.whole = true
        }
      }
    def scan(e: Expression): Unit = e match {
      case GetStructField(ae: AggregateExpression, ord, _) => record(ae, Some(ord))
      case ae: AggregateExpression => record(ae, None); ae.children.foreach(scan)
      case other => other.children.foreach(scan)
    }
    agg.aggregateExpressions.foreach(scan)
    val prunable = usages.filter { case (_, u) =>
      !u.whole && u.used.nonEmpty && u.used.size < u.struct.valExprs.size
    }
    if (prunable.isEmpty) agg
    else {
      val newAggList = agg.aggregateExpressions.map { ne =>
        ne.transform {
          case GetStructField(ae: AggregateExpression, ord, nameOpt)
              if prunable.contains(ae.canonicalized) =>
            val u = prunable(ae.canonicalized)
            val keep = u.used.toIndexedSeq
            val newStruct = CreateNamedStruct(keep.flatMap(i =>
              Seq(u.struct.nameExprs(i), u.struct.valExprs(i))))
            GetStructField(ae.copy(aggregateFunction = u.build(newStruct)),
              keep.indexOf(ord), nameOpt)
        }.asInstanceOf[NamedExpression]
      }
      agg.copy(aggregateExpressions = newAggList)
    }
  }

  private final case class Rewrite(oldAlias: NamedExpression, oldAttr: Attribute,
                                   newAlias: Alias, ordinalMap: Map[Int, Int])

  /** Shape 1 candidate: `Alias(AggregateExpression(min_by/max_by over a
    * literal named struct))` whose attribute is consumed only via field
    * extraction in the adjacent projection, with at least one field
    * unused.
    */
  private def aliasCandidate(ne: NamedExpression,
                             consumers: Seq[Expression]): Option[Rewrite] = ne match {
    case al @ Alias(ae: AggregateExpression, name)
        if !ae.isDistinct && ae.filter.isEmpty =>
      val structAndBuild = ae.aggregateFunction match {
        case MinBy(v: CreateNamedStruct, ord) =>
          Some((v, (s: CreateNamedStruct) => MinBy(s, ord)))
        case MaxBy(v: CreateNamedStruct, ord) =>
          Some((v, (s: CreateNamedStruct) => MaxBy(s, ord)))
        case _ => None
      }
      structAndBuild.flatMap { case (struct, build) =>
        val attr = al.toAttribute
        val n = struct.valExprs.size
        var usedWhole = false
        val used = scala.collection.mutable.SortedSet.empty[Int]
        def scan(e: Expression): Unit = e match {
          case GetStructField(ar: AttributeReference, ord, _) if ar.exprId == attr.exprId =>
            used += ord
          case ar: AttributeReference if ar.exprId == attr.exprId =>
            usedWhole = true
          case other => other.children.foreach(scan)
        }
        consumers.foreach(scan)
        if (usedWhole || used.isEmpty || used.size >= n) None
        else {
          val keep = used.toIndexedSeq
          val newStruct = CreateNamedStruct(keep.flatMap(i =>
            Seq(struct.nameExprs(i), struct.valExprs(i))))
          // fresh exprId: the attribute's struct TYPE changes, so reusing
          // the old id would leave stale type info anywhere it is cached
          val newAlias = Alias(ae.copy(aggregateFunction = build(newStruct)), name)()
          Some(Rewrite(al, attr, newAlias, keep.zipWithIndex.toMap))
        }
      }
    case _ => None
  }
}
