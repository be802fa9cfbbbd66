package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, MinBy}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Rank-filter → aggregate rewrite: turns the ubiquitous window-dedup
  * idiom
  *
  *   row_number() OVER (PARTITION BY p ORDER BY k...) AS rn ... WHERE rn = 1
  *
  * into
  *
  *   GROUP BY p   AGG min_by(struct(<all columns>), <encoded sort key>)
  *
  * The window form must shuffle EVERY row to its hash partition and
  * fully sort each partition by (p, k...) before discarding all but one
  * row per key. The aggregate form combines map-side (partial
  * aggregation), so at 100 TB only ~one row per distinct key crosses
  * the wire — the shuffle shrinks by the duplication factor. (The
  * physical agg is SortAggregateExec — MinBy over a struct buffer is
  * not hash-agg compatible — so each side still sorts, but only by the
  * group key, over the partially-aggregated row set.) Spark's own
  * InferWindowGroupLimit (3.5+) only prunes rows *within* the window
  * sort; it still shuffles and sorts — this rule removes the window
  * operator entirely.
  *
  * Sort-direction encoding in the min_by ordering struct, per ORDER BY
  * key: a null-rank field (0/1 by NULLS FIRST/LAST) followed by the
  * key, ascending as-is, descending via bitwise-NOT for integral types
  * (~x = -x-1 is a total order-reversal with no Long.MinValue overflow).
  * Patterns with a descending non-integral key are left untouched
  * (strings can't be order-reversed), as are rank functions other than
  * row_number (rank/dense_rank keep >1 rows on ties — not an argmax).
  *
  * Registered via SparkSessionExtensions.injectOptimizerRule
  * (engine.GraftExtensions) and experimental.extraOptimizations
  * (functions.GraftFunctions.register). Generalizes the reference's
  * argmax-by-mtime (crocus base_scraper.py:96) at engine level.
  */
object RankFilterToAggregate extends Rule[LogicalPlan] with PredicateHelper {

  private def isTop1(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case _ => false
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** (null-rank, comparable-key) fields so that struct-MIN picks the
    * row row_number would rank first; None if not encodable. */
  private def sortKeyFields(so: SortOrder): Option[Seq[Expression]] = {
    val nullsFirst = so.nullOrdering == NullsFirst
    val marker = If(IsNull(so.child),
      Literal(if (nullsFirst) 0 else 1), Literal(if (nullsFirst) 1 else 0))
    so.direction match {
      case Ascending => Some(Seq(marker, so.child))
      case Descending if isIntegral(so.child.dataType) =>
        Some(Seq(marker, BitwiseNot(so.child)))
      case _ => None
    }
  }

  /** The filter may be a conjunction (Catalyst collapses adjacent
    * filters): exactly the rn=1 conjunct drives the rewrite; the rest
    * stay in a Filter ABOVE the aggregate — `WHERE rn=1 AND q` means
    * "apply q to each key's winner", which is what Filter-over-
    * Aggregate computes. Residual conjuncts must not reference rn.
    *
    * The winner's columns get fresh expression ids and the plan above
    * is rewritten to them. Reusing the child's ids would let predicate
    * pushdown read a filter on a winner's column as one on the child's
    * and move it below the aggregate — filter-then-dedup, not
    * dedup-then-filter — whenever this rule runs before the pushdown
    * rules (as an injected operator-optimization rule does). */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithNewOutput {
    case Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          partitionSpec, orderSpec, child, _))
        if {
          val rn = alias.toAttribute
          val conjuncts = splitConjunctivePredicates(cond)
          conjuncts.exists(isTop1(_, rn)) &&
          conjuncts.filterNot(isTop1(_, rn))
            .forall(c => !c.references.contains(rn)) &&
          orderSpec.nonEmpty &&
          // nonEmpty: a global (no PARTITION BY) rewrite would turn the
          // empty-input case from zero rows into one all-null agg row
          partitionSpec.nonEmpty &&
          partitionSpec.forall(_.isInstanceOf[AttributeReference]) &&
          orderSpec.forall(_.child.deterministic) &&
          orderSpec.forall(so => sortKeyFields(so).isDefined) &&
          child.output.nonEmpty
        } =>
      val rnAttr = alias.toAttribute
      val rest = splitConjunctivePredicates(cond).filterNot(isTop1(_, rnAttr))
      val childOut = child.output
      val keyStruct = CreateStruct(orderSpec.flatMap(so => sortKeyFields(so).get))
      val valueStruct = CreateStruct(childOut)
      val minBy = AggregateExpression(
        MinBy(valueStruct, keyStruct), Complete, isDistinct = false)
      val groupAttrs = partitionSpec.map(_.asInstanceOf[AttributeReference])
      val aggExprs: Seq[NamedExpression] = childOut.zipWithIndex.map {
        case (a, i) =>
          if (groupAttrs.exists(_.semanticEquals(a))) a
          else Alias(GetStructField(minBy, i, Some(a.name)), a.name)()
      } :+ Alias(Literal(1), rnAttr.name)()
      val renamed = w.output.zip(aggExprs.map(_.toAttribute))
        .filterNot { case (o, n) => o.exprId == n.exprId }
      val rename = AttributeMap(renamed)
      val agg = Aggregate(partitionSpec, aggExprs, child)
      val rewired = rest.map(_.transform { case a: Attribute => rename.getOrElse(a, a) })
      (if (rewired.isEmpty) agg else Filter(rewired.reduce(And), agg), renamed)
  }
}
