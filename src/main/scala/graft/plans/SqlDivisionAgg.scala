package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Repartition, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** Automatic SHUFFLE-FREE SQL aggregation on clustered keys.
  *
  * `SELECT k, agg(...) FROM graft.db.t GROUP BY k, ...` where `k` is
  * a leading prefix of the table's index columns needs no Exchange:
  * range clustering already co-locates every group, so Spark's
  * partial-aggregate → hashpartitioning Exchange → final-aggregate —
  * whose shuffle is sized by the GROUP CARDINALITY, i.e. nearly the
  * whole table for a high-cardinality clustered key at 100 TB — is
  * pure waste. This rule slices the read into contiguous key ranges
  * on the group prefix (boundaries = file lower bounds truncated to
  * the prefix, so no prefix value ever splits), coalesces each range
  * to a single partition, and unions per-division aggregates:
  *
  *   Union_{i<g} ( Aggregate(gks, aggs, Coalesce(1,
  *     Filter(lo_i <= lex(prefix) < hi_i, scan))) )
  *
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies any
  * aggregation distribution — the physical plan is Exchange-free, one
  * task per division (division count merged into
  * [`PDataset.divisionJoinMinDivisions`, `divisionJoinMaxDivisions`],
  * the division join's utilization bounds). Because every group lies
  * WHOLLY inside one division, each division computes its groups
  * completely and independently — so ANY aggregate function is
  * eligible (exact percentiles, collect_list, distinct aggregates...),
  * not just the algebraic ones a partial/final split supports.
  *
  * Correctness does not depend on file layout: each division child
  * filters the FULL relation by the row's own key value, the ranges
  * tile (-inf, +inf) with null-first lex order, and a bound truncated
  * to the group prefix compares equal on every row of one prefix
  * value — sidecar file pruning is what makes each child O(its own
  * files). Eligibility (anything else keeps Spark's plan):
  *
  *   - the child is a graft relation under deterministic
  *     Project/Filter nodes; grouping and aggregate expressions
  *     deterministic, grouping non-empty;
  *   - the grouping expressions include, as bare attributes, a
  *     non-empty prefix of the index columns, flowing through the
  *     chain unchanged (extra grouping expressions only make groups
  *     FINER — still division-contained);
  *   - [[MetadataCount]] would not already fold the whole aggregate
  *     from sidecar stats (a later batch turns those into a
  *     LocalRelation — strictly better than reading anything);
  *   - the merged division count clears the cluster-utilization
  *     minimum (small tables keep Spark's full-parallelism plan).
  *
  * Disable with `SET spark.graft.sql.divisionAgg=false`.
  */
final class SqlDivisionAgg(protected val session: SparkSession)
    extends Rule[LogicalPlan] with DivisionRewriteSupport {

  // SQLConf.get is the ACTIVE execution's conf (thread-local): a
  // cloned session (e.g. structured streaming's stream session)
  // inheriting this rule gates on its OWN settings, not the parent's
  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sql.divisionAgg", "true")
      .equalsIgnoreCase("true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case a: Aggregate => rewrite(a).getOrElse(a)
    }
  }

  private def rewrite(a: Aggregate): Option[LogicalPlan] = {
    if (a.groupingExpressions.isEmpty) return None
    if (a.groupingExpressions.exists(!_.deterministic)) return None
    if (a.aggregateExpressions.exists(!_.deterministic)) return None
    // a subquery's plan must not be duplicated per division (its
    // internal ExprIds would be shared across Union branches)
    if ((a.groupingExpressions ++ a.aggregateExpressions).exists(
      _.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression])))
      return None
    val (rel, idx) = graftLeaf(a.child).getOrElse(return None)
    if (rel.stats.sizeInBytes < divisionMinBytes) return None
    val keyNames = idx.lexIndexColumns
    if (keyNames.isEmpty) return None

    // The longest index-column prefix covered by the grouping set as
    // bare attributes that flow through the chain unchanged (an alias
    // re-keys them; then slicing by the relation attr no longer
    // bounds the group).
    val resolver = session.sessionState.conf.resolver
    val childOut = a.child.outputSet
    val prefixAttrs: Seq[Attribute] = keyNames.iterator
      .map(n => rel.output.find(at => resolver(at.name, n)))
      .takeWhile(o => o.exists(at =>
        childOut.contains(at) &&
          a.groupingExpressions.exists(_.semanticEquals(at))))
      .map(_.get).toSeq
    val k = prefixAttrs.length
    if (k == 0) return None

    // A metadata-foldable aggregate answers from sidecar stats alone
    // in a LATER optimizer batch — don't preempt it with a plan that
    // reads data.
    if (!(MetadataCount(a) eq a)) return None

    // Utilization gates — same knobs as the division join: one task
    // per division means too few divisions under-utilizes the cluster
    // vs a full-parallelism shuffle plan. The cap scales with the
    // cluster and the table's sidecar bytes; slices merge
    // byte-weighted.
    val maxD = graft.core.PDataset.divisionJoinMaxDivisions(
      session, Some(idx.sizeInBytes))
    val minD = graft.core.PDataset.divisionJoinMinDivisions(session)
    val slices = divisionSlices(idx, k, maxD, minD).getOrElse(return None)
    val g = slices.length
    val branches: Seq[LogicalPlan] = slices.zipWithIndex.map {
      case (sl, i) =>
        val (sub, m) = sliceChain(a.child, idx, sl.files, first = i == 0)
        val keysI = prefixAttrs.map(at => m.getOrElse(at.exprId, at))
        val one = Repartition(1, shuffle = false,
          Filter(rangePred(keysI, sl.lo, sl.hi), sub))
        if (i == 0) a.copy(child = one)
        else {
          val aggs: Seq[NamedExpression] = a.aggregateExpressions.map {
            case al: Alias => Alias(remap(al.child, m), al.name)()
            case at: Attribute => m.getOrElse(at.exprId, at)
            case ne => remap(ne, m).asInstanceOf[NamedExpression]
          }
          Aggregate(a.groupingExpressions.map(remap(_, m)), aggs, one)
        }
    }
    logInfo(s"graft: rewrote GROUP BY on clustered prefix " +
      s"${keyNames.take(k).mkString(",")} to a zero-Exchange " +
      s"division aggregate ($g ranges)")
    Some(Union(branches))
  }
}
