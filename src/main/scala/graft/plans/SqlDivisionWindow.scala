package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Repartition, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Automatic SHUFFLE-FREE SQL window functions on clustered keys.
  *
  * `... OVER (PARTITION BY k ORDER BY ...)` where `k` is a leading
  * prefix of the graft table's index columns needs no Exchange: range
  * clustering already co-locates every window partition, so Spark's
  * hashpartitioning Exchange + sort — a shuffle of the ENTIRE input,
  * since window functions keep every row — is the whole query cost at
  * 100 TB. This rule slices the read into contiguous key ranges on
  * the partition prefix (boundaries = file lower bounds truncated to
  * the prefix, so no partition value ever splits), coalesces each
  * range to a single partition, and unions per-division Window nodes:
  *
  *   Union_{i<g} ( Window(wes, part, order, Coalesce(1,
  *     Filter(lo_i <= lex(prefix) < hi_i, scan))) )
  *
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the
  * window distribution — each division sorts ITS rows locally (the
  * per-partition sort Spark needs anyway) and evaluates every window
  * function completely, so ANY frame/function is eligible. Division
  * count is merged into the division join's utilization bounds; rows
  * route by their own key value, so correctness does not depend on
  * file layout (see [[SqlDivisionAgg]] — identical argument).
  *
  * Eligibility (anything else keeps Spark's plan): graft relation
  * under deterministic Project/Filter nodes; non-empty PARTITION BY
  * containing a non-empty index-column prefix as bare attributes
  * (extra partition expressions only make partitions FINER); window
  * expressions and sort order deterministic; division count clears
  * the utilization minimum.
  *
  * Disable with `SET spark.graft.sql.divisionWindow=false`.
  */
final class SqlDivisionWindow(protected val session: SparkSession)
    extends Rule[LogicalPlan] with DivisionRewriteSupport {

  // SQLConf.get is the ACTIVE execution's conf (thread-local): a
  // cloned session (e.g. structured streaming's stream session)
  // inheriting this rule gates on its OWN settings, not the parent's
  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sql.divisionWindow", "true")
      .equalsIgnoreCase("true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case w: Window => rewrite(w).getOrElse(w)
    }
  }

  private def rewrite(w: Window): Option[LogicalPlan] = {
    if (w.partitionSpec.isEmpty) return None
    if (w.partitionSpec.exists(!_.deterministic)) return None
    if (w.orderSpec.exists(!_.deterministic)) return None
    if (w.windowExpressions.exists(!_.deterministic)) return None
    // a subquery's plan must not be duplicated per division (its
    // internal ExprIds would be shared across Union branches)
    if (w.windowExpressions.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.SubqueryExpression])))
      return None
    val (rel, idx) = graftLeaf(w.child).getOrElse(return None)
    if (rel.stats.sizeInBytes < divisionMinBytes) return None
    val keyNames = idx.lexIndexColumns
    if (keyNames.isEmpty) return None

    val resolver = session.sessionState.conf.resolver
    val childOut = w.child.outputSet
    val prefixAttrs: Seq[Attribute] = keyNames.iterator
      .map(n => rel.output.find(at => resolver(at.name, n)))
      .takeWhile(o => o.exists(at =>
        childOut.contains(at) &&
          w.partitionSpec.exists(_.semanticEquals(at))))
      .map(_.get).toSeq
    val k = prefixAttrs.length
    if (k == 0) return None

    val maxD = graft.core.PDataset.divisionJoinMaxDivisions(
      session, Some(idx.sizeInBytes))
    val minD = graft.core.PDataset.divisionJoinMinDivisions(session)
    val slices = divisionSlices(idx, k, maxD, minD).getOrElse(return None)
    val g = slices.length
    val branches: Seq[LogicalPlan] = slices.zipWithIndex.map {
      case (sl, i) =>
        val (sub, m) = sliceChain(w.child, idx, sl.files, first = i == 0)
        val keysI = prefixAttrs.map(at => m.getOrElse(at.exprId, at))
        val one = Repartition(1, shuffle = false,
          Filter(rangePred(keysI, sl.lo, sl.hi), sub))
        if (i == 0) w.copy(child = one)
        else {
          val wes: Seq[NamedExpression] = w.windowExpressions.map {
            case al: Alias => Alias(remap(al.child, m), al.name)()
            case at: Attribute => m.getOrElse(at.exprId, at)
            case ne => remap(ne, m).asInstanceOf[NamedExpression]
          }
          Window(wes, w.partitionSpec.map(remap(_, m)),
            w.orderSpec.map(so =>
              remap(so, m).asInstanceOf[SortOrder]),
            one, w.hint)
        }
    }
    logInfo(s"graft: rewrote window PARTITION BY on clustered prefix " +
      s"${keyNames.take(k).mkString(",")} to a zero-Exchange " +
      s"division window ($g ranges)")
    Some(Union(branches))
  }
}
