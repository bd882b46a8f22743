package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, ExprId, NullsFirst, NullsLast, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Repartition, Sort, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** Automatic SHUFFLE-FREE SQL global sorts on clustered keys.
  *
  * `SELECT ... FROM graft.db.t ORDER BY k, ...` where the leading
  * ORDER BY entries are the table's index-column prefix (ascending,
  * nulls first — the lex clustering order) re-sorts data that is
  * ALREADY globally range-clustered: Spark plans a RangePartitioning
  * Exchange (with its sampling pass) plus a full sort — at 100 TB,
  * two passes over the table to recreate an order the sidecar already
  * guarantees. This rule replaces the global Sort with a union of
  * LOCALLY sorted single-partition range slices in ascending range
  * order:
  *
  *   Union_{i<g} ( Sort(order, global = false, Coalesce(1,
  *     Filter(lo_i <= lex(prefix) < hi_i, scan))) )
  *
  * Union concatenates child partitions in order, divisions tile the
  * key space ascending, and each division sorts its own rows by the
  * FULL requested order — so the concatenation IS the global order
  * (entries beyond the prefix only break ties within a prefix value,
  * which never crosses a division). No Exchange, no sampling pass,
  * one task per division; `ORDER BY k LIMIT n` degenerates further —
  * CollectLimit pulls from the FIRST divisions only, so a top-n on
  * the clustering key reads the first key band's files and stops.
  *
  * Eligibility (anything else keeps Spark's plan): a global Sort over
  * a graft relation under deterministic Project/Filter nodes; the
  * ORDER BY's leading entries are bare index-prefix attributes,
  * either ALL ascending nulls-first (the clustering order) or ALL
  * descending nulls-last (its exact reverse — Spark's DESC default):
  * for DESC the slices union in REVERSED range order and each sorts
  * locally DESC, so the concatenation is the global descending order
  * (nulls cluster in the LOWEST band, which is visited last, and the
  * local nulls-last sort puts them after that band's values — the
  * global NULLS LAST contract). `ORDER BY k DESC LIMIT n` — "latest
  * N" on a time-clustered table — reads the TOP key band's files and
  * stops. Later entries are any deterministic expressions (sorted
  * locally); division count clears the utilization minimum.
  *
  * Disable with `SET spark.graft.sql.divisionSort=false`.
  */
final class SqlDivisionSort(protected val session: SparkSession)
    extends Rule[LogicalPlan] with DivisionRewriteSupport {

  // SQLConf.get is the ACTIVE execution's conf (thread-local): a
  // cloned session (e.g. structured streaming's stream session)
  // inheriting this rule gates on its OWN settings, not the parent's
  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sql.divisionSort", "true")
      .equalsIgnoreCase("true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case s: Sort if s.global => rewrite(s).getOrElse(s)
    }
  }

  private def rewrite(s: Sort): Option[LogicalPlan] = {
    if (s.order.exists(!_.deterministic)) return None
    if (s.order.exists(_.exists(_.isInstanceOf[SubqueryExpression])))
      return None
    val (rel, idx) = graftLeaf(s.child).getOrElse(return None)
    if (rel.stats.sizeInBytes < divisionMinBytes) return None
    val keyNames = idx.lexIndexColumns
    if (keyNames.isEmpty) return None

    // The longest index prefix the ORDER BY leads with, position by
    // position — uniformly in the clustering direction (asc nulls
    // first) or uniformly in its exact reverse (desc nulls last).
    val resolver = session.sessionState.conf.resolver
    val childOut = s.child.outputSet
    val ascending = s.order.head match {
      case SortOrder(_, Ascending, NullsFirst, _) => true
      case _ => false
    }
    def prefixAt(n: String, a: Attribute): Boolean =
      resolver(a.name, n) && childOut.contains(a) &&
        rel.output.exists(ra =>
          ra.exprId == a.exprId && resolver(ra.name, n))
    val k = keyNames.iterator.zipWithIndex.takeWhile { case (n, i) =>
      i < s.order.length && (s.order(i) match {
        case SortOrder(a: Attribute, Ascending, NullsFirst, _)
            if ascending => prefixAt(n, a)
        case SortOrder(a: Attribute, Descending, NullsLast, _)
            if !ascending => prefixAt(n, a)
        case _ => false
      })
    }.length
    if (k == 0) return None
    val prefixAttrs: Seq[Attribute] =
      s.order.take(k).map(_.child.asInstanceOf[Attribute])

    val maxD = graft.core.PDataset.divisionJoinMaxDivisions(
      session, Some(idx.sizeInBytes))
    val minD = graft.core.PDataset.divisionJoinMinDivisions(session)
    val slices0 = divisionSlices(idx, k, maxD, minD).getOrElse(return None)
    // DESC: visit ranges high-to-low so the concatenation of locally
    // descending slices is the global descending order
    val slices = if (ascending) slices0 else slices0.reverse
    val g = slices.length
    val branches: Seq[LogicalPlan] = slices.zipWithIndex.map {
      case (sl, i) =>
        val (sub, m) = sliceChain(s.child, idx, sl.files, first = i == 0)
        val keysI = prefixAttrs.map(at => m.getOrElse(at.exprId, at))
        val one = Repartition(1, shuffle = false,
          Filter(rangePred(keysI, sl.lo, sl.hi), sub))
        Sort(s.order.map(o =>
          remap(o, m).asInstanceOf[SortOrder]), global = false, one)
    }
    logInfo(s"graft: rewrote global ORDER BY " +
      (if (ascending) "" else "DESC ") + "on clustered prefix " +
      s"${keyNames.take(k).mkString(",")} to a zero-Exchange " +
      s"division sort ($g ranges)")
    Some(Union(branches))
  }
}
