package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, Expression, ExprId, If, Literal, NamedExpression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Automatic SHUFFLE-FREE SQL joins between co-clustered graft
  * tables.
  *
  * `SELECT ... FROM graft.db.a JOIN graft.db.b ON a.k = b.k` between
  * two tables range-clustered on their join keys is already
  * co-partitioned: division i of one side can only match division i
  * of the other, so Spark's sort-merge join — two full shuffles plus
  * two sorts of data that is ALREADY globally sorted on the key — is
  * pure waste. At 100 TB per side, those two Exchanges are the whole
  * query cost. This optimizer rule detects the shape and rewrites the
  * join onto the engine's [[DivisionJoinPlan]], the same zero-Exchange
  * node `PDataset.join` plans, slicing each side into contiguous key
  * ranges with the lex predicates the sidecar file-pruning
  * understands — each division child scans only its own files.
  *
  * Eligibility (anything else leaves the join untouched):
  *   - INNER, LEFT, RIGHT, FULL OUTER, LEFT SEMI or LEFT ANTI join,
  *     no join hints (a user's BROADCAST hint wins). Semi/anti is the
  *     decontamination shape — `WHERE (NOT) EXISTS` between two
  *     co-clustered corpora — and emits the left side only, so the
  *     node claims just the keys of its right children (scans narrow
  *     to the key columns) and, with no residual, builds each
  *     division's key SET rather than its rows. RIGHT OUTER rewrites
  *     as the side-swapped LEFT OUTER under an order-restoring
  *     Project. Outer joins
  *     reconstruct per-side key columns from the node's coalesced
  *     USING-style keys via two presence markers the node emits (an
  *     unmatched row must surface NULL in the absent side's key).
  *     Residual ON conjuncts are admitted everywhere: a post-join
  *     Filter for INNER (equivalent there), and INSIDE the node for
  *     outer types — the residual participates in MATCHING (a
  *     key-equal pair failing it null-extends rather than drops), so
  *     each division evaluates it on its candidate pairs
  *     ([[DivisionJoinPlan.residuals]]); only a subquery-bearing
  *     residual keeps Spark's plan (its internal plan can't be
  *     duplicated across division branches);
  *   - each side is a graft relation ([[GraftFileIndex]] listing,
  *     i.e. a `format("graft")` read or a spliced catalog read),
  *     optionally under deterministic Project/Filter nodes;
  *   - the ON clause pairs, for every index position i, the LEFT
  *     index column i with the RIGHT index column i by bare attribute
  *     equality (both sides clustered the same way); further
  *     deterministic conjuncts are kept as a post-join Filter — valid
  *     for inner joins;
  *   - both sides exceed the autoBroadcastJoinThreshold (a broadcast
  *     join beats everything when one side fits in memory) and the
  *     merged division count reaches the cluster-utilization minimum
  *     (`PDataset.divisionJoinMinDivisions`).
  *
  * Correctness does not depend on the pruning: each division child is
  * `Filter(lo <= lex(keys) < hi, side)` over the FULL relation, the
  * ranges tile (-inf, +inf), and rows fall in exactly one range
  * (null-first lex order with total-order equality — see
  * [[DivisionRewriteSupport]]) — file skipping through
  * [[GraftFileIndex]] is what makes each child O(its own files)
  * instead of O(all files).
  *
  * Disable with `SET spark.graft.sql.divisionJoin=false`.
  */
final class SqlDivisionJoin(protected val session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper
    with DivisionRewriteSupport {

  // SQLConf.get is the ACTIVE execution's conf (thread-local): a
  // cloned session (e.g. structured streaming's stream session)
  // inheriting this rule gates on its OWN settings, not the parent's
  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sql.divisionJoin", "true")
      .equalsIgnoreCase("true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case j @ Join(_, _, Inner | LeftOuter | FullOuter | LeftSemi | LeftAnti,
          Some(_), JoinHint(None, None)) =>
        rewrite(j).getOrElse(j)
      case j @ Join(l, r, RightOuter, Some(c), JoinHint(None, None)) =>
        // RIGHT OUTER is LEFT OUTER with the sides exchanged: rewrite
        // the swapped join (same condition — pairs() is orientation-
        // agnostic, and all original ExprIds survive the rewrite), then
        // restore the original column order with a Project.
        rewrite(Join(r, l, LeftOuter, Some(c), JoinHint(None, None)))
          .map(p => Project(j.output, p)).getOrElse(j)
    }
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val (l, r) = (j.left, j.right)
    val (lRel, lIdx) = graftLeaf(l).getOrElse(return None)
    val (rRel, rIdx) = graftLeaf(r).getOrElse(return None)
    val keyNames = lIdx.lexIndexColumns
    if (keyNames.isEmpty || rIdx.lexIndexColumns.length != keyNames.length)
      return None
    // a self-join's sides already carry distinct ExprIds post-analysis;
    // anything else sharing ids would alias attributes across sides
    if (l.outputSet.intersect(r.outputSet).nonEmpty) return None

    val resolver = session.sessionState.conf.resolver
    def keyAttrs(rel: LogicalRelation, side: LogicalPlan,
        names: Seq[String]): Option[Seq[Attribute]] = {
      val attrs = names.map(n => rel.output.find(a => resolver(a.name, n)))
      if (attrs.exists(_.isEmpty)) None
      else {
        val got = attrs.map(_.get)
        // the index attrs must flow through the chain unchanged
        // (an alias re-keys them; then division slicing by the
        // relation attr no longer matches the join key)
        if (got.forall(side.outputSet.contains)) Some(got) else None
      }
    }
    val lKeys = keyAttrs(lRel, l, keyNames).getOrElse(return None)
    val rKeys = keyAttrs(rRel, r, rIdx.lexIndexColumns)
      .getOrElse(return None)

    // ON must pair left index i with right index i (same clustering
    // position — co-partitioning is positional); other deterministic
    // conjuncts survive as a post-join filter.
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    if (conjuncts.exists(!_.deterministic)) return None
    // NormalizeFloatingNumbers (which runs before the late
    // User-Provided-Optimizers pass that catches EXISTS/IN-derived
    // semi/anti joins) wraps float/double join keys — unwrap to the
    // bare attribute. Safe: the node's own hash normalizes NaN/-0.0
    // identically, and division routing compares through Spark's
    // SQL double ordering (-0.0 == 0.0, NaN greatest), so key-equal
    // rows route to the same division.
    def bare(e: Expression): Expression = e match {
      case org.apache.spark.sql.catalyst.expressions
        .KnownFloatingPointNormalized(x) => bare(x)
      case org.apache.spark.sql.catalyst.optimizer
        .NormalizeNaNAndZero(x) => bare(x)
      case x => x
    }
    def pairs(e: Expression): Option[(ExprId, ExprId)] = e match {
      case EqualTo(a0, b0) => (bare(a0), bare(b0)) match {
        case (a: AttributeReference, b: AttributeReference) =>
          if (l.outputSet.contains(a) && r.outputSet.contains(b))
            Some((a.exprId, b.exprId))
          else if (l.outputSet.contains(b) && r.outputSet.contains(a))
            Some((b.exprId, a.exprId))
          else None
        case _ => None
      }
      case _ => None
    }
    val eqPairs = conjuncts.flatMap(pairs).toSet
    val keyPaired = keyNames.indices.forall(i =>
      eqPairs.contains((lKeys(i).exprId, rKeys(i).exprId)))
    if (!keyPaired) return None
    val residual = conjuncts.filterNot(c => pairs(c).exists(p =>
      keyNames.indices.exists(i =>
        p == (lKeys(i).exprId, rKeys(i).exprId))))
    // Inner residuals become a post-join Filter (equivalent there);
    // outer residuals decide MATCHING (failing pairs null-extend, not
    // drop) and are carried INSIDE the node, remapped per division
    // below. A subquery in a residual would share its internal plan
    // (and ExprIds) across division branches — keep Spark's plan.
    val residExpr = residual.reduceOption(And(_, _))
    if (j.joinType != Inner &&
        residExpr.exists(_.exists(_.isInstanceOf[SubqueryExpression])))
      return None

    // Cost gates: a broadcastable side beats everything; too few
    // divisions under-utilizes one-task-per-range. Thread-local conf:
    // a clone's SET of the threshold governs the clone's plans.
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val thresh = conf.autoBroadcastJoinThreshold
    if (thresh >= 0 && (l.stats.sizeInBytes <= thresh ||
        r.stats.sizeInBytes <= thresh)) return None
    // Edges are byte-weighted over BOTH sides' sidecar sizes; the cap
    // scales with the cluster and the combined bytes. Each branch's
    // relation is pre-restricted to its slice's files (possibly
    // empty — the sides must stay positionally aligned), since the
    // branch bounds are codegen references invisible to pushdown.
    val maxD = graft.core.PDataset.divisionJoinMaxDivisions(
      session, Some(lIdx.sizeInBytes + rIdx.sizeInBytes))
    val minD = graft.core.PDataset.divisionJoinMinDivisions(session)
    val kLen = keyNames.length
    val merged = mergedEdgesWeighted(Seq(lIdx, rIdx), kLen, maxD, minD)
      .getOrElse(return None)
    val g = merged.length - 1
    val lFiles = sliceFiles(lIdx, kLen, merged)
    val rFiles = sliceFiles(rIdx, kLen, merged)

    def children(side: LogicalPlan,
        idx: org.apache.spark.sql.GraftFileIndex,
        files: IndexedSeq[IndexedSeq[Int]], keys: Seq[Attribute]):
        (IndexedSeq[LogicalPlan], IndexedSeq[Seq[Attribute]],
          IndexedSeq[Map[ExprId, Attribute]]) = {
      val built = (0 until g).map { i =>
        val (sub, m) = sliceChain(side, idx, files(i), first = i == 0)
        val keysI = keys.map(a => m.getOrElse(a.exprId, a))
        (Filter(rangePred(keysI, merged(i), merged(i + 1)), sub), keysI, m)
      }
      (built.map(_._1), built.map(_._2), built.map(_._3))
    }
    val (lChildren, lChildKeys, lMaps) = children(l, lIdx, lFiles, lKeys)
    val (rChildren, rChildKeys, rMaps) = children(r, rIdx, rFiles, rKeys)
    // Outer residuals ride inside the node, one per division with its
    // references remapped onto that division's fresh child attributes.
    val nodeResiduals: Seq[Expression] =
      if (j.joinType == Inner) Nil
      else residExpr.toSeq.flatMap(e => (0 until g).map { i =>
        e.transform {
          case a: Attribute => lMaps(i).getOrElse(a.exprId,
            rMaps(i).getOrElse(a.exprId, a))
        }
      })
    DivisionJoin.ensureStrategy(session)
    // Outer joins need the presence markers to reconstruct per-side
    // key columns; allocate the attrs HERE so plan copies keep ids.
    val presence: Seq[Attribute] =
      if (j.joinType == Inner || j.joinType == LeftSemi ||
          j.joinType == LeftAnti) Nil
      else Seq(
        AttributeReference("__l_present",
          org.apache.spark.sql.types.BooleanType, nullable = false)(),
        AttributeReference("__r_present",
          org.apache.spark.sql.types.BooleanType, nullable = false)())
    val node = DivisionJoinPlan(j.joinType, keyNames.toIndexedSeq, g,
      (lChildKeys ++ rChildKeys).flatten, lChildren ++ rChildren,
      presence, nodeResiduals)

    // Restore the ON-join output shape: the node emits keys ONCE
    // (division-0 left attrs — original ExprIds, value from whichever
    // side is present) plus both sides' non-keys. Right key columns
    // re-materialize from the coalesced keys — unconditionally for
    // inner (equal and non-null on every matched row), gated on the
    // right-presence marker for outer (unmatched rows surface NULL);
    // full-outer left keys gate on left presence the same way.
    val rKeyById: Map[ExprId, Int] =
      rKeys.map(_.exprId).zipWithIndex.toMap
    val lKeyById: Map[ExprId, Int] =
      lKeys.map(_.exprId).zipWithIndex.toMap
    def gated(i: Int, marker: Attribute): Expression =
      If(marker, lKeys(i), Literal(null, lKeys(i).dataType))
    val nodeOut = node.outputSet
    val projectList: Seq[NamedExpression] = j.output.map { a =>
      rKeyById.get(a.exprId) match {
        case Some(i) =>
          val v = if (j.joinType == Inner) lKeys(i)
            else gated(i, presence(1))
          Alias(v, a.name)(exprId = a.exprId, qualifier = a.qualifier)
        case None => lKeyById.get(a.exprId) match {
          case Some(i) if j.joinType == FullOuter =>
            Alias(gated(i, presence(0)), a.name)(exprId = a.exprId,
              qualifier = a.qualifier)
          case _ =>
            if (!nodeOut.contains(a)) return None // defensive: bail out
            a
        }
      }
    }
    val projected = Project(projectList, node)
    logInfo(s"graft: rewrote ${j.joinType} join on " +
      s"${keyNames.mkString(",")} to a zero-Exchange division join " +
      s"($g ranges)")
    Some(
      if (j.joinType == Inner)
        residExpr.map(Filter(_, projected)).getOrElse(projected)
      else projected)
  }
}
