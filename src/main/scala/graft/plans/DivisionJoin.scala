package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BasePredicate, BindReferences, BoundReference, Expression, JoinedRow, Predicate, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DataType

/** Shuffle-free division join (reference `joined_dataset.py:33-34`).
  *
  * Two datasets sliced by the SAME sorted division bounds are already
  * co-partitioned: division i of the left can only match division i of
  * the right, so the join needs no Exchange at all — each division pair
  * joins independently with an in-partition hash join (build = right,
  * probe = left), exactly the reference's per-division in-memory joins,
  * but planned inside Catalyst so each division's scan keeps file
  * pruning, pushed filters and codegen.
  *
  * The logical node carries 2n children (n left range slices, then n
  * right range slices); the physical node zips each pair into one
  * single-partition RDD and unions the results. Plan size is O(n);
  * [[graft.core.PDataset.join]] bounds n by merging adjacent
  * divisions into at most `divisionJoinMaxDivisions` contiguous range
  * slices, so the node serves ANY division count with a bounded plan
  * (per-task builds grow with the merged range — the spill fallback
  * below bounds their memory).
  *
  * Memory contract: one right-side DIVISION (not the whole dataset)
  * is built into a hash table per task — the same bound the reference
  * engine's per-division joins hold — and a division whose build side
  * exceeds `DivisionJoinExec.buildSpillThresholdBytes` falls back to a
  * Grace-style spill join (both sides hash-partition to disk on the
  * key, buckets join in memory one at a time), so a skewed division
  * degrades to disk instead of OOMing the executor. The node does NOT
  * reorder sides; callers of `PDataset.join` should put the smaller
  * dataset on the right (the build side) — `PDataset.join` swaps
  * size-known inner/full joins itself.
  */
case class DivisionJoinPlan(
    joinType: JoinType,
    keyNames: Seq[String],
    nDiv: Int,
    /** Key attributes of every child, flattened: child j's keys sit at
      * [j*k, (j+1)*k). Kept as EXPRESSIONS (not names) so optimizer
      * rules that rewrite attributes — RemoveRedundantAliases drops a
      * rename's alias and renames the child's output — rewrite these
      * references in lockstep; post-analysis, identity is the exprId,
      * never the name. */
    keyRefs: Seq[Attribute],
    children: Seq[LogicalPlan],
    /** When non-empty, exactly two PRE-ALLOCATED boolean attributes
      * (left-present, right-present) appended to the output: each
      * emitted row marks which sides contributed, letting an ON-join
      * rewrite reconstruct per-side key columns from the USING-style
      * coalesced keys (an unmatched outer row must surface NULL in
      * the absent side's key). Allocated by the caller — not here —
      * so plan copies keep stable ExprIds. */
    presenceAttrs: Seq[Attribute] = Nil,
    /** Per-division RESIDUAL join condition (beyond the positional
      * key equalities): division i's entry references division i's
      * child attributes and is evaluated INSIDE the per-division join
      * — a pair must satisfy it to MATCH, and outer rows whose every
      * key-equal partner fails it null-extend (post-join Filter
      * semantics would wrongly drop them). Empty = pure equi-join.
      * Kept as expressions so optimizer rules rewriting child
      * attributes rewrite these in lockstep (same discipline as
      * [[keyRefs]]). */
    residuals: Seq[Expression] = Nil) extends LogicalPlan {

  require(children.length == 2 * nDiv && nDiv > 0,
    "need one left and one right child per division")
  require(keyNames.nonEmpty && keyRefs.length == 2 * nDiv * keyNames.length,
    "need every division child's key attributes")
  require(presenceAttrs.isEmpty || presenceAttrs.length == 2,
    "presenceAttrs is (left-present, right-present) or empty")
  require(residuals.isEmpty || residuals.length == nDiv,
    "residuals is one condition per division or empty")

  private def k = keyNames.length
  private[plans] def keysOf(j: Int): Seq[Attribute] =
    keyRefs.slice(j * k, (j + 1) * k)

  /** Every EMITTED child column is consumed: rows from division j are
    * emitted under division 0's attribute ids, so a column-pruning
    * rule that only sees keyRefs + division 0's attrs in the output
    * would prune divisions 1..n-1 down to their keys and misalign the
    * emitted row layout (observed: garbage non-key values). Claiming
    * the full child outputs as references keeps every division
    * full-width. Semi/anti joins emit NO right columns, so the right
    * children claim only their keys (+ residual references) — a
    * pruning rule may then narrow the right-side scans to the join
    * keys, which at decontamination scale is the difference between
    * reading a table and reading one column of it. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      (joinType match {
        case org.apache.spark.sql.catalyst.plans.LeftSemi |
             org.apache.spark.sql.catalyst.plans.LeftAnti =>
          children.take(nDiv).flatMap(_.output)
        case _ => children.flatMap(_.output)
      }) ++ keyRefs ++ residuals.flatMap(_.references))

  /** USING-join layout: keys once (under their public names), then
    * left non-keys, right non-keys. Nullability follows Catalyst's
    * join semantics per side. Semi/anti joins emit the LEFT side only
    * (keys + left non-keys) — the right participates in matching, not
    * in the output. */
  override def output: Seq[Attribute] = {
    val keys = keysOf(0).zip(keyNames).map { case (a, n) => a.withName(n) }
    val leftKeyIds = keysOf(0).map(_.exprId).toSet
    val rightKeyIds = keysOf(nDiv).map(_.exprId).toSet
    val lRest = children.head.output.filterNot(a => leftKeyIds.contains(a.exprId))
    val rRest = children(nDiv).output.filterNot(a => rightKeyIds.contains(a.exprId))
    (joinType match {
      case Inner => keys ++ lRest ++ rRest
      case LeftOuter => keys ++ lRest ++ rRest.map(_.withNullability(true))
      case FullOuter => (keys ++ lRest).map(_.withNullability(true)) ++
        rRest.map(_.withNullability(true))
      case LeftSemi | LeftAnti => keys ++ lRest
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }) ++ presenceAttrs
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): DivisionJoinPlan =
    copy(children = newChildren)
}

object DivisionJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case dj: DivisionJoinPlan =>
      DivisionJoinExec(dj.joinType, dj.keyNames.length, dj.nDiv, dj.keyRefs,
        dj.output, dj.children.map(planLater),
        dj.presenceAttrs.nonEmpty, dj.residuals) :: Nil
    case _ => Nil
  }
}

case class DivisionJoinExec(
    joinType: JoinType,
    nKeys: Int,
    nDiv: Int,
    keyRefs: Seq[Attribute],
    output: Seq[Attribute],
    children: Seq[SparkPlan],
    emitPresence: Boolean = false,
    residuals: Seq[Expression] = Nil) extends SparkPlan {

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): DivisionJoinExec =
    copy(children = newChildren)

  /** Each division executes as exactly ONE output partition holding a
    * contiguous, DISJOINT key range: rows are routed by their own key
    * value under null-first lex order (outer null-extensions keep the
    * present side's in-range key; null-key rows all land in the range
    * covering the lex minimum), so every key value lives in exactly
    * one partition and partitions are range-ordered ascending /
    * nulls-first. Declaring that as [[RangePartitioning]] lets
    * EnsureRequirements elide the Exchange a downstream groupBy /
    * orderBy / distinct ON THE JOIN KEYS would otherwise insert over
    * the full join output — `a JOIN b USING (k) GROUP BY k` between
    * two 100 TB co-clustered tables runs Exchange-free end to end.
    * (Partitioning claims co-location only; no intra-partition order
    * is declared — a global sort still gets its local SortExec. Note
    * that upstream OrderedDistribution satisfaction is LITERAL
    * SortOrder equality — qualifier-sensitive — so ORDER BY composes
    * through an unqualified output alias, while ClusteredDistribution
    * uses semanticEquals and groupBy / distinct compose regardless of
    * how the key is spelled.) */
  override def outputPartitioning: Partitioning = {
    val keys = output.take(nKeys)
    if (keys.forall(a => RowOrdering.isOrderable(a.dataType)))
      RangePartitioning(keys.map(SortOrder(_, Ascending)), nDiv)
    else UnknownPartitioning(nDiv)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val perDivision = (0 until nDiv).map { i =>
      zipDivision(i, children(i), children(nDiv + i))
    }
    sparkContext.union(perDivision)
  }

  private def onePartition(rdd: RDD[InternalRow]): RDD[InternalRow] =
    rdd.getNumPartitions match {
      case 1 => rdd
      case 0 => sparkContext.parallelize(Seq.empty[InternalRow], 1)
      case _ => rdd.coalesce(1)
    }

  private def keysOf(j: Int): Seq[Attribute] =
    keyRefs.slice(j * nKeys, (j + 1) * nKeys)

  private def ordinalsOf(keys: Seq[Attribute], attrs: Seq[Attribute]): Array[Int] = {
    val ords = keys.map(k => attrs.indexWhere(_.exprId == k.exprId)).toArray
    require(ords.forall(_ >= 0),
      s"key attributes $keys missing from division side $attrs")
    ords
  }

  private def zipDivision(i: Int, l: SparkPlan, r: SparkPlan): RDD[InternalRow] = {
    val lAttrs = l.output
    val rAttrs = r.output
    val lTypes = lAttrs.map(_.dataType).toArray
    val rTypes = rAttrs.map(_.dataType).toArray
    val lKeyOrds = ordinalsOf(keysOf(i), lAttrs)
    val rKeyOrds = ordinalsOf(keysOf(nDiv + i), rAttrs)
    val lRestOrds =
      lAttrs.indices.filterNot(lKeyOrds.contains(_)).toArray
    // Semi/anti emit the left side only; right columns never surface.
    val rRestOrds =
      if (joinType == LeftSemi || joinType == LeftAnti) Array.empty[Int]
      else rAttrs.indices.filterNot(rKeyOrds.contains(_)).toArray
    val markers = if (emitPresence) 2 else 0
    require(nKeys + lRestOrds.length + rRestOrds.length + markers
        == output.length,
      s"division $i emits ${nKeys + lRestOrds.length + rRestOrds.length}" +
        s"+$markers columns but the declared output has " +
        s"${output.length} — a rule pruned division children " +
        "inconsistently")
    val jt = joinType
    val ep = emitPresence
    // Residual bound against (left ++ right) row layout, driver-side;
    // the predicate itself is created per-task (codegen on executor).
    val cond: Option[Expression] = residuals.lift(i).map(e =>
      BindReferences.bindReference(e, lAttrs ++ rAttrs))
    onePartition(l.execute()).zipPartitions(onePartition(r.execute())) {
      (lIt, rIt) =>
        DivisionJoinExec.joinIterators(lIt, rIt, jt, lTypes, rTypes,
          lKeyOrds, rKeyOrds, lRestOrds, rRestOrds, ep, cond)
    }
  }
}

object DivisionJoinExec {

  /** Byte bound on one division's in-memory build table; past it the
    * task falls back to the Grace-style spill join (bounded memory per
    * key-hash bucket). Var so specs can force the spill path on tiny
    * fixtures. */
  private[graft] var buildSpillThresholdBytes: Long = 256L << 20

  /** How many divisions took the spill path (test observability). */
  private[graft] val spillCount = new java.util.concurrent.atomic.AtomicLong

  private final class Entry(val rows: scala.collection.mutable.ArrayBuffer[InternalRow]) {
    var matched: Boolean = false
    /** Per-row matched flags — residual path only, where rows under
      * one key can match independently; lazily allocated. */
    private var bits: java.util.BitSet = null
    def markRow(i: Int): Unit = {
      if (bits == null) bits = new java.util.BitSet(rows.length)
      bits.set(i)
    }
    def rowMatched(i: Int): Boolean =
      matched || (bits != null && bits.get(i))
  }

  /** Per-division hash join: build = right (copied into a hash table),
    * probe = streamed left. SQL equi-join null semantics: a null key
    * component never matches; outer-side rows with null keys still
    * emit padded with nulls. Emits UnsafeRows (parents may shuffle).
    *
    * `cond` is a residual join condition (bound against left ++ right)
    * evaluated on key-equal candidate pairs: a pair MATCHES only when
    * it passes, so an outer row whose every key partner fails it
    * null-extends and a full-outer build row no probe passes against
    * emits in the tail — ON-clause semantics, not a post-join filter. */
  private[plans] def joinIterators(
      lIt: Iterator[InternalRow],
      rIt: Iterator[InternalRow],
      joinType: JoinType,
      lTypes: Array[DataType],
      rTypes: Array[DataType],
      lKeyOrds: Array[Int],
      rKeyOrds: Array[Int],
      lRestOrds: Array[Int],
      rRestOrds: Array[Int],
      emitPresence: Boolean,
      cond: Option[Expression] = None): Iterator[InternalRow] = {
    val nKeys = lKeyOrds.length
    // Whether a left row with no (passing) key partner is dropped
    // (inner, semi) or emitted (outer rows null-extend, anti rows ARE
    // the result). Null key components never match in SQL, so a
    // null-key left row counts as unmatched — kept by anti, as SQL's
    // NOT-EXISTS (not the null-aware NOT-IN) semantics require.
    val dropUnmatchedLeft = joinType == Inner || joinType == LeftSemi
    val existence = joinType == LeftSemi || joinType == LeftAnti
    val pred: Option[BasePredicate] = cond.map(Predicate.create)
    pred.foreach(_.initialize(
      Option(org.apache.spark.TaskContext.get()).map(_.partitionId())
        .getOrElse(0)))
    val joined = new JoinedRow
    val markers = if (emitPresence) 2 else 0
    val width = nKeys + lRestOrds.length + rRestOrds.length + markers
    val outTypes: Array[DataType] =
      lKeyOrds.map(lTypes) ++ lRestOrds.map(lTypes) ++
        rRestOrds.map(rTypes) ++ Array.fill[DataType](markers)(
          org.apache.spark.sql.types.BooleanType)
    val outProj = UnsafeProjection.create(outTypes)
    // Key bytes must match Catalyst's join-key semantics: -0.0 == 0.0
    // and NaN == NaN for float/double keys (the whole-frame fallback
    // normalizes via NormalizeFloatingNumbers; raw sign bits would
    // make results depend on which path the gate picked).
    def keyExpr(o: Int, t: Array[DataType]): org.apache.spark.sql.catalyst.expressions.Expression = {
      val ref = BoundReference(o, t(o), nullable = true)
      t(o) match {
        case org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType =>
          org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(ref)
        case _ => ref
      }
    }
    val lKeyProj = UnsafeProjection.create(lKeyOrds.map(keyExpr(_, lTypes)))
    val rKeyProj = UnsafeProjection.create(rKeyOrds.map(keyExpr(_, rTypes)))

    def hasNullKey(row: InternalRow, ords: Array[Int]): Boolean = {
      var i = 0
      while (i < ords.length) {
        if (row.isNullAt(ords(i))) return true
        i += 1
      }
      false
    }

    val vals = new Array[Any](width)
    def emit(l: InternalRow, r: InternalRow): InternalRow = {
      var o = 0
      var i = 0
      while (i < nKeys) { // keys from whichever side is present
        vals(o) =
          if (l != null) l.get(lKeyOrds(i), lTypes(lKeyOrds(i)))
          else r.get(rKeyOrds(i), rTypes(rKeyOrds(i)))
        o += 1; i += 1
      }
      i = 0
      while (i < lRestOrds.length) {
        vals(o) =
          if (l != null) l.get(lRestOrds(i), lTypes(lRestOrds(i))) else null
        o += 1; i += 1
      }
      i = 0
      while (i < rRestOrds.length) {
        vals(o) =
          if (r != null) r.get(rRestOrds(i), rTypes(rRestOrds(i))) else null
        o += 1; i += 1
      }
      if (emitPresence) {
        vals(o) = l != null
        vals(o + 1) = r != null
      }
      outProj(new GenericInternalRow(vals.clone()))
    }

    /** Probe `probe` against build table `m`, then (full outer) the
      * unmatched build rows and `nullRight`; the tail is deferred
      * until the probe is fully consumed so matched flags are final. */
    def memJoin(
        m: java.util.HashMap[UnsafeRow, Entry],
        nullRight: Iterable[InternalRow],
        probe: Iterator[InternalRow]): Iterator[InternalRow] = {
      val probed: Iterator[InternalRow] = probe.flatMap { l =>
        if (hasNullKey(l, lKeyOrds)) {
          if (dropUnmatchedLeft) Iterator.empty
          else Iterator.single(emit(l, null))
        } else {
          val e = m.get(lKeyProj(l))
          if (e == null) {
            if (dropUnmatchedLeft) Iterator.empty
            else Iterator.single(emit(l, null))
          } else if (existence) {
            // semi/anti: existence of one passing partner decides the
            // row; short-circuit instead of enumerating pairs.
            var found = pred.isEmpty
            var i = 0
            while (!found && i < e.rows.length) {
              if (pred.get.eval(joined.withLeft(l).withRight(e.rows(i))))
                found = true
              i += 1
            }
            if (found == (joinType == LeftSemi)) Iterator.single(emit(l, null))
            else Iterator.empty
          } else pred match {
            case None =>
              e.matched = true
              e.rows.iterator.map(r => emit(l, r))
            case Some(p) =>
              // key-equal candidates must also pass the residual to
              // MATCH; per-row flags (rows under one key match
              // independently), null-extend when none pass. Buffer
              // INDICES and emit lazily: emit()'s UnsafeProjection
              // reuses one row buffer, so buffering emitted rows
              // would alias every entry to the last match.
              val hits = scala.collection.mutable.ArrayBuffer.empty[Int]
              var i = 0
              while (i < e.rows.length) {
                if (p.eval(joined.withLeft(l).withRight(e.rows(i)))) {
                  e.markRow(i)
                  hits += i
                }
                i += 1
              }
              if (hits.isEmpty) {
                if (joinType == Inner) Iterator.empty
                else Iterator.single(emit(l, null))
              } else hits.iterator.map(i2 => emit(l, e.rows(i2)))
          }
        }
      }
      val tail: Iterator[InternalRow] =
        if (joinType != FullOuter) Iterator.empty
        else Iterator.single(()).flatMap { _ =>
          import scala.jdk.CollectionConverters._
          m.values.iterator.asScala.flatMap { e =>
            if (pred.isEmpty) {
              if (e.matched) Iterator.empty
              else e.rows.iterator.map(r => emit(null, r))
            } else e.rows.iterator.zipWithIndex.collect {
              case (r, i) if !e.rowMatched(i) => emit(null, r)
            }
          } ++ nullRight.iterator.map(r => emit(null, r))
        }
      probed ++ tail
    }

    def putBuild(m: java.util.HashMap[UnsafeRow, Entry],
        k: UnsafeRow, r: InternalRow): Unit = {
      var e = m.get(k)
      if (e == null) {
        e = new Entry(scala.collection.mutable.ArrayBuffer.empty)
        m.put(k, e)
      }
      e.rows += r
    }

    def rowBytes(r: InternalRow): Long = r match {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case o => 32L + 16L * o.numFields
    }

    // Build phase: one right DIVISION in memory — the contract the
    // reference's per-division in-memory joins hold too — but byte-
    // tracked: a division whose build side exceeds the spill threshold
    // falls back to the Grace-style disk join below instead of OOMing
    // the executor.
    val maxBytes = buildSpillThresholdBytes
    // Existence joins with no residual only ever test key MEMBERSHIP:
    // build the key set alone (an Entry with no rows), not the right
    // rows — at corpus-vs-corpus decontamination scale the build side
    // shrinks from the table to its distinct keys.
    val keysOnly = existence && cond.isEmpty
    val map = new java.util.HashMap[UnsafeRow, Entry]()
    val nullKeyRight = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var buildBytes = 0L
    var overflow = false
    while (rIt.hasNext && !overflow) {
      val r = rIt.next()
      if (hasNullKey(r, rKeyOrds)) {
        if (joinType == FullOuter) {
          val rc = r.copy()
          nullKeyRight += rc
          buildBytes += rowBytes(rc)
        }
      } else if (keysOnly) {
        val k = rKeyProj(r)
        if (!map.containsKey(k)) {
          val kc = k.copy()
          map.put(kc, new Entry(scala.collection.mutable.ArrayBuffer.empty))
          buildBytes += kc.getSizeInBytes.toLong
        }
      } else {
        val k = rKeyProj(r).copy()
        val rc = r.copy()
        putBuild(map, k, rc)
        buildBytes += k.getSizeInBytes + rowBytes(rc)
      }
      if (buildBytes > maxBytes) overflow = true
    }
    if (!overflow) return memJoin(map, nullKeyRight, lIt)

    // ---- Grace-style spill join ----
    // Both sides hash-partition on the key into nPart disk buckets
    // (the partial in-memory build is drained to disk first); each
    // bucket then joins in memory at ~1/nPart of the division — the
    // per-task memory bound is max(bucket build) instead of the whole
    // division. Null-key rows bypass the buckets: outer left rows and
    // full-outer right rows go to dedicated files and emit padded.
    spillCount.incrementAndGet()
    val nPart = 64
    val dir = java.nio.file.Files.createTempDirectory("graft-divjoin-spill")
      .toFile
    val ctx = org.apache.spark.TaskContext.get()
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec))
      f.delete(); ()
    }
    if (ctx != null)
      ctx.addTaskCompletionListener[Unit](_ => deleteRec(dir))
    val writeBuf = new Array[Byte](8192)
    val lRowProj = UnsafeProjection.create(lTypes)
    val rRowProj = UnsafeProjection.create(rTypes)
    def open(name: String) = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name))))
    def writeRow(out: java.io.DataOutputStream, row: InternalRow,
        proj: UnsafeProjection): Unit = {
      val u = row match {
        case u: UnsafeRow => u
        case o => proj(o)
      }
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, writeBuf)
    }
    def bucketOf(k: UnsafeRow): Int = (k.hashCode & 0x7fffffff) % nPart

    // 1. drain the partial build + the rest of the right side to disk
    val bOut = Array.tabulate(nPart)(p => open(s"b$p"))
    val nullROut = if (joinType == FullOuter) open("nullr") else null
    // keysOnly buckets hold KEY-layout rows (nKeys fields); full
    // buckets hold right-layout rows.
    map.forEach { (k, e) =>
      val p = bucketOf(k)
      if (keysOnly) writeRow(bOut(p), k, rRowProj)
      else e.rows.foreach(writeRow(bOut(p), _, rRowProj))
    }
    map.clear()
    nullKeyRight.foreach(writeRow(nullROut, _, rRowProj))
    nullKeyRight.clear()
    while (rIt.hasNext) {
      val r = rIt.next()
      if (hasNullKey(r, rKeyOrds)) {
        if (joinType == FullOuter) writeRow(nullROut, r, rRowProj)
      } else if (keysOnly) {
        val k = rKeyProj(r)
        writeRow(bOut(bucketOf(k)), k, rRowProj)
      } else writeRow(bOut(bucketOf(rKeyProj(r))), r, rRowProj)
    }
    bOut.foreach(_.close())
    if (nullROut != null) nullROut.close()

    // 2. spill the probe side by bucket (null keys to their own file)
    val pOut = Array.tabulate(nPart)(p => open(s"p$p"))
    val nullLOut = if (!dropUnmatchedLeft) open("nulll") else null
    while (lIt.hasNext) {
      val l = lIt.next()
      if (hasNullKey(l, lKeyOrds)) {
        if (!dropUnmatchedLeft) writeRow(nullLOut, l, lRowProj)
      } else writeRow(pOut(bucketOf(lKeyProj(l))), l, lRowProj)
    }
    pOut.foreach(_.close())
    if (nullLOut != null) nullLOut.close()

    def readRows(name: String, nFields: Int): Iterator[UnsafeRow] = {
      val f = new java.io.File(dir, name)
      if (!f.exists() || f.length() == 0) return Iterator.empty
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
      var remaining = f.length()
      new Iterator[UnsafeRow] {
        override def hasNext: Boolean = {
          val more = remaining > 0
          if (!more) in.close()
          more
        }
        override def next(): UnsafeRow = {
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          remaining -= 4L + len
          val row = new UnsafeRow(nFields)
          row.pointTo(bytes, len)
          row
        }
      }
    }

    // 3. join bucket by bucket: one bucket's build table in memory at
    // a time, each bucket's full-outer tail emitted via memJoin.
    val buckets = (0 until nPart).iterator.flatMap { p =>
      val m = new java.util.HashMap[UnsafeRow, Entry]()
      if (keysOnly)
        readRows(s"b$p", nKeys).foreach { k =>
          if (!m.containsKey(k))
            m.put(k, new Entry(scala.collection.mutable.ArrayBuffer.empty))
        }
      else readRows(s"b$p", rTypes.length).foreach { r =>
        putBuild(m, rKeyProj(r).copy(), r)
      }
      memJoin(m, Nil, readRows(s"p$p", lTypes.length))
    }
    val nullLeftEmits =
      if (dropUnmatchedLeft) Iterator.empty
      else readRows("nulll", lTypes.length).map(l => emit(l, null))
    val nullRightEmits =
      if (joinType != FullOuter) Iterator.empty
      else readRows("nullr", rTypes.length).map(r => emit(null, r))
    buckets ++ nullLeftEmits ++ nullRightEmits
  }
}

object DivisionJoin {

  /** Install the planner strategy on the session (idempotent). */
  def ensureStrategy(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(DivisionJoinStrategy))
      spark.experimental.extraStrategies = cur :+ DivisionJoinStrategy
  }

  /** A shuffle-free division-join frame over aligned per-division
    * slices, or None when the shape doesn't qualify (no key columns,
    * or a self-join whose sides share attribute ids — Catalyst's
    * deduplication doesn't reach inside a custom node). */
  def frame(
      spark: SparkSession,
      lefts: IndexedSeq[DataFrame],
      rights: IndexedSeq[DataFrame],
      keyCols: Seq[String],
      how: String): Option[DataFrame] = {
    if (keyCols.isEmpty || lefts.isEmpty || lefts.length != rights.length)
      return None
    val jt: JoinType = how match {
      case "inner" => Inner
      case "left" => LeftOuter
      case "full" => FullOuter
      case "semi" => LeftSemi
      case "anti" => LeftAnti
      case _ => return None
    }
    val lPlans = lefts.map(_.queryExecution.analyzed)
    val rPlans = rights.map(_.queryExecution.analyzed)
    val lIds = lPlans.flatMap(_.output.map(_.exprId)).toSet
    if (rPlans.exists(_.output.exists(a => lIds.contains(a.exprId))))
      return None
    // Pin each child's key ATTRIBUTES now, while analysis-time names
    // are still intact; from here on identity is the exprId.
    val keyRefs = (lPlans ++ rPlans).flatMap { p =>
      keyCols.map(n => p.output.find(_.name == n).orNull)
    }
    if (keyRefs.contains(null)) return None
    ensureStrategy(spark)
    Some(GraftBridge.ofRows(spark,
      DivisionJoinPlan(jt, keyCols, lefts.length, keyRefs, lPlans ++ rPlans)))
  }
}
