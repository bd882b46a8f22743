package graft.core

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer

import Lex.Bound
import Stats.PartStats

class StatsUnknownError(msg: String) extends RuntimeException(msg)
class AppendError(msg: String) extends RuntimeException(msg)

/** A partitioned dataset with driver-side per-partition statistics.
  *
  * The Spark-native rebuild of the reference engine's `Dataset`
  * abstraction (padawan `dataset.py:59-124`): a lazy, ordered list of
  * partitions, each materializable as a `DataFrame`, plus first-class
  * metadata — designated index columns and per-partition row counts and
  * null-first lexicographic index bounds. The metadata lives on the
  * driver (exactly like the reference) and powers partition pruning,
  * metadata-only reindexing, co-partitioned range joins, size-aware
  * collation and sampling-based repartitioning BEFORE any Spark job
  * launches. Row-level execution is delegated to Spark/Catalyst via
  * [[toDF]] (the analogue of the reference delegating to polars).
  *
  * Knowledge is tri-state: sizes/bounds/schema may each be unknown
  * ([[knownSizes]]/[[knownBounds]]/[[knownSchema]]); operators degrade
  * gracefully and the ones that need stats throw [[StatsUnknownError]]
  * with a pointer to [[reindex]].
  *
  * Scale design: a partition is addressed by a parquet file (or a lazy
  * plan), so a 100 TB dataset is just a long file list + O(npartitions)
  * driver metadata; stats collection is one single-pass job grouped by
  * file; pruning is a driver-side filter over the file list that feeds
  * Catalyst a smaller scan.
  */
final class PDataset private[core] (
    val spark: SparkSession,
    private[core] val parts: IndexedSeq[PDataset.Part],
    val indexColumns: Seq[String],
    private val sizesOpt: Option[IndexedSeq[Long]],
    private val lbsOpt0: Option[IndexedSeq[Bound]],
    private val ubsOpt0: Option[IndexedSeq[Bound]],
    private val schemaOpt: Option[StructType],
    /** Set by [[repartition]]: [[writeParquet]] tags rows with the
      * division router over the source, one scan for all partitions
      * (reference: `repartitioned_dataset.py:246-341`). */
    private[core] val fastWritePlan: Option[PDataset.FastWritePlan] = None,
    /** Set by [[join]]: a whole-frame plan equivalent to the union of
      * all partitions that [[toDF]] prefers — one Catalyst join node
      * instead of O(npartitions) unioned per-division joins, whose plan
      * size would bottleneck the driver at thousands of divisions. */
    private[core] val wholeFrameOpt: Option[() => DataFrame] = None,
    /** Set by row-mode [[repartition]]: [[writeParquet]] tags rows with
      * a two-pass global row ordinal (count per scan task, then one
      * tagged shuffle) instead of re-executing the RowSlicer per
      * output partition. */
    private[core] val rowWritePlan: Option[PDataset.RowWritePlan] = None) {

  import PDataset._

  require(parts.nonEmpty || schemaOpt.isDefined,
    "schema must be known when number of partitions is zero")
  sizesOpt.foreach(s => require(s.length == parts.length, "sizes has the wrong length"))

  // With no index columns, bounds are canonically empty tuples
  // (reference: dataset.py:122-124).
  private val lbsOpt: Option[IndexedSeq[Bound]] =
    if (indexColumns.isEmpty) Some(Vector.fill(parts.length)(Lex.emptyBound))
    else lbsOpt0
  private val ubsOpt: Option[IndexedSeq[Bound]] =
    if (indexColumns.isEmpty) Some(Vector.fill(parts.length)(Lex.emptyBound))
    else ubsOpt0
  locally {
    lbsOpt.foreach { b =>
      require(b.length == parts.length, "lower_bounds has the wrong length")
      require(b.forall(_.length == indexColumns.length),
        "all lower bounds must have the same length as index_columns")
    }
    ubsOpt.foreach { b =>
      require(b.length == parts.length, "upper_bounds has the wrong length")
      require(b.forall(_.length == indexColumns.length),
        "all upper bounds must have the same length as index_columns")
    }
  }

  // ---- metadata accessors ----

  def npartitions: Int = parts.length
  def knownSizes: Boolean = sizesOpt.isDefined
  def knownBounds: Boolean = lbsOpt.isDefined && ubsOpt.isDefined
  def knownSchema: Boolean = schemaOpt.isDefined
  def sizes: Option[IndexedSeq[Long]] = sizesOpt
  def lowerBounds: Option[IndexedSeq[Bound]] = lbsOpt
  def upperBounds: Option[IndexedSeq[Bound]] = ubsOpt
  def schemaOption: Option[StructType] = schemaOpt

  /** The i-th partition as a DataFrame (negative indices from the end). */
  def apply(i: Int): DataFrame = {
    val idx = if (i < 0) parts.length + i else i
    require(idx >= 0 && idx < parts.length, s"Partition index $i is out of range.")
    partDF(parts(idx))
  }

  private def partDF(p: Part): DataFrame = p match {
    case FilePart(file, filters, fmt, renames) =>
      filters.foldLeft(readFiles(fmt, Seq(file), renames))(
        (df, f) => df.filter(f.toColumn))
    case LazyPart(thunk) => thunk()
    case SlicePart(src, lo, hi) =>
      src.slice(lo.orNull, hi.orNull, inclusive = "lower").toDF
  }

  /** `files` of one format as ONE relation under this dataset's
    * schema. `renames` (physical → logical) gives the reader the
    * on-disk names and restores the logical ones with a rename
    * Project, which Catalyst collapses into the scan. */
  private def readFiles(
      fmt: String, files: Seq[String], renames: Map[String, String]): DataFrame = {
    var reader = spark.read.format(fmt)
    val toPhys = renames.map(_.swap)
    schemaOpt.foreach(s => reader = reader.schema(
      if (renames.isEmpty) s
      else StructType(s.fields.map(f =>
        f.copy(name = toPhys.getOrElse(f.name, f.name))))))
    if (fmt == "csv") reader = reader.option("header", "true")
    val df = reader.load(files: _*)
    if (renames.isEmpty) df else df.withColumnsRenamed(renames)
  }

  private def partThunks: IndexedSeq[() => DataFrame] = {
    val self = this
    parts.map(p => () => self.partDF(p))
  }

  /** All partitions as one DataFrame, in partition order.
    *
    * Consecutive filter-free file partitions collapse into a single
    * multi-file parquet relation so Catalyst sees one scan (predicate
    * pushdown, rowgroup skipping and whole-stage codegen apply across
    * the whole range) instead of an N-way union.
    */
  def toDF: DataFrame = wholeFrameOpt match {
    case Some(whole) => whole()
    case None => contiguousSliceRun match {
      // The union of contiguous division slices [lo,d1)∪[d1,d2)∪…∪[dk,hi)
      // IS the single slice [lo, hi) of the source: plan ONE pruned scan
      // of it instead of one scan per division. (toDF is row-multiset
      // semantics — like the written-dataset fast path, whose split
      // packing already reorders files — so division order need not be
      // re-established with a shuffle.)
      case Some((src, lo, hi, _)) =>
        src.slice(lo.orNull, hi.orNull, inclusive = "lower").toDF
      case None => toDFUnion
    }
  }

  /** If every partition is a [[PDataset.SlicePart]] of the SAME source
    * and the ranges chain contiguously (each hi == the next lo, inner
    * boundaries all finite), the whole frame equals one slice of that
    * source. Returns (source, first lo, last hi, inner boundaries).
    * The finiteness requirement on inner boundaries is what rejects
    * e.g. a concat of two full repartitions of one source (None==None
    * junctions), whose union is NOT a single slice. */
  private[core] def contiguousSliceRun
      : Option[(PDataset, Option[Bound], Option[Bound], IndexedSeq[Bound])] = {
    if (parts.isEmpty) return None
    val sps = parts.collect { case sp: SlicePart => sp }
    if (sps.length != parts.length) return None
    val src = sps.head.src
    if (!sps.forall(_.src eq src)) return None
    val chained = (0 until sps.length - 1).forall { i =>
      sps(i).hi.isDefined && sps(i).hi == sps(i + 1).lo
    }
    if (!chained) return None
    Some((src, sps.head.lo, sps.last.hi, sps.tail.map(_.lo.get)))
  }

  private def toDFUnion: DataFrame = {
    if (parts.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schemaOpt.get)

    // Single-relation fast path: every partition is a plain file of one
    // format. Catalyst sees ONE scan over the whole dataset (one
    // whole-stage-codegen span, one pushdown site, no union) instead of
    // up to three relations. Slice-attached residual filters apply as a
    // global conjunction ONLY when that is provably row-equivalent:
    // each filter must hold on every partition that doesn't carry it,
    // checked driver-side against the partition bounds (the same
    // lexCmp criterion slice uses for elision). This is automatic for
    // a dataset sliced in place, and correctly REJECTED when e.g.
    // concat mixed a sliced dataset's filtered parts with another
    // dataset's unfiltered parts. With bounds + schema known the
    // relation's file listing is served by the sidecar-aware
    // GraftFileIndex, so pushed data filters on the leading index
    // column prune FILES inside Catalyst too.
    val fps = parts.collect { case fp: FilePart => fp }
    if (fps.length == parts.length && fps.map(_.fmt).distinct.length == 1 &&
        fps.map(_.renames).distinct.length == 1) {
      val fmt = fps.head.fmt
      val renames = fps.head.renames // physical → logical
      val allFilters = fps.flatMap(_.filters).distinctBy(_.signature)
      val globallySafe =
        allFilters.isEmpty || (knownBounds && fps.indices.forall { i =>
          val own = fps(i).filters.map(_.signature).toSet
          allFilters.forall(f => own.contains(f.signature) ||
            f.satisfiedBy(lbsOpt.get(i), ubsOpt.get(i)))
        })
      if (globallySafe) {
        val base: DataFrame =
          if (fmt == "parquet" && knownBounds && knownSchema &&
              indexColumns.nonEmpty)
            // Exact per-file row counts ride along when known (a
            // slice that may have cut rows clears them): ungrouped
            // count(*)/min/max over the bare toDF then fold from
            // metadata; residual filters sit ABOVE the relation, so
            // the metadata rule declines those plans by shape.
            // Renamed columns translate to on-disk names at the
            // parquet reader boundary (GraftRenameParquetFileFormat):
            // relation, pruning index and pushed filters all stay
            // logical, so the plan SHAPE is identical to an unrenamed
            // table (metadata-only folds keep matching).
            org.apache.spark.sql.GraftRelations.sidecarParquetDF(
              spark, fps.map(_.file), schemaOpt.get, indexColumns,
              lbsOpt.get, ubsOpt.get, rowCounts = sizesOpt,
              renames = renames.map(_.swap))
          else readFiles(fmt, fps.map(_.file), renames)
        return allFilters.foldLeft(base)((df, f) => df.filter(f.toColumn))
      }
    }

    val pieces = ArrayBuffer.empty[DataFrame]
    val run = ArrayBuffer.empty[String]
    var runFmt = "parquet"
    var runRenames: Map[String, String] = Map.empty
    def flushRun(): Unit = if (run.nonEmpty) {
      pieces += readFiles(runFmt, run.toSeq, runRenames)
      run.clear()
    }
    parts.foreach {
      case FilePart(f, Nil, fmt, renames) =>
        if (run.nonEmpty && (fmt != runFmt || renames != runRenames))
          flushRun()
        runFmt = fmt
        runRenames = renames
        run += f
      case p => flushRun(); pieces += partDF(p)
    }
    flushRun()
    pieces.reduceLeft(_.union(_))
  }

  /** Alias for [[toDF]]; materialization happens at the next action
    * (reference `collect` pulls to memory; Spark stays lazy). */
  def collect(): DataFrame = toDF

  // ---- disjointness ----

  /** True if the partitions' index ranges are pairwise non-overlapping
    * (strictly: sorted by (lb,ub), every ub < next lb). */
  def isDisjoint: Boolean = {
    if (parts.length <= 1 || indexColumns.isEmpty) return true
    if (!knownBounds)
      throw new StatsUnknownError(
        "Bounds must be known to check disjointness. Try using reindex first.")
    val order = Lex.sortPartitions(lbsOpt.get, ubsOpt.get)
    val lbs = order.map(lbsOpt.get)
    val ubs = order.map(ubsOpt.get)
    (0 until order.length - 1).forall(i => Lex.lexCmp(ubs(i), lbs(i + 1)) < 0)
  }

  def assertDisjoint(): PDataset = {
    if (!isDisjoint) throw new AssertionError("Partitions are not disjoint.")
    this
  }

  // ---- reindex ----

  /** Declare index columns and (optionally) compute per-partition stats.
    *
    * Metadata-only fast path when the new index is a prefix of the old
    * (truncate stored bounds, zero I/O; reference
    * `reindexed_dataset.py:34-44`). Otherwise one stats job: a single
    * file-grouped pass for file-backed datasets, else one pass per
    * partition (run concurrently). Empty partitions are dropped when
    * stats are collected.
    */
  def reindex(
      indexColumns: Seq[String] = null,
      collectStats: Boolean = true): PDataset = {
    val newCols = Option(indexColumns).getOrElse(this.indexColumns)
    if (knownBounds && knownSizes && newCols == this.indexColumns) return this

    // Prefix fast path: pure driver metadata.
    if (knownBounds && knownSizes &&
        newCols.length <= this.indexColumns.length &&
        newCols == this.indexColumns.take(newCols.length)) {
      val k = newCols.length
      return new PDataset(spark, parts, newCols, sizesOpt,
        Some(lbsOpt.get.map(_.take(k))), Some(ubsOpt.get.map(_.take(k))),
        schemaOpt)
    }

    if (!collectStats)
      return new PDataset(spark, parts, newCols, sizesOpt, None, None, schemaOpt)

    val stats: IndexedSeq[PartStats] = allPlainFiles match {
      case Some((files, fmt, renames)) =>
        // renamed files are statted under their on-disk names; the
        // returned values are name-agnostic
        val toPhys = renames.map(_.swap)
        val byFile = Stats.forFiles(spark, files,
          newCols.map(c => toPhys.getOrElse(c, c)),
          schemaOpt.map(sch =>
            if (renames.isEmpty) sch
            else StructType(sch.fields.map(f =>
              f.copy(name = toPhys.getOrElse(f.name, f.name))))), fmt)
        files.map { f =>
          byFile.getOrElse(Stats.normalizePath(f), PartStats(0L, null, null))
        }.toVector
      case None => Stats.forParts(partThunks, newCols)
    }
    val keep = parts.indices.filter(i => stats(i).size > 0)
    val schema = schemaOpt.orElse(
      if (parts.nonEmpty) Some(this(0).schema) else None)
    new PDataset(
      spark,
      keep.map(parts).toVector,
      newCols,
      Some(keep.map(i => stats(i).size).toVector),
      Some(keep.map(i => stats(i).lb).toVector),
      Some(keep.map(i => stats(i).ub).toVector),
      schema)
  }

  /** All partitions that are plain single-file reads (no residual
    * filters) — enables single-job stats and merged scans. */
  private def allPlainFiles
      : Option[(IndexedSeq[String], String, Map[String, String])] = {
    val fs = parts.collect { case FilePart(f, Nil, fmt, rn) => (f, fmt, rn) }
    if (fs.length == parts.length && fs.map(_._2).distinct.length <= 1 &&
        fs.map(_._3).distinct.length <= 1)
      Some((fs.map(_._1).toVector,
        fs.headOption.map(_._2).getOrElse("parquet"),
        fs.headOption.map(_._3).getOrElse(Map.empty)))
    else None
  }

  // ---- slice ----

  /** Range-slice on (a prefix of) the index columns.
    *
    * Driver-side: prune partitions whose [lb,ub] cannot overlap, keep
    * sizes when the slice provably cuts nothing, tighten reported
    * bounds. Per surviving partition a residual lexicographic filter is
    * attached ONLY if its bound actually crosses the slice bound
    * (reference `sliced_dataset.py:8-194`). `inclusive` is one of
    * "none", "lower", "upper", "both".
    */
  def slice(
      lb: Seq[Option[Any]] = null,
      ub: Seq[Option[Any]] = null,
      inclusive: String = "lower"): PDataset = {
    if (!knownBounds)
      throw new StatsUnknownError(
        "Bounds must be known for slicing. Use reindex first.")
    val (lowerInc, upperInc) = inclusive match {
      case "none"  => (false, false)
      case "lower" => (true, false)
      case "upper" => (false, true)
      case "both"  => (true, true)
      case other => throw new IllegalArgumentException(
        s"inclusive must be 'none', 'lower', 'upper' or 'both', got '$other'")
    }
    val lbOpt = Option(lb).map(_.toVector)
    val ubOpt = Option(ub).map(_.toVector)
    lbOpt.foreach(b => require(b.length <= indexColumns.length,
      "Lower bound must be a tuple of the same length or shorter than index_columns"))
    ubOpt.foreach(b => require(b.length <= indexColumns.length,
      "Upper bound must be a tuple of the same length or shorter than index_columns"))

    val oLbs = lbsOpt.get
    val oUbs = ubsOpt.get

    // (i) prune partitions by bound overlap — pure driver metadata.
    var kept = parts.indices.toVector
    lbOpt.foreach { b =>
      val k = b.length
      kept = kept.filter { p =>
        val c = Lex.lexCmp(b, oUbs(p).take(k))
        if (lowerInc) c <= 0 else c < 0
      }
    }
    ubOpt.foreach { b =>
      val k = b.length
      kept = kept.filter { p =>
        val c = Lex.lexCmp(oLbs(p).take(k), b)
        if (upperInc) c <= 0 else c < 0
      }
    }

    var newLbs = kept.map(oLbs)
    var newUbs = kept.map(oUbs)

    // (ii) keep sizes iff the slice provably cuts no kept partition.
    val lbIrrelevant = lbOpt.forall { b =>
      val k = b.length
      newLbs.forall { pb =>
        val c = Lex.lexCmp(b, pb.take(k))
        if (lowerInc) c <= 0 else c < 0
      }
    }
    val ubIrrelevant = ubOpt.forall { b =>
      val k = b.length
      newUbs.forall { pb =>
        val c = Lex.lexCmp(pb.take(k), b)
        if (upperInc) c <= 0 else c < 0
      }
    }
    val newSizes: Option[IndexedSeq[Long]] =
      if (lbIrrelevant && ubIrrelevant) sizesOpt.map(s => kept.map(s))
      else None

    // (iii) tighten reported bounds (intended symmetric tightening; the
    // reference's block has a latent NameError for ub-only slices,
    // sliced_dataset.py:116-120 — we implement the intent).
    lbOpt.foreach { b =>
      if (lowerInc && b.length == indexColumns.length)
        newLbs = newLbs.map(pb => Lex.lexMax(pb, b))
    }
    ubOpt.foreach { b =>
      if (upperInc && b.length == indexColumns.length)
        newUbs = newUbs.map(pb => Lex.lexMin(pb, b))
    }

    // (iv) residual filter per partition only where its bound crosses
    // the slice bound.
    val newParts: IndexedSeq[Part] = kept.map { p =>
      val filters = ArrayBuffer.empty[SliceFilter]
      lbOpt.foreach { b =>
        val k = b.length
        val cols = this.indexColumns.take(k)
        val partLb = oLbs(p).take(k)
        if (lowerInc) {
          if (Lex.lexCmp(partLb, b) < 0)
            filters += SliceFilter(cols, b, "geq")
        } else {
          if (Lex.lexCmp(partLb, b) <= 0)
            filters += SliceFilter(cols, b, "gt")
        }
      }
      ubOpt.foreach { b =>
        val k = b.length
        val cols = this.indexColumns.take(k)
        val partUb = oUbs(p).take(k)
        if (upperInc) {
          if (Lex.lexCmp(b, partUb) < 0)
            filters += SliceFilter(cols, b, "leq")
        } else {
          if (Lex.lexCmp(b, partUb) <= 0)
            filters += SliceFilter(cols, b, "lt")
        }
      }
      parts(p) match {
        case FilePart(f, fs, fmt, rn) =>
          FilePart(f, fs ++ filters.toList, fmt, rn)
        case sp: SlicePart =>
          // A lower-inclusive range filter intersects a SlicePart's
          // [lo, hi) range directly (geq b tightens lo to b — attach
          // implies b above the part's stats lb hence above lo; lt u
          // symmetrically tightens hi), keeping the part
          // driver-inspectable so contiguous-run planning survives
          // slicing. Other inclusivities (gt/leq) fall back to an
          // opaque filtered part.
          if (filters.isEmpty) sp
          else if (filters.forall(f => f.kind == "geq" || f.kind == "lt")) {
            filters.foldLeft(sp) { (acc, f) =>
              if (f.kind == "geq") acc.copy(lo = Some(f.bound))
              else acc.copy(hi = Some(f.bound))
            }
          } else {
            val self = this
            val preds = filters.toList.map(_.toColumn)
            LazyPart(() => preds.foldLeft(self.partDF(sp))(_.filter(_)))
          }
        case lp: LazyPart =>
          if (filters.isEmpty) lp
          else {
            val self = this
            val preds = filters.toList.map(_.toColumn)
            LazyPart(() => preds.foldLeft(self.partDF(lp))(_.filter(_)))
          }
      }
    }

    new PDataset(spark, newParts, this.indexColumns, newSizes,
      Some(newLbs), Some(newUbs), schemaOpt)
  }

  // ---- map / rename ----

  /** Apply a function to every partition (the reference's `map`, its
    * user-function escape hatch: mapped_dataset.py:6-143). `preserves`
    * in {"none","sizes","bounds","all"} declares which stats survive —
    * an unchecked contract, exactly like the reference.
    */
  def mapPartitionsP(
      func: DataFrame => DataFrame,
      indexColumns: Seq[String] = null,
      schema: StructType = null,
      preserves: String = "none"): PDataset =
    mapIndexed((df, _) => func(df), indexColumns, schema, preserves)

  /** Like [[mapPartitionsP]] but the function also receives the
    * partition index (the `extra_args` analogue). */
  def mapIndexed(
      func: (DataFrame, Int) => DataFrame,
      indexColumns: Seq[String] = null,
      schema: StructType = null,
      preserves: String = "none"): PDataset = {
    val preservesSizes = preserves == "all" || preserves == "sizes"
    val preservesBounds = preserves == "all" || preserves == "bounds"
    val newCols = Option(indexColumns).getOrElse(this.indexColumns)
    if (preservesBounds && newCols != this.indexColumns &&
        newCols != this.indexColumns.take(newCols.length))
      throw new IllegalArgumentException(
        "Index columns must be prefix-compatible when bounds are preserved.")
    val k = newCols.length
    val newSizes = if (preservesSizes) sizesOpt else None
    val (newLbs, newUbs) =
      if (preservesBounds && knownBounds)
        (Some(lbsOpt.get.map(_.take(k))), Some(ubsOpt.get.map(_.take(k))))
      else (None, None)
    val self = this
    val newParts = parts.zipWithIndex.map { case (p, i) =>
      LazyPart(() => func(self.partDF(p), i)): Part
    }
    new PDataset(spark, newParts, newCols, newSizes, newLbs, newUbs,
      Option(schema))
  }

  /** Rename columns; metadata (index columns, schema) renamed, bounds
    * and sizes carried through untouched. */
  def rename(mapping: Map[String, String]): PDataset = {
    val newCols = this.indexColumns.map(c => mapping.getOrElse(c, c))
    val newSchema = schemaOpt.map(s =>
      StructType(s.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name)))))
    val self = this
    val newParts = parts.map { p =>
      LazyPart(() => self.partDF(p).withColumnsRenamed(mapping)): Part
    }
    new PDataset(spark, newParts, newCols, sizesOpt, lbsOpt, ubsOpt, newSchema)
  }

  // ---- collate ----

  /** Greedily merge adjacent (index-sorted) partitions until each batch
    * holds at least `rowsPerPartition` rows; never splits. Requires
    * known stats. Pure driver planning + multi-file reads — no shuffle
    * (reference: collated_dataset.py:7-92; we fix its documented
    * precedence bug and require sizes AND bounds).
    */
  def collate(rowsPerPartition: Long): PDataset = {
    if (!knownSizes || !knownBounds)
      throw new StatsUnknownError(
        "Stats must be known to use collate. Use reindex first.")
    val order = Lex.sortPartitions(lbsOpt.get, ubsOpt.get)
    val batches = ArrayBuffer.empty[Vector[Int]]
    val bLbs = ArrayBuffer.empty[Bound]
    val bUbs = ArrayBuffer.empty[Bound]
    val bSizes = ArrayBuffer.empty[Long]
    var cur = Vector.empty[Int]
    var size = 0L
    var lb: Bound = null
    var ub: Bound = null
    def flush(): Unit = {
      batches += cur; bSizes += size; bLbs += lb; bUbs += ub
      cur = Vector.empty; size = 0L; lb = null; ub = null
    }
    order.foreach { i =>
      cur :+= i
      size += sizesOpt.get(i)
      if (lb == null) { lb = lbsOpt.get(i); ub = ubsOpt.get(i) }
      else {
        lb = Lex.lexMin(lb, lbsOpt.get(i))
        ub = Lex.lexMax(ub, ubsOpt.get(i))
      }
      if (size >= rowsPerPartition) flush()
    }
    if (cur.nonEmpty) flush()

    val self = this
    val newParts: IndexedSeq[Part] = batches.map { batch =>
      val members = batch.map(parts)
      val slices = members.collect { case sp: SlicePart => sp }
      val plainFiles = members.collect {
        case FilePart(f, Nil, "parquet", rn) if rn.isEmpty => f }
      if (slices.length == members.length && slices.nonEmpty &&
          slices.forall(_.src eq slices.head.src) &&
          (0 until slices.length - 1).forall(i =>
            slices(i).hi.isDefined && slices(i).hi == slices(i + 1).lo)) {
        // Adjacent division slices of one source merge into a single
        // range slice — one scan per batch, and the whole collated
        // dataset stays a contiguous run (one-scan toDF, one-shuffle
        // write).
        SlicePart(slices.head.src, slices.head.lo, slices.last.hi): Part
      } else if (plainFiles.length == members.length && plainFiles.nonEmpty) {
        // One multi-file scan per batch — single relation, no union.
        LazyPart { () =>
          var reader = spark.read
          self.schemaOpt.foreach(s => reader = reader.schema(s))
          reader.parquet(plainFiles: _*)
        }: Part
      } else
        LazyPart(() =>
          members.map(self.partDF).reduceLeft(_.union(_))): Part
    }.toVector
    new PDataset(spark, newParts, indexColumns, Some(bSizes.toVector),
      Some(bLbs.toVector), Some(bUbs.toVector), schemaOpt)
  }

  // ---- repartition ----

  /** Re-split into ~`rowsPerPartition`-row partitions.
    *
    * Index mode: per-partition seeded sampling of the index columns, a
    * distributed `groupBy(index).count`, then driver-side cumulative
    * division points — rows with equal index values land in the same
    * partition (reference `repartitioned_dataset.py:91-153`; this is
    * the same sampling idea Spark's RangePartitioner applies inside
    * `repartitionByRange`). With `sampleFraction = 1` exact sizes and
    * bounds are known without another pass — unless the distinct-index
    * cardinality exceeds [[PDataset.maxHistogramEntries]], in which
    * case planning auto-degrades to bounded sampling (stats unknown)
    * rather than collecting an unbounded histogram. Row mode (no index
    * columns): deterministic row-count splitting across existing
    * partition boundaries (`get_row_divisions`,
    * repartitioned_dataset.py:28-74).
    *
    * Follow with [[writeParquet]] to persist via the single-shuffle
    * fast path.
    */
  def repartition(
      rowsPerPartition: Long,
      indexColumns: Seq[String] = null,
      sampleFraction: Double = 1.0,
      baseSeed: Long = 10L,
      seedIncrement: Long = 10L): PDataset = {
    if (parts.isEmpty) return this
    val cols = Option(indexColumns).getOrElse(this.indexColumns)
    if (cols.isEmpty) repartitionByRows(rowsPerPartition)
    else repartitionByIndex(rowsPerPartition, cols, math.min(sampleFraction, 1.0),
      baseSeed, seedIncrement)
  }

  private def repartitionByIndex(
      rowsPerPartition: Long,
      cols: Seq[String],
      fracRequested: Double,
      baseSeed: Long,
      seedIncrement: Long): PDataset = {
    val base = if (this.indexColumns == cols) this else reindex(cols)

    // Guard the driver-side histogram: at frac = 1 its row count is the
    // number of DISTINCT index tuples, which on a high-cardinality
    // index at 100 TB would OOM the driver. Free fast path: when the
    // driver-known row count is already under the bound, the histogram
    // is too — no extra job. Otherwise one approx_count_distinct pass
    // decides; above the bound, degrade to seeded sampling with the
    // fraction sized so the SAMPLED histogram stays bounded (stats
    // become unknown, exactly as for caller-requested sampling).
    val totalRows: Option[Long] = base.sizes.map(_.sum)
    val frac: Double =
      if (fracRequested < 1.0) fracRequested
      else if (totalRows.exists(_ <= PDataset.maxHistogramEntries)) fracRequested
      else {
        val est = base.toDF
          .select(approx_count_distinct(xxhash64(cols.map(col): _*)).as("n"))
          .collect()(0).getLong(0)
        if (est <= PDataset.maxHistogramEntries) fracRequested
        else {
          val denom = math.max(totalRows.getOrElse(est), 1L)
          math.min(1.0, math.max(
            PDataset.maxHistogramEntries.toDouble / denom, 1e-6))
        }
      }
    val samplesPerPartition = math.max(1L, (frac * rowsPerPartition).toLong)

    // Distributed: (sample per partition) -> global groupBy(index).count.
    // At frac = 1 this is a single shuffle over the whole dataset; the
    // distinct-index histogram is what comes back to the driver.
    val sampled: DataFrame =
      if (frac >= 1.0) base.toDF.select(cols.map(col): _*)
      else {
        val pieces = base.parts.indices.map { i =>
          base(i).select(cols.map(col): _*)
            .sample(withReplacement = false, frac, baseSeed + i * seedIncrement)
        }
        pieces.reduceLeft(_.union(_))
      }
    val histo = sampled
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__size"))
      .orderBy(cols.map(c => col(c).asc_nulls_first): _*)
      .collect()

    val n = cols.length
    val values: IndexedSeq[(Bound, Long)] = histo.map { r =>
      ((0 until n).map(j => Option(r.get(j))).toVector: Bound,
        r.getLong(n))
    }.toVector

    // Driver: cumulative counts -> division points (lower bounds of the
    // new partitions).
    val partOf = ArrayBuffer.empty[Long]
    var cum = 0L
    values.foreach { case (_, c) => cum += c; partOf += cum / samplesPerPartition }
    val groupLbs = ArrayBuffer.empty[Bound]
    val groupUbs = ArrayBuffer.empty[Bound]
    val groupSizes = ArrayBuffer.empty[Long]
    var prev = -1L
    values.indices.foreach { i =>
      val g = partOf(i)
      if (g != prev) {
        groupLbs += values(i)._1; groupUbs += values(i)._1; groupSizes += 0L
        prev = g
      } else groupUbs(groupUbs.length - 1) = values(i)._1
      groupSizes(groupSizes.length - 1) += values(i)._2
    }
    // All-empty data (e.g. every row filtered upstream): one partition
    // covering the full range, stats unknown.
    if (groupLbs.isEmpty) {
      val self = base
      return new PDataset(spark,
        Vector(LazyPart(() => self.toDF): Part), cols,
        None, None, None, base.schemaOpt)
    }
    val divisions = groupLbs.toVector.tail
    val exact = samplesPerPartition == rowsPerPartition
    val nparts = divisions.length + 1

    val sentinels: IndexedSeq[Option[Bound]] =
      (None +: divisions.map(Some(_))) :+ None
    // Driver-inspectable division slices: contiguous SliceParts, so
    // toDF/collate/write can plan over the run as ONE slice of base
    // instead of per-division re-scans.
    val newParts: IndexedSeq[Part] = (0 until nparts).map { i =>
      SlicePart(base, sentinels(i), sentinels(i + 1)): Part
    }.toVector

    new PDataset(
      spark, newParts, cols,
      if (exact) Some(groupSizes.toVector) else None,
      if (exact) Some(groupLbs.toVector) else None,
      if (exact) Some(groupUbs.toVector) else None,
      base.schemaOpt,
      fastWritePlan = Some(FastWritePlan(base, cols, divisions)))
  }

  /** Row-count mode: deterministic splitting by global row offset across
    * the ordered parent partitions; no data movement at plan time.
    *
    * Boundary parents are sliced with [[RowSlicer]]: per-Spark-task row
    * offsets come from ONE lightweight count job per parent (memoized
    * across all new partitions — several new partitions usually cut the
    * same parent), after which slicing is a narrow, fully parallel
    * filter that skips non-overlapping tasks without reading them.
    * No `coalesce(1)`, no single-task stage, no global counter. */
  private def repartitionByRows(rowsPerPartition: Long): PDataset = {
    val base = if (knownSizes) this else reindex()
    val szs = base.sizesOpt.get
    val total = szs.sum
    val divisions = PDataset.getRowDivisions(szs, rowsPerPartition)
    val nparts = divisions.length + 1
    val newSizes = Vector.fill(divisions.length)(rowsPerPartition) :+
      (total - rowsPerPartition * divisions.length)
    val self = base
    val slicer = new RowSlicer(base)
    val newParts: IndexedSeq[Part] = (0 until nparts).map { i =>
      val from = if (i == 0) (0, 0L) else divisions(i - 1)
      val to = if (i == nparts - 1) (szs.length - 1, -1L) else divisions(i)
      LazyPart(() => self.rowRange(from, to, slicer)): Part
    }.toVector
    // The row ranges tile the parent exactly, so the whole frame IS the
    // parent — one scan, no RowSlicer re-execution (toDF is row-multiset
    // semantics; per-partition row addressing stays on the slicer), and
    // writes take the two-pass scatter instead of per-partition slicing.
    new PDataset(spark, newParts, Seq.empty, Some(newSizes), None, None,
      base.schemaOpt, wholeFrameOpt = Some(() => base.toDF),
      rowWritePlan = Some(RowWritePlan(base, rowsPerPartition)))
  }

  /** Rows [fromRow of partition fromPart, toRow of partition toPart);
    * toRow = -1 means "end of the last partition". */
  private def rowRange(
      from: (Int, Long),
      to: (Int, Long),
      slicer: RowSlicer): DataFrame = {
    val (fromPart, fromRow) = from
    val (toPart, toRow) = to
    val pieces = (fromPart to toPart).map { p =>
      val beg = if (p == fromPart) fromRow else 0L
      val end = if (p == toPart && toRow >= 0) toRow else Long.MaxValue
      if (beg == 0L && end == Long.MaxValue) this(p)
      else slicer.slice(p, beg, end)
    }
    pieces.reduceLeft(_.union(_))
  }

  // ---- join ----

  /** Equi-join on the shared index columns. Both sides need known
    * bounds and identical index columns; `how` in
    * {"inner","left","full","semi","anti"} (the last two extend the
    * reference's join surface: left-semi keeps left rows WITH an
    * index-key partner on the right, left-anti keeps those WITHOUT —
    * the decontamination shape — and the output carries the LEFT
    * schema only). Output partition i covers the half-open
    * division [d_i, d_{i+1}) where the divisions are the sorted union
    * of both sides' lower bounds; each side is partition-pruned to the
    * division before Catalyst joins the (small, co-ranged) slices
    * (reference: joined_dataset.py:7-85). Result stats are unknown,
    * matching the reference.
    *
    * [[toDF]] on the result does NOT union the per-division joins: it
    * plans ONE Catalyst join over the whole frames — identical rows
    * for any division count (rows with equal index tuples always share
    * a division, and unmatched rows surface exactly once in theirs),
    * but a constant-size plan where the union's grows O(npartitions)
    * (thousands of join nodes at 100 TB division counts would
    * bottleneck driver planning). Per-division semantics stay
    * available through `ds(i)`.
    */
  def join(other: PDataset, how: String = "inner"): PDataset = {
    if (!knownBounds)
      throw new StatsUnknownError(
        "Bounds of left dataset must be known. Try using reindex first.")
    if (!other.knownBounds)
      throw new StatsUnknownError(
        "Bounds of right dataset must be known. Try using reindex first.")
    if (this.indexColumns != other.indexColumns)
      throw new IllegalArgumentException(
        "Index columns of left and right dataset must be the same.")
    if (!Seq("inner", "left", "full", "semi", "anti").contains(how))
      throw new IllegalArgumentException(
        "Only inner, left, full, semi and anti joins are supported.")
    val existence = how == "semi" || how == "anti"
    // DataFrame-API spelling for the per-division Catalyst joins
    val sqlHow = how match {
      case "semi" => "left_semi"
      case "anti" => "left_anti"
      case h => h
    }

    val divisions = (lbsOpt.get ++ other.lbsOpt.get).distinct
      .sortBy(identity)(Lex.boundOrdering)

    val mergedSchema: Option[StructType] =
      if (existence) schemaOpt // semi/anti emit the left side only
      else (schemaOpt, other.schemaOpt) match {
        case (Some(l), Some(r)) =>
          val extra = r.fields.filterNot(f => this.indexColumns.contains(f.name))
          extra.foreach { f =>
            if (l.fieldNames.contains(f.name))
              throw new IllegalArgumentException(
                s"Duplicate column '${f.name}' in join.")
          }
          Some(StructType(l.fields ++ extra))
        case _ => None
      }

    val sentinels: IndexedSeq[Option[Bound]] =
      (None +: divisions.map(Some(_))) :+ None
    val left = this
    val idxCols = this.indexColumns
    // Schema-safe division slice: a fully-pruned slice of a
    // schema-unknown dataset still yields a TYPED empty frame (schema
    // lazily from the first source partition — no job runs).
    def sliceDF(ds: PDataset, lo: Option[Bound], hi: Option[Bound]): DataFrame = {
      val sl = ds.slice(lo.orNull, hi.orNull, inclusive = "lower")
      if (sl.npartitions == 0 && !sl.knownSchema && ds.npartitions > 0)
        ds(0).limit(0)
      else sl.toDF
    }
    val newParts: IndexedSeq[Part] = (0 until divisions.length + 1).map { i =>
      val lo = sentinels(i)
      val hi = sentinels(i + 1)
      LazyPart { () =>
        sliceDF(left, lo, hi).join(sliceDF(other, lo, hi), idxCols, sqlHow)
      }: Part
    }.toVector
    // Whole-frame plan: the division slices are co-partitioned by
    // construction, so the join can plan SHUFFLE-FREE as a custom
    // division-join node. Each range executes as ONE task, so the node
    // wins only when ranges can saturate the cluster — below
    // ~defaultParallelism/2 the Catalyst join's full shuffle
    // parallelism beats avoiding the Exchange. Above
    // divisionJoinMaxDivisions the plan does NOT fall back: adjacent
    // divisions merge into at most that many contiguous RANGE slices
    // (rows with equal keys share a division, hence a range), keeping
    // plan size O(task cap) at ANY division count; the per-task build
    // grows with the merged range and is protected by the join's
    // spill path.
    val whole = () => {
      val nDiv = divisions.length + 1
      val totalBytes = for {
        ls <- left.sizesOpt; rs <- other.sizesOpt
      } yield ls.sum + rs.sum
      val maxD = PDataset.divisionJoinMaxDivisions(spark, totalBytes)
      val minD = PDataset.divisionJoinMinDivisions(spark)
      val custom =
        if (nDiv >= minD && maxD >= minD) {
          val g = math.min(nDiv, maxD)
          val merged: IndexedSeq[Option[Bound]] =
            if (g == nDiv) sentinels
            else (None +: (1 until g).map(j =>
              Some(divisions((j.toLong * nDiv / g).toInt - 1)))) :+ None
          val slices = (0 until g).map { i =>
            val lo = merged(i)
            val hi = merged(i + 1)
            (sliceDF(left, lo, hi), sliceDF(other, lo, hi))
          }
          // The node builds its RIGHT side per division, so when both
          // sizes are known and the left is smaller, run the (inner or
          // full — both side-symmetric) join with the sides swapped and
          // restore the public column order with a projection. A left
          // join keeps build = right: the node has no RightOuter form.
          val swap = (how == "inner" || how == "full") &&
            left.sizesOpt.isDefined && other.sizesOpt.isDefined &&
            left.schemaOpt.isDefined && other.schemaOpt.isDefined &&
            left.sizesOpt.get.sum < other.sizesOpt.get.sum
          if (swap)
            graft.plans.DivisionJoin.frame(
              spark, slices.map(_._2), slices.map(_._1), idxCols, how)
              .map { df =>
                val lRest = left.schemaOpt.get.fieldNames.toSeq
                  .filterNot(idxCols.contains)
                val rRest = other.schemaOpt.get.fieldNames.toSeq
                  .filterNot(idxCols.contains)
                df.select((idxCols ++ lRest ++ rRest).map(col): _*)
              }
          else if (existence)
            // the node emits keys FIRST (USING layout); Spark's
            // semi/anti keep the LEFT's natural column order — restore
            // it so both paths agree (needs the left schema; unknown
            // schema falls back to the Catalyst join below)
            left.schemaOpt.flatMap(sc =>
              graft.plans.DivisionJoin.frame(
                spark, slices.map(_._1), slices.map(_._2), idxCols, how)
                .map(_.select(sc.fieldNames.toSeq.map(col): _*)))
          else
            graft.plans.DivisionJoin.frame(
              spark, slices.map(_._1), slices.map(_._2), idxCols, how)
        } else None
      custom.getOrElse(left.toDF.join(other.toDF, idxCols, sqlHow))
    }
    new PDataset(spark, newParts, idxCols, None, None, None, mergedSchema,
      wholeFrameOpt = Some(whole))
  }

  // ---- write ----

  /** Persist as one `part##########.parquet` per non-empty partition
    * plus the two sidecars; `append = true` extends an existing dataset
    * (index columns must match; the target's schema stays
    * authoritative). Returns the written dataset re-scanned.
    *
    * Every shape writes through ONE tagged-shuffle job, the Spark
    * analogue of the reference's one-pass scatter writer
    * (repartitioned_dataset.py:246-341): rows are tagged with their
    * target partition ([[scatterTagged]]), shuffled once, and the file
    * sink writes every partition file in parallel. Row counts and
    * bounds come from planning when known, else from one stats job
    * over the written files. A fresh write replaces the directory. An
    * append numbers its files past the target's max partition index
    * and commits through [[graft.operators.Maintenance.installCommit]]:
    * sidecar extras (txn ledgers, table options) survive, a concurrent
    * commit on the target is rebased over, a conflicting one aborts
    * the append and removes its files, and Bloom / column-stats
    * sidecars extend to the new files.
    */
  def writeParquet(path: String, append: Boolean = false): PDataset = {
    // CHECK constraints recorded on an append target guard the rows
    // being added — one aggregate pass over THIS dataset (the delta).
    if (append)
      graft.operators.Constraints.enforce(spark, path, toDF, "append")
    val (fs, dir) = GraftFs.resolve(spark, path)
    val prior = prepareWriteTarget(fs, dir, path, append)
    val offset = prior.map(_._1.maxPartitionIndex + 1).getOrElse(0L)
    val written: IndexedSeq[(Int, String)] =
      if (parts.isEmpty) Vector.empty
      else {
        val (tagged, orderCols) = scatterTagged
        val stage = GraftFs.mkStageDir(fs,
          Option(dir.getParent).getOrElse(dir), ".graft-scatter-", dir.getName)
        try ScatterWrite.partFiles(spark, tagged, parts.length, fs, dir,
          stage, i => Sidecar.partitionFileName(offset + i), orderCols)
        finally GraftFs.deleteRecursive(fs, stage)
      }
    def pathOf(f: String): String = new HPath(dir, f).toString
    val entries: IndexedSeq[(String, Long, Bound, Bound)] =
      if (knownSizes && knownBounds)
        written.map { case (i, f) =>
          (f, sizesOpt.get(i), lbsOpt.get(i), ubsOpt.get(i)) }
      else {
        val byFile = Stats.forFiles(spark, written.map(w => pathOf(w._2)),
          indexColumns, schemaOpt)
        written.map { case (_, f) =>
          val st = byFile(Stats.normalizePath(pathOf(f)))
          (f, st.size, st.lb, st.ub)
        }
      }
    prior match {
      case Some((m0, fp0)) =>
        graft.operators.Maintenance.installCommit(spark, path, fs, dir,
          m0, fp0, Map.empty, parts.length, retain = false, "append",
          Set.empty, added = entries)
      case None =>
        Sidecar.write(spark, path, indexColumns, entries.map(_._1),
          entries.map(_._2), entries.map(_._3), entries.map(_._4),
          parts.length - 1L, schemaOpt.getOrElse(this(0).schema))
    }
    PDataset.scanParquet(spark, path)
  }

  /** Prepare the target directory for a write: a fresh write empties
    * it; an append validates this dataset against the target and
    * returns the target's metadata with the sidecar fingerprint taken
    * just BEFORE loading it (what the commit's concurrency guard
    * compares against). */
  private def prepareWriteTarget(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath,
      path: String,
      append: Boolean): Option[(Sidecar.Meta, (Long, Long))] = {
    if (!append) {
      GraftFs.deleteRecursive(fs, dir)
      GraftFs.mkdirs(fs, dir)
      None
    } else {
      if (!Sidecar.exists(spark, path))
        throw new AppendError(s"Could not load metadata in '$path'.")
      val fp = graft.operators.Maintenance.metaFingerprint(spark, dir)
      val m = Sidecar.load(spark, path)
      if (m.columnRenames.nonEmpty)
        throw new AppendError(
          s"'$path' has metadata-only renamed columns; append through " +
            "the graft sink (df.write.format(\"graft\") / INSERT " +
            "INTO), which maps logical names to the on-disk physical " +
            "names")
      if (m.indexColumns != this.indexColumns)
        throw new AppendError(
          s"Cannot append dataset with index columns ${this.indexColumns} " +
            s"to dataset with index columns ${m.indexColumns}.")
      // Schema compatibility under metadata-only evolution: the
      // TARGET's sidecar schema stays authoritative. An appender may
      // omit evolved columns (its files null-fill at read) but may
      // not carry unknown columns or conflicting types — silently
      // adopting the appender's schema would revert an addColumns or
      // resurrect a dropColumns. Types compare modulo nullability at
      // every nesting level, as the graft sink's append does.
      schemaOpt.foreach { s =>
        s.fields.foreach { f =>
          m.schema.fields.find(_.name == f.name) match {
            case None => throw new AppendError(
              s"Appended column ${f.name} does not exist in the target " +
                "dataset; run Maintenance.addColumns first.")
            case Some(tf) if !org.apache.spark.sql.GraftBridge
                .sameTypeIgnoreNullability(tf.dataType, f.dataType) =>
              throw new AppendError(
                s"Appended column ${f.name}: ${f.dataType.simpleString} " +
                  s"conflicts with the target's ${tf.dataType.simpleString}.")
            case _ => ()
          }
        }
      }
      Some((m, fp))
    }
  }

  /** A write plan recovered from the partition structure: a contiguous
    * run of division slices (what [[collate]] and lower-inclusive
    * [[slice]]s of a repartitioned dataset preserve) writes through the
    * same one-shuffle scatter as a fresh repartition. The run's bounds
    * live in the source's index coordinates, so the source must still
    * carry this dataset's index columns (a prefix-[[reindex]] would
    * desynchronize the router's columns from the division arity). */
  private def derivedWritePlan: Option[FastWritePlan] =
    contiguousSliceRun.collect {
      case (src, lo, hi, divs)
          if divs.nonEmpty && src.indexColumns == this.indexColumns =>
        val source =
          if (lo.isEmpty && hi.isEmpty) src
          else src.slice(lo.orNull, hi.orNull, inclusive = "lower")
        FastWritePlan(source, this.indexColumns, divs)
    }

  /** This dataset's rows tagged with their target partition (an int
    * `__part`), plus the synthetic columns that restore each
    * partition's row order after the shuffle. The tagger follows the
    * dataset's shape:
    *   - a division plan (a repartition, or a contiguous slice run of
    *     one): the O(log d) division router over the source; no order
    *     column;
    *   - a row plan over several partitions: the two-pass global row
    *     ordinal ([[rowOrdinalTagged]]);
    *   - distinct filter-free parquet files: ONE relation tagged by
    *     file ordinal, ordered by the row's position in its file
    *     (exact however many splits a file spans);
    *   - anything else (lazy plans, sliced or repeated files, other
    *     formats): the partitions unioned in order, ordered by
    *     `monotonically_increasing_id` taken before the shuffle — scan
    *     task, then position within the task, which is each
    *     partition's own row order. */
  private def scatterTagged: (DataFrame, Seq[String]) = {
    val files = parts.collect { case FilePart(f, Nil, "parquet", rn) => (f, rn) }
    (fastWritePlan.orElse(derivedWritePlan), rowWritePlan) match {
      case (Some(plan), _) if plan.divisions.nonEmpty =>
        (plan.source.toDF.withColumn("__part",
          partitionIndexExpr(plan.cols.map(col), plan.divisions)), Nil)
      case (_, Some(plan)) if parts.length > 1 =>
        (rowOrdinalTagged(plan), Seq("__ord"))
      case _ if files.length == parts.length &&
          files.map(_._2).distinct.length == 1 &&
          files.map(_._1).distinct.length == files.length =>
        val ord = new FileOrdinal(files.zipWithIndex.map {
          case ((f, _), i) => Stats.normalizePath(f) -> i
        }.toMap)
        (readFiles("parquet", files.map(_._1), files.head._2)
          .withColumn("__part", FileOrdinalExpr.ordinal(input_file_name(), ord))
          .withColumn("__row", col("_metadata.row_index")), Seq("__row"))
      case _ =>
        (parts.indices.map(i => this(i).withColumn("__part", lit(i)))
          .reduceLeft(_.union(_))
          .withColumn("__ord", monotonically_increasing_id()), Seq("__ord"))
    }
  }

  /** Tagger for row-mode repartitions: pass 1 counts rows per scan
    * task (column-pruned — a metadata-cheap scan), the driver
    * prefix-sums them into per-task global offsets, pass 2 tags every
    * row with its global ordinal `__ord` (task offset + the local
    * ordinal carried by `monotonically_increasing_id`) hence its
    * target partition. O(1) jobs and 2 source passes for ANY output
    * partition count, where per-partition RowSlicer writes cost one
    * source pass per output partition. Both passes plan the same
    * per-partition union (never the merged whole-frame relation, whose
    * split packing reorders files), so task numbering and in-task row
    * order agree between them for deterministic sources. */
  private def rowOrdinalTagged(plan: RowWritePlan): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    val base = plan.base
    val u = base.parts.indices.map(i => base(i)).reduceLeft(_.union(_))
    val counts = u.select(spark_partition_id().as("__pid"))
      .groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val starts = counts.map(_._2).scanLeft(0L)(_ + _)
    val startRows: Seq[Row] =
      counts.map(_._1).zip(starts).map { case (pid, s) => Row(pid, s) }.toSeq
    val startsDF = spark.createDataFrame(
      java.util.Arrays.asList(startRows: _*),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__start", LongType, nullable = false))))
    u.withColumn("__pid", spark_partition_id())
      .withColumn("__mono", monotonically_increasing_id())
      .join(broadcast(startsDF), "__pid")
      // local ordinal = the low 33 bits of monotonically_increasing_id
      .withColumn("__ord",
        col("__start") + col("__mono").bitwiseAND(lit((1L << 33) - 1)))
      .withColumn("__part",
        expr(s"__ord div ${plan.rowsPerPartition}").cast(IntegerType))
      .drop("__pid", "__mono", "__start")
  }
}

/** Parallel row-range slicing of one parent partition (the zipWithIndex
  * pattern): a single lightweight job counts rows per Spark task, after
  * which any [beg, end) row range is a narrow, fully parallel filter —
  * each task knows its global start offset, tasks outside the range
  * emit nothing without iterating, and in-range tasks skip/take by
  * local offset. The (rdd, offsets) pair is memoized per parent so the
  * several new partitions that cut the same parent (and concurrent
  * writers) pay the count job once.
  */
private[core] final class RowSlicer(base: PDataset) {
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    Int, (org.apache.spark.rdd.RDD[Row], Array[Long])]

  /** (rdd, cumulative per-task start offsets; length nTasks+1). */
  private def indexed(p: Int): (org.apache.spark.rdd.RDD[Row], Array[Long]) =
    memo.computeIfAbsent(p, _ => {
      val rdd = base(p).rdd
      val counts = rdd
        .mapPartitionsWithIndex { (i, it) =>
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          Iterator.single((i, n))
        }
        .collect().sortBy(_._1).map(_._2)
      (rdd, counts.scanLeft(0L)(_ + _))
    })

  /** Rows [beg, end) of parent partition p, in its row order. */
  def slice(p: Int, beg: Long, end: Long): DataFrame = {
    val (rdd, starts) = indexed(p)
    val schema = base.schemaOption.getOrElse(base(p).schema)
    val sliced = rdd.mapPartitionsWithIndex { (i, it) =>
      val off = starts(i)
      val nxt = starts(i + 1)
      if (nxt <= beg || off >= end) Iterator.empty
      else {
        var toSkip = math.max(0L, beg - off)
        while (toSkip > 0L && it.hasNext) { it.next(); toSkip -= 1L }
        val toTake = math.min(end, nxt) - math.max(beg, off)
        it.take(math.min(toTake, Int.MaxValue.toLong).toInt)
      }
    }
    base.spark.createDataFrame(sliced, schema)
  }
}

/** A residual slice filter as a driver-inspectable descriptor (not an
  * opaque Column): kind in {geq, gt, leq, lt} over the k-prefix of the
  * index columns vs a bound tuple. Keeping the bound lets toDF decide
  * — with pure driver metadata — whether the filter provably holds on
  * partitions that don't carry it (the same lexCmp criterion slice
  * uses for elision), which is what licenses planning one relation
  * with a global filter conjunction. */
private[core] final case class SliceFilter(
    cols: Seq[String], bound: Bound, kind: String) {

  def toColumn: Column = {
    val cs = cols.map(col)
    kind match {
      case "geq" => LexColumns.columnsGeq(cs, bound)
      case "gt"  => LexColumns.columnsGt(cs, bound)
      case "leq" => LexColumns.columnsLeq(cs, bound)
      case "lt"  => LexColumns.columnsLt(cs, bound)
    }
  }

  def signature: String = s"$kind:${cols.mkString(",")}:$bound"

  /** Every row of a partition with lex bounds [plb, pub] provably
    * satisfies this filter (prefix-lex monotonicity: the k-prefix of
    * any row lies within the k-prefixes of the partition bounds). */
  def satisfiedBy(plb: Bound, pub: Bound): Boolean = {
    val k = bound.length
    kind match {
      case "geq" => Lex.lexCmp(plb.take(k), bound) >= 0
      case "gt"  => Lex.lexCmp(plb.take(k), bound) > 0
      case "leq" => Lex.lexCmp(pub.take(k), bound) <= 0
      case "lt"  => Lex.lexCmp(pub.take(k), bound) < 0
    }
  }
}

object PDataset {

  /** Upper bound on driver-collected histogram entries in index-mode
    * repartitioning; above it, exact planning auto-degrades to seeded
    * sampling (see repartitionByIndex). ~1M bound tuples is low tens
    * of MB of driver heap. Package-visible for tests. */
  private[graft] var maxHistogramEntries: Long = 1L << 20

  private[core] sealed trait Part
  /** `renames` (physical→logical, from metadata-only RENAME COLUMN)
    * makes the file readable under the dataset's LOGICAL schema: the
    * relation is built over the on-disk names and a rename Project —
    * which Catalyst collapses into the scan for pushdown and
    * pruning — restores the declared names. */
  private[core] final case class FilePart(file: String,
      filters: List[SliceFilter], fmt: String = "parquet",
      renames: Map[String, String] = Map.empty) extends Part
  private[core] final case class LazyPart(thunk: () => DataFrame) extends Part
  /** A partition that is a lower-inclusive index range [lo, hi) of a
    * SOURCE dataset (None = unbounded). Unlike an opaque [[LazyPart]]
    * thunk, the range is driver-inspectable: a run of contiguous
    * SliceParts over one source (what [[repartition]] produces, and
    * what [[collate]]/[[slice]] preserve) is provably equal to ONE
    * slice of that source, so [[toDF]] plans a single pruned scan and
    * [[writeParquet]] a single tagged shuffle instead of re-scanning
    * the source once per division. */
  private[core] final case class SlicePart(src: PDataset,
      lo: Option[Bound], hi: Option[Bound]) extends Part

  private[core] final case class FastWritePlan(
      source: PDataset,
      cols: Seq[String],
      divisions: IndexedSeq[Bound])

  private[core] final case class RowWritePlan(
      base: PDataset,
      rowsPerPartition: Long)

  /** Task cap for the shuffle-free division plans (the [[join]] node
    * and the SQL division rewrites): above this many divisions,
    * adjacent divisions merge into contiguous range slices (one task
    * each), so plan size stays bounded at any division count. Each
    * slice runs as ONE task, so the cap IS the plan's parallelism —
    * a fixed cap is a cliff at scale (256 slices of a 100 TB table =
    * 390 GB scanned serially per task). The default scales with the
    * cluster AND the data: enough slices to keep every core busy
    * twice over, more when slices would otherwise exceed the
    * per-task byte target, bounded by a hard plan-size ceiling.
    *
    *   - `spark.graft.division.maxDivisions` pins the cap outright;
    *   - `spark.graft.division.targetBytes` (default 2 GiB) is the
    *     per-slice byte target when total bytes are known;
    *   - `spark.graft.division.hardMaxDivisions` (default 4096)
    *     bounds driver plan size (branches beyond this merge).
    *
    * Setting the cap below the minimum divisions disables the custom
    * plans entirely (Catalyst fallback). Override so specs can force
    * either path. */
  private[graft] var divisionJoinMaxOverride: Option[Int] = None
  private[graft] def divisionJoinMaxDivisions(
      spark: SparkSession, totalBytes: Option[Long] = None): Int =
    divisionJoinMaxOverride.getOrElse {
      val conf = spark.conf
      conf.getOption("spark.graft.division.maxDivisions").map(_.toInt)
        .getOrElse {
          val hard = conf.getOption("spark.graft.division.hardMaxDivisions")
            .map(_.toInt).getOrElse(4096)
          val target = conf.getOption("spark.graft.division.targetBytes")
            .map(_.toLong).getOrElse(2L << 30)
          val byBytes = totalBytes
            .map(b => math.min(b / math.max(1L, target) + 1, hard.toLong)
              .toInt)
            .getOrElse(0)
          val byCluster = 2 * spark.sparkContext.defaultParallelism
          math.min(hard,
            math.max(divisionJoinMinDivisions(spark),
              math.max(byCluster, byBytes)))
        }
    }

  /** Minimum division count for the division join: one task per
    * division means fewer divisions than ~half the cluster's slots
    * under-utilizes it vs a full-parallelism shuffle join. Override
    * makes specs machine-independent. */
  private[graft] var divisionJoinMinOverride: Option[Int] = None
  private[graft] def divisionJoinMinDivisions(spark: SparkSession): Int =
    divisionJoinMinOverride.getOrElse(
      math.max(2, spark.sparkContext.defaultParallelism / 2))

  /** Open a persisted dataset: load sidecar metadata if present (stats
    * known before any job); else glob `*.parquet` (sorted) with unknown
    * stats; a bare file becomes a single-partition dataset. The path may
    * be local, `file:`, or any Hadoop-served URI (HDFS/S3A/...). */
  def scanParquet(spark: SparkSession, path: String): PDataset = {
    val (fs, p) = GraftFs.resolve(spark, path)
    GraftFs.statusOf(fs, p) match {
      case Some(st) if st.isDirectory && Sidecar.exists(spark, path) =>
        fromSidecarMeta(spark, path, Sidecar.load(spark, path))
      case Some(st) if st.isDirectory =>
        val files = GraftFs.listFiles(fs, p)(_.endsWith(".parquet"))
        if (files.isEmpty)
          throw new java.io.FileNotFoundException(
            s"No files matching pattern $path/*.parquet")
        new PDataset(spark, files.map(f => FilePart(f, Nil): Part),
          Seq.empty, None, None, None, None)
      case Some(_) =>
        new PDataset(spark, Vector(FilePart(path, Nil)),
          Seq.empty, None, None, None, None)
      case None =>
        throw new java.io.FileNotFoundException(path)
    }
  }

  /** A dataset over an explicit sidecar [[Sidecar.Meta]] — the current
    * generation (what [[scanParquet]] loads) or an archived one (time
    * travel via `Maintenance.scanVersion`). */
  def fromSidecarMeta(
      spark: SparkSession, dir: String, m: Sidecar.Meta): PDataset = {
    val (_, p) = GraftFs.resolve(spark, dir)
    new PDataset(
      spark,
      m.files.map(f => FilePart(new HPath(p, f).toString, Nil,
        "parquet", m.physToLogical): Part),
      m.indexColumns,
      Some(m.sizes),
      Some(m.lowerBounds),
      Some(m.upperBounds),
      Some(m.schema))
  }

  /** Open a directory of CSV files (or a bare file), one partition per
    * file — the same wrapper (and the same pruning/stats machinery) as
    * [[scanParquet]] over a different leaf format. A schema keeps
    * per-partition typing deterministic; pass null to infer once. */
  def scanCsv(spark: SparkSession, path: String, schema: StructType = null): PDataset =
    scanFlat(spark, path, "csv", Option(schema))

  /** JSON-lines variant of [[scanCsv]]. */
  def scanJson(spark: SparkSession, path: String, schema: StructType = null): PDataset =
    scanFlat(spark, path, "json", Option(schema))

  /** ORC variant of [[scanCsv]] (Spark's built-in columnar ORC
    * source — typed, so no schema is needed; pass one to skip the
    * footer-read inference pass). */
  def scanOrc(spark: SparkSession, path: String, schema: StructType = null): PDataset =
    scanFlat(spark, path, "orc", Option(schema))

  private def scanFlat(
      spark: SparkSession,
      path: String,
      fmt: String,
      schemaOpt: Option[StructType]): PDataset = {
    val (fs, p) = GraftFs.resolve(spark, path)
    val files: IndexedSeq[String] =
      if (GraftFs.isDir(fs, p))
        GraftFs.listFiles(fs, p)(_.endsWith("." + fmt))
      else if (GraftFs.isFile(fs, p)) Vector(path)
      else throw new java.io.FileNotFoundException(path)
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(s"No files matching $path/*.$fmt")
    val schema = schemaOpt.getOrElse {
      var reader = spark.read.format(fmt).option("inferSchema", "true")
      if (fmt == "csv") reader = reader.option("header", "true")
      reader.load(files: _*).schema
    }
    new PDataset(spark, files.map(f => FilePart(f, Nil, fmt): Part),
      Seq.empty, None, None, None, Some(schema))
  }

  /** Wrap a DataFrame as a single-partition dataset; size/bounds/schema
    * computed eagerly (one pass), like the reference's `from_polars`. */
  def fromDataFrame(
      df: DataFrame,
      indexColumns: Seq[String] = Seq.empty): PDataset = {
    val st = Stats.forDF(df, indexColumns)
    val lb = Option(st.lb).getOrElse(Lex.emptyBound)
    val ub = Option(st.ub).getOrElse(Lex.emptyBound)
    new PDataset(df.sparkSession, Vector(LazyPart(() => df)), indexColumns,
      Some(Vector(st.size)), Some(Vector(lb)), Some(Vector(ub)),
      Some(df.schema))
  }

  /** [[concat]] accepting an empty list: with no datasets to borrow a
    * session from, the session comes as an argument and the result is
    * the reference's 0-partition, empty-schema dataset
    * (concatenated_dataset.py:21-33) — which later concats filter out,
    * so `concat(Seq(ds, concat(spark, Nil)))` equals `ds`. */
  def concat(spark: SparkSession, datasets: Seq[PDataset]): PDataset =
    if (datasets.isEmpty)
      new PDataset(spark, Vector.empty, Seq.empty,
        Some(Vector.empty), Some(Vector.empty), Some(Vector.empty),
        Some(StructType(Nil)))
    else concat(datasets)

  /** Concatenate datasets as partition lists — no data movement. All
    * non-empty inputs must share index columns and schema. Empty
    * inputs are dropped first (their index columns and schema don't
    * constrain the result, concatenated_dataset.py:21); an all-empty
    * input list carries the head's schema and index columns forward so
    * toDF/write still see the right (empty) frame. */
  def concat(datasets: Seq[PDataset]): PDataset = {
    val nonEmpty = datasets.filter(_.npartitions > 0)
    if (nonEmpty.isEmpty) {
      require(datasets.nonEmpty,
        "concat of an empty dataset list needs a session: " +
          "use concat(spark, datasets)")
      val head = datasets.head
      return new PDataset(head.spark, Vector.empty, head.indexColumns,
        Some(Vector.empty), Some(Vector.empty), Some(Vector.empty),
        head.schemaOption.orElse(Some(StructType(Nil))))
    }
    val idx = nonEmpty.head.indexColumns
    require(nonEmpty.forall(_.indexColumns == idx),
      "all concatenated datasets must have the same index columns")
    val schemas = nonEmpty.map(_.schemaOption)
    val schema =
      if (schemas.forall(_.isDefined)) {
        val s0 = schemas.head.get
        require(schemas.forall(s => sameSchema(s.get, s0)),
          "all concatenated datasets must have the same schema")
        Some(s0)
      } else None
    def cat[A](xs: Seq[Option[IndexedSeq[A]]]): Option[IndexedSeq[A]] =
      if (xs.forall(_.isDefined)) Some(xs.flatMap(_.get).toVector) else None
    new PDataset(
      nonEmpty.head.spark,
      nonEmpty.flatMap(_.parts).toVector,
      idx,
      cat(nonEmpty.map(_.sizes)),
      cat(nonEmpty.map(_.lowerBounds)),
      cat(nonEmpty.map(_.upperBounds)),
      schema)
  }

  private def sameSchema(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).sameElements(
      b.fields.map(f => (f.name, f.dataType)))

  /** Standalone utility: scan a foreign parquet directory (files not
    * written by this engine), compute per-file stats for the given index
    * columns in ONE job, and write the sidecars in place. */
  def writeMetadata(
      spark: SparkSession,
      path: String,
      indexColumns: Seq[String],
      extras: Map[String, Any] = Map.empty): Unit = {
    val (fs, p) = GraftFs.resolve(spark, path)
    val files = GraftFs.listFiles(fs, p)(_.endsWith(".parquet"))
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(
        s"No files matching pattern $path/*.parquet")
    val byFile = Stats.forFiles(spark, files, indexColumns, None)
    val keptFull = files.filter(f => byFile.contains(Stats.normalizePath(f)))
    val kept = keptFull.map(baseNameOf)
    val stats = keptFull.map(f => byFile(Stats.normalizePath(f)))
    // A prior sidecar's (possibly evolved) schema stays authoritative
    // — re-deriving from one file's footer would revert an
    // addColumns/dropColumns whose columns that file doesn't carry.
    val prior =
      if (Sidecar.exists(spark, path)) Some(Sidecar.load(spark, path))
      else None
    val schema = prior.map(_.schema)
      .getOrElse(spark.read.parquet(files.head).schema)
    // max_partition_index is a name-allocation high-water mark, not a
    // file count: maintenance ops (compact/deleteRange) legitimately
    // leave live partNNNN indices above the file count, and resetting
    // the counter to kept.length-1 would let a later append re-allocate
    // a LIVE file's name and clobber it. Never move the counter
    // backwards past any name actually on disk or previously issued.
    val maxNamed = kept
      .collect { case PartNamePattern(n) => n.toLong }
      .foldLeft(-1L)(math.max)
    val maxIdx = math.max(
      prior.map(_.maxPartitionIndex).getOrElse(-1L),
      math.max(maxNamed, kept.length - 1L))
    // A prior sidecar's extras (txn ledger, ...) survive a metadata
    // rebuild; caller-supplied extras win per key (the streaming
    // sink seeds its ledger through here so the first transactional
    // batch commits data + ledger in ONE atomic swap).
    Sidecar.write(spark, path, indexColumns, kept, stats.map(_.size),
      stats.map(_.lb), stats.map(_.ub), maxIdx, schema,
      extras = prior.map(_.extras).getOrElse(Map.empty) ++ extras)
  }

  private val PartNamePattern = """part(\d+)\.parquet""".r

  private def baseNameOf(f: String): String = {
    val i = f.lastIndexOf('/')
    if (i < 0) f else f.substring(i + 1)
  }

  /** Target partition id from the division lower bounds (reference:
    * repartitioned_dataset.py:14-25 — first bound the row is
    * lex-less-than, else the last partition).
    *
    * Sorted divisions (the only kind [[repartition]] produces) route
    * through [[DivisionRouterExpr]]: O(log d) binary search per row
    * against a task-broadcast bounds array, constant plan size. The
    * O(d) `when`-chain survives only as the fallback for unsorted
    * bounds — where first-match order is semantic — and as the
    * differential-test twin. */
  private[graft] def partitionIndexExpr(
      cols: Seq[Column],
      divisions: IndexedSeq[Bound]): Column = {
    if (divisions.isEmpty) lit(0)
    else if (divisionsSorted(divisions)) DivisionRouter.route(cols, divisions)
    else partitionIndexWhenChain(cols, divisions)
  }

  private[graft] def divisionsSorted(divisions: IndexedSeq[Bound]): Boolean =
    divisions.indices.drop(1).forall(i =>
      Lex.lexCmp(divisions(i - 1), divisions(i)) <= 0)

  /** The original O(d) `when`-chain over [[LexColumns.columnsLt]]. */
  private[graft] def partitionIndexWhenChain(
      cols: Seq[Column],
      divisions: IndexedSeq[Bound]): Column = {
    if (divisions.isEmpty) lit(0)
    else {
      val first = when(LexColumns.columnsLt(cols, divisions(0)), lit(0))
      val chained = divisions.zipWithIndex.drop(1).foldLeft(first) {
        case (acc, (d, i)) => acc.when(LexColumns.columnsLt(cols, d), lit(i))
      }
      chained.otherwise(lit(divisions.length))
    }
  }

  /** Row-mode division points: for each boundary at k*rowsPerPartition
    * (0 < boundary < total rows), the (parent partition index, row
    * offset within that partition) where the new partition starts. An
    * exact boundary on a partition edge belongs to the LATEST partition
    * starting there (empty parents skipped), matching the reference's
    * sort + forward-fill construction (repartitioned_dataset.py:28-74).
    */
  private[graft] def getRowDivisions(
      partitionSizes: Seq[Long],
      rowsPerPartition: Long): IndexedSeq[(Int, Long)] = {
    val szs = partitionSizes.toIndexedSeq
    val total = szs.sum
    val cumStart = szs.scanLeft(0L)(_ + _).toArray
    val divisions = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var b = rowsPerPartition
    while (b < total) {
      var i = java.util.Arrays.binarySearch(cumStart, b)
      if (i < 0) i = -i - 2
      else {
        while (i + 1 < szs.length && cumStart(i + 1) == b) i += 1
      }
      val p = math.min(i, szs.length - 1)
      divisions += ((p, b - cumStart(p)))
      b += rowsPerPartition
    }
    divisions.toVector
  }

  private[core] def baseName(f: String): String = baseNameOf(f)
}
