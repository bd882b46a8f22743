package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.core.Lex
import graft.core.Lex.Bound

/** A [[FileIndex]] serving the file listing from the engine's
  * driver-side sidecar metadata, so FILE-level pruning happens inside
  * Catalyst: any pushed data filter on the index columns eliminates
  * files whose lex-tuple bound interval cannot contain a satisfying
  * row — before the scan plans splits, on top of (not instead of) the
  * engine's own driver-side pruning in `slice`. A user who writes
  * `ds.toDF.filter($"ts" >= x)` gets the same file skipping
  * `ds.slice(...)` would give.
  *
  * Bound semantics mirror the sidecar (null-first lex order, padawan
  * `ordering.py:69-95`). On the LEADING column the tuple bounds always
  * yield a scalar range: a None upper bound means the file is all-null
  * in that column; a None lower bound means it may contain nulls. On
  * a LATER column c, bounds derive from the lex tuples through an
  * arbitrary-depth prefix: each side (lower/upper) of column c is
  * known when every preceding column stays ON that edge of the tuple,
  * either because the column is constant across the file (common
  * after a repartition on a low-cardinality prefix) or because a
  * top-level equality conjunct pins it to exactly the edge value —
  * so a conjunction (c1 = a, c2 = b, c3 range) prunes by all three.
  * Comparisons never match null rows, IS NULL matches only
  * possibly-null files. Pruning is conservative: any filter shape or
  * column whose range isn't derivable keeps every file.
  */
final class GraftFileIndex(
    files: IndexedSeq[(Path, Long)],
    indexCols: Seq[String],
    lbs: IndexedSeq[Bound],
    ubs: IndexedSeq[Bound],
    independentStats: Boolean = false,
    blooms: Map[String, IndexedSeq[Option[
      org.apache.spark.util.sketch.BloomFilter]]] = Map.empty,
    // Exact per-file ROW counts from the sidecar (files are byte
    // sizes): lets `graft.plans.MetadataCount` answer unfiltered
    // count(*) without touching a single file.
    val rowCounts: Option[IndexedSeq[Long]] = None,
    // Independent per-file (lb, ub) ranges for NON-index columns from
    // the `_graft_colstats.json` sidecar (graft.core.ColumnStats):
    // per column name, one optional range per file — None = no entry
    // (file appended/rewritten after the stats build; unprunable).
    // Same null encoding as independentStats mode.
    extraStats: Map[String,
      IndexedSeq[Option[(Option[Any], Option[Any])]]] = Map.empty,
    // Raw (min, max, nulls) per stats column per file — keeps the
    // non-null minimum of null-carrying files, which the pruning
    // encoding above folds away. `graft.plans.MetadataCount` answers
    // ungrouped min/max/count(col) from this with zero files read
    // when every file carries an entry.
    val rawColStats: graft.core.ColumnStats.Raw = Map.empty)
    extends FileIndex {

  private val extraCols: IndexedSeq[String] =
    extraStats.keys.toIndexedSeq.sorted.filterNot(indexCols.contains)

  /** Lex-clustering metadata for `graft.plans.SqlDivisionJoin`:
    * the index columns the files are range-clustered on (empty in
    * independent-stats mode — those bounds carry no lex structure)
    * and each file's lex lower bound. */
  def lexIndexColumns: Seq[String] =
    if (independentStats) Nil else indexCols
  def lexLowerBounds: IndexedSeq[Bound] =
    if (independentStats) IndexedSeq.empty else lbs
  def lexUpperBounds: IndexedSeq[Bound] =
    if (independentStats) IndexedSeq.empty else ubs

  /** Per-file byte sizes, aligned with [[lexLowerBounds]] — the
    * division rewrites' byte-weighted range merging reads these so no
    * merged slice concentrates a disproportionate share of the table
    * in one task. */
  def fileSizes: IndexedSeq[Long] = files.map(_._2)

  /** This index restricted to the files at `keep` (ascending file
    * positions): the division rewrites give each range slice its own
    * pre-pruned relation, so per-branch file pruning never depends on
    * pushing range literals into the scan (the branch predicates
    * carry their bounds as codegen REFERENCES to keep all branches'
    * generated source identical — one JIT compile for any division
    * count — which makes them invisible to filter pushdown). */
  def restrictTo(keep: IndexedSeq[Int]): GraftFileIndex =
    new GraftFileIndex(
      keep.map(files), indexCols, keep.map(lbs), keep.map(ubs),
      independentStats,
      blooms.map { case (c, bs) => c -> keep.map(bs) },
      rowCounts.map(rc => keep.map(rc)),
      extraStats.map { case (c, es) => c -> keep.map(es) },
      rawColStats.map { case (c, rs) => c -> keep.map(rs) })

  /** Single-column convenience form (scalar bounds on the leading
    * index column only). */
  def this(
      files: IndexedSeq[(Path, Long)],
      leadingIndexCol: String,
      lbs: IndexedSeq[Option[Any]],
      ubs: IndexedSeq[Option[Any]]) =
    this(files, Seq(leadingIndexCol),
      lbs.map(Vector(_): Bound), ubs.map(Vector(_): Bound))

  require(files.length == lbs.length && files.length == ubs.length,
    "one (lb, ub) tuple pair per file required")

  private val statuses: IndexedSeq[FileStatus] = files.map { case (p, len) =>
    new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
  }

  override def rootPaths: Seq[Path] =
    statuses.map(_.getPath.getParent).distinct

  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // Cross-conjunct context: top-level equalities pinning index
    // columns let LATER-column constraints prune files whose tuple
    // bounds start or end exactly at the pinned prefix (equalities
    // inside an Or are branch-local and deliberately not collected).
    val eqs: Map[Int, Any] = dataFilters.flatMap(conjuncts).collect {
      case EqualTo(a: AttributeReference, l: Literal)
          if posOf(a) >= 0 && l.value != null =>
        posOf(a) -> CatalystTypeConverters.convertToScala(l.value, l.dataType)
      case EqualTo(l: Literal, a: AttributeReference)
          if posOf(a) >= 0 && l.value != null =>
        posOf(a) -> CatalystTypeConverters.convertToScala(l.value, l.dataType)
    }.reverse.toMap // first pin per column wins
    val keep = dataFilters.foldLeft(files.indices.toSet) { (acc, f) =>
      keepSet(f, eqs).fold(acc)(acc.intersect)
    }
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.indices.filter(keep).map(statuses).toArray))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The derivable scalar range of column `c` in file `i`: each side is
    * None when unknown/unbounded, Some(None) for the SQL-null extreme
    * (null-first: a null upper bound means every row is null), and
    * Some(Some(v)) for a known value. */
  private final case class ColRange(
      lb: Option[Option[Any]], ub: Option[Option[Any]])

  private def colRange(i: Int, c: Int, eqs: Map[Int, Any]): Option[ColRange] =
    if (c >= indexCols.length)
      // stats-sidecar column: independent per-file range; files
      // without an entry (None) stay unprunable
      extraStats(extraCols(c - indexCols.length))(i)
        .map { case (lb, ub) => ColRange(Some(lb), Some(ub)) }
    else if (independentStats) {
      // Independent per-column min/max mode (multi-dimensional
      // layouts, e.g. z-order, where no lex division structure
      // exists): lbs(i)(c)/ubs(i)(c) are the file's own scalar
      // bounds for column c — every column prunes, no prefix
      // condition. Encoding matches the lex ColRange semantics:
      // lb None = file may contain nulls (least non-null unknown),
      // ub None = all-null column.
      if (c < lbs(i).length && c < ubs(i).length)
        Some(ColRange(Some(lbs(i)(c)), Some(ubs(i)(c))))
      else None
    } else if (c == 0)
      Some(ColRange(Some(lbs(i).headOption.flatten),
        Some(ubs(i).headOption.flatten)))
    else if (c < lbs(i).length && c < ubs(i).length) {
      // Column c's scalar bounds derive from the lex-tuple bounds when
      // every row under the pushed equalities sits ON a bound tuple's
      // prefix. Track both edges through the prefix:
      //   atLb(j): considered rows have r_m == lb_m for all m <= j
      //     (then lex row >= lb defers past j, so r_{j+1} >= lb_{j+1});
      //   atUb(j): symmetrically for the upper tuple.
      // Position j stays on an edge if a conjunct pins it to exactly
      // that edge value, or if the column is constant across the file
      // — which itself needs BOTH edges held so far (r_j >= lb_j from
      // atLb needs matching r_j <= ub_j = lb_j from atUb to collapse).
      // This subsumes the old one-level rules: a constant prefix keeps
      // both edges; an equality at a tuple edge keeps that edge only,
      // bounding column c one-sidedly.
      var atLb = true
      var atUb = true
      var j = 0
      while (j < c && (atLb || atUb)) {
        val lbj = lbs(i)(j); val ubj = ubs(i)(j)
        val const = Lex.nullableCmp(lbj, ubj) == 0
        val pin = eqs.get(j)
        val pinLb = pin.exists(v => Lex.nullableCmp(Some(v), lbj) == 0)
        val pinUb = pin.exists(v => Lex.nullableCmp(Some(v), ubj) == 0)
        val nextLb = atLb && (pinLb || (atUb && const))
        val nextUb = atUb && (pinUb || (atLb && const))
        atLb = nextLb; atUb = nextUb
        j += 1
      }
      if (atLb && atUb) Some(ColRange(Some(lbs(i)(c)), Some(ubs(i)(c))))
      else if (atLb) Some(ColRange(Some(lbs(i)(c)), None))
      else if (atUb) Some(ColRange(None, Some(ubs(i)(c))))
      else None
    } else None

  /** File indices that may satisfy `e`; None = cannot analyze (keep
    * all). Conjunction intersects, disjunction unions. */
  private def keepSet(e: Expression, eqs: Map[Int, Any]): Option[Set[Int]] = e match {
    case And(l, r) =>
      (keepSet(l, eqs), keepSet(r, eqs)) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b)             => a.orElse(b)
      }
    case Or(l, r) =>
      for (a <- keepSet(l, eqs); b <- keepSet(r, eqs)) yield a.union(b)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => cmpSet(a, l, ">=", eqs)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => cmpSet(a, l, "<=", eqs)
    case GreaterThan(a: AttributeReference, l: Literal) => cmpSet(a, l, ">", eqs)
    case GreaterThan(l: Literal, a: AttributeReference) => cmpSet(a, l, "<", eqs)
    case LessThanOrEqual(a: AttributeReference, l: Literal) => cmpSet(a, l, "<=", eqs)
    case LessThanOrEqual(l: Literal, a: AttributeReference) => cmpSet(a, l, ">=", eqs)
    case LessThan(a: AttributeReference, l: Literal) => cmpSet(a, l, "<", eqs)
    case LessThan(l: Literal, a: AttributeReference) => cmpSet(a, l, ">", eqs)
    case EqualTo(a: AttributeReference, l: Literal) =>
      intersectOpt(cmpSet(a, l, "=", eqs), bloomKeep(a, l))
    case EqualTo(l: Literal, a: AttributeReference) =>
      intersectOpt(cmpSet(a, l, "=", eqs), bloomKeep(a, l))
    case IsNull(a: AttributeReference) if posOf(a) >= 0 =>
      val c = posOf(a)
      Some(files.indices.filter { i =>
        // a file may hold a null iff its known lower bound is null
        colRange(i, c, eqs).forall(_.lb.forall(_.isEmpty))
      }.toSet)
    case IsNotNull(a: AttributeReference) if posOf(a) >= 0 =>
      val c = posOf(a)
      Some(files.indices.filter { i =>
        // a file may hold a non-null iff its known upper bound is non-null
        colRange(i, c, eqs).forall(_.ub.forall(_.nonEmpty))
      }.toSet)
    // IN-list: union of the per-value equality keep sets (each value
    // combining lex bounds and the Bloom sidecar). A null list element
    // never matches (three-valued IN), so it prunes freely.
    case In(a: AttributeReference, list)
        if (posOf(a) >= 0 || blooms.contains(a.name)) &&
          list.forall(_.isInstanceOf[Literal]) =>
      Some(list.collect {
        case Literal(v, dt) if v != null =>
          valueKeep(a, CatalystTypeConverters.convertToScala(v, dt), eqs).get
      }.foldLeft(Set.empty[Int])(_ union _))
    // Optimizer-converted large IN-lists carry internal values.
    case InSet(a: AttributeReference, hset)
        if posOf(a) >= 0 || blooms.contains(a.name) =>
      Some(hset.filter(_ != null).map(v =>
        valueKeep(a,
          CatalystTypeConverters.convertToScala(v, a.dataType), eqs).get)
        .foldLeft(Set.empty[Int])(_ union _))
    // Prefix match on a string index: matching strings form the range
    // [p, sup) where sup is the least string above every p-prefixed
    // one, so string bounds make prefix pruning sound: a file may
    // match iff ub >= p and lb < sup (lb < p or lb itself p-prefixed).
    case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType))
        if posOf(a) >= 0 && a.dataType == StringType =>
      val c = posOf(a)
      val prefix = p.toString
      Some(files.indices.filter { i =>
        colRange(i, c, eqs).forall { r =>
          mayGeq(r, prefix, strict = false) &&
            r.lb.forall(_.forall(lb => Lex.valueCmp(lb, prefix) < 0 ||
              lb.toString.startsWith(prefix)))
        }
      }.toSet)
    case _ => None
  }

  /** Files whose column-`c` range may contain exactly `ext` (non-null). */
  private def eqKeep(ext: Any, c: Int, eqs: Map[Int, Any]): Set[Int] =
    files.indices.filter { i =>
      colRange(i, c, eqs).forall(r =>
        mayGeq(r, ext, strict = false) && mayLeq(r, ext, strict = false))
    }.toSet

  /** Intersect two optional keep sets; None = "cannot analyze" keeps
    * everything, so it defers to the other side. */
  private def intersectOpt(
      a: Option[Set[Int]], b: Option[Set[Int]]): Option[Set[Int]] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(x.intersect(y))
      case _ => a.orElse(b)
    }

  /** Bloom-sidecar keep set for `col = ext`: files whose filter says
    * the value might be present (files without a filter — e.g.
    * appended after the bloom build — are always kept). None when the
    * column carries no blooms or the value type is not bloom-typed. */
  private def bloomValueKeep(name: String, ext: Any): Option[Set[Int]] =
    blooms.get(name).flatMap { per =>
      val test: Option[org.apache.spark.util.sketch.BloomFilter => Boolean] =
        ext match {
          case l: Long   => Some(_.mightContainLong(l))
          case i: Int    => Some(_.mightContainLong(i.toLong))
          case s: Short  => Some(_.mightContainLong(s.toLong))
          case b: Byte   => Some(_.mightContainLong(b.toLong))
          case s: String => Some(_.mightContainString(s))
          case _ => None
        }
      test.map(t => files.indices.filter(i => per(i).forall(t)).toSet)
    }

  private def bloomKeep(attr: Expression, lit: Expression): Option[Set[Int]] =
    (attr, lit) match {
      case (a: AttributeReference, l: Literal)
          if l.value != null && blooms.contains(a.name) =>
        bloomValueKeep(a.name,
          CatalystTypeConverters.convertToScala(l.value, l.dataType))
      case _ => None
    }

  /** Keep set for `col = ext`, combining the lex/stats bounds (when
    * the column has them) and the Bloom sidecar (when indexed). */
  private def valueKeep(
      a: AttributeReference, ext: Any, eqs: Map[Int, Any]): Option[Set[Int]] = {
    val range = if (posOf(a) >= 0) Some(eqKeep(ext, posOf(a), eqs)) else None
    intersectOpt(range, bloomValueKeep(a.name, ext))
  }

  private def posOf(e: Expression): Int = e match {
    case a: AttributeReference =>
      val p = indexCols.indexOf(a.name)
      if (p >= 0) p
      else {
        val x = extraCols.indexOf(a.name)
        if (x >= 0) indexCols.length + x else -1
      }
    case _ => -1
  }

  /** The file may contain a non-null value >(=) ext: needs a known,
    * non-null upper bound failing the test to prune (an unknown side
    * keeps; a null upper bound means the column is all null). */
  private def mayGeq(r: ColRange, ext: Any, strict: Boolean): Boolean =
    r.ub match {
      case None => true
      case Some(None) => false
      case Some(Some(u)) =>
        if (strict) Lex.valueCmp(u, ext) > 0 else Lex.valueCmp(u, ext) >= 0
    }

  /** The file may contain a non-null value <(=) ext: the column must
    * not be all-null, and a known non-null lower bound must pass (a
    * null lower bound leaves the least non-null value unknown). */
  private def mayLeq(r: ColRange, ext: Any, strict: Boolean): Boolean =
    r.ub != Some(None) && (r.lb match {
      case None => true
      case Some(None) => true
      case Some(Some(l)) =>
        if (strict) Lex.valueCmp(l, ext) < 0 else Lex.valueCmp(l, ext) <= 0
    })

  /** Files whose column-`c` non-null value range may contain a value
    * `op` the literal. All-null columns never satisfy a comparison. */
  private def cmpSet(
      attr: Expression, lit: Expression, op: String,
      eqs: Map[Int, Any]): Option[Set[Int]] =
    (attr, lit) match {
      case (a: AttributeReference, l: Literal)
          if posOf(a) >= 0 && l.value != null =>
        val c = posOf(a)
        val ext = CatalystTypeConverters.convertToScala(l.value, l.dataType)
        Some(files.indices.filter { i =>
          colRange(i, c, eqs).forall { r =>
            op match {
              case ">=" => mayGeq(r, ext, strict = false)
              case ">"  => mayGeq(r, ext, strict = true)
              case "<=" => mayLeq(r, ext, strict = false)
              case "<"  => mayLeq(r, ext, strict = true)
              case "="  => mayGeq(r, ext, strict = false) &&
                mayLeq(r, ext, strict = false)
            }
          }
        }.toSet)
      case _ => None
    }

  /** The leading clustered column (head of the lex index; in
    * independent-stats mode, the first stats column) — the one column
    * whose per-file scalar bounds are always derivable. */
  def leadingColumn: Option[String] = indexCols.headOption

  /** Per-file scalar bounds of the leading column, in the sidecar's
    * null-first encoding: lb None = the file may contain nulls in it
    * (least non-null unknown), ub None = every row is null.
    * `graft.plans.MetadataCount` derives file-constant GROUP BY
    * values from these (lb == ub non-null → constant; both None →
    * the NULL group). */
  def headBounds: IndexedSeq[(Option[Any], Option[Any])] =
    files.indices.map(i =>
      (lbs(i).headOption.flatten, ubs(i).headOption.flatten))

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  /** The sidecar-derived file statuses (no directory listing) — the
    * [[GraftPartitioningIndex]] V2 adapter serves its leaf listing
    * from these. */
  private[sql] def fileStatuses: IndexedSeq[FileStatus] = statuses
}

/** [[GraftFileIndex]] adapted to the [[execution.datasources
  * .PartitioningAwareFileIndex]] shape the DSv2 file scans
  * (`ParquetScanBuilder`) require: the leaf listing comes from the
  * sidecar (zero directory listings), `listFiles` delegates to the
  * inner index so pushed data filters prune whole files through the
  * lex bounds / Bloom / column-stats sidecars exactly like the V1
  * relation — the scan behind the `graft` [[org.apache.spark.sql
  * .connector.catalog.TableCatalog]]. */
final class GraftPartitioningIndex(
    spark: classic.SparkSession,
    inner: GraftFileIndex,
    schema: StructType)
    extends execution.datasources.PartitioningAwareFileIndex(
      spark, Map.empty, Some(schema)) {
  import org.apache.hadoop.fs.FileStatus

  override def partitionSpec(): execution.datasources.PartitionSpec =
    execution.datasources.PartitionSpec.emptySpec
  override def partitionSchema: StructType = StructType(Nil)
  override protected def leafFiles:
      scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    inner.fileStatuses.foreach(st => m += (st.getPath -> st))
    m
  }
  override protected def leafDirToChildrenFiles:
      Map[Path, Array[FileStatus]] =
    inner.fileStatuses.groupBy(_.getPath.getParent)
      .map { case (d, sts) => d -> sts.toArray }
  override def listFiles(
      partitionFilters: Seq[catalyst.expressions.Expression],
      dataFilters: Seq[catalyst.expressions.Expression]):
      Seq[execution.datasources.PartitionDirectory] =
    inner.listFiles(partitionFilters, dataFilters)
  override def rootPaths: Seq[Path] = inner.rootPaths
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] = inner.inputFiles
  override def sizeInBytes: Long = inner.sizeInBytes
}

object GraftRelations {
  /** One parquet relation over the given files with the listing (and
    * in-Catalyst file pruning) served by [[GraftFileIndex]] from
    * sidecar lex-tuple bounds — no directory listing, schema from the
    * sidecar (no footer reads at plan time). */
  def sidecarParquetDF(
      spark: SparkSession,
      files: IndexedSeq[String],
      schema: StructType,
      indexCols: Seq[String],
      lbs: IndexedSeq[Bound],
      ubs: IndexedSeq[Bound],
      rowCounts: Option[IndexedSeq[Long]] = None,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val ss = spark.asInstanceOf[classic.SparkSession]
    // Byte lengths via Hadoop FileSystem, one listing per parent dir —
    // works for local, HDFS and object-store datasets alike.
    val withSizes = graft.core.GraftFs.fileSizes(
      spark.sparkContext.hadoopConfiguration, files)
    // A `_graft_bloom` sidecar next to the files (cached, one stat
    // call) adds point-lookup pruning on its columns; a
    // `_graft_colstats.json` sidecar adds independent range pruning
    // on its (non-index) columns plus metadata-only min/max/count.
    val raw = graft.core.ColumnStats.rawForFiles(spark, files, schema)
    val index = new GraftFileIndex(withSizes, indexCols, lbs, ubs,
      blooms = graft.core.BloomIndex.forFiles(spark, files),
      rowCounts = rowCounts,
      extraStats = graft.core.ColumnStats.pruning(raw),
      rawColStats = raw)
    relationDF(ss, index, schema, renames)
  }

  /** Relation over files carrying INDEPENDENT per-column min/max
    * stats (one scalar bound pair per column per file, no lex
    * structure) — the read side of multi-dimensional clustering: a
    * pushed filter on ANY stats column prunes files at plan time. */
  def independentStatsParquetDF(
      spark: SparkSession,
      files: IndexedSeq[String],
      schema: StructType,
      statsCols: Seq[String],
      lbs: IndexedSeq[Bound],
      ubs: IndexedSeq[Bound]): DataFrame = {
    val ss = spark.asInstanceOf[classic.SparkSession]
    val withSizes = graft.core.GraftFs.fileSizes(
      spark.sparkContext.hadoopConfiguration, files)
    val index =
      new GraftFileIndex(withSizes, statsCols, lbs, ubs, independentStats = true)
    relationDF(ss, index, schema)
  }

  /** The [[HadoopFsRelation]] for a sidecar-carrying dataset
    * directory — the relation behind `spark.read.format("graft")`:
    * file listing, schema and lex-tuple bounds all from the sidecar
    * (no directory listing, no Spark job: one driver-side footer read
    * of the schema sidecar), pruning inside
    * Catalyst. When a `_graft_bloom` sidecar exists (see
    * [[graft.core.BloomIndex]]), pushed `=`/`IN` predicates on its
    * columns additionally prune through the per-file Bloom filters. */
  def sidecarRelation(
      spark: SparkSession, dir: String): HadoopFsRelation =
    sidecarRelationFor(spark, dir, graft.core.Sidecar.load(spark, dir))

  /** [[sidecarRelation]] over an explicit metadata generation — the
    * relation behind `format("graft").option("version", n)`. Bloom
    * entries stay valid for archived generations because partition
    * files are immutable (rewrites get fresh names). */
  def sidecarRelationFor(
      spark: SparkSession, dir: String,
      m: graft.core.Sidecar.Meta): HadoopFsRelation = {
    HadoopFsRelation(
      fileIndexFor(spark, dir, m),
      partitionSchema = StructType(Nil),
      dataSchema = m.schema,
      bucketSpec = None,
      fileFormat =
        if (m.columnRenames.isEmpty) new ParquetFileFormat()
        else new GraftRenameParquetFileFormat(m.columnRenames),
      options = Map.empty)(spark.asInstanceOf[classic.SparkSession])
  }

  /** The [[GraftFileIndex]] for one metadata generation: listing,
    * sizes and lex bounds from the sidecar, Bloom/column-stats
    * sidecars armed when present — shared by the V1 relation above
    * and the V2 catalog scan. */
  def fileIndexFor(
      spark: SparkSession, dir: String,
      m: graft.core.Sidecar.Meta): GraftFileIndex = {
    // Creating a graft relation arms the metadata-only count(*) rule
    // and the conf-driven view rewrite (`SET spark.graft.views=...`)
    // for this session (both idempotent).
    graft.plans.MetadataCount.ensureRule(spark)
    graft.plans.ConfViewRewrites.ensure(spark)
    val p = new Path(dir)
    val files = m.files.map(f => new Path(p, f).toString).toIndexedSeq
    val withSizes = graft.core.GraftFs.fileSizes(
      spark.sparkContext.hadoopConfiguration, files)
    // sidecars resolve from the TABLE dir, not the files' parent —
    // a shallow clone's files live in its source's directory while
    // its (ANALYZE-built) pruning sidecars live in its own
    val raw = graft.core.ColumnStats.rawForFiles(
      spark, files, m.schema, Some(dir))
    new GraftFileIndex(
      withSizes, m.indexColumns, m.lowerBounds, m.upperBounds,
      blooms = graft.core.BloomIndex.forFiles(spark, files, Some(dir)),
      rowCounts = Some(m.sizes),
      extraStats = graft.core.ColumnStats.pruning(raw),
      rawColStats = raw)
  }

  /** DSv2 scan builder over one metadata generation: Spark's own
    * vectorized parquet scan ([[org.apache.spark.sql.execution
    * .datasources.v2.parquet.ParquetScanBuilder]]) planned over the
    * sidecar-served file index — pushed filters reach BOTH the
    * file-pruning index and the parquet row-group reader. */
  def v2ScanBuilder(
      spark: SparkSession, dir: String, m: graft.core.Sidecar.Meta,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap):
      org.apache.spark.sql.connector.read.ScanBuilder = {
    val ss = spark.asInstanceOf[classic.SparkSession]
    org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetScanBuilder(ss,
        new GraftPartitioningIndex(ss, fileIndexFor(spark, dir, m),
          m.schema),
        m.schema, m.schema, options)
  }

  private def relationDF(
      ss: classic.SparkSession,
      index: GraftFileIndex,
      schema: StructType,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val rel = HadoopFsRelation(
      index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      // metadata-only renamed columns translate to on-disk names at
      // the parquet reader boundary; the relation stays logical-facing
      fileFormat =
        if (renames.isEmpty) new ParquetFileFormat()
        else new GraftRenameParquetFileFormat(renames),
      options = Map.empty)(ss)
    classic.Dataset.ofRows(ss, LogicalRelation(rel))
  }
}
