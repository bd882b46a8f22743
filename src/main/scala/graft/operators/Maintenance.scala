package graft.operators

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{DivisionRouter, FileOrdinal, FileOrdinalExpr, GraftFs,
  Lex, LexColumns, PDataset, ScatterWrite, Sidecar, Stats}
import graft.core.Lex.Bound

/** In-place table maintenance for persisted sidecar datasets — the
  * operations a continuously-ingested 100 TB table needs so that
  * keeping it healthy never means rewriting it:
  *
  *   - [[compact]]: bin-pack adjacent small partition files into
  *     target-sized ones. Only the small files are read; a table
  *     where 1% of files are ingest dribble rewrites 1% of its bytes.
  *   - [[deleteRange]]: delete an index range. Files fully inside the
  *     range are dropped WITHOUT being read; for a contiguous range
  *     over disjoint sorted partitions at most the two boundary files
  *     are rewritten, regardless of table size.
  *   - [[upsert]]: merge updates keyed by the index columns. Update
  *     rows are routed to their partition via the O(log n) division
  *     router; only partitions that receive updates are rewritten —
  *     updating 0.1% of keys rewrites ~0.1% of files.
  *
  * Every op that replaces data files (these three, [[recluster]],
  * the row-level rewrites and [[DeletionVectors.materialize]]) writes
  * through one scatter job ([[writeReplacements]]) and commits
  * through one install ([[installCommit]]), so all follow the same
  * crash-safety discipline: new content is written under fresh
  * partition file names (numbered past `max_partition_index`, never
  * overwriting a name a concurrent committer already holds), the
  * metadata swap is atomic (temp + rename, see [[Sidecar.write]]) and
  * rebases over a concurrent commit on other files, and replaced
  * files are deleted only after the new sidecar is installed — a
  * crash at any point leaves a readable dataset (at worst with
  * orphaned un-referenced files or a stage directory [[vacuum]]
  * reclaims). A concurrent commit that rewrote one of the op's input
  * files, or a deletion-vector mark landing on one, aborts the op
  * and removes its unregistered files. With `retain = true` an op
  * instead archives the outgoing metadata as a readable generation —
  * time travel via [[scanVersion]], storage reclaim via [[vacuum]].
  *
  * The reference engine has no in-place maintenance (a padawan
  * dataset is rewritten wholesale via `repartition` +
  * `write_parquet`); these operators exist because at 100 TB
  * "rewrite the table" stops being an option.
  */
object Maintenance {

  /** What a maintenance pass did, for observability and specs.
    * `untouched` files were neither read nor rewritten. The keyed
    * paths (upsert/deleteKeys/merge) also report the delta's row
    * counts (`upsertRows`/`deleteRows`) — already computed by their
    * fused validation aggregate, so callers that need "how many keys
    * did I touch" ([[IncrementalAgg.refresh]]) read it here instead
    * of paying another count job. */
  final case class Report(
      rewritten: Int,
      dropped: Int,
      merged: Int,
      created: Int,
      untouched: Int,
      upsertRows: Long = 0L,
      deleteRows: Long = 0L)

  // ---- versioning (time travel) ----
  //
  // Every maintenance op installs new content under FRESH file names
  // and swaps the metadata atomically, so keeping the previous
  // generation readable costs nothing but storage: with
  // `retain = true` the op archives the outgoing metadata under
  // `_graft_history/v{N}.json` and skips the file deletions.
  // [[scanVersion]] opens an archived generation (same format, same
  // pruning); [[vacuum]] deletes the history and every data file the
  // CURRENT generation doesn't reference. At 100 TB the storage story
  // is explicit: each retained generation holds only the files it
  // doesn't share with its neighbors (an upsert of 0.1% of partitions
  // retains ~0.1% extra bytes), and vacuum is one driver-side listing
  // diff — no data job.

  val HistoryDir = "_graft_history"

  /** Dot-prefixed crash debris [[vacuum]] may reclaim: scatter /
    * fast-write / z-order / txn-seed stage directories and
    * metadata-swap temp files a crashed op never cleaned up. An
    * explicit allowlist — vacuum never touches an unknown dot entry
    * (checkpoints, OS droppings), and `_graft_*` / `_padawan_*`
    * sidecars don't match any prefix here. */
  private[graft] val DebrisPrefixes: Seq[String] = Seq(
    ".graft-scatter-", ".graft-rowscatter-", ".graft-fastwrite-",
    ".graft-zorder-", ".graft-txn-seed-", ".graft-compact-",
    ".graft-dvmat-", ".graft-replace-", ".graft-update-",
    ".graft-upsert-", ".graft-recluster-", ".graft-delrange-",
    ".spark-stage-",
    "._padawan_metadata.json.tmp-")

  /** Default age before stage debris is considered abandoned (an
    * in-flight op's stage receives writes, keeping its mtime fresh;
    * a crashed op's stage only ever gets older). */
  val DefaultDebrisGraceMs: Long = 24L * 3600 * 1000

  private[graft] def versionFile(dirPath: HPath, n: Int): HPath =
    new HPath(new HPath(dirPath, HistoryDir), f"v$n%010d.json")

  /** Archived generation numbers at `dir`, ascending (empty when the
    * dataset has no history). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val h = new HPath(dirPath, HistoryDir)
    if (!GraftFs.isDir(fs, h)) return Seq.empty
    GraftFs.listStatuses(fs, h)
      .map(_.getPath.getName)
      // digits-only: a stray editor backup or temp file in the history
      // dir must not turn every versions()/archive call into a
      // NumberFormatException
      .collect { case VersionFilePattern(n) => n.toInt }
      .sorted.toSeq
  }

  private val VersionFilePattern = """v(\d+)\.json""".r

  /** Archived (version, mtime) pairs at `dirPath`, version-ascending —
    * the one listing metaAsOf and vacuum both resolve history from. */
  private def archivedWithMtimes(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath): Seq[(Int, Long)] = {
    val h = new HPath(dirPath, HistoryDir)
    if (!GraftFs.isDir(fs, h)) Seq.empty
    else GraftFs.listStatuses(fs, h)
      .flatMap(st => st.getPath.getName match {
        case VersionFilePattern(n) => Some(n.toInt -> st.getModificationTime)
        case _ => None
      })
      .sortBy(_._1).toSeq
  }

  /** One row per readable generation, version-ascending with the
    * current generation last: version, is_current, replaced_at (the
    * instant the NEXT generation superseded it — the same mtime
    * semantics [[metaAsOf]] resolves by; null for the current
    * generation), n_files, n_rows, index_columns. DESCRIBE HISTORY
    * for graft datasets, and the hook behind
    * `spark.read.format("graft").option("history", true)`.
    *
    * Driver-side only: reads the KB-scale archived metadata files,
    * never a data file — O(retained generations) at any table size. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val archived = archivedWithMtimes(fs, dirPath)
    val cur = Sidecar.load(spark, dir)
    val curVersion = archived.lastOption.map(_._1 + 1).getOrElse(0)
    val rows: Seq[org.apache.spark.sql.Row] = archived.map {
      case (v, mtime) =>
        val m = versionMeta(spark, dir, v)
        org.apache.spark.sql.Row(v, false,
          java.time.Instant.ofEpochMilli(mtime), m.files.length,
          m.sizes.sum, m.indexColumns.mkString(","))
    } :+ org.apache.spark.sql.Row(curVersion, true, null,
      cur.files.length, cur.sizes.sum, cur.indexColumns.mkString(","))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("is_current",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("replaced_at",
        org.apache.spark.sql.types.TimestampType, nullable = true),
      org.apache.spark.sql.types.StructField("n_files",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("index_columns",
        org.apache.spark.sql.types.StringType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The sidecar metadata of archived generation `version` (also the
    * hook behind `spark.read.format("graft").option("version", n)`). */
  def versionMeta(
      spark: SparkSession, dir: String, version: Int): Sidecar.Meta = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val vf = versionFile(dirPath, version)
    if (!GraftFs.isFile(fs, vf))
      throw new IllegalArgumentException(
        s"generation $version of $dir is not retained (never archived, " +
          "or vacuumed). A table's history starts at ITS OWN first " +
          "retained commit — a shallow clone does not inherit its " +
          "source's generations; time-travel or feed the SOURCE for " +
          "pre-clone history.")
    Sidecar.loadFile(spark, dir, vf)
  }

  /** Open archived generation `version` of the dataset at `dir` —
    * the full engine surface (pruned slices, joins, toDF) over the
    * old file listing. Requires the generation to not have been
    * [[vacuum]]ed. */
  def scanVersion(spark: SparkSession, dir: String, version: Int): PDataset =
    PDataset.fromSidecarMeta(spark, dir, versionMeta(spark, dir, version))

  /** The sidecar metadata that was CURRENT at `tsMillis`, resolved
    * from `_graft_history` modification times: an archived `vN.json`'s
    * mtime is the instant the NEXT generation replaced it, so vN was
    * live on [m(N-1), m(N)) and the current metadata from the last
    * archive onward. A timestamp at or after the newest archive (or
    * any timestamp on a dataset with no history) resolves to the
    * current generation; one before the oldest archive resolves to
    * the oldest snapshot still on record. */
  def metaAsOf(
      spark: SparkSession, dir: String, tsMillis: Long): Sidecar.Meta = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val archived = archivedWithMtimes(fs, dirPath)
    archived.find(_._2 > tsMillis) match {
      case Some((v, _)) => versionMeta(spark, dir, v)
      case None => Sidecar.load(spark, dir)
    }
  }

  /** Time travel by timestamp: the dataset as it was at `tsMillis`
    * (see [[metaAsOf]] for resolution semantics; also the hook behind
    * `spark.read.format("graft").option("asOfTimestamp", ts)`). */
  def scanVersionAsOf(
      spark: SparkSession, dir: String, tsMillis: Long): PDataset =
    PDataset.fromSidecarMeta(spark, dir, metaAsOf(spark, dir, tsMillis))

  /** Roll the dataset BACK to archived generation `version`. The
    * outgoing current generation is archived first, so a restore is
    * itself undoable (and its change feed is readable). Data files
    * are immutable and retained generations keep theirs on disk, so
    * restore is a metadata-only swap — zero data I/O at any table
    * size. The partition-name counter only ever ratchets up (a
    * restored listing must not recycle names newer generations
    * used), and the current (possibly evolved) schema stays
    * authoritative, exactly as it is when reading the archived
    * generation directly. */
  def restore(spark: SparkSession, dir: String, version: Int): Unit = {
    DeletionVectors.requireNone(spark, dir, "restore")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val cur = Sidecar.load(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val target = versionMeta(spark, dir, version)
    guardUnchanged(spark, dirPath, loadedFp)
    archiveCurrent(spark, fs, dirPath)
    Sidecar.write(spark, dir, target.indexColumns, target.files,
      target.sizes, target.lowerBounds, target.upperBounds,
      math.max(target.maxPartitionIndex, cur.maxPartitionIndex),
      target.schema, extras = cur.extras)
    refreshBloom(spark, dir)
  }

  /** TRUNCATE: drop every row, keeping the schema, index columns and
    * the sidecar extras (txn ledger) — a metadata-only swap plus the
    * file deletes; files an archived generation still references stay
    * on disk for time travel, and `retain = true` archives the
    * outgoing listing so the truncate itself is undoable. Zero data
    * I/O at any table size. */
  def truncate(
      spark: SparkSession, dir: String, retain: Boolean = false): Unit = {
    DeletionVectors.requireNone(spark, dir, "truncate")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    guardUnchanged(spark, dirPath, loadedFp)
    if (retain) archiveCurrent(spark, fs, dirPath)
    Sidecar.write(spark, dir, m.indexColumns, Seq.empty, Seq.empty,
      Seq.empty, Seq.empty, m.maxPartitionIndex, m.schema,
      extras = m.extras)
    if (!retain)
      deletableNow(spark, dir, m.files.toSeq)
        .foreach(f => fs.delete(new HPath(dirPath, f), false))
    refreshBloom(spark, dir)
  }

  /** [[restore]] with the target resolved by TIMESTAMP through the
    * retained history's mtimes ([[metaAsOf]] semantics): roll back to
    * the generation that was current at `tsMillis`. An instant at or
    * after the newest archive resolves to the current generation —
    * nothing to do, so the call is a no-op (no spurious archive
    * commit). */
  def restoreAsOf(spark: SparkSession, dir: String, tsMillis: Long): Unit = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    archivedWithMtimes(fs, dirPath).find(_._2 > tsMillis) match {
      case Some((v, _)) => restore(spark, dir, v)
      case None => ()
    }
  }

  // ---- shallow clone (zero-copy table branch) ----

  /** Zero-copy clone: create a table at `dstDir` whose sidecar
    * references the SOURCE table's data files by absolute path — no
    * data is read or copied, so branching a 100 TB table for an
    * experiment is one KB-scale metadata write (the Delta/Iceberg
    * SHALLOW CLONE idea). Every read path resolves entries with
    * `new Path(dir, entry)`, which keeps an absolute entry as-is, so
    * scans, pruning, joins and SQL over the clone work unchanged.
    *
    * Divergence is copy-on-write: mutations of the clone (appends,
    * UPDATE/DELETE/MERGE, compaction) write NEW files inside the
    * clone's own directory and merely drop references to source
    * files — [[deletableNow]] refuses to delete external entries, and
    * [[vacuum]] only ever deletes files it finds by listing the
    * clone's directory, so the source's bytes are untouchable through
    * the clone. Cloning a clone chains naturally: already-absolute
    * entries copy verbatim, still pointing at the original bytes.
    *
    * `version = Some(n)` clones a retained generation
    * ([[scanVersion]] semantics — the snapshot exactly as archived).
    * Cloning the CURRENT generation also inherits the source's
    * pending deletion-vector overlay (marks key by file BASE name,
    * which the shared physical files preserve), so a clone taken
    * mid-merge-on-read hides exactly the rows the source hides.
    *
    * The source-side hazard is BROADER than Delta's: graft's
    * non-retained ops delete replaced files immediately (Delta keeps
    * them until VACUUM), so ANY non-retained rewrite of the source —
    * updateWhere, deleteRange, compact, DV materialize — would remove
    * bytes a clone may still reference, not just an explicit vacuum.
    * The clone therefore registers a BACKLINK marker in every
    * directory whose bytes it references (`_graft_clones/`), and the
    * owners' [[deletableNow]] and [[vacuum]] keep any file a live
    * registered clone still references; a marker whose clone is
    * dropped or fully localized self-cleans on the next maintenance
    * pass. The guard is best-effort (a read-only source filesystem
    * cannot carry markers; a clone mid-commit can race a source
    * rewrite) — sources mutating heavily under live clones should
    * still prefer `retain = true` (or the `graft.retain` table
    * property), which keeps full history instead.
    *
    * Returns the number of file references cloned. */
  def shallowClone(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      version: Option[Int] = None): Int = {
    val (sfs, srcPath) = GraftFs.resolve(spark, srcDir)
    val (dfs, dstPath) = GraftFs.resolve(spark, dstDir)
    require(Sidecar.exists(spark, srcDir),
      s"shallow clone source $srcDir is not a graft table " +
        "(no sidecar metadata)")
    if (Sidecar.exists(spark, dstDir))
      throw new IllegalStateException(
        s"shallow clone target $dstDir is already a graft table; " +
          "clone into a fresh directory")
    val qualifiedSrc = sfs.makeQualified(srcPath)
    require(dfs.makeQualified(dstPath) != qualifiedSrc,
      s"shallow clone target equals the source ($srcDir)")
    val loadedFp = metaFingerprint(spark, srcPath)
    val m = version match {
      case Some(v) => versionMeta(spark, srcDir, v)
      case None => Sidecar.load(spark, srcDir)
    }
    // Entries become absolute paths into the source. Qualification
    // pins the source FILESYSTEM too (scheme + authority), so a clone
    // on another FS still resolves to the source's bytes.
    val entries = m.files.map(f =>
      if (isExternalEntry(f)) f // clone-of-clone: keep the original
      else new HPath(qualifiedSrc, f).toString)
    GraftFs.mkdirs(dfs, dstPath)
    // Current-generation clones inherit the pending deletion-vector
    // overlay; an archived generation predates the overlay's marks
    // (scanVersion does not apply them), so version clones skip it.
    if (version.isEmpty)
      DeletionVectors.copyOverlay(spark, srcDir, dstDir)
    // CHECK constraints travel with the table contract.
    val cFile = new HPath(srcPath, Constraints.FileName)
    if (GraftFs.isFile(sfs, cFile))
      GraftFs.writeString(dfs, new HPath(dstPath, Constraints.FileName),
        GraftFs.readString(sfs, cFile))
    // Writer-scoped ledgers (streaming txn, COPY INTO) do NOT travel:
    // the clone is a new sink with its own idempotence history.
    val extras = (m.extras -- Seq("txn", "copyInto")) +
      ("clonedFrom" -> (qualifiedSrc.toString +
        version.map(v => s"@v$v").getOrElse("")))
    // The source may have committed while we copied the overlay —
    // a half-old-half-new clone would be an inconsistent snapshot.
    // Best-effort source-side protection: register this clone in
    // every directory whose bytes it references BEFORE installing the
    // clone's sidecar — a crash in between leaves a marker for a
    // missing clone (grace-protected, then swept as stale), never a
    // live clone without its guard ([[deletableNow]] / [[vacuum]]
    // consult the backlinks; stale markers self-clean there).
    registerCloneBacklinks(spark, entries, qualifiedSrc,
      dfs.makeQualified(dstPath).toString)
    guardUnchanged(spark, srcPath, loadedFp)
    Sidecar.write(spark, dstDir, m.indexColumns, entries,
      m.sizes, m.lowerBounds, m.upperBounds, m.maxPartitionIndex,
      m.schema, extras = extras)
    entries.length
  }

  /** [[shallowClone]] with the source snapshot resolved by TIMESTAMP
    * through the retained history's mtimes ([[metaAsOf]] semantics):
    * an instant at or after the newest archive clones the CURRENT
    * generation (overlay included), an earlier one the generation
    * that was live then. */
  def shallowCloneAsOf(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      tsMillis: Long): Int = {
    val (fs, srcPath) = GraftFs.resolve(spark, srcDir)
    val v = archivedWithMtimes(fs, srcPath).find(_._2 > tsMillis).map(_._1)
    shallowClone(spark, srcDir, dstDir, v)
  }

  /** Change-data feed between two retained generations: every row
    * inserted, deleted or updated going from `fromVersion` to
    * `toVersion` (`None` = the current generation), tagged with a
    * `change_type` column in the Delta-CDF vocabulary: `"insert"`,
    * `"delete"`, and — when an index key lost exactly one row and
    * gained exactly one row across the span — the pair
    * `"update_preimage"` (the old row) / `"update_postimage"` (the
    * new row). Keys with any other delta multiplicity (possible only
    * when the table holds duplicate index keys) keep plain
    * insert/delete tags; so does a keyless (no index) table.
    *
    * Maintenance ops never modify a data file in place — new content
    * always lands under fresh names — so a file shared by both
    * generations is byte-identical and its rows cannot differ. Only
    * the files PRESENT IN EXACTLY ONE generation are read — each
    * once — and the multiset diff is a single signed-count aggregate
    * (new rows +1, old rows -1, grouped on every column) shuffling
    * only those delta rows: an upsert that touched 0.1% of a 100 TB
    * table yields a feed job over ~0.1% of it, however big the table
    * is. Rows a rewrite carried over unchanged (compaction, the
    * unaffected neighbors in an upserted partition) cancel to a zero
    * count and drop out.
    *
    * Columns follow the NEWER generation's schema; rows read from the
    * older one null-fill columns added since (mirroring read-time
    * null-fill of schema evolution), and columns dropped since are
    * dropped from the old rows before diffing.
    *
    * Naming note: the tag VALUES are Delta-CDF's, but the tag COLUMN
    * is `change_type` — intentionally unprefixed, unlike Delta's
    * `_change_type`, because here the feed is an ordinary DataFrame
    * (not a reserved read-option view) and the engine reserves the
    * `_`-prefix for commit attribution columns that are NOT row data
    * (`_commit_version` / `_commit_timestamp`, which DO keep Delta's
    * names — see [[changesWithCommitInfo]]). A drop-in Delta consumer
    * should `.withColumnRenamed("change_type", "_change_type")`. */
  def changes(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame =
    changesBetween(spark, dir,
      versionMeta(spark, dir, fromVersion),
      toVersion match {
        case Some(v) => versionMeta(spark, dir, v)
        case None => Sidecar.load(spark, dir)
      })

  /** [[changes]] with the endpoints resolved by TIMESTAMP (epoch
    * millis) through the retained history's mtimes — "what changed
    * since last night's run" without tracking generation numbers
    * (`None` = the current generation); resolution semantics as
    * [[metaAsOf]]. */
  def changesAsOf(
      spark: SparkSession,
      dir: String,
      fromTsMillis: Long,
      toTsMillis: Option[Long] = None): DataFrame =
    changesBetween(spark, dir,
      metaAsOf(spark, dir, fromTsMillis),
      toTsMillis match {
        case Some(t) => metaAsOf(spark, dir, t)
        case None => Sidecar.load(spark, dir)
      })

  /** [[changes]] with PER-COMMIT attribution — the full Delta-CDF
    * shape: one row per change per GENERATION STEP, tagged
    * `_commit_version` (the generation number the step produced; the
    * current generation is one past the newest archive) and
    * `_commit_timestamp` (the instant the step's outgoing metadata
    * was archived — the commit instant, the same mtime semantics
    * [[metaAsOf]] resolves by). Each step diffs consecutive retained
    * generations, so the total cost is O(sum of per-step deltas) —
    * the price of attribution over the endpoint-diff [[changes]],
    * which cancels churn across the span but cannot say WHICH commit
    * changed a row. Every generation in `[fromVersion, to)` must be
    * retained (a vacuumed intermediate refuses loudly). */
  def changesWithCommitInfo(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val mtimes = archivedWithMtimes(fs, dirPath).toMap
    val vs = versions(spark, dir).toSet
    val hi = toVersion.getOrElse(
      versions(spark, dir).lastOption.map(_ + 1).getOrElse(0))
    require(fromVersion <= hi,
      s"changesWithCommitInfo: fromVersion $fromVersion > $hi")
    (fromVersion until hi).foreach(v => require(vs.contains(v),
      s"generation $v of $dir is not retained (vacuumed?); " +
        "per-commit attribution needs every generation in the span — " +
        "use changes() for the endpoint diff"))
    val steps = (fromVersion until hi).map { v =>
      val toMeta =
        if (vs.contains(v + 1)) versionMeta(spark, dir, v + 1)
        else Sidecar.load(spark, dir)
      changesBetween(spark, dir, versionMeta(spark, dir, v), toMeta)
        .withColumn("_commit_version", lit(v + 1))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(mtimes(v))))
    }
    // Balanced-tree union: a left-deep reduce over a span of
    // thousands of retained commits builds a thousand-deep logical
    // plan — driver analysis blows up long before any data cost.
    // Pairwise folding keeps the plan O(log steps) deep.
    @annotation.tailrec
    def balanced(xs: IndexedSeq[DataFrame]): DataFrame =
      if (xs.length == 1) xs.head
      else balanced(xs.grouped(2).map {
        case Seq(a, b) => a.unionByName(b)
        case Seq(a) => a
      }.toIndexedSeq)
    (if (steps.isEmpty) None else Some(balanced(steps.toIndexedSeq)))
      .getOrElse {
      val base = Sidecar.load(spark, dir).schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_timestamp",
            org.apache.spark.sql.types.TimestampType, nullable = false))))
    }
  }

  private[graft] def changesBetween(
      spark: SparkSession,
      dir: String,
      fromMeta: Sidecar.Meta,
      toMeta: Sidecar.Meta): DataFrame = {
    // A column rename between the endpoints needs no special-casing
    // here: archived metadata loads TRANSLATED to the current logical
    // names through the columns' stable physical identity
    // (Sidecar.loadFile), so both sides of the diff — and time travel
    // — already speak today's names, the way Delta's column mapping
    // keeps CDF flowing across renames.
    val fromSet = fromMeta.files.toSet
    val toSet = toMeta.files.toSet
    val oldDf = alignTo(
      subsetDf(spark, dir, fromMeta, f => !toSet(f)), toMeta.schema)
    val newDf = subsetDf(spark, dir, toMeta, f => !fromSet(f))
    val dataCols = toMeta.schema.fieldNames.toIndexedSeq.map(col)
    // EXCEPT ALL both ways, in ONE pass: +1 per new row, -1 per old
    // row, grouped null-safe on every column (the same equality
    // EXCEPT ALL uses); a nonzero count is |count| inserts or
    // deletes, a zero count is a row the rewrite carried over.
    val net = newDf.withColumn("__delta", lit(1L))
      .unionByName(oldDf.withColumn("__delta", lit(-1L)))
      .groupBy(dataCols: _*)
      .agg(sum("__delta").as("__delta"))
      .filter(col("__delta") =!= 0L)
    // Update pairing (Delta-CDF): per index key, ONE ordered window
    // pass over the DELTA rows pairs min(rows lost, rows gained)
    // losses with gains — the paired loss is an `update_preimage`,
    // the paired gain its `update_postimage`, the remainder keeps
    // plain delete/insert tags. A unique-key table reduces to the
    // classic (1 loss, 1 gain) = one update pair; duplicate-key
    // tables still get update semantics for the paired portion.
    // Pairing WHICH loss with WHICH gain is unknowable from a
    // multiset diff, so the choice is made deterministic by ordering
    // each side on a content hash (ties are bit-identical rows, for
    // which the choice is immaterial). Keyless (no index) tables keep
    // plain insert/delete tags.
    val keyCols = toMeta.indexColumns.toIndexedSeq
    if (keyCols.isEmpty)
      net.withColumn("change_type",
        when(col("__delta") > 0, lit("insert")).otherwise(lit("delete")))
        .select(dataCols :+ col("change_type")
          :+ explode(sequence(lit(1L), abs(col("__delta")))).as("__i"): _*)
        .drop("__i")
    else {
      // explode duplicates to row instances FIRST so each instance
      // ranks separately; one window shuffle (losses order before
      // gains, content hash within a side) serves the per-key counts
      // and both side ranks.
      val exploded = net.select(dataCols
        :+ when(col("__delta") > 0, lit(1)).otherwise(lit(-1)).as("__sign")
        :+ explode(sequence(lit(1L), abs(col("__delta")))).as("__i"): _*)
        .drop("__i")
      val wOrd = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("__sign"), xxhash64(struct(dataCols: _*)))
      val wFull = wOrd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      exploded
        .withColumn("__del",
          sum(when(col("__sign") === -1, 1L).otherwise(0L)).over(wFull))
        .withColumn("__ins",
          sum(when(col("__sign") === 1, 1L).otherwise(0L)).over(wFull))
        .withColumn("__rn", row_number().over(wOrd))
        .withColumn("__pairs", least(col("__ins"), col("__del")))
        // losses sort first, so a loss's side rank is __rn and a
        // gain's is __rn - #losses
        .withColumn("__siderk",
          when(col("__sign") === -1, col("__rn"))
            .otherwise(col("__rn") - col("__del")))
        .withColumn("change_type",
          when(col("__sign") === -1,
            when(col("__siderk") <= col("__pairs"),
              lit("update_preimage")).otherwise(lit("delete")))
            .otherwise(
              when(col("__siderk") <= col("__pairs"),
                lit("update_postimage")).otherwise(lit("insert"))))
        .select(dataCols :+ col("change_type"): _*)
    }
  }

  /** The rows of `m`'s files selected by `keep`, as one DataFrame
    * (schema-correct and empty when no file matches). */
  private def subsetDf(
      spark: SparkSession,
      dir: String,
      m: Sidecar.Meta,
      keep: String => Boolean): DataFrame = {
    val idx = m.files.indices.filter(i => keep(m.files(i)))
    if (idx.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else
      PDataset.fromSidecarMeta(spark, dir, Sidecar.Meta(
        idx.map(m.files), m.indexColumns, idx.map(m.sizes),
        idx.map(m.lowerBounds), idx.map(m.upperBounds),
        m.maxPartitionIndex, m.schema,
        // extras carry the column-rename mapping: the CDC diff must
        // read renamed generations under their logical names
        extras = m.extras)).toDF
  }

  /** Project `df` onto exactly `schema`'s columns: missing ones
    * null-fill at their declared type, extra ones drop, and a column
    * present under a NARROWER type (a widen between CDF endpoints)
    * up-casts so the diff compares equal values as equal. */
  private def alignTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dfType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(schema.fields.map { f =>
      dfType.get(f.name) match {
        case Some(t) if t == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Fingerprint of the metadata file (mtime, length) taken right
    * after an op loads it; [[guardUnchanged]] re-checks it
    * immediately before the swap and aborts the op if another writer
    * got there first. Best-effort conflict DETECTION, not a CAS —
    * true optimistic concurrency needs a coordination service the
    * filesystem can't provide — but it turns the common overlapping-
    * maintenance mistake from silent lost updates into a loud error
    * (both generations' files are still on disk; re-run the op). */
  private[graft] def metaFingerprint(
      spark: SparkSession, dirPath: HPath): (Long, Long) = {
    val (fs, _) = GraftFs.resolve(spark, dirPath.toString)
    val st = fs.getFileStatus(Sidecar.metadataPath(dirPath.toString))
    (st.getModificationTime, st.getLen)
  }

  private[graft] def guardUnchanged(
      spark: SparkSession, dirPath: HPath, loaded: (Long, Long)): Unit = {
    if (metaFingerprint(spark, dirPath) != loaded)
      throw new java.util.ConcurrentModificationException(
        s"dataset at $dirPath changed while this maintenance op ran; " +
          "no changes were installed — reload and re-run")
  }

  /** Test seam: runs after a rewriting op's new files are durable
    * but before [[installCommit]] swaps the sidecar — the window a
    * concurrent commit can land in. Every file-replacing op reaches
    * it (compact and its scoped forms, deleteRange, recluster, the
    * row-level rewrites, DV materialize). No-op in production. */
  private[graft] var beforeRowLevelInstall: () => Unit = () => ()

  /** A sidecar entry: file name, row count, lex lower / upper bound. */
  private[operators] type Entry = (String, Long, Bound, Bound)

  /** The one commit every file-replacing op installs through, with
    * bounded OCC rebase-and-retry: the expensive part — the data
    * rewrite — is already durable, and a concurrent commit that
    * touched neither this op's INPUT files nor its OUTPUT names (a
    * sink append, a keyed op on disjoint files) is merged instead of
    * aborting the op. `replacement` maps each consumed input file name
    * to the entries that take its place (Nil = dropped, emptied, or
    * merged into another input's entries); untouched files keep the
    * LATEST generation's entries, so the concurrent commit's work
    * survives. `slots` is the number of partition-name slots the op
    * allocated past `m0.maxPartitionIndex`. Aborts loudly when the
    * concurrent commit rewrote an input file (the Delta
    * concurrent-delete-read case), collided on an output name, changed
    * the schema/index/rename mapping this rewrite was planned against,
    * or marked rows of a replaced file with a deletion vector not in
    * `dvSnapshot`. After the swap, deletes the replaced files no
    * archived generation references (unless `retain`) and extends the
    * Bloom / column-stats sidecars to the new files. */
  private[operators] def installCommit(
      spark: SparkSession,
      dir: String,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath,
      m0: Sidecar.Meta,
      loadedFp0: (Long, Long),
      replacement: Map[String, Seq[Entry]],
      slots: Int,
      retain: Boolean,
      op: String,
      dvSnapshot: Set[String]): Unit = {
    beforeRowLevelInstall()
    val newNames = replacement.values.flatten.map(_._1).toSet
    // On a terminal abort, this op's written-but-never-registered
    // files are orphans: remove them so the loser leaves no debris.
    // NEVER delete a name the COMMITTED generation references — on an
    // output-name collision (both writers passed the scatter write's
    // exists probe before either moved) the winner's registered file
    // carries that name, and deleting it would turn the race into
    // data loss.
    // Collided orphan bytes (if this op's move lost) are left for
    // vacuum/operator recovery.
    def abortCleanup(preserve: Set[String]): Unit =
      (newNames -- preserve).foreach { n =>
        try { fs.delete(new HPath(dirPath, n), false); () }
        catch { case _: java.io.IOException => () }
      }
    def committedNames(): Set[String] =
      try Sidecar.load(spark, dir).files.toSet
      catch { case _: Exception => newNames } // unreadable: delete nothing
    var fp = loadedFp0
    var cur = m0
    var attempts = 0
    var installed = false
    while (!installed) {
      // DV commits never touch the sidecar, so guardUnchanged below
      // cannot see a concurrent DV DELETE that marked rows in a file
      // this op rewrote mid-rewrite (the rewrite copied those rows
      // into the new files; dropEntriesForFiles would then discard
      // the marks — deleted rows resurrecting). Re-list the overlay
      // and abort terminally on new marks over replaced files; a
      // rebase cannot fold them post-hoc.
      try DeletionVectors.requireNoNewMarks(
        spark, dir, dvSnapshot, replacement.keySet, op)
      catch {
        case e: java.util.ConcurrentModificationException =>
          abortCleanup(committedNames())
          throw e
      }
      val entries = cur.files.indices.flatMap { p =>
        val name = cur.files(p)
        replacement.getOrElse(name, Seq((name, cur.sizes(p),
          cur.lowerBounds(p), cur.upperBounds(p))))
      }
      try {
        guardUnchanged(spark, dirPath, fp)
        if (retain) archiveCurrent(spark, fs, dirPath)
        Sidecar.write(spark, dir, cur.indexColumns,
          entries.map(_._1), entries.map(_._2),
          entries.map(_._3), entries.map(_._4),
          math.max(cur.maxPartitionIndex, m0.maxPartitionIndex + slots),
          cur.schema, extras = cur.extras)
        installed = true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 5) {
            abortCleanup(committedNames())
            throw new java.util.ConcurrentModificationException(
              s"$op on $dir lost the sidecar-install race $attempts " +
                s"times; nothing was installed — re-run " +
                s"(${e.getMessage})")
          }
          fp = metaFingerprint(spark, dirPath)
          val m2 = Sidecar.load(spark, dir)
          def conflict(what: String): Nothing = {
            abortCleanup(m2.files.toSet)
            throw new java.util.ConcurrentModificationException(
              s"$op on $dir conflicts with a concurrent commit " +
                s"($what); nothing was installed — reload and re-run")
          }
          if (m2.schema != m0.schema ||
              m2.indexColumns != m0.indexColumns ||
              m2.columnRenames != m0.columnRenames)
            conflict("it changed the schema, index columns or " +
              "column-rename mapping this rewrite was planned against")
          val gone = replacement.keys.filterNot(m2.files.contains)
          if (gone.nonEmpty)
            conflict(s"it rewrote input file(s) ${gone.mkString(", ")} " +
              "this op also rewrote")
          val collide = m2.files.filter(newNames)
          if (collide.nonEmpty)
            conflict("it allocated the same output file name(s) " +
              s"${collide.mkString(", ")}")
          cur = m2
      }
    }
    if (!retain)
      deletableNow(spark, dir, replacement.keys.toSeq)
        .foreach(f => fs.delete(new HPath(dirPath, f), false))
    refreshBloom(spark, dir)
  }

  /** The write half of every copy-on-write rewrite: ONE scatter job
    * writes the new files, and the result says which entries replace
    * which input file, ready for [[installCommit]].
    *
    * `tagged` holds the rows to write with an int `__part` column
    * carrying a DENSE ordinal into `targets`, the input file each
    * output partition replaces (several ordinals may name one input:
    * [[recluster]] maps every range to its first file). The shuffle
    * width is `targets.length`, not the table's file count. Rows are
    * re-sorted on the index columns, or on the synthetic `orderCols`
    * (dropped before the sink) when given, and written under PHYSICAL
    * column names. New files take the slots after
    * `m.maxPartitionIndex`, but never overwrite a taken slot: a
    * concurrent committer's file keeps its name and this write lands
    * under a disambiguated one, which is what gets returned.
    *
    * Row counts and bounds come from one stats job over the written
    * files, or from `known` (per ordinal, exact from metadata) when
    * the caller has them. An ordinal that received no rows writes no
    * file; unless `mayEmpty` says the caller's op can empty one, that
    * aborts before anything installs. Every target is a key of the
    * result; its entries follow ordinal order. */
  private[operators] def writeReplacements(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath,
      m: Sidecar.Meta,
      targets: IndexedSeq[String],
      tagged: DataFrame,
      op: String,
      stagePrefix: String,
      mayEmpty: Boolean,
      orderCols: Seq[String] = Nil,
      known: Option[IndexedSeq[(Long, Bound, Bound)]] = None):
      Map[String, Seq[Entry]] = {
    val stage = GraftFs.mkStageDir(fs,
      Option(dirPath.getParent).getOrElse(dirPath), stagePrefix,
      dirPath.getName)
    val written =
      try ScatterWrite.partFiles(spark, tagged, targets.length, fs,
        dirPath, stage,
        j => Sidecar.partitionFileName(m.maxPartitionIndex + 1 + j),
        orderCols = if (orderCols.isEmpty) m.indexColumns.toSeq
          else orderCols,
        dropOrderCols = orderCols.nonEmpty, renames = m.columnRenames)
      finally GraftFs.deleteRecursive(fs, stage)
    val stray = written.map(_._1).filterNot(targets.indices.contains)
    require(stray.isEmpty, s"$op scatter wrote unexpected partitions $stray")
    require(mayEmpty || written.length == targets.length,
      s"$op scatter wrote ${written.length} partitions, " +
        s"expected ${targets.length}")
    def pathOf(n: String): String = new HPath(dirPath, n).toString
    val stats: IndexedSeq[(Long, Bound, Bound)] = known match {
      case Some(k) => written.map(w => k(w._1))
      case None =>
        val byPath = Stats.forFiles(spark, written.map(w => pathOf(w._2)),
          m.indexColumns.map(m.physicalName), Some(m.physicalSchema))
        written.map { w =>
          val st = byPath(Stats.normalizePath(pathOf(w._2)))
          (st.size, st.lb, st.ub)
        }
    }
    val entries = written.zip(stats).map { case ((j, n), (rows, lb, ub)) =>
      targets(j) -> ((n, rows, lb, ub): Entry) }
    targets.map(_ -> Seq.empty[Entry]).toMap ++
      entries.groupMap(_._1)(_._2)
  }

  /** Keep the Bloom and column-stats sidecars effective across
    * maintenance: when one exists, extend it to the files this op
    * just created (one job over ONLY those files —
    * [[graft.core.BloomIndex.update]] / [[graft.core.ColumnStats
    * .update]] build missing entries and leave the rest alone).
    * Without this, rewritten partitions would silently stop pruning
    * (sound, but the index decays with every upsert). */
  private[operators] def refreshBloom(spark: SparkSession, dir: String): Unit = {
    if (graft.core.BloomIndex.exists(spark, dir))
      graft.core.BloomIndex.update(spark, dir)
    if (graft.core.ColumnStats.exists(spark, dir))
      graft.core.ColumnStats.update(spark, dir)
  }

  /** Of `candidates` (file NAMES a non-retained op just replaced),
    * the ones NO archived generation references — the only ones safe
    * to delete immediately. A retained generation's files must stay
    * on disk for [[scanVersion]]/[[changes]] even when a later
    * NON-retained op replaces them in the current listing; [[vacuum]]
    * reclaims them when the history goes. Driver-side only: reads the
    * KB-scale archived metadata, never a data file.
    *
    * EXTERNAL entries (absolute paths a [[shallowClone]] inherited
    * from its source table) are never deletable through the clone,
    * no matter what replaced them: the source table — and possibly
    * other clones — still serves them. A copy-on-write rewrite of a
    * cloned file drops the REFERENCE only; the bytes belong to the
    * source. */
  private[operators] def deletableNow(
      spark: SparkSession,
      dir: String,
      candidates: Seq[String]): Seq[String] = {
    val owned0 = candidates.filterNot(isExternalEntry)
    // Source-side clone protection: a file a LIVE registered clone
    // still references survives a non-retained rewrite — without
    // this, one routine compact() on the source would silently break
    // every clone (graft deletes replaced files immediately; Delta's
    // equivalent hazard is narrowed to vacuum-with-retention). An
    // UNVERIFIABLE marker fails safe: delete nothing now — the files
    // linger unreferenced and a later vacuum (which verifies or
    // refuses) reclaims them.
    val (cloneRefs, verified) = cloneReferencedNames(spark, dir)
    if (!verified) return Seq.empty
    val owned =
      if (cloneRefs.isEmpty) owned0 else owned0.filterNot(cloneRefs)
    val vs = versions(spark, dir)
    if (vs.isEmpty) owned
    else {
      val referenced = vs.iterator
        .flatMap(v => versionMeta(spark, dir, v).files).toSet
      owned.filterNot(referenced)
    }
  }

  // ---- source-side clone backlinks (best-effort clone protection) --

  /** Directory (under a table dir) holding one marker per registered
    * clone that references this table's bytes; `_`-prefixed so scans
    * never see it. */
  private[graft] val ClonesDir = "_graft_clones"

  private def cloneMarkerName(dstQualified: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(dstQualified.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString + ".json"
  }

  /** Record `dstQualified` as a live clone in every directory whose
    * bytes it references (the immediate source for bare entries; the
    * ORIGINAL owner for clone-of-clone chains, whose entries stay
    * absolute into the first table). BEST-EFFORT by design: a
    * read-only source filesystem can't carry markers — the clone
    * still works, the source just loses the delete guard (the
    * documented `retain = true` discipline then applies). */
  private def registerCloneBacklinks(
      spark: SparkSession,
      entries: Seq[String],
      qualifiedSrc: HPath,
      dstQualified: String): Unit = {
    val owners = entries.map { e =>
      if (isExternalEntry(e)) new HPath(e).getParent.toString
      else qualifiedSrc.toString
    }.distinct
    val marker = cloneMarkerName(dstQualified)
    owners.foreach { o =>
      try {
        val (ofs, oPath) = GraftFs.resolve(spark, o)
        val cdir = new HPath(oPath, ClonesDir)
        GraftFs.mkdirs(ofs, cdir)
        GraftFs.writeString(ofs, new HPath(cdir, marker),
          graft.core.TypedJson.write(scala.collection.immutable.ListMap(
            "clone" -> dstQualified,
            "ts" -> System.currentTimeMillis())))
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Grace before a marker whose clone directory is MISSING may be
    * swept as stale: markers register BEFORE the clone's sidecar
    * installs (so no live clone is ever unprotected), which makes a
    * mid-creation clone indistinguishable from a dropped one — age is
    * the tiebreak. Var: specs pin it to 0 to exercise the sweep. */
  private[graft] var cloneMarkerGraceMs: Long = 60L * 60L * 1000L

  /** Whether `parent` addresses the directory `qualified` (URI
    * authority ignored — a source addressed as hdfs://nn:8020/t and
    * hdfs://nn/t is the same bytes; over-matching merely keeps a
    * file longer). */
  private def entryParentIsOurs(
      qualified: java.net.URI, parent: HPath): Boolean = {
    val u = parent.toUri
    u.getPath == qualified.getPath &&
      (u.getScheme == null || qualified.getScheme == null ||
        u.getScheme.equalsIgnoreCase(qualified.getScheme))
  }

  /** The backlink markers registered under `dir`'s `_graft_clones`,
    * READ-ONLY (no stale pruning): one row per marker as
    * (clone path, registered-at millis, live, n_external_refs) —
    * the observability behind the `graft_clones` TVF. An unreadable
    * marker surfaces as (`<unreadable>`, mtime, false, 0) rather
    * than vanishing. */
  private[graft] def registeredClones(
      spark: SparkSession,
      dir: String): Seq[(String, Long, Boolean, Long)] = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val cdir = new HPath(dirPath, ClonesDir)
    if (!GraftFs.isDir(fs, cdir)) return Seq.empty
    val qualified = fs.makeQualified(dirPath).toUri
    GraftFs.listStatuses(fs, cdir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json") &&
        !st.getPath.getName.startsWith("."))
      .map { st =>
        try {
          val dst = graft.core.TypedJson
            .parse(GraftFs.readString(fs, st.getPath))
            .asInstanceOf[Map[String, Any]]("clone").toString
          val live = Sidecar.exists(spark, dst)
          val refs =
            if (!live) 0L
            else {
              val m = Sidecar.load(spark, dst)
              (m.files.iterator ++ versions(spark, dst).iterator
                .flatMap(v => versionMeta(spark, dst, v).files))
                .filter(isExternalEntry)
                .map(e => new HPath(e))
                .filter(p => p.getParent != null &&
                  entryParentIsOurs(qualified, p.getParent))
                .map(_.getName).toSet.size.toLong
            }
          (dst, st.getModificationTime, live, refs)
        } catch {
          case _: Exception =>
            ("<unreadable>", st.getModificationTime, false, 0L)
        }
      }.toSeq
  }

  /** The registration inverse: remove `cloneDir`'s backlink markers
    * from every owner directory its entries (current or retained)
    * reference, plus its recorded `clonedFrom` origin — so the
    * owners' replaced files free IMMEDIATELY instead of waiting out
    * the stale-marker grace. Safe on any table: one with no external
    * entries and no clone provenance deregisters nothing. */
  private[graft] def deregisterCloneBacklinks(
      spark: SparkSession, cloneDir: String): Unit = {
    if (!Sidecar.exists(spark, cloneDir)) return
    val (dfs, dstPath) = GraftFs.resolve(spark, cloneDir)
    val marker = cloneMarkerName(dfs.makeQualified(dstPath).toString)
    val m =
      try Sidecar.load(spark, cloneDir)
      catch { case _: Exception => return }
    val owners = (m.files.iterator ++ versions(spark, cloneDir).iterator
        .flatMap(v => versionMeta(spark, cloneDir, v).files))
      .filter(isExternalEntry)
      .flatMap(e => Option(new HPath(e).getParent).map(_.toString))
      .toSet ++
      m.extras.get("clonedFrom").map(_.toString
        .replaceAll("@v\\d+$", "")).toSet
    owners.foreach { o =>
      try {
        val (ofs, oPath) = GraftFs.resolve(spark, o)
        ofs.delete(new HPath(new HPath(oPath, ClonesDir), marker), false)
        ()
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Drop a table, deregistering its clone backlinks first: the drop
    * analogue of [[shallowClone]] — owners' replaced files free
    * immediately (no grace wait), then the directory goes. On a
    * non-clone table this is just the directory drop. */
  def dropClone(spark: SparkSession, cloneDir: String): Unit = {
    deregisterCloneBacklinks(spark, cloneDir)
    val (fs, p) = GraftFs.resolve(spark, cloneDir)
    GraftFs.deleteRecursive(fs, p)
  }

  /** This table's file NAMES still referenced by registered clones
    * (current generation or any retained one), plus a VERIFIED flag.
    * Stale markers prune as discovered: a clone directory that is
    * verifiably gone (and past [[cloneMarkerGraceMs]]) or a clone
    * that no longer references any of this table's bytes (fully
    * localized by copy-on-write) deletes its marker.
    *
    * FAIL-SAFE contract: a marker this pass cannot verify — unreadable
    * marker, unreadable clone metadata, or a missing clone still
    * inside the creation grace — contributes no names but flips
    * `verified` to false, and callers must then KEEP everything
    * rather than delete blind ([[deletableNow]] returns nothing,
    * [[vacuum]] refuses loudly). Entry matching ignores the URI
    * AUTHORITY (a source addressed as hdfs://nn:8020/t and hdfs://nn/t
    * is the same bytes; over-matching merely keeps a file longer).
    * Driver-side KB-scale sidecar reads; zero cost when no clone was
    * ever registered (one directory probe). */
  private[operators] def cloneReferencedNames(
      spark: SparkSession, dir: String): (Set[String], Boolean) = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val cdir = new HPath(dirPath, ClonesDir)
    if (!GraftFs.isDir(fs, cdir)) return (Set.empty, true)
    val qualified = fs.makeQualified(dirPath).toUri
    def isOurs(parent: HPath): Boolean =
      entryParentIsOurs(qualified, parent)
    val now = System.currentTimeMillis()
    var verified = true
    val refs = GraftFs.listStatuses(fs, cdir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json") &&
        !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        def namesOf(m: Sidecar.Meta): Iterator[String] =
          m.files.iterator.filter(isExternalEntry).flatMap { e =>
            val p = new HPath(e)
            if (p.getParent != null && isOurs(p.getParent)) Some(p.getName)
            else None
          }
        val (r, stale): (Set[String], Boolean) =
          try {
            val dst = graft.core.TypedJson
              .parse(GraftFs.readString(fs, st.getPath))
              .asInstanceOf[Map[String, Any]]("clone").toString
            if (!Sidecar.exists(spark, dst)) {
              if (now - st.getModificationTime > cloneMarkerGraceMs)
                (Set.empty[String], true) // verifiably dropped
              else { verified = false; (Set.empty[String], false) }
            } else {
              val got = (namesOf(Sidecar.load(spark, dst)) ++
                versions(spark, dst).iterator.flatMap(v =>
                  namesOf(versionMeta(spark, dst, v)))).toSet
              (got, got.isEmpty) // exists + zero refs = fully localized
            }
          } catch {
            case _: Exception =>
              verified = false // transient: keep marker, fail safe
              (Set.empty[String], false)
          }
        if (stale) {
          try { fs.delete(st.getPath, false); () }
          catch { case _: java.io.IOException => () }
        }
        r
      }.toSet
    (refs, verified)
  }

  /** Whether a sidecar file entry references data OUTSIDE its own
    * dataset directory — a [[shallowClone]] source file. Locally
    * written entries are always bare generated names (an invariant
    * [[graft.core.Sidecar.write]] asserts at every commit); external
    * entries are always ABSOLUTE qualified paths, so the test is
    * path absoluteness — a relative subdirectory entry (which would
    * be neither) fails loudly at write time instead of being silently
    * misclassified here. */
  private[graft] def isExternalEntry(entry: String): Boolean =
    entry.contains("/") && new HPath(entry).isAbsolute

  /** Copy the CURRENT metadata into the history before a swap;
    * returns the archived version number. */
  private[operators] def archiveCurrent(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath): Int = {
    val next = versions(spark, dirPath.toString).lastOption.map(_ + 1)
      .getOrElse(0)
    GraftFs.mkdirs(fs, new HPath(dirPath, HistoryDir))
    GraftFs.writeString(fs, versionFile(dirPath, next),
      GraftFs.readString(fs, Sidecar.metadataPath(dirPath.toString)))
    next
  }

  /** Drop archived generations and delete every data file no kept
    * generation references. Driver-side metadata diff only — no Spark
    * job. Returns the number of data files deleted. Also sweeps
    * crash DEBRIS — [[DebrisPrefixes]] stage directories / metadata
    * temp files older than `debrisGraceMs` (default 24 h; a crashed
    * scatter's stage would otherwise linger forever) — not counted
    * in the returned total and skipped under `dryRun`.
    *
    * Retention policy (union of both knobs; the defaults drop ALL
    * history, the original full vacuum):
    *   - `retainLast = n` keeps the n most recently archived
    *     generations readable via [[scanVersion]]/[[scanVersionAsOf]];
    *   - `olderThan = Some(tsMillis)` keeps every generation archived
    *     at or after that instant.
    * Kept generations keep their data files; at 100 TB each retained
    * generation holds only the files it doesn't share with its
    * neighbors, so the storage bill is the churn, not a full copy.
    *
    * Concurrency: the same best-effort discipline as the maintenance
    * ops — the metadata fingerprint is re-checked right before the
    * delete loop (a generation swap mid-vacuum aborts loudly), and
    * only unreferenced files OLDER than the current metadata commit
    * are deleted: a fresh part file is what an in-flight op stages
    * before its swap, so age, not reference, is what proves a file
    * orphaned. The residual three-actor window — an append's files
    * land, ANOTHER op commits (advancing the metadata mtime past
    * them), and a vacuum runs before the append installs — is the
    * filesystem-OCC limit shared with every lakehouse vacuum; like
    * Delta's retention check, don't schedule vacuum concurrently with
    * writers you can't see. */
  def vacuum(
      spark: SparkSession,
      dir: String,
      retainLast: Int = 0,
      olderThan: Option[Long] = None,
      dryRun: Boolean = false,
      debrisGraceMs: Long = DefaultDebrisGraceMs): Int = {
    require(retainLast >= 0, s"retainLast must be >= 0, got $retainLast")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    val metaMtime =
      fs.getFileStatus(Sidecar.metadataPath(dir)).getModificationTime
    val h = new HPath(dirPath, HistoryDir)
    val archived = archivedWithMtimes(fs, dirPath)
    val keepVersions: Set[Int] =
      (archived.takeRight(retainLast).map(_._1) ++
        olderThan.toSeq.flatMap(ts =>
          archived.filter(_._2 >= ts).map(_._1))).toSet
    // Every file any KEPT generation still references survives — and
    // so does every file a LIVE registered clone references (the
    // clone's bytes live HERE; deleting them through the source's
    // vacuum would corrupt the clone). Stale backlinks self-clean
    // inside cloneReferencedNames, which is the "vacuum removes
    // stale markers" path; an UNVERIFIABLE marker refuses the whole
    // vacuum rather than deleting blind.
    val (cloneRefs, cloneVerified) = cloneReferencedNames(spark, dir)
    require(cloneVerified,
      s"vacuum on $dir: a registered clone backlink could not be " +
        "verified (clone metadata unreadable, or a clone mid-creation) " +
        "— refusing to delete data files blind; re-run once the " +
        "clone's metadata is readable or the creation grace passes")
    val referenced = m.files.toSet ++ keepVersions.iterator
      .flatMap(v => versionMeta(spark, dir, v).files) ++ cloneRefs
    val stale = GraftFs.listStatuses(fs, dirPath)
      .filter(_.isFile)
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".") && !referenced.contains(n) &&
          st.getModificationTime < metaMtime
      }
      .map(_.getPath)
    // Crash debris: stage directories and metadata-swap temp files a
    // crashed op left behind. Ops stage in the dataset dir's PARENT
    // (so scans never see half-written files), metadata temps inside
    // the dir — sweep both. Allowlisted PREFIXES only (never a
    // generic dot-glob), and only entries past the grace period — an
    // IN-FLIGHT op's stage keeps receiving writes, so its mtime stays
    // fresh; the grace must exceed the longest plausible single-op
    // stall (same discipline as Delta's retention check).
    // PARENT-dir stages are shared territory — sibling graft tables
    // stage there too — so only entries carrying THIS dataset's
    // owner tag (`<prefix><dsName>.<uuid>`, from GraftFs.mkStageDir)
    // are this table's to sweep; untagged parent entries (legacy or
    // foreign) are left alone. Entries inside the dataset dir itself
    // are unambiguous and match by prefix. A directory's age is the
    // max over its root AND direct children mtimes: a long-running
    // scatter stops bumping the stage ROOT once every __part=N
    // subdir exists (nested file writes don't touch the root), and
    // root-mtime aging would let another vacuum kill an in-flight op.
    def age(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        GraftFs.listStatuses(fs, st.getPath).map(_.getModificationTime))
        .max
    val dsTag = dirPath.getName + "."
    def ownDebris(st: org.apache.hadoop.fs.FileStatus,
        inDatasetDir: Boolean): Boolean = {
      val n = st.getPath.getName
      DebrisPrefixes.exists(pfx => n.startsWith(pfx) &&
        (inDatasetDir || n.startsWith(pfx + dsTag)))
    }
    val cutoff = System.currentTimeMillis() - debrisGraceMs
    val debris =
      (GraftFs.listStatuses(fs, dirPath)
        .filter(ownDebris(_, inDatasetDir = true)) ++
       Option(dirPath.getParent).toSeq
         .flatMap(GraftFs.listStatuses(fs, _))
         .filter(ownDebris(_, inDatasetDir = false)))
        .filter(age(_) < cutoff)
        .map(_.getPath)
    // DRY RUN: report what a real vacuum under this policy would
    // delete, touching nothing (the Delta `VACUUM ... DRY RUN` shape).
    if (dryRun) return stale.length
    guardUnchanged(spark, dirPath, loadedFp)
    stale.foreach(fs.delete(_, false))
    debris.foreach(GraftFs.deleteRecursive(fs, _))
    if (keepVersions.isEmpty)
      GraftFs.deleteRecursive(fs, h)
    else
      archived.filterNot(a => keepVersions.contains(a._1))
        .foreach(a => fs.delete(versionFile(dirPath, a._1), false))
    stale.length
  }

  // ---- schema evolution ----

  /** Add nullable columns — METADATA-ONLY, zero data I/O at any
    * table size. Every read path (engine scans, `format("graft")`,
    * maintenance rewrites) serves the sidecar schema to the parquet
    * reader, which null-fills columns absent from a file's footer,
    * so existing files need no rewrite: old rows read as null, and
    * subsequent appends/upserts may carry values. Archived
    * generations share the schema sidecar and null-fill the same
    * way.
    *
    * CONTRACT: null-fill applies only to columns absent from a
    * file's FOOTER. Re-adding a name that [[dropColumns]] previously
    * hid resurrects the stored values in old files (and a different
    * type fails their reads) — there is no column-mapping layer, so
    * use a fresh name, or rewrite the files (repartition +
    * writeParquet) before reusing one. */
  def addColumns(
      spark: SparkSession,
      dir: String,
      columns: org.apache.spark.sql.types.StructField*): Unit = {
    require(columns.nonEmpty, "at least one column to add")
    val newNames = columns.map(_.name.toLowerCase)
    require(newNames.distinct.length == newNames.length,
      "duplicate names among the added columns")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    // case-insensitive, matching Spark's default resolution
    columns.foreach(f => require(
      !m.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
      s"column ${f.name} already exists"))
    // a new column's on-disk name is itself: it may not collide with
    // the PHYSICAL name a renamed column still occupies inside
    // existing files (the reads would be ambiguous)
    columns.foreach(f => require(
      !m.physicalSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
      s"column ${f.name} collides with the on-disk (physical) name " +
        "of a renamed column; pick another name or compact away the " +
        "rename first"))
    val widened = org.apache.spark.sql.types.StructType(
      m.schema.fields ++ columns.map(_.copy(nullable = true)))
    guardUnchanged(spark, dirPath, loadedFp)
    Sidecar.write(spark, dir, m.indexColumns, m.files, m.sizes,
      m.lowerBounds, m.upperBounds, m.maxPartitionIndex, widened,
      extras = m.extras)
  }

  /** Whether `from -> to` is a parquet-level safe widening: Spark
    * 4's parquet readers serve a file's narrower physical type as
    * the declared wider read type for exactly these promotions, so
    * the change can be metadata-only. */
  private[graft] def safeWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Int = t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => -1
    }
    (from, to) match {
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(t) > rank(f)
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale && t != f
      case _ => false
    }
  }

  /** Widen column types — METADATA-ONLY, zero data I/O at any table
    * size (the Delta 4 type-widening idea). Spark 4's parquet readers
    * natively promote a file's narrower physical type to the declared
    * read schema (int32→int64, float→double, decimal precision
    * growth), so existing files need no rewrite: the sidecar schema
    * changes, reads serve the wider type everywhere, and subsequent
    * appends write the wider physical type (mixed file widths are
    * fine per-file). Index-column BOUNDS re-type with the column —
    * routing and pruning compare stored bound values against runtime
    * values of the NEW type, and a stale Int bound against a Long
    * probe would miscompare. Value-typed derived sidecars (bloom,
    * column stats) drop their affected entries instead (rebuilt
    * lazily by their update() paths). Only safe widenings qualify:
    * integral up-casts, float→double, decimal growth that loses no
    * digits; anything else refuses loudly. */
  def widenColumns(
      spark: SparkSession,
      dir: String,
      widenings: (String, org.apache.spark.sql.types.DataType)*): Unit = {
    import org.apache.spark.sql.types._
    require(widenings.nonEmpty, "at least one column to widen")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    val byName = widenings.toMap
    require(byName.size == widenings.length,
      "a column may be widened only once per call")
    widenings.foreach { case (n, to) =>
      val f = m.schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no such column: $n"))
      require(safeWidening(f.dataType, to),
        s"ALTER COLUMN $n TYPE ${to.simpleString}: only safe " +
          s"WIDENINGS are metadata-only, and " +
          s"${f.dataType.simpleString} -> ${to.simpleString} is not " +
          "one (integral up-casts, float -> double and decimal " +
          "growth that loses no digits qualify). A narrowing or " +
          "incompatible change needs a rewrite: copy through " +
          "CREATE TABLE ... AS SELECT with explicit casts.")
    }
    val widened = StructType(m.schema.fields.map(f =>
      byName.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)))
    def conv(v: Any, to: DataType): Any = (v, to) match {
      case (n: Number, ShortType) => n.shortValue
      case (n: Number, IntegerType) => n.intValue
      case (n: Number, LongType) => n.longValue
      case (n: Number, DoubleType) => n.doubleValue
      case (d: java.math.BigDecimal, t: DecimalType) =>
        d.setScale(t.scale)
      case (d: scala.math.BigDecimal, t: DecimalType) =>
        d.setScale(t.scale)
      case (other, _) => other
    }
    val widenedIdx: Map[Int, DataType] =
      m.indexColumns.zipWithIndex.flatMap { case (c, i) =>
        byName.get(c).map(i -> _)
      }.toMap
    def convBounds(bs: IndexedSeq[Bound]): IndexedSeq[Bound] =
      if (widenedIdx.isEmpty) bs
      else bs.map(b => b.zipWithIndex.map { case (ov, i) =>
        widenedIdx.get(i).fold(ov)(t => ov.map(conv(_, t)))
      }.toVector)
    guardUnchanged(spark, dirPath, loadedFp)
    Sidecar.write(spark, dir, m.indexColumns, m.files, m.sizes,
      convBounds(m.lowerBounds), convBounds(m.upperBounds),
      m.maxPartitionIndex, widened, extras = m.extras)
    graft.core.BloomIndex.dropColumnEntries(spark, dir, byName.keySet)
    graft.core.ColumnStats.dropColumnEntries(spark, dir, byName.keySet)
  }

  /** Drop non-index columns — also metadata-only: the narrowed
    * sidecar schema hides the columns from every reader; the bytes
    * in existing files are reclaimed lazily as maintenance rewrites
    * touch them. */
  def dropColumns(
      spark: SparkSession,
      dir: String,
      names: String*): Unit = {
    require(names.nonEmpty, "at least one column to drop")
    DeletionVectors.requireNone(spark, dir, "dropColumns")
    Constraints.requireUnreferenced(spark, dir, names)
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    names.foreach { n =>
      require(m.schema.fieldNames.contains(n), s"no such column: $n")
      require(!m.indexColumns.contains(n),
        s"cannot drop index column $n (reindex first)")
    }
    val dropped = names.toSet
    val narrowed = org.apache.spark.sql.types.StructType(
      m.schema.fields.filterNot(f => dropped.contains(f.name)))
    // a dropped renamed column takes its mapping entry with it
    val newRenames = m.columnRenames -- dropped
    val newExtras =
      if (newRenames == m.columnRenames) m.extras
      else if (newRenames.isEmpty) m.extras - "columnRenames"
      else m.extras + ("columnRenames" -> newRenames)
    guardUnchanged(spark, dirPath, loadedFp)
    Sidecar.write(spark, dir, m.indexColumns, m.files, m.sizes,
      m.lowerBounds, m.upperBounds, m.maxPartitionIndex, narrowed,
      extras = newExtras)
    // a bloom index or column stats on a dropped column must go with
    // it: later maintenance refreshes would fail on the ghost column,
    // and stale stats would mis-describe a re-added namesake
    graft.core.BloomIndex.dropColumnEntries(spark, dir, dropped)
    graft.core.ColumnStats.dropColumnEntries(spark, dir, dropped)
  }

  /** `ALTER TABLE … RENAME COLUMN` — METADATA-ONLY, the Delta
    * column-mapping idea: the sidecar records logical → physical
    * (on-disk) name, reads project physical back to logical (one
    * alias Project Catalyst collapses into the scan — file pruning,
    * pushdown and bloom/colstats lookups all run in physical space,
    * which a rename never changes), and every write maps logical back
    * to physical so files stay uniform. Zero data I/O at any table
    * size; index columns rename freely (bounds are value-based).
    * CHECK constraints referencing the column refuse (their stored
    * SQL text cannot be rewritten safely) — drop and re-add them. */
  def renameColumns(
      spark: SparkSession,
      dir: String,
      renames: (String, String)*): Unit = {
    require(renames.nonEmpty, "at least one column to rename")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    Constraints.requireUnreferenced(spark, dir, renames.map(_._1))
    val froms = renames.map(_._1)
    require(froms.distinct.length == froms.length,
      "a column may be renamed only once per call")
    renames.foreach { case (from, to) =>
      require(m.schema.fieldNames.contains(from), s"no such column: $from")
      require(from != to, s"rename $from -> $to is a no-op")
    }
    val fromSet = froms.toSet
    val remaining = m.schema.fieldNames.filterNot(fromSet).toSeq
    val targets = renames.map(_._2)
    require(targets.distinct.length == targets.length,
      "two columns may not rename to the same name")
    targets.foreach { to =>
      require(!remaining.exists(_.equalsIgnoreCase(to)),
        s"column $to already exists")
      // the new logical name may not shadow a DIFFERENT column's
      // on-disk name (reads would be ambiguous in physical space)
      val physInUse = m.schema.fieldNames.filterNot(fromSet)
        .map(m.physicalName).toSet
      require(!physInUse.exists(_.equalsIgnoreCase(to)) ||
        renames.exists { case (f, t) => t == to && m.physicalName(f)
          .equalsIgnoreCase(to) },
        s"column $to collides with the on-disk (physical) name of " +
          "another column; pick another name")
    }
    val renameMap = renames.toMap
    val newSchema = org.apache.spark.sql.types.StructType(
      m.schema.fields.map(f =>
        f.copy(name = renameMap.getOrElse(f.name, f.name))))
    val newIndex = m.indexColumns.map(c => renameMap.getOrElse(c, c))
    // compose with any earlier rename: the physical name is wherever
    // the column ALREADY lives on disk; an entry that lands back on
    // its own physical name cancels out. An empty table needs no
    // mapping at all — its first files will carry the new names.
    val composed =
      if (m.files.isEmpty) Map.empty[String, String]
      else m.schema.fieldNames.map { old =>
        renameMap.getOrElse(old, old) -> m.physicalName(old)
      }.filter { case (l, p) => l != p }.toMap
    // CREATE TABLE OPTIONS name columns too (bloom/stats lists):
    // follow the rename so later inserts keep honoring them
    val opts = m.tableOptions
    val newOpts: Map[String, String] = opts.map { case (k, v) =>
      if (k.equalsIgnoreCase("bloom") || k.equalsIgnoreCase("stats"))
        k -> v.split(",").map(_.trim).filter(_.nonEmpty)
          .map(c => renameMap.getOrElse(c, c)).mkString(",")
      else k -> v
    }
    val withOpts =
      if (newOpts == opts) m.extras
      else m.extras + ("tableOptions" -> newOpts)
    val newExtras =
      if (composed.isEmpty) withOpts - "columnRenames"
      else withOpts + ("columnRenames" -> composed)
    guardUnchanged(spark, dirPath, loadedFp)
    Sidecar.write(spark, dir, newIndex, m.files, m.sizes,
      m.lowerBounds, m.upperBounds, m.maxPartitionIndex, newSchema,
      extras = newExtras)
    // derived sidecars are keyed by LOGICAL name: re-key their
    // entries (driver-side rewrite, no filter or stat recomputes)
    graft.core.BloomIndex.renameColumnEntries(spark, dir, renameMap)
    graft.core.ColumnStats.renameColumnEntries(spark, dir, renameMap)
  }

  // ---- compact ----

  /** Bin-pack adjacent partition files into ~`targetRows`-row files.
    *
    * Greedy run packing over the sidecar's row counts (pure driver
    * metadata — no job to plan the compaction): consecutive files
    * whose combined count fits `targetRows` merge into one new file;
    * runs of length one (including any file already at or above
    * target) are left untouched. Partition order, and therefore the
    * dataset's bound structure, is preserved: a merged file's bounds
    * are the lex-min/max of its members' bounds, exact from metadata
    * — no stats job.
    *
    * All merged files are written by one tagged-shuffle job.
    * Intra-partition row order is preserved: members concatenate in
    * partition order, each in its own row order, however many input
    * splits a member spans.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      targetRows: Long,
      retain: Boolean = false): Report = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    DeletionVectors.requireNone(spark, dir, "compact")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    compactGroups(spark, dir, m, m.sizes, targetRows, retain,
      fs, dirPath, loadedFp)
  }

  /** Scoped [[compact]] — Delta's `OPTIMIZE ... WHERE`: only files
    * that MAY hold rows matching `cond` (the read path's sidecar
    * pruning walk — lex bounds, Bloom, column stats) are considered,
    * and only CONTIGUOUS runs of them merge, so the sorted layout
    * survives. Compacting one hot key band of a 100 TB table costs
    * O(that band); everything out of scope is untouched bytes. */
  def compactWhere(
      spark: SparkSession,
      dir: String,
      cond: org.apache.spark.sql.Column,
      targetRows: Long,
      retain: Boolean = false): Report = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    DeletionVectors.requireNone(spark, dir, "compactWhere")
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    val selected =
      DeletionVectors.pruneByPredicate(spark, dirPath, m, cond).toSet
    if (selected.isEmpty) return Report(0, 0, 0, 0, m.files.length)
    compactGroups(spark, dir, m, m.sizes, targetRows, retain,
      fs, dirPath, loadedFp, eligible = selected)
  }

  /** [[compact]] targeting FILE BYTES instead of rows — the measure
    * that actually governs scan-task sizing (a 128 MB–1 GB target per
    * file at warehouse scale). Weights come from one driver-side FS
    * listing; the packing, write path and crash discipline are
    * identical to the row-targeted form. Prefer this when schemas are
    * wide or compression varies across files. */
  def compactBytes(
      spark: SparkSession,
      dir: String,
      targetBytes: Long,
      retain: Boolean = false): Report = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    DeletionVectors.requireNone(spark, dir, "compactBytes")
    // Fingerprint BEFORE the file-size listing below: a concurrent
    // commit landing in that window must trip the pre-swap guard, not
    // slide under it (matching upsert's discipline).
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    val paths = m.files.map(f => new HPath(dirPath, f).toString)
    // fileSizes preserves input order — weights align positionally
    compactGroups(spark, dir, m,
      GraftFs.fileSizes(GraftFs.conf(spark), paths).map(_._2),
      targetBytes, retain, fs, dirPath, loadedFp)
  }

  private def compactGroups(
      spark: SparkSession,
      dir: String,
      m: Sidecar.Meta,
      weights: IndexedSeq[Long],
      target: Long,
      retain: Boolean,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath,
      loadedFp: (Long, Long),
      eligible: Int => Boolean = _ => true): Report = {
    // Only CONTIGUOUS runs of eligible files merge — a gap (an
    // out-of-scope file under compactWhere) breaks the run, so merged
    // files keep the sidecar's sorted, range-ordered layout.
    val groups: Vector[Vector[Int]] = {
      val out = Vector.newBuilder[Vector[Int]]
      var run = Vector.empty[Int]
      var sum = 0L
      m.files.indices.foreach { i =>
        if (!eligible(i)) {
          // flush the current run and keep the out-of-scope file as
          // its own singleton (it must stay in the rebuilt sidecar)
          if (run.nonEmpty) { out += run; run = Vector.empty; sum = 0L }
          out += Vector(i)
        } else {
          val s = weights(i)
          if (run.nonEmpty && sum + s > target) {
            out += run; run = Vector.empty; sum = 0L
          }
          run = run :+ i
          sum += s
        }
      }
      if (run.nonEmpty) out += run
      out.result()
    }
    val merges = groups.filter(_.length >= 2)
    if (merges.isEmpty)
      return Report(0, 0, 0, 0, m.files.length)

    // One job for ALL groups: tag each row with its group ordinal
    // (file → group, a driver-built map riding along as one reference
    // object) and an order key (member rank within the run, then the
    // row's position in its file — exact however many splits a member
    // spans), shuffle once, sink all merged files in parallel. A
    // merged file's bounds are exact from its members' metadata.
    def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString
    def keyOf(p: Int): String = Stats.normalizePath(pathOf(p))
    val groupOf = new FileOrdinal(merges.zipWithIndex.flatMap {
      case (g, gi) => g.map(keyOf(_) -> gi)
    }.toMap)
    val rankOf = new FileOrdinal(
      merges.flatten.zipWithIndex.map { case (p, r) => keyOf(p) -> r }.toMap)
    val tagged = m.readData(spark, merges.flatten.map(pathOf))
      .withColumn("__part", FileOrdinalExpr.ordinal(input_file_name(), groupOf))
      .withColumn("__rank", FileOrdinalExpr.ordinal(input_file_name(), rankOf))
      .withColumn("__row", col("_metadata.row_index"))
    val known = merges.map(g => (g.map(m.sizes).sum,
      g.map(m.lowerBounds).min(Lex.boundOrdering),
      g.map(m.upperBounds).max(Lex.boundOrdering)))
    // the first member of a run takes the merged entry, in place, so
    // partition order is kept; the other members drop. A run of
    // zero-row files writes nothing and simply drops.
    val written = writeReplacements(spark, fs, dirPath, m,
      merges.map(g => m.files(g.head)), tagged, "compact",
      ".graft-compact-", mayEmpty = known.exists(_._1 == 0L),
      orderCols = Seq("__rank", "__row"), known = Some(known))
    val replacement =
      merges.flatMap(_.tail).map(p => m.files(p) -> Seq.empty[Entry]).toMap ++
        written
    installCommit(spark, dir, fs, dirPath, m, loadedFp, replacement,
      merges.length, retain, "compact", Set.empty)
    Report(rewritten = 0, dropped = 0, merged = merges.map(_.length).sum,
      created = written.values.count(_.nonEmpty),
      untouched = groups.count(_.length == 1))
  }

  // ---- delete range ----

  /** Delete every row whose index prefix lies in the given lex range
    * (the destructive complement of [[PDataset.slice]]: the rows a
    * `slice(lb, ub, inclusive)` would KEEP are removed). Bounds may
    * be prefixes of the index tuple; `null` means unbounded on that
    * side; `inclusive` in {"none","lower","upper","both"} as in
    * slice.
    *
    * Classification is pure driver metadata: a file whose bounds sit
    * entirely inside the range is dropped without being read; a file
    * disjoint from the range is untouched; only straddling files are
    * rewritten, in one scatter job with their rows index-sorted, plus
    * one stats job over just the new files. For a contiguous range
    * over disjoint sorted partitions that is at most TWO files
    * regardless of table size; a range covering only whole files runs
    * no job. A concurrent commit on other files is rebased over.
    */
  def deleteRange(
      spark: SparkSession,
      dir: String,
      lb: Seq[Option[Any]] = null,
      ub: Seq[Option[Any]] = null,
      inclusive: String = "lower",
      retain: Boolean = false): Report = {
    DeletionVectors.requireNone(spark, dir, "deleteRange")
    // Fingerprint immediately after load (upsert's discipline): the
    // guard before the swap must compare against what THIS op planned
    // from, not whatever a concurrent writer installed mid-plan.
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    require(m.indexColumns.nonEmpty,
      "deleteRange needs index columns; write the dataset reindexed first")
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
    require(lbOpt.isDefined || ubOpt.isDefined,
      "deleteRange with both bounds null would delete every row; " +
        "refusing (delete the dataset directory instead)")
    (lbOpt.toSeq ++ ubOpt.toSeq).foreach(b =>
      require(b.length <= m.indexColumns.length && b.nonEmpty,
        "bounds must be non-empty prefixes of the index columns"))

    // Same prefix-bound tests as slice, inverted: a row is IN the
    // delete range iff its k-prefix passes the lower test and the
    // upper test. lexCmp on the file's own prefix bounds decides
    // each file wholly where possible.
    def fileAllIn(i: Int): Boolean =
      lbOpt.forall { b =>
        val c = Lex.lexCmp(m.lowerBounds(i).take(b.length), b)
        if (lowerInc) c >= 0 else c > 0
      } && ubOpt.forall { b =>
        val c = Lex.lexCmp(m.upperBounds(i).take(b.length), b)
        if (upperInc) c <= 0 else c < 0
      }
    def fileNoneIn(i: Int): Boolean =
      lbOpt.exists { b =>
        val c = Lex.lexCmp(m.upperBounds(i).take(b.length), b)
        if (lowerInc) c < 0 else c <= 0
      } || ubOpt.exists { b =>
        val c = Lex.lexCmp(m.lowerBounds(i).take(b.length), b)
        if (upperInc) c > 0 else c >= 0
      }

    val dropPos = m.files.indices.filter(fileAllIn)
    val rewritePos = m.files.indices.filterNot(fileAllIn).filter(i => !fileNoneIn(i))

    if (dropPos.isEmpty && rewritePos.isEmpty)
      return Report(0, 0, 0, 0, m.files.length)

    // Survivor predicate: NOT(in-range) under the engine's null
    // semantics — a null-keyed row is in range only when the range
    // test itself says so (null sorts first); a three-valued NULL
    // from the lex predicate means "not in range", so it must
    // SURVIVE: coalesce to false before negating.
    val inRange: Column = {
      val low = lbOpt.fold(lit(true)) { b =>
        val cs = m.indexColumns.take(b.length).map(col)
        if (lowerInc) LexColumns.columnsGeq(cs, b)
        else LexColumns.columnsGt(cs, b)
      }
      val high = ubOpt.fold(lit(true)) { b =>
        val cs = m.indexColumns.take(b.length).map(col)
        if (upperInc) LexColumns.columnsLeq(cs, b)
        else LexColumns.columnsLt(cs, b)
      }
      low && high
    }
    val survives = !coalesce(inRange, lit(false))

    // Straddling files are rewritten without their in-range rows in
    // ONE scatter job at width rewritePos.length (fully covered files
    // are never read); a rewrite that emptied out (possible only with
    // duplicate boundary keys) writes nothing and drops like a
    // fully-covered file. A delete covering only whole files runs no
    // job at all.
    val rewritten =
      if (rewritePos.isEmpty) Map.empty[String, Seq[Entry]]
      else {
        def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString
        val partOf = new FileOrdinal(rewritePos.zipWithIndex.map {
          case (p, j) => Stats.normalizePath(pathOf(p)) -> j }.toMap)
        val tagged = m.readData(spark, rewritePos.map(pathOf))
          .withColumn("__part",
            FileOrdinalExpr.ordinal(input_file_name(), partOf))
          .filter(survives)
        writeReplacements(spark, fs, dirPath, m, rewritePos.map(m.files),
          tagged, "deleteRange", ".graft-delrange-", mayEmpty = true)
      }
    installCommit(spark, dir, fs, dirPath, m, loadedFp,
      dropPos.map(p => m.files(p) -> Seq.empty[Entry]).toMap ++ rewritten,
      rewritePos.length, retain, "deleteRange", Set.empty)
    Report(rewritten = rewritePos.length, dropped = dropPos.length,
      merged = 0, created = rewritten.values.count(_.nonEmpty),
      untouched = m.files.length - dropPos.length - rewritePos.length)
  }

  // ---- predicate update (SQL UPDATE) ----

  /** Names of the files that actually hold rows matching `cond`:
    * the read path's sidecar pruning walk narrows to candidates
    * (lex bounds, column stats, Blooms — zero data read), then ONE
    * pushed-down scan over the candidates collects the real hit
    * files (driver result bounded by #files). Shared by
    * [[updateWhere]] and [[replaceWhere]]. */
  private def filesWithHits(
      spark: SparkSession,
      dirPath: HPath,
      m: Sidecar.Meta,
      cond: Column,
      dvOpt: Option[DataFrame] = None): Set[String] = {
    val candidates =
      DeletionVectors.pruneByPredicate(spark, dirPath, m, cond)
    if (candidates.isEmpty) Set.empty
    else {
      // file identity is derived BEFORE the overlay anti-join
      // (input_file_name/_metadata cannot sit above a multi-source
      // plan); only LIVE rows count as hits — a match on a row a
      // pending deletion vector already removed must not force a
      // rewrite
      val base = m.readData(spark, candidates.map(p =>
        new HPath(dirPath, m.files(p)).toString))
        .withColumn("__f",
          element_at(split(col("_metadata.file_path"), "/"), -1))
      dvOpt.fold(base)(DeletionVectors.minus(base, _))
        .filter(cond)
        .select(col("__f").as("f"))
        .distinct().collect().map(_.getString(0)).toSet
    }
  }

  /** Condition guard shared by the copy-on-write rewrites: the
    * discovery scan and the rewrite evaluate `cond` independently, so
    * a non-deterministic predicate could match rows in files the
    * discovery never selected — silently leaving them unchanged. The
    * SQL analyzer rewrite refuses these on the analyzed statement;
    * this covers the programmatic entry points. The Column is
    * analyzed against the table schema first — an unresolved
    * function node (`functions.rand()`) reports deterministic until
    * resolution replaces it with the real expression. */
  private def requireDeterministicCond(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      cond: Column,
      op: String): Unit = {
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .filter(cond)
    val bad = probe.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(!_.deterministic) => f.condition
    }
    require(bad.isEmpty,
      s"$op requires a deterministic condition; `${bad.get.sql}` is " +
        "non-deterministic (it is evaluated once to discover affected " +
        "files and again during the rewrite, and the two draws could " +
        "disagree)")
  }

  /** Update every stored row matching `cond`: each assigned column
    * takes its assignment expression's value (cast to the column
    * type), every other column passes through — `UPDATE t SET c = e
    * WHERE p` semantics, served COPY-ON-WRITE at file granularity. A
    * row where `cond` is NULL is NOT updated (three-valued SQL
    * WHERE).
    *
    * Scale shape: candidate files come from the read path's own
    * sidecar pruning walk ([[DeletionVectors.pruneByPredicate]] —
    * lex bounds on every index column, per-file column stats, Bloom
    * filters; zero data read), ONE pushed-down discovery scan over
    * just the candidates finds the files with actual hits (driver
    * collect bounded by #files), and only those files are rewritten —
    * ONE scatter job over the affected partitions, exact stats
    * recomputed in one more job.
    * A point update on a clustered key rewrites one file at any
    * table size. Assignments MAY target index columns (per-file
    * bounds are recomputed and the file re-sorted); note such an
    * update can make partition bounds overlap, which keyed
    * maintenance will refuse until a `repartition` restores
    * disjointness. CHECK constraints validate the post-update rows
    * in one aggregate over the hit files only.
    */
  def updateWhere(
      spark: SparkSession,
      dir: String,
      cond: Column,
      assignments: Seq[(String, Column)],
      retain: Boolean = false): Report = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    // Pending deletion vectors FOLD into the rewrite: affected
    // files' marked rows drop from the copy-on-write scan, and the
    // commit clears exactly those files' overlay entries — a SQL
    // DELETE (DV overlay) followed by UPDATE on the same band works
    // in place, no materialize step required. The snapshot feeds the
    // install-time OCC check against concurrent DV DELETEs.
    val (dvOpt, dvSnap) = DeletionVectors.pendingWithSnapshot(spark, dir)
    requireDeterministicCond(spark, m.schema, cond, "updateWhere")
    require(assignments.nonEmpty,
      "updateWhere needs at least one assignment")
    val assignMap = assignments.toMap
    require(assignMap.size == assignments.length,
      "a column may be assigned only once")
    assignments.foreach { case (c, _) =>
      require(m.schema.fieldNames.contains(c),
        s"assigned column $c is not in the table schema") }
    if (m.files.isEmpty) return Report(0, 0, 0, 0, 0)

    // Metadata-only pruning, then one pushed-down scan over the
    // candidates for the files with actual hits.
    def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString
    val hitNames = filesWithHits(spark, dirPath, m, cond, dvOpt)
    val affected = m.files.indices
      .filter(i => hitNames(GraftFs.baseName(m.files(i))))
    if (affected.isEmpty) return Report(0, 0, 0, 0, m.files.length)

    val hit = coalesce(cond, lit(false))
    val updatedCols: Seq[Column] = m.schema.fields.toSeq.map { f =>
      assignMap.get(f.name)
        .map(e => when(hit, e.cast(f.dataType)).otherwise(col(f.name))
          .as(f.name))
        .getOrElse(col(f.name))
    }
    def readAffectedLive(paths: Seq[String]): DataFrame = {
      val base = m.readData(spark, paths)
      dvOpt.fold(base)(DeletionVectors.minus(base, _))
    }
    Constraints.enforce(spark, dir,
      readAffectedLive(affected.map(pathOf))
        .filter(hit).select(updatedCols: _*),
      "updateWhere")

    // An assignment targeting an index column can move a row's key
    // OUT of its file's division — rewriting in place would leave
    // overlapping bounds and every later keyed op would refuse.
    // Route the movers instead (the same division router keyed
    // merges use): in-division rows stay, movers land in the file
    // whose key range holds their NEW key, and the destination files
    // join the rewrite — bounds stay disjoint by construction.
    if (m.indexColumns.exists(assignMap.contains))
      return rekeyUpdate(spark, dir, m, hit, updatedCols,
        affected.toIndexedSeq, retain, fs, dirPath, loadedFp, dvOpt,
        dvSnap)

    // ONE scatter job rewrites every affected partition (the shared
    // mechanism merge/replaceWhere use — a wide UPDATE over 10^4
    // files is one Spark job, not 10^4), each partition re-sorted on
    // the index (an index-column assignment may reorder rows).
    // __part carries the DENSE ordinal within `affected`, so the
    // shuffle width is affected.length — a 2-file UPDATE on a
    // 10^5-file table pays 2 write tasks, not 10^5.
    val partOf = new FileOrdinal(affected.zipWithIndex.map {
      case (p, j) => Stats.normalizePath(pathOf(p)) -> j }.toMap)
    val updated0 = m.readData(spark, affected.map(pathOf))
      .withColumn("__part",
        FileOrdinalExpr.ordinal(input_file_name(), partOf))
    val updated = dvOpt.fold(updated0)(DeletionVectors.minus(updated0, _))
      .select(updatedCols :+ col("__part"): _*)
    // a file whose every live row was already DV-deleted writes
    // nothing and drops from the sidecar (possible only with a
    // folded overlay — plain updates keep every row)
    val replacement = writeReplacements(spark, fs, dirPath, m,
      affected.map(m.files), updated, "updateWhere", ".graft-update-",
      mayEmpty = dvOpt.isDefined)
    installCommit(spark, dir, fs, dirPath, m, loadedFp, replacement,
      affected.length, retain, "updateWhere", dvSnap)
    DeletionVectors.dropEntriesForFiles(spark, dir,
      affected.map(m.files).toSet)
    val created = replacement.values.count(_.nonEmpty)
    Report(rewritten = created, dropped = affected.length - created,
      merged = 0, created = created,
      untouched = m.files.length - affected.length)
  }

  /** [[updateWhere]] when an assignment targets an index column:
    * rows whose NEW key leaves their file's division are re-routed
    * through the division router (O(log d) per row, codegen) to the
    * file whose key range holds the new key; those destination files
    * join the rewrite. ONE commit, bounds disjoint by construction —
    * a later keyed upsert/merge never refuses. Cost is
    * O(files with hits + files receiving movers), not O(table). */
  private def rekeyUpdate(
      spark: SparkSession,
      dir: String,
      m: Sidecar.Meta,
      hit: Column,
      updatedCols: Seq[Column],
      srcAffected: IndexedSeq[Int],
      retain: Boolean,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath,
      loadedFp: (Long, Long),
      dvOpt: Option[DataFrame],
      dvSnap: Set[String]): Report = {
    val keyCols = m.indexColumns.toSeq
    def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString
    // Router precondition — the same global invariant replaceWhere
    // and the keyed merges demand.
    (0 until m.files.length - 1).foreach { i =>
      require(Lex.lexCmp(m.upperBounds(i), m.lowerBounds(i + 1)) < 0,
        "updateWhere assigning an index column requires sorted, " +
          s"disjoint partition bounds (violated between partitions $i " +
          s"and ${i + 1}); repartition first")
    }

    // Rewritten rows of the hit files, tagged with their ORIGINAL
    // partition position and the hit flag (both evaluated on the
    // pre-assignment row), then routed: a hit row goes to the file
    // whose division holds its NEW key (an unchanged key routes back
    // to its own file), a non-hit row stays put.
    val srcPartOf = new FileOrdinal(srcAffected.map(p =>
      Stats.normalizePath(pathOf(p)) -> p).toMap)
    val destCol =
      if (m.files.length == 1) lit(0)
      else DivisionRouter.route(keyCols.map(col), m.lowerBounds.drop(1))
    val routed0 = m.readData(spark, srcAffected.map(pathOf))
      .withColumn("__orig",
        FileOrdinalExpr.ordinal(input_file_name(), srcPartOf))
    val routed = dvOpt.fold(routed0)(DeletionVectors.minus(routed0, _))
      .select(updatedCols ++ Seq(col("__orig"), hit.as("__hit")): _*)
      .withColumn("__dest",
        when(col("__hit"), destCol).otherwise(col("__orig")))
      .persist()
    try {
      // Files receiving movers (one small aggregate over the hit
      // rows; bounded by the file count like every affected-set
      // collect) join the rewrite set.
      val destSet = routed.filter(col("__hit"))
        .agg(collect_set(col("__dest"))).head().getSeq[Int](0)
      val affected =
        (srcAffected ++ destSet).distinct.sorted.toIndexedSeq
      val srcSet = srcAffected.toSet
      val destOnly = affected.filterNot(srcSet)

      val dataCols = m.schema.fieldNames.toSeq.map(col)
      val moved = routed.select(dataCols :+ col("__dest"): _*)
      val combined = destOnly match {
        case ds if ds.isEmpty => moved
        case ds =>
          val destPartOf = new FileOrdinal(ds.map(p =>
            Stats.normalizePath(pathOf(p)) -> p).toMap)
          val destBase = m.readData(spark, ds.map(pathOf))
            .withColumn("__dest",
              FileOrdinalExpr.ordinal(input_file_name(), destPartOf))
          moved.unionByName(
            dvOpt.fold(destBase)(DeletionVectors.minus(destBase, _))
            .select(dataCols :+ col("__dest"): _*))
      }
      // Dense scatter tags (ordinal within `affected`, the shared
      // pattern): shuffle width = affected file count.
      val denseOf: Map[Int, Int] = affected.zipWithIndex.toMap
      val tagged = combined.withColumn("__part",
        element_at(typedLit(denseOf), col("__dest"))).drop("__dest")
      // A source file whose every row moved away writes nothing and
      // drops from the sidecar.
      val op = "updateWhere (index assignment)"
      val replacement = writeReplacements(spark, fs, dirPath, m,
        affected.map(m.files), tagged, op, ".graft-update-",
        mayEmpty = true)
      installCommit(spark, dir, fs, dirPath, m, loadedFp, replacement,
        affected.length, retain, op, dvSnap)
      DeletionVectors.dropEntriesForFiles(spark, dir,
        affected.map(m.files).toSet)
      val created = replacement.values.count(_.nonEmpty)
      Report(rewritten = created, dropped = affected.length - created,
        merged = 0, created = created,
        untouched = m.files.length - affected.length)
    } finally { routed.unpersist(); () }
  }

  /** The scheduling signal for [[recluster]]. `maxOverlap` is the
    * deepest point of the key space — how many files a point lookup
    * or range slice must touch there (1 = perfectly clustered; the
    * file count = some key range hits everything, pruning is dead).
    * Computed by one driver-side sweep over the sidecar bounds (ties
    * count as overlap, matching the engine's strict disjointness
    * test); zero jobs, zero file reads. Per-file bounds are also
    * SQL-queryable through the `graft_files` TVF, and DESCRIBE DETAIL
    * surfaces `layout_max_overlap` for monitoring. */
  final case class LayoutHealth(
      files: Int, maxOverlap: Int, disjoint: Boolean)

  def layoutHealth(spark: SparkSession, dir: String): LayoutHealth = {
    val m = Sidecar.load(spark, dir)
    val n = m.files.length
    if (n == 0) return LayoutHealth(0, 0, disjoint = true)
    // sweep: +1 at each lower bound, -1 at each upper bound; on a tie
    // the start sorts first (closed intervals sharing a point overlap)
    val ev = (0 until n).flatMap(i =>
      Seq((m.lowerBounds(i), 0), (m.upperBounds(i), 1)))
    val sorted = ev.sortWith { case ((b1, t1), (b2, t2)) =>
      val c = Lex.lexCmp(b1, b2)
      if (c != 0) c < 0 else t1 < t2
    }
    var depth = 0
    var maxD = 0
    sorted.foreach { case (_, t) =>
      if (t == 0) { depth += 1; if (depth > maxD) maxD = depth }
      else depth -= 1
    }
    LayoutHealth(n, maxD, disjoint = maxD <= 1)
  }

  /** RESTORE the clustered layout: appends land as their own files
    * whose index ranges overlap the existing ones, so after enough of
    * them every range slice (division joins, SQL division rewrites,
    * bucket equi-joins on a MinHash index) matches most of the table
    * and pruning degrades to a full scan. One ranged shuffle re-sorts
    * the LIVE rows (pending deletion vectors fold in) into disjoint
    * range-partitioned files staged beside the table, and one atomic
    * sidecar swap installs them — extras (constraints, txn ledgers,
    * rename map) survive verbatim, history archives under `retain`,
    * and the shared install ([[installCommit]]) rebases over a
    * concurrent commit on other files (an append lands beside the
    * reclustered files) and aborts on a fresh DV mark. On a SHALLOW
    * CLONE this LOCALIZES it: the rewrite writes clone-local files and
    * only drops the external references — the source's bytes are
    * never deleted. O(table) by definition — schedule it like OPTIMIZE,
    * when OVERLAP (not file count, [[compact]]'s trigger) is the
    * problem; file granularity is preserved (one output file per
    * current file), so follow with [[compact]] if small files are
    * also a problem. */
  def recluster(
      spark: SparkSession,
      dir: String,
      retain: Boolean = false): Report = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    require(m.indexColumns.nonEmpty,
      "recluster needs index columns; write the dataset reindexed first")
    if (m.files.isEmpty) return Report(0, 0, 0, 0, 0)
    val (dvOpt, dvSnap) = DeletionVectors.pendingWithSnapshot(spark, dir)
    def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString
    val base = m.readData(spark, m.files.indices.map(pathOf))
    val live = dvOpt.fold(base)(DeletionVectors.minus(base, _))
    // Target range boundaries come from the SIDECAR, not a sampling
    // pass: Spark's repartitionByRange would scan the input once just
    // to estimate boundaries, but the file bounds already describe
    // the key distribution. Walk the files in lower-bound order,
    // accumulating row weights, and cut at each ~1/g of the total —
    // deterministic, zero extra jobs, and a heavy key simply collapses
    // adjacent cuts (fewer, larger output files, like any ranged
    // partitioner faced with skew).
    val g = m.files.length
    val order = m.files.indices.sortBy(i =>
      (m.lowerBounds(i), m.upperBounds(i)))(
      Ordering.Tuple2(Lex.boundOrdering, Lex.boundOrdering))
    val total = m.sizes.sum
    val cutsBuf = scala.collection.mutable.ArrayBuffer.empty[Bound]
    var cum = 0L
    order.foreach { i =>
      if (cum > 0 && cutsBuf.length < g - 1 &&
          cum >= (cutsBuf.length + 1).toLong * total / g)
        cutsBuf += m.lowerBounds(i)
      cum += m.sizes(i)
    }
    val cuts: Seq[Bound] = {
      // strictly increasing (the router's contract): equal adjacent
      // bounds collapse
      val out = scala.collection.mutable.ArrayBuffer.empty[Bound]
      cutsBuf.foreach { b =>
        if (out.isEmpty || Lex.lexCmp(out.last, b) < 0) out += b
      }
      out.toSeq
    }
    val gOut = cuts.length + 1
    val keyCols = m.indexColumns.toSeq
    val tagged = live.withColumn("__part",
      if (cuts.isEmpty) lit(0)
      else DivisionRouter.route(keyCols.map(col), cuts))
    // every range replaces the whole table: the first current file
    // takes all new entries (range order is bound order), the rest drop
    val ranges = writeReplacements(spark, fs, dirPath, m,
      IndexedSeq.fill(gOut)(m.files.head), tagged, "recluster",
      ".graft-recluster-", mayEmpty = true)
    installCommit(spark, dir, fs, dirPath, m, loadedFp,
      m.files.map(_ -> Seq.empty[Entry]).toMap ++ ranges, gOut, retain,
      "recluster", dvSnap)
    // folded marks referenced only replaced files — clear them
    DeletionVectors.dropEntriesForFiles(spark, dir, m.files.toSet)
    Report(rewritten = m.files.length, dropped = 0, merged = 0,
      created = ranges.values.map(_.length).sum, untouched = 0)
  }

  /** Delta-style `replaceWhere`: atomically replace the rows
    * matching `cond` with `data` — `INSERT INTO t REPLACE WHERE p`
    * / `df.writeTo(t).overwrite(p)` semantics, ONE sidecar commit.
    * Every incoming row must itself satisfy `cond` (the Delta
    * contract: an overwrite scoped to p may not smuggle rows outside
    * p — refused in one aggregate over the delta).
    *
    * Scale shape: the files holding matching rows come from the read
    * path's sidecar pruning + one pushed-down discovery scan (as
    * [[updateWhere]]); those files are rewritten WITHOUT their
    * matching rows (a file emptied entirely is dropped), the new
    * data lands as index-sorted range-partitioned files beside them,
    * and one metadata swap installs both — untouched files are never
    * read. Replacing one day of a date-clustered 100 TB table costs
    * O(that day), and a crash at any point leaves the previous
    * generation readable. */
  def replaceWhere(
      spark: SparkSession,
      dir: String,
      cond: Column,
      data: DataFrame,
      retain: Boolean = false): Report = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    // pending deletion vectors fold into the rewrite (see updateWhere)
    val (dvOpt, dvSnap) = DeletionVectors.pendingWithSnapshot(spark, dir)
    requireDeterministicCond(spark, m.schema, cond, "replaceWhere")
    require(m.indexColumns.nonEmpty,
      "replaceWhere needs index columns; write the dataset reindexed first")
    val dataCols = m.schema.fieldNames.toSeq
    require(dataCols.forall(data.columns.contains),
      s"replaceWhere data must carry every dataset column " +
        s"${dataCols.mkString(", ")}")
    // PERSIST the incoming data before anything reads it: the
    // out-of-scope guard, the CHECK aggregate and the final scatter
    // must all see the SAME rows — re-evaluating a non-deterministic
    // source (sample, limit) per pass could validate one draw and
    // commit another.
    val aligned = data.select(dataCols.map(c =>
      col(c).cast(m.schema(c).dataType).as(c)): _*).persist()
    try {
    val outside = aligned.filter(!coalesce(cond, lit(false))).count()
    require(outside == 0L,
      s"replaceWhere: $outside incoming row(s) do not satisfy the " +
        "REPLACE WHERE condition — an overwrite scoped to a predicate " +
        "may only write rows inside it (write the rest with a plain " +
        "append)")
    Constraints.enforce(spark, dir, aligned, "replaceWhere")

    // An empty table takes a plain first write.
    if (m.files.isEmpty) {
      val keys = m.indexColumns.map(col)
      aligned.repartitionByRange(keys: _*)
        .sortWithinPartitions(keys: _*)
        .write.option("compression", "zstd")
        .mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
      // fresh files carry the LOGICAL names; a mapping left over from
      // a rename on the (since-emptied) table no longer applies
      PDataset.writeMetadata(spark, dir, m.indexColumns,
        m.extras - "columnRenames")
      return Report(0, 0, 0, 0, 0)
    }
    (0 until m.files.length - 1).foreach { i =>
      require(Lex.lexCmp(m.upperBounds(i), m.lowerBounds(i + 1)) < 0,
        "replaceWhere requires sorted, disjoint partition bounds " +
          s"(violated between partitions $i and ${i + 1}); " +
          "repartition first")
    }

    // Files holding matching rows: metadata pruning, then one
    // pushed-down discovery scan over the candidates.
    def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString
    val hitNames = filesWithHits(spark, dirPath, m, cond, dvOpt)

    // Incoming rows route to their partition by the division bounds
    // (upsert's router) so every replaced partition keeps its key
    // range — bounds stay disjoint and keyed maintenance keeps
    // working afterwards. Affected = files with deletions ∪ files
    // receiving rows; each is rewritten ONCE as survivors ∪ routed
    // incoming, index-sorted, through the shared one-shuffle scatter.
    val keyCols = m.indexColumns.toSeq
    val routed = aligned.withColumn("__part",
      if (m.files.length == 1) lit(0)
      else DivisionRouter.route(keyCols.map(col), m.lowerBounds.drop(1)))
      val insertParts = routed.select("__part").distinct()
        .collect().map(_.getInt(0))
      val affected = (m.files.indices
        .filter(i => hitNames(GraftFs.baseName(m.files(i))))
        ++ insertParts).distinct.sorted
      if (affected.isEmpty)
        return Report(0, 0, 0, 0, m.files.length)
      val survives = !coalesce(cond, lit(false))
      // Dense scatter tags (ordinal within `affected`, compact's
      // pattern): the rewrite shuffles at width affected.length, not
      // m.files.length — replacing one day of a 10^5-file table pays
      // O(that day's files) tasks. The router emits ORIGINAL
      // partition positions; remap them through a (bounded, one per
      // affected file) map literal.
      val denseOf: Map[Int, Int] = affected.zipWithIndex.toMap
      val partOf = new FileOrdinal(affected.zipWithIndex.map {
        case (p, j) => Stats.normalizePath(pathOf(p)) -> j }.toMap)
      val survivorsBase = m.readData(spark, affected.map(pathOf))
        .withColumn("__part",
          FileOrdinalExpr.ordinal(input_file_name(), partOf))
      val survivors =
        dvOpt.fold(survivorsBase)(DeletionVectors.minus(survivorsBase, _))
          .filter(survives)
      val combined = survivors.unionByName(routed.withColumn("__part",
        element_at(typedLit(denseOf), col("__part"))))

      // a partition the replace emptied entirely drops from the sidecar
      val replacement = writeReplacements(spark, fs, dirPath, m,
        affected.map(m.files), combined, "replaceWhere", ".graft-replace-",
        mayEmpty = true)
      installCommit(spark, dir, fs, dirPath, m, loadedFp, replacement,
        affected.length, retain, "replaceWhere", dvSnap)
      DeletionVectors.dropEntriesForFiles(spark, dir,
        affected.map(m.files).toSet)
      val created = replacement.values.count(_.nonEmpty)
      Report(rewritten = created, dropped = affected.length - created,
        merged = 0, created = created,
        untouched = m.files.length - affected.length)
    } finally { aligned.unpersist(); () }
  }

  // ---- upsert ----

  /** Merge `updates` into the dataset by exact index-tuple key: a row
    * whose key exists replaces the stored row; a new key is inserted
    * into the partition whose division its key routes to (keys below
    * the first partition's bound go to partition 0, keys above the
    * last bound extend the last partition). Update keys must be
    * unique and non-null; partition bounds must be sorted and
    * disjoint (write via `reindex` + `repartition` first).
    *
    * Scale shape: one small validation aggregate over `updates`, one
    * distinct-partitions job (≤ #files rows on the driver), then ONE
    * rewrite job over only the affected files ∪ updates — a
    * key-window shuffle to resolve replacements and the shared
    * one-shuffle scatter to sink every rewritten partition in
    * parallel (content index-sorted). Untouched partitions are never
    * read.
    */
  def upsert(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      retain: Boolean = false): Report =
    mergeImpl(spark, dir, Some(updates), None, retain)

  /** Point-delete by exact index-tuple key: every stored row whose
    * key appears in `keys` (a frame carrying at least the index
    * columns) is removed; only the partitions those keys route to
    * are rewritten, and a partition emptied by the delete is dropped
    * from the sidecar. The targeted-erasure complement of
    * [[deleteRange]]: scattered keys (a GDPR erasure list, a
    * revoked-license id set) rewrite one file per hit instead of a
    * covering range. Keys must be non-null; keys matching nothing
    * still force their routed partition's (content-identical)
    * rewrite. */
  def deleteKeys(
      spark: SparkSession,
      dir: String,
      keys: DataFrame,
      retain: Boolean = false): Report =
    mergeImpl(spark, dir, None, Some(keys), retain)

  /** [[upsert]] and [[deleteKeys]] in ONE commit — the CDC-apply
    * primitive: replace/insert `updates`, remove `deletes`, swap the
    * sidecar once. A key may not appear in both. The combined op
    * reads and rewrites each affected partition once even when a
    * partition receives updates AND deletes, and downstream readers
    * never observe the half-applied state two separate commits would
    * expose. */
  def merge(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      deletes: DataFrame,
      retain: Boolean = false): Report =
    mergeImpl(spark, dir, Some(updates), Some(deletes), retain)

  private def mergeImpl(
      spark: SparkSession,
      dir: String,
      updatesOpt: Option[DataFrame],
      deletesOpt: Option[DataFrame],
      retain: Boolean): Report = {
    // pending deletion vectors fold into the keyed rewrite: affected
    // files' marked rows drop from the old-rows scan and the commit
    // clears exactly those files' overlay entries (see updateWhere)
    val (dvOpt, dvSnap) = DeletionVectors.pendingWithSnapshot(spark, dir)
    val m = Sidecar.load(spark, dir)
    // Fingerprint immediately after load: every Spark job below gives
    // a concurrent writer time to commit, and the guard before the
    // swap must compare against what THIS op planned from.
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = metaFingerprint(spark, dirPath)
    require(m.indexColumns.nonEmpty,
      "keyed maintenance needs index columns; write the dataset " +
        "reindexed first")
    require(m.files.nonEmpty, "cannot merge into an empty dataset")
    val keyCols = m.indexColumns.toSeq
    val dataCols = m.schema.fieldNames.toSeq
    updatesOpt.foreach(u =>
      require(dataCols.forall(c => u.columns.contains(c)),
        s"updates must carry every dataset column ${dataCols.mkString(", ")}"))
    // CHECK constraints guard the rows being written; deletes cannot
    // violate a CHECK. One aggregate pass over the delta only.
    updatesOpt.foreach(u =>
      Constraints.enforce(spark, dir, u, "upsert/merge"))
    deletesOpt.foreach(dk =>
      require(keyCols.forall(c => dk.columns.contains(c)),
        s"delete keys must carry the index columns ${keyCols.mkString(", ")}"))
    (0 until m.files.length - 1).foreach { i =>
      require(Lex.lexCmp(m.upperBounds(i), m.lowerBounds(i + 1)) < 0,
        "keyed maintenance requires sorted, disjoint partition bounds " +
          s"(violated between partitions $i and ${i + 1}); repartition first")
    }

    // Route each input row to its partition FIRST: first lower bound
    // the key is lex-below, over the interior cut points (= partition
    // lower bounds past the first) — O(log n) per row, codegen; the
    // router is null-safe (null keys sort first), so validation can
    // run over the ROUTED union. Update rows carry __op = 1, delete
    // markers __op = 2 (data columns null-filled so the union lines
    // up), old rows __op = 0. A single-partition dataset has no
    // interior cut points — every key routes to partition 0.
    def route(df: DataFrame): DataFrame = df.withColumn("__part",
      if (m.files.length == 1) lit(0)
      else DivisionRouter.route(keyCols.map(col), m.lowerBounds.drop(1)))
    val updRouted = updatesOpt.map(u =>
      route(u.select(dataCols.map(col): _*)).withColumn("__op", lit(1)))
    val delRouted = deletesOpt.map { dk =>
      val filled = dk.select(dataCols.map { c =>
        if (keyCols.contains(c)) col(c)
        else lit(null).cast(m.schema(c).dataType).as(c)
      }: _*)
      route(filled).withColumn("__op", lit(2))
    }
    // Persisted: the routed delta is evaluated by the fused
    // validation/discovery aggregate AND the final scatter — caching
    // pins one evaluation (and one result for non-deterministic
    // inputs like samples).
    val incoming =
      (updRouted.toSeq ++ delRouted.toSeq).reduce(_ unionByName _).persist()
    try mergePersisted(spark, dir, m, incoming, retain, fs, dirPath,
      loadedFp, dvOpt, dvSnap)
    finally { incoming.unpersist(); () }
  }

  private def mergePersisted(
      spark: SparkSession,
      dir: String,
      m: Sidecar.Meta,
      incoming: DataFrame,
      retain: Boolean,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath,
      loadedFp: (Long, Long),
      dvOpt: Option[DataFrame],
      dvSnap: Set[String]): Report = {
    val keyCols = m.indexColumns.toSeq
    val keyIsNull = keyCols.map(col(_).isNull).reduce(_ || _)
    // ONE pass over the routed delta fuses what used to be four jobs
    // (per-input validation aggregates, the key-overlap semi join,
    // the affected-partition distinct): unique non-null update keys,
    // non-null delete keys (duplicates are harmless — deleting twice
    // is deleting once), update∩delete key overlap via inclusion-
    // exclusion on distinct counts, and the affected partition set as
    // a collect_set (bounded by the file count, the same driver cost
    // the old distinct().collect() paid). At 100 TB that is one fewer
    // full pass over the delta per mutation commit.
    val opIsUpd = col("__op") === 1
    val opIsDel = col("__op") === 2
    val keyStruct = struct(keyCols.map(col): _*)
    val v = incoming.agg(
      count(when(opIsUpd, lit(1))).as("n1"),
      count(when(opIsDel, lit(1))).as("n2"),
      count(when(opIsUpd && keyIsNull, lit(1))).as("nulls1"),
      count(when(opIsDel && keyIsNull, lit(1))).as("nulls2"),
      count_distinct(when(opIsUpd, keyStruct)).as("d1"),
      count_distinct(when(opIsDel, keyStruct)).as("d2"),
      count_distinct(keyStruct).as("dAll"),
      collect_set(col("__part")).as("parts")).head()
    val nUpd = v.getLong(0)
    val nDel = v.getLong(1)
    if (nUpd == 0L && nDel == 0L)
      return Report(0, 0, 0, 0, m.files.length)
    if (nUpd > 0L) {
      require(v.getLong(2) == 0L, "update keys must be non-null")
      require(nUpd == v.getLong(4),
        s"update keys must be unique ($nUpd rows, " +
          s"${v.getLong(4)} distinct keys)")
    }
    if (nDel > 0L)
      require(v.getLong(3) == 0L, "delete keys must be non-null")
    if (nUpd > 0L && nDel > 0L)
      require(v.getLong(4) + v.getLong(5) == v.getLong(6),
        "a key may not appear in both updates and deletes")
    val affected = v.getSeq[Int](7).sorted.toIndexedSeq
    def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString

    // Old rows of affected partitions, tagged with the DENSE ordinal
    // of their file within `affected` (compact's pattern): the
    // scatter shuffles at width affected.length, not m.files.length —
    // a point upsert on a 10^5-file table pays one write task. The
    // routed delta carries ORIGINAL positions; remap through a
    // (bounded, one entry per affected file) map literal.
    val denseOf: Map[Int, Int] = affected.zipWithIndex.toMap
    val partOf = new FileOrdinal(affected.zipWithIndex.map {
      case (p, j) => Stats.normalizePath(pathOf(p)) -> j }.toMap)
    val oldBase = m.readData(spark, affected.map(pathOf))
      .withColumn("__part",
        FileOrdinalExpr.ordinal(input_file_name(), partOf))
    val old = dvOpt.fold(oldBase)(DeletionVectors.minus(oldBase, _))

    // Per key: an update replaces ALL stored duplicates of its key, a
    // delete marker removes them, untouched keys pass through; markers
    // themselves never land. Resolved as an ANTI JOIN of the old rows
    // against the delta's keys — the delta is persisted (stats known)
    // and usually key-set-sized, so the join broadcasts and the old
    // rows flow shuffle-free into the scatter's single __part
    // exchange. The previous window formulation
    // (max(__op) over partitionBy(keys)) hash-exchanged EVERY affected
    // row by key first: 2 exchanges of the rewritten data where 1 is
    // needed. Incoming keys are validated non-null above; old rows
    // with null keys never equal any delta key, so they pass through —
    // exactly the window's null-group behavior.
    val incomingDense = incoming.withColumn("__part",
      element_at(typedLit(denseOf), col("__part")))
    val resolved = old
      .join(incomingDense.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(incomingDense.filter(col("__op") === 1).drop("__op"))

    // A partition every row of which was deleted writes nothing and
    // drops from the sidecar (possible only when deletes are present).
    val replacement = writeReplacements(spark, fs, dirPath, m,
      affected.map(m.files), resolved, "keyed maintenance",
      ".graft-upsert-", mayEmpty = nDel > 0)
    installCommit(spark, dir, fs, dirPath, m, loadedFp, replacement,
      affected.length, retain, "keyed maintenance", dvSnap)
    DeletionVectors.dropEntriesForFiles(spark, dir,
      affected.map(m.files).toSet)
    val created = replacement.values.count(_.nonEmpty)
    Report(rewritten = created, dropped = affected.length - created,
      merged = 0, created = created,
      untouched = m.files.length - affected.length,
      upsertRows = nUpd, deleteRows = nDel)
  }
}
