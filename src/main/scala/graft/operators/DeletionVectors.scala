package graft.operators

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DivisionRouter, FileOrdinal, FileOrdinalExpr, GraftFs,
  PDataset, Sidecar, Stats}

/** Merge-on-read deletes (deletion vectors): mark rows deleted by
  * (file, row position) in a `_graft_dv/` overlay instead of
  * rewriting the data files — the Delta/Iceberg-v2 pattern that makes
  * a scattered GDPR erasure over a 100 TB table a metadata-sized
  * write instead of a one-file-per-hit rewrite.
  *
  *   - [[deleteKeys]] routes the key list to its partitions (same
  *     O(log n) division router as keyed maintenance), scans ONLY the
  *     affected files with parquet row positions, and appends the hit
  *     positions as a small parquet commit under `_graft_dv/`. Zero
  *     data files are touched.
  *   - [[scan]] is the merge-on-read read: the dataset anti-joined
  *     against the broadcast deletion vectors on (file, position).
  *     `spark.read.format("graft")` applies pending vectors
  *     TRANSPARENTLY (SQL readers never see deleted rows;
  *     `option("ignoreDeletionVectors", true)` opts back into the
  *     base). The engine-native `PDataset.scanParquet` stays the raw
  *     base read — maintenance internals depend on it.
  *   - [[materialize]] folds the vectors in: affected files are
  *     rewritten without their marked rows in ONE sidecar commit
  *     (untouched files never move), and the overlay is removed.
  *
  * Soundness: rewriting maintenance ops (upsert / delete / merge /
  * compact / restore / dropColumns) REFUSE while vectors exist —
  * their file rewrites would resurrect marked rows (positions bind to
  * file content). Call [[materialize]] first; metadata-only
  * `addColumns` and `vacuum` stay allowed. The scale contract:
  * vectors hold the DELETED row positions only, so the broadcast is
  * proportional to pending deletes, not table size — materialize
  * when it grows past broadcast comfort.
  *
  * Composition with views and the change feed: marking changes no
  * generation, so incremental views stay fresh and keep summarizing
  * the BASE table (the overlay is an explicit read path).
  * `materialize(retain = true)` archives the outgoing generation like
  * any retained mutation — the change feed then carries the marked
  * rows as deletes and [[IncrementalAgg.refresh]] absorbs them
  * normally.
  */
object DeletionVectors {

  val DvDirName = "_graft_dv"

  final case class Report(marked: Long, affectedFiles: Int)

  private def dvDir(dirPath: HPath): HPath = new HPath(dirPath, DvDirName)

  /** Committed overlay dirs: `dv-*` directories under `_graft_dv/`.
    * A `stage-*` sibling is an in-flight (or crashed) DV write that
    * has not passed its OCC guard — never readable (only `dv-*`
    * matches here; the stage prefix is deliberately NOT dot-hidden,
    * since Spark's hidden-path filter can drop a dot-prefixed dir
    * from an explicit read). */
  private def commitDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath): Seq[HPath] =
    GraftFs.listStatuses(fs, dvDir(dirPath))
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("dv-"))
      .map(_.getPath)

  /** Whether any deletion vectors are pending. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    commitDirs(fs, dirPath).nonEmpty
  }

  /** Copy the pending overlay of `srcDir` into `dstDir` — the
    * KB-scale part of a [[Maintenance.shallowClone]]. Marks key by
    * file BASE name and the clone shares the source's physical
    * files, so the copied parquet bitmaps apply verbatim; from here
    * on the two overlays evolve independently (a later DELETE on
    * the source never reaches the clone and vice versa). */
  private[operators] def copyOverlay(
      spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    val (sfs, srcPath) = GraftFs.resolve(spark, srcDir)
    val commits = commitDirs(sfs, srcPath)
    val (dfs, dstPath) = GraftFs.resolve(spark, dstDir)
    val target = dvDir(dstPath)
    // the caller guarantees dstDir is not yet a table, so any overlay
    // there is debris from a clone that crashed mid-copy — wipe it,
    // or FileUtil.copy(overwrite = false) would NEST the re-copied
    // commit dirs inside the leftovers (dv-x/dv-x), a layout the
    // overlay readers were never written for
    GraftFs.deleteRecursive(dfs, target)
    if (commits.isEmpty) return
    GraftFs.mkdirs(dfs, target)
    val cnf = GraftFs.conf(spark)
    commits.foreach(c =>
      GraftFs.copyRecursive(sfs, c, dfs, new HPath(target, c.getName), cnf))
  }

  /** Guard for rewriting maintenance ops. */
  private[operators] def requireNone(
      spark: SparkSession, dir: String, op: String): Unit =
    if (exists(spark, dir)) throw new IllegalStateException(
      s"$op would rewrite files that carry pending deletion vectors " +
        s"(positions bind to file content, so the rewrite would " +
        s"resurrect deleted rows): run DeletionVectors.materialize on " +
        s"$dir first — in SQL, `OPTIMIZE <table> TARGET <n> ROWS` " +
        "materializes pending deletes before compacting")

  /** The pending overlay rows `(file, pos)` for rewriting ops that
    * FOLD affected files' vectors into their rewrite instead of
    * refusing ([[Maintenance.updateWhere]] / `replaceWhere` / keyed
    * merges) — the scan drops the marked rows, the commit clears
    * exactly those files' entries via [[dropEntriesForFiles]]. */
  private[operators] def pending(
      spark: SparkSession, dir: String): Option[DataFrame] =
    pendingWithSnapshot(spark, dir)._1

  /** [[pending]] plus the commit-dir names it was built from — ONE
    * listing, so the snapshot names exactly the marks the caller
    * folds. Rewriters pass the snapshot to their install step, which
    * re-lists and aborts if a concurrent DV DELETE added marks to a
    * file the rewrite replaces (DV commits never touch the sidecar,
    * so `guardUnchanged` alone cannot see them; without this check
    * the rewrite would copy the freshly-marked rows into new files
    * and `dropEntriesForFiles` would discard the marks — deleted
    * rows silently resurrecting). */
  private[operators] def pendingWithSnapshot(
      spark: SparkSession, dir: String): (Option[DataFrame], Set[String]) = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val commits = commitDirs(fs, dirPath)
    val names = commits.map(_.getName).toSet
    if (commits.isEmpty) (None, names)
    else (Some(spark.read.parquet(commits.map(_.toString): _*).distinct()),
      names)
  }

  /** Rewriter-side OCC check: abort if any DV commit not in
    * `snapshot` holds marks on a file in `replacedFiles`. New marks
    * on UNTOUCHED files are fine — the rewrite's commit only clears
    * replaced files' entries. Driver reads only the fresh (KB-scale)
    * commits. */
  private[operators] def requireNoNewMarks(
      spark: SparkSession,
      dir: String,
      snapshot: Set[String],
      replacedFiles: Set[String],
      op: String): Unit = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val fresh = commitDirs(fs, dirPath)
      .filterNot(p => snapshot(p.getName))
    if (fresh.isEmpty || replacedFiles.isEmpty) return
    import spark.implicits._
    // overlay entries key by BASE name; replaced sidecar entries may
    // be absolute shallow-clone paths — normalize before matching
    val conflicted = !spark.read.parquet(fresh.map(_.toString): _*)
      .join(replacedFiles.map(GraftFs.baseName).toSeq.toDF("file"),
        Seq("file"), "left_semi")
      .isEmpty
    if (conflicted) throw new java.util.ConcurrentModificationException(
      s"$op on $dir conflicts with a concurrent deletion-vector " +
        "DELETE that marked rows in a file this op rewrote; nothing " +
        "was installed — reload and re-run")
  }

  /** Drop `df`'s rows that the overlay marks deleted; `df` must still
    * expose the file `_metadata` (read the files directly, before any
    * projection that hides it). Broadcast ∝ pending marks. */
  private[operators] def minus(df: DataFrame, dv: DataFrame): DataFrame =
    df.withColumn("__dvf", fileNameOf(col("_metadata.file_path")))
      .withColumn("__dvp", col("_metadata.row_index"))
      .join(broadcast(dv),
        col("__dvf") === dv("file") && col("__dvp") === dv("pos"),
        "left_anti")
      .drop("__dvf", "__dvp")

  /** Remove the overlay entries of `files` (names a rewrite just
    * replaced — their marks are now folded into the new files): the
    * surviving entries land as ONE fresh commit, then the old commit
    * dirs delete. A crash between the steps only duplicates surviving
    * entries (the scan distincts) or leaves entries naming dead files
    * (which never match a scan again) — never resurrects a row. When
    * no entry names `files` the overlay stays as it is: re-committing
    * other files' marks would look like fresh marks to a concurrent
    * rewriter's [[requireNoNewMarks]] and abort it for nothing. */
  private[operators] def dropEntriesForFiles(
      spark: SparkSession, dir: String, files: Set[String]): Unit = {
    if (files.isEmpty) return
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val commits = commitDirs(fs, dirPath)
    if (commits.isEmpty) return
    // a join, not an IN literal: a wide rewrite can clear 10^4+
    // files' entries in one commit. Overlay entries key by BASE name;
    // the replaced sidecar entries may be absolute shallow-clone
    // paths — normalize before matching.
    import spark.implicits._
    val all = spark.read.parquet(commits.map(_.toString): _*)
      .join(files.map(GraftFs.baseName).toSeq.toDF("file")
        .withColumn("__drop", lit(true)), Seq("file"), "left_outer")
      .distinct().persist()
    try {
      val counts = all.agg(count(col("__drop")),
        count(when(col("__drop").isNull, lit(1)))).head()
      val (dropped, kept) = (counts.getLong(0), counts.getLong(1))
      val dv = all.filter(col("__drop").isNull).drop("__drop")
      if (dropped == 0L) return
      if (kept == 0L) { GraftFs.deleteRecursive(fs, dvDir(dirPath)); () }
      else {
        val commit = new HPath(dvDir(dirPath),
          s"dv-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
        dv.write.option("compression", "zstd").parquet(commit.toString)
        commits.foreach(c => GraftFs.deleteRecursive(fs, c))
      }
    } finally { all.unpersist(); () }
  }

  private def loadDv(
      spark: SparkSession, dirPath: HPath): Option[DataFrame] = {
    val (fs, _) = GraftFs.resolve(spark, dirPath.toString)
    val commits = commitDirs(fs, dirPath).map(_.toString)
    if (commits.isEmpty) None
    // duplicates across commits are harmless for the anti join;
    // distinct keeps the broadcast minimal
    else Some(spark.read.parquet(commits: _*).distinct())
  }

  private def fileNameOf(c: org.apache.spark.sql.Column) =
    element_at(split(c, "/"), -1)

  /** Sidecar file pruning for [[deleteWhere]]: the SAME
    * [[org.apache.spark.sql.GraftFileIndex]] walk the read path uses,
    * so the delete side prunes exactly as well as a read with the
    * same predicate — full lex-tuple bounds on every index column
    * (equality prefixes unlock deeper columns: `k1 = x AND k2
    * BETWEEN a AND b` prunes by both), independent
    * `_graft_colstats.json` ranges on non-index columns, per-value
    * IN handling, and `_graft_bloom` point-lookup filters. The
    * predicate is resolved/coerced against the table schema first (a
    * bare `lit(5)` against a BIGINT column gets the cast the read
    * path's pushed filters have), and anything not provably prunable
    * keeps the file — [[org.apache.spark.sql.GraftFileIndex]] is
    * conservative by construction. */
  private[operators] def pruneByPredicate(
      spark: SparkSession,
      dirPath: HPath,
      m: Sidecar.Meta,
      predicate: org.apache.spark.sql.Column): IndexedSeq[Int] = {
    if (m.files.isEmpty) return IndexedSeq.empty
    // Resolve + type-coerce the predicate the way analysis would for
    // a real read (over a zero-row frame — driver-only, no job).
    val cond = org.apache.spark.sql.GraftBridge.analyzedCondition(
      spark, m.schema, predicate)
    val files = m.files.map(f => new HPath(dirPath, f).toString)
    val raw = graft.core.ColumnStats.rawForFiles(
      spark, files, m.schema, Some(dirPath.toString))
    val index = new org.apache.spark.sql.GraftFileIndex(
      files.map(f => (new HPath(f), 0L)),
      m.indexColumns, m.lowerBounds, m.upperBounds,
      blooms = graft.core.BloomIndex.forFiles(
        spark, files, Some(dirPath.toString)),
      extraStats = graft.core.ColumnStats.pruning(raw))
    val kept = index.listFiles(Nil, Seq(cond))
      .flatMap(_.files.map(_.getPath.getName)).toSet
    // base-name identity: a shallow clone's entries are absolute paths
    m.files.indices.filter(i => kept(GraftFs.baseName(m.files(i))))
  }

  /** Writer-side OCC: scan `hits` into a `stage-*` dir (never
    * readable), then publish by rename ONLY if the sidecar still
    * matches `loadedFp`. Marks bind (file, pos) to the generation the
    * scan read; a rewrite landing mid-scan would leave them naming
    * replaced files — entries that never match a scan again, i.e. a
    * silently LOST delete. Together with [[requireNoNewMarks]] on the
    * rewriter side this closes the DV/rewrite races down to the
    * check-to-publish instant on each side. */
  private def publishMarks(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath,
      hits: DataFrame,
      loadedFp: (Long, Long)): Report = {
    val stage = new HPath(dvDir(dirPath),
      s"stage-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
    try {
      hits.write.option("compression", "zstd").parquet(stage.toString)
      val agg = spark.read.parquet(stage.toString)
        .agg(count(lit(1)).as("n"), count_distinct(col("file")).as("f"))
        .head()
      Maintenance.guardUnchanged(spark, dirPath, loadedFp)
      val commit = new HPath(dvDir(dirPath),
        s"dv-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
      if (!fs.rename(stage, commit))
        throw new java.io.IOException(
          s"could not publish deletion-vector commit $commit")
      Report(agg.getLong(0), agg.getLong(1).toInt)
    } catch {
      case e: Throwable =>
        try GraftFs.deleteRecursive(fs, stage)
        catch { case _: java.io.IOException => () }
        throw e
    }
  }

  /** Mark every stored row whose index-tuple key appears in `keys` as
    * deleted — no data file is rewritten. Returns the number of
    * marked row positions and how many files they live in. */
  def deleteKeys(
      spark: SparkSession, dir: String, keys: DataFrame): Report = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = Maintenance.metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    require(m.indexColumns.nonEmpty,
      "deletion vectors need index columns; reindex first")
    val keyCols = m.indexColumns.toSeq
    require(keyCols.forall(keys.columns.contains),
      s"delete keys must carry the index columns ${keyCols.mkString(", ")}")
    val k = keys.select(keyCols.map(col): _*).distinct().persist()
    try {
      require(k.filter(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty,
        "delete keys must be non-null")
      // Route keys to partitions (bounds prune which files we scan).
      val routed =
        if (m.files.length == 1) k.withColumn("__part", lit(0))
        else k.withColumn("__part",
          DivisionRouter.route(keyCols.map(col), m.lowerBounds.drop(1)))
      val affected = routed.select("__part").distinct()
        .collect().map(_.getInt(0)).sorted
      if (affected.isEmpty) return Report(0L, 0)
      val paths = affected.map(p => new HPath(dirPath, m.files(p)).toString)
      // Row positions of the hits, from ONLY the affected files.
      val hits = m.readData(spark, paths.toIndexedSeq)
        .select((keyCols.map(col) :+
          fileNameOf(col("_metadata.file_path")).as("file") :+
          col("_metadata.row_index").as("pos")): _*)
        .join(k, keyCols, "left_semi")
        .select("file", "pos")
      publishMarks(spark, fs, dirPath, hits, loadedFp)
    } finally { k.unpersist(); () }
  }

  /** Mark every stored row matching `predicate` as deleted — no data
    * file is rewritten. Files the read path could prove predicate-free
    * are skipped before the scan ([[pruneByPredicate]] reuses the
    * read side's GraftFileIndex walk: lex bounds on every index
    * column, colstats ranges, blooms — at 100 TB the file listing
    * itself is the cost); within the surviving files the predicate
    * pushes down to the parquet scan (row-group pruning applies),
    * and only files that produce hits enter the overlay. */
  def deleteWhere(
      spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Report = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = Maintenance.metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    val kept = pruneByPredicate(spark, dirPath, m, predicate)
    if (kept.isEmpty) return Report(0L, 0)
    val paths = kept.map(p => new HPath(dirPath, m.files(p)).toString)
    val hits = m.readData(spark, paths.toIndexedSeq)
      .withColumn("__file", fileNameOf(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
      .filter(predicate)
      .select(col("__file").as("file"), col("__pos").as("pos"))
    publishMarks(spark, fs, dirPath, hits, loadedFp)
  }

  /** The merge-on-read scan: dataset rows minus every marked
    * position. With no pending vectors this is the plain scan. */
  def scan(spark: SparkSession, dir: String): DataFrame = {
    val (_, dirPath) = GraftFs.resolve(spark, dir)
    val base = PDataset.scanParquet(spark, dir).toDF
    loadDv(spark, dirPath) match {
      case None => base
      case Some(dv) =>
        base
          .withColumn("__file", fileNameOf(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
          .join(broadcast(dv),
            col("__file") === dv("file") && col("__pos") === dv("pos"),
            "left_anti")
          .drop("__file", "__pos")
    }
  }

  /** Fold pending vectors into the data: rewrite ONLY the files that
    * carry marked rows (dropping those rows), swap the sidecar once
    * (rebasing over a concurrent commit on other files), and remove
    * the overlay. `retain = true` archives the outgoing generation
    * like every maintenance op. */
  def materialize(
      spark: SparkSession, dir: String, retain: Boolean = false):
      Maintenance.Report = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val loadedFp = Maintenance.metaFingerprint(spark, dirPath)
    val m = Sidecar.load(spark, dir)
    // pin the commit dirs this fold covers: the final cleanup deletes
    // ONLY these, so a DV commit landing mid-materialize (on an
    // untouched file) survives instead of being wiped with the dir
    val commitsAtLoad = commitDirs(fs, dirPath)
    if (commitsAtLoad.isEmpty)
      return Maintenance.Report(0, 0, 0, 0, m.files.length)
    val dv = spark.read
      .parquet(commitsAtLoad.map(_.toString): _*).distinct().persist()
    try {
      val affectedNames = dv.select("file").distinct()
        .collect().map(_.getString(0)).toSet
      // marks key by BASE name; a shallow clone's entries are
      // absolute paths whose base names are the shared identity
      val affected = m.files.indices
        .filter(p => affectedNames(GraftFs.baseName(m.files(p))))
      def pathOf(p: Int): String = new HPath(dirPath, m.files(p)).toString
      // input_file_name() cannot sit above the anti join (multi
      // source); the carried full metadata path routes instead.
      // __part carries the DENSE ordinal within `affected`, so the
      // scatter shuffles at affected.length — materializing DVs that
      // touch 2 files of a 10^5-file table pays 2 write tasks, not
      // 10^5.
      val partOf = new FileOrdinal(affected.zipWithIndex.map {
        case (p, j) => Stats.normalizePath(pathOf(p)) -> j }.toMap)
      val kept = m.readData(spark, affected.map(pathOf))
        .withColumn("__path", col("_metadata.file_path"))
        .withColumn("__file", fileNameOf(col("__path")))
        .withColumn("__pos", col("_metadata.row_index"))
        .join(broadcast(dv),
          col("__file") === dv("file") && col("__pos") === dv("pos"),
          "left_anti")
        .withColumn("__part", FileOrdinalExpr.ordinal(col("__path"), partOf))
        .drop("__path", "__file", "__pos")
      // The shared row-level commit: OCC rebase over a concurrent
      // disjoint commit, and an abort (a concurrent DV DELETE marked
      // rows in a file this fold rewrote) that deletes only this op's
      // unregistered files. Marks naming files no longer in the
      // sidecar fold into nothing: no rewrite, only the cleanup.
      val created =
        if (affected.isEmpty) 0
        else {
          val replacement = Maintenance.writeReplacements(spark, fs,
            dirPath, m, affected.map(m.files), kept, "materialize",
            ".graft-dvmat-", mayEmpty = true)
          Maintenance.installCommit(spark, dir, fs, dirPath, m, loadedFp,
            replacement, affected.length, retain, "materialize",
            commitsAtLoad.map(_.getName).toSet)
          replacement.values.count(_.nonEmpty)
        }
      // delete only the commits this fold covered; drop the dir
      // itself only when nothing new landed meanwhile
      commitsAtLoad.foreach(c => GraftFs.deleteRecursive(fs, c))
      if (commitDirs(fs, dirPath).isEmpty) {
        GraftFs.deleteRecursive(fs, dvDir(dirPath)); ()
      }
      Maintenance.Report(rewritten = created,
        dropped = affected.length - created, merged = 0,
        created = created,
        untouched = m.files.length - affected.length)
    } finally { dv.unpersist(); () }
  }
}
