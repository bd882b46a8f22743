package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, GraftRelations, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._

import graft.core.{BloomIndex, GraftFs, PDataset, ScatterWrite, Sidecar, Stats}

/** `spark.read.format("graft").load(dir)` — plain-SQL access to a
  * sidecar-carrying dataset directory (the engine's write format:
  * `_padawan_metadata.json` + `_padawan_schema` + part files).
  *
  * The returned relation serves its file listing, schema and
  * lex-tuple bounds from the sidecar: zero directory listings, zero
  * footer reads at plan time, and pushed filters on the index
  * columns prune whole FILES inside Catalyst — SQL users get the
  * same skipping `PDataset.slice` gives, without touching the
  * engine API. Registered under the short name `graft` via the
  * standard `DataSourceRegister` service file.
  *
  * The write side —
  * `df.write.format("graft").option("index", "c1,c2").save(dir)` —
  * range-partitions on the index columns (one shuffle; `files`
  * option pins the file count), sorts within partitions for tight
  * rowgroup stats, writes parquet, and computes the sidecar in ONE
  * stats job, so the directory reopens with pruning by any reader.
  *
  * Append is O(delta), not O(table): the write lands in a stage, its
  * files move into free name slots ([[graft.core.ScatterWrite.place]]),
  * one stats job covers exactly those files, and they commit through
  * [[graft.operators.Maintenance.installCommit]] with the txn and
  * COPY INTO ledgers derived from the generation they land on — no
  * pre-existing data file is re-read. Per-file bounds may then overlap
  * across append generations; pruning stays sound, it is per file.
  */
final class GraftSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---- streaming sink: exactly-once appends via the txn ledger ----
  // `df.writeStream.format("graft").option("checkpointLocation", c)
  //   [.option("index", "k")].start(dir)` — each micro-batch appends
  // through the transactional write path (txnAppId = the query id,
  // txnVersion = the batch id, committed in the same atomic sidecar
  // swap that registers the batch's files), so a crash-replayed batch
  // is a no-op: exactly-once table contents under at-least-once batch
  // delivery, with the sink's usual one-shuffle O(delta) append cost.

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"the graft streaming sink appends; got output mode $outputMode")
    new GraftStreamSink(streamPath(parameters), parameters)
  }

  // ---- streaming: the change feed as a micro-batch source ----
  // `spark.readStream.format("graft").load(dir)` emits each retained
  // generation's insert/delete delta (offsets = generation numbers);
  // see graft.streaming.ChangeFeedSource for the contract.

  /** The dataset directory any graft entry point addresses: the
    * load/save/start path, or `option("table", "cat.db.t")` resolved
    * through a registered [[GraftCatalog]] — name-based batch AND
    * streaming access over the same warehouse mapping. */
  private def streamPath(parameters: Map[String, String]): String =
    parameters.get("table")
      .map(t => GraftCatalog.resolveName(t).getOrElse(
        throw new IllegalArgumentException(
          s"option(\"table\", \"$t\") does not resolve through a " +
            "registered graft catalog (set spark.sql.catalog.<cat>=" +
            "graft.sources.GraftCatalog and its .warehouse)")))
      .orElse(parameters.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "the graft source requires a path or a table name: " +
          ".load/.save/.start(<dataset dir>) or " +
          "option(\"table\", \"cat.db.t\")"))

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String]):
      (String, org.apache.spark.sql.types.StructType) = {
    val path = streamPath(parameters)
    ("graft", graft.streaming.ChangeFeedSource.feedSchema(
      Sidecar.load(sqlContext.sparkSession, path).schema))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String]):
      org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val path = streamPath(parameters)
    // A caller-supplied schema names the TABLE columns (Spark's
    // streaming-table V1 fallback passes the catalog table's schema
    // here); the stream's schema is the FEED over it — normalize
    // unless the caller already passed a feed-shaped schema.
    val declared = schema match {
      case Some(s) if !s.fieldNames.contains("change_type") =>
        graft.streaming.ChangeFeedSource.feedSchema(s)
      case Some(s) => s
      case None => graft.streaming.ChangeFeedSource.feedSchema(
        Sidecar.load(spark, path).schema)
    }
    new graft.streaming.ChangeFeedSource(spark, path, declared,
      graft.streaming.ChangeFeedSource.resolveStart(
        spark, path, parameters),
      parameters.get("maxGenerationsPerBatch").map(_.toInt))
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = streamPath(parameters)
    val spark = sqlContext.sparkSession
    // option("version", n): read an archived generation;
    // option("asOfTimestamp", <epoch millis | ISO-8601 instant>):
    // the generation that was current at that instant (time travel
    // over retained maintenance history);
    // option("changesFrom", n) [+ option("changesTo", m)]: the
    // row-level change feed between two retained generations (rows
    // tagged by `change_type` in the Delta-CDF vocabulary — insert /
    // delete / update_preimage / update_postimage; to = current when
    // omitted) — Maintenance.changes for plain-SQL users.
    // option("history", true): one row per readable generation
    // (DESCRIBE HISTORY) — Maintenance.history for plain-SQL users.
    // option("constraints", true): the table's CHECK constraints as
    // (name, expression) rows — the SHOW-CONSTRAINTS counterpart of
    // the sink's option("constraint.<name>", "<expr>") DDL surface.
    val exclusive = Seq("version", "asOfTimestamp", "changesFrom",
      "changesFromTimestamp", "history", "constraints")
      .filter(parameters.contains)
    if (exclusive.length > 1) throw new IllegalArgumentException(
      s"options ${exclusive.mkString("'", "', '", "'")} are mutually " +
        "exclusive")
    // An upper endpoint without its matching lower endpoint would be
    // silently dropped below (returning the full table or a feed to
    // the current generation) — reject instead of returning
    // plausible-looking wrong rows.
    Seq("changesTo" -> "changesFrom",
      "changesToTimestamp" -> "changesFromTimestamp").foreach {
      case (to, from) =>
        if (parameters.contains(to) && !parameters.contains(from))
          throw new IllegalArgumentException(
            s"option '$to' requires option '$from'")
    }
    def feedRelation(df: org.apache.spark.sql.DataFrame): BaseRelation = {
      val sqlc = sqlContext
      new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = sqlc
        override val schema = df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = df.rdd
      }
    }
    exclusive.headOption match {
      case Some("version") =>
        GraftRelations.sidecarRelationFor(spark, path,
          graft.operators.Maintenance.versionMeta(spark, path,
            parameters("version").toInt))
      case Some("asOfTimestamp") =>
        GraftRelations.sidecarRelationFor(spark, path,
          graft.operators.Maintenance.metaAsOf(spark, path,
            parseTs(parameters("asOfTimestamp"))))
      case Some("changesFrom") =>
        // option("commitInfo", true): per-commit attribution — one
        // row per change per generation step, plus _commit_version /
        // _commit_timestamp (the full Delta-CDF shape; costs the sum
        // of per-step deltas instead of one endpoint diff)
        val from = parameters("changesFrom").toInt
        val to = parameters.get("changesTo").map(_.toInt)
        feedRelation(
          if (parameters.get("commitInfo").exists(_.toBoolean))
            graft.operators.Maintenance.changesWithCommitInfo(
              spark, path, from, to)
          else graft.operators.Maintenance.changes(spark, path, from, to))
      case Some("history") if parameters("history").toBoolean =>
        feedRelation(graft.operators.Maintenance.history(spark, path))
      case Some("constraints") if parameters("constraints").toBoolean =>
        feedRelation(graft.operators.Constraints.show(spark, path))
      case Some("changesFromTimestamp") =>
        feedRelation(graft.operators.Maintenance.changesAsOf(spark, path,
          parseTs(parameters("changesFromTimestamp")),
          parameters.get("changesToTimestamp").map(parseTs)))
      case _ =>
        // Pending deletion vectors are part of the table's current
        // state: the plain-SQL read applies them transparently (the
        // Delta/Iceberg-v2 contract — readers never see deleted
        // rows), at the cost of the metadata-count / view-rewrite
        // shortcuts, which bind to the base relation and so decline
        // while vectors pend. option("ignoreDeletionVectors", true)
        // opts back into the raw base scan. Snapshot reads (version /
        // asOfTimestamp) address committed generations; marking is
        // not a generation, so vectors apply to current-state reads
        // only.
        val ignoreDv = parameters.get("ignoreDeletionVectors")
          .exists(_.toBoolean)
        if (!ignoreDv &&
            graft.operators.DeletionVectors.exists(spark, path))
          dvRelation(sqlContext, path)
        else GraftRelations.sidecarRelation(spark, path)
    }
  }

  /** Merge-on-read relation: [[DvPendingRelation]]. With
    * [[graft.GraftExtensions]] installed its LogicalRelation is
    * spliced out during analysis for the native anti-join plan
    * (vectorized scan, pushed-filter file pruning); without, the V1
    * fallback still exits through `toRdd` as InternalRows (no
    * row-conversion tax). */
  private def dvRelation(
      sqlContext: SQLContext, path: String): BaseRelation = {
    val spark = sqlContext.sparkSession
    new DvPendingRelation(spark, path,
      Sidecar.load(spark, path).schema, sqlContext)
  }

  private def parseTs(t: String): Long = GraftSource.parseTs(t)

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = streamPath(parameters)
    val spark = sqlContext.sparkSession
    // An append to an existing table defaults to the target's own
    // clustering — re-declaring the index on every append is noise
    // (and a TYPO there turned an append into a refusal). A fresh
    // write still requires the explicit declaration.
    val index = parameters.get("index")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(
        if (mode == SaveMode.Append && Sidecar.exists(spark, path))
          Some(Sidecar.load(spark, path).indexColumns)
        else None)
      .getOrElse(throw new IllegalArgumentException(
        "the graft sink requires option 'index': comma-separated " +
          "columns the dataset is range-clustered and pruned on " +
          "(only appends to an existing table may omit it)"))
    val (fs, p) = GraftFs.resolve(spark, path)
    val exists = GraftFs.statusOf(fs, p).isDefined
    if (mode == SaveMode.Ignore && exists)
      return createRelation(sqlContext, parameters)
    // Fail fast on a bad bloom option BEFORE the expensive write —
    // both a missing column and an unsupported TYPE (BloomIndex.build
    // would otherwise reject a double/timestamp column only after the
    // full dataset write completed).
    val bloomCols = parameters.get("bloom")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    bloomCols.foreach { c =>
      require(data.columns.contains(c), s"bloom option: no such column $c")
      require(BloomIndex.supported(data.schema(c).dataType),
        "bloom option: supports integral and string columns; " +
          s"$c is ${data.schema(c).dataType.simpleString}")
    }
    // option("stats", "c1,c2"): per-file min/max range pruning on
    // NON-index columns (graft.core.ColumnStats) — validated before
    // the write like the bloom option.
    val statsCols = parameters.get("stats")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    statsCols.foreach { c =>
      require(data.columns.contains(c), s"stats option: no such column $c")
      require(graft.core.ColumnStats.supported(data.schema(c).dataType),
        "stats option: supports numeric, string, date and timestamp " +
          s"columns; $c is ${data.schema(c).dataType.simpleString}")
    }
    // Exactly-once idempotent appends (the public Delta txnAppId/
    // txnVersion pattern, and the contract behind the graft streaming
    // sink): a write stamped with a (writer id, version) pair is
    // SKIPPED when the target sidecar's `txn` ledger already records
    // that version or a later one — a crash-replayed micro-batch
    // becomes a no-op — and otherwise commits its ledger update in
    // the SAME atomic sidecar swap that registers its files.
    val txn: Option[(String, Long)] =
      (parameters.get("txnAppId"), parameters.get("txnVersion")) match {
        case (Some(a), Some(v)) => Some(a -> v.toLong)
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "txnAppId and txnVersion must be set together")
      }
    txn.foreach { _ => require(mode == SaveMode.Append,
      "txnAppId/txnVersion idempotence applies to append writes " +
        s"(got mode $mode)") }

    // COPY INTO's source-file ledger entries (path -> fingerprint),
    // committed in the SAME atomic sidecar swap as the appended data
    // — a crash leaves either nothing or the batch WITH its ledger,
    // so a re-run can never double-load a file. Internal option set
    // by graft.operators.CopyInto; NUL/SOH-separated (control chars
    // cannot appear in paths).
    val copyEntries: Option[Map[String, String]] =
      parameters.get("copyIntoFiles").map(_.split('\u0000')
        .filter(_.nonEmpty).map { e =>
          val i = e.indexOf('\u0001')
          e.substring(0, i) -> e.substring(i + 1)
        }.toMap)
    val copyForce =
      parameters.get("copyIntoForce").exists(_.equalsIgnoreCase("true"))
    copyEntries.foreach { _ => require(mode == SaveMode.Append,
      s"COPY INTO appends (got mode $mode)") }
    def replayed(m: Sidecar.Meta): Boolean = txn.exists { case (app, v) =>
      m.txnVersions.get(app).exists(_ >= v) }
    // The extras an append commits over generation `m`: None when m
    // already records the txn version (a racing replay won); a COPY
    // INTO file already in m's ledger would double-load, so that
    // aborts (FORCE re-loads are duplicate-by-intent).
    def ledgers(m: Sidecar.Meta): Option[Map[String, Any]] =
      if (replayed(m)) None
      else Some(m.extras ++ txn.map { case (app, v) =>
        "txn" -> (m.txnVersions + (app -> v)) } ++
        copyEntries.map { entries =>
          val clash = entries.keySet.intersect(m.copyLedger.keySet)
          if (clash.nonEmpty && !copyForce)
            throw new IllegalStateException(
              s"COPY INTO $path: ${clash.size} source file(s) were " +
                s"loaded by a concurrent COPY INTO (first: " +
                s"${clash.head}); this batch aborts without registering " +
                "its rows. Re-run to load the remaining files.")
          "copyInto" -> (m.copyLedger ++ entries)
        })

    // An append onto an existing sidecar dataset validates against —
    // and then merges into — that sidecar, instead of re-deriving
    // metadata over the whole table.
    val appendTo: Option[(Sidecar.Meta, (Long, Long))] =
      if (mode == SaveMode.Append && Sidecar.exists(spark, path)) {
        // option("mergeSchema", "true") — Delta-style append
        // evolution: incoming columns the target lacks are added
        // first (nullable, a metadata-only commit; existing files
        // serve them as null), so a widening pipeline appends without
        // a manual ALTER. Type CONFLICTS on existing columns still
        // refuse below — evolution adds, it never rewrites.
        if (parameters.get("mergeSchema").exists(
            _.equalsIgnoreCase("true"))) {
          val m0 = Sidecar.load(spark, path)
          val fresh = data.schema.fields.filterNot(f =>
            m0.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          if (fresh.nonEmpty)
            graft.operators.Maintenance.addColumns(
              spark, path, fresh.toIndexedSeq: _*)
        }
        // Fingerprint the sidecar just BEFORE loading it: the install
        // compares against it, so a commit landing during the (long)
        // write window is rebased over or aborts the append instead
        // of being overwritten from this stale base.
        val fp = graft.operators.Maintenance.metaFingerprint(spark, p)
        val m = Sidecar.load(spark, path)
        // The target's (possibly evolved) sidecar schema stays
        // authoritative, as in PDataset.prepareWriteTarget: unknown
        // columns would be silently hidden by the sidecar (reading as
        // dropped data) and type conflicts would fail or corrupt reads
        // later — reject both up front.
        require(m.indexColumns == index,
          s"cannot append with index columns ${index.mkString(",")} to " +
            s"a dataset indexed on ${m.indexColumns.mkString(",")}")
        data.schema.fields.foreach { f =>
          m.schema.fields.find(_.name == f.name) match {
            case None => throw new IllegalArgumentException(
              s"appended column ${f.name} does not exist in the target " +
                "dataset; run Maintenance.addColumns first")
            case Some(tf) if !org.apache.spark.sql.GraftBridge
                .sameTypeIgnoreNullability(tf.dataType, f.dataType) =>
              throw new IllegalArgumentException(
                s"appended column ${f.name}: ${f.dataType.simpleString} " +
                  s"conflicts with the target's ${tf.dataType.simpleString}")
            case _ => ()
          }
        }
        Some((m, fp))
      } else None

    // Replayed transactional batch: nothing to do, nothing written.
    if (appendTo.exists { case (m, _) => replayed(m) })
      return createRelation(sqlContext, Map("path" -> path))

    // option("dropConstraint", "name1,name2") — the DROP CONSTRAINT
    // analogue; idempotent like Constraints.drop. Applied BEFORE the
    // write-path enforcement (dropping the guard and writing data it
    // would have tripped is one write) and before this write's
    // declarations (drop + re-declare with a new expression works in
    // one write).
    parameters.get("dropConstraint").foreach { names =>
      names.split(",").map(_.trim).filter(_.nonEmpty)
        .foreach(graft.operators.Constraints.drop(spark, path, _))
    }
    // CHECK constraints recorded on the target guard the rows being
    // written — one aggregate pass over the incoming delta. An
    // Overwrite replaces the data but KEEPS the table's constraints
    // (the Delta contract), so they are captured before the write
    // deletes the directory and re-saved after.
    val constraints = graft.operators.Constraints.list(spark, path)
    if (constraints.nonEmpty)
      graft.operators.Constraints.enforce(spark, path, data,
        s"write (${mode.toString.toLowerCase})")

    val keys = index.map(col)
    val shaped = parameters.get("files").map(_.toInt) match {
      case Some(n) => data.repartitionByRange(n, keys: _*)
      case None => data.repartitionByRange(keys: _*)
    }
    def dataFileNames(d: HPath): IndexedSeq[String] =
      GraftFs.listStatuses(fs, d).filter(_.isFile)
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith("."))
        .sorted

    appendTo match {
      case Some((m0, fp0)) =>
        // Appended files carry the target's PHYSICAL column names
        // (metadata-only renames map logical back to on-disk names).
        val stage = GraftFs.mkStageDir(fs,
          Option(p.getParent).getOrElse(p), ".graft-scatter-", p.getName)
        val placed =
          try {
            m0.toPhysical(shaped.sortWithinPartitions(keys: _*))
              .write.mode(SaveMode.Overwrite).parquet(stage.toString)
            val staged = dataFileNames(stage)
            ScatterWrite.place(spark, fs,
              staged.indices.map(j => j -> Seq(new HPath(stage, staged(j)))),
              p, j => Sidecar.partitionFileName(m0.maxPartitionIndex + 1 + j))
          } finally GraftFs.deleteRecursive(fs, stage)
        def pathOf(n: String): String = new HPath(p, n).toString
        val byFile = Stats.forFiles(spark, placed.map(w => pathOf(w._2)),
          index.map(m0.physicalName), Some(m0.physicalSchema))
        // an empty write still leaves a file, with no bounds to register
        val (kept, empty) = placed.map(_._2)
          .partition(n => byFile.contains(Stats.normalizePath(pathOf(n))))
        empty.foreach(n => fs.delete(new HPath(p, n), false))
        val added = kept.map { n =>
          val st = byFile(Stats.normalizePath(pathOf(n)))
          (n, st.size, st.lb, st.ub)
        }
        graft.operators.Maintenance.installCommit(spark, path, fs, p,
          m0, fp0, Map.empty, placed.length, retain = false, "append",
          Set.empty, added = added, extrasOver = ledgers)
        // The install extends existing Bloom / column-stats sidecars;
        // a first-time option on append builds one.
        if (bloomCols.nonEmpty && !BloomIndex.exists(spark, path))
          BloomIndex.build(spark, path, bloomCols)
        if (statsCols.nonEmpty && !graft.core.ColumnStats.exists(spark, path))
          graft.core.ColumnStats.build(spark, path, statsCols)
      case None =>
        require(copyEntries.isEmpty,
          s"COPY INTO requires an existing graft table at $path " +
            "(CREATE it first — the ledger must ride the table's " +
            "sidecar commits)")
        val seedExtras: Map[String, Any] = txn.map { case (app, v) =>
          "txn" -> (Map(app -> v): Any)
        }.toMap
        val targetIsBareData = GraftFs.isDir(fs, p) &&
          dataFileNames(p).nonEmpty
        if (txn.isDefined && !targetIsBareData) {
          // First transactional write onto a fresh target: stage the
          // WHOLE commit (data files + sidecar + ledger) in a sibling
          // directory, then ONE rename installs it — a crash at any
          // point leaves either no table or the complete batch, so a
          // replayed batch 0 can never re-append already-committed
          // files or find data without its ledger entry.
          val parent = Option(p.getParent).getOrElse(p)
          GraftFs.mkdirs(fs, parent)
          val stage = GraftFs.mkStageDir(fs, parent, ".graft-txn-seed-",
            p.getName)
          val stagedOut = new HPath(stage, "out")
          try {
            shaped.sortWithinPartitions(keys: _*)
              .write.mode(mode).parquet(stagedOut.toString)
            PDataset.writeMetadata(spark, stagedOut.toString, index,
              extras = seedExtras)
            // an existing directory would SWALLOW the rename (Hadoop
            // moves src INSIDE an existing dst dir and returns true):
            // empty debris is removed; non-empty non-table content
            // (e.g. a crashed job's _temporary dir) refuses loudly —
            // installing next to it could not be atomic
            if (GraftFs.isDir(fs, p)) {
              if (GraftFs.listStatuses(fs, p).isEmpty) fs.delete(p, true)
              else if (!Sidecar.exists(spark, path))
                throw new IllegalStateException(
                  s"cannot install the first transactional batch at " +
                    s"$path: the directory exists with non-table " +
                    "content — clean it (or writeMetadata to adopt " +
                    "bare parquet files) and retry")
            }
            val renamed = fs.rename(stagedOut, p)
            // the rename can ALSO "succeed" by nesting into a table a
            // concurrent writer installed first — verify, and settle
            // races through the winner's ledger
            val nested = new HPath(p, stagedOut.getName)
            if (renamed && GraftFs.isDir(fs, nested) &&
                Sidecar.exists(spark, nested.toString)) {
              GraftFs.deleteRecursive(fs, nested)
            }
            if (!renamed || !Sidecar.exists(spark, path) ||
                !Sidecar.load(spark, path).txnVersions.get(txn.get._1)
                  .exists(_ >= txn.get._2)) {
              val winner =
                if (Sidecar.exists(spark, path))
                  Some(Sidecar.load(spark, path))
                else None
              if (!winner.exists(_.txnVersions.get(txn.get._1)
                  .exists(_ >= txn.get._2)))
                throw new java.util.ConcurrentModificationException(
                  s"first transactional write to $path lost the " +
                    "install race to a conflicting writer")
            }
          } finally GraftFs.deleteRecursive(fs, stage)
        } else {
          // Non-transactional first write, or adopting a bare parquet
          // directory (pre-existing files become table data): write in
          // place; the ledger (if any) still seeds INSIDE the single
          // sidecar commit rather than a second swap.
          shaped.sortWithinPartitions(keys: _*)
            .write.mode(mode).parquet(path)
          PDataset.writeMetadata(spark, path, index, extras = seedExtras)
        }
        // option("bloom", "c1,c2"): per-file point-lookup filters for
        // non-index columns, built right after the sidecar (one job).
        if (bloomCols.nonEmpty)
          BloomIndex.build(spark, path, bloomCols)
        if (statsCols.nonEmpty)
          graft.core.ColumnStats.build(spark, path, statsCols)
    }
    if (constraints.nonEmpty &&
        graft.operators.Constraints.list(spark, path).isEmpty)
      graft.operators.Constraints.install(spark, path, constraints)
    // SQL DDL surface for CHECK constraints: one write option per
    // constraint, option("constraint.<name>", "<boolean sql expr>")
    // — the ALTER TABLE ADD CONSTRAINT analogue for plain-SQL
    // pipelines. Declarations apply AFTER the write lands, so each
    // add() validates the complete resulting table (including this
    // write's rows) in one counting scan; a violated declaration
    // refuses loudly and is NOT recorded. Re-declaring an existing
    // constraint verbatim is an idempotent no-op (pipelines repeat
    // their write options every run); declaring a recorded name with
    // a DIFFERENT expression is rejected. Constraints recorded by an
    // EARLIER write guard this write's delta up front through the
    // usual enforce pass — nothing lands when the delta violates.
    val declared = parameters.toSeq.collect {
      case (k, v) if k.toLowerCase.startsWith("constraint.") &&
          k.length > "constraint.".length =>
        k.substring("constraint.".length) -> v
    }.sortBy(_._1)
    if (declared.nonEmpty) {
      val recorded = graft.operators.Constraints.list(spark, path)
      declared.foreach { case (n, e) =>
        recorded.get(n) match {
          case Some(cur) if cur == e => () // idempotent re-declare
          case Some(cur) => throw new IllegalArgumentException(
            s"constraint $n is already recorded as '$cur'; drop it " +
              s"before re-declaring it as '$e'")
          case None => graft.operators.Constraints.add(spark, path, n, e)
        }
      }
    }
    // option("autoCompact", "<targetRows>"): bin-pack sub-target files
    // right after the write lands — the knob a continuously-appending
    // pipeline (and the streaming sink per micro-batch) uses to keep
    // file counts healthy instead of dribbling toward the sidecar
    // ceiling. compact() plans from driver metadata and no-ops when
    // nothing merges, so the steady-state cost is one metadata read;
    // skipped while deletion vectors pend (compact refuses then).
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("autoCompact") => v
    }.foreach { t =>
      if (!graft.operators.DeletionVectors.exists(spark, path))
        graft.operators.Maintenance.compact(spark, path, t.toLong)
    }
    createRelation(sqlContext, parameters)
  }
}

/** The V1 streaming sink behind `writeStream.format("graft")`:
  * each micro-batch goes through the batch sink's transactional
  * append (`txnAppId` = this query's id, `txnVersion` = the batch
  * id), so the ledger check-and-commit rides the same atomic sidecar
  * swap that registers the files — a replayed batch after a crash
  * changes nothing. Write options (`bloom`, `stats`,
  * `constraint.<n>`, `files`) pass through to every batch; `index`
  * is required only when the first batch must CREATE the target
  * (an existing target's sidecar is authoritative). */
final class GraftStreamSink(
    path: String,
    parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(
      batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.GraftBridge.asBatchDataFrame(data)
    // the engine stamps the stream thread with the query id; fall
    // back to the checkpoint location (also query-stable) off-thread
    val appId = Option(spark.sparkContext
      .getLocalProperty("sql.streaming.queryId"))
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(path)
    val index = parameters.get("index").orElse {
      if (Sidecar.exists(spark, path))
        Some(Sidecar.load(spark, path).indexColumns.mkString(","))
      else None
    }.getOrElse(throw new IllegalArgumentException(
      s"the graft streaming sink needs clustering columns to CREATE " +
        s"$path: pass option(\"index\", \"c1,c2\") (an existing " +
        "target's sidecar supplies them)"))
    val passThrough = parameters.filter { case (k, _) =>
      val lk = k.toLowerCase
      lk == "bloom" || lk == "stats" || lk == "files" ||
        lk == "autocompact" || lk.startsWith("constraint.")
    }
    val w = batch.write.format("graft").mode(SaveMode.Append)
      .option("index", index)
      .option("txnAppId", s"graft-stream-$appId")
      .option("txnVersion", batchId.toString)
    passThrough.foreach { case (k, v) => w.option(k, v) }
    w.save(path)
  }

  override def toString: String = s"GraftStreamSink[$path]"
}

object GraftSource {
  /** Epoch millis, or an ISO-8601 instant / local datetime / date
    * (local forms read as UTC). Anything else names the accepted
    * forms instead of escaping as a bare parse exception. Shared by
    * the source's time-travel options and the statement-level SQL
    * (`RESTORE ... TO TIMESTAMP AS OF`, `VACUUM ... OLDER THAN`). */
  private[graft] def parseTs(t: String): Long =
    t.toLongOption.getOrElse {
      try java.time.Instant.parse(t).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(t)
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              try java.time.LocalDate.parse(t).atStartOfDay()
                .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              catch {
                case _: java.time.format.DateTimeParseException =>
                  throw new IllegalArgumentException(
                    s"cannot parse timestamp value '$t'; accepted " +
                      "forms: epoch millis (1723500000000), ISO-8601 " +
                      "instant (2026-08-13T00:00:00Z), ISO local " +
                      "datetime read as UTC (2026-08-13T00:00:00), or " +
                      "ISO date read as UTC midnight (2026-08-13)")
              }
          }
      }
    }

  /** Strict translation (both sides of And/Or, full Not operand, or
    * nothing) keeps every emitted Column row-equivalent to its source
    * Filter — required because a Not over a weakened conjunct would
    * DROP rows the filter keeps. Nested-field names (dotted) and
    * unknown filter shapes translate to None; Spark re-applies the
    * originals above the scan either way. */
  private[sources] def translateFilter(f: Filter): Option[Column] = {
    def top(a: String): Option[Column] =
      if (a.contains(".")) None else Some(col(a))
    def l(v: Any): Option[Column] =
      scala.util.Try(lit(v)).toOption
    f match {
      case EqualTo(a, v) => for { c <- top(a); w <- l(v) } yield c === w
      case EqualNullSafe(a, v) => for { c <- top(a); w <- l(v) } yield c <=> w
      case GreaterThan(a, v) => for { c <- top(a); w <- l(v) } yield c > w
      case GreaterThanOrEqual(a, v) =>
        for { c <- top(a); w <- l(v) } yield c >= w
      case LessThan(a, v) => for { c <- top(a); w <- l(v) } yield c < w
      case LessThanOrEqual(a, v) =>
        for { c <- top(a); w <- l(v) } yield c <= w
      case In(a, vs) => for {
        c <- top(a)
        ws <- scala.util.Try(vs.toIndexedSeq.map(lit)).toOption
      } yield c.isin(ws: _*)
      case IsNull(a) => top(a).map(_.isNull)
      case IsNotNull(a) => top(a).map(_.isNotNull)
      case StringStartsWith(a, v) => top(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => top(a).map(_.endsWith(v))
      case StringContains(a, v) => top(a).map(_.contains(v))
      case And(x, y) => for {
        a <- translateFilter(x); b <- translateFilter(y)
      } yield a && b
      case Or(x, y) => for {
        a <- translateFilter(x); b <- translateFilter(y)
      } yield a || b
      case Not(x) => translateFilter(x).map(not)
      case _ => None
    }
  }
}
