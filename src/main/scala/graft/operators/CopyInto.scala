package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.{GraftFs, Sidecar}

/** `COPY INTO` — idempotent incremental file ingestion (the Delta
  * ingest surface): load raw parquet/ORC/JSON/CSV files — or
  * WebDataset tar shards (FILEFORMAT = TAR: member stems onto the
  * index column, member bytes onto the text column; multi-member
  * samples onto a wide table via
  * FORMAT_OPTIONS('members'='txt:text,json:meta')), or WARC/WET
  * archives (FILEFORMAT = WARC: target URIs onto the index column,
  * record bodies onto the text column — the CommonCrawl landing
  * story, plain or gzip) — from a landing directory into a graft
  * table, EXACTLY ONCE per source file.
  *
  * A per-table ledger in the sidecar extras (source path →
  * `size:mtime` fingerprint, [[Sidecar.Meta.copyLedger]]) records
  * every file ever loaded; re-running the same statement loads only
  * files the ledger doesn't hold, so a scheduled `COPY INTO` over a
  * growing landing zone ingests each drop exactly once — the 100 TB
  * pattern where reprocessing even one day of raw files is hours of
  * wasted cluster time. The ledger update rides the SAME atomic
  * sidecar swap that registers the appended data
  * ([[graft.sources.GraftSource]]): a crash leaves either nothing or
  * the batch WITH its ledger entries — never data without the ledger
  * (double-load on retry) or the ledger without data (silent loss).
  *
  * Loud boundaries:
  *   - a ledger-recorded file whose size/mtime CHANGED refuses
  *     (the already-loaded rows are stale; `force = true` re-loads
  *     everything, duplicates by intent);
  *   - source columns must match the table's columns by name
  *     (case-insensitive, any order); values cast to the table's
  *     types — a missing or extra column refuses;
  *   - a concurrent `COPY INTO` that loaded any of this batch's files
  *     first aborts the install (see the sink's conflict check);
  *   - the ledger shares the sidecar's enforced 5×10⁵-entry ceiling.
  *
  * SQL: `COPY INTO graft.`/t` FROM '/landing' FILEFORMAT = PARQUET
  * [PATTERN = '*.parquet'] [FORMAT_OPTIONS('header'='true')] [FORCE]`
  * (see [[graft.plans.GraftSqlParser]]).
  */
object CopyInto {

  /** Per-statement outcome: every listed source file is either
    * skipped (already in the ledger) or loaded this run. */
  final case class Report(
      filesListed: Int, filesSkipped: Int, filesLoaded: Int,
      rowsLoaded: Long)

  private val Formats =
    Set("parquet", "orc", "json", "csv", "tar", "warc", "jsonl")

  /** The sidecar's enforced file ceiling, shared by the ledger: past
    * it, per-statement driver work stops being O(new files). */
  private val LedgerCeiling = 500000

  def copyInto(
      spark: SparkSession,
      dir: String,
      source: String,
      format: String,
      pattern: String = "*",
      formatOptions: Map[String, String] = Map.empty,
      force: Boolean = false): Report = {
    val fmt = format.toLowerCase
    require(Formats.contains(fmt),
      s"COPY INTO supports FILEFORMAT ${Formats.mkString(", ")}; " +
        s"got '$format'")
    val m = Sidecar.load(spark, dir) // refuses on a non-table target

    // One glob against the SOURCE filesystem lists the landing zone;
    // `_`/`.`-prefixed entries (Hadoop metadata, in-flight uploads by
    // convention) are never candidates.
    val (srcFs, srcPath) = GraftFs.resolve(spark, source)
    val listed = Option(srcFs.globStatus(new HPath(srcPath, pattern)))
      .getOrElse(Array.empty)
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(st => st.getPath.toString ->
        s"${st.getLen}:${st.getModificationTime}")
      .toIndexedSeq.sortBy(_._1)

    val ledger = m.copyLedger
    val changed = listed.filter { case (p, fp) =>
      ledger.get(p).exists(_ != fp)
    }
    if (changed.nonEmpty && !force)
      throw new IllegalStateException(
        s"COPY INTO $dir: ${changed.length} already-loaded source " +
          s"file(s) changed since they were ingested (first: " +
          s"${changed.head._1}) — the loaded rows are stale, and " +
          "re-loading would duplicate the unchanged ones. Land new " +
          "data as NEW files; COPY INTO ... FORCE re-loads every " +
          "listed file (duplicates by intent).")
    val fresh =
      if (force) listed else listed.filterNot(e => ledger.contains(e._1))
    require(ledger.size + fresh.length <= LedgerCeiling,
      s"COPY INTO $dir: the source-file ledger would grow to " +
        s"${ledger.size + fresh.length} entries (ceiling " +
        s"$LedgerCeiling, the sidecar's file-count discipline) — " +
        "compact the landing zone or start a new table epoch")
    if (fresh.isEmpty)
      return Report(listed.length, listed.length, 0, 0L)

    // Read ONLY the fresh files. Self-describing formats read
    // natively; text formats take the table's logical schema (COPY
    // INTO never infers — inference over a huge landing zone is a
    // full extra pass, and drifting inferred types would poison the
    // table).
    val reader = spark.read.options(formatOptions)
    val raw = fmt match {
      case "parquet" | "orc" =>
        reader.format(fmt).load(fresh.map(_._1): _*)
      case "tar" =>
        // WebDataset ingestion: each member's STEM (name minus the
        // final extension) becomes the table's single index column.
        // Single-member samples map member bytes (UTF-8) onto the
        // text column — FORMAT_OPTIONS('text'='<col>') overrides the
        // default of "the one non-index column". MULTI-member samples
        // (the inverse of Export.writeTarShards' cols map) reassemble
        // by stem via FORMAT_OPTIONS('members'='txt:text,json:meta'):
        // one shuffle keyed on the stem (O(batch)), raw bytes per
        // member so BINARY table columns roundtrip and string columns
        // decode through the cast below. Each shard streams through
        // one sequential FS read, member-at-a-time.
        require(m.indexColumns.length == 1,
          "COPY INTO ... FILEFORMAT = TAR maps member names onto ONE " +
            s"index column; $dir is clustered on " +
            s"(${m.indexColumns.mkString(",")})")
        val idName = m.indexColumns.head
        val res = spark.sessionState.conf.resolver
        import spark.implicits._
        formatOptions.get("members") match {
          case Some(spec) =>
            val pairs = spec.split(",").toSeq.map(_.trim).map { e =>
              val i = e.indexOf(':')
              require(i > 0 && i < e.length - 1,
                s"FORMAT_OPTIONS('members') entries are '<ext>:<col>'," +
                  s" got '$e'")
              (e.take(i).trim, e.drop(i + 1).trim)
            }
            require(pairs.map(_._1).distinct.length == pairs.length,
              s"duplicate extensions in FORMAT_OPTIONS('members'): $spec")
            pairs.foreach { case (_, c) =>
              require(m.schema.fieldNames.exists(res(_, c)),
                s"FORMAT_OPTIONS('members') names column `$c` which " +
                  s"$dir does not have")
              require(!res(c, idName),
                s"FORMAT_OPTIONS('members') cannot target the index " +
                  s"column `$idName` (stems fill it)")
            }
            val members = Export.tarMembers(spark, fresh.map(_._1))
              .map { case (_, n, d) =>
                val dot = n.lastIndexOf('.')
                if (dot < 0) (n, "", d) else (n.take(dot), n.drop(dot + 1), d)
              }
              .toDF("__stem", "__ext", "__val")
              // Only mapped extensions participate: a stem whose only
              // members are unmapped (stray sidecars, extensionless
              // READMEs) must not become a spurious all-NULL row
              .filter(col("__ext").isin(pairs.map(_._1): _*))
            members.groupBy(col("__stem"))
              .agg(
                org.apache.spark.sql.functions.first(
                  org.apache.spark.sql.functions.when(
                    col("__ext") === pairs.head._1, col("__val")),
                  ignoreNulls = true).as(pairs.head._2),
                pairs.tail.map { case (ext, c) =>
                  org.apache.spark.sql.functions.first(
                    org.apache.spark.sql.functions.when(
                      col("__ext") === ext, col("__val")),
                    ignoreNulls = true).as(c)
                }: _*)
              .withColumnRenamed("__stem", idName)
          case None =>
            val textName = formatOptions.getOrElse("text", {
              val rest = m.schema.fieldNames.filterNot(res(_, idName))
              require(rest.length == 1,
                s"COPY INTO ... FILEFORMAT = TAR needs the text " +
                  s"column named explicitly " +
                  s"(FORMAT_OPTIONS('text'='<col>') or " +
                  s"FORMAT_OPTIONS('members'='<ext>:<col>,...')) " +
                  s"when the table has more than two columns; " +
                  s"candidates: ${rest.mkString(", ")}")
              rest.head
            })
            // streamed member-at-a-time (Export.tarMembers): per-task
            // memory is one member, not one shard, no 2 GB file cap
            Export.tarMembers(spark, fresh.map(_._1))
              .map { case (_, n, d) =>
                (n.replaceAll("\\.[^.]*$", ""), new String(d, "UTF-8"))
              }
              .toDF(idName, textName)
        }
      case "warc" =>
        // CommonCrawl landing: WARC/WET records stream one-at-a-time
        // per archive (plain or gzip — Warc.warcRecords), the
        // WARC-Target-URI onto the single index column, the record
        // body (UTF-8) onto the text column. Records without a
        // target URI (warcinfo) skip; FORMAT_OPTIONS('types'=
        // 'conversion') restricts the WARC-Type set (default: every
        // record that has a URI).
        require(m.indexColumns.length == 1,
          "COPY INTO ... FILEFORMAT = WARC maps WARC-Target-URI onto " +
            s"ONE index column; $dir is clustered on " +
            s"(${m.indexColumns.mkString(",")})")
        val idName = m.indexColumns.head
        val res = spark.sessionState.conf.resolver
        val textName = formatOptions.getOrElse("text", {
          val rest = m.schema.fieldNames.filterNot(res(_, idName))
          require(rest.length == 1,
            s"COPY INTO ... FILEFORMAT = WARC needs the text column " +
              "named explicitly (FORMAT_OPTIONS('text'='<col>')) when " +
              "the table has more than two columns; candidates: " +
              rest.mkString(", "))
          rest.head
        })
        val types = formatOptions.get("types")
          .map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
        import spark.implicits._
        Warc.warcRecords(spark, fresh.map(_._1))
          .filter(r => r._3.nonEmpty &&
            types.forall(_.contains(r._2.toLowerCase)))
          .map(r => (r._3, new String(r._4,
            java.nio.charset.StandardCharsets.UTF_8)))
          .toDF(idName, textName)
      case "jsonl" =>
        // JSONL landing (how C4/Dolma/RedPajama-style dumps ship: one
        // JSON object per line, usually `*.jsonl.gz` — gzip inflates
        // transparently via the Hadoop codec on the text read).
        // Unlike FILEFORMAT = JSON (Spark's reader: malformed lines
        // and absent fields silently null), JSONL refuses LOUDLY on a
        // malformed line and on a mapped field that is ABSENT from a
        // line — absence is schema drift in the landing zone, while
        // an explicit JSON null is a value and loads as NULL.
        // FORMAT_OPTIONS('fields'='<jsonfield>:<tablecol>,...') maps
        // landing field names onto table columns (and projects: lines
        // may carry extra fields); default is every table column by
        // its own name. The refusals ride INSIDE the output columns
        // so pruning can never elide them.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{StructField, StructType}
        val res = spark.sessionState.conf.resolver
        val pairs: Seq[(String, StructField)] =
          formatOptions.get("fields") match {
            case Some(spec) =>
              val ps = spec.split(",").toSeq.map(_.trim).map { e =>
                val i = e.indexOf(':')
                require(i > 0 && i < e.length - 1,
                  "FORMAT_OPTIONS('fields') entries are " +
                    s"'<jsonfield>:<tablecol>', got '$e'")
                (e.take(i).trim, e.drop(i + 1).trim)
              }
              require(ps.map(_._1).distinct.length == ps.length,
                s"duplicate JSON fields in FORMAT_OPTIONS('fields'): $spec")
              require(ps.map(_._2.toLowerCase).distinct.length == ps.length,
                s"duplicate table columns in FORMAT_OPTIONS('fields'): $spec")
              ps.map { case (jf, tc) =>
                val f = m.schema.fields.find(x => res(x.name, tc))
                  .getOrElse(throw new IllegalArgumentException(
                    s"FORMAT_OPTIONS('fields') names column `$tc` " +
                      s"which $dir does not have"))
                (jf, f)
              }
            case None => m.schema.fields.toIndexedSeq.map(f => (f.name, f))
          }
        val jschema = StructType(
          pairs.map { case (jf, f) => StructField(jf, f.dataType) })
        spark.read.textFile(fresh.map(_._1): _*)
          .toDF("__line")
          .withColumn("__file", input_file_name())
          .filter(length(trim(col("__line"))) > 0) // blank lines skip
          .withColumn("__keys", json_object_keys(col("__line")))
          .withColumn("__j", from_json(col("__line"), jschema))
          .select(pairs.map { case (jf, f) =>
            // __keys/__j NULL = the line is not a JSON object at all
            when(col("__keys").isNull || col("__j").isNull,
              raise_error(concat(
                lit("COPY INTO JSONL: malformed JSON line in "),
                col("__file"), lit(": "),
                substring(col("__line"), 1, 80))))
              .when(!array_contains(col("__keys"), lit(jf)),
                raise_error(concat(
                  lit(s"COPY INTO JSONL: field '$jf' missing in "),
                  col("__file"), lit(" line: "),
                  substring(col("__line"), 1, 80))))
              .otherwise(col("__j").getField(jf)).as(f.name)
          }: _*)
      case _ =>
        reader.schema(m.schema).format(fmt).load(fresh.map(_._1): _*)
    }

    // Columns match by NAME, any order, missing/extra refuse; values
    // cast to the table's declared types (same dialect as the V2
    // catalog's insert splice).
    val resolver = spark.sessionState.conf.resolver
    val missing = m.schema.fields.filterNot(tf =>
      raw.schema.fieldNames.exists(resolver(_, tf.name)))
    val extra = raw.schema.fieldNames.filterNot(n =>
      m.schema.fields.exists(tf => resolver(tf.name, n)))
    require(missing.isEmpty && extra.isEmpty,
      s"COPY INTO $dir: source columns must match the table's " +
        s"columns by name; missing ${missing.map(_.name).toSeq}, " +
        s"extra ${extra.toSeq}")
    val aligned = raw.select(m.schema.fields.toIndexedSeq.map { tf =>
      val src = raw.schema.fieldNames.find(resolver(_, tf.name)).get
      col(s"`$src`").cast(tf.dataType).as(tf.name)
    }: _*)

    // One sink append: clustered on the table's index, O(delta)
    // stats, ledger entries in the same commit.
    val entries = fresh.map { case (p, fp) => p + "\u0001" + fp }
      .mkString("\u0000")
    aligned.write.format("graft").mode("append")
      .option("index", m.indexColumns.mkString(","))
      .option("copyIntoFiles", entries)
      .option("copyIntoForce", force.toString)
      .save(dir)

    // Rows loaded = the sidecar's row-count delta across the append.
    // The append registers only this batch's files, so this is exact
    // unless another writer committed between the two loads; its
    // rows are then counted here too.
    val after = Sidecar.load(spark, dir)
    val rows = after.sizes.sum - m.sizes.sum
    Report(listed.length, listed.length - fresh.length,
      fresh.length, rows)
  }
}
