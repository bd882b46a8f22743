package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.types._

import Lex.Bound

/** Sidecar metadata I/O for persisted datasets.
  *
  * A persisted dataset directory holds one `part##########.parquet` file
  * per non-empty partition plus two sidecars (format per the reference
  * engine, padawan `metadata.py:6-8`, `dataset.py:394-429`):
  *   - `_padawan_metadata.json`: index_columns, files, sizes,
  *     lower_bounds, upper_bounds, max_partition_index (typed JSON).
  *   - `_padawan_schema`: a zero-row parquet file carrying the schema.
  *
  * The driver reads these before launching any Spark job, enabling
  * file-level partition pruning on top of Spark's own parquet
  * rowgroup-statistics skipping.
  *
  * All paths route through Hadoop's `FileSystem` (see [[GraftFs]]), so a
  * dataset directory may live on local disk, HDFS, or an object store.
  */
object Sidecar {

  val PartitionNumberDigits = 10
  val MetadataFile = "_padawan_metadata.json"
  val SchemaFile = "_padawan_schema"

  /** Measured driver-cost ceiling of the single-document sidecar
    * design (see README "Sidecar scale ceiling" and
    * [[graft.examples.SidecarScaleBench]]): up to a few ×10^5 file
    * entries every per-commit / per-open cost stays ~1 s; at 10^6 the
    * first open reaches tens of seconds. Rather than silently decay,
    * tables past the ceiling refuse LOUDLY at write and open with a
    * `compact()` pointer — a 100 TB table at the ~1 GB files
    * `compact`/`compactBytes` maintain is ~10^5 entries, well inside.
    * `spark.graft.maxSidecarFiles` raises (or lowers) the ceiling.
    * The boundary is FINAL by design (no sharded-sidecar fallback):
    * single-document commits are what make every maintenance op's
    * metadata swap atomic, and the >5×10^5-entry regime is served by
    * splitting tables or compacting — see README "Sidecar scale
    * ceiling" for the full argument. */
  val MaxSidecarFilesConf = "spark.graft.maxSidecarFiles"
  val MaxSidecarFilesDefault = 500000

  private def maxFiles(spark: SparkSession): Int =
    spark.conf.get(MaxSidecarFilesConf, MaxSidecarFilesDefault.toString)
      .toInt

  private def guardCeiling(
      spark: SparkSession, dir: String, n: Int, verb: String): Unit = {
    val mx = maxFiles(spark)
    require(n <= mx,
      s"refusing to $verb the dataset at $dir with $n partition files: " +
        s"past ~$mx entries the single-document sidecar costs tens of " +
        "seconds per open (measured — see README 'Sidecar scale " +
        "ceiling'). Run Maintenance.compact/compactBytes to restore a " +
        "~1 GB-file layout (a 100 TB table is then ~1e5 entries), or " +
        s"raise $MaxSidecarFilesConf to accept the cost.")
  }

  def partitionFileName(i: Long): String =
    s"part%0${PartitionNumberDigits}d.parquet".format(i)

  def metadataPath(dir: String): Path = new Path(dir, MetadataFile)

  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, _) = GraftFs.resolve(spark, dir)
    GraftFs.isFile(fs, metadataPath(dir)) &&
      GraftFs.isFile(fs, new Path(dir, SchemaFile))
  }

  // ---- load ----

  def load(spark: SparkSession, dir: String): Meta =
    loadFile(spark, dir, metadataPath(dir))

  /** Load a specific metadata file of the dataset at `dir` — the
    * current sidecar or an archived generation (time travel; see
    * [[graft.operators.Maintenance]]). The schema sidecar is SHARED
    * across generations and always reflects the LATEST schema:
    * metadata-only evolution (add/drop columns) applies retroactively
    * to archived generations too — old files null-fill added columns
    * and hide dropped ones, the same as in the current generation. */
  def loadFile(spark: SparkSession, dir: String, metaFile: Path): Meta = {
    val (fs, _) = GraftFs.resolve(spark, dir)
    // An ARCHIVED document speaks the logical names of ITS time; the
    // shared schema sidecar speaks the CURRENT ones. Hand the parse
    // the current rename mapping so it can translate the archived
    // names through their stable PHYSICAL identity — time travel and
    // the change feed then cross RENAME COLUMN instead of refusing
    // (Delta's column mapping behaves the same way).
    val curRenames: Map[String, String] =
      try {
        val cur = TypedJson.parse(GraftFs.readString(fs,
          metadataPath(dir))).asInstanceOf[Map[String, Any]]
        cur.get("columnRenames")
          .map(_.asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> v.toString })
          .getOrElse(Map.empty)
      } catch { case _: java.io.IOException => Map.empty }
    parseMeta(spark, dir, GraftFs.readString(fs, metaFile),
      Some(curRenames))
  }

  /** Parse a metadata document already read from disk — callers that
    * need the Meta AND the exact bytes it came from (content-hash
    * snapshots) read once and parse here, leaving no window for a
    * concurrent swap between read and parse. */
  def parseMeta(
      spark: SparkSession, dir: String, text: String,
      currentRenames: Option[Map[String, String]] = None): Meta = {
    val (fs, _) = GraftFs.resolve(spark, dir)
    val obj0 = TypedJson.parse(text).asInstanceOf[Map[String, Any]]
    val schema = readSchemaFile(spark, fs, new Path(dir, SchemaFile))

    // Archived-document name translation (currentRenames = Some):
    // the doc's logical names map to their stable physical names via
    // the doc's OWN rename mapping, and back to current logical via
    // the CURRENT one — so an archived generation reads under
    // today's names, consistent with the retroactive add/drop
    // semantics above. The current document parses unchanged (its
    // names ARE current).
    val obj = currentRenames match {
      case None => obj0
      case Some(cur) =>
        val docRenames = obj0.get("columnRenames")
          .map(_.asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> v.toString })
          .getOrElse(Map.empty[String, String])
        val physToCur = cur.map(_.swap)
        def toCurrent(c: String): String = {
          val phys = docRenames.getOrElse(c, c)
          physToCur.getOrElse(phys, phys)
        }
        val idx = obj0("index_columns").asInstanceOf[Vector[Any]]
          .map(v => toCurrent(v.toString): Any)
        val base = obj0 + ("index_columns" -> idx) - "columnRenames"
        if (cur.isEmpty) base
        else base + ("columnRenames" ->
          cur.map { case (k, v) => k -> (v: Any) })
    }

    val indexColumns =
      obj("index_columns").asInstanceOf[Vector[Any]].map(_.toString)
    val files = obj("files").asInstanceOf[Vector[Any]].map(_.toString)
    val sizes = obj("sizes").asInstanceOf[Vector[Any]]
      .map(v => v.asInstanceOf[Long])
    val idxTypes = indexColumns.map(c => schema(c).dataType)
    def bounds(key: String): IndexedSeq[Bound] =
      obj(key).asInstanceOf[Vector[Any]].map { b =>
        b.asInstanceOf[Vector[Any]].zipWithIndex.map { case (v, j) =>
          Option(v).map(coerce(_, idxTypes(j)))
        }: Bound
      }
    val lbs = bounds("lower_bounds")
    val ubs = bounds("upper_bounds")
    val maxIdx = obj("max_partition_index").asInstanceOf[Long]
    require(files.length == sizes.length && files.length == lbs.length &&
      files.length == ubs.length, s"inconsistent sidecar metadata in $dir")
    guardCeiling(spark, dir, files.length, "open")
    Meta(files, indexColumns, sizes, lbs, ubs, maxIdx, schema,
      extras = obj -- KnownMetaKeys)
  }

  /** The core sidecar fields; anything else in the document is an
    * EXTRA that load-modify-write maintenance must carry through
    * (e.g. the `txn` streaming-commit ledger). */
  private val KnownMetaKeys = Set("index_columns", "files", "sizes",
    "lower_bounds", "upper_bounds", "max_partition_index")

  final case class Meta(
      files: IndexedSeq[String],
      indexColumns: Seq[String],
      sizes: IndexedSeq[Long],
      lowerBounds: IndexedSeq[Bound],
      upperBounds: IndexedSeq[Bound],
      maxPartitionIndex: Long,
      schema: StructType,
      extras: Map[String, Any] = Map.empty) {

    /** The `txn` streaming-commit ledger: highest committed version
      * per writer app id (exactly-once idempotent appends — the
      * public Delta `txnAppId`/`txnVersion` pattern). */
    /** Metadata-only column renames (`ALTER TABLE … RENAME COLUMN` /
      * [[graft.operators.Maintenance.renameColumns]]), the Delta
      * column-mapping idea: LOGICAL (declared) name → PHYSICAL name
      * as written inside existing parquet files. Empty for a table
      * never renamed; reads project physical back to logical (one
      * alias Project Catalyst collapses into the scan), writes map
      * logical to physical so files stay uniform. */
    def columnRenames: Map[String, String] =
      extras.get("columnRenames").map(_.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString }).getOrElse(Map.empty)

    def physicalName(c: String): String = columnRenames.getOrElse(c, c)

    /** The schema as stored inside the data files. */
    def physicalSchema: StructType =
      if (columnRenames.isEmpty) schema
      else StructType(schema.fields.map(f =>
        f.copy(name = physicalName(f.name))))

    def physToLogical: Map[String, String] =
      columnRenames.map(_.swap)

    /** Read table DATA files under this metadata: the physical
      * (on-disk) schema, with renamed columns projected back to
      * their logical names — internal maintenance/CDC scans use
      * this instead of `spark.read.schema(schema)` so metadata-only
      * renames never mis-read old files as null columns. */
    def readData(spark: SparkSession, paths: Seq[String]): DataFrame = {
      val df = spark.read.schema(physicalSchema)
        .parquet(paths.toIndexedSeq: _*)
      if (columnRenames.isEmpty) df
      else df.withColumnsRenamed(physToLogical)
    }

    /** Rename a logical-named frame to the physical on-disk names
      * before writing it into this table's directory. */
    def toPhysical(df: DataFrame): DataFrame =
      if (columnRenames.isEmpty) df
      else df.withColumnsRenamed(columnRenames)

    /** Table-level write options declared at CREATE TABLE
      * (`OPTIONS (bloom 'c1', stats 'c2', constraint.nn 'v > 0',
      * autoCompact '…', files '…')`): persisted in the sidecar and
      * forwarded into every catalog insert's sink options, so the
      * declared indexes/constraints apply to all writes through the
      * table name — never silently dropped. */
    def tableOptions: Map[String, String] =
      extras.get("tableOptions").map(_.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString }).getOrElse(Map.empty)

    def txnVersions: Map[String, Long] =
      extras.get("txn").map(_.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[Long] })
        .getOrElse(Map.empty)

    /** `COPY INTO`'s source-file ledger: absolute source path →
      * `size:mtime` fingerprint at load time. Files in the ledger are
      * never loaded again (idempotent re-runs); a fingerprint change
      * on a loaded path refuses loudly. Updated in the SAME atomic
      * sidecar swap as the appended data (see
      * [[graft.operators.CopyInto]]). */
    def copyLedger: Map[String, String] =
      extras.get("copyInto").map(_.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString }).getOrElse(Map.empty)
  }

  /** Decode the `_padawan_schema` footer on the driver, no Spark job,
    * to what `spark.read.parquet(file).schema` gives (Spark's listing
    * hides `_`-prefixed files, so it could only read a copy). */
  private[graft] def readSchemaFile(
      spark: SparkSession, fs: FileSystem, file: Path): StructType =
    GraftBridge.footerSchema(spark,
      new Footer(file, withParquetReader(fs, file)(_.getFooter)))

  /** Run `f` over a driver-side parquet-hadoop reader of `file` (a
    * `_`-prefixed sidecar Spark's listing would hide), retried if the
    * file is replaced mid-read. */
  private[graft] def withParquetReader[A](fs: FileSystem, file: Path)(
      f: ParquetFileReader => A): A =
    GraftFs.retryReplaced {
      val st = fs.getFileStatus(file)
      try {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(st, fs.getConf))
        try f(reader) finally reader.close()
      } catch {
        // replaced between the stat and the open: the new file was
        // read at the old length, so retry as for a vanished file
        case _: Exception if {
          val now = fs.getFileStatus(file)
          now.getLen != st.getLen ||
            now.getModificationTime != st.getModificationTime
        } => throw new java.io.FileNotFoundException(s"$file replaced")
      }
    }

  /** Coerce a JSON-decoded bound value to the JVM type matching the
    * column's Spark SQL type, so driver-side comparisons and `lit()`
    * literals are exact.
    */
  private[graft] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (l: Long, IntegerType)   => l.toInt
    case (l: Long, ShortType)     => l.toShort
    case (l: Long, ByteType)      => l.toByte
    case (l: Long, DoubleType)    => l.toDouble
    case (l: Long, FloatType)     => l.toFloat
    case (d: Double, FloatType)   => d.toFloat
    case (l: Long, _: DecimalType) => new java.math.BigDecimal(l)
    case (d: Double, _: DecimalType) => java.math.BigDecimal.valueOf(d)
    // $datetime decodes to java.sql.Timestamp; NTZ columns surface as
    // java.time.LocalDateTime (UTC wall-clock either way).
    case (t: java.sql.Timestamp, TimestampNTZType) =>
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
    case _                        => v
  }

  // ---- write ----

  def write(
      spark: SparkSession,
      dir: String,
      indexColumns: Seq[String],
      files: Seq[String],
      sizes: Seq[Long],
      lowerBounds: Seq[Bound],
      upperBounds: Seq[Bound],
      maxPartitionIndex: Long,
      schema: StructType,
      extras: Map[String, Any] = Map.empty): Unit = {
    // Entry-shape invariant the maintenance layer's external-entry
    // classification rests on: locally written entries are BARE
    // generated names; only shallow clones introduce path-shaped
    // entries, and those are always ABSOLUTE qualified paths. A
    // relative subdirectory entry would be classified as neither —
    // fail loudly at the commit that tries to create one.
    files.foreach { f =>
      require(!f.contains("/") || new Path(f).isAbsolute,
        s"sidecar entry '$f' is neither a bare file name nor an " +
          "absolute external path; relative subdirectory entries are " +
          "unsupported (they would evade the external-entry guard)")
    }
    val meta = scala.collection.immutable.ListMap(
      "index_columns" -> indexColumns,
      "files" -> files,
      "sizes" -> sizes,
      "lower_bounds" -> lowerBounds.map(_.map(_.orNull)),
      "upper_bounds" -> upperBounds.map(_.map(_.orNull)),
      "max_partition_index" -> maxPartitionIndex
    ) ++ (extras -- KnownMetaKeys)
    guardCeiling(spark, dir, files.length, "commit")
    val (fs, _) = GraftFs.resolve(spark, dir)
    // Write-to-temp-then-rename: an existing dataset's metadata is
    // never truncated in place — a crash mid-write leaves the old
    // sidecar intact, and the rename only ever installs a fully
    // written replacement (atomic where the FS supports it).
    val tmp = new Path(dir,
      s".$MetadataFile.tmp-${java.util.UUID.randomUUID().toString}")
    try {
      GraftFs.writeStringDirect(fs, tmp, TypedJson.write(meta))
      GraftFs.moveOverwrite(fs, tmp, metadataPath(dir))
    } finally {
      // Clean a leftover temp ONLY while a metadata file exists at the
      // target: if the fallback rename deleted the old file and then
      // failed, the fully-written temp is the lone surviving copy —
      // deleting it would destroy both generations at once.
      if (fs.exists(tmp) && GraftFs.isFile(fs, metadataPath(dir)))
        fs.delete(tmp, false)
    }
    // Rewrite the schema sidecar only when it is absent or decodes to
    // another schema: an unchanged-schema commit swaps the JSON alone.
    val schemaPath = new Path(dir, SchemaFile)
    if (!GraftFs.isFile(fs, schemaPath) ||
        readSchemaFile(spark, fs, schemaPath) != GraftBridge.asNullable(schema))
      writeSingleParquet(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema), schemaPath.toString)
  }

  /** Write a DataFrame as ONE parquet file at exactly `target`.
    *
    * Spark's writer emits a directory; for sidecar-format compatibility we
    * stage into a same-FS temp dir (single task via coalesce(1)) and move
    * the lone part file into place — a same-filesystem `rename`, never a
    * copy. Used for the schema sidecar when [[write]] finds it absent or
    * stale (not on every commit), Bloom sidecars and the rare merge of
    * a scatter partition's retried task outputs; data files are written
    * by one partitionBy job instead (see [[ScatterWrite]]).
    */
  def writeSingleParquet(
      df: DataFrame,
      target: String,
      compression: String = "zstd"): Unit = {
    val spark = df.sparkSession
    val (fs, targetPath) = GraftFs.resolve(spark, target)
    val parent = Option(targetPath.getParent).getOrElse(new Path("."))
    val stage = GraftFs.mkStageDir(fs, parent, ".spark-stage-")
    try {
      val stageDir = new Path(stage, "out")
      df.coalesce(1).write
        .option("compression", compression)
        .mode("overwrite")
        .parquet(stageDir.toString)
      val part = GraftFs.listStatuses(fs, stageDir)
        .find(_.getPath.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"no parquet part written in $stageDir"))
      GraftFs.moveOverwrite(fs, part.getPath, targetPath)
    } finally GraftFs.deleteRecursive(fs, stage)
  }

  /** Local-only recursive delete for driver-side temp scaffolding (test
    * fixtures, the Bloom sidecar's staged copy). Dataset paths use
    * [[GraftFs.deleteRecursive]]. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p))
      java.nio.file.Files.list(p).forEach(deleteRecursively(_))
    java.nio.file.Files.deleteIfExists(p)
  }
}
