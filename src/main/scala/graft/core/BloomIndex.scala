package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.io.ColumnIOFactory

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom filters for point lookups on NON-index columns —
  * the file-skipping a lex-bounds sidecar cannot give.
  *
  * The sidecar's lex-tuple bounds prune range predicates on the index
  * columns, but an equality on a high-cardinality payload column
  * (document id, customer key, url hash) matches every file's
  * [min, max] envelope and scans the whole table. A Bloom filter per
  * (file, column) answers "might this file contain v?" at plan time:
  * [[org.apache.spark.sql.GraftFileIndex]] consults it for pushed
  * `=`/`IN` predicates, so a needle-in-100-TB lookup plans only the
  * files whose filter fires (the true file + fpp×nfiles false
  * positives). Both read surfaces pick the sidecar up automatically:
  * `spark.read.format("graft")` and `PDataset.toDF`.
  *
  * Scale shape: ONE job builds every filter — each scan task
  * accumulates partial filters per (file, column) it sees, partials
  * merge by bitwise OR (Bloom filters are mergeable), and only the
  * serialized filters (not the data) shuffle. Each file's filter is
  * sized from its exact sidecar row count at the requested fpp
  * (~1.2 bytes/row at 1%), stored in one hidden parquet sidecar
  * `_graft_bloom` that readers load once and cache by modification
  * time. The driver-memory cost is explicit and bounded:
  * nfiles × bits(rows, fpp) — size fpp accordingly for very wide
  * tables. [[update]] extends the index to newly appended files
  * without touching existing filters, so daily ingest pays for its
  * own files only.
  *
  * The reference engine has no analogue (padawan prunes only on
  * index bounds); the design follows the public lakehouse per-file
  * bloom-index pattern.
  */
object BloomIndex {

  val BloomFile = "_graft_bloom"

  /** col name → filter per file position (None = no entry: never
    * pruned). Alignment is positional with the file list the map was
    * requested for. */
  type Blooms = Map[String, IndexedSeq[Option[BloomFilter]]]

  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, _) = GraftFs.resolve(spark, dir)
    GraftFs.isFile(fs, new HPath(dir, BloomFile))
  }

  private[graft] def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Build (or rebuild) the Bloom sidecar for `cols` over every file
    * of the dataset at `dir`. Columns must be integral or string.
    * One Spark job; see the class docs for the shape. */
  def build(
      spark: SparkSession,
      dir: String,
      cols: Seq[String],
      fpp: Double = 0.01): Unit = {
    val m = validate(spark, dir, cols, fpp)
    val (_, dirPath) = GraftFs.resolve(spark, dir)
    val paths = m.files.map(f => new HPath(dirPath, f).toString)
    writeEntries(spark, dirPath,
      buildEntries(spark, m, paths, m.sizes, cols, fpp)
        .map { case (k, v) => k -> (v, fpp) })
  }

  /** Extend an existing Bloom sidecar to files that have no entry yet
    * (e.g. appended since the last build): builds filters for ONLY
    * those files and merges them into the sidecar, for the columns
    * already indexed. `fpp` defaults to the sidecar's stored rate (so
    * maintenance refreshes keep the original precision).
    * Entries for files no longer on disk are dropped — the sidecar
    * tracks the live dataset (current + retained generations), it
    * doesn't grow with history. */
  def update(
      spark: SparkSession,
      dir: String,
      fpp: Option[Double] = None): Unit = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val existing = readEntries(fs, dirPath)
    val theCols = existing.keys.map(_._2).toSeq.distinct
    val theFpp = fpp.orElse(existing.values.headOption.map(_._2))
      .getOrElse(0.01)
    val m = validate(spark, dir, theCols, theFpp)
    val onDisk = GraftFs.listStatuses(fs, dirPath)
      .filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")).toSet
    // keep = on disk here (current + retained generations) OR listed
    // by the current sidecar under an EXTERNAL absolute entry (a
    // shallow clone's source files never appear in the clone's own
    // listing, but their base-name-keyed entries must survive)
    val referenced = onDisk ++ m.files.map(GraftFs.baseName)
    val pruned = existing.filter { case ((f, _), _) => referenced(f) }
    val missing = m.files.zip(m.sizes).filter { case (f, _) =>
      theCols.exists(c => !pruned.contains((GraftFs.baseName(f), c)))
    }
    if (missing.isEmpty && pruned.size == existing.size) return
    val fresh =
      if (missing.isEmpty) Map.empty[(String, String), Array[Byte]]
      else buildEntries(spark, m,
        missing.map(f => new HPath(dirPath, f._1).toString),
        missing.map(_._2), theCols, theFpp)
    writeEntries(spark, dirPath,
      pruned ++ fresh.map { case (k, v) => k -> (v, theFpp) })
  }

  private def validate(
      spark: SparkSession, dir: String, cols: Seq[String],
      fpp: Double): Sidecar.Meta = {
    require(cols.nonEmpty, "at least one column to index")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val m = Sidecar.load(spark, dir)
    cols.foreach { c =>
      require(m.schema.fieldNames.contains(c), s"no such column: $c")
      require(supported(m.schema(c).dataType),
        s"bloom index supports integral and string columns; " +
          s"$c is ${m.schema(c).dataType.simpleString}")
    }
    m
  }

  /** The one-job partial-merge build over the given files. Returns
    * serialized filters keyed (file base name, column). */
  private def buildEntries(
      spark: SparkSession,
      m: Sidecar.Meta,
      paths: Seq[String],
      sizes: Seq[Long],
      cols: Seq[String],
      fpp: Double): Map[(String, String), Array[Byte]] = {
    // Per-file expected item counts from the sidecar (exact), keyed
    // the way input_file_name() will render the path.
    val expected: Map[String, Long] = paths.zip(sizes).map {
      case (p, n) => Stats.normalizePath(p) -> math.max(1L, n)
    }.toMap
    val colNames = cols.toIndexedSeq
    val theFpp = fpp

    val rows = m.readData(spark, paths)
      .select((input_file_name().as("__file") +: colNames.map(col)): _*)
      .rdd
      .mapPartitions { it =>
        // Partial filters per (file, column) seen by this task; only
        // these (KBs) leave the task, never the rows.
        val acc = scala.collection.mutable.HashMap
          .empty[(String, Int), BloomFilter]
        while (it.hasNext) {
          val r = it.next()
          val f = r.getString(0)
          var c = 0
          while (c < colNames.length) {
            if (!r.isNullAt(c + 1)) {
              val bf = acc.getOrElseUpdate((f, c), BloomFilter.create(
                expected(Stats.normalizePath(f)), theFpp))
              r.get(c + 1) match {
                case l: Long   => bf.putLong(l)
                case i: Int    => bf.putLong(i.toLong)
                case s: Short  => bf.putLong(s.toLong)
                case b: Byte   => bf.putLong(b.toLong)
                case s: String => bf.putString(s)
                case other => throw new IllegalStateException(
                  s"unexpected value type ${other.getClass}")
              }
            }
            c += 1
          }
        }
        acc.iterator.map { case ((f, c), bf) =>
          ((Stats.normalizePath(f), c), serialize(bf))
        }
      }
      .reduceByKey { (a, b) =>
        val x = deserialize(a)
        x.mergeInPlace(deserialize(b))
        serialize(x)
      }
      .collect()

    rows.map { case ((f, c), bytes) =>
      (new HPath(f).getName, colNames(c)) -> bytes
    }.toMap
  }

  /** Remove every entry for the given columns (no-op without a
    * sidecar); the sidecar file is deleted when no entries remain.
    * Called by schema evolution so dropping a bloom-indexed column
    * doesn't leave the index referencing a ghost column (which would
    * fail every later maintenance refresh). */
  /** Re-key entries for a metadata-only column rename — driver-side
    * sidecar rewrite, no filter is rebuilt. */
  private[graft] def renameColumnEntries(
      spark: SparkSession, dir: String,
      renames: Map[String, String]): Unit = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    if (!GraftFs.isFile(fs, new HPath(dirPath, BloomFile))) return
    val existing = readEntries(fs, dirPath)
    val rekeyed = existing.map { case ((f, c), v) =>
      (f, renames.getOrElse(c, c)) -> v }
    if (rekeyed.keySet != existing.keySet)
      writeEntries(spark, dirPath, rekeyed)
  }

  private[graft] def dropColumnEntries(
      spark: SparkSession, dir: String, names: Set[String]): Unit = {
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    if (!GraftFs.isFile(fs, new HPath(dirPath, BloomFile))) return
    val existing = readEntries(fs, dirPath)
    val kept = existing.filter { case ((_, c), _) => !names.contains(c) }
    if (kept.size == existing.size) return
    if (kept.isEmpty) {
      fs.delete(new HPath(dirPath, BloomFile), false)
      cache.clear()
    } else writeEntries(spark, dirPath, kept)
  }

  // ---- sidecar I/O ----

  private val entrySchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("col", StringType, nullable = false),
    StructField("bloom", BinaryType, nullable = false),
    StructField("fpp", DoubleType, nullable = false)))

  private def writeEntries(
      spark: SparkSession,
      dirPath: HPath,
      entries: Map[(String, String), (Array[Byte], Double)]): Unit = {
    val outRows: Seq[Row] = entries.toSeq.map {
      case ((f, c), (bytes, fpp)) => Row(f, c, bytes, fpp)
    }
    Sidecar.writeSingleParquet(
      spark.createDataFrame(java.util.Arrays.asList(outRows: _*), entrySchema),
      new HPath(dirPath, BloomFile).toString)
    cache.clear()
  }

  /** Raw sidecar entries keyed (file base name, column), with each
    * entry's build fpp; empty when no sidecar exists. Decoded on the
    * driver (a driver-sized file), no Spark job. */
  private[graft] def readEntries(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: HPath): Map[(String, String), (Array[Byte], Double)] = {
    val file = new HPath(dirPath, BloomFile)
    if (!GraftFs.isFile(fs, file)) return Map.empty
    Sidecar.withParquetReader(fs, file) { reader =>
      val schema = reader.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      val out = Map.newBuilder[(String, String), (Array[Byte], Double)]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records =
          io.getRecordReader(pages, new GroupRecordConverter(schema))
        (0L until pages.getRowCount).foreach { _ =>
          val g = records.read()
          out += (g.getString("file", 0), g.getString("col", 0)) ->
            ((g.getBinary("bloom", 0).getBytes, g.getDouble("fpp", 0)))
        }
        pages = reader.readNextRowGroup()
      }
      out.result()
    }
  }

  // ---- read side ----

  /** Deserialized filters cached per (dir, sidecar mtime+length):
    * rebuilt sidecars refresh, repeated plans don't re-read. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Map[(String, String), BloomFilter]]

  /** Bloom filters aligned positionally to `files` (full paths that
    * share one parent directory — a persisted dataset's file list).
    * Empty when the directory carries no `_graft_bloom` sidecar or
    * the files span multiple directories. */
  /** Entries are keyed by file BASE name, so when the caller knows
    * the TABLE directory it may pass it as `sidecarDir` — required
    * for a shallow clone, whose listed files live in the SOURCE
    * directory (possibly several, once it diverges) while its own
    * Bloom sidecar sits in the clone's dir. Without it the sidecar
    * location falls back to the files' single shared parent (and
    * mixed parents degrade to no pruning — safe, never wrong). */
  def forFiles(
      spark: SparkSession, files: Seq[String],
      sidecarDir: Option[String] = None): Blooms = {
    if (files.isEmpty) return Map.empty
    val dir = sidecarDir.getOrElse {
      val parents = files.map(f =>
        Option(new HPath(f).getParent).map(_.toString).getOrElse(""))
        .distinct
      if (parents.length != 1) return Map.empty
      parents.head
    }
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val status = GraftFs.statusOf(fs, new HPath(dirPath, BloomFile))
      .getOrElse(return Map.empty)
    if (!status.isFile) return Map.empty
    val key = (dirPath.toString, status.getModificationTime, status.getLen)
    if (cache.size > 8) cache.clear()
    val entries = cache.computeIfAbsent(key, _ =>
      readEntries(fs, dirPath).map { case (k, (bytes, _)) =>
        k -> deserialize(bytes)
      })
    val names = files.map(f => new HPath(f).getName).toIndexedSeq
    entries.keys.map(_._2).toSeq.distinct.map { c =>
      c -> names.map(f => entries.get((f, c)))
    }.toMap
  }

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  private def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
}
