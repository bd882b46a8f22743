package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PDataset, Sidecar}
import graft.operators.Maintenance
import Fixtures._

/** In-place table maintenance: compaction bin-packs only small files,
  * range delete drops covered files without reading them, upsert
  * rewrites only the partitions its keys route to — each leaving a
  * consistent sidecar (exact bounds/sizes) and untouched files
  * byte-identical on disk.
  */
class MaintenanceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** n rows keyed k = lo until lo+n — reproducible without reading
    * any file, so expectations survive in-place rewrites. */
  private def keyedDF(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(
      col("id").as("k"),
      (col("id") % 7).cast("int").as("grp"),
      concat(lit("v"), col("id")).as("payload"))

  /** Persist keyedDF(0, n) as EXACTLY n/rowsPerFile files of
    * consecutive key ranges (explicit per-range partitions — the
    * repartition sampler would place approximate boundaries). */
  private def writeKeyed(dir: String, n: Int, rowsPerFile: Int): PDataset = {
    val parts = (0 until n by rowsPerFile).map { lo =>
      PDataset.fromDataFrame(
        keyedDF(lo.toLong, math.min(rowsPerFile, n - lo).toLong), Seq("k"))
    }
    PDataset.concat(parts).writeParquet(dir)
  }

  private def fileState(dir: String): Map[String, Long] = {
    val m = Sidecar.load(spark, dir)
    m.files.map { f =>
      f -> Files.getLastModifiedTime(Paths.get(dir, f)).toMillis
    }.toMap
  }

  // ---- recluster ----

  test("recluster re-sorts overlapping appends into disjoint files, " +
      "folds pending deletion vectors, and keeps the txn ledger") {
    val dir = tempDir("maint-recluster") + "/ds"
    // evens as 3 disjoint files, then odds appended as ONE file whose
    // range overlaps all of them
    val evens = (0 until 600 by 200).map { lo =>
      PDataset.fromDataFrame(
        keyedDF(0, 600).filter(col("k") % 2 === 0 &&
          col("k") >= lo && col("k") < lo + 200), Seq("k"))
    }
    PDataset.concat(evens).writeParquet(dir)
    PDataset.fromDataFrame(
      keyedDF(0, 600).filter(col("k") % 2 === 1), Seq("k"))
      .writeParquet(dir, append = true)
    assert(!PDataset.scanParquet(spark, dir).isDisjoint,
      "fixture must start overlapping")
    // the scheduling signal: the odd file overlaps all 3 even files
    val sick = Maintenance.layoutHealth(spark, dir)
    assert(sick.files == 4 && sick.maxOverlap == 2 && !sick.disjoint,
      sick.toString)

    // an exactly-once transactional append and a pending DV overlay
    // must both survive the rewrite
    keyedDF(600, 10).write.format("graft").mode("append")
      .option("txnAppId", "reclust-app").option("txnVersion", "7")
      .save(dir)
    graft.operators.DeletionVectors.deleteWhere(spark, dir,
      col("k") < 10)

    val report = Maintenance.recluster(spark, dir)
    assert(report.created > 0)

    val after = PDataset.scanParquet(spark, dir)
    assert(after.isDisjoint, "recluster must restore disjoint ranges")
    val healthy = Maintenance.layoutHealth(spark, dir)
    assert(healthy.maxOverlap == 1 && healthy.disjoint, healthy.toString)
    // ... and DESCRIBE DETAIL surfaces the signal
    assert(spark.sql(s"DESCRIBE DETAIL graft.`$dir`").head()
      .getAs[Int]("layout_max_overlap") == 1)
    val got = after.toDF.orderBy("k").collect()
    assert(got.length == 600, s"610 rows minus 10 DV-deleted")
    assert(got.head.getLong(0) == 10L && got.last.getLong(0) == 609L)
    // DV overlay folded away
    assert(!graft.operators.DeletionVectors.exists(spark, dir),
      "recluster must fold the deletion-vector overlay")
    // ledger survived: replaying the same (appId, version) is a no-op
    keyedDF(700, 10).write.format("graft").mode("append")
      .option("txnAppId", "reclust-app").option("txnVersion", "7")
      .save(dir)
    assert(PDataset.scanParquet(spark, dir).toDF.count() == 600,
      "replayed txn version must not append")

    // the SQL surface: overlap again, then OPTIMIZE ... RECLUSTER
    PDataset.fromDataFrame(keyedDF(610, 90), Seq("k"))
      .writeParquet(dir, append = true)
    PDataset.fromDataFrame(keyedDF(605, 5), Seq("k"))
      .writeParquet(dir, append = true)
    assert(!PDataset.scanParquet(spark, dir).isDisjoint)
    val rows = spark.sql(s"OPTIMIZE graft.`$dir` RECLUSTER").collect()
    assert(rows.head.getInt(3) > 0, rows.head.toString) // created
    assert(PDataset.scanParquet(spark, dir).isDisjoint)
    assert(PDataset.scanParquet(spark, dir).toDF.count() == 695)
  }

  // ---- compact ----

  test("compact bin-packs adjacent small files, preserving content and bounds") {
    val dir = tempDir("maint-compact") + "/ds"
    val before = writeKeyed(dir, 600, 30) // 20 files of 30 rows
    assert(before.npartitions == 20)

    val report = Maintenance.compact(spark, dir, targetRows = 100)
    // 30-row files pack 3 per 100-row target: 6 groups of 3 + [540,600).
    assert(report.created == 7, report.toString)
    assert(report.merged == 20, report.toString)

    val after = PDataset.scanParquet(spark, dir)
    assert(after.npartitions == report.created)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    assertSameRows(after.toDF, keyedDF(0, 600))
  }

  test("compactWhere merges only the pruned key band and keeps " +
      "out-of-scope files byte-identical; SQL OPTIMIZE WHERE matches") {
    val dir = tempDir("maint-compactwhere") + "/ds"
    writeKeyed(dir, 600, 30) // 20 files of 30 rows, keys 0-599
    val stateBefore = fileState(dir)
    // band 180-360 covers files 6..11 (6 files); target packs 3 each
    val report = Maintenance.compactWhere(spark, dir,
      col("k") >= 180L && col("k") < 360L, targetRows = 100)
    assert(report.created == 2 && report.merged == 6, report.toString)
    assert(report.untouched == 14, report.toString)
    val stateAfter = fileState(dir)
    stateBefore.keySet.intersect(stateAfter.keySet).foreach { f =>
      assert(stateAfter(f) == stateBefore(f),
        s"out-of-scope file $f was rewritten")
    }
    assert(stateBefore.keySet.intersect(stateAfter.keySet).size == 14)
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    assertSameRows(after.toDF, keyedDF(0, 600))
    // a no-hit predicate touches nothing
    val none = Maintenance.compactWhere(spark, dir,
      col("k") >= 10000L, targetRows = 100)
    assert(none.created == 0 && none.untouched == after.npartitions)
    // SQL surface: OPTIMIZE ... WHERE ... TARGET n ROWS on the rest
    val row = spark.sql(
      s"OPTIMIZE graft.`$dir` WHERE k < 180 TARGET 100 ROWS")
      .head()
    assert(row.getInt(3) == 2 && row.getInt(2) == 6, row.toString)
    assertSameRows(PDataset.scanParquet(spark, dir).toDF, keyedDF(0, 600))
  }

  test("compact leaves files at or above target untouched on disk") {
    val dir = tempDir("maint-compact-mixed") + "/ds"
    // 4 files of 100 rows, then append dribble: 5 files of 10 rows.
    writeKeyed(dir, 400, 100)
    val big = fileState(dir).keySet
    val dribbleParts = (400 until 450 by 10).map(lo =>
      PDataset.fromDataFrame(keyedDF(lo.toLong, 10L), Seq("k")))
    PDataset.concat(dribbleParts).writeParquet(dir, append = true)
    val stateBefore = fileState(dir)
    assert(stateBefore.size == 9)

    val report = Maintenance.compact(spark, dir, targetRows = 100)
    assert(report.untouched == 4 && report.merged == 5 && report.created == 1,
      report.toString)
    val stateAfter = fileState(dir)
    big.foreach { f =>
      assert(stateAfter(f) == stateBefore(f), s"big file $f was rewritten")
    }
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.sizes.get.sum == 450)
    assertSameRows(after.toDF, keyedDF(0, 450))
  }

  test("compact merges through the one-job scatter path when wide") {
    val dir = tempDir("maint-compact-wide") + "/ds"
    val before = writeKeyed(dir, 480, 10) // 48 small files
    assert(before.npartitions == 48)
    val report = Maintenance.compact(spark, dir, targetRows = 60)
    assert(report.created == 8 && report.merged == 48, report.toString)
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    assertSameRows(after.toDF, keyedDF(0, 480))
  }

  /** Pre-create a foreign committer's file at the first name slot an
    * op on `dir` will allocate; returns a check that its bytes and
    * mtime are unchanged and that the sidecar does not list it. */
  private def occupyNextSlot(dir: String): () => Unit = {
    val m0 = Sidecar.load(spark, dir)
    // a concurrent committer planned from the same maxPartitionIndex
    // and already moved its file into the op's first new slot
    val foreign = Paths.get(dir,
      Sidecar.partitionFileName(m0.maxPartitionIndex + 1))
    Files.write(foreign, "foreign committer bytes".getBytes("UTF-8"))
    val mtime = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    Files.setLastModifiedTime(foreign, mtime)
    val bytes = Files.readAllBytes(foreign)
    () => {
      assert(java.util.Arrays.equals(Files.readAllBytes(foreign), bytes),
        "the op overwrote the foreign file")
      assert(Files.getLastModifiedTime(foreign) == mtime)
      val m1 = Sidecar.load(spark, dir)
      assert(!m1.files.contains(foreign.getFileName.toString),
        "the op registered the foreign file as its own")
      assert(m1.files.forall(f => Files.exists(Paths.get(dir, f))))
    }
  }

  test("compact's one-job path never overwrites a file a concurrent " +
      "committer holds at its new slot name") {
    // (rows, rows per file, target, merge groups): 48 files in 8
    // groups, and a narrow table of 10 files in 3 groups
    Seq((480, 10, 60L, 8), (100, 10, 30L, 3)).foreach {
      case (n, perFile, target, groups) =>
        val dir = tempDir("maint-compact-slot") + "/ds"
        writeKeyed(dir, n, perFile)
        val foreignIntact = occupyNextSlot(dir)
        val report = Maintenance.compact(spark, dir, targetRows = target)
        assert(report.created == groups &&
          report.merged == groups * (target / perFile), report.toString)
        foreignIntact()
        val after = PDataset.scanParquet(spark, dir)
        checkBoundsAndSizes(after)
        assertSameRows(after.toDF, keyedDF(0, n))
    }
  }

  test("compact keeps row order inside members that span several " +
      "splits") {
    val dir = tempDir("maint-compact-order") + "/ds"
    val conf = spark.conf
    val oldSplit = conf.get("spark.sql.files.maxPartitionBytes")
    // ~100-row row groups, and splits far smaller than one member
    conf.set("parquet.block.size", "1024")
    try {
      writeKeyed(dir, 600, 200) // 3 members
      conf.set("spark.sql.files.maxPartitionBytes", "512")
      val m0 = Sidecar.load(spark, dir)
      def inFileOrder(f: String): Array[Row] =
        spark.read.parquet(Paths.get(dir, f).toString)
          .select(col("k"), col("grp"), col("payload"),
            col("_metadata.row_index").as("__row"))
          .orderBy("__row").drop("__row").collect()
      m0.files.foreach { f =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(Paths.get(dir, f).toString),
            spark.sessionState.newHadoopConf()))
        try assert(footer.getRowGroups.size > 1,
          s"fixture member $f must hold several row groups")
        finally footer.close()
        assert(spark.read.parquet(Paths.get(dir, f).toString)
          .rdd.getNumPartitions > 1, s"member $f must span several splits")
      }
      val concatenated = m0.files.flatMap(inFileOrder)
      val report = Maintenance.compact(spark, dir, targetRows = 600)
      assert(report.created == 1 && report.merged == 3, report.toString)
      val m1 = Sidecar.load(spark, dir)
      assert(m1.files.length == 1)
      assert(inFileOrder(m1.files.head).toSeq == concatenated.toSeq,
        "merged file must equal its members concatenated in order")
    } finally {
      conf.unset("parquet.block.size")
      conf.set("spark.sql.files.maxPartitionBytes", oldSplit)
    }
  }

  test("compact works on an index-less (row-mode) dataset") {
    val dir = tempDir("maint-compact-rowmode") + "/ds"
    val parts = (0 until 200 by 20).map(lo =>
      PDataset.fromDataFrame(keyedDF(lo.toLong, 20L)))
    PDataset.concat(parts).writeParquet(dir) // 10 files, no index
    val report = Maintenance.compact(spark, dir, targetRows = 60)
    // greedy: 3 groups of 3 files merge; the trailing file stays alone
    assert(report.created == 3 && report.merged == 9, report.toString)
    assert(report.untouched == 1, report.toString)
    val after = PDataset.scanParquet(spark, dir)
    assert(after.indexColumns.isEmpty)
    assert(after.sizes.get.sum == 200)
    assertSameRows(after.toDF, keyedDF(0, 200))
  }

  test("compactBytes packs by on-disk size and keeps content exact") {
    val dir = tempDir("maint-compact-bytes") + "/ds"
    writeKeyed(dir, 200, 20) // 10 small files
    val m0 = Sidecar.load(spark, dir)
    // tiny target: nothing merges (every run flushes as a singleton)
    val none = Maintenance.compactBytes(spark, dir, targetBytes = 1L)
    assert(none.created == 0 && none.untouched == 10, none.toString)
    // huge target: everything merges into one file
    val all = Maintenance.compactBytes(spark, dir, targetBytes = 1L << 30)
    assert(all.created == 1 && all.merged == 10, all.toString)
    val after = PDataset.scanParquet(spark, dir)
    assert(after.npartitions == 1)
    checkBoundsAndSizes(after)
    assertSameRows(after.toDF, keyedDF(0, 200))
    assert(m0.indexColumns == after.indexColumns)
  }

  // ---- deleteRange ----

  test("deleteRange prunes by a prefix of a multi-column index") {
    val dir = tempDir("maint-del-prefix") + "/ds"
    // index (grp, k): 6 files of one grp each, 50 rows per grp
    val parts = (0 until 6).map { g =>
      PDataset.fromDataFrame(
        spark.range(g * 50L, (g + 1) * 50L).select(
          lit(g).as("grp"), col("id").as("k"),
          concat(lit("v"), col("id")).as("payload")),
        Seq("grp", "k"))
    }
    PDataset.concat(parts).writeParquet(dir)
    val stateBefore = fileState(dir)
    // one-column prefix bound [2, 4): whole grp-2 and grp-3 files
    // drop unread, everything else untouched
    val report = Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(2)), ub = Vector(Some(4)), inclusive = "lower")
    assert(report.dropped == 2 && report.rewritten == 0 &&
      report.untouched == 4, report.toString)
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.toDF.count() == 200)
    assert(after.toDF.filter(col("grp") >= 2 && col("grp") < 4).count() == 0)
    val stateAfter = fileState(dir)
    stateAfter.keySet.foreach { f =>
      assert(stateAfter(f) == stateBefore(f), s"untouched $f was rewritten")
    }
    // full-tuple bound: straddles grp 0's file
    val r2 = Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(0), Some(10L)), ub = Vector(Some(0), Some(20L)),
      inclusive = "lower")
    assert(r2.rewritten == 1 && r2.dropped == 0, r2.toString)
    assert(PDataset.scanParquet(spark, dir).toDF.count() == 190)
  }

  test("deleteRange drops covered files, rewrites only boundary files") {
    val dir = tempDir("maint-del") + "/ds"
    val before = writeKeyed(dir, 600, 30) // files [0,29], [30,59], ...
    assert(before.npartitions == 20)
    val stateBefore = fileState(dir)
    // [45, 255): covers files 2..7 fully, straddles files 1 and 8.
    val report = Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(45L)), ub = Vector(Some(255L)), inclusive = "lower")
    assert(report.dropped == 6, report.toString)
    assert(report.rewritten == 2, report.toString)
    assert(report.untouched == 12, report.toString)

    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    assertSameRows(after.toDF,
      keyedDF(0, 600).filter(!(col("k") >= 45 && col("k") < 255)))
    // untouched files byte-stable
    val stateAfter = fileState(dir)
    stateAfter.keySet.intersect(stateBefore.keySet).foreach { f =>
      assert(stateAfter(f) == stateBefore(f), s"untouched $f was rewritten")
    }
  }

  test("deleteRange honors inclusivity and unbounded sides") {
    val dir = tempDir("maint-del-inc") + "/ds"
    writeKeyed(dir, 100, 25)
    // delete (40, 60] -> 41..60 gone
    Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(40L)), ub = Vector(Some(60L)), inclusive = "upper")
    val after1 = PDataset.scanParquet(spark, dir)
    assertSameRows(after1.toDF,
      keyedDF(0, 100).filter(!(col("k") > 40 && col("k") <= 60)))
    // unbounded below: delete everything up to 20 (exclusive)
    Maintenance.deleteRange(spark, dir, ub = Vector(Some(20L)),
      inclusive = "none")
    val after2 = PDataset.scanParquet(spark, dir)
    assert(after2.toDF.agg(min("k")).head().getLong(0) == 20L)
    checkBoundsAndSizes(after2)
  }

  test("deleteRange keeps null-keyed rows when the range is bounded") {
    val dir = tempDir("maint-del-null") + "/ds"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("payload", StringType)))
    val rows = (0L until 20L).map(i => Row(i, s"v$i")) :+ Row(null, "vnull")
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    PDataset.fromDataFrame(df, Seq("k"))
      .writeParquet(dir)
    Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(5L)), ub = Vector(Some(15L)), inclusive = "lower")
    val kept = PDataset.scanParquet(spark, dir).toDF
    assert(kept.count() == 21 - 10)
    assert(kept.filter(col("k").isNull).count() == 1,
      "null-keyed row must survive a bounded delete")
  }

  test("deleteRange never overwrites a file a concurrent committer " +
      "holds at its new slot name") {
    val dir = tempDir("maint-del-slot") + "/ds"
    writeKeyed(dir, 200, 50) // 4 files: 0-49, 50-99, 100-149, 150-199
    val foreignIntact = occupyNextSlot(dir)
    // [60, 100): straddles file 1 only
    val report = Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(60L)), ub = Vector(Some(100L)), inclusive = "lower")
    assert(report.rewritten == 1 && report.created == 1 &&
      report.dropped == 0 && report.untouched == 3, report.toString)
    foreignIntact()
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    assertSameRows(after.toDF,
      keyedDF(0, 200).filter(col("k") < 60 || col("k") >= 100))
  }

  // ---- schema evolution ----

  test("addColumns/dropColumns are metadata-only and compose with upsert") {
    val dir = tempDir("maint-schema") + "/ds"
    writeKeyed(dir, 100, 25)
    val stateBefore = fileState(dir)

    Maintenance.addColumns(spark, dir,
      StructField("flag", StringType), StructField("score", DoubleType))
    // zero data I/O: every part file byte-identical
    val stateAfter = fileState(dir)
    assert(stateAfter == stateBefore, "addColumns must not touch data files")
    val widened = PDataset.scanParquet(spark, dir)
    assert(widened.schemaOption.get.fieldNames.toSeq ==
      Seq("k", "grp", "payload", "flag", "score"))
    assert(widened.toDF.filter(col("flag").isNull).count() == 100)

    // new rows can carry values for the new columns
    val upd = Seq((10L, 3, "UPDATED-10", "FLAGGED", 0.5))
      .toDF("k", "grp", "payload", "flag", "score")
    Maintenance.upsert(spark, dir, upd)
    val after = PDataset.scanParquet(spark, dir).toDF
    assert(after.filter(col("flag") === "FLAGGED").count() == 1)
    assert(after.filter(col("flag").isNull).count() == 99)
    // the rewritten partition reads merged old (null) and new values
    checkBoundsAndSizes(PDataset.scanParquet(spark, dir))

    // drop hides a column everywhere, including old generations
    Maintenance.dropColumns(spark, dir, "score")
    val narrowed = PDataset.scanParquet(spark, dir)
    assert(narrowed.schemaOption.get.fieldNames.toSeq ==
      Seq("k", "grp", "payload", "flag"))
    assert(narrowed.toDF.count() == 100)
    // index columns are protected
    assertThrows[IllegalArgumentException] {
      Maintenance.dropColumns(spark, dir, "k")
    }
  }

  test("append preserves an evolved schema instead of reverting it") {
    val dir = tempDir("maint-schema-append") + "/ds"
    writeKeyed(dir, 100, 50)
    Maintenance.addColumns(spark, dir, StructField("flag", StringType))
    val upd = Seq((10L, 3, "UPDATED-10", "FLAGGED"))
      .toDF("k", "grp", "payload", "flag")
    Maintenance.upsert(spark, dir, upd)

    // an appender WITHOUT the evolved column must not revert it
    PDataset.fromDataFrame(keyedDF(100, 50), Seq("k"))
      .writeParquet(dir, append = true)
    val after = PDataset.scanParquet(spark, dir)
    assert(after.schemaOption.get.fieldNames.contains("flag"),
      "append reverted the evolved schema")
    assert(after.toDF.filter(col("flag") === "FLAGGED").count() == 1,
      "evolved values lost after append")
    assert(after.toDF.count() == 150)

    // an appender with an UNKNOWN column is rejected loudly
    val alien = spark.range(200L, 210L).select(
      col("id").as("k"), (col("id") % 7).cast("int").as("grp"),
      concat(lit("v"), col("id")).as("payload"),
      lit("x").as("flag"), lit(1.0).as("mystery"))
    assertThrows[graft.core.AppendError] {
      PDataset.fromDataFrame(alien, Seq("k")).writeParquet(dir, append = true)
    }
    // a dropped column stays dropped across writeMetadata-based appends
    Maintenance.dropColumns(spark, dir, "flag")
    PDataset.writeMetadata(spark, dir, Seq("k"))
    assert(!PDataset.scanParquet(spark, dir)
      .schemaOption.get.fieldNames.contains("flag"),
      "writeMetadata resurrected a dropped column")
  }

  test("dropColumns removes the column's bloom entries") {
    val dir = tempDir("maint-schema-bloom") + "/ds"
    writeKeyed(dir, 100, 50)
    graft.core.BloomIndex.build(spark, dir, Seq("payload", "grp"))
    Maintenance.dropColumns(spark, dir, "payload")
    // a later maintenance op must not trip over the ghost column
    val updates = Seq((10L, 3)).toDF("k", "grp")
    Maintenance.upsert(spark, dir, updates)
    val after = PDataset.scanParquet(spark, dir).toDF
    assert(after.columns.toSeq == Seq("k", "grp"))
    assert(after.count() == 100)
  }

  // ---- upsert ----

  test("upsert replaces matched keys, inserts new ones, rewrites only routed files") {
    val dir = tempDir("maint-upsert") + "/ds"
    val before = writeKeyed(dir, 600, 30) // 20 files
    assert(before.npartitions == 20)
    val stateBefore = fileState(dir)

    // updates: 4 existing keys in file 1, 2 in file 10, plus a new
    // key past the end (routes to the last file).
    val updates = Seq(
      (31L, 1, "UPDATED-31"), (40L, 1, "UPDATED-40"), (59L, 1, "UPDATED-59"),
      (45L, 9, "UPDATED-45"),
      (300L, 6, "UPDATED-300"), (329L, 0, "UPDATED-329"),
      (1000L, 9, "NEW-1000"))
      .toDF("k", "grp", "payload")
    val report = Maintenance.upsert(spark, dir, updates)
    assert(report.rewritten == 3, report.toString) // files 1, 10, 19
    assert(report.untouched == 17, report.toString)

    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    val expected = keyedDF(0, 600)
      .join(updates.select(col("k")), Seq("k"), "left_anti")
      .unionByName(updates)
    assertSameRows(after.toDF, expected)

    val stateAfter = fileState(dir)
    stateAfter.keySet.intersect(stateBefore.keySet).foreach { f =>
      assert(stateAfter(f) == stateBefore(f), s"untouched $f was rewritten")
    }
  }

  test("upsert routes keys below the first bound to partition 0") {
    val dir = tempDir("maint-upsert-low") + "/ds"
    val parts = (10 until 110 by 25).map(lo =>
      PDataset.fromDataFrame(keyedDF(lo.toLong, 25L), Seq("k")))
    PDataset.concat(parts).writeParquet(dir)
    val updates = Seq((1L, 0, "NEW-1")).toDF("k", "grp", "payload")
    val report = Maintenance.upsert(spark, dir, updates)
    assert(report.rewritten == 1, report.toString)
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.lowerBounds.get.head == Vector(Some(1L)))
    assert(after.toDF.count() == 101)
  }

  // ---- versioning / time travel ----

  test("retain archives generations; scanVersion reads them; vacuum reclaims") {
    val dir = tempDir("maint-history") + "/ds"
    writeKeyed(dir, 200, 25) // 8 files
    assert(Maintenance.versions(spark, dir).isEmpty)

    // generation 0: pre-upsert
    val updates = Seq((30L, 2, "UPDATED-30")).toDF("k", "grp", "payload")
    Maintenance.upsert(spark, dir, updates, retain = true)
    assert(Maintenance.versions(spark, dir) == Seq(0))

    // generation 1: pre-delete
    Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(100L)), ub = Vector(Some(150L)),
      inclusive = "lower", retain = true)
    assert(Maintenance.versions(spark, dir) == Seq(0, 1))

    // current: upserted AND deleted
    val cur = PDataset.scanParquet(spark, dir)
    assert(cur.toDF.count() == 150)
    assert(cur.toDF.filter(col("payload") === "UPDATED-30").count() == 1)
    // v1: upserted, not yet deleted
    val v1 = Maintenance.scanVersion(spark, dir, 1)
    checkBoundsAndSizes(v1)
    assert(v1.toDF.count() == 200)
    assert(v1.toDF.filter(col("payload") === "UPDATED-30").count() == 1)
    // v0: the original content, full engine surface (pruned slice)
    val v0 = Maintenance.scanVersion(spark, dir, 0)
    assertSameRows(v0.toDF, keyedDF(0, 200))
    assert(v0.slice(Vector(Some(30L)), Vector(Some(31L))).toDF
      .select("payload").head().getString(0) == "v30")

    // vacuum drops the history and every unreferenced file
    val removed = Maintenance.vacuum(spark, dir)
    assert(removed >= 3, s"expected >=3 stale files, removed $removed")
    assert(Maintenance.versions(spark, dir).isEmpty)
    val after = PDataset.scanParquet(spark, dir)
    assert(after.toDF.count() == 150)
    checkBoundsAndSizes(after)
    // on-disk parquet files == exactly the current listing
    val listed = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_"))
      .map(_.getName).toSet
    assert(listed == graft.core.Sidecar.load(spark, dir).files.toSet)
  }

  test("format(\"graft\").option(\"version\", n) reads an archived generation") {
    val dir = tempDir("maint-sql-ttravel") + "/ds"
    writeKeyed(dir, 100, 25)
    val updates = Seq((10L, 3, "UPDATED-10")).toDF("k", "grp", "payload")
    Maintenance.upsert(spark, dir, updates, retain = true)
    val v0 = spark.read.format("graft").option("version", "0").load(dir)
    assertSameRows(v0, keyedDF(0, 100))
    val cur = spark.read.format("graft").load(dir)
    assert(cur.filter(col("payload") === "UPDATED-10").count() == 1)
  }

  test("maintenance refreshes an existing bloom sidecar for new files") {
    val dir = tempDir("maint-bloom") + "/ds"
    writeKeyed(dir, 400, 50) // 8 files, payload unique per row
    graft.core.BloomIndex.build(spark, dir, Seq("payload"), fpp = 0.001)

    val updates = Seq((75L, 5, "p-REWRITTEN")).toDF("k", "grp", "payload")
    Maintenance.upsert(spark, dir, updates) // rewrites file 1 only

    // a lookup into the REWRITTEN partition still prunes: the op
    // extended the bloom sidecar to the new file
    val q = spark.read.format("graft").load(dir)
      .filter(col("payload") === "p-REWRITTEN")
    assert(q.count() == 1)
    assert(scannedFiles(q) <= 2, "rewritten file must carry a fresh filter")
    val q2 = spark.read.format("graft").load(dir)
      .filter(col("payload") === "v399")
    assert(q2.count() == 1)
    assert(scannedFiles(q2) <= 2, "untouched filters must keep working")
  }

  test("vacuum sweeps abandoned stage debris past the grace period, " +
      "spares fresh stages and unknown dot entries") {
    val dir = tempDir("maint-vacuum-debris") + "/ds"
    writeKeyed(dir, 100, 50)
    def mk(name: String, ageMs: Long): java.nio.file.Path = {
      val p = Paths.get(dir, name)
      Files.createDirectories(p)
      Files.write(p.resolve("leftover.parquet"), Array[Byte](1, 2, 3))
      val t = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ageMs)
      Files.setLastModifiedTime(p.resolve("leftover.parquet"), t)
      Files.setLastModifiedTime(p, t)
      p
    }
    val dead = mk(".graft-scatter-deadbeef", 48L * 3600 * 1000)
    val fresh = mk(".graft-scatter-inflight", 0L)
    val unknown = mk(".some-checkpoint", 48L * 3600 * 1000)
    // a stale ROOT mtime alone must not age a stage whose children
    // are still being written (nested writes don't bump the root)
    val activeChild = mk(".graft-scatter-rootstale", 48L * 3600 * 1000)
    Files.setLastModifiedTime(activeChild.resolve("leftover.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis()))
    def mkParent(name: String): java.nio.file.Path = {
      val p = Paths.get(dir).getParent.resolve(name)
      Files.createDirectories(p)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 48L * 3600 * 1000))
      p
    }
    // real ops stage in the dataset dir's PARENT — swept there too,
    // but ONLY entries tagged with THIS dataset's name: the parent
    // is shared with sibling tables whose stages are not ours to kill
    val parentDead = mkParent(".graft-compact-ds.crashed")
    val reclusterDead = mkParent(".graft-recluster-ds.crashed")
    val siblingStage = mkParent(".graft-compact-other.crashed")
    val untagged = mkParent(".graft-compact-legacy")
    val tmpMeta = Paths.get(dir, "._padawan_metadata.json.tmp-x")
    Files.write(tmpMeta, Array[Byte](1))
    Files.setLastModifiedTime(tmpMeta,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    // dry run touches nothing
    Maintenance.vacuum(spark, dir, dryRun = true)
    assert(Files.exists(dead) && Files.exists(tmpMeta))
    val removed = Maintenance.vacuum(spark, dir)
    assert(removed == 0, "debris is swept but not counted as data files")
    assert(!Files.exists(dead), "abandoned stage must be reclaimed")
    assert(!Files.exists(parentDead),
      "abandoned parent-level stage must be reclaimed")
    assert(!Files.exists(reclusterDead),
      "a crashed recluster's parent-level stage must be reclaimed")
    assert(!Files.exists(tmpMeta), "metadata temp must be reclaimed")
    assert(Files.exists(fresh), "an in-flight stage must survive")
    assert(Files.exists(unknown), "unknown dot entries are never touched")
    assert(Files.exists(activeChild),
      "a stage with a fresh child write must survive root-mtime staleness")
    assert(Files.exists(siblingStage),
      "a sibling table's parent-level stage is not ours to sweep")
    assert(Files.exists(untagged),
      "untagged parent-level entries are never swept")
    assert(PDataset.scanParquet(spark, dir).toDF.count() == 100)
  }

  test("vacuum spares unreferenced files newer than the metadata commit") {
    val dir = tempDir("maint-vacuum-mtime") + "/ds"
    writeKeyed(dir, 100, 50)
    // an in-flight op's staged file: unreferenced but NEWER than the
    // last metadata commit
    val meta = Paths.get(dir, "_padawan_metadata.json")
    val staged = Paths.get(dir, "part9999999999.parquet")
    Files.write(staged, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(staged,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(meta).toMillis + 60000))
    // a genuinely stale orphan: older than the commit
    val orphan = Paths.get(dir, "part9999999998.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(meta).toMillis - 60000))
    val removed = Maintenance.vacuum(spark, dir)
    assert(removed == 1, s"only the pre-commit orphan may go, removed $removed")
    assert(!Files.exists(orphan))
    assert(Files.exists(staged), "a file staged after the commit must survive")
    Files.delete(staged)
  }

  test("maintenance ops work over file: URIs (Hadoop FS facade)") {
    val local = tempDir("maint-uri") + "/ds"
    val dir = "file:" + local
    writeKeyed(dir, 100, 25)
    val del = Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(25L)), ub = Vector(Some(50L)), inclusive = "lower")
    assert(del.dropped == 1 && del.rewritten == 0, del.toString)
    val updates = Seq((10L, 3, "UPDATED-10")).toDF("k", "grp", "payload")
    Maintenance.upsert(spark, dir, updates, retain = true)
    assert(Maintenance.versions(spark, dir) == Seq(0))
    val cur = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(cur)
    assert(cur.toDF.count() == 75)
    assert(Maintenance.scanVersion(spark, dir, 0).toDF.count() == 75)
    Maintenance.vacuum(spark, dir)
    assert(Maintenance.versions(spark, dir).isEmpty)
    val compacted = Maintenance.compact(spark, dir, targetRows = 100)
    assert(compacted.created == 1, compacted.toString)
    assert(PDataset.scanParquet(spark, dir).toDF.count() == 75)
  }

  test("a concurrent swap of the SAME input file aborts the op; a " +
      "content-identical touch merges through the rebase") {
    val dir = tempDir("maint-conflict") + "/ds"
    writeKeyed(dir, 100, 25)
    // Sneak a competing commit in between load and swap: upsert's
    // validation aggregate evaluates the updates DataFrame, so a
    // mapPartitions hook running inside it rewrites the sidecar
    // behind the op's back. The competitor replaces the very file
    // key 10 routes to — a true write-write conflict the rebase
    // must refuse.
    val oldName = Sidecar.load(spark, dir).files.head
    val altName = "part0000000099.parquet"
    val updates = Seq((10L, 3, "UPDATED-10")).toDF("k", "grp", "payload")
    val hooked = updates.mapPartitions { it =>
      val meta = Paths.get(dir, "_padawan_metadata.json")
      Files.copy(Paths.get(dir, oldName), Paths.get(dir, altName))
      val txt = new String(Files.readAllBytes(meta),
        java.nio.charset.StandardCharsets.UTF_8)
      Files.write(meta,
        txt.replace(oldName, altName).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      // the raw rewrite bypasses Hadoop's checksummed stream: drop
      // the stale sibling .crc so readers don't trip on it
      Files.deleteIfExists(
        Paths.get(dir, "._padawan_metadata.json.crc"))
      it
    }(updates.encoder)
    val e = intercept[java.util.ConcurrentModificationException] {
      Maintenance.upsert(spark, dir, hooked)
    }
    assert(e.getMessage.contains("input file"), e.getMessage)
    // the op installed nothing and left no orphan output files
    val after = PDataset.scanParquet(spark, dir)
    assert(after.toDF.count() == 100)
    assert(after.toDF.filter(col("payload") === "UPDATED-10").count() == 0)
    val m = Sidecar.load(spark, dir)
    val onDisk = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")).toSet
    assert(onDisk == m.files.toSet + oldName,
      s"only the competitor's leftover copy may remain: $onDisk")
    // A content-identical mtime touch (no real commit) is absorbed by
    // the rebase instead of aborting.
    val touched = updates.mapPartitions { it =>
      val meta = Paths.get(dir, "_padawan_metadata.json")
      Files.setLastModifiedTime(meta,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(meta).toMillis + 60000))
      it
    }(updates.encoder)
    val r = Maintenance.upsert(spark, dir, touched)
    assert(r.rewritten == 1)
    assert(PDataset.scanParquet(spark, dir).toDF
      .filter(col("payload") === "UPDATED-10").count() == 1)
  }

  test("vacuum retention keeps generations readable; asOf resolves by time") {
    val dir = tempDir("maint-retention") + "/ds"
    writeKeyed(dir, 400, 50) // original content: keys 0..399
    val t0 = System.currentTimeMillis()
    Thread.sleep(1100) // mtime granularity can be coarse on some FS
    // inserts 400..409; archives the ORIGINAL as v0
    Maintenance.upsert(spark, dir, keyedDF(400, 10), retain = true)
    val t1 = System.currentTimeMillis()
    Thread.sleep(1100)
    // deletes [100,150); archives the 410-row generation as v1
    Maintenance.deleteRange(spark, dir,
      lb = Vector(Some(100L)), ub = Vector(Some(150L)),
      inclusive = "lower", retain = true)
    val t2 = System.currentTimeMillis()
    Thread.sleep(1100)
    // updates payloads of keys 0..4; archives the 360-row gen as v2
    Maintenance.upsert(spark, dir,
      keyedDF(0, 5).withColumn("payload", concat(lit("u"), col("k"))),
      retain = true)
    assert(Maintenance.versions(spark, dir) == Seq(0, 1, 2))

    // timestamp time travel: each instant resolves to the generation
    // that was live THEN (vN.json's mtime = when vN was replaced)
    assert(Maintenance.scanVersionAsOf(spark, dir, t0).toDF.count() == 400)
    assert(Maintenance.scanVersionAsOf(spark, dir, t1).toDF.count() == 410)
    assert(Maintenance.scanVersionAsOf(spark, dir, t2).toDF.count() == 360)
    val now = System.currentTimeMillis()
    val cur = Maintenance.scanVersionAsOf(spark, dir, now).toDF
    assert(cur.count() == 360)
    assert(cur.filter(col("payload") === "u0").count() == 1)
    // same resolution through the SQL surface
    assert(spark.read.format("graft")
      .option("asOfTimestamp", t1.toString).load(dir).count() == 410)

    // retainLast=2 drops only v0 (and the files ONLY v0 referenced);
    // v1/v2 stay fully readable
    Maintenance.vacuum(spark, dir, retainLast = 2)
    assert(Maintenance.versions(spark, dir) == Seq(1, 2))
    assert(Maintenance.scanVersion(spark, dir, 1).toDF.count() == 410)
    assert(Maintenance.scanVersion(spark, dir, 2).toDF.count() == 360)
    // olderThan keeps generations archived at/after the cutoff: only
    // v2 (archived after t2) survives
    Maintenance.vacuum(spark, dir, olderThan = Some(t2))
    assert(Maintenance.versions(spark, dir) == Seq(2))
    assert(Maintenance.scanVersion(spark, dir, 2).toDF.count() == 360)
    // full vacuum drops the rest; the current generation is untouched
    Maintenance.vacuum(spark, dir)
    assert(Maintenance.versions(spark, dir).isEmpty)
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.toDF.count() == 360)
  }

  test("writeMetadata never lowers the partition-name high-water mark") {
    val dir = tempDir("maint-hwm") + "/ds"
    writeKeyed(dir, 300, 30) // 10 files -> maxPartitionIndex 9
    // compaction replaces small files with fresh names PAST the old
    // counter: file count shrinks, live name indices don't.
    Maintenance.compact(spark, dir, targetRows = 100)
    val m1 = Sidecar.load(spark, dir)
    assert(m1.files.length < 10)
    assert(m1.maxPartitionIndex >= m1.files.length,
      "precondition: live index exceeds file count after compact")
    // A foreign writeMetadata over the maintained dir (the old reset
    // to kept.length-1) must NOT re-issue a live file's name: the
    // counter stays at or above every name on disk.
    PDataset.writeMetadata(spark, dir, Seq("k"))
    val m2 = Sidecar.load(spark, dir)
    assert(m2.maxPartitionIndex >= m1.maxPartitionIndex,
      s"high-water mark went backwards: ${m2.maxPartitionIndex}")
    // no name at or below the counter is ever re-issued, so the
    // counter must sit at or above every live partNNNN on disk (the
    // old reset to kept.length-1 put it BELOW them — a later op's
    // fresh name could then clobber a live, referenced file)
    val liveMax = m2.files
      .collect { case s if s.startsWith("part") && s.endsWith(".parquet") =>
        s.stripPrefix("part").stripSuffix(".parquet").toLong
      }.max
    assert(m2.maxPartitionIndex >= liveMax,
      s"counter ${m2.maxPartitionIndex} below live name index $liveMax")
    // content still reads whole
    assertSameRows(PDataset.scanParquet(spark, dir).toDF, keyedDF(0, 300))
  }

  test("deleteKeys removes scattered keys, dropping emptied partitions") {
    val dir = tempDir("maint-delkeys") + "/ds"
    writeKeyed(dir, 500, 100) // 5 files
    val before = fileState(dir)
    // scattered keys in files 0 and 2, plus ALL of file 4's keys
    val keys = (Seq(7L, 13L, 205L) ++ (400L until 500L))
      .toDF("k")
    val report = Maintenance.deleteKeys(spark, dir, keys)
    assert(report.rewritten == 2, report.toString) // files 0 and 2
    assert(report.dropped == 1, report.toString) // file 4 emptied
    assert(report.untouched == 2, report.toString)
    val after = PDataset.scanParquet(spark, dir)
    assert(after.npartitions == 4)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    val want = keyedDF(0, 500)
      .filter(!col("k").isin(7L, 13L) && col("k") =!= 205L &&
        col("k") < 400L)
    assertSameRows(after.toDF, want)
    // untouched files byte-identical on disk
    val kept = fileState(dir)
    before.filter { case (f, _) => kept.contains(f) }.foreach {
      case (f, mtime) => assert(kept(f) == mtime, s"$f was rewritten")
    }
  }

  test("deleteKeys of absent keys leaves content unchanged") {
    val dir = tempDir("maint-delkeys-miss") + "/ds"
    writeKeyed(dir, 200, 100)
    val report = Maintenance.deleteKeys(spark, dir,
      Seq(5000L, 6000L).toDF("k"))
    // absent keys still route somewhere: content-identical rewrite
    assert(report.dropped == 0)
    assertSameRows(PDataset.scanParquet(spark, dir).toDF, keyedDF(0, 200))
    // and an empty key frame is a no-op entirely
    val r2 = Maintenance.deleteKeys(spark, dir,
      Seq.empty[Long].toDF("k"))
    assert(r2.rewritten == 0 && r2.untouched == 2)
  }

  test("merge applies updates and deletes in one commit") {
    val dir = tempDir("maint-merge") + "/ds"
    writeKeyed(dir, 300, 100)
    val upd = keyedDF(50, 1).withColumn("payload", lit("UP"))
      .unionByName(keyedDF(900, 1).withColumn("payload", lit("INS")))
    val dels = Seq(51L, 250L).toDF("k")
    // overlapping key rejected loudly
    assertThrows[IllegalArgumentException] {
      Maintenance.merge(spark, dir, upd, Seq(50L).toDF("k"))
    }
    val report = Maintenance.merge(spark, dir, upd, dels, retain = true)
    // file 0 gets updates AND a delete in its single rewrite; file 2
    // gets a delete and the appended insert routes there too.
    assert(report.rewritten == 2, report.toString)
    val got = PDataset.scanParquet(spark, dir).toDF
      .select("k", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(50L) == "UP" && got(900L) == "INS")
    assert(!got.contains(51L) && !got.contains(250L))
    assert(got.size == 300 - 2 + 1)
    // the change feed of the merge is exactly its row-level effect
    val v = Maintenance.versions(spark, dir).max
    val feed = Maintenance.changes(spark, dir, v)
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set(50L -> "update_preimage", 50L -> "update_postimage",
      51L -> "delete", 250L -> "delete", 900L -> "insert"))
  }

  test("restore rolls back to an archived generation, and is undoable") {
    val dir = tempDir("maint-restore") + "/ds"
    writeKeyed(dir, 300, 100)
    val before = fileState(dir)
    Maintenance.upsert(spark, dir,
      keyedDF(50, 2).withColumn("payload", lit("MUT")), retain = true)
    Maintenance.deleteKeys(spark, dir, Seq(250L).toDF("k"), retain = true)

    Maintenance.restore(spark, dir, 0) // back to the pristine table
    val restored = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(restored)
    assertSameRows(restored.toDF, keyedDF(0, 300))
    // metadata-only: the original files are back, byte-identical
    fileState(dir).foreach { case (f, mtime) =>
      assert(before(f) == mtime, s"$f was rewritten by restore")
    }
    // the pre-restore state was archived: restoring THAT undoes it
    val vPre = Maintenance.versions(spark, dir).max
    Maintenance.restore(spark, dir, vPre)
    val redone = PDataset.scanParquet(spark, dir).toDF
      .select("k", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(redone(50L) == "MUT" && !redone.contains(250L))
    // the name counter never went backwards: new writes stay unique
    Maintenance.upsert(spark, dir,
      keyedDF(10, 1).withColumn("payload", lit("post")))
    assertSameRows(
      PDataset.scanParquet(spark, dir).toDF.filter(col("k") === 10L),
      keyedDF(10, 1).withColumn("payload", lit("post")))
  }

  test("history lists every readable generation, metadata-only") {
    val dir = tempDir("maint-history") + "/ds"
    writeKeyed(dir, 300, 100)
    // no history yet: one current row, version 0
    val h0 = Maintenance.history(spark, dir).collect()
    assert(h0.length == 1 && h0(0).getInt(0) == 0 && h0(0).getBoolean(1))
    assert(h0(0).getLong(4) == 300)

    Maintenance.upsert(spark, dir,
      keyedDF(300, 20), retain = true) // +20 inserts -> v0 archived
    Maintenance.deleteKeys(spark, dir,
      spark.range(0, 10).select(col("id").as("k")),
      retain = true) // -10 -> v1 archived
    var read = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read += e.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    val h = try {
      val rows = spark.read.format("graft").option("history", "true")
        .load(dir).orderBy("version").collect()
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(h.map(r => (r.getInt(0), r.getBoolean(1), r.getLong(4)))
      .toSeq == Seq((0, false, 300L), (1, false, 320L), (2, true, 310L)))
    // replaced_at carries the metaAsOf mtime for archived gens only
    assert(h.take(2).forall(!_.isNullAt(2)) && h(2).isNullAt(2))
    assert(read == 0, s"history must not read data files, read $read")
    // a restore keeps ratcheting: current version only ever grows
    Maintenance.restore(spark, dir, 0)
    val afterRestore = Maintenance.history(spark, dir).collect()
    assert(afterRestore.last.getInt(0) == 3 &&
      afterRestore.last.getLong(4) == 300)
  }

  test("changes feeds the row-level delta, reading only delta files") {
    val dir = tempDir("maint-changes") + "/ds"
    writeKeyed(dir, 600, 100) // 6 files of consecutive 100-key ranges
    val upd = keyedDF(250, 2).withColumn("payload", lit("NEW"))
    Maintenance.upsert(spark, dir, upd, retain = true)

    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    val ch =
      try {
        val rows = Maintenance.changes(spark, dir, 0).collect()
        org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
        rows
      } finally spark.sparkContext.removeSparkListener(l)

    // Two updated keys: each surfaces as its CDF pre/postimage pair
    // (old row lost, new row gained); the 98 carried-over neighbors
    // cancel.
    assert(ch.length == 4, ch.mkString("\n"))
    val byType = ch.groupBy(_.getAs[String]("change_type"))
    assert(byType("update_preimage").map(r => (r.getAs[Long]("k"),
      r.getAs[String]("payload"))).sorted.toSeq ==
      Seq(250L -> "v250", 251L -> "v251"))
    assert(byType("update_postimage").map(r => (r.getAs[Long]("k"),
      r.getAs[String]("payload"))).sorted.toSeq ==
      Seq(250L -> "NEW", 251L -> "NEW"))
    // Only the one rewritten 100-row file and its replacement are
    // read — never the other 500 rows.
    assert(read.get <= 220, s"read ${read.get} input rows of a 600-row " +
      "table; changes must read only the delta files")
  }

  test("changes between two archived generations isolates one delta") {
    val dir = tempDir("maint-changes-v") + "/ds"
    writeKeyed(dir, 300, 100)
    Maintenance.upsert(spark, dir,
      keyedDF(10, 1).withColumn("payload", lit("first")), retain = true)
    Maintenance.upsert(spark, dir,
      keyedDF(210, 1).withColumn("payload", lit("second")), retain = true)
    // v0 -> v1 sees only the first upsert's delta.
    val ch01 = Maintenance.changes(spark, dir, 0, Some(1)).collect()
    assert(ch01.map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("k"), r.getAs[String]("payload"))).sorted.toSeq ==
      Seq(("update_postimage", 10L, "first"),
        ("update_preimage", 10L, "v10")))
    // v0 -> current sees both.
    assert(Maintenance.changes(spark, dir, 0).count() == 4)
    // A pure rewrite (compaction) changes no rows: empty feed.
    Maintenance.compact(spark, dir, targetRows = 1000, retain = true)
    assert(Maintenance.changes(spark, dir, 2).count() == 0)
    // Per-commit attribution: each step's delta tagged with the
    // generation it produced; the pure-rewrite step contributes
    // nothing. Both update pairs attribute to their own commit.
    val cdf = Maintenance.changesWithCommitInfo(spark, dir, 0)
    assert(!cdf.columns.contains("__delta"))
    assert(cdf.select("k", "payload", "change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getInt(3))).toSet ==
      Set((10L, "v10", "update_preimage", 1),
        (10L, "first", "update_postimage", 1),
        (210L, "v210", "update_preimage", 2),
        (210L, "second", "update_postimage", 2)))
    // a vacuumed intermediate refuses attribution loudly
    Maintenance.vacuum(spark, dir, retainLast = 1)
    val e = intercept[IllegalArgumentException] {
      Maintenance.changesWithCommitInfo(spark, dir, 0)
    }
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("SQL TVF graft_changes equals the programmatic feed, " +
      "composes inside queries, and takes timestamp endpoints") {
    val dir = tempDir("maint-tvf") + "/ds"
    writeKeyed(dir, 300, 100)
    Maintenance.deleteRange(spark, dir, Seq(Some(0L)), Seq(Some(10L)),
      retain = true)
    Maintenance.updateWhere(spark, dir, col("k") === 100L,
      Seq("payload" -> lit("X")), retain = true)
    assertSameRows(
      spark.sql(s"SELECT * FROM graft_changes('$dir', 0)"),
      Maintenance.changes(spark, dir, 0))
    assertSameRows(
      spark.sql(s"SELECT * FROM graft_changes('$dir', 0, 1)"),
      Maintenance.changes(spark, dir, 0, Some(1)))
    // a TVF composes: plain SQL aggregation over the feed
    val n = spark.sql(s"SELECT count(*) AS n FROM graft_changes('$dir', 0) " +
      "WHERE change_type = 'delete'").head().getLong(0)
    assert(n == 10)
    // timestamp endpoints route through changesAsOf
    assertSameRows(
      spark.sql(s"SELECT * FROM graft_changes('$dir', '1970-01-01')"),
      Maintenance.changesAsOf(spark, dir, 0L))
    // non-literal / wrong-kind arguments refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_changes('$dir', 0, '2026-01-01')")
        .collect()
    }
    assert(e.getMessage.contains("same kind"), e.getMessage)
    // a BIGINT literal is a GENERATION (Delta's table_changes
    // contract), never a silent epoch-millis time-travel to 1970
    assertSameRows(
      spark.sql(s"SELECT * FROM graft_changes('$dir', CAST(0 AS BIGINT))"),
      Maintenance.changes(spark, dir, 0))
    val eb = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_changes('$dir', " +
        s"${Long.MaxValue}L)").collect()
    }
    assert(eb.getMessage.contains("generation"), eb.getMessage)
    // graft_history composes the same way
    assert(spark.sql(
      s"SELECT max(version) AS v FROM graft_history('$dir')")
      .head().getInt(0) == 2)
  }

  test("changes null-fills columns added since the older generation") {
    val dir = tempDir("maint-changes-evo") + "/ds"
    writeKeyed(dir, 200, 100)
    Maintenance.upsert(spark, dir,
      keyedDF(20, 1).withColumn("payload", lit("pre")), retain = true)
    Maintenance.addColumns(spark, dir, StructField("flag", StringType))
    Maintenance.upsert(spark, dir,
      keyedDF(20, 1).withColumn("payload", lit("post"))
        .withColumn("flag", lit("F")), retain = true)
    val ch = Maintenance.changes(spark, dir, 1)
    assert(ch.columns.toSeq ==
      Seq("k", "grp", "payload", "flag", "change_type"))
    assert(ch.collect().map(r => (r.getAs[String]("change_type"),
      r.getAs[String]("payload"), r.getAs[String]("flag"))).sorted.toSeq ==
      Seq(("update_postimage", "post", "F"),
        ("update_preimage", "pre", null)))
  }

  test("changes crosses a RENAME COLUMN: old-generation columns " +
      "translate to the current logical names by physical identity") {
    import graft.operators.DeletionVectors
    val dir = tempDir("maint-changes-ren") + "/ds"
    writeKeyed(dir, 200, 100)
    // v0 -> [upsert] -> v1 -> [RENAME payload->note, k->key] ->
    // v2 -> [upsert under the NEW names]
    Maintenance.upsert(spark, dir,
      keyedDF(20, 1).withColumn("payload", lit("pre")), retain = true)
    Maintenance.renameColumns(spark, dir,
      "payload" -> "note", "k" -> "key")
    val after = spark.range(0, 1).select(lit(130L).as("key"),
      lit(4).cast("int").as("grp"), lit("post").as("note"))
    Maintenance.upsert(spark, dir, after, retain = true)

    // the endpoint diff spans the rename: old rows surface under the
    // CURRENT names, and ONLY the genuinely changed rows appear —
    // a mistranslation would null-fill whole columns and emit every
    // carried-over row as a change
    val ch = Maintenance.changes(spark, dir, 0)
    assert(ch.columns.toSeq ==
      Seq("key", "grp", "note", "change_type"))
    assert(ch.collect().map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("key"), r.getAs[String]("note"))).sorted.toSeq ==
      Seq(("update_postimage", 20L, "pre"),
        ("update_postimage", 130L, "post"),
        ("update_preimage", 20L, "v20"),
        ("update_preimage", 130L, "v130")))
    // per-commit attribution crosses the rename too (the rename is
    // metadata-only and folds into its neighboring step — it emits
    // no rows of its own): step 1 = the pre-rename upsert, step 2 =
    // the post-rename upsert, both under the CURRENT names
    val cdf = Maintenance.changesWithCommitInfo(spark, dir, 0)
    assert(cdf.filter(col("_commit_version") === 1)
      .select("key", "note", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((20L, "v20", "update_preimage"),
        (20L, "pre", "update_postimage")))
    assert(cdf.filter(col("_commit_version") === 2)
      .select("key", "note", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((130L, "v130", "update_preimage"),
        (130L, "post", "update_postimage")))
    // time travel crosses the rename the same way: the archived
    // generation serves under TODAY's names, rows intact
    val v0 = Maintenance.scanVersion(spark, dir, 0).toDF
    assert(v0.columns.toSeq == Seq("key", "grp", "note"))
    assert(v0.count() == 200 &&
      v0.filter(col("key") === 20L).head.getString(2) == "v20")
    // a DV delete's retained materialize also feeds across the rename
    DeletionVectors.deleteKeys(spark, dir, Seq(20L).toDF("key"))
    DeletionVectors.materialize(spark, dir, retain = true)
    val del = Maintenance.changes(spark, dir, 2).collect()
    assert(del.map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("key"))).toSeq == Seq(("delete", 20L)))
  }

  test("non-retained ops never delete files an archived generation " +
      "still references — time travel survives later maintenance") {
    val dir = tempDir("maint-histsafe") + "/ds"
    writeKeyed(dir, 300, 100) // 3 files
    // retain=true archives v0, which references the ORIGINAL 3 files
    Maintenance.upsert(spark, dir,
      keyedDF(50, 1).withColumn("payload", lit("MUT")), retain = true)
    // a later NON-retained compaction merges (and would previously
    // delete) files v0 still references
    Maintenance.compact(spark, dir, targetRows = 1000)
    val v0 = Maintenance.scanVersion(spark, dir, 0)
    assertSameRows(v0.toDF, keyedDF(0, 300))
    // same through a non-retained keyed delete
    Maintenance.deleteKeys(spark, dir, Seq(10L).toDF("k"))
    assertSameRows(
      Maintenance.scanVersion(spark, dir, 0).toDF, keyedDF(0, 300))
    // vacuum with no retention now reclaims everything unreferenced
    val deleted = Maintenance.vacuum(spark, dir, retainLast = 0)
    assert(deleted > 0, "vacuum must reclaim the history-held files")
    assert(PDataset.scanParquet(spark, dir).toDF.count() == 299)
  }

  test("changesWithCommitInfo over a ~100-commit span: every step " +
      "attributed, and the union plans as a balanced tree, not a " +
      "100-deep chain") {
    val dir = tempDir("maint-cdf-deep") + "/ds"
    writeKeyed(dir, 200, 100) // 2 files
    // v0 = pristine; each metadata-only restore archives the outgoing
    // generation, so adjacent generations alternate A <-> B and every
    // step's delta is the single rewritten partition (one key pair)
    Maintenance.upsert(spark, dir,
      keyedDF(10, 1).withColumn("payload", lit("mut")), retain = true)
    (1 to 99).foreach(i => Maintenance.restore(spark, dir, i - 1))
    val cdf = Maintenance.changesWithCommitInfo(spark, dir, 0)
    def depth(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Int =
      1 + (if (p.children.isEmpty) 0 else p.children.map(depth).max)
    val d = depth(org.apache.spark.sql.GraftBridge.planOf(cdf))
    assert(d < 60, s"100-step CDF plan depth $d — the per-step union " +
      "must fold as a balanced tree (left-deep would be >100)")
    val rows = cdf.select("k", "payload", "change_type",
      "_commit_version").collect()
    assert(rows.length == 200) // one update pair per step
    val byCommit = rows.groupBy(_.getInt(3))
    assert(byCommit.keySet == (1 to 100).toSet)
    byCommit.foreach { case (v, rs) =>
      assert(rs.map(_.getString(2)).sorted.toSeq ==
        Seq("update_postimage", "update_preimage"), s"commit $v")
      assert(rs.forall(_.getLong(0) == 10L))
      assert(rs.map(_.getString(1)).toSet == Set("v10", "mut"))
    }
  }

  test("changes pairs min(losses, gains) per key on duplicate-key " +
      "tables; the surplus keeps plain tags") {
    val dir = tempDir("maint-cdf-dup") + "/ds"
    val base = keyedDF(0, 30)
    val dups = base.filter(col("k").isin(10L, 20L)) // identical copies
    PDataset.fromDataFrame(
      base.unionByName(dups).repartition(1).sortWithinPartitions("k"),
      Seq("k")).writeParquet(dir)
    // one commit: key 10 (2 identical copies) replaced by one new
    // row, key 20 (2 identical copies) deleted outright
    Maintenance.merge(spark, dir,
      keyedDF(10, 1).withColumn("payload", lit("NEW")),
      keyedDF(20, 1).select("k"), retain = true)
    val got = Maintenance.changes(spark, dir, 0)
      .select("k", "payload", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sorted.toSeq)
      .toMap
    // key 10: one loss pairs with the gain, the surplus copy deletes
    assert(got(10L) == Seq(("NEW", "update_postimage"),
      ("v10", "delete"), ("v10", "update_preimage")), got(10L).toString)
    // key 20: two losses, zero gains — no pairing, two deletes
    assert(got(20L) == Seq(("v20", "delete"), ("v20", "delete")))
    assert(got.keySet == Set(10L, 20L))
  }

  test("upsert rejects duplicate and null keys") {
    val dir = tempDir("maint-upsert-bad") + "/ds"
    writeKeyed(dir, 100, 50)
    val dup = Seq((1L, 0, "a"), (1L, 0, "b")).toDF("k", "grp", "payload")
    assertThrows[IllegalArgumentException] {
      Maintenance.upsert(spark, dir, dup)
    }
    val withNull = Seq((Option(5L), 0, "a"), (Option.empty[Long], 0, "b"))
      .toDF("k", "grp", "payload")
    assertThrows[IllegalArgumentException] {
      Maintenance.upsert(spark, dir, withNull)
    }
  }

  test("row-level commits rebase over concurrent disjoint commits: " +
      "append and update both land; same-file conflicts abort loudly") {
    val dir = tempDir("maint-occ-rebase") + "/ds"
    writeKeyed(dir, 200, 50) // 4 files: keys 0-49, 50-99, 100-149, 150-199

    // 1. a sink APPEND lands between the UPDATE's rewrite and its
    //    install: the rebase merges — both commits survive
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      keyedDF(10000, 5).write.format("graft").option("index", "k")
        .mode("append").save(dir)
    }
    try {
      val r = Maintenance.updateWhere(spark, dir,
        col("k") === 25L, Seq("payload" -> lit("UPD")))
      assert(r.rewritten == 1, r.toString)
    } finally Maintenance.beforeRowLevelInstall = () => ()
    val after1 = PDataset.scanParquet(spark, dir).toDF
    assert(after1.count() == 205,
      "the concurrent append's rows must survive the rebase")
    assert(after1.filter(col("k") === 25L).head().getString(2) == "UPD")
    assert(after1.filter(col("k") === 10002L).count() == 1)
    // no orphans: every data file on disk is referenced
    val m1 = Sidecar.load(spark, dir)
    val onDisk = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")).toSet
    assert(onDisk == m1.files.toSet,
      s"orphans or missing files: disk=$onDisk sidecar=${m1.files.toSet}")

    // 2. a concurrent UPSERT on a DISJOINT file during an upsert:
    //    both land (the second rebases over the first)
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      Maintenance.upsert(spark, dir,
        Seq((150L, 3, "other")).toDF("k", "grp", "payload"))
    }
    try {
      val r2 = Maintenance.upsert(spark, dir,
        Seq((60L, 4, "mine")).toDF("k", "grp", "payload"))
      assert(r2.rewritten == 1)
    } finally Maintenance.beforeRowLevelInstall = () => ()
    val after2 = PDataset.scanParquet(spark, dir).toDF
    assert(after2.filter(col("k") === 60L).head().getString(2) == "mine")
    assert(after2.filter(col("k") === 150L).head().getString(2)
      == "other")
    assert(after2.count() == 205)
    assert(PDataset.scanParquet(spark, dir).isDisjoint)

    // 3. a concurrent rewrite of the SAME file conflicts loudly
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      Maintenance.upsert(spark, dir,
        Seq((26L, 5, "racer")).toDF("k", "grp", "payload"))
    }
    val e = try intercept[java.util.ConcurrentModificationException] {
      Maintenance.updateWhere(spark, dir,
        col("k") === 27L, Seq("payload" -> lit("LOSER")))
    } finally Maintenance.beforeRowLevelInstall = () => ()
    assert(e.getMessage.contains("input file"), e.getMessage)
    // the racer's commit stands; the aborted update changed nothing
    val after3 = PDataset.scanParquet(spark, dir).toDF
    assert(after3.filter(col("k") === 26L).head().getString(2)
      == "racer")
    assert(after3.filter(col("k") === 27L).head().getString(2) == "v27")

    // 4. a sink APPEND during a recluster is rebased over too: the
    //    reclustered files and the appended rows both land
    val rdir = tempDir("maint-occ-recluster") + "/ds"
    writeKeyed(rdir, 200, 50)
    val replaced = Sidecar.load(spark, rdir).files.toSet
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      keyedDF(10000, 5).write.format("graft").option("index", "k")
        .mode("append").save(rdir)
    }
    try {
      val r = Maintenance.recluster(spark, rdir)
      assert(r.rewritten == 4, r.toString)
    } finally Maintenance.beforeRowLevelInstall = () => ()
    val reclustered = PDataset.scanParquet(spark, rdir)
    checkBoundsAndSizes(reclustered)
    assert(reclustered.isDisjoint)
    assert(Sidecar.load(spark, rdir).files.toSet.intersect(replaced).isEmpty,
      "the recluster must have installed")
    assertSameRows(reclustered.toDF,
      keyedDF(0, 200).unionByName(keyedDF(10000, 5)))
  }

  test("a concurrent DV DELETE on an affected file aborts the rewrite " +
      "instead of resurrecting the deleted rows") {
    import graft.operators.DeletionVectors
    val dir = tempDir("maint-occ-dv") + "/ds"
    writeKeyed(dir, 200, 50) // 4 files: 0-49, 50-99, 100-149, 150-199
    // racer marks k=30 (file 0) while the UPDATE (also file 0) sits
    // between its durable rewrite and its sidecar install — the
    // window guardUnchanged cannot see (DV commits don't touch the
    // sidecar). Without the DV OCC check the UPDATE's copy-on-write
    // output would carry k=30 and dropEntriesForFiles would discard
    // the racer's mark: a silently resurrected row.
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      DeletionVectors.deleteKeys(spark, dir, Seq(30L).toDF("k"))
      ()
    }
    val e = try intercept[java.util.ConcurrentModificationException] {
      Maintenance.updateWhere(spark, dir,
        col("k") === 25L, Seq("payload" -> lit("UPD")))
    } finally Maintenance.beforeRowLevelInstall = () => ()
    assert(e.getMessage.contains("deletion-vector"), e.getMessage)
    // the racer's delete stands; the aborted update changed nothing
    val live = DeletionVectors.scan(spark, dir)
    assert(live.count() == 199)
    assert(live.filter(col("k") === 30L).isEmpty)
    assert(live.filter(col("k") === 25L).head().getString(2) == "v25")
    // the loser left no orphan data files
    val m = Sidecar.load(spark, dir)
    val onDisk = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")).toSet
    assert(onDisk == m.files.toSet,
      s"orphans or missing: disk=$onDisk sidecar=${m.files.toSet}")

    // a concurrent DV DELETE on an UNTOUCHED file does NOT block,
    // and its mark survives the winner's overlay compaction
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      DeletionVectors.deleteKeys(spark, dir, Seq(150L).toDF("k"))
      ()
    }
    try {
      val r = Maintenance.updateWhere(spark, dir,
        col("k") === 25L, Seq("payload" -> lit("UPD")))
      assert(r.rewritten == 1, r.toString)
    } finally Maintenance.beforeRowLevelInstall = () => ()
    val live2 = DeletionVectors.scan(spark, dir)
    assert(live2.count() == 198) // k=30 folded away, k=150 still marked
    assert(live2.filter(col("k") === 150L).isEmpty,
      "the untouched-file mark must survive the rewrite's compaction")
    assert(live2.filter(col("k") === 25L).head().getString(2) == "UPD")

    // compact and deleteRange replace files through the same install:
    // a mark landing on a file they replace aborts them too
    Seq[(String, Long, String => Unit)](
      ("compact", 30L, d => Maintenance.compact(spark, d, targetRows = 100)),
      ("deleteRange", 55L, d => Maintenance.deleteRange(spark, d,
        lb = Vector(Some(60L)), ub = Vector(Some(100L))))
    ).foreach { case (op, marked, run) =>
      val d = tempDir(s"maint-occ-dv-$op") + "/ds"
      writeKeyed(d, 200, 50)
      Maintenance.beforeRowLevelInstall = () => {
        Maintenance.beforeRowLevelInstall = () => ()
        DeletionVectors.deleteKeys(spark, d, Seq(marked).toDF("k"))
        ()
      }
      val e = try intercept[java.util.ConcurrentModificationException] {
        run(d)
      } finally Maintenance.beforeRowLevelInstall = () => ()
      assert(e.getMessage.contains("deletion-vector"), s"$op: ${e.getMessage}")
      val live = DeletionVectors.scan(spark, d)
      assert(live.count() == 199, op)
      assert(live.filter(col("k") === marked).isEmpty,
        s"$op resurrected the DV-deleted row")
      val md = Sidecar.load(spark, d)
      val disk = new java.io.File(d).listFiles()
        .map(_.getName).filter(n => n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")).toSet
      assert(disk == md.files.toSet,
        s"$op: orphans or missing: disk=$disk sidecar=${md.files.toSet}")
    }
  }

  test("materialize rebases over a concurrent upsert on an untouched " +
      "file: both changes survive") {
    import graft.operators.DeletionVectors
    val dir = tempDir("maint-occ-dvmat") + "/ds"
    writeKeyed(dir, 200, 50) // 4 files: 0-49, 50-99, 100-149, 150-199
    DeletionVectors.deleteKeys(spark, dir, Seq(30L).toDF("k"))
    // the upsert commits between materialize's durable rewrite of file
    // 0 and its sidecar install, from the same maxPartitionIndex
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      Maintenance.upsert(spark, dir,
        Seq((150L, 3, "other")).toDF("k", "grp", "payload"))
      ()
    }
    try {
      val r = DeletionVectors.materialize(spark, dir)
      assert(r.rewritten == 1 && r.untouched == 3, r.toString)
    } finally Maintenance.beforeRowLevelInstall = () => ()
    assert(!DeletionVectors.exists(spark, dir))
    val after = PDataset.scanParquet(spark, dir)
    checkBoundsAndSizes(after)
    assert(after.isDisjoint)
    val df = after.toDF
    assert(df.count() == 199)
    assert(df.filter(col("k") === 30L).isEmpty,
      "the materialized delete must survive the rebase")
    assert(df.filter(col("k") === 150L).head().getString(2) == "other",
      "the concurrent upsert must survive the rebase")
    // every data file on disk is referenced, and vice versa
    val m = Sidecar.load(spark, dir)
    val onDisk = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")).toSet
    assert(onDisk == m.files.toSet,
      s"orphans or missing: disk=$onDisk sidecar=${m.files.toSet}")
  }

  test("renameColumns is metadata-only: bytes untouched, reads and " +
      "keyed writes work under the new names, physical names persist") {
    val dir = tempDir("maint-rename") + "/ds"
    writeKeyed(dir, 200, 50) // 4 files: k (index), grp, payload
    graft.core.ColumnStats.build(spark, dir, Seq("grp"))
    graft.core.BloomIndex.build(spark, dir, Seq("payload"))
    val before = fileState(dir)

    Maintenance.renameColumns(spark, dir,
      "k" -> "key", "payload" -> "text")
    assert(fileState(dir) == before,
      "rename must not touch a single data file")
    val ds = PDataset.scanParquet(spark, dir)
    assert(ds.toDF.columns.toSeq == Seq("key", "grp", "text"))
    assert(Sidecar.load(spark, dir).indexColumns == Seq("key"))
    // old files read correctly under the new names, with pruning
    assert(ds.toDF.filter(col("key") === 123L).head().getString(2)
      == "v123")
    assert(ds.slice(Vector(Some(50L)), Vector(Some(100L)),
      inclusive = "lower").toDF.count() == 50)
    // derived sidecars re-keyed, still armed: a bloom point lookup on
    // the renamed column and a colstats prune both still plan
    assert(ds.toDF.filter(col("text") === "v60").count() == 1)

    // a keyed write under the NEW names rewrites one file; the new
    // file carries the PHYSICAL (old) column names like its siblings
    val r = Maintenance.upsert(spark, dir,
      Seq((60L, 4, "NEW")).toDF("key", "grp", "text"))
    assert(r.rewritten == 1, r.toString)
    val after = PDataset.scanParquet(spark, dir).toDF
    assert(after.count() == 200)
    assert(after.filter(col("key") === 60L).head().getString(2) == "NEW")
    val m = Sidecar.load(spark, dir)
    m.files.foreach { f =>
      val raw = spark.read.parquet(s"$dir/$f")
      assert(raw.columns.toSeq == Seq("k", "grp", "payload"),
        s"$f must keep the physical names, got ${raw.columns.toSeq}")
    }
    // a second rename composes: logical key -> id, physical stays k
    Maintenance.renameColumns(spark, dir, "key" -> "id")
    assert(Sidecar.load(spark, dir).columnRenames ==
      Map("id" -> "k", "text" -> "payload"))
    assert(PDataset.scanParquet(spark, dir).toDF
      .filter(col("id") === 60L).head().getString(2) == "NEW")
    // updateWhere under the renamed schema
    val r2 = Maintenance.updateWhere(spark, dir,
      col("id") === 61L, Seq("text" -> lit("UPD")))
    assert(r2.rewritten == 1)
    assert(PDataset.scanParquet(spark, dir).toDF
      .filter(col("id") === 61L).head().getString(2) == "UPD")
    // compact orders its merge by the file row index, read through
    // the renamed projection; the merged file keeps the physical names
    val r3 = Maintenance.compact(spark, dir, targetRows = 200)
    assert(r3.created == 1 && r3.merged == 4, r3.toString)
    val merged = Sidecar.load(spark, dir).files
    assert(merged.length == 1)
    assert(spark.read.parquet(s"$dir/${merged.head}").columns.toSeq ==
      Seq("k", "grp", "payload"))
    val compacted = PDataset.scanParquet(spark, dir).toDF
    assert(compacted.count() == 200)
    assert(compacted.filter(col("id") === 60L).head().getString(2) == "NEW")
    assert(compacted.filter(col("id") === 61L).head().getString(2) == "UPD")
  }

  test("change feed spans a column rename: pre-rename generations " +
      "diff under the current names (no spurious changes)") {
    val dir = tempDir("maint-rename-cdf") + "/ds"
    writeKeyed(dir, 100, 50)
    Maintenance.upsert(spark, dir,
      keyedDF(5, 1).withColumn("payload", lit("X")), retain = true)
    Maintenance.renameColumns(spark, dir, "payload" -> "text")
    // the pre-rename endpoint serves under the CURRENT name: only
    // the genuinely changed row appears (a name mismatch would emit
    // every carried-over row as a change)
    val crossing = Maintenance.changes(spark, dir, 0)
      .select("k", "text", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(crossing == Set((5L, "v5", "update_preimage"),
      (5L, "X", "update_postimage")), crossing.toString)
    // after the rename, retained mutations keep diffing cleanly
    Maintenance.upsert(spark, dir,
      Seq((7L, 0, "Y")).toDF("k", "grp", "text"), retain = true)
    val feed = Maintenance.changes(spark, dir, 1)
      .select("k", "text", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((7L, "v7", "update_preimage"),
      (7L, "Y", "update_postimage")), feed.toString)
  }

  test("programmatic updateWhere/replaceWhere refuse non-deterministic " +
      "conditions (discovery and rewrite evaluate them independently)") {
    val dir = tempDir("maint-nondet") + "/ds"
    writeKeyed(dir, 100, 50)
    val e = intercept[IllegalArgumentException] {
      Maintenance.updateWhere(spark, dir, rand() < 0.5,
        Seq("payload" -> lit("X")))
    }
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.replaceWhere(spark, dir, rand() < 0.5,
        keyedDF(0, 10))
    }
    assert(e2.getMessage.contains("deterministic"), e2.getMessage)
  }

  test("updateWhere scatter runs at the affected width, not the file count") {
    val dir = tempDir("maint-update-dense") + "/ds"
    writeKeyed(dir, 600, 25) // 24 files of consecutive 25-key ranges
    assert(Sidecar.load(spark, dir).files.length == 24)

    // Stage widths observed during the commit: with the dense scatter
    // every stage of a 2-file update is O(affected) tasks; a scatter
    // shuffling at m.files.length would surface a 24-task stage here.
    val widths = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        widths.put(sc.stageInfo.stageId, sc.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    val report = try {
      val r = Maintenance.updateWhere(spark, dir,
        col("k") === 100L || col("k") === 401L,
        Seq("payload" -> lit("HIT")))
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(l)
    assert(report.rewritten == 2, report.toString)
    // ≤ 8 = spark.sql.shuffle.partitions (an agg stage AQE declines
    // to coalesce); the sparse-scatter regression this pins against
    // is a 24-task stage.
    val maxWidth = widths.values.max
    assert(maxWidth <= 8,
      s"a 2-file update on a 24-file table ran a $maxWidth-task stage " +
        s"(stage widths ${widths.values.toVector.sorted}); the scatter " +
        "must shuffle at the affected width")

    val after = PDataset.scanParquet(spark, dir).toDF
    assert(after.filter(col("payload") === "HIT")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(100L, 401L))
    assert(after.count() == 600)
    assert(PDataset.scanParquet(spark, dir).isDisjoint)
  }

  test("point upsert on a many-file table runs at the affected width") {
    val dir = tempDir("maint-upsert-dense") + "/ds"
    writeKeyed(dir, 600, 25) // 24 files
    val widths = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        widths.put(sc.stageInfo.stageId, sc.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    val report = try {
      // coalesce(1): the delta's own scan parallelism (spark.range
      // slices) isn't what this test measures — the scatter width is.
      val r = Maintenance.upsert(spark, dir,
        keyedDF(130, 1).withColumn("payload", lit("NEW")).coalesce(1))
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(l)
    assert(report.rewritten == 1, report.toString)
    // The window shuffle may still fan to spark.sql.shuffle.partitions
    // map-side, but no stage may approach the 24-file width purely
    // from the scatter tag space.
    val maxWidth = widths.values.max
    assert(maxWidth <= 8,
      s"a 1-file upsert on a 24-file table ran a $maxWidth-task stage " +
        s"(stage widths ${widths.values.toVector.sorted})")
    val after = PDataset.scanParquet(spark, dir).toDF
    assert(after.filter(col("k") === 130L).head().getString(2) == "NEW")
    assert(after.count() == 600)
  }
}
