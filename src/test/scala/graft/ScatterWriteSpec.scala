package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, sha2}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PDataset
import Fixtures._

/** A wide file-backed dataset must rewrite in O(1) Spark jobs (one
  * tagged shuffle), not one job per partition — per-partition jobs are
  * a driver-side job storm at 10^4+ partitions. */
class ScatterWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def countJobs[A](body: => A): (A, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val out =
      try body
      finally {
        // Listener events post asynchronously; drain before reading.
        org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    (out, n.get)
  }

  test("job-count pins run under AQE (the real-cluster config)") {
    // The O(1)-jobs assertions below count REAL jobs at execution
    // time, so they only prove the scatter survives adaptive
    // re-planning while AQE is actually on — pin the config so a
    // TestSpark change can't silently weaken every pin in this suite.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("wide file-backed generic write issues O(1) jobs and round-trips") {
    val src = tempDir("scatter-src")
    writeDatetimeSample(spark, src)
    val base = PDataset.scanParquet(spark, src).reindex(datetimeIndexColumns)
    // 98 rows at 8 rows/partition -> 13 file-backed partitions.
    val stored = base.repartition(8)
      .writeParquet(tempDir("scatter-stored") + "/ds")
    assert(stored.npartitions >= 12)

    val target = tempDir("scatter-out") + "/ds"
    val (out, jobs) = countJobs(stored.writeParquet(target))
    // One scatter job + the schema sidecar write; stats reuse known
    // metadata. Without batching this is >= 13 per-partition jobs.
    assert(jobs <= 6, s"expected O(1) jobs for the batched write, saw $jobs")
    checkBoundsAndSizes(out)
    assertSameRows(out.toDF, stored.toDF)
  }

  test("append through the scatter path extends the dataset") {
    val src = tempDir("scatter-app-src")
    writeDatetimeSample(spark, src)
    val base = PDataset.scanParquet(spark, src).reindex(datetimeIndexColumns)
    val stored = base.repartition(8)
      .writeParquet(tempDir("scatter-app-stored") + "/ds")
    val target = tempDir("scatter-app-out") + "/ds"
    stored.writeParquet(target)
    val appended = stored.writeParquet(target, append = true)
    assert(appended.toDF.count() == 196)
    assert(appended.npartitions == 26)
    checkBoundsAndSizes(appended)
  }

  test("collated and sliced unwritten repartitions write via one scatter job") {
    val src = tempDir("scatter-run-src")
    writeDatetimeSample(spark, src)
    val base = PDataset.scanParquet(spark, src).reindex(datetimeIndexColumns)
    // collate of an unwritten repartition: merged contiguous SliceParts
    // recover a FastWritePlan — one tagged shuffle, not one job/batch.
    val coll = base.repartition(8).collate(16)
    assert(coll.npartitions >= 4)
    val (out, jobs) = countJobs(coll.writeParquet(tempDir("scatter-run-out") + "/c"))
    assert(jobs <= 6, s"expected O(1) jobs for the collated write, saw $jobs")
    checkBoundsAndSizes(out)
    assertSameRows(out.toDF, base.toDF)

    // a lower-inclusive slice preserves the run too (sizes become
    // unknown, so one stats job joins the scatter job).
    val sliced = base.repartition(8).slice(lb = datetimeLowerBounds(1))
    val (sOut, sJobs) =
      countJobs(sliced.writeParquet(tempDir("scatter-run-out") + "/s"))
    assert(sJobs <= 7, s"expected O(1) jobs for the sliced write, saw $sJobs")
    checkBoundsAndSizes(sOut)
    assertSameRows(sOut.toDF, sliced.toDF)
  }

  test("append through the repartition fast path extends the dataset") {
    val src = tempDir("scatter-fastapp-src")
    writeDatetimeSample(spark, src)
    val base = PDataset.scanParquet(spark, src).reindex(datetimeIndexColumns)
    val rp = base.repartition(8)
    val target = tempDir("scatter-fastapp-out") + "/ds"
    rp.writeParquet(target)
    val (appended, jobs) = countJobs(rp.writeParquet(target, append = true))
    assert(jobs <= 6, s"expected O(1) jobs for the fast append, saw $jobs")
    assert(appended.toDF.count() == 196)
    assert(appended.npartitions == 2 * rp.npartitions)
    checkBoundsAndSizes(appended)
  }

  test("row-mode repartition writes via the two-pass scatter, preserving row order") {
    val src = tempDir("scatter-row-src")
    writeDatetimeSample(spark, src)
    val base = PDataset.scanParquet(spark, src).reindex(Seq.empty)
    val rp = base.repartition(17) // 98 rows -> 6 partitions of 17/.../13
    assert(rp.npartitions == 6)
    val target = tempDir("scatter-row-out") + "/ds"
    val (out, jobs) = countJobs(rp.writeParquet(target))
    // one count pass + one offsets broadcast + one tagged shuffle +
    // sidecar bookkeeping — not one slicer pass per output partition
    // (the fallback costs a count job per parent plus a write job per
    // output partition: 11+ here).
    assert(jobs <= 7, s"expected O(1) jobs for the row-mode write, saw $jobs")
    assert(out.npartitions == 6)
    assert(out.sizes.get == Vector(17L, 17L, 17L, 17L, 17L, 13L))
    // global row order must be preserved: partition i holds rows
    // [17i, 17(i+1)) of the parent in parent order (column a is the
    // original row number minus 2).
    val allA = (0 until out.npartitions).flatMap(i =>
      out(i).select("a").collect().map(_.getLong(0)))
    assert(allA == (-2L until 96L), s"row order not preserved: $allA")
    assertSameRows(out.toDF, base.toDF)
  }

  test("row-mode scatter append continues numbering and row order") {
    val src = tempDir("scatter-rowapp-src")
    writeDatetimeSample(spark, src)
    val base = PDataset.scanParquet(spark, src).reindex(Seq.empty)
    val rp = base.repartition(17)
    val target = tempDir("scatter-rowapp-out") + "/ds"
    rp.writeParquet(target)
    val appended = rp.writeParquet(target, append = true)
    assert(appended.toDF.count() == 196)
    assert(appended.npartitions == 12)
    assert(appended.sizes.get == Vector.fill(2)(
      Vector(17L, 17L, 17L, 17L, 17L, 13L)).flatten)
    // second copy preserves global row order too
    val secondA = (6 until 12).flatMap(i =>
      appended(i).select("a").collect().map(_.getLong(0)))
    assert(secondA == (-2L until 96L), s"appended row order: $secondA")
  }

  private def assertSamePartitions(src: PDataset, out: PDataset): Unit = {
    assert(out.npartitions == src.npartitions)
    (0 until src.npartitions).foreach { i =>
      assert(out(i).collect() sameElements src(i).collect(),
        s"partition $i lost its row order")
    }
  }

  private def payloadDF(lo: Long, hi: Long, slices: Int) =
    spark.range(lo, hi, 1, slices).select(col("id").as("k"),
      sha2(col("id").cast("string"), 512).as("payload"))

  test("sliced or repeated file partitions write via one scatter job") {
    val src = tempDir("scatter-fallback-src")
    writeDatetimeSample(spark, src)
    val base = PDataset.scanParquet(spark, src).reindex(datetimeIndexColumns)
    val stored = base.repartition(8)
      .writeParquet(tempDir("scatter-fallback-stored") + "/ds")
    // A slice leaves residual filters on boundary partitions — the
    // one-relation file tagger cannot express per-partition filters,
    // so these partitions are unioned and tagged one by one.
    val sliced = stored.slice(lb = datetimeLowerBounds(1))
    val (out, jobs) =
      countJobs(sliced.writeParquet(tempDir("scatter-fallback-out") + "/ds"))
    assert(jobs <= 7, s"expected O(1) jobs for the sliced write, saw $jobs")
    assert(out.toDF.count() == sliced.toDF.count())
    checkBoundsAndSizes(out)
    // a repeated file would collapse two partitions onto one ordinal
    val (rOut, rJobs) = countJobs(PDataset.concat(Seq(stored, stored))
      .writeParquet(tempDir("scatter-repeated-out") + "/ds"))
    assert(rJobs <= 6, s"expected O(1) jobs for the repeated write, saw $rJobs")
    assert(rOut.npartitions == 2 * stored.npartitions)
    assertSameRows(rOut.toDF, stored.toDF.union(stored.toDF))
  }

  test("multi-row-group and lazy partitions write via one scatter job " +
      "in row order") {
    // files holding several row groups, each split over several scan
    // tasks: the file tagger restores order from the row's position
    val conf = spark.conf
    val oldSplit = conf.get("spark.sql.files.maxPartitionBytes")
    conf.set("parquet.block.size", "1024")
    conf.set("parquet.page.size.row.check.min", "4")
    try {
      val multi = PDataset.concat((0 until 200 by 20).map(lo =>
        PDataset.fromDataFrame(payloadDF(lo, lo + 20L, 1), Seq("k"))))
        .writeParquet(tempDir("scatter-rowgroups-src") + "/ds")
      conf.set("spark.sql.files.maxPartitionBytes", "512")
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(multi.toDF.inputFiles.min),
          spark.sessionState.newHadoopConf()))
      try assert(footer.getRowGroups.size > 1,
        "fixture files must hold several row groups")
      finally footer.close()
      assert(multi(0).rdd.getNumPartitions > 1,
        "fixture files must span several splits")
      val (mOut, mJobs) = countJobs(
        multi.writeParquet(tempDir("scatter-rowgroups-out") + "/ds"))
      assert(mJobs <= 6, s"expected O(1) jobs for the file rewrite, saw $mJobs")
      assertSamePartitions(multi, mOut)
    } finally {
      conf.unset("parquet.block.size")
      conf.unset("parquet.page.size.row.check.min")
      conf.set("spark.sql.files.maxPartitionBytes", oldSplit)
    }

    // lazy partitions of several scan tasks each
    val lazyParts = PDataset.concat((0 until 160 by 20).map(lo =>
      PDataset.fromDataFrame(payloadDF(lo, lo + 20L, 3))))
    val (lOut, lJobs) = countJobs(
      lazyParts.writeParquet(tempDir("scatter-lazy-out") + "/ds"))
    assert(lJobs <= 6, s"expected O(1) jobs for the lazy write, saw $lJobs")
    assertSamePartitions(lazyParts, lOut)
  }
}
