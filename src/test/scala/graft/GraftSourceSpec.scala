package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PDataset
import graft.operators.Maintenance
import Fixtures._

/** Static latches for the concurrent-compact append test: the blocked
  * write task and the test thread rendezvous through them (same JVM
  * in local mode). */
object AppendRaceGate {
  val started = new java.util.concurrent.CountDownLatch(1)
  val gate = new java.util.concurrent.CountDownLatch(1)
}

/** A re-armable write-window gate for the sink-append race tests:
  * the appended frame's UDF signals `started` and then blocks on
  * `gate`, holding the append inside its write job. */
object SinkWindowGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}

/** `spark.read.format("graft")`: the registered short name over a
  * sidecar-carrying dataset directory — correct rows, sidecar schema,
  * plan-time file pruning, and plain-SQL access. */
class GraftSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val sf = "/root/testdata/sf0.001"

  lazy val dir: String = {
    val out = tempDir("graft-source-spec") + "/li.parquet"
    PDataset.scanParquet(spark, s"$sf/lineitem.parquet")
      .reindex(Seq("l_shipdate"))
      .repartition(800)
      .writeParquet(out)
    out
  }


  test("format(\"graft\") reads the dataset with the sidecar schema") {
    val got = spark.read.format("graft").load(dir)
    val want = PDataset.scanParquet(spark, dir)
    assert(got.schema == want.schemaOption.get)
    assertSameRows(got, want.toDF)
  }

  test("pushed filters on the index column prune planned files") {
    val ds = PDataset.scanParquet(spark, dir)
    val total = ds.npartitions
    assert(total >= 4)
    val lastLb = ds.lowerBounds.get.last.head.get
      .asInstanceOf[java.time.LocalDateTime]
    val pruned = spark.read.format("graft").load(dir)
      .filter(col("l_shipdate") >= lit(lastLb))
    assert(scannedFiles(pruned) == 1,
      s"expected 1 of $total files planned")
    // correctness: equal to the unpruned filter
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(lastLb)).count()
    assert(pruned.count() == want)
  }

  test("plain SQL over a graft view") {
    spark.read.format("graft").load(dir).createOrReplaceTempView("li_graft")
    val n = spark.sql("SELECT count(*) AS n FROM li_graft").collect()(0).getLong(0)
    val want = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(n == want)
  }

  test("SET spark.graft.views answers plain SQL aggregates from the view") {
    val root = tempDir("graft-conf-view")
    val src = root + "/src"
    val view = root + "/view"
    spark.range(0, 600).select(
      col("id").as("k"), (col("id") % 10).as("grp"),
      (col("id") % 13).cast("double").as("qty"))
      .write.format("graft").option("index", "k").save(src)
    graft.operators.IncrementalAgg.build(
      spark, src, view, Seq("grp"), Seq("qty"))
    // no Scala registration: the table and the routing conf are both
    // plain SQL (the rule installs on graft relation creation)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW conf_view_src " +
      s"USING graft OPTIONS (path '$src')")
    spark.conf.set(graft.plans.ConfViewRewrites.Key, view)
    try {
      val q = spark.sql(
        "SELECT grp, count(*) AS n, sum(qty) AS s FROM conf_view_src " +
          "GROUP BY grp")
      val got = q.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      // the plan must read the VIEW's files, never the source's
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      // AQE buries scans inside leaf QueryStageExec nodes: traverse
      // through stages, or a grouped query shows zero file scans.
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: QueryStageExec => scans(s.plan)
        case r: ReusedExchangeExec => scans(r.child)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val files = scans(q.queryExecution.executedPlan)
        .flatMap(_.relation.location.inputFiles)
      assert(files.nonEmpty && files.forall(_.contains("/view")),
        s"expected the SQL aggregate answered from the view, scanned:\n" +
          files.mkString("\n"))
      val want = spark.read.parquet(src)
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("qty").as("s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(got == want)
      // unsetting the conf restores the source scan
      spark.conf.unset(graft.plans.ConfViewRewrites.Key)
      val q2 = spark.sql(
        "SELECT grp, sum(qty) AS s FROM conf_view_src GROUP BY grp")
      q2.collect()
      val files2 = scans(q2.queryExecution.executedPlan)
        .flatMap(_.relation.location.inputFiles)
      assert(files2.forall(_.contains("/src")),
        s"expected the source scan back after RESET, got:\n" +
          files2.mkString("\n"))
    } finally spark.conf.unset(graft.plans.ConfViewRewrites.Key)
  }

  test("sink option(\"bloom\", ...) adds point-lookup file skipping") {
    val out = tempDir("graft-source-bloom") + "/o.parquet"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.write.format("graft")
      .option("index", "o_orderdate").option("files", "8")
      .option("bloom", "o_orderkey")
      .save(out)
    assert(graft.core.BloomIndex.exists(spark, out))
    val q = spark.read.format("graft").load(out)
      .filter(col("o_orderkey") === 700L) // non-index point lookup
    assert(q.count() == 1)
    assert(scannedFiles(q) <= 2, "bloom built by the sink must prune")
  }

  test("write.format(\"graft\") produces a pruning-capable dataset") {
    val out = tempDir("graft-source-write") + "/o.parquet"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.write.format("graft")
      .option("index", "o_orderdate").option("files", "6")
      .save(out)
    // reopens through BOTH surfaces with identical rows
    val viaSource = spark.read.format("graft").load(out)
    val viaEngine = PDataset.scanParquet(spark, out)
    assert(viaEngine.npartitions == 6)
    assert(viaEngine.indexColumns == Seq("o_orderdate"))
    assertSameRows(viaSource, orders)
    // range clustering makes the index column prune
    val lastLb = viaEngine.lowerBounds.get.last.head.get
      .asInstanceOf[java.time.LocalDateTime]
    val pruned = viaSource.filter(col("o_orderdate") >= lit(lastLb))
    assert(scannedFiles(pruned) < 6)
    // append keeps the sidecar consistent (all rows, both generations)
    val extra = orders.limit(100)
    extra.write.format("graft").mode("append")
      .option("index", "o_orderdate").option("files", "2").save(out)
    val appended = spark.read.format("graft").load(out)
    assert(appended.count() == orders.count() + 100)
  }

  test("sink append is O(delta): pre-existing files are not re-read") {
    val out = tempDir("graft-source-incr") + "/o.parquet"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.write.format("graft")
      .option("index", "o_orderdate").option("files", "8").save(out)
    val total = orders.count()
    // Local rows (no file input) so every record READ during the
    // append is attributable to graft: the delta write's stats job.
    val localRows = orders.limit(100).collect()
    val extra = spark.createDataFrame(
      java.util.Arrays.asList(localRows: _*), orders.schema)
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      extra.write.format("graft").mode("append")
        .option("index", "o_orderdate").option("files", "1").save(out)
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    // Old behavior re-statted the WHOLE table (>= 15000 records at
    // this sf); the incremental path stats only the ~100 new rows.
    assert(read.get < 2000,
      s"append read ${read.get} records; expected only the delta")
    val appended = spark.read.format("graft").load(out)
    assert(appended.count() == total + 100)
    // merged sidecar still serves engine reads with sane metadata
    val ds = PDataset.scanParquet(spark, out)
    assert(ds.npartitions == 9)
    assert(ds.sizes.get.sum == total + 100)
  }

  test("sink append validates schema against the target sidecar") {
    val out = tempDir("graft-source-appcheck") + "/o.parquet"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.limit(500).write.format("graft")
      .option("index", "o_orderdate").option("files", "2").save(out)
    // unknown column: would be silently hidden by the sidecar schema
    val extraCol = orders.limit(10).withColumn("bonus", lit(1))
    val e1 = intercept[IllegalArgumentException] {
      extraCol.write.format("graft").mode("append")
        .option("index", "o_orderdate").save(out)
    }
    assert(e1.getMessage.contains("does not exist"))
    // conflicting type: would corrupt/fail later reads
    val badType = orders.limit(10)
      .withColumn("o_orderkey", col("o_orderkey").cast("string"))
    val e2 = intercept[IllegalArgumentException] {
      badType.write.format("graft").mode("append")
        .option("index", "o_orderdate").save(out)
    }
    assert(e2.getMessage.contains("conflicts"))
    // mismatched index columns are rejected too
    val e3 = intercept[IllegalArgumentException] {
      orders.limit(10).write.format("graft").mode("append")
        .option("index", "o_custkey").save(out)
    }
    assert(e3.getMessage.contains("index columns"))
    // nothing was installed: the dataset still reads whole
    assert(spark.read.format("graft").load(out).count() == 500)
  }

  test("option(\"mergeSchema\") evolves the target on append; plain " +
      "appends may omit the index option") {
    val out = tempDir("graft-source-evolve") + "/o.parquet"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.limit(500).write.format("graft")
      .option("index", "o_orderdate").option("files", "2").save(out)

    // append WITHOUT option("index"): the target's clustering applies
    orders.limit(10).write.format("graft").mode("append").save(out)
    assert(spark.read.format("graft").load(out).count() == 510)

    // mergeSchema adds the new column; old files serve it as null
    val widened = orders.limit(10).withColumn("bonus", lit(7))
    widened.write.format("graft").mode("append")
      .option("mergeSchema", "true").save(out)
    val back = spark.read.format("graft").load(out)
    assert(back.count() == 520)
    assert(back.schema.fieldNames.contains("bonus"))
    assert(back.filter(col("bonus").isNull).count() == 510)
    assert(back.filter(col("bonus") === 7).count() == 10)

    // evolution adds columns — a type CONFLICT still refuses
    val bad = orders.limit(5)
      .withColumn("o_orderkey", col("o_orderkey").cast("string"))
    val e = intercept[IllegalArgumentException] {
      bad.write.format("graft").mode("append")
        .option("mergeSchema", "true").save(out)
    }
    assert(e.getMessage.contains("conflicts"), e.getMessage)
    // without the option, a new column still refuses with guidance
    val e2 = intercept[IllegalArgumentException] {
      orders.limit(5).withColumn("extra2", lit(1))
        .write.format("graft").mode("append").save(out)
    }
    assert(e2.getMessage.contains("does not exist"), e2.getMessage)
  }

  test("bloom option rejects unsupported column types before the write") {
    val out = tempDir("graft-source-badbloom") + "/o.parquet"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val e = intercept[IllegalArgumentException] {
      orders.write.format("graft")
        .option("index", "o_orderdate")
        .option("bloom", "o_totalprice") // double: unsupported
        .save(out)
    }
    assert(e.getMessage.contains("integral and string"))
    // fail-fast: the expensive write never ran
    val (fs, p) = graft.core.GraftFs.resolve(spark, out)
    assert(graft.core.GraftFs.statusOf(fs, p).isEmpty)
  }

  test("sink append extends an existing bloom index incrementally") {
    val out = tempDir("graft-source-bloomapp") + "/o.parquet"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.write.format("graft")
      .option("index", "o_orderdate").option("files", "8")
      .option("bloom", "o_orderkey")
      .save(out)
    val probe = orders.orderBy(col("o_orderkey").desc).limit(1)
      .collect()(0).getAs[Long]("o_orderkey")
    val extra = spark.createDataFrame(
      java.util.Arrays.asList(orders.limit(50).collect(): _*), orders.schema)
    extra.write.format("graft").mode("append")
      .option("index", "o_orderdate").option("files", "1").save(out)
    assert(graft.core.BloomIndex.exists(spark, out))
    // the appended generation is covered: a point lookup on a key that
    // lives ONLY in generation files still prunes and still answers
    val q = spark.read.format("graft").load(out)
      .filter(col("o_orderkey") === probe)
    assert(q.count() >= 1)
    assert(scannedFiles(q) <= 3, "bloom must keep pruning after append")
  }

  test("option(\"changesFrom\") serves the change feed to SQL users") {
    import spark.implicits._
    import graft.operators.Maintenance
    val out = tempDir("graft-source-cdc") + "/ds"
    val base = (0L until 300L).map(k => (k, s"v$k")).toDF("k", "payload")
    PDataset.fromDataFrame(base, Seq("k")).repartition(100).writeParquet(out)
    Maintenance.upsert(spark, out,
      Seq((42L, "NEW"), (9000L, "INS")).toDF("k", "payload"), retain = true)

    val feed = spark.read.format("graft").option("changesFrom", "0").load(out)
    val got = feed.select("k", "payload", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((42L, "v42", "update_preimage"),
      (42L, "NEW", "update_postimage"), (9000L, "INS", "insert")))
    // plain SQL over a temp view works too
    feed.createOrReplaceTempView("cdc_feed")
    assert(spark.sql(
      "SELECT count(*) FROM cdc_feed WHERE change_type = 'insert'")
      .head().getLong(0) == 1L)
    // exclusive with time travel options
    assertThrows[IllegalArgumentException] {
      spark.read.format("graft").option("changesFrom", "0")
        .option("version", "0").load(out).collect()
    }
    // timestamp endpoints: epoch resolves to the oldest snapshot
    // (same feed), "now" to the current generation (empty feed)
    val byTs = spark.read.format("graft")
      .option("changesFromTimestamp", "0").load(out)
      .select("k", "payload", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(byTs == got)
    val now = System.currentTimeMillis() + 60000L
    assert(spark.read.format("graft")
      .option("changesFromTimestamp", now.toString).load(out).count() == 0L)
    // an upper endpoint without its matching lower endpoint would be
    // silently ignored — rejected instead
    assertThrows[IllegalArgumentException] {
      spark.read.format("graft").option("changesTo", "1").load(out)
    }
    assertThrows[IllegalArgumentException] {
      spark.read.format("graft").option("changesFrom", "0")
        .option("changesToTimestamp", now.toString).load(out)
    }
  }

  test("sink append self-heals when a concurrent writer commits mid-write") {
    import spark.implicits._
    val out = tempDir("graft-source-race") + "/ds"
    val base = (0L until 300L).map(k => (k, s"v$k")).toDF("k", "payload")
    PDataset.fromDataFrame(base, Seq("k")).repartition(100).writeParquet(out)
    // A UDF evaluated INSIDE the append's write job plays the
    // concurrent writer: it bumps the sidecar's length (valid JSON —
    // trailing whitespace) after the append loaded it but before the
    // merged listing is installed. local[*] executors share the JVM
    // and filesystem, so this lands exactly in the guard's window.
    // The OCC retry then reloads the (advanced) sidecar, re-merges
    // this write's files against it, and installs — the append LANDS
    // instead of aborting, without re-running the data write.
    val metaFile = s"$out/_padawan_metadata.json"
    val trip = udf { k: Long =>
      val fos = new java.io.FileOutputStream(metaFile, true)
      try fos.write(' ') finally fos.close()
      // the raw append bypasses Hadoop's LocalFileSystem checksum
      // bookkeeping — drop the stale .crc so later reads verify
      val _ = new java.io.File(s"$out/._padawan_metadata.json.crc").delete()
      k
    }
    val extra = spark.range(1000L, 1010L)
      .select(trip(col("id")).as("k"), concat(lit("x"), col("id")).as("payload"))
    extra.write.format("graft").mode("append")
      .option("index", "k").option("files", "1").save(out)
    val got = spark.read.format("graft").load(out)
    assert(got.count() == 310L)
    assert(got.filter(col("k") >= 1000L).count() == 10L)
    // every data file on disk is registered: the retry merged THIS
    // write's files once — no orphans from a re-run, no double entry
    val m = graft.core.Sidecar.load(spark, out)
    assert(m.files.length == m.files.distinct.length)
    val (fs, p) = graft.core.GraftFs.resolve(spark, out)
    val onDisk = fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")).toSet
    assert(onDisk == m.files.toSet,
      s"disk/sidecar mismatch: ${onDisk.diff(m.files.toSet)} orphaned")
  }

  test("sink append lands past a concurrent compact (bounded OCC retry)") {
    import spark.implicits._
    val out = tempDir("graft-source-occ") + "/ds"
    val base = (0L until 300L).map(k => (k, s"v$k")).toDF("k", "payload")
    PDataset.fromDataFrame(base, Seq("k")).repartition(50).writeParquet(out)
    // The appended frame's first evaluated row signals the main
    // thread and then blocks, holding the append's write window open
    // while a REAL compact commits underneath it; the gate then
    // releases and the append's install must detect the moved
    // fingerprint, re-merge against the compacted listing, and land.
    val block = udf { k: Long =>
      AppendRaceGate.started.countDown()
      AppendRaceGate.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
      k
    }
    val extra = spark.range(1000L, 1010L)
      .select(block(col("id")).as("k"),
        concat(lit("x"), col("id")).as("payload"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future {
      extra.write.format("graft").mode("append")
        .option("index", "k").option("files", "1").save(out)
    }
    assert(AppendRaceGate.started.await(
      60, java.util.concurrent.TimeUnit.SECONDS), "append never started")
    val rep = Maintenance.compact(spark, out, targetRows = 300)
    assert(rep.merged > 0, s"compact was a no-op: $rep")
    AppendRaceGate.gate.countDown()
    Await.result(fut, 120.seconds)
    val got = spark.read.format("graft").load(out)
    assert(got.count() == 310L)
    assert(got.filter(col("k") >= 1000L).count() == 10L)
    // the compacted files and the appended file coexist in the
    // listing; nothing on disk is orphaned (the data write ran once)
    val m = graft.core.Sidecar.load(spark, out)
    val (fs, p) = graft.core.GraftFs.resolve(spark, out)
    val onDisk = fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")).toSet
    assert(onDisk == m.files.toSet,
      s"disk/sidecar mismatch: ${onDisk.diff(m.files.toSet)} orphaned")
  }

  /** 4 files of 50 consecutive keys (k, payload = "orig"). */
  private def writeFourFiles(out: String): Unit = {
    val parts = (0L until 200L by 50L).map { lo =>
      PDataset.fromDataFrame(spark.range(lo, lo + 50L).select(
        col("id").as("k"), lit("orig").as("payload")), Seq("k"))
    }
    PDataset.concat(parts).writeParquet(out)
  }

  /** Rows k = 1000..1009 from ONE task that blocks on [[SinkWindowGate]]
    * (`gated`) or runs freely. */
  private def tenRows(gated: Boolean) = {
    val block = udf { k: Long =>
      SinkWindowGate.started.countDown()
      SinkWindowGate.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
      k
    }
    val id = col("id")
    spark.range(1000L, 1010L, 1L, 1)
      .select((if (gated) block(id) else id).as("k"), lit("mine").as("payload"))
  }

  /** Every parquet file in the table directory is registered. */
  private def assertNoOrphans(out: String): Unit = {
    val m = graft.core.Sidecar.load(spark, out)
    val (fs, p) = graft.core.GraftFs.resolve(spark, out)
    val onDisk = fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")).toSet
    assert(onDisk == m.files.toSet,
      s"disk/sidecar mismatch: ${onDisk.diff(m.files.toSet)} orphaned")
  }

  /** Start the gated ten-row append on another thread and wait until
    * it is inside its write job; returns its future. */
  private def heldAppend(out: String, options: Map[String, String] = Map.empty)
      : scala.concurrent.Future[Unit] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    SinkWindowGate.reset()
    val fut = scala.concurrent.Future {
      tenRows(gated = true).write.format("graft").mode("append")
        .options(options).option("files", "1").save(out)
    }
    assert(SinkWindowGate.started.await(
      60, java.util.concurrent.TimeUnit.SECONDS), "append never started")
    fut
  }

  test("sink append racing an upsert's install registers only its own " +
      "files") {
    import spark.implicits._
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val out = tempDir("graft-source-upsert-race") + "/ds"
    writeFourFiles(out)
    val fut = heldAppend(out)
    // the upsert's new file is durable but uninstalled at its seam:
    // release the append there and let it commit first
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      SinkWindowGate.gate.countDown()
      Await.result(fut, 120.seconds)
    }
    try Maintenance.upsert(spark, out, Seq((25L, "v25")).toDF("k", "payload"))
    finally Maintenance.beforeRowLevelInstall = () => ()
    val got = spark.read.format("graft").load(out)
    assert(got.count() == 210L)
    assert(got.select("k").distinct().count() == 210L, "a key is duplicated")
    assert(got.filter(col("k") === 25L).collect().map(_.getString(1))
      .toSeq == Seq("v25"))
    assert(got.filter(col("payload") === "mine").count() == 10L)
    assertNoOrphans(out)
  }

  test("a replayed txn batch racing the original lands once") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val out = tempDir("graft-source-txn-race") + "/ds"
    PDataset.fromDataFrame(spark.range(0L, 100L).select(
      col("id").as("k"), lit("orig").as("payload")), Seq("k"))
      .writeParquet(out)
    val txn = Map("txnAppId" -> "w", "txnVersion" -> "1")
    val fut = heldAppend(out, txn)
    // the replay commits while the original is inside its write job
    tenRows(gated = false).write.format("graft").mode("append")
      .options(txn).option("files", "1").save(out)
    SinkWindowGate.gate.countDown()
    Await.result(fut, 120.seconds)
    val got = spark.read.format("graft").load(out)
    assert(got.count() == 110L)
    assert(got.filter(col("payload") === "mine").count() == 10L)
    assert(graft.core.Sidecar.load(spark, out).txnVersions == Map("w" -> 1L))
    assertNoOrphans(out)
  }

  test("a COPY INTO whose ledger clashes at install aborts and removes " +
      "its files") {
    val root = tempDir("graft-source-copy-race")
    val out = root + "/t"
    val landing = root + "/landing"
    writeFourFiles(out)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    graft.core.Sidecar.writeSingleParquet(tenRows(gated = false),
      landing + "/a.parquet")
    // a concurrent COPY INTO of the same file commits first
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      graft.operators.CopyInto.copyInto(spark, out, landing, "parquet")
      ()
    }
    val e =
      try intercept[IllegalStateException] {
        graft.operators.CopyInto.copyInto(spark, out, landing, "parquet")
      } finally Maintenance.beforeRowLevelInstall = () => ()
    assert(e.getMessage.contains("concurrent COPY INTO"), e.getMessage)
    val got = spark.read.format("graft").load(out)
    assert(got.count() == 210L, "the file must load exactly once")
    assertNoOrphans(out)
  }

  test("sink append during a concurrent addColumns aborts and leaves " +
      "the rows unchanged") {
    val out = tempDir("graft-source-schema-race") + "/ds"
    writeFourFiles(out)
    Maintenance.beforeRowLevelInstall = () => {
      Maintenance.beforeRowLevelInstall = () => ()
      Maintenance.addColumns(spark, out, org.apache.spark.sql.types
        .StructField("extra", org.apache.spark.sql.types.StringType))
    }
    try intercept[java.util.ConcurrentModificationException] {
      tenRows(gated = false).write.format("graft").mode("append")
        .option("files", "1").save(out)
    } finally Maintenance.beforeRowLevelInstall = () => ()
    val got = spark.read.format("graft").load(out)
    assert(got.count() == 200L)
    assert(got.columns.contains("extra"))
    assertNoOrphans(out)
  }

  test("constraints land and trip purely through the SQL surface") {
    import spark.implicits._
    val out = tempDir("graft-source-ddl") + "/ds"
    val base = (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "price")
    // declare at write time: the ALTER TABLE ADD CONSTRAINT analogue
    base.write.format("graft").option("index", "k")
      .option("constraint.price_pos", "price > 0").save(out)
    // visible through the read surface (SHOW CONSTRAINTS analogue)
    val cs = spark.read.format("graft")
      .option("constraints", "true").load(out)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(cs == Seq("price_pos" -> "price > 0"), cs.toString)
    // a violating append trips the recorded constraint BEFORE any
    // data lands
    val e = intercept[graft.operators.Constraints.Violation] {
      Seq((200L, -1.0)).toDF("k", "price").write.format("graft")
        .mode("append").option("index", "k").save(out)
    }
    assert(e.getMessage.contains("price_pos"))
    assert(spark.read.format("graft").load(out).count() == 100L)
    // a conforming append re-declaring the same constraint is
    // idempotent and lands
    Seq((200L, 5.0)).toDF("k", "price").write.format("graft")
      .mode("append").option("index", "k")
      .option("constraint.price_pos", "price > 0").save(out)
    assert(spark.read.format("graft").load(out).count() == 101L)
    // declaring a recorded name with a different expression is
    // rejected; a violated NEW declaration refuses and is not recorded
    assertThrows[IllegalArgumentException] {
      Seq((201L, 5.0)).toDF("k", "price").write.format("graft")
        .mode("append").option("index", "k")
        .option("constraint.price_pos", "price > 1").save(out)
    }
    assertThrows[graft.operators.Constraints.Violation] {
      Seq((202L, 5.0)).toDF("k", "price").write.format("graft")
        .mode("append").option("index", "k")
        .option("constraint.price_cap", "price < 100").save(out)
    }
    assert(spark.read.format("graft").option("constraints", "true")
      .load(out).collect().map(_.getString(0)).toSeq == Seq("price_pos"))
    // DROP CONSTRAINT analogue: dropping the guard and writing data
    // it would have tripped is one write
    Seq((300L, -7.0)).toDF("k", "price").write.format("graft")
      .mode("append").option("index", "k")
      .option("dropConstraint", "price_pos").save(out)
    assert(spark.read.format("graft").load(out)
      .filter(col("price") < 0).count() == 1L)
    assert(spark.read.format("graft").option("constraints", "true")
      .load(out).count() == 0L)
  }

  test("statement DDL: constraint lifecycle, DESCRIBE HISTORY and " +
      "VACUUM purely via spark.sql") {
    import spark.implicits._
    val out = tempDir("graft-sql-ddl") + "/ds"
    val g = s"graft.`$out`"
    (1L to 50L).map(k => (k, k * 2.0)).toDF("k", "price")
      .write.format("graft").option("index", "k").save(out)
    // ADD CONSTRAINT validates the existing table, then records
    spark.sql(s"ALTER TABLE $g ADD CONSTRAINT price_pos CHECK (price > 0)")
    assert(spark.sql(s"SHOW CONSTRAINTS $g").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("price_pos", "price > 0")))
    // the recorded constraint guards writes exactly like the
    // options-DDL path
    intercept[graft.operators.Constraints.Violation] {
      Seq((60L, -1.0)).toDF("k", "price").write.format("graft")
        .mode("append").option("index", "k").save(out)
    }
    // a violated NEW declaration refuses through SQL and records
    // nothing
    intercept[graft.operators.Constraints.Violation] {
      spark.sql(s"ALTER TABLE $g ADD CONSTRAINT cap CHECK (price < 10)")
    }
    // DROP CONSTRAINT with and without IF EXISTS, idempotent
    spark.sql(s"ALTER TABLE $g DROP CONSTRAINT IF EXISTS price_pos")
    spark.sql(s"ALTER TABLE $g DROP CONSTRAINT price_pos")
    assert(spark.sql(s"SHOW CONSTRAINTS $g").isEmpty)
    // retained mutations feed DESCRIBE HISTORY
    Maintenance.deleteKeys(spark, out, Seq(1L).toDF("k"), retain = true)
    Maintenance.deleteKeys(spark, out, Seq(2L).toDF("k"), retain = true)
    val hist = spark.sql(s"DESCRIBE HISTORY $g").collect()
    assert(hist.map(_.getAs[Int]("version")).toSeq == Seq(0, 1, 2))
    assert(hist.map(_.getAs[Boolean]("is_current")).toSeq
      == Seq(false, false, true))
    // VACUUM (path-string address) drops generations past RETAIN LAST
    spark.sql(s"VACUUM '$out' RETAIN LAST 1").head().getInt(0)
    assert(spark.sql(s"DESCRIBE HISTORY $g").collect()
      .map(_.getAs[Int]("version")).toSeq == Seq(1, 2))
    // DESCRIBE DETAIL: one driver-side summary row, no data read
    val det = spark.sql(s"DESCRIBE DETAIL $g").head()
    assert(det.getAs[Long]("n_rows") == 48)
    assert(det.getAs[String]("index_columns") == "k")
    assert(!det.getAs[Boolean]("pending_deletion_vectors"))
    assert(det.getAs[Int]("retained_versions") == 1)
    // OPTIMIZE bin-packs via SQL; rows unchanged
    spark.sql(s"OPTIMIZE $g TARGET 1000 ROWS").head()
    assert(spark.read.format("graft").load(out).count() == 48)
    // RESTORE rolls back to the retained generation (49 rows: only
    // the first delete applied)
    spark.sql(s"RESTORE TABLE $g TO VERSION AS OF 1")
    assert(spark.read.format("graft").load(out).count() == 49)
    // non-graft statements pass through untouched
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) == 2)
  }

  test("statement DDL: bare VACUUM refuses, OLDER THAN retention, " +
      "RESTORE TO TIMESTAMP and OPTIMIZE ZORDER BY via spark.sql") {
    import spark.implicits._
    val out = tempDir("graft-sql-ddl2") + "/ds"
    val g = s"graft.`$out`"
    (1L to 60L).map(k => (k, k * 2.0)).toDF("k", "price")
      .write.format("graft").option("index", "k")
      .option("files", "6").save(out)
    Maintenance.deleteKeys(spark, out, Seq(1L).toDF("k"), retain = true)
    Thread.sleep(20)
    val midTs = System.currentTimeMillis()
    Thread.sleep(20)
    Maintenance.deleteKeys(spark, out, Seq(2L).toDF("k"), retain = true)
    // bare VACUUM would silently destroy ALL retained history —
    // retention must be explicit (RETAIN LAST 0 opts into the clean)
    val bare = intercept[Exception] {
      spark.sql(s"VACUUM $g").collect()
    }
    assert(bare.getMessage.contains("RETAIN LAST"), bare.getMessage)
    assert(Maintenance.versions(spark, out) == Seq(0, 1))
    // RESTORE ... TO TIMESTAMP AS OF: the generation current at the
    // instant between the two deletes had 59 rows
    spark.sql(s"RESTORE TABLE $g TO TIMESTAMP AS OF " +
      s"'${java.time.Instant.ofEpochMilli(midTs)}'")
    assert(spark.read.format("graft").load(out).count() == 59)
    // OLDER THAN an ancient cutoff keeps every (younger) generation
    spark.sql(s"VACUUM $g OLDER THAN '1970-01-02'").collect()
    assert(Maintenance.versions(spark, out).nonEmpty)
    // OPTIMIZE ZORDER BY ... INTO clusters a COPY; both clustered
    // columns then prune planned files through the stats sidecar
    val zdir = tempDir("graft-sql-zorder") + "/z"
    val written = spark.sql(s"OPTIMIZE $g ZORDER BY (k, price) " +
      s"TARGET 4 FILES INTO '$zdir'").head().getInt(0)
    assert(written == 4)
    val zr = graft.operators.Layout.zorderRead(spark, zdir)
    assert(zr.count() == 59)
    val pruned = zr.filter(col("price") <= 20.0)
    assert(pruned.count() == 9) // k in 2..10 (k=1 deleted), price = 2k
    assert(scannedFiles(pruned) < 4,
      "z-order stats must prune on the second clustered column")
    // in-place on a graft dataset refuses (would destroy the sidecar)
    val ip = intercept[Exception] {
      spark.sql(s"OPTIMIZE $g ZORDER BY (k)").collect()
    }
    assert(ip.getMessage.contains("INTO"), ip.getMessage)
    // in-place re-cluster of a z-order dir is allowed
    spark.sql(s"OPTIMIZE '$zdir' ZORDER BY (price) TARGET 2 FILES")
    assert(graft.operators.Layout.zorderRead(spark, zdir).count() == 59)
    // DRY RUN previews the reclaim without touching anything — and
    // the bare form is allowed there (it deletes nothing)
    val preview = spark.sql(s"VACUUM $g DRY RUN").head().getInt(0)
    assert(preview > 0, "the restore left unreferenced files to report")
    assert(Maintenance.versions(spark, out).nonEmpty,
      "DRY RUN must not delete the history")
    // OLDER THAN INTERVAL resolving to "now" clears the whole history
    Thread.sleep(20)
    val reclaimed =
      spark.sql(s"VACUUM $g OLDER THAN INTERVAL 0 MINUTES").head().getInt(0)
    assert(reclaimed == preview,
      s"the real vacuum must reclaim what DRY RUN previewed " +
        s"($reclaimed != $preview)")
    assert(Maintenance.versions(spark, out).isEmpty)
  }

  test("timestamp options accept dates and reject junk with guidance") {
    import spark.implicits._
    val out = tempDir("graft-source-ts") + "/ds"
    val base = (0L until 50L).map(k => (k, s"v$k")).toDF("k", "payload")
    PDataset.fromDataFrame(base, Seq("k")).writeParquet(out)
    graft.operators.Maintenance.upsert(spark, out,
      Seq((9000L, "INS")).toDF("k", "payload"), retain = true)
    // a plain ISO date now parses (as UTC midnight): far future = the
    // current generation
    assert(spark.read.format("graft")
      .option("asOfTimestamp", "2100-01-01").load(out).count() == 51L)
    // junk names the option's accepted forms instead of escaping as a
    // bare DateTimeParseException
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("asOfTimestamp", "not-a-timestamp").load(out)
    }
    assert(e.getMessage.contains("accepted"))
    assert(e.getMessage.contains("epoch millis"))
  }

  test("graft sink demands the index option") {
    val out = tempDir("graft-source-noindex") + "/x.parquet"
    val e = intercept[IllegalArgumentException] {
      spark.range(5).toDF("v").write.format("graft").save(out)
    }
    assert(e.getMessage.contains("index"))
  }

  test("a directory without a sidecar is rejected with guidance") {
    val plain = tempDir("graft-source-plain")
    spark.range(10).write.mode("overwrite").parquet(plain)
    val e = intercept[Exception] {
      spark.read.format("graft").load(plain).collect()
    }
    assert(e.getMessage != null)
  }
}
