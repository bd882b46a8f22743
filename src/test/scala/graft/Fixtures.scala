package graft

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import java.time.{Duration, Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Lex, PDataset, Sidecar}
import graft.core.Lex.Bound

/** Ports of the reference test fixtures (padawan `tests/fixtures.py`):
  * nulls in index columns, empty partition files interleaved with data
  * files, and temporal types (timestamp/date/daytime-interval) as the
  * composite index.
  */
object Fixtures {

  def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s + "Z"))
  def dt(s: String): Date = Date.valueOf(LocalDate.parse(s))
  def hrs(h: Long): Duration = Duration.ofHours(h)

  def b(vs: Any*): Bound = vs.map(Option(_)).toVector

  val datetimeSchema: StructType = StructType(Seq(
    StructField("t", TimestampType),
    StructField("date", DateType),
    StructField("hour", DayTimeIntervalType()),
    StructField("a", LongType, nullable = false)))

  /** 98 rows = 2 null-bearing rows + 96 hourly rows over 4 days, written
    * as 4 non-empty partitions (26/24/24/24) interleaved with 4 empty
    * parquet files (fixtures.py:23-76). */
  def writeDatetimeSample(spark: SparkSession, dir: String): Unit = {
    val rows = datetimeRows
    val divisions = Seq(0, 26, 50, 74, 98)
    clearDir(dir)
    divisions.sliding(2).zipWithIndex.foreach { case (Seq(s, e), i) =>
      val part = spark.createDataFrame(
        java.util.Arrays.asList(rows.slice(s, e): _*), datetimeSchema)
      Sidecar.writeSingleParquet(part,
        Paths.get(dir, s"part${2 * i}.parquet").toString)
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), datetimeSchema)
      Sidecar.writeSingleParquet(empty,
        Paths.get(dir, s"part${2 * i + 1}.parquet").toString)
    }
  }

  def datetimeRows: IndexedSeq[Row] = {
    val nullRows = IndexedSeq(
      Row(null, dt("2022-01-01"), null, -2L),
      Row(null, null, hrs(0), -1L))
    val hourly = (0 until 96).map { i =>
      val t = Instant.parse("2022-01-01T00:00:00Z").plus(Duration.ofHours(i))
      val day = LocalDate.ofInstant(t, java.time.ZoneOffset.UTC)
      Row(Timestamp.from(t), Date.valueOf(day), hrs(i % 24), i.toLong)
    }
    nullRows ++ hourly
  }

  val datetimeIndexColumns: Seq[String] = Seq("date", "hour", "t")

  val datetimeSizes: IndexedSeq[Long] = Vector(26L, 24L, 24L, 24L)

  val datetimeLowerBounds: IndexedSeq[Bound] = Vector(
    Vector(None, Some(hrs(0)), None),
    b(dt("2022-01-02"), hrs(0), ts("2022-01-02T00:00:00")),
    b(dt("2022-01-03"), hrs(0), ts("2022-01-03T00:00:00")),
    b(dt("2022-01-04"), hrs(0), ts("2022-01-04T00:00:00")))

  val datetimeUpperBounds: IndexedSeq[Bound] = Vector(
    b(dt("2022-01-01"), hrs(23), ts("2022-01-01T23:00:00")),
    b(dt("2022-01-02"), hrs(23), ts("2022-01-02T23:00:00")),
    b(dt("2022-01-03"), hrs(23), ts("2022-01-03T23:00:00")),
    b(dt("2022-01-04"), hrs(23), ts("2022-01-04T23:00:00")))

  val dateSchema: StructType = StructType(Seq(
    StructField("date", DateType),
    StructField("x", LongType, nullable = false)))

  /** 4 rows, 2 partitions of 2; join counterpart keyed on `date`
    * (fixtures.py:79-116). */
  def writeDateSample(spark: SparkSession, dir: String): Unit = {
    val rows = (0 until 4).map { i =>
      Row(Date.valueOf(LocalDate.parse("2022-01-02").plusDays(i)), i.toLong)
    }
    clearDir(dir)
    Seq(0, 1).foreach { i =>
      val part = spark.createDataFrame(
        java.util.Arrays.asList(rows.slice(2 * i, 2 * i + 2): _*), dateSchema)
      Sidecar.writeSingleParquet(part,
        Paths.get(dir, s"part$i.parquet").toString)
    }
  }

  def clearDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) Sidecar.deleteRecursively(p)
    Files.createDirectories(p)
  }

  def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run `body` and count the Spark jobs started meanwhile (on any
    * thread of the context). */
  def countJobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
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

  /** Invariant checker (tests/utils.py:12-24): per partition, sorted by
    * the index columns (null-first), the first/last index tuples equal
    * the reported bounds and the row count equals the reported size. */
  def checkBoundsAndSizes(ds: PDataset): Unit = {
    assert(ds.knownBounds, "bounds must be known")
    assert(ds.knownSizes, "sizes must be known")
    val idx = ds.indexColumns
    (0 until ds.npartitions).foreach { i =>
      val part = ds(i)
        .orderBy(idx.map(c => col(c).asc_nulls_first): _*)
        .select(idx.map(col): _*)
        .collect()
      assert(part.length == ds.sizes.get(i),
        s"partition $i: ${part.length} rows != ${ds.sizes.get(i)}")
      if (part.nonEmpty && idx.nonEmpty) {
        val first: Bound =
          idx.indices.map(j => Option(part.head.get(j))).toVector
        val last: Bound =
          idx.indices.map(j => Option(part.last.get(j))).toVector
        assert(Lex.lexCmp(first, ds.lowerBounds.get(i)) == 0,
          s"partition $i lb: $first != ${ds.lowerBounds.get(i)}")
        assert(Lex.lexCmp(last, ds.upperBounds.get(i)) == 0,
          s"partition $i ub: $last != ${ds.upperBounds.get(i)}")
      }
    }
  }

  /** Write `df` as exactly ONE `fmt` file at destDir/name (staged
    * single-task write, lone part file moved into place) — builds
    * multi-file flat-source fixtures without Spark's directory
    * layout. */
  def stageSingleFile(
      df: DataFrame, destDir: String, name: String, fmt: String): Unit = {
    val stage = tempDir(s"$fmt-stage")
    var w = df.coalesce(1).write.mode("overwrite")
    if (fmt == "csv") w = w.option("header", "true")
    w.format(fmt).save(stage)
    val part = {
      val s = java.nio.file.Files.list(Paths.get(stage))
      try s.toArray.map(_.toString).filter(_.endsWith("." + fmt)).head
      finally s.close()
    }
    Files.createDirectories(Paths.get(destDir))
    Files.move(Paths.get(part), Paths.get(destDir, name))
    ()
  }

  /** Every FileSourceScanExec in an executed plan. AQE buries scans
    * inside LEAF wrapper nodes a plain `plan.collect` cannot descend:
    * `AdaptiveSparkPlanExec` (the root) and `QueryStageExec`
    * (Shuffle/Broadcast/Result stages — Spark 4 wraps even the final
    * stage in a ResultQueryStage). Recurse through both. */
  def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case s: QueryStageExec => collectScans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other =>
        other.children.flatMap(collectScans) ++
          other.subqueries.flatMap(collectScans)
    }
  }

  /** Every ShuffleExchangeExec in an executed plan (AQE unwrapped —
    * the same recursion as [[collectScans]]). Use to assert what data
    * actually crosses a shuffle. */
  def collectExchanges(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => collectExchanges(a.executedPlan)
      case s: QueryStageExec => collectExchanges(s.plan)
      case e: ShuffleExchangeExec =>
        Seq(e) ++ e.children.flatMap(collectExchanges)
      case other =>
        other.children.flatMap(collectExchanges) ++
          other.subqueries.flatMap(collectExchanges)
    }
  }

  /** Files actually planned by `df`'s scan(s) — the numFiles metric
    * summed over every FileSourceScanExec (AQE unwrapped). Runs the
    * query; use to assert plan-time file pruning. */
  def scannedFiles(df: DataFrame): Long = {
    df.collect()
    collectScans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  /** Deterministic whole-frame comparison: both frames sorted by all
    * columns, then row-by-row equality on external values. */
  def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val cols = want.columns.toSeq
    val g = got.select(cols.map(col): _*)
      .orderBy(cols.map(c => col(c).asc_nulls_first): _*).collect()
    val w = want.orderBy(cols.map(c => col(c).asc_nulls_first): _*).collect()
    assert(g.length == w.length, s"row count ${g.length} != ${w.length}")
    g.zip(w).zipWithIndex.foreach { case ((a, e), i) =>
      assert(a == e, s"row $i: $a != $e")
    }
  }
}
