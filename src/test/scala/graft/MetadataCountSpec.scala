package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PDataset
import graft.operators.Maintenance
import Fixtures._

/** Metadata-only count(*): an unfiltered count over a graft relation
  * is answered from sidecar row counts with zero file reads; every
  * shape the sidecar can't answer exactly takes the normal path. */
class MetadataCountSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("metacount") + "/ds"
    val parts = (0 until 600 by 100).map(lo =>
      PDataset.fromDataFrame(
        spark.range(lo.toLong, lo + 100L).select(
          col("id").as("k"), (col("id") % 7).as("grp")), Seq("k")))
    PDataset.concat(parts).writeParquet(d)
    d
  }

  private def planOf(df: DataFrame): String = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
  }

  test("unfiltered count(*) is a LocalTableScan — no file reads") {
    val q = spark.read.format("graft").load(dir).agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 600L)
    val plan = planOf(q)
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"expected a metadata-only count:\n$plan")
  }

  test("sql COUNT(*) over a graft view answers from metadata too") {
    spark.read.format("graft").load(dir).createOrReplaceTempView("mc_ds")
    val q = spark.sql("SELECT count(*) AS n FROM mc_ds")
    assert(q.collect().head.getLong(0) == 600L)
    assert(planOf(q).contains("LocalTableScan"), planOf(q))
  }

  test("time-travel scans count THEIR generation from metadata") {
    Maintenance.deleteKeys(spark, dir, Seq(5L, 6L, 7L).toDF("k"),
      retain = true)
    val v = Maintenance.versions(spark, dir).max
    val old = spark.read.format("graft")
      .option("version", v.toString).load(dir).agg(count(lit(1)))
    assert(old.collect().head.getLong(0) == 600L)
    assert(planOf(old).contains("LocalTableScan"), planOf(old))
    val cur = spark.read.format("graft").load(dir).agg(count(lit(1)))
    assert(cur.collect().head.getLong(0) == 597L)
    assert(planOf(cur).contains("LocalTableScan"), planOf(cur))
  }

  test("filtered, grouped, and stats-less count(col) take the normal path") {
    val rel = spark.read.format("graft").load(dir)
    // k < 50 splits the first file — NOT file-aligned, so the
    // filtered count must scan (k < 100 would fold: file-aligned)
    val filtered = rel.filter(col("k") < 50).agg(count(lit(1)))
    assert(!planOf(filtered).contains("LocalTableScan"))
    assert(filtered.collect().head.getLong(0) == 47L) // 3 keys deleted
    val grouped = rel.groupBy("grp").agg(count(lit(1)))
    assert(!planOf(grouped).contains("LocalTableScan"))
    // grp carries no column stats here, so count(col) must scan
    val countCol = rel.agg(count(col("grp")))
    assert(!planOf(countCol).contains("LocalTableScan"))
    assert(countCol.collect().head.getLong(0) == 597L)
  }

  test("min/max/count(col) answer from column stats with zero reads") {
    val d = tempDir("metaminmax") + "/ds"
    val df = spark.range(0L, 500L).select(
      col("id").as("k"),
      when(col("id") % 5 === 0, lit(null).cast("long"))
        .otherwise(col("id") * 3).as("v"),
      concat(lit("s"), lpad(col("id").cast("string"), 4, "0")).as("s"))
    PDataset.fromDataFrame(df, Seq("k")).repartition(100).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("v", "s"))
    val q = spark.read.format("graft").load(d).agg(
      min(col("v")).as("v_min"), max(col("v")).as("v_max"),
      count(col("v")).as("v_n"), max(col("s")).as("s_max"),
      sum(col("v")).as("v_sum"), count(lit(1)).as("n"))
    val r = q.collect().head
    // min/max ignore the nulls (multiples of 3 except 0: min is 3)
    assert(r.getLong(0) == 3L && r.getLong(1) == 1497L)
    assert(r.getLong(2) == 400L && r.getString(3) == "s0499")
    // sum over non-null v: 3 * (sum of ids not divisible by 5)
    assert(r.getLong(4) == 3L * (0L until 500L).filter(_ % 5 != 0).sum)
    assert(r.getLong(5) == 500L)
    assert(planOf(q).contains("LocalTableScan"), planOf(q))
    // an engine-native append extends the stats to its new file, so
    // the answer still comes from metadata — and includes that file
    val statsFile = java.nio.file.Paths.get(d, graft.core.ColumnStats.FileName)
    val before = java.nio.file.Files.readAllBytes(statsFile)
    val more = spark.range(500L, 510L).select(
      col("id").as("k"), (col("id") * 3).as("v"), lit("zzz").as("s"))
    PDataset.fromDataFrame(more, Seq("k")).writeParquet(d, append = true)
    def maxV = spark.read.format("graft").load(d).agg(max(col("v")))
    assert(planOf(maxV).contains("LocalTableScan"), planOf(maxV))
    assert(maxV.collect().head.getLong(0) == 1527L)
    // a file no stats entry records (the sidecar as it was before the
    // append): coverage is incomplete and the rule declines rather
    // than answer from stale metadata
    java.nio.file.Files.write(statsFile, before)
    assert(!planOf(maxV).contains("LocalTableScan"))
    assert(maxV.collect().head.getLong(0) == 1527L)
  }

  private lazy val dblDir: String = {
    val d = tempDir("metadouble") + "/ds"
    val df = spark.range(0L, 300L).select(
      col("id").as("k"),
      when(col("id") % 4 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") / 8.0).as("x"),
      (col("id") * 5).as("v"))
    graft.core.PDataset.fromDataFrame(df, Seq("k"))
      .repartition(100).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("x", "v"))
    d
  }

  test("count(double_col) folds from null counts; min/max on it decline") {
    // count needs NO ordering — NaN semantics are irrelevant — so a
    // double column with complete stats coverage answers metadata-only
    val q = spark.read.format("graft").load(dblDir)
      .agg(count(col("x")).as("x_n"), count(lit(1)).as("n"))
    val r = q.collect().head
    assert(r.getLong(0) == 225L && r.getLong(1) == 300L)
    assert(planOf(q).contains("LocalTableScan") &&
      !planOf(q).contains("FileScan"), planOf(q))
    // min/max over float/double keep declining (codegen -0.0 vs SQL
    // NaN ordering can differ from a driver fold)
    val mm = spark.read.format("graft").load(dblDir).agg(min(col("x")))
    assert(!planOf(mm).contains("LocalTableScan"))
    assert(mm.collect().head.getDouble(0) == 1.0 / 8.0)
  }

  test("alias-only projections fold; computed projections decline") {
    val base = spark.read.format("graft").load(dblDir)
    val aliased = base.select(col("v").as("w"), col("k"))
      .agg(max(col("w")).as("w_max"), count(col("w")).as("w_n"))
    val r = aliased.collect().head
    assert(r.getLong(0) == 299L * 5 && r.getLong(1) == 300L)
    assert(planOf(aliased).contains("LocalTableScan"), planOf(aliased))
    // a computed projection must take the scan path — the stats
    // describe v, not v+1
    val computed = base.select((col("v") + 1).as("w")).agg(max(col("w")))
    assert(!planOf(computed).contains("LocalTableScan"))
    assert(computed.collect().head.getLong(0) == 299L * 5 + 1)
  }

  test("ANSI sum declines pre-exactness sidecars, count/min/max still fold") {
    val d = tempDir("metalegacy") + "/ds"
    val df = spark.range(0L, 200L).select(
      col("id").as("k"), (col("id") * 7).as("v"))
    graft.core.PDataset.fromDataFrame(df, Seq("k"))
      .repartition(100).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("v"))
    // strip the exactness markers + codec version: the sidecar now
    // looks like a pre-try_sum build whose sums may have wrapped
    // under a LEGACY session
    val p = new org.apache.hadoop.fs.Path(d, "_graft_colstats.json")
    val (fs, _) = graft.core.GraftFs.resolve(spark, d)
    val txt = graft.core.GraftFs.readString(fs, p)
      .replace("\"sumx\": true, ", "").replace(", \"sumx\": true", "")
      .replace("\"v\": 2, ", "")
    graft.core.GraftFs.writeString(fs, p, txt)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val s = spark.read.format("graft").load(d).agg(sum(col("v")))
    assert(!planOf(s).contains("LocalTableScan"),
      "ANSI must not fold sums that may have wrapped at build time")
    assert(s.collect().head.getLong(0) == 7L * (0L until 200L).sum)
    val rest = spark.read.format("graft").load(d).agg(
      min(col("v")), max(col("v")), count(col("v")))
    assert(planOf(rest).contains("LocalTableScan"), planOf(rest))
    val rr = rest.collect().head
    assert(rr.getLong(0) == 0L && rr.getLong(1) == 199L * 7 &&
      rr.getLong(2) == 200L)
  }

  test("GROUP BY a file-constant leading index column folds per " +
      "group with zero reads") {
    val d = tempDir("metagroup") + "/ds"
    // 8 files indexed on (bucket, k): TWO files per bucket value, so
    // the group spans files but every file sits in exactly one group
    val parts = for (b <- 0 until 4; half <- 0 until 2) yield
      PDataset.fromDataFrame(
        spark.range(0L, 50L).select(
          lit(b.toLong).as("bucket"),
          (col("id") + half * 50 + b * 1000).as("k"),
          lit(half.toLong).as("half"),
          (col("id") * 2 + b).as("v")),
        Seq("bucket", "k"))
    PDataset.concat(parts).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("v", "half"))
    val rel = spark.read.format("graft").load(d)
    val q = rel.groupBy("bucket").agg(count(lit(1)).as("n"),
      min("v").as("mn"), max("v").as("mx"), sum("v").as("sm"))
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val want = (0 until 4).map { b =>
      val vs = (0 until 100).map(i => (i % 50) * 2L + b)
      (b.toLong, 100L, vs.min, vs.max, vs.sum)
    }
    assert(got == want, s"got $got")
    assert(planOf(q).contains("LocalTableScan") &&
      !planOf(q).contains("FileScan"),
      s"expected a metadata-only grouped fold:\n${planOf(q)}")
    // through an alias-only projection too
    val aliased = rel.select(col("bucket").as("bk"), col("v"))
      .groupBy("bk").agg(sum("v").as("sm"))
    assert(planOf(aliased).contains("LocalTableScan"), planOf(aliased))
    assert(aliased.collect().map(_.getLong(1)).sum == want.map(_._5).sum)
    // MULTI-column grouping: index-head bucket × stats-constant half
    val qmc = rel.groupBy("bucket", "half")
      .agg(count(lit(1)).as("n"), sum("v").as("sm"))
    val gotMc = qmc.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(gotMc.size == 8 && gotMc((2L, 1L)) ==
      ((50L, (0 until 50).map(i => i * 2L + 2).sum)))
    assert(planOf(qmc).contains("LocalTableScan"), planOf(qmc))
    // IN over a file-CONSTANT column folds (per-value equality
    // OR-fold: each file is wholly one bucket)
    val qin = rel.filter(col("bucket").isin(1L, 3L))
      .agg(count(lit(1)).as("n"))
    assert(qin.collect().head.getLong(0) == 200L)
    assert(planOf(qin).contains("LocalTableScan"), planOf(qin))
    // count(DISTINCT c) over a file-constant column folds to the
    // number of distinct per-file constants; over a straddling
    // column it declines
    val qcd = rel.agg(count_distinct(col("bucket")).as("nb"),
      count(lit(1)).as("n"))
    val rcd = qcd.collect().head
    assert(rcd.getLong(0) == 4L && rcd.getLong(1) == 400L)
    assert(planOf(qcd).contains("LocalTableScan"), planOf(qcd))
    assert(!planOf(rel.agg(count_distinct(col("k"))))
      .contains("LocalTableScan"))
    // SELECT DISTINCT of a file-constant column is the aggregate-free
    // grouped fold
    val qd = rel.select("bucket").distinct()
    assert(qd.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L))
    assert(planOf(qd).contains("LocalTableScan"), planOf(qd))
    // the grouped fold composes with a file-aligned WHERE: only the
    // kept buckets' groups fold
    val qgf = rel.filter(col("bucket") >= 1 && col("bucket") < 3)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    assert(qgf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq == Seq((1L, 100L), (2L, 100L)))
    assert(planOf(qgf).contains("LocalTableScan"), planOf(qgf))
    // a grouping column files STRADDLE takes the normal path
    val q2 = rel.groupBy("k").agg(count(lit(1)))
    assert(!planOf(q2).contains("LocalTableScan"), planOf(q2))
  }

  test("grouped fold: stats-column grouping and the NULL group") {
    val d = tempDir("metagroupnull") + "/ds"
    val parts = Seq(
      PDataset.fromDataFrame(spark.range(0L, 100L).select(
        col("id").as("k"), lit("a").as("src"), col("id").as("v")),
        Seq("k")),
      PDataset.fromDataFrame(spark.range(100L, 200L).select(
        col("id").as("k"), lit("b").as("src"), col("id").as("v")),
        Seq("k")),
      PDataset.fromDataFrame(spark.range(200L, 260L).select(
        col("id").as("k"), lit(null).cast("string").as("src"),
        col("id").as("v")), Seq("k")))
    PDataset.concat(parts).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("src", "v"))
    val rel = spark.read.format("graft").load(d)
    val q = rel.groupBy("src").agg(count(lit(1)).as("n"),
      sum("v").as("sm"))
    val got = q.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      .sortBy(_._1.getOrElse("")).toSet
    assert(got == Set(
      (None, 60L, (200L until 260L).sum),
      (Some("a"), 100L, (0L until 100L).sum),
      (Some("b"), 100L, (100L until 200L).sum)))
    assert(planOf(q).contains("LocalTableScan"), planOf(q))
    // a file MIXING nulls and values in the group column declines
    val d2 = tempDir("metagroupmix") + "/ds"
    PDataset.fromDataFrame(spark.range(0L, 50L).select(
      col("id").as("k"),
      when(col("id") % 2 === 0, lit("a")).as("src"),
      col("id").as("v")), Seq("k")).writeParquet(d2)
    graft.core.ColumnStats.build(spark, d2, Seq("src"))
    val q2 = spark.read.format("graft").load(d2)
      .groupBy("src").agg(count(lit(1)).as("n"))
    assert(!planOf(q2).contains("LocalTableScan"), planOf(q2))
    assert(q2.collect().map(_.getLong(1)).sum == 50L)
  }

  test("file-aligned WHERE folds from metadata; straddling " +
      "predicates scan") {
    val d = tempDir("metafiltered") + "/ds"
    val parts = (0 until 600 by 100).map(lo =>
      PDataset.fromDataFrame(
        spark.range(lo.toLong, lo + 100L).select(
          col("id").as("k"), (col("id") * 3).as("v")), Seq("k")))
    PDataset.concat(parts).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("v"))
    val rel = spark.read.format("graft").load(d)
    // range aligned to file boundaries: two files wholly in
    val q = rel.filter(col("k") >= 200 && col("k") < 400)
      .agg(count(lit(1)).as("n"), min("v").as("mn"),
        max("v").as("mx"), sum("v").as("sm"))
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((200L, 600L, 1197L, 3L * (200L until 400L).sum)))
    assert(planOf(q).contains("LocalTableScan") &&
      !planOf(q).contains("FileScan"),
      s"expected a filter-aligned fold:\n${planOf(q)}")
    // a provably-empty range folds to the empty aggregate
    val q0 = rel.filter(col("k") >= 1000)
      .agg(count(lit(1)).as("n"), min("v").as("mn"))
    val r0 = q0.collect().head
    assert(r0.getLong(0) == 0L && r0.isNullAt(1))
    assert(planOf(q0).contains("LocalTableScan"), planOf(q0))
    // disjunction of aligned ranges folds
    val qor = rel.filter(col("k") < 100 || col("k") >= 500)
      .agg(count(lit(1)).as("n"))
    assert(qor.collect().head.getLong(0) == 200L)
    assert(planOf(qor).contains("LocalTableScan"), planOf(qor))
    // a stats-column predicate aligns too (v = 3k: v < 300 ≡ k < 100)
    val qv = rel.filter(col("v") < 300).agg(count(lit(1)).as("n"))
    assert(qv.collect().head.getLong(0) == 100L)
    assert(planOf(qv).contains("LocalTableScan"), planOf(qv))
    // a predicate splitting a file takes the normal path
    val qs = rel.filter(col("k") >= 250).agg(count(lit(1)).as("n"))
    assert(qs.collect().head.getLong(0) == 350L)
    assert(!planOf(qs).contains("LocalTableScan"), planOf(qs))
    // NOT is unsupported (null-flip unsound): normal path
    val qn = rel.filter(!(col("k") < 200)).agg(count(lit(1)).as("n"))
    assert(qn.collect().head.getLong(0) == 400L)
  }

  test("stacked file-aligned filters fold when the only Partial file " +
      "is already excluded below") {
    val d = tempDir("metastacked") + "/ds"
    val parts = (0 until 600 by 100).map(lo =>
      PDataset.fromDataFrame(
        spark.range(lo.toLong, lo + 100L).select(
          col("id").as("k"), (col("id") * 3).as("v")), Seq("k")))
    PDataset.concat(parts).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("v"))
    val rel = spark.read.format("graft").load(d)
    // v >= 450 (≡ k >= 150) is PARTIAL on file [100,200) — but that
    // file is already excluded by the lower k >= 200 filter, so the
    // upper filter only needs to classify the surviving files (all
    // Full). The optimizer combines adjacent Filters, so pin the
    // completeness on the rule applied to the ANALYZED plan, where
    // the two Filter nodes are still stacked.
    // typed Long literals: the ANALYZED plan (pre constant-folding)
    // would otherwise wrap int literals in casts the classifier
    // rightly declines
    val q = rel.filter(col("k") >= lit(200L)).filter(col("v") >= lit(450L))
      .agg(count(lit(1)).as("n"))
    val folded = graft.plans.MetadataCount(q.queryExecution.analyzed)
    val local = folded.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(local.isDefined,
      s"stacked aligned filters must fold:\n$folded")
    assert(local.get.data.head.getLong(0) == 400L)
    assert(q.collect().head.getLong(0) == 400L)
    // control: the same Partial file NOT excluded below declines
    val qDecline =
      rel.filter(col("v") >= lit(450L)).agg(count(lit(1)).as("n"))
    val unfolded =
      graft.plans.MetadataCount(qDecline.queryExecution.analyzed)
    assert(unfolded.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty, s"a kept Partial file must decline:\n$unfolded")
    assert(qDecline.collect().head.getLong(0) == 450L)
  }

  test("high-precision decimal min/max fold to the exact engine value") {
    val d = tempDir("metadec") + "/ds"
    val df = spark.range(0L, 120L).select(
      col("id").as("k"),
      (lit(new java.math.BigDecimal("98765432109876543210"))
        .cast("decimal(38,0)") +
        col("id").cast("decimal(38,0)")).as("d"))
    graft.core.PDataset.fromDataFrame(df, Seq("k"))
      .repartition(40).writeParquet(d)
    graft.core.ColumnStats.build(spark, d, Seq("d"))
    val q = spark.read.format("graft").load(d)
      .agg(min(col("d")).as("d_min"), max(col("d")).as("d_max"))
    val r = q.collect().head
    assert(planOf(q).contains("LocalTableScan"), planOf(q))
    assert(r.getDecimal(0).compareTo(
      new java.math.BigDecimal("98765432109876543210")) == 0)
    assert(r.getDecimal(1).compareTo(
      new java.math.BigDecimal("98765432109876543329")) == 0)
  }
}
