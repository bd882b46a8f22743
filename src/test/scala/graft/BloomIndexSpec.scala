package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomIndex, PDataset}
import Fixtures._

/** Per-file Bloom filters for non-index point lookups: a pushed
  * equality/IN on a bloom-indexed column plans only the files whose
  * filter fires; correctness is unchanged (pruning is conservative —
  * false positives scan, never the reverse).
  */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 2000 rows keyed k, with a high-cardinality payload id `doc` that
    * is NOT an index column; 20 files of 100 consecutive keys. Each
    * doc value lives in exactly one file. */
  private lazy val dir: String = {
    val out = tempDir("bloom-spec") + "/ds"
    val parts = (0 until 2000 by 100).map { lo =>
      val df = spark.range(lo.toLong, lo + 100L).select(
        col("id").as("k"),
        concat(lit("doc-"), col("id") * 7).as("doc"),
        (col("id") * 13 % 1000).as("ref"))
      PDataset.fromDataFrame(df, Seq("k"))
    }
    PDataset.concat(parts).writeParquet(out)
    BloomIndex.build(spark, out, Seq("doc", "ref"), fpp = 0.001)
    out
  }


  test("string equality on a bloom column plans ~1 of 20 files") {
    val q = spark.read.format("graft").load(dir)
      .filter(col("doc") === "doc-3500") // k = 500, file 5
    assert(q.count() == 1)
    val planned = scannedFiles(q)
    assert(planned <= 2, s"expected bloom pruning to ~1 file, got $planned")
    assert(planned >= 1)
  }

  test("long equality and IN-lists prune and stay correct") {
    // ref = k*13 % 1000: value 13 occurs for k = 1, 1001 (files 0, 10).
    val q = spark.read.format("graft").load(dir)
      .filter(col("ref") === 13L)
    assert(q.count() == 2)
    assert(scannedFiles(q) <= 4)

    val in = spark.read.format("graft").load(dir)
      .filter(col("doc").isin("doc-0", "doc-7007", "doc-99999999"))
    assert(in.count() == 2) // k = 0 and k = 1001; third value absent
    assert(scannedFiles(in) <= 4)
  }

  test("bloom pruning composes with index-bound pruning") {
    // k range pins files 0..4; doc pins file 5 -> intersection empty.
    val q = spark.read.format("graft").load(dir)
      .filter(col("k") < 500 && col("doc") === "doc-3500")
    assert(q.count() == 0)
    assert(scannedFiles(q) == 0,
      "intersection of range and bloom keep sets must plan zero files")
  }

  test("a value present nowhere plans zero or near-zero files") {
    val q = spark.read.format("graft").load(dir)
      .filter(col("doc") === "doc-1") // 1 is not a multiple of 7
    assert(q.count() == 0)
    assert(scannedFiles(q) <= 1, "fpp=0.001 over 20 files")
  }

  test("PDataset.toDF prunes through the bloom sidecar too") {
    val q = PDataset.scanParquet(spark, dir).toDF
      .filter(col("doc") === "doc-3500")
    assert(q.count() == 1)
    assert(scannedFiles(q) <= 2,
      "the engine's own read path must pick the bloom sidecar up")
  }

  test("update() extends the index to appended files only") {
    val out = tempDir("bloom-spec-upd") + "/ds"
    val parts = (0 until 400 by 100).map { lo =>
      val df = spark.range(lo.toLong, lo + 100L).select(
        col("id").as("k"), concat(lit("d"), col("id")).as("doc"))
      PDataset.fromDataFrame(df, Seq("k"))
    }
    PDataset.concat(parts).writeParquet(out)
    BloomIndex.build(spark, out, Seq("doc"), fpp = 0.001)
    val extra = spark.range(400L, 500L).select(
      col("id").as("k"), concat(lit("d"), col("id")).as("doc"))
    PDataset.fromDataFrame(extra, Seq("k")).writeParquet(out, append = true)
    BloomIndex.update(spark, out, fpp = Some(0.001))
    val q = spark.read.format("graft").load(out)
      .filter(col("doc") === "d450")
    assert(q.count() == 1)
    assert(scannedFiles(q) <= 2, "the appended file must now carry a filter")
    val q2 = spark.read.format("graft").load(out)
      .filter(col("doc") === "d50")
    assert(q2.count() == 1)
    assert(scannedFiles(q2) <= 2, "existing filters must survive update()")
  }

  test("the sidecar is read on the driver: same entries as Spark's " +
      "reader, no job") {
    val out = tempDir("bloom-spec-driver") + "/ds"
    val parts = (0 until 300 by 100).map { lo =>
      PDataset.fromDataFrame(spark.range(lo.toLong, lo + 100L).select(
        col("id").as("k"), concat(lit("d"), col("id")).as("doc")), Seq("k"))
    }
    PDataset.concat(parts).writeParquet(out)
    BloomIndex.build(spark, out, Seq("doc", "k"), fpp = 0.01)
    val (fs, dirPath) = graft.core.GraftFs.resolve(spark, out)
    val copy = tempDir("bloom-spec-copy") + "/bloom.parquet"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(out, BloomIndex.BloomFile),
      java.nio.file.Paths.get(copy))
    val want = spark.read.parquet(copy).collect().map(r =>
      (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq,
        r.getDouble(3))).toSet
    val got = BloomIndex.readEntries(fs, dirPath).map {
      case ((f, c), (bytes, fpp)) => (f, c, bytes.toSeq, fpp) }.toSet
    assert(want.size == 6)
    assert(got == want)
    val files = graft.core.Sidecar.load(spark, out).files
      .map(f => s"$out/$f")
    val (blooms, jobs) = countJobs(spark)(BloomIndex.forFiles(spark, files))
    assert(jobs == 0)
    assert(blooms.keySet == Set("doc", "k") &&
      blooms.values.forall(_.forall(_.isDefined)))
  }

  test("a Bloom-extending commit reads the sidecar without a job") {
    def table(out: String): String = {
      val parts = (0 until 300 by 100).map { lo =>
        PDataset.fromDataFrame(spark.range(lo.toLong, lo + 100L).select(
          col("id").as("k"), concat(lit("d"), col("id")).as("doc")),
          Seq("k"))
      }
      PDataset.concat(parts).writeParquet(out)
      out
    }
    val plain = table(tempDir("bloom-spec-plain") + "/ds")
    val bloomed = table(tempDir("bloom-spec-extend") + "/ds")
    BloomIndex.build(spark, bloomed, Seq("doc"))
    def append(out: String): Int = countJobs(spark) {
      PDataset.fromDataFrame(spark.range(300L, 400L).select(
        col("id").as("k"), concat(lit("d"), col("id")).as("doc")), Seq("k"))
        .writeParquet(out, append = true)
    }._2
    // the extension costs one build job over the new file and one
    // sidecar write; reading the sidecar through Spark added two more
    val extra = append(bloomed) - append(plain)
    assert(extra <= 2, s"the Bloom extension started $extra jobs")
    val q = spark.read.format("graft").load(bloomed)
      .filter(col("doc") === "d350")
    assert(q.count() == 1)
    assert(scannedFiles(q) <= 2)
  }

  test("files appended after the build are never pruned") {
    val extra = spark.range(2000L, 2100L).select(
      col("id").as("k"),
      concat(lit("doc-"), col("id") * 7).as("doc"),
      (col("id") * 13 % 1000).as("ref"))
    PDataset.fromDataFrame(extra, Seq("k"))
      .writeParquet(dir, append = true)
    val q = spark.read.format("graft").load(dir)
      .filter(col("doc") === "doc-14000") // k = 2000, in the new file
    assert(q.count() == 1, "appended rows must stay visible")
    // the append extended the filters to its file: an old value
    // still plans only its own file
    val old = spark.read.format("graft").load(dir)
      .filter(col("doc") === "doc-3500")
    assert(old.count() == 1)
    assert(scannedFiles(old) == 1,
      "the appended file must carry a filter right after the append")
    // rebuild covers the new file again
    BloomIndex.build(spark, dir, Seq("doc", "ref"), fpp = 0.001)
    val q2 = spark.read.format("graft").load(dir)
      .filter(col("doc") === "doc-14000")
    assert(q2.count() == 1)
    assert(scannedFiles(q2) <= 2)
  }

  test("unsupported column types are rejected at build") {
    val out = tempDir("bloom-spec-bad") + "/ds"
    val df = spark.range(10L).select(
      col("id").as("k"), (col("id") * 1.5).as("x"))
    PDataset.fromDataFrame(df, Seq("k")).writeParquet(out)
    assertThrows[IllegalArgumentException] {
      BloomIndex.build(spark, out, Seq("x"))
    }
  }
}
