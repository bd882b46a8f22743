package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PDataset, Sidecar}
import Fixtures._

/** M2: write path — sidecar-format persistence, append, empty datasets,
  * foreign-directory metadata (ports of tests/test_io.py and
  * tests/test_write_metadata.py). */
class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val srcDir: String = {
    val d = tempDir("graft-io-src")
    writeDatetimeSample(spark, d)
    d
  }

  test("write/scan round-trip preserves data, stats and sidecars") {
    val out = tempDir("graft-io-out") + "/ds.parquet"
    val ds = PDataset.scanParquet(spark, srcDir).reindex(datetimeIndexColumns)
    val back = ds.writeParquet(out)

    assert(Files.isRegularFile(Paths.get(out, "_padawan_metadata.json")))
    assert(Files.isRegularFile(Paths.get(out, "_padawan_schema")))
    val names = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(names.map(f => f.substring(f.lastIndexOf('/') + 1)).toSeq ==
      (0 until 4).map(i => f"part$i%010d.parquet"))

    assert(back.npartitions == 4)
    assert(back.indexColumns == datetimeIndexColumns)
    assert(back.sizes.get == datetimeSizes)
    assert(back.lowerBounds.get == datetimeLowerBounds)
    assert(back.upperBounds.get == datetimeUpperBounds)
    assert(back.schemaOption.get.fieldNames.toSeq == Seq("t", "date", "hour", "a"))
    assertSameRows(back.toDF, ds.toDF)
    checkBoundsAndSizes(back)
  }

  test("append extends an existing dataset with continued numbering") {
    val out = tempDir("graft-io-append") + "/ds.parquet"
    val ds = PDataset.scanParquet(spark, srcDir).reindex(datetimeIndexColumns)
    ds.writeParquet(out)
    ds.writeParquet(out, append = true)
    val back = PDataset.scanParquet(spark, out)
    assert(back.npartitions == 8)
    assert(back.sizes.get == (datetimeSizes ++ datetimeSizes))
    assert(back.toDF.count() == 196)
    val names = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(names.length == 8)
    assert(names.last.endsWith(f"part$seven%010d.parquet"))
  }
  private val seven = 7

  test("append with mismatched index columns fails") {
    val out = tempDir("graft-io-badappend") + "/ds.parquet"
    val ds = PDataset.scanParquet(spark, srcDir).reindex(datetimeIndexColumns)
    ds.writeParquet(out)
    val other = PDataset.scanParquet(spark, srcDir).reindex(Seq("t"))
    intercept[graft.core.AppendError](other.writeParquet(out, append = true))
  }

  test("append ignores nested nullability when checking column types") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val out = tempDir("graft-io-nested-null") + "/ds.parquet"
    PDataset.fromDataFrame(spark.range(0, 10).select(col("id").as("k"),
      array(col("id"), lit(null).cast("bigint")).as("xs")), Seq("k"))
      .writeParquet(out)
    assert(Sidecar.load(spark, out).schema("xs").dataType ==
      ArrayType(LongType, containsNull = true))
    // the same element type, but never null: the graft sink accepts it
    val delta = spark.range(10, 20).select(col("id").as("k"),
      array(col("id")).as("xs"))
    assert(delta.schema("xs").dataType ==
      ArrayType(LongType, containsNull = false))
    val back = PDataset.fromDataFrame(delta, Seq("k"))
      .writeParquet(out, append = true)
    assert(back.toDF.count() == 20)
    assert(back.schemaOption.get("xs").dataType ==
      ArrayType(LongType, containsNull = true))
  }

  test("empty dataset write preserves schema via sidecar") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType)))
    val empty = PDataset.fromDataFrame(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
      .reindex(Seq.empty)
    val out = tempDir("graft-io-empty") + "/ds.parquet"
    val back = empty.writeParquet(out)
    assert(back.npartitions == 0)
    assert(back.schemaOption.get.fieldNames.toSeq == Seq("a", "b"))
    assert(back.toDF.count() == 0)
    assert(back.toDF.schema.fieldNames.toSeq == Seq("a", "b"))
  }

  test("writeMetadata adds sidecars to a foreign directory in one job") {
    val foreign = tempDir("graft-io-foreign")
    writeDatetimeSample(spark, foreign)
    PDataset.writeMetadata(spark, foreign, datetimeIndexColumns)
    val ds = PDataset.scanParquet(spark, foreign)
    assert(ds.knownBounds && ds.knownSizes && ds.knownSchema)
    assert(ds.npartitions == 4) // empty files excluded
    assert(ds.sizes.get == datetimeSizes)
    assert(ds.lowerBounds.get == datetimeLowerBounds)
    assert(ds.upperBounds.get == datetimeUpperBounds)
    checkBoundsAndSizes(ds)
  }

  test("metadata sidecar round-trips through the typed JSON format") {
    val out = tempDir("graft-io-json") + "/ds.parquet"
    PDataset.scanParquet(spark, srcDir).reindex(datetimeIndexColumns)
      .writeParquet(out)
    val meta = Sidecar.load(spark, out)
    assert(meta.indexColumns == datetimeIndexColumns)
    assert(meta.maxPartitionIndex == 3)
    val text = Files.readString(Paths.get(out, "_padawan_metadata.json"))
    assert(text.contains("$date") && text.contains("$timedelta") &&
      text.contains("$datetime"))
  }

  test("sidecars past the file-count ceiling refuse at commit and " +
      "open with a compact() pointer") {
    val out = tempDir("graft-io-ceiling") + "/ds.parquet"
    PDataset.scanParquet(spark, srcDir).reindex(Seq("a"))
      .repartition(5).writeParquet(out)
    val m = Sidecar.load(spark, out)
    assert(m.files.length > 2)
    spark.conf.set(Sidecar.MaxSidecarFilesConf, "2")
    try {
      // open refuses
      val eOpen = intercept[IllegalArgumentException] {
        Sidecar.load(spark, out)
      }
      assert(eOpen.getMessage.contains("compact"), eOpen.getMessage)
      assert(eOpen.getMessage.contains(Sidecar.MaxSidecarFilesConf))
      // commit refuses (the ceiling guards growth, not just reads)
      val eWrite = intercept[IllegalArgumentException] {
        Sidecar.write(spark, out, m.indexColumns, m.files, m.sizes,
          m.lowerBounds, m.upperBounds, m.maxPartitionIndex, m.schema)
      }
      assert(eWrite.getMessage.contains("compact"), eWrite.getMessage)
    } finally spark.conf.unset(Sidecar.MaxSidecarFilesConf)
    // back under the (default) ceiling, the table opens again
    assert(Sidecar.load(spark, out).files.length == m.files.length)
  }
}
