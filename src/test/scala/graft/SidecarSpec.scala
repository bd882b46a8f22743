package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftFs, PDataset, Sidecar}
import graft.operators.Maintenance
import Fixtures._

/** Sidecar I/O is driver-only: the `_padawan_schema` footer decodes on
  * the driver to exactly the schema Spark's parquet inference gives,
  * loading starts no Spark job, and a commit rewrites the schema file
  * only when the schema changes. */
class SidecarSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** What `spark.read.parquet` infers for the file (read through a
    * visibly-named copy: Spark's listing hides `_`-prefixed files). */
  private def sparkInferred(file: String): StructType = {
    val copy = Paths.get(tempDir("sidecar-oracle"), "copy.parquet")
    Files.copy(Paths.get(file), copy)
    spark.read.parquet(copy.toString).schema
  }

  private def assertDecodesLikeSpark(file: String): StructType = {
    val (fs, p) = GraftFs.resolve(spark, file)
    val got = Sidecar.readSchemaFile(spark, fs, p)
    val want = sparkInferred(file)
    assert(got == want,
      s"driver decode\n${got.treeString}\n!= Spark's inference\n" +
        want.treeString)
    got
  }

  private def schemaFileOf(dir: String): String =
    Paths.get(dir, Sidecar.SchemaFile).toString

  private def keyedDF(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(
      col("id").as("k"),
      (col("id") % 7).cast("int").as("grp"),
      concat(lit("v"), col("id")).as("payload"))

  test("driver footer decode equals Spark's parquet inference over a " +
      "type matrix") {
    def charMeta(t: String) = new MetadataBuilder()
      .putString("__CHAR_VARCHAR_TYPE_STRING", t).build()
    val matrix = StructType.fromDDL(
      "s STRUCT<a: INT, b: ARRAY<STRING>, c: MAP<STRING, ARRAY<DOUBLE>>>, " +
        "arr ARRAY<STRUCT<x: BIGINT, y: DECIMAL(9,2)>>, " +
        "m MAP<INT, STRUCT<z: DATE>>, " +
        "d1 DECIMAL(9,2), d2 DECIMAL(18,4), d3 DECIMAL(38,10), " +
        "ntz TIMESTAMP_NTZ, ts TIMESTAMP, dt DATE, bin BINARY, " +
        "flag BOOLEAN, i8 TINYINT, i16 SMALLINT, f FLOAT, " +
        "iv INTERVAL DAY TO SECOND")
      .add(StructField("ch", StringType, nullable = true, charMeta("char(5)")))
      .add(StructField("vc", StringType, nullable = true,
        charMeta("varchar(10)")))
      .add(StructField("req", LongType, nullable = false,
        new MetadataBuilder().putString("comment", "kept").build()))
      .add(StructField("reqArr", ArrayType(IntegerType, containsNull = false),
        nullable = false))
    val dir = tempDir("sidecar-matrix")
    Sidecar.writeSingleParquet(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), matrix),
      schemaFileOf(dir))
    val got = assertDecodesLikeSpark(schemaFileOf(dir))
    assert(got.fieldNames.toSeq == matrix.fieldNames.toSeq)
    assert(got("req").nullable, "file relations read every field nullable")

    // a renamed-column table's sidecar
    val ren = tempDir("sidecar-renamed") + "/ds"
    PDataset.fromDataFrame(keyedDF(0, 50), Seq("k")).writeParquet(ren)
    Maintenance.renameColumns(spark, ren, "payload" -> "note")
    val renamed = assertDecodesLikeSpark(schemaFileOf(ren))
    assert(renamed.fieldNames.toSeq == Seq("k", "grp", "note"))
    assert(Sidecar.load(spark, ren).schema == renamed)

    // a footer without Spark's row metadata (padawan/pyarrow-written):
    // the parquet schema itself is converted
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val bare = tempDir("sidecar-bare")
    val mt = MessageTypeParser.parseMessageType("""
      message schema {
        required int64 id;
        optional binary name (STRING);
        optional binary raw;
        optional int32 i16 (INTEGER(16,true));
        optional int32 u32 (INTEGER(32,false));
        optional int32 day (DATE);
        optional int64 ts_ntz (TIMESTAMP(MICROS,false));
        optional int64 ts_utc (TIMESTAMP(MICROS,true));
        optional int64 ts_ms (TIMESTAMP(MILLIS,true));
        optional int96 legacy_ts;
        optional fixed_len_byte_array(16) amount (DECIMAL(38,6));
        optional int64 price (DECIMAL(18,2));
        optional double score;
        optional float ratio;
        optional boolean ok;
        optional group tags (LIST) {
          repeated group list { optional binary element (STRING); }
        }
        optional group attrs (MAP) {
          repeated group key_value {
            required binary key (STRING);
            optional int64 value;
          }
        }
        optional group nested {
          required int32 a;
          optional group inner { optional double b; }
        }
      }""")
    ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(schemaFileOf(bare)))
      .withType(mt)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
      .close()
    val fromParquet = assertDecodesLikeSpark(schemaFileOf(bare))
    assert(fromParquet("ts_ntz").dataType == TimestampNTZType)
    assert(fromParquet("amount").dataType == DecimalType(38, 6))
  }

  test("a schema sidecar replaced between its stat and its read is " +
      "read again, not decoded at the old length") {
    val file = schemaFileOf(tempDir("sidecar-replaced"))
    def writeSchema(ddl: String): Unit = Sidecar.writeSingleParquet(
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType.fromDDL(ddl)), file)
    writeSchema("a INT")
    val (fs, p) = GraftFs.resolve(spark, file)
    val stale = fs.getFileStatus(p)
    val current = "a INT, b STRING, c ARRAY<DOUBLE>, d MAP<STRING, DATE>"
    writeSchema(current)
    assert(fs.getFileStatus(p).getLen != stale.getLen)
    // the first stat still sees the file the rewrite replaced
    var stats = 0
    val racing = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def getFileStatus(f: org.apache.hadoop.fs.Path) = {
        stats += 1
        if (stats == 1) stale else super.getFileStatus(f)
      }
    }
    assert(Sidecar.readSchemaFile(spark, racing, p) ==
      StructType.fromDDL(current))
    assert(stats > 1)
  }

  test("Sidecar.load and PDataset.scanParquet start no Spark job") {
    val dir = tempDir("sidecar-nojob") + "/ds"
    PDataset.fromDataFrame(keyedDF(0, 200), Seq("k")).writeParquet(dir)
    val (m, loadJobs) = countJobs(spark)(Sidecar.load(spark, dir))
    assert(loadJobs == 0, s"Sidecar.load started $loadJobs job(s)")
    val (ds, scanJobs) = countJobs(spark)(PDataset.scanParquet(spark, dir))
    assert(scanJobs == 0, s"PDataset.scanParquet started $scanJobs job(s)")
    assert(ds.toDF.schema == m.schema)
    assert(m.schema == sparkInferred(schemaFileOf(dir)))
  }

  test("an unchanged-schema commit (upsert) leaves _padawan_schema " +
      "byte- and mtime-identical") {
    val dir = tempDir("sidecar-upsert") + "/ds"
    PDataset.fromDataFrame(keyedDF(0, 200), Seq("k")).writeParquet(dir)
    val schemaFile = Paths.get(schemaFileOf(dir))
    val metaFile = Paths.get(dir, Sidecar.MetadataFile)
    val bytes = Files.readAllBytes(schemaFile)
    val mtime = Files.getLastModifiedTime(schemaFile)
    val metaBefore = Files.readAllBytes(metaFile)
    Thread.sleep(50)
    Maintenance.upsert(spark, dir,
      keyedDF(20, 5).withColumn("payload", lit("u")))
    assert(!java.util.Arrays.equals(Files.readAllBytes(metaFile), metaBefore),
      "the upsert must commit a new metadata document")
    assert(java.util.Arrays.equals(Files.readAllBytes(schemaFile), bytes))
    assert(Files.getLastModifiedTime(schemaFile) == mtime)
    assert(PDataset.scanParquet(spark, dir).toDF
      .filter(col("payload") === "u").count() == 5)
  }

  test("addColumns, widenColumns, renameColumns and dropColumns " +
      "rewrite _padawan_schema; time travel reads under the current " +
      "schema") {
    val dir = tempDir("sidecar-evolve") + "/ds"
    PDataset.fromDataFrame(keyedDF(0, 200), Seq("k")).writeParquet(dir)
    Maintenance.upsert(spark, dir,
      keyedDF(20, 1).withColumn("payload", lit("pre")), retain = true)
    val schemaFile = Paths.get(schemaFileOf(dir))
    def rewrites(op: => Unit): StructType = {
      val before = Files.readAllBytes(schemaFile)
      op
      assert(!java.util.Arrays.equals(Files.readAllBytes(schemaFile), before),
        "a schema-changing op must rewrite the schema sidecar")
      val loaded = Sidecar.load(spark, dir).schema
      assert(loaded == sparkInferred(schemaFile.toString))
      loaded
    }
    assert(rewrites(Maintenance.addColumns(spark, dir,
      StructField("flag", StringType))).fieldNames.last == "flag")
    assert(rewrites(Maintenance.widenColumns(spark, dir,
      "grp" -> LongType))("grp").dataType == LongType)
    assert(rewrites(Maintenance.renameColumns(spark, dir,
      "payload" -> "note")).fieldNames.toSeq ==
      Seq("k", "grp", "note", "flag"))
    assert(rewrites(Maintenance.dropColumns(spark, dir, "grp"))
      .fieldNames.toSeq == Seq("k", "note", "flag"))

    // the archived generation 0 reads under today's schema: the
    // rename translated, the dropped column hidden, the added one null
    val v0 = Maintenance.scanVersion(spark, dir, 0).toDF
    assert(v0.schema == Sidecar.load(spark, dir).schema)
    assert(v0.count() == 200)
    val r20 = v0.filter(col("k") === 20L).head()
    assert(r20.getAs[String]("note") == "v20" && r20.isNullAt(2))
  }
}
