package graftbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a hash of (seed, row id,
  * column tag), and every frame has a fixed partition count, so the
  * same seed writes the same rows to the same files (see
  * [[fingerprint]] for why their bytes may still differ). */
object Gen {
  private def h(seed: Long, tag: Int): Column =
    xxhash64(lit(seed), col("id"), lit(tag))
  private def pick(seed: Long, tag: Int, n: Long): Column = pmod(h(seed, tag), lit(n))
  private def oneOf(seed: Long, tag: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(seed, tag, xs.length) + 1).cast("int"))
  private def money(seed: Long, tag: Int, cents: Long): Column =
    (pick(seed, tag, cents) / 100).cast(DecimalType(12, 2))

  val firstDate: java.time.LocalDate = java.time.LocalDate.of(1992, 1, 2)
  val dateSpan = 2526

  /** `lineitem`-shaped rows, four lines per order (order keys 1 to
    * n / 4), with about 1% null ship dates. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, files: Int): DataFrame =
    spark.range(0, n, 1, files).select(
      (floor(col("id") / 4) + 1).as("l_orderkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (pick(seed, 1, 20000) + 1).as("l_partkey"),
      (pick(seed, 2, 50) + 1).cast("int").as("l_quantity"),
      money(seed, 3, 10000000L).as("l_extendedprice"),
      (pick(seed, 4, 11) / 100).cast(DecimalType(4, 2)).as("l_discount"),
      oneOf(seed, 5, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(seed, 6, Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"))
        .as("l_shipmode"),
      when(pick(seed, 7, 100) === 0, lit(null).cast(DateType))
        .otherwise(date_add(lit(java.sql.Date.valueOf(firstDate)),
          pick(seed, 8, dateSpan).cast("int"))).as("l_shipdate"),
      concat(lit("c"), hex(h(seed, 9))).as("l_comment"))

  /** One row per ship date: the dimension `lineitem` joins on. */
  def calendar(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0, dateSpan, 1, 1).select(
      date_add(lit(java.sql.Date.valueOf(firstDate)), col("id").cast("int")).as("l_shipdate"),
      (pick(seed, 21, 4) + 1).cast("int").as("d_quarter_plan"),
      date_format(date_add(lit(java.sql.Date.valueOf(firstDate)), col("id").cast("int")), "EEE")
        .as("d_weekday"),
      (pick(seed, 22, 20) === 0).as("d_holiday"))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_comment", StringType)))

  /** `orders`-shaped rows for the keys in `keys` (a frame with a long
    * `id` column). */
  def orders(seed: Long, keys: org.apache.spark.sql.Dataset[_]): DataFrame = keys.select(
    col("id").as("o_orderkey"),
    (pick(seed, 11, 15000) + 1).as("o_custkey"),
    oneOf(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
    money(seed, 13, 50000000L).as("o_totalprice"),
    date_add(lit(java.sql.Date.valueOf(firstDate)),
      pick(seed, 14, dateSpan).cast("int")).as("o_orderdate"),
    oneOf(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .as("o_orderpriority"),
    concat(lit("o"), hex(h(seed, 16))).as("o_comment"))

  /** Write `df` range-clustered on `index` into `parts` files, then
    * register it as a graft table: `PDataset.writeMetadata` computes
    * each file's row count and index bounds in one job and writes the
    * sidecar. Cheaper than `reindex` + `repartition` + `writeParquet`,
    * so the read workload's set-up time goes to the data rather than
    * to graft's write path, which the write workload measures. */
  def clustered(df: DataFrame, index: String, parts: Int, dir: String): Unit = {
    df.repartitionByRange(parts, col(index)).sortWithinPartitions(index).write.parquet(dir)
    graft.core.PDataset.writeMetadata(df.sparkSession, dir, Seq(index))
  }

  /** Order-insensitive checksum columns: row count and the sum of a
    * 32-bit hash over every column, the columns taken by name. */
  def checksumCols(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(hash(df.columns.sorted.map(col).toIndexedSeq: _*).cast("long")),
      lit(0L)).as("h"))

  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(checksumCols(df).head, checksumCols(df).tail: _*).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Size and content digest of the parquet data under `dir`: SHA-256
    * over the schema and the sorted per-row hashes of every column.
    * The files' bytes are not compared: parquet-mr writes a column's
    * encodings from a hash set, so their order in the footer differs
    * from one JVM to the next although the data is the same. */
  def fingerprint(spark: SparkSession, name: String, dir: String): Map[String, Any] = {
    val files = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
    val df = spark.read.parquet(dir)
    val rowHashes = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*))
      .collect().map(_.getLong(0)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.catalogString.getBytes("UTF-8"))
    val buf = java.nio.ByteBuffer.allocate(8)
    rowHashes.foreach { h => buf.clear(); buf.putLong(h); md.update(buf.array) }
    Map("name" -> name, "files" -> files.length, "bytes" -> files.map(Files.size(_)).sum,
      "rows" -> rowHashes.length, "content_sha256" -> md.digest().map(x => f"$x%02x").mkString)
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
  }

  /** Bytes of the files the graft table at `dir` currently lists. */
  def listedBytes(spark: SparkSession, dir: String): Long =
    graft.core.Sidecar.load(spark, dir).files.map(f => Files.size(Paths.get(s"$dir/$f"))).sum

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }
}
