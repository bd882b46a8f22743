package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.core.PDataset
import graft.operators.Dedup
import graft.streaming.DocumentStreams

/** The streaming ingest of the `writes` workload: near-duplicate-gated
  * ingest through
  * `DocumentStreams.dedupSink` (and so `Dedup` and the shingle and
  * minhash kernels of `functions`).
  *
  * Set-up writes a corpus of seeded synthetic documents (Zipf
  * vocabulary) as a graft table with its minhash index, and stages
  * the rest of the documents as one parquet file per micro-batch.
  * About 10% of the staged documents are planted near-duplicates: a
  * copy of an earlier document with one or two words replaced. One op
  * publishes the next batch file into the stream's source directory
  * and waits for the sink to commit it (`maxFilesPerTrigger = 1`, so
  * one op is one micro-batch). Dropped planted duplicates over planted
  * (recall) and over all dropped (precision) must both reach 0.9. */
final class IngestOps(w: Writes, seed: Long) {
  import w.spark
  private def tr = w.tr
  val corpusDocs = 500
  val batchDocs = 50
  /** One batch file per staged round. */
  private def batches = w.stagedRounds
  val minRecall, minPrecision = 0.9

  private var rawCorpus, rawBatches, corpusDir, indexDir, sourceDir, ckDir = ""
  private var planted = Set.empty[Long]
  private var query: StreamingQuery = _
  private var published = 0
  private var lastBatchId = -1L
  private val progressOf = mutable.Map.empty[Int, Seq[StreamingQueryProgress]]

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Seeded documents; returns (id, batch, text, planted) rows, batch
    * -1 for the corpus. */
  private def documents(): Seq[(Long, Int, String, Boolean)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 3000).map(_ =>
      (1 to 2 + rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val cum = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    val out = mutable.ArrayBuffer.empty[(Long, Int, String, Boolean)]
    val originals = mutable.ArrayBuffer.empty[String]
    for (i <- 0 until corpusDocs + batches * batchDocs) {
      val batch = if (i < corpusDocs) -1 else (i - corpusDocs) / batchDocs
      val dup = batch >= 0 && rnd.nextDouble() < 0.1
      val text =
        if (dup) {
          val words = originals(rnd.nextInt(originals.length)).split(" ")
          (1 to 1 + rnd.nextInt(2)).foreach(_ => words(rnd.nextInt(words.length)) = word())
          words.mkString(" ")
        } else {
          val t = Seq.fill(100 + rnd.nextInt(61))(word()).mkString(" ")
          originals += t
          t
        }
      out += ((i + 1L, batch, text, dup))
    }
    out.toSeq
  }

  def setup(dir: String): Unit = {
    close()
    rawCorpus = s"$dir/raw/corpus"
    rawBatches = s"$dir/raw/batches"
    corpusDir = s"$dir/graft/corpus"
    indexDir = s"$dir/graft/minhash"
    sourceDir = s"$dir/stream/in"
    ckDir = s"$dir/stream/checkpoint"
    val docs = documents()
    planted = docs.filter(_._4).map(_._1).toSet
    val rows = docs.map { case (id, b, t, _) => Row(id, b, t) }.asJava
    val all = spark.createDataFrame(rows, StructType(Seq(schema(0),
      StructField("batch", IntegerType), schema(1))))
    all.filter(col("batch") < 0).select("doc_id", "text").coalesce(1).write.parquet(rawCorpus)
    all.filter(col("batch") >= 0).coalesce(1).write.partitionBy("batch").parquet(rawBatches)
    val corpus = spark.read.parquet(rawCorpus)
    PDataset.fromDataFrame(corpus, Seq("doc_id")).writeParquet(corpusDir)
    Dedup.buildMinhashIndex(spark, corpus, "doc_id", "text", indexDir)
    Files.createDirectories(Paths.get(sourceDir))
    published = 0
    lastBatchId = -1L
    query = DocumentStreams.dedupSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(sourceDir),
      "doc_id", "text", corpusDir, indexDir, ckDir)
  }

  def inputs: Seq[Map[String, Any]] = Seq(
    Gen.fingerprint(spark, "corpus", rawCorpus), Gen.fingerprint(spark, "batches", rawBatches))

  /** The op of staged round `r`: publish batch `r`. */
  def ops(r: Int): Seq[Op] = Seq(Op("ingest", () => ingest(r)))

  private def ingest(b: Int): OpResult = {
    published += 1
    val staged = Files.list(Paths.get(s"$rawBatches/batch=$b")).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    // copy under a hidden name, then rename: the file source must never
    // list a half-written file
    staged.foreach { p =>
      val tmp = Paths.get(sourceDir, s".${p.getFileName}")
      Files.copy(p, tmp)
      Files.move(tmp, Paths.get(sourceDir, f"b$b%04d-${p.getFileName}"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    query.processAllAvailable()
    val progs = query.recentProgress.toSeq
      .filter(p => p.batchId > lastBatchId && p.numInputRows > 0)
    progs.lastOption.foreach(p => lastBatchId = p.batchId)
    progressOf(tr.currentOp) = progs
    progs.foreach(p => tr.addSpan("streaming.batch", tr.currentOp,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.getOrDefault("triggerExecution", 0L)))
    // numInputRows counts every read of the batch inside foreachBatch,
    // so the op's rows are the documents its one micro-batch carried
    val ok = progs.length == 1 && query.exception.isEmpty
    OpResult(if (ok) batchDocs.toLong else 0L, ok,
      if (ok) "" else s"batch $b: ${progs.length} micro-batches committed")
  }

  private var dropStats = (0.0, 0.0)

  def verify(ops: Seq[OpRec]): Unit = if (published > 0) {
    val kept = PDataset.scanParquet(spark, corpusDir).toDF.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val offered = (corpusDocs + 1L) to (corpusDocs + published.toLong * batchDocs)
    val dropped = offered.filterNot(kept)
    val plantedOffered = offered.count(planted)
    val hits = dropped.count(planted)
    val recall = if (plantedOffered == 0) 1.0 else hits.toDouble / plantedOffered
    val precision = if (dropped.isEmpty) 1.0 else hits.toDouble / dropped.length
    dropStats = (recall, precision)
    if (recall < minRecall || precision < minPrecision) {
      val last = ops.filter(_.kind == "ingest").last
      last.ok = false
      last.note = f"dropped $hits of $plantedOffered planted duplicates " +
        f"(recall $recall%.3f) among ${dropped.length} dropped (precision $precision%.3f)"
    }
  }

  def layerExtras(ops: Seq[OpRec]): Map[String, Double] = {
    val progs = ops.filter(_.traced).flatMap(o => progressOf.getOrElse(o.id, Nil))
    def p50(k: String) = Metrics.median(progs.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    Map(
      "streaming.batch.ms_p50" -> p50("triggerExecution"),
      "streaming.addBatch.ms_p50" -> p50("addBatch"),
      "streaming.queryPlanning.ms_p50" -> p50("queryPlanning"),
      "streaming.walCommit.ms_p50" -> p50("walCommit"),
      "operators.dedup.drop_recall" -> dropStats._1,
      "operators.dedup.drop_precision" -> dropStats._2)
  }

  /** Bytes of the batch files published so far, and (bytes under the
    * corpus directory, bytes of the files its sidecar lists). */
  def userDeltaBytes: Long =
    (0 until published).map(b => Gen.dirBytes(s"$rawBatches/batch=$b")).sum
  def space: (Long, Long) = (Gen.dirBytes(corpusDir), Gen.listedBytes(spark, corpusDir))

  def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}
