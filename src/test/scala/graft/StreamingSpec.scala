package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import Fixtures.checkBoundsAndSizes

/** Structured Streaming: file source -> watermarked windowed agg /
  * stateful sessionization -> memory sink, driven synchronously and
  * cross-checked against the batch twins. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Events with ts as TimestampType (micros) staged into a stream dir. */
  lazy val streamDir: String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = Files.createTempDirectory("graft-stream").toString
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }
    val ev = raw.withColumn("ts", ts)
    ev.coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  def batchEvents = spark.read.parquet(streamDir)

  test("streaming tumbling counts equal the batch aggregation") {
    val q = EventStreams
      .tumblingCounts(EventStreams.readEventStream(spark, streamDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_tumbling").start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; re-run after watermark
      // passes by just comparing the complete-mode equivalent:
    } finally q.stop()

    val qc = EventStreams
      .tumblingCounts(EventStreams.readEventStream(spark, streamDir))
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_tumbling_c").start()
    try {
      qc.processAllAvailable()
      val streamed = spark.table("stream_tumbling_c")
        .orderBy("window_start", "event_type").collect()
      val batch = batchEvents
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type").collect()
      assert(streamed.length == batch.length && streamed.length > 0)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    } finally qc.stop()
  }

  test("stream-stream correlation join matches the batch join") {
    val q = EventStreams
      .correlate(EventStreams.readEventStream(spark, streamDir),
        leftType = "click", rightType = "purchase")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_corr").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_corr").count()
      val ev = batchEvents
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
          col("event_id").as("l_event"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
          col("event_id").as("r_event"))
      val batch = l.join(r,
        col("l_user") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 30 minutes")).count()
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      assert(batch > 0, "fixture must produce at least one correlated pair")
    } finally q.stop()
  }

  /** Documents staged with duplicates: every text appears twice under
    * different doc_ids, the copy one minute later. */
  lazy val docStreamDir: String = {
    val dir = Files.createTempDirectory("graft-docstream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("ingest_ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val copies = docs
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("ingest_ts", col("ingest_ts") + expr("INTERVAL 1 MINUTE"))
    docs.unionByName(copies).coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming dedup keeps one copy per content hash in bounded state") {
    val distinctTexts = spark.read.parquet(docStreamDir)
      .select("text").distinct().count()
    val q = graft.streaming.DocumentStreams
      .dedupByContent(
        graft.streaming.DocumentStreams.readDocumentStream(spark, docStreamDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").start()
    try {
      q.processAllAvailable()
      val out = spark.table("stream_dedup")
      assert(out.count() == distinctTexts,
        s"${out.count()} rows != $distinctTexts distinct texts")
      assert(out.select("content_hash").distinct().count() == distinctTexts)
    } finally q.stop()
  }

  test("streaming upsert sink applies micro-batches to a persisted dataset") {
    import graft.core.PDataset
    import graft.operators.Maintenance

    // Target: documents keyed by doc_id, 5 partition files.
    val target = Files.createTempDirectory("graft-upsert-sink").toString + "/ds"
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseCount = base.count()
    PDataset.fromDataFrame(base, Seq("doc_id"))
      .repartition(math.max(1L, baseCount / 5))
      .writeParquet(target)

    // Stream: 30 updated docs (doc_id < 30, rewritten text) and 10
    // brand-new ids, one of them duplicated within the batch.
    val updates = base.filter(col("doc_id") < 30)
      .withColumn("text", concat(lit("UPDATED "), col("text")))
    val fresh = base.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    val dup = fresh.filter(col("doc_id") === 5000000L)
    val streamSrc = Files.createTempDirectory("graft-upsert-src").toString
    updates.unionByName(fresh).unionByName(dup)
      .coalesce(1).write.mode("overwrite").parquet(streamSrc)

    val checkpoint = Files.createTempDirectory("graft-upsert-ckpt").toString
    val stream = spark.readStream.schema(base.schema).parquet(streamSrc)
    val q = graft.streaming.DocumentStreams
      .upsertSink(stream, target, checkpoint)
    try q.processAllAvailable()
    finally q.stop()

    val after = PDataset.scanParquet(spark, target)
    checkBoundsAndSizes(after)
    assert(after.toDF.count() == baseCount + 10)
    assert(after.toDF.filter(col("text").startsWith("UPDATED ")).count() == 30)
    assert(after.toDF.filter(col("doc_id") >= 5000000L).count() == 10)
    assert(Maintenance.versions(spark, target).isEmpty)
  }

  test("near-dup ingestion sink: micro-batches dedup sequentially " +
      "against the persisted MinHash index, a restart resumes without " +
      "reprocessing, and a checkpoint-less replay is a txn no-op") {
    import graft.core.PDataset
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def seedTables(corpusDir: String, idxDir: String): Unit = {
      val seed = docs.filter(col("doc_id") % 3 === 0)
      PDataset.fromDataFrame(seed, Seq("doc_id")).writeParquet(corpusDir)
      Dedup.buildMinhashIndex(spark, seed, "doc_id", "text", idxDir)
    }
    // batch 1: residue 1 + exact copies of 5 CORPUS docs (must drop:
    // the indexed corpus copy wins); batch 2: residue 2 + exact
    // copies of 5 BATCH-1 docs (drop ONLY if batch 1's survivors
    // really entered the index — the sequentiality under test).
    val b1 = docs.filter(col("doc_id") % 3 === 1).unionByName(
      docs.filter(col("doc_id") % 3 === 0).orderBy("doc_id").limit(5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val b2 = docs.filter(col("doc_id") % 3 === 2).unionByName(
      docs.filter(col("doc_id") % 3 === 1).orderBy("doc_id").limit(5)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))

    // Reference: the same two batches through the BATCH operator.
    val refRoot = Files.createTempDirectory("graft-ingest-ref").toString
    seedTables(refRoot + "/corpus", refRoot + "/idx")
    Seq(b1, b2).foreach { b =>
      val surv = Dedup.dedupBatch(spark, b, "doc_id", "text",
        PDataset.scanParquet(spark, refRoot + "/corpus").toDF,
        refRoot + "/idx").persist()
      PDataset.fromDataFrame(surv, Seq("doc_id"))
        .writeParquet(refRoot + "/corpus", append = true)
      Dedup.appendToMinhashIndex(spark, surv, "doc_id", "text",
        refRoot + "/idx")
      surv.unpersist()
    }
    val expected = PDataset.scanParquet(spark, refRoot + "/corpus").toDF
      .orderBy("doc_id").collect().map(_.toString).toSeq

    // Streamed: file 1 -> process -> STOP -> file 2 -> restart with
    // the same checkpoint (resume, not reprocess) -> process.
    val root = Files.createTempDirectory("graft-ingest").toString
    seedTables(root + "/corpus", root + "/idx")
    val srcDir = Files.createTempDirectory("graft-ingest-src").toString
    val ck = Files.createTempDirectory("graft-ingest-ck").toString
    def startSink() = graft.streaming.DocumentStreams.dedupSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "doc_id", "text", root + "/corpus", root + "/idx", ck,
      appId = Some("ingest-spec"))
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startSink()
    try q1.processAllAvailable() finally q1.stop()
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startSink()
    try q2.processAllAvailable() finally q2.stop()

    def corpusRows() = PDataset.scanParquet(spark, root + "/corpus").toDF
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = corpusRows()
    assert(got == expected, "streamed corpus != batch-operator corpus")
    // the planted duplicates really dropped, their originals survived
    val ids = PDataset.scanParquet(spark, root + "/corpus").toDF
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.exists(_ >= 1000000L),
      "planted exact dups must drop (corpus/batch-1 copies win)")
    assert(ids.size == got.length, "no duplicate ids after restart")

    // Checkpoint-less replay with the SAME appId: every batch
    // re-delivers, but both tables' txn ledgers already record the
    // versions — the whole replay must be a no-op.
    val ck2 = Files.createTempDirectory("graft-ingest-ck2").toString
    val q3 = graft.streaming.DocumentStreams.dedupSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "doc_id", "text", root + "/corpus", root + "/idx", ck2,
      appId = Some("ingest-spec"))
    try q3.processAllAvailable() finally q3.stop()
    assert(corpusRows() == got, "replayed batches must be txn no-ops")
  }

  test("score-gated ingestion sink: predicate + persisted-LM gates " +
      "filter before dedup, matching the batch filter ∘ dedupBatch " +
      "composition; a checkpoint-less replay stays a txn no-op") {
    import graft.core.PDataset
    import graft.operators.{Dedup, LanguageModel}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val seed = docs.filter(col("doc_id") % 3 === 0)
    def seedTables(dir: String): Unit = {
      PDataset.fromDataFrame(seed, Seq("doc_id")).writeParquet(dir + "/corpus")
      Dedup.buildMinhashIndex(spark, seed, "doc_id", "text", dir + "/idx")
    }
    // the persisted model: trained ONCE on the seed corpus, never
    // retrained inside the loop
    val modelDir = Files.createTempDirectory("graft-gate-model").toString + "/m"
    LanguageModel.trainTrigramModel(seed, "text", vocab = 4096)
      .write.parquet(modelDir)
    val model = spark.read.parquet(modelDir)

    val batch = docs.filter(col("doc_id") % 3 === 1)
    val predicate = length(col("text")) >= 60
    // cut at the batch's median score: a nonempty strict subset drops
    val scores = LanguageModel
      .lmScore(batch.filter(predicate), "doc_id", "text", model)
      .select("lm_score").collect().map(_.getDouble(0)).sorted
    val cut = scores(scores.length / 2)
    assert(batch.filter(!predicate).count() > 0, "predicate gate must bite")

    // Reference: batch-side filter ∘ lm-gate ∘ dedupBatch
    val refRoot = Files.createTempDirectory("graft-gate-ref").toString
    seedTables(refRoot)
    val pred = batch.filter(predicate)
    val keep = LanguageModel.lmScore(pred, "doc_id", "text", model)
      .filter(col("lm_score") <= cut).select("doc_id")
    val gatedRef = pred.join(keep, Seq("doc_id"), "left_semi")
    assert(gatedRef.count() < pred.count(), "lm gate must bite")
    val surv = Dedup.dedupBatch(spark, gatedRef, "doc_id", "text",
      PDataset.scanParquet(spark, refRoot + "/corpus").toDF,
      refRoot + "/idx").persist()
    PDataset.fromDataFrame(surv, Seq("doc_id"))
      .writeParquet(refRoot + "/corpus", append = true)
    val expected = PDataset.scanParquet(spark, refRoot + "/corpus").toDF
      .orderBy("doc_id").collect().map(_.toString).toSeq
    surv.unpersist()

    // Streamed: the same batch through the gated sink
    val root = Files.createTempDirectory("graft-gate").toString
    seedTables(root)
    val srcDir = Files.createTempDirectory("graft-gate-src").toString
    val ck = Files.createTempDirectory("graft-gate-ck").toString
    batch.coalesce(1).write.mode("append").parquet(srcDir)
    val q = graft.streaming.DocumentStreams.dedupSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "doc_id", "text", root + "/corpus", root + "/idx", ck,
      appId = Some("gate-spec"),
      qualityGate = Some(predicate),
      lmGate = Some((modelDir, cut)))
    try q.processAllAvailable() finally q.stop()
    def corpusRows() = PDataset.scanParquet(spark, root + "/corpus").toDF
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = corpusRows()
    assert(got == expected, "gated stream != batch filter ∘ dedupBatch")

    // checkpoint-less replay, same appId: txn ledger makes it a no-op
    val ck2 = Files.createTempDirectory("graft-gate-ck2").toString
    val q2 = graft.streaming.DocumentStreams.dedupSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "doc_id", "text", root + "/corpus", root + "/idx", ck2,
      appId = Some("gate-spec"),
      qualityGate = Some(predicate),
      lmGate = Some((modelDir, cut)))
    try q2.processAllAvailable() finally q2.stop()
    assert(corpusRows() == got, "replayed gated batch must be a txn no-op")
  }

  test("span-gated ingestion sink: each micro-batch cuts spans " +
      "duplicated against everything ingested before it (ExactSubstr " +
      "before near-dup), matching the batch composition; a " +
      "checkpoint-less replay stays a txn no-op") {
    import graft.core.PDataset
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // planted passages: P1 lives in the seed corpus; P2 first appears
    // in batch 1 and re-appears in batch 2 — batch 2 only loses it if
    // batch 1's cut shingles REALLY entered the span index
    val P1 = "c1 c2 c3 c4 c5 c6 c7 c8 c9"
    val P2 = "f1 f2 f3 f4 f5 f6 f7 f8 f9"
    val seed = base.filter(col("doc_id") % 3 === 0).select(col("doc_id"),
      when(col("doc_id") % 9 === 0, concat(col("text"), lit(" " + P1)))
        .otherwise(col("text")).as("text"))
    def seedTables(dir: String): Unit = {
      PDataset.fromDataFrame(seed, Seq("doc_id"))
        .writeParquet(dir + "/corpus")
      Dedup.buildMinhashIndex(spark, seed, "doc_id", "text", dir + "/idx")
      Dedup.buildSpanIndex(spark, seed, "doc_id", "text",
        dir + "/spanidx", k = 8)
    }
    val b1 = base.filter(col("doc_id") % 3 === 1).select(col("doc_id"),
      when(col("doc_id") % 7 === 1, concat(col("text"), lit(" " + P1)))
        .when(col("doc_id") % 7 === 2, concat(col("text"), lit(" " + P2)))
        .otherwise(col("text")).as("text"))
    val b2 = base.filter(col("doc_id") % 3 === 2).select(col("doc_id"),
      when(col("doc_id") % 7 === 3, concat(col("text"), lit(" " + P2)))
        .otherwise(col("text")).as("text"))

    // Reference: dedupSpansBatch ∘ dedupBatch ∘ appends, per batch
    val refRoot = Files.createTempDirectory("graft-spangate-ref").toString
    seedTables(refRoot)
    Seq(b1, b2).foreach { b =>
      val cut = Dedup.dedupSpansBatch(spark, b, "doc_id", "text",
        refRoot + "/spanidx", appendToIndex = false)
      val surv = Dedup.dedupBatch(spark, cut, "doc_id", "text",
        PDataset.scanParquet(spark, refRoot + "/corpus").toDF,
        refRoot + "/idx").persist()
      PDataset.fromDataFrame(surv, Seq("doc_id"))
        .writeParquet(refRoot + "/corpus", append = true)
      Dedup.appendToSpanIndex(spark, surv, "doc_id", "text",
        refRoot + "/spanidx")
      Dedup.appendToMinhashIndex(spark, surv, "doc_id", "text",
        refRoot + "/idx")
      surv.unpersist()
    }
    val expected = PDataset.scanParquet(spark, refRoot + "/corpus").toDF
      .orderBy("doc_id").collect().map(_.toString).toSeq

    // Streamed: file 1 -> process -> file 2 -> process, spanGate on
    val root = Files.createTempDirectory("graft-spangate").toString
    seedTables(root)
    val srcDir = Files.createTempDirectory("graft-spangate-src").toString
    val ck = Files.createTempDirectory("graft-spangate-ck").toString
    def startSink() = graft.streaming.DocumentStreams.dedupSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "doc_id", "text", root + "/corpus", root + "/idx", ck,
      appId = Some("spangate-spec"),
      spanGate = Some(root + "/spanidx"))
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startSink()
    try q1.processAllAvailable() finally q1.stop()
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startSink()
    try q2.processAllAvailable() finally q2.stop()

    def corpusRows() = PDataset.scanParquet(spark, root + "/corpus").toDF
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = corpusRows()
    assert(got == expected,
      "span-gated stream != dedupSpansBatch ∘ dedupBatch composition")
    // the sequencing really happened: P1's batch copies lost it to
    // the corpus keeper, P2 survives exactly once (its batch-1
    // keeper), and batch 2's re-submission was cut against the index
    val texts = PDataset.scanParquet(spark, root + "/corpus").toDF
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val p1Carriers = texts.filter(_._2.contains(P1)).map(_._1)
    assert(p1Carriers.forall(_ % 3 == 0),
      s"batch copies of the corpus passage must be cut: " +
        s"${p1Carriers.toSeq}")
    val p2Carriers = texts.filter(_._2.contains(P2)).map(_._1)
    assert(p2Carriers.length == 1 && p2Carriers.head % 3 == 1,
      s"exactly batch 1's keeper may carry P2, got ${p2Carriers.toSeq}")

    // checkpoint-less replay, same appId: all three tables' txn
    // ledgers already record both batches — a full no-op
    val ck2 = Files.createTempDirectory("graft-spangate-ck2").toString
    val q3 = graft.streaming.DocumentStreams.dedupSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "doc_id", "text", root + "/corpus", root + "/idx", ck2,
      appId = Some("spangate-spec"),
      spanGate = Some(root + "/spanidx"))
    try q3.processAllAvailable() finally q3.stop()
    assert(corpusRows() == got, "replayed batches must be txn no-ops")
  }

  test("vector ingestion sink: micro-batches dedup against the " +
      "persisted ANN index sequentially, and a checkpoint-less replay " +
      "is a txn no-op") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def seedIndex(dir: String): Unit =
      VectorIndex.build(spark, emb.filter(col("vec_id") < 200),
        "vec_id", "embedding", dir, dim = 64, nlist = 8)
    // batch 1: fresh vectors + exact copies of 5 INDEXED vectors
    // (must drop); batch 2: fresh + exact copies of 5 BATCH-1 vectors
    // (drop ONLY if batch 1's survivors really entered the index)
    val b1 = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
      .unionByName(emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val b2 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .unionByName(emb.filter(col("vec_id") >= 200 && col("vec_id") < 205)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding")))

    // reference: the batch operator loop (exact gate: nprobe = nlist)
    val refDir = Files.createTempDirectory("graft-vecsink-ref").toString + "/idx"
    seedIndex(refDir)
    Seq(b1, b2).foreach { b =>
      val surv = VectorIndex.dedupVectorBatch(spark, b, "vec_id",
        "embedding", refDir, threshold = 0.9999, nprobe = 8).persist()
      VectorIndex.addVectors(spark, surv, "vec_id", "embedding", refDir)
      surv.unpersist()
    }
    def ids(dir: String) = spark.read.format("graft").load(dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val expected = ids(refDir)
    assert(!expected.exists(_ >= 100000L),
      "planted copies must drop (indexed/batch-1 originals win)")
    assert(expected.count(v => v >= 200L && v < 400L) == 200,
      "fresh vectors must all survive")

    val dir = Files.createTempDirectory("graft-vecsink").toString + "/idx"
    seedIndex(dir)
    val srcDir = Files.createTempDirectory("graft-vecsink-src").toString
    val ck = Files.createTempDirectory("graft-vecsink-ck").toString
    def start() = graft.streaming.VectorStreams.vectorSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "vec_id", "embedding", dir, ck, threshold = 0.9999, nprobe = 8,
      appId = Some("vecsink-spec"))
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(ids(dir) == expected, "streamed index != batch-operator index")

    // checkpoint-less replay, same appId: both batches re-deliver but
    // the txn ledger already records their versions — a no-op
    val ck2 = Files.createTempDirectory("graft-vecsink-ck2").toString
    val q3 = graft.streaming.VectorStreams.vectorSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "vec_id", "embedding", dir, ck2, threshold = 0.9999, nprobe = 8,
      appId = Some("vecsink-spec"))
    try q3.processAllAvailable() finally q3.stop()
    assert(ids(dir) == expected, "replayed batches must be txn no-ops")
  }

  test("dedupSink autoRecluster: overlapping batch appends trigger " +
      "index compaction inside the sink; corpus and gate results " +
      "match the non-compacting reference") {
    import graft.core.PDataset
    import graft.operators.{Dedup, Maintenance}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def seedTables(corpusDir: String, idxDir: String): Unit = {
      val seed = docs.filter(col("doc_id") % 3 === 0)
      PDataset.fromDataFrame(seed, Seq("doc_id")).writeParquet(corpusDir)
      Dedup.buildMinhashIndex(spark, seed, "doc_id", "text", idxDir)
    }
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)

    // reference: the batch operator, never compacted
    val refRoot = Files.createTempDirectory("graft-autorecl-ref").toString
    seedTables(refRoot + "/corpus", refRoot + "/idx")
    Seq(b1, b2).foreach { b =>
      val surv = Dedup.dedupBatch(spark, b, "doc_id", "text",
        PDataset.scanParquet(spark, refRoot + "/corpus").toDF,
        refRoot + "/idx").persist()
      PDataset.fromDataFrame(surv, Seq("doc_id"))
        .writeParquet(refRoot + "/corpus", append = true)
      Dedup.appendToMinhashIndex(spark, surv, "doc_id", "text",
        refRoot + "/idx")
      surv.unpersist()
    }
    // the un-maintained index really does degrade (else the knob
    // tests nothing)
    assert(!Maintenance.layoutHealth(spark, refRoot + "/idx").disjoint)

    val root = Files.createTempDirectory("graft-autorecl").toString
    seedTables(root + "/corpus", root + "/idx")
    val srcDir = Files.createTempDirectory("graft-autorecl-src").toString
    val ck = Files.createTempDirectory("graft-autorecl-ck").toString
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    val q = graft.streaming.DocumentStreams.dedupSink(
      spark.readStream.schema(schema).parquet(srcDir),
      "doc_id", "text", root + "/corpus", root + "/idx", ck,
      appId = Some("autorecl-spec"), autoReclusterOverlap = Some(1))
    try {
      q.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()

    // the sink reclustered: layout back to disjoint bucket ranges
    assert(Maintenance.layoutHealth(spark, root + "/idx").disjoint,
      Maintenance.layoutHealth(spark, root + "/idx").toString)
    // pure layout maintenance: corpus and a probe batch's gate
    // decision are identical to the never-compacted reference
    def rows(dir: String) = PDataset.scanParquet(spark, dir).toDF
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(rows(root + "/corpus") == rows(refRoot + "/corpus"))
    val probe = docs.limit(20)
      .select((col("doc_id") + 7000000L).as("doc_id"), col("text"))
    def gate(r: String) = Dedup.dedupBatch(spark, probe, "doc_id",
      "text", PDataset.scanParquet(spark, r + "/corpus").toDF,
      r + "/idx").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gate(root) == gate(refRoot),
      "compaction changed an index query result")
  }

  test("view-maintaining sink keeps the aggregate synced per batch") {
    import graft.core.PDataset
    import graft.operators.{IncrementalAgg, Maintenance}

    val root = Files.createTempDirectory("graft-viewsink").toString
    val target = root + "/ds"
    val view = root + "/view"
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("double").as("chars"))
    PDataset.fromDataFrame(base, Seq("doc_id"))
      .repartition(math.max(1L, base.count() / 5))
      .writeParquet(target)
    IncrementalAgg.build(spark, target, view, Seq("lang"), Seq("chars"))

    // Stream: re-langed updates plus fresh ids (integral chars keep
    // the incremental sums exact against the full-rebuild check).
    val updates = base.filter(col("doc_id") < 25)
      .withColumn("lang", lit("xx")).withColumn("chars", lit(640.0))
    val fresh = base.filter(col("doc_id") < 15)
      .withColumn("doc_id", col("doc_id") + 9000000L)
    val streamSrc = Files.createTempDirectory("graft-viewsink-src").toString
    updates.unionByName(fresh)
      .coalesce(1).write.mode("overwrite").parquet(streamSrc)

    val checkpoint = Files.createTempDirectory("graft-viewsink-ckpt").toString
    val stream = spark.readStream.schema(base.schema).parquet(streamSrc)
    val q = graft.streaming.DocumentStreams
      .upsertSinkWithViews(stream, target, checkpoint, Seq(view))
    try {
      q.processAllAvailable()
      // A SECOND micro-batch after the first batch's vacuum cleared
      // the history: generation numbering restarts at v0, so this
      // pins that refresh resolves the view's base generation by
      // CONTENT, not by the recorded (now-renumbered) version.
      base.filter(col("doc_id") >= 25 && col("doc_id") < 40)
        .withColumn("lang", lit("yy")).withColumn("chars", lit(320.0))
        .coalesce(1).write.mode("append").parquet(streamSrc)
      q.processAllAvailable()
    } finally q.stop()

    // the view equals a fresh full aggregate of the mutated table
    val want = PDataset.scanParquet(spark, target).toDF
      .groupBy("lang").agg(count(lit(1)).as("n"),
        sum("chars").as("chars_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val got = PDataset.scanParquet(spark, view).toDF
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("n"),
        r.getAs[Double]("chars_sum"))).sortBy(_._1).toSeq
    assert(got == want)
    assert(got.exists(_._1 == "xx") && got.exists(_._1 == "yy"))
    // per-batch history vacuumed once the views caught up; the view
    // is fresh so a direct refresh is a no-op
    assert(Maintenance.versions(spark, target).isEmpty)
    assert(IncrementalAgg.refresh(spark, view) == 0L)
  }

  test("streaming quality gate matches the batch filter") {
    val q = graft.streaming.DocumentStreams
      .qualityFilter(
        graft.streaming.DocumentStreams.readDocumentStream(spark, docStreamDir),
        minQuality = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_quality").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_quality").count()
      val batch = spark.read.parquet(docStreamDir)
        .filter(graft.functions.TextFunctions
          .qualityScore(col("text")) >= 0.5).count()
      assert(streamed == batch && batch > 0,
        s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions") {
    val events = batchEvents
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    // batch twin for expected session count (closed sessions only --
    // the final open session per user is withheld until timeout)
    val batchSessions = graft.operators.Events
      .sessionStats(batchEvents, 30)
      .agg(sum("n_sessions")).collect()(0).getLong(0)

    val streamIn = EventStreams.readEventStream(spark, streamDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    val q = EventStreams.sessionSummaries(streamIn, 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_sessions").count()
      val users = batchEvents.select("user_id").distinct().count()
      // all sessions except at most one open session per user
      assert(emitted >= batchSessions - users && emitted <= batchSessions,
        s"emitted $emitted of $batchSessions sessions ($users users)")
    } finally q.stop()
  }

  test("readStream format(\"graft\") streams the change feed; replay " +
      "from offset 0 reconstructs the batch feed exactly") {
    import graft.core.PDataset
    import graft.operators.Maintenance

    val dir = Files.createTempDirectory("graft-cdc-stream").toString + "/t"
    val rows = spark.range(0, 300).select(
      col("id").as("k"), (col("id") % 7).as("grp"),
      concat(lit("p"), col("id")).as("payload"))
    PDataset.fromDataFrame(rows, Seq("k")).repartition(100).writeParquet(dir)

    def feedSorted(name: String) = spark.table(name)
      .orderBy("k", "change_type").collect().toIndexedSeq
    def batchFeed(from: Int) = Maintenance.changes(spark, dir, from)
      .orderBy("k", "change_type").collect().toIndexedSeq

    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val q = spark.readStream.format("graft")
      .option("startingVersion", 0).load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("cdc").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc").isEmpty,
        "no retained mutation yet: the stream must emit nothing")

      // retained mutation #1: upsert 5 updates + 2 inserts
      Maintenance.upsert(spark, dir,
        rows.filter(col("k") < 5)
          .withColumn("payload", lit("UPDATED"))
          .unionByName(rows.filter(col("k") < 2)
            .withColumn("k", col("k") + 1000L)),
        retain = true)
      q.processAllAvailable()
      // 5 updates = 5 pre/postimage pairs; plus 2 pure inserts
      assert(spark.table("cdc").count() == 12)
      assert(feedSorted("cdc") == batchFeed(0),
        "the stream must equal the batch change feed")

      // retained mutation #2: delete 3 keys — the stream appends
      // exactly that generation's delta
      Maintenance.deleteKeys(spark, dir,
        spark.range(10, 13).select(col("id").as("k")), retain = true)
      q.processAllAvailable()
      assert(spark.table("cdc").count() == 12 + 3)
      assert(feedSorted("cdc") == batchFeed(0))
    } finally q.stop()

    // replay: a FRESH query from offset 0 (new checkpoint) emits the
    // identical cumulative feed — generation offsets are idempotent
    val ckpt2 = Files.createTempDirectory("graft-cdc-ckpt2").toString
    val q2 = spark.readStream.format("graft")
      .option("startingVersion", 0).load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("cdc_replay").option("checkpointLocation", ckpt2).start()
    try {
      q2.processAllAvailable()
      assert(feedSorted("cdc_replay") == batchFeed(0),
        "replay from offset 0 must reconstruct the full feed")
    } finally q2.stop()

    // default start = current generation: only future changes stream
    val q3 = spark.readStream.format("graft").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("cdc_tail").start()
    try {
      q3.processAllAvailable()
      assert(spark.table("cdc_tail").isEmpty)
      Maintenance.deleteKeys(spark, dir,
        Seq(20L).toDF("k"), retain = true)
      q3.processAllAvailable()
      assert(spark.table("cdc_tail").count() == 1)
      assert(spark.table("cdc_tail").head().getAs[String]("change_type")
        == "delete")
    } finally q3.stop()
  }

  test("change-feed replication keeps a replica converged with its " +
      "source across upsert, delete and merge") {
    import graft.core.PDataset
    import graft.operators.Maintenance
    import Fixtures.assertSameRows
    val root = Files.createTempDirectory("graft-replica").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    val rows = spark.range(0, 400).select(
      col("id").as("k"), (col("id") % 5).as("grp"),
      concat(lit("p"), col("id")).as("payload"))
    PDataset.fromDataFrame(rows, Seq("k")).repartition(100).writeParquet(src)
    // seed the replica from a snapshot
    PDataset.fromDataFrame(
      PDataset.scanParquet(spark, src).toDF, Seq("k"))
      .repartition(100).writeParquet(dst)

    def srcDf = PDataset.scanParquet(spark, src).toDF
    def dstDf = PDataset.scanParquet(spark, dst).toDF
    val q = graft.streaming.Replication.replicaSink(spark, src, dst,
      Files.createTempDirectory("graft-replica-ckpt").toString)
    try {
      // update 10 rows + insert 3 fresh ones, one retained commit
      Maintenance.upsert(spark, src,
        rows.filter(col("k") < 10)
          .withColumn("payload", lit("UPDATED"))
          .unionByName(rows.filter(col("k") < 3)
            .withColumn("k", col("k") + 9000L)),
        retain = true)
      q.processAllAvailable()
      assertSameRows(dstDf, srcDf)
      assert(dstDf.count() == 403)
      // pure deletes
      Maintenance.deleteKeys(spark, src,
        spark.range(20, 30).select(col("id").as("k")), retain = true)
      q.processAllAvailable()
      assertSameRows(dstDf, srcDf)
      // a combined update + delete commit
      Maintenance.merge(spark, src,
        rows.filter(col("k").between(50, 54))
          .withColumn("payload", lit("MERGED")),
        spark.range(60, 63).select(col("id").as("k")),
        retain = true)
      q.processAllAvailable()
      assertSameRows(dstDf, srcDf)
      assert(dstDf.filter(col("payload") === "MERGED").count() == 5)
    } finally q.stop()
  }

  test("transactional appends are idempotent per (txnAppId, " +
      "txnVersion), and the ledger survives maintenance") {
    import graft.operators.Maintenance
    val t1 = Files.createTempDirectory("graft-sink-txn").toString + "/t"
    val rows = spark.range(0, 100).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
    def stamped(v: Int, df: org.apache.spark.sql.DataFrame = rows): Unit =
      df.write.format("graft").mode("append").option("index", "k")
        .option("txnAppId", "app1").option("txnVersion", v.toString)
        .save(t1)
    def n(): Long = spark.read.format("graft").load(t1).count()
    stamped(7)
    assert(n() == 100)
    stamped(7) // replayed batch: a no-op
    assert(n() == 100)
    stamped(5) // an OLDER version is also a no-op
    assert(n() == 100)
    stamped(8, rows.filter(col("k") < 10)
      .withColumn("k", col("k") + 1000L)) // the next version lands
    assert(n() == 110)
    // a DIFFERENT writer id has its own ledger entry
    rows.filter(col("k") < 5).withColumn("k", col("k") + 2000L)
      .write.format("graft").mode("append").option("index", "k")
      .option("txnAppId", "app2").option("txnVersion", "1").save(t1)
    assert(n() == 115)
    // the ledger survives load-modify-write maintenance commits
    Maintenance.compact(spark, t1, targetRows = 1000)
    stamped(8)
    assert(n() == 115, "the txn ledger must survive compaction")
    // ... and a PDataset append, which commits through the same install
    graft.core.PDataset.fromDataFrame(rows.filter(col("k") < 5)
      .withColumn("k", col("k") + 3000L), Seq("k"))
      .writeParquet(t1, append = true)
    assert(n() == 120)
    stamped(8)
    assert(n() == 120, "the txn ledger must survive a PDataset append")
  }

  test("native writeStream format(\"graft\") sink: exactly-once " +
      "appends across batches and checkpoint restarts") {
    import graft.core.PDataset
    val root = Files.createTempDirectory("graft-native-sink").toString
    val srcDir = s"$root/src"
    val target = s"$root/t"
    val ckpt = s"$root/ckpt"
    val rows = spark.range(0, 200).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
    rows.coalesce(1).write.parquet(srcDir)
    def start() = spark.readStream.schema(rows.schema).parquet(srcDir)
      .writeStream.format("graft").option("index", "k")
      .option("checkpointLocation", ckpt).start(target)
    val q = start()
    try {
      q.processAllAvailable()
      assert(PDataset.scanParquet(spark, target).toDF.count() == 200)
      // a second source file arrives -> one more appended batch
      rows.filter(col("k") < 50).withColumn("k", col("k") + 10000L)
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(PDataset.scanParquet(spark, target).toDF.count() == 250)
    } finally q.stop()
    // restart on the same checkpoint: committed batches do not replay
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(PDataset.scanParquet(spark, target).toDF.count() == 250)
    } finally q2.stop()
    val ds = PDataset.scanParquet(spark, target)
    checkBoundsAndSizes(ds)
    assert(ds.toDF.select("k").distinct().count() == 250)
  }

  test("change-feed offsets parse bare pre-hash checkpoint values " +
      "and round-trip their JSON") {
    import graft.streaming.ChangeFeedSource.{ChangeFeedOffset, parseOffset}
    // a pre-hash checkpoint recovers as a bare number: no hash, no
    // verification — the old behavior, not a parse failure
    val legacy = parseOffset(
      org.apache.spark.sql.execution.streaming.runtime.LongOffset(7L))
    assert(legacy == ChangeFeedOffset(7, None))
    // hashed offsets survive the JSON round trip the checkpoint does
    val h = ChangeFeedOffset(3, Some("abc123"))
    val recovered = parseOffset(
      org.apache.spark.sql.execution.streaming.runtime
        .SerializedOffset(h.json))
    assert(recovered == h)
    assert(parseOffset(org.apache.spark.sql.execution.streaming.runtime
      .SerializedOffset("11")) == ChangeFeedOffset(11, None))
  }

  test("streaming sink autoCompact keeps per-batch files bin-packed") {
    import graft.core.{PDataset, Sidecar}
    val root = Files.createTempDirectory("graft-sink-compact").toString
    val srcDir = s"$root/src"
    val target = s"$root/t"
    val rows = spark.range(0, 100).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
    rows.coalesce(1).write.parquet(srcDir)
    val q = spark.readStream.schema(rows.schema).parquet(srcDir)
      .writeStream.format("graft").option("index", "k")
      .option("autoCompact", "100000")
      .option("checkpointLocation", s"$root/ckpt").start(target)
    try {
      q.processAllAvailable()
      // several more micro-batches, each a small append
      (1 to 3).foreach { i =>
        rows.withColumn("k", col("k") + lit(i * 1000L))
          .coalesce(1).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val m = Sidecar.load(spark, target)
    assert(m.sizes.sum == 400L)
    assert(m.files.length <= 2,
      s"autoCompact must keep the dribble bin-packed, got " +
        s"${m.files.length} files")
    assert(PDataset.scanParquet(spark, target).toDF
      .select("k").distinct().count() == 400L)
  }

  test("caught-up stream refuses a retain=false mutation loudly " +
      "instead of silently losing its delta") {
    import graft.core.PDataset
    import graft.operators.Maintenance
    val dir = Files.createTempDirectory("graft-cdc-unret").toString + "/t"
    val rows = spark.range(0, 200).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
    PDataset.fromDataFrame(rows, Seq("k")).repartition(100).writeParquet(dir)
    val q = spark.readStream.format("graft")
      .option("startingVersion", 0).load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("cdc_unret").start()
    try {
      Maintenance.deleteKeys(spark, dir, Seq(1L).toDF("k"), retain = true)
      q.processAllAvailable() // consumed offset = the CURRENT generation
      assert(spark.table("cdc_unret").count() == 1)
      // a retain=false mutation rewrites the consumed generation's
      // content in place: the offset's content hash no longer
      // matches, so the stream fails LOUDLY (the old behavior was to
      // silently drop this delta once the next retained tick landed)
      Maintenance.deleteKeys(spark, dir, Seq(2L).toDF("k"), retain = false)
      val e = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("retain"),
        s"expected the retain=false refusal, got: ${e.getMessage}")
    } finally q.stop()
  }

  test("replication refuses a delta revealing duplicate source index " +
      "keys instead of silently diverging") {
    import graft.core.PDataset
    import graft.operators.Maintenance
    val root = Files.createTempDirectory("graft-replica-dup").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    // key 50 is DUPLICATED in the seed (two rows, one key) — legal to
    // write, but outside replication's unique-key contract
    val rows = spark.range(0, 100).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
      .unionByName(Seq((50L, "copy")).toDF("k", "payload"))
    PDataset.fromDataFrame(rows, Seq("k")).repartition(50).writeParquet(src)
    PDataset.fromDataFrame(rows, Seq("k")).repartition(50).writeParquet(dst)
    val q = graft.streaming.Replication.replicaSink(spark, src, dst,
      Files.createTempDirectory("graft-replica-dup-ckpt").toString)
    try {
      // upserting the duplicated key replaces BOTH stored copies with
      // one: the feed carries 2 losses + 1 gain on key 50 — a by-key
      // apply cannot represent that, so the batch must fail loudly
      Maintenance.upsert(spark, src,
        Seq((50L, "X")).toDF("k", "payload"), retain = true)
      val e = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("unique index keys"),
        s"expected the duplicate-key refusal, got: ${e.getMessage}")
    } finally q.stop()
  }

  test("maxGenerationsPerBatch paces catch-up one generation per " +
      "micro-batch") {
    import graft.core.PDataset
    import graft.operators.Maintenance
    val dir = Files.createTempDirectory("graft-cdc-pace").toString + "/t"
    val rows = spark.range(0, 200).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
    PDataset.fromDataFrame(rows, Seq("k")).repartition(100).writeParquet(dir)
    // three retained mutations BEFORE the stream starts
    (1L to 3L).foreach(k => Maintenance.deleteKeys(
      spark, dir, Seq(k).toDF("k"), retain = true))
    val q = spark.readStream.format("graft")
      .option("startingVersion", "earliest")
      .option("maxGenerationsPerBatch", 1).load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("cdc_paced").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_paced").count() == 3)
      // the catch-up must have advanced one generation per batch —
      // three data-carrying batches, not one 0->3 diff
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 3,
        s"expected 3 paced batches, got $dataBatches")
    } finally q.stop()
  }

  test("a wedged mid-commit window (archive == current metadata) " +
      "fails OPEN: unverified offset, counted and WARNed") {
    import graft.core.{GraftFs, PDataset, Sidecar}
    val dir = Fixtures.tempDir("stream-failopen") + "/ds"
    PDataset.fromDataFrame(
      spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v"),
      Seq("k")).writeParquet(dir)
    graft.operators.Maintenance.upsert(spark, dir,
      spark.range(0, 1).selectExpr("5L AS k", "99L AS v"),
      retain = true)
    // Simulate a writer crashed between archive and swap: the newest
    // archive holds exactly the current metadata's content, so no
    // consistent (generation, text) pairing ever resolves.
    val (fs, dirPath) = GraftFs.resolve(spark, dir)
    val cur = GraftFs.readString(fs, Sidecar.metadataPath(dir))
    GraftFs.writeString(fs,
      graft.operators.Maintenance.versionFile(dirPath, 0), cur)
    val src = new graft.streaming.ChangeFeedSource(spark, dir,
      Sidecar.load(spark, dir).schema, startVersion = 0)
    val off = src.getOffset
    assert(src.unverifiedSnapshots == 1L,
      "the fail-open must be counted (and WARN-logged)")
    assert(off.isDefined)
    val parsed = graft.streaming.ChangeFeedSource.parseOffset(off.get)
    assert(parsed.hash.isEmpty,
      "a fail-open offset must carry no content hash")
  }

  test("writeStream.toTable(name) lands on the transactional graft " +
      "sink via the V1 fallback — exactly-once across restarts") {
    import graft.core.PDataset
    val root = Files.createTempDirectory("graft-totable").toString
    val wh = s"$root/wh"
    spark.conf.set("spark.sql.catalog.gstrm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstrm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstrm.db")
    spark.sql("CREATE TABLE gstrm.db.sunk (k BIGINT, payload STRING) " +
      "USING graft TBLPROPERTIES('index'='k')")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val rows = spark.range(0, 200).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
    rows.coalesce(1).write.parquet(srcDir)
    def start() = spark.readStream.schema(rows.schema).parquet(srcDir)
      .writeStream.format("graft").option("checkpointLocation", ckpt)
      .toTable("gstrm.db.sunk")
    val q = start()
    try {
      q.processAllAvailable()
      assert(spark.table("gstrm.db.sunk").count() == 200)
      rows.filter(col("k") < 50).withColumn("k", col("k") + 10000L)
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(spark.table("gstrm.db.sunk").count() == 250)
    } finally q.stop()
    // restart on the same checkpoint: committed batches do not replay
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.table("gstrm.db.sunk").count() == 250)
    } finally q2.stop()
    val ds = PDataset.scanParquet(spark, s"$wh/db/sunk")
    checkBoundsAndSizes(ds)
    assert(ds.toDF.select("k").distinct().count() == 250)
  }

  test("readStream.table(name) streams the change feed through the " +
      "same V1 fallback") {
    import graft.core.PDataset
    import graft.operators.Maintenance
    val root = Files.createTempDirectory("graft-readtable").toString
    val wh = s"$root/wh"
    spark.conf.set("spark.sql.catalog.grt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grt.db")
    val dir = s"$wh/db/feed"
    val rows = spark.range(0, 100).select(
      col("id").as("k"), concat(lit("p"), col("id")).as("payload"))
    PDataset.fromDataFrame(rows, Seq("k")).writeParquet(dir)
    Maintenance.upsert(spark, dir,
      spark.range(0, 5).select(col("id").as("k"), lit("NEW").as("payload")),
      retain = true)
    val q = spark.readStream.option("startingVersion", 0)
      .table("grt.db.feed")
      .writeStream.outputMode("append").format("memory")
      .queryName("read_table_feed").start()
    try {
      q.processAllAvailable()
      val got = spark.table("read_table_feed")
        .select("k", "payload", "change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == (0L until 5L).flatMap(k => Seq(
        (k, "NEW", "update_postimage"),
        (k, s"p$k", "update_preimage"))).toSet)
    } finally q.stop()
  }
}
