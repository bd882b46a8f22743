package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** Streaming twins of the training-data document pipeline
  * (graft.operators.Dedup / graft.functions.TextFunctions): exact
  * dedup and quality filtering over an unbounded document stream.
  *
  * The scalar pieces (content hash, quality score, language id) are
  * the SAME codegen expressions as the batch path — narrow transforms
  * are streaming-transparent. The stateful piece (dedup) uses
  * dropDuplicatesWithinWatermark so the seen-hash state is evicted as
  * the watermark advances: an unbounded stream dedups in bounded
  * state, with the standard trade that a duplicate arriving more than
  * `lateness` after its first copy can pass through.
  */
object DocumentStreams {

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("ingest_ts", TimestampType)))

  /** Open a file-based document stream (parquet files appearing in a
    * directory; swap for kafka unchanged). Expects an `ingest_ts`
    * event-time column — the dedup watermark anchors on arrival time. */
  def readDocumentStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentSchema).parquet(dir)

  /** Streaming exact dedup: first arrival of each content fingerprint
    * wins; duplicates within `lateness` of the first copy are dropped
    * with state bounded by the watermark. */
  def dedupByContent(
      docs: DataFrame,
      tsCol: String = "ingest_ts",
      lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", TextFunctions.fingerprint(col("text")))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming quality gate: the batch quality score as a narrow
    * streaming filter, with the score and language id attached. */
  def qualityFilter(docs: DataFrame, minQuality: Double): DataFrame =
    docs
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .filter(col("quality") >= minQuality)

  /** Continuous NEAR-DUP-gated ingestion — the persisted MinHash band
    * index as the spine of a continuously ingesting corpus: each
    * micro-batch runs [[graft.operators.Dedup.dedupBatch]] against
    * the index (O(batch) signature work + bucket equi-joins; no
    * corpus document is ever re-signed, old-vs-old is never
    * re-paired), appends the SURVIVORS to the corpus table and their
    * band rows to the index, so the next batch dedups against
    * everything ingested before it.
    *
    * Exactly-once across BOTH tables: each append is stamped with an
    * (appId, batchId) txn pair committed in the same atomic sidecar
    * swap as its files, so a crash-replayed micro-batch no-ops on
    * whichever table already committed it. The corpus commits FIRST —
    * a replay after corpus-commit/index-crash recomputes the SAME
    * survivor set (candidates come from the index, which does not yet
    * hold the batch) and completes the index append; committing the
    * index first would poison the replay (the batch's own bands would
    * pair it against itself and drop both members). `appId` defaults
    * to a checkpoint-derived id — stable across restarts, distinct
    * across sinks.
    *
    * `autoReclusterOverlap = Some(n)`: every batch's index append
    * lands band files overlapping the whole index, so lookup pruning
    * degrades monotonically on a sink that runs forever; with the
    * knob set, a batch that leaves `layoutHealth.maxOverlap > n` is
    * followed by [[graft.operators.Dedup.compactMinhashIndex]]
    * (results pinned unchanged — pure layout maintenance), closing
    * the ingest → degrade → recluster loop inside the sink itself.
    *
    * Quality gates make this the full CCNet-shape ingest
    * (filter → dedup → append, exactly-once) without a hand-rolled
    * foreachBatch:
    *   - `qualityGate = Some(predicate)`: an arbitrary boolean
    *     Column over the batch's columns (e.g.
    *     `TextFunctions.qualityFilterReason(col("text")) === "ok"`),
    *     applied as a narrow filter before dedup;
    *   - `lmGate = Some((modelDir, maxScore))`: a PERSISTED trigram
    *     model ([[graft.operators.LanguageModel.trainTrigramModel]]
    *     written as parquet — vocab-bounded, read once per batch,
    *     never retrained in the loop) scores each micro-batch via
    *     [[graft.operators.LanguageModel.lmScore]]; documents with
    *     `lm_score > maxScore` (off-distribution / gibberish) never
    *     reach the dedup stage, the index, or the corpus.
    * Gating happens BEFORE the txn-stamped append, so replay
    * determinism is untouched: the same batch re-gates to the same
    * survivor set.
    *
    * `spanGate = Some(spanIndexDir)` completes the published recipe
    * (quality → ExactSubstr → near-dup → append): each micro-batch
    * first runs [[graft.operators.Dedup.dedupSpansBatch]] against the
    * PERSISTED shingle index ([[graft.operators.Dedup.buildSpanIndex]]
    * — k comes from the index's params sidecar), cutting every span
    * duplicated against everything ingested before it (or repeated
    * across the batch) BEFORE near-dup signatures are computed; the
    * surviving documents' cut-text shingles append to the span index
    * AFTER the corpus commit, txn-stamped with the same (appId,
    * batchId) pair. Ordering matters for replay: dedupSpansBatch
    * excludes the batch's own ids from the index read, so a replay
    * after a span-index-append crash still recomputes the identical
    * cut, and all three appends (corpus, span index, band index)
    * no-op individually on whichever table already committed. */
  def dedupSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      corpusDir: String,
      indexDir: String,
      checkpointDir: String,
      threshold: Double = 0.85,
      shingler: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TextFunctions.wordShingles(_, 3),
      shinglerTag: String = graft.operators.Dedup.WordTrigramTag,
      appId: Option[String] = None,
      autoReclusterOverlap: Option[Int] = None,
      qualityGate: Option[org.apache.spark.sql.Column] = None,
      lmGate: Option[(String, Double)] = None,
      spanGate: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val app = appId.getOrElse(s"graft-dedup-sink:$checkpointDir")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val corpus = graft.core.PDataset.scanParquet(spark, corpusDir).toDF
        val predicated = qualityGate.fold(batch.toDF())(batch.toDF().filter)
        val gated = lmGate.fold(predicated) { case (modelDir, maxScore) =>
          val model = spark.read.parquet(modelDir)
          val keep = graft.operators.LanguageModel
            .lmScore(predicated, idCol, textCol, model)
            .filter(col("lm_score") <= maxScore)
            .select(col(idCol))
          // left-semi on the id: the scored projection never carries
          // the text back; AQE broadcasts the batch-bounded keep set
          predicated.join(keep, Seq(idCol), "left_semi")
        }
        // ExactSubstr BEFORE near-dup (the published order): near-dup
        // signatures then describe the text that would actually land
        val spanCut = spanGate.fold(gated)(spanDir =>
          graft.operators.Dedup.dedupSpansBatch(spark, gated, idCol,
            textCol, spanDir, appendToIndex = false))
        // Computed once with the lineage cut: the corpus append
        // recaches every plan reading corpusDir, so a persisted frame
        // would be dropped and re-run in full for the index append.
        val survivors = graft.operators.Dedup.dedupBatch(spark,
          spanCut, idCol, textCol, corpus, indexDir, threshold,
          shingler, shinglerTag).localCheckpoint()
        try {
          if (!survivors.isEmpty) {
            survivors.write.format("graft").mode("append")
              .option("txnAppId", app)
              .option("txnVersion", batchId.toString)
              .save(corpusDir)
            // span index first or band index first is immaterial —
            // both no-op on replay; what matters is BOTH come after
            // the corpus commit (the batch's own ids are excluded
            // from dedupSpansBatch's index read, so a replay between
            // these appends recomputes the same cut and survivors)
            spanGate.foreach(spanDir =>
              graft.operators.Dedup.appendToSpanIndex(spark, survivors,
                idCol, textCol, spanDir, txn = Some((app, batchId))))
            graft.operators.Dedup.appendToMinhashIndex(spark, survivors,
              idCol, textCol, indexDir, shingler, shinglerTag,
              txn = Some((app, batchId)),
              autoReclusterOverlap = autoReclusterOverlap)
          }
        } finally GraftBridge.releaseLocalCheckpoint(survivors)
      }
      .start()
  }

  /** Continuously apply a keyed stream to a persisted dataset: each
    * micro-batch [[graft.operators.Maintenance.upsert]]s by the
    * dataset's own index key, so only the partitions that receive
    * keys are rewritten — a CDC-style apply whose per-batch cost
    * scales with the batch, not the table. Batch-local duplicate
    * keys collapse to one row first (upsert requires unique keys);
    * the checkpoint gives exactly-once batch application on restart
    * (an upsert replays idempotently: re-applying the same keys
    * rewrites the same partitions to the same content). */
  def upsertSink(
      docs: DataFrame,
      targetDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val keys = graft.core.Sidecar.load(spark, targetDir).indexColumns
        val unique = batch.dropDuplicates(keys.toSeq)
        if (!unique.isEmpty) {
          graft.operators.Maintenance.upsert(spark, targetDir, unique.toDF())
          ()
        }
      }
      .start()
  }

  /** [[upsertSink]] that also keeps incrementally-maintained
    * aggregate views ([[graft.operators.IncrementalAgg]]) in sync:
    * each micro-batch upserts WITH `retain = true` (so the outgoing
    * generation is archived for the change feed), refreshes every
    * view off that feed, and — only once every view caught up —
    * vacuums the per-batch history away. Per-batch cost stays
    * O(batch + views' delta): the table is never rescanned, the
    * views never rebuilt. If a refresh fails the history is kept, so
    * the next batch's refresh still sees the missed generations
    * instead of the views going silently stale. */
  def upsertSinkWithViews(
      docs: DataFrame,
      targetDir: String,
      checkpointDir: String,
      viewDirs: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val keys = graft.core.Sidecar.load(spark, targetDir).indexColumns
        val unique = batch.dropDuplicates(keys.toSeq)
        if (!unique.isEmpty) {
          graft.operators.Maintenance.upsert(spark, targetDir,
            unique.toDF(), retain = true)
          viewDirs.foreach(v => graft.operators.IncrementalAgg
            .refresh(spark, v))
          // every view is synced to the current generation — the
          // archived intermediates have served their purpose
          val _ = graft.operators.Maintenance.vacuum(spark, targetDir)
          ()
        }
      }
      .start()
  }
}
