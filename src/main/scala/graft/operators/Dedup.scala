package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash, n-gram Jaccard and embedding-cosine.
  *
  * Scale design notes (100 TB): every stage is a shuffle-bounded
  * DataFrame op — shingling/signatures are narrow per-row transforms
  * (whole-stage codegen, no UDFs except none at all), candidate
  * generation is a groupBy on (band, bucket) whose fan-out is bounded
  * by bucket size, and verification touches only candidate pairs, never
  * the N^2 pair space. Exact dedup is a single hash aggregate.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per distinct key (content hash).
    * One hash-partial + final aggregate; no window, no sort.
    * `canonical = true` hashes the Unicode-canonical form
    * ([[graft.functions.CanonTextExpr]]: NFC, lowercase, accents
    * stripped, punctuation/whitespace folded) so "Café  Noir!" and
    * "cafe noir" count as one document — the standard exact-dedup
    * pre-pass, still one aggregate (the kernel rides inside the
    * partial's codegen stage). */
  def exactDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      canonical: Boolean = false): DataFrame = {
    val key =
      if (canonical)
        graft.functions.TextFunctions.canonText(col(textCol))
      else col(textCol)
    df.groupBy(md5(key).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
  }

  /** 32-bit element hashes for a shingle array (low bits of xxhash64,
    * seed 42 — bit-identical to
    * `transform(sh, s => xxhash64(s) & 0xFFFFFFFF)`, but hashed in one
    * codegen kernel pass instead of an interpreted per-element
    * lambda). Materialize ONCE (withColumn) before fanning out into
    * the per-permutation transforms. */
  def shingleHashes(shingles: Column): Column =
    graft.functions.SketchExpressions.stringArrayHash64(shingles, "xxh64_32")

  /** Prime modulus for the permutation family (first prime > 2^32).
    * The mod is what makes h_i a (near-)permutation — an affine map
    * alone is monotonic, which would make every minhash select the
    * same globally-minimal element and destroy the signature. */
  val MinhashPrime: Long = 4294967311L

  /** MinHash signature (length numPerms) over a pre-hashed shingle
    * array. h_i(S) = min over s of ((a_i * h32(s) + b_i) mod p) —
    * overflow-free under ANSI arithmetic (a < 2^30, h32 < 2^32 so
    * a*h+b < 2^62). Implemented as a custom codegen expression
    * (graft.functions.MinHashSigExpr): the equivalent nested
    * `transform`/`array_min` pipeline evaluates interpreted and
    * recomputes its child per permutation. */
  def minhashSignature(
      hashes: Column,
      numPerms: Int = 126,
      seed: Long = 42L): Column =
    graft.functions.SketchExpressions.minhashSig(
      hashes, numPerms, seed, MinhashPrime)

  /** Near-duplicate pairs via MinHash + banded LSH, verified with exact
    * shingle-set Jaccard. Returns (idA, idB, jaccard) with idA < idB and
    * jaccard >= threshold, exactly the pairs an exhaustive O(N^2) scan
    * would emit (up to LSH recall, which the band/row parameters put at
    * ~1 for the target similarity band).
    *
    * Plan shape: narrow signature computation -> explode bands (xB
    * rows) -> self-join on (band, bucket hash) = one shuffle keyed by
    * bucket -> distinct candidate pairs -> rejoin texts -> exact
    * verify. No cross join anywhere.
    */
  def minhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingler: Column => Column = TextFunctions.wordShingles(_, 3),
      numPerms: Int = 126,
      bands: Int = 21,
      threshold: Double = 0.85,
      seed: Long = 42L): DataFrame = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    val rows = numPerms / bands
    val withShingles = docs.select(
      col(idCol).as("__id"),
      shingler(col(textCol)).as("__sh"))
    // One exchange barrier after the signature: the band explode
    // references __sig in a 21-iteration lambda, and CollapseProject
    // would otherwise inline (= recompute) it per band. The signature
    // itself is a single codegen expression evaluating its child once.
    val sig = withShingles
      .select(col("__id"),
        minhashSignature(shingleHashes(col("__sh")), numPerms, seed).as("__sig"))
      .repartition(col("__id"))
    // Band buckets WITHOUT the shingle payload: the bucket join only
    // shuffles (id, band, bucket) rows, never the arrays.
    val banded = sig.select(
      col("__id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("__sig"), b * rows + 1, lit(rows)))))
        .as(Seq("__band", "__bucket")))

    val candidates = banded.select(col("__id").as("idA"), col("__band"), col("__bucket"))
      .join(banded.select(col("__id").as("idB"), col("__band"), col("__bucket")),
        Seq("__band", "__bucket"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB")
      .dropDuplicates("idA", "idB")

    verifyJaccard(rejoinShingles(candidates, withShingles), threshold)
  }

  // ---- incremental MinHash band index (continuous-ingest dedup) ----

  /** The (id, band, bucket) LSH table of `docs`, under the index's
    * fixed column names — 21 compact rows per document, the persisted
    * currency of the incremental index. */
  private def bandTable(
      docs: DataFrame, idCol: String, textCol: String,
      shingler: Column => Column,
      numPerms: Int, bands: Int, seed: Long): DataFrame = {
    val rows = numPerms / bands
    val sig = docs.select(
      col(idCol).as("id"),
      minhashSignature(
        shingleHashes(shingler(col(textCol))), numPerms, seed).as("__sig"))
      .repartition(col("id"))
    sig.select(col("id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("__sig"), b * rows + 1, lit(rows)))))
        .as(Seq("band", "bucket")))
      .select(col("bucket"), col("band"), col("id"))
  }

  private val MinhashIndexFile = "_graft_minhash.json"

  /** The default shingler's identity tag (see `shinglerTag` on
    * [[buildMinhashIndex]]). */
  val WordTrigramTag = "word-3"

  /** Build a PERSISTED MinHash band index over a corpus: the banded
    * bucket table written as a graft table clustered on the bucket
    * hash, plus a params sidecar pinning (numPerms, bands, seed) so
    * later appends and queries band identically. The point is
    * CONTINUOUS INGEST: each new batch dedups against the whole
    * corpus without recomputing a signature for — or re-pairing —
    * any already-indexed document ([[graft.operators.VectorIndex]]'s
    * persisted-index discipline applied to MinHash near-dup). At
    * 100 TB the index holds `bands` fixed-width rows per document
    * (KB-scale per thousand docs), orders below the text it
    * summarizes. */
  def buildMinhashIndex(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      shingler: Column => Column = TextFunctions.wordShingles(_, 3),
      numPerms: Int = 126,
      bands: Int = 21,
      seed: Long = 42L,
      // the shingler is code and cannot persist; its TAG does, and
      // every later append/query must present the same tag — a batch
      // shingled differently would bucket disjointly from the index
      // and silently find zero pairs
      shinglerTag: String = WordTrigramTag): Unit = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    graft.core.PDataset.fromDataFrame(
      bandTable(docs, idCol, textCol, shingler, numPerms, bands, seed),
      Seq("bucket")).writeParquet(dir)
    val (fs, dirPath) = graft.core.GraftFs.resolve(spark, dir)
    graft.core.GraftFs.writeString(fs,
      new org.apache.hadoop.fs.Path(dirPath, MinhashIndexFile),
      graft.core.TypedJson.write(scala.collection.immutable.ListMap(
        "numPerms" -> numPerms, "bands" -> bands, "seed" -> seed,
        "shingler" -> shinglerTag)))
  }

  private def minhashIndexParams(
      spark: SparkSession, dir: String,
      shinglerTag: String): (Int, Int, Long) = {
    val (fs, dirPath) = graft.core.GraftFs.resolve(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dirPath, MinhashIndexFile)
    require(graft.core.GraftFs.isFile(fs, p),
      s"$dir holds no MinHash index ($MinhashIndexFile missing) — " +
        "build one with Dedup.buildMinhashIndex")
    val m = graft.core.TypedJson.parse(graft.core.GraftFs.readString(fs, p))
      .asInstanceOf[Map[String, Any]]
    val stored = m.get("shingler").map(_.toString).getOrElse(WordTrigramTag)
    require(stored == shinglerTag,
      s"MinHash index at $dir was built with shingler '$stored' but " +
        s"this call presents '$shinglerTag' — differently-shingled " +
        "signatures bucket disjointly and would silently find zero " +
        "pairs; pass the build-time shingler (and its tag)")
    def int(k: String) = m(k).asInstanceOf[Number].intValue()
    (int("numPerms"), int("bands"), m("seed").asInstanceOf[Number].longValue())
  }

  /** Extend the index to a newly ingested batch — O(batch) signature
    * work plus one clustered append; already-indexed documents are
    * untouched. `txn = Some((appId, version))` routes the append
    * through the exactly-once transactional write path (the Delta
    * txnAppId/txnVersion pattern): a version the index's ledger
    * already records is a no-op, so a crash-replayed streaming batch
    * ([[graft.streaming.DocumentStreams.dedupSink]]) never
    * double-appends bands. */
  def appendToMinhashIndex(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      shingler: Column => Column = TextFunctions.wordShingles(_, 3),
      shinglerTag: String = WordTrigramTag,
      txn: Option[(String, Long)] = None,
      // Close the continuous-ingest maintenance loop: every append
      // lands files whose bucket ranges overlap the whole index, so
      // lookup pruning degrades monotonically until SOMETHING
      // reclusters. `autoReclusterOverlap = Some(n)` runs
      // [[compactMinhashIndex]] right after an append that leaves
      // `layoutHealth.maxOverlap > n` (the table sink's autoCompact
      // pattern) — results of every index query are pinned unchanged,
      // the cost is O(index) but amortized over the n batches that
      // grew the overlap. The health check itself is a driver-side
      // sidecar sweep: zero jobs, zero file reads, safe per batch.
      autoReclusterOverlap: Option[Int] = None): Unit = {
    val (numPerms, bands, seed) = minhashIndexParams(spark, dir, shinglerTag)
    val bt = bandTable(newDocs, idCol, textCol, shingler,
      numPerms, bands, seed)
    appendBandsToMinhashIndex(spark, bt, dir, txn, autoReclusterOverlap)
  }

  /** Append PRECOMPUTED band rows (schema (id, band, bucket)) to the
    * index: the write half of [[appendToMinhashIndex]] without its
    * signature pass. */
  private[graft] def appendBandsToMinhashIndex(
      spark: SparkSession,
      bt: DataFrame,
      dir: String,
      txn: Option[(String, Long)] = None,
      autoReclusterOverlap: Option[Int] = None): Unit = {
    autoReclusterOverlap.foreach(n => require(n >= 1,
      s"autoReclusterOverlap must be >= 1, got $n"))
    sinkAppend(bt, dir, txn)
    autoReclusterOverlap.foreach { bound =>
      if (Maintenance.layoutHealth(spark, dir).maxOverlap > bound) {
        compactMinhashIndex(spark, dir)
        ()
      }
    }
  }

  /** Near-dup pairs of a NEW batch against an indexed corpus (plus
    * within the batch itself), exact-Jaccard-verified: the batch's
    * band table equi-joins the persisted index — shuffle ∝ batch +
    * matching buckets, never old-vs-old — and verification reads
    * text for the BATCH and the HIT corpus documents only (the old
    * side filters through a broadcast semi-join bounded by the
    * candidate rate). Returns (idA, idB, jaccard), idA < idB, with
    * at least one side in the batch — the exact pairs
    * [[minhashNearDupPairs]] over (corpus ∪ batch) would emit for
    * those ids. The caller appends the batch to the index afterwards
    * ([[appendToMinhashIndex]]) to make ingestion cumulative. */
  def incrementalNearDupPairs(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame,
      indexDir: String,
      threshold: Double = 0.85,
      shingler: Column => Column = TextFunctions.wordShingles(_, 3),
      shinglerTag: String = WordTrigramTag): DataFrame =
    incrementalPairsTagged(spark, newDocs, idCol, textCol, corpus,
      indexDir, threshold, shingler, shinglerTag)
      .select("idA", "idB", "jaccard")

  /** [[incrementalNearDupPairs]] plus a `__loser` column: the pair
    * member the standard ingestion policy drops — the BATCH side of
    * a batch-vs-corpus pair (the indexed copy wins), the larger id
    * of a batch-internal pair. Tagged at candidate construction,
    * where each side's provenance is structural (no corpus-scale id
    * join needed). */
  private def incrementalPairsTagged(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame,
      indexDir: String,
      threshold: Double,
      shingler: Column => Column,
      shinglerTag: String): DataFrame = {
    val (numPerms, bands, seed) =
      minhashIndexParams(spark, indexDir, shinglerTag)
    // used twice (vs-index and self-join); the repartition barrier
    // inside bandTable keeps the signature a once-per-id computation
    // within each use, the embeddingNearDupPairs discipline
    val fresh = bandTable(newDocs, idCol, textCol, shingler,
      numPerms, bands, seed)
    incrementalPairsFromBands(spark, fresh, newDocs, idCol, textCol,
      corpus, indexDir, threshold, shingler)
  }

  /** [[incrementalPairsTagged]] over a PRECOMPUTED (possibly cached)
    * band table of the batch. The streaming sink does not reuse it:
    * it signs each batch twice, once in [[dedupBatch]] for the dedup
    * decision and once more over the survivors in
    * [[appendToMinhashIndex]] for the index append. */
  private def incrementalPairsFromBands(
      spark: SparkSession,
      fresh: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame,
      indexDir: String,
      threshold: Double,
      shingler: Column => Column): DataFrame = {
    // DV-aware read: [[forgetDocuments]] hides forgotten documents'
    // band rows with a merge-on-read deletion vector; a plain scan
    // would match new batches against ghost bands. With no overlay
    // pending this IS the plain scan.
    val indexed = DeletionVectors.scan(spark, indexDir)
    // new-vs-indexed (either orientation) + new-vs-new, normalized
    // to idA < idB; bucket equi-joins only — no pair explosion
    val vsOld = fresh.select(col("id").as("na"), col("band"), col("bucket"))
      .join(indexed.select(col("id").as("oa"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("na") =!= col("oa"))
      .select(least(col("na"), col("oa")).as("idA"),
        greatest(col("na"), col("oa")).as("idB"),
        col("na").as("__loser"))
    val vsNew = fresh.select(col("id").as("idA"), col("band"), col("bucket"))
      .join(fresh.select(col("id").as("idB"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), col("idB").as("__loser"))
    val candidates = vsOld.union(vsNew).dropDuplicates("idA", "idB")
    // shingles: the batch contributes its own; the corpus only the
    // hit ids (bounded by the candidate rate -> broadcast semi)
    val hitOld = candidates
      .select(col("idA").as("__cid")).union(candidates.select(col("idB")))
      .distinct()
    val newSh = newDocs.select(col(idCol).as("__id"),
      shingler(col(textCol)).as("__sh"))
    // No forced broadcast: the hit set is bounded by the batch's
    // candidate rate — small for sane batches — so AQE's runtime size
    // check broadcasts it then; a batch landing in a hot bucket of a
    // 100 TB index can inflate it past memory, and a forced hint
    // would disable that check (the dedupSegments discipline).
    val oldSh = corpus
      .join(hitOld, corpus(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("__id"), shingler(col(textCol)).as("__sh"))
    val withShingles = newSh.unionByName(oldSh)
      .dropDuplicates("__id")
    verifyJaccard(rejoinShingles(candidates, withShingles), threshold,
      extra = Seq("__loser"))
  }

  /** The full ingestion decision for a batch against an indexed
    * corpus: batch documents that near-duplicate an INDEXED document
    * drop (the corpus copy wins), of batch-internal duplicate pairs
    * the smaller id wins, and the SURVIVORS — exactly what should
    * enter the corpus — return, ready to be appended to the corpus
    * and to the index ([[appendToMinhashIndex]]). The drop set is
    * bounded by the batch's dup rate, so the removal anti-join
    * broadcasts while the batch streams through ([[dedupCorpus]]'s
    * shape on the incremental path). */
  def dedupBatch(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame,
      indexDir: String,
      threshold: Double = 0.85,
      shingler: Column => Column = TextFunctions.wordShingles(_, 3),
      shinglerTag: String = WordTrigramTag): DataFrame = {
    val losers = incrementalPairsTagged(spark, newDocs, idCol, textCol,
      corpus, indexDir, threshold, shingler, shinglerTag)
      .select(col("__loser").as(idCol)).distinct()
    // No forced broadcast: the loser set is batch-bounded, so AQE's
    // runtime size check broadcasts it when it is genuinely small and
    // falls back to a shuffled anti-join otherwise — a forced hint
    // would disable that check and OOM on a pathological batch.
    newDocs.join(losers, Seq(idCol), "left_anti")
  }


  /** Deletion propagation across the ingestion spine — the
    * "right to be forgotten" primitive of a continuously ingesting
    * pipeline: remove `docIds` from the corpus table AND hide their
    * band rows in the persisted MinHash index, in one call. After it,
    * index queries ([[incrementalNearDupPairs]], [[dedupBatch]], the
    * streaming [[graft.streaming.DocumentStreams.dedupSink]]) no
    * longer match against the forgotten documents — re-ingesting
    * equivalent content is possible again.
    *
    * Corpus side: a keyed point-delete ([[Maintenance.deleteKeys]] —
    * only the partitions the ids route to are rewritten). Index side:
    * the index clusters on BUCKET (its query key), so an id delete
    * cannot prune by key range — instead the rows get a merge-on-read
    * DELETION-VECTOR mark ([[DeletionVectors.deleteWhere]]): one scan
    * of the index (orders smaller than the text it summarizes), zero
    * rewrite, hidden from every index read immediately; the marks
    * fold into the next `DeletionVectors.materialize`. `docIds` is a
    * driver-side list (an erasure request, not a corpus-scale set) —
    * chunk a huge list across calls. `vectorIndexDir` extends the
    * sweep to a persisted ANN index over the same ids
    * ([[VectorIndex.removeVectors]] — DV marks, zero rewrite, zero
    * retraining), so a corpus with embeddings cannot silently leave
    * the forgotten document retrievable by similarity search. Returns
    * (corpus report, index DV report, vector-index DV report).
    *
    * HARD-erasure note: this removes the documents from every LIVE
    * read path. Rows remain reachable through RETAINED corpus
    * generations (time travel) and inside still-referenced physical
    * files until `Maintenance.vacuum` drops that history and
    * `DeletionVectors.materialize` folds the index marks — run both
    * when the erasure must also purge history. */
  def forgetDocuments(
      spark: SparkSession,
      corpusDir: String,
      indexDir: String,
      docIds: Seq[Any],
      vectorIndexDir: Option[String] = None)
      : (Maintenance.Report, DeletionVectors.Report,
         Option[DeletionVectors.Report]) = {
    require(docIds.nonEmpty, "forgetDocuments needs at least one id")
    val m = graft.core.Sidecar.load(spark, corpusDir)
    require(m.indexColumns.length == 1,
      "forgetDocuments expects a corpus clustered on its document id " +
        s"column; $corpusDir is clustered on " +
        s"(${m.indexColumns.mkString(",")})")
    val idCol = m.indexColumns.head
    val idType = m.schema(idCol).dataType
    val keys = spark.createDataFrame(
      java.util.Arrays.asList(
        docIds.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType))))
    val corpusReport = Maintenance.deleteKeys(spark, corpusDir, keys)
    val indexReport = DeletionVectors.deleteWhere(spark, indexDir,
      col("id").isInCollection(docIds))
    val vecReport = vectorIndexDir.map(
      VectorIndex.removeVectors(spark, _, docIds))
    (corpusReport, indexReport, vecReport)
  }

  /** Re-cluster the persisted MinHash index. Every
    * [[appendToMinhashIndex]] lands the batch's bands as files whose
    * BUCKET ranges overlap the whole existing index, so after enough
    * batches the bucket equi-join's file pruning degrades toward a
    * full index scan per lookup, and [[forgetDocuments]]' deletion
    * marks accumulate as merge-on-read overlays. One call re-sorts
    * the LIVE band rows into disjoint bucket ranges and folds the
    * deletion vectors away ([[Maintenance.recluster]] — atomic swap,
    * txn ledger and params sidecar survive, so exactly-once streaming
    * ingestion and shingler-tag checks continue unaffected). Results
    * of every index query are unchanged — this is layout maintenance,
    * the OPTIMIZE step of the continuous-ingest loop. */
  def compactMinhashIndex(
      spark: SparkSession,
      dir: String,
      retain: Boolean = false): Maintenance.Report = {
    // touching the params file first makes "not an index" fail fast
    minhashIndexParams(spark, dir,
      shinglerTag = storedShinglerTag(spark, dir))
    Maintenance.recluster(spark, dir, retain)
  }

  /** The shingler tag recorded in the index's params sidecar. */
  def storedShinglerTag(spark: SparkSession, dir: String): String = {
    val (fs, dirPath) = graft.core.GraftFs.resolve(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dirPath, MinhashIndexFile)
    require(graft.core.GraftFs.isFile(fs, p),
      s"$dir holds no MinHash index ($MinhashIndexFile missing)")
    graft.core.TypedJson.parse(graft.core.GraftFs.readString(fs, p))
      .asInstanceOf[Map[String, Any]]
      .get("shingler").map(_.toString).getOrElse(WordTrigramTag)
  }

  /** Rejoin candidate pairs with both documents' shingle arrays via
    * shuffle-hash joins keyed on id. The hint keeps the array payloads
    * out of an SMJ sort (the point of the join strategy) WITHOUT
    * broadcasting the unbounded per-document table — at corpus scale
    * the doc->shingles frame is many GB, so a broadcast would OOM the
    * driver; a hash join shuffled on id stays executor-bounded. */
  private def rejoinShingles(
      candidates: DataFrame,
      withShingles: DataFrame): DataFrame = {
    val shA = withShingles.select(col("__id").as("idA"), col("__sh").as("shA"))
    val shB = withShingles.select(col("__id").as("idB"), col("__sh").as("shB"))
    candidates
      .join(shA.hint("shuffle_hash"), "idA")
      .join(shB.hint("shuffle_hash"), "idB")
  }

  /** Exact Jaccard over candidate pairs carrying their shingle
    * arrays; `extra` columns (e.g. the incremental path's loser tag)
    * ride through. */
  private def verifyJaccard(
      candidates: DataFrame, threshold: Double,
      extra: Seq[String] = Nil): DataFrame = {
    candidates
      .withColumn("__i", size(array_intersect(col("shA"), col("shB"))).cast("double"))
      .withColumn("jaccard",
        round(col("__i") /
          ((size(col("shA")) + size(col("shB"))).cast("double") - col("__i")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("idA") +: col("idB") +: col("jaccard") +:
        extra.map(col): _*)
  }

  /** EXACT n-gram Jaccard pairs via prefix filtering (the PPJoin
    * principle): under a global canonical shingle order (ascending
    * document frequency, then value), two sets with |A∩B| >= ceil(t|A|)
    * must share an element within their prefixes of length
    * |X| - ceil(t|X|) + 1 — pigeonhole, no recall loss. Only prefixes
    * (the ~ (1-t) rarest shingles per doc) are indexed, so the
    * inverted-index join never touches stop-shingle buckets; exact
    * Jaccard is then verified on candidate pairs only. Same result set
    * as an exhaustive O(N^2) scan, shuffle-bounded at 100 TB scale. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingler: Column => Column = TextFunctions.wordShingles(_, 3),
      threshold: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withShingles = docs.select(
      col(idCol).as("__id"), shingler(col(textCol)).as("__sh"))
      .repartition(col("__id"))
    // __n comes from the (distinct) shingle array itself — no second
    // window pass. The document-frequency rank joins back shuffled on
    // the shingle value: dfreq has one row per DISTINCT shingle, which
    // at corpus scale is an unbounded many-GB table — broadcasting it
    // would OOM; an equi-join on __s shuffles both sides by shingle.
    val sh = withShingles.select(col("__id"), size(col("__sh")).as("__n"),
      explode(col("__sh")).as("__s"))
    val dfreq = sh.groupBy("__s").agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy(col("__id"))
      .orderBy(col("__df"), col("__s"))
    val prefix = sh
      .join(dfreq.hint("shuffle_hash"), "__s")
      .withColumn("__rn", row_number().over(byRarity))
      .filter(col("__rn") <= col("__n") - ceil(col("__n") * threshold) + 1)
      .select("__id", "__s", "__n", "__rn")
    // PPJoin+ candidate filters, both conservative (a 1e-9 slack keeps
    // FP rounding from dropping boundary-exact true pairs; extra
    // survivors are caught by the exact verify):
    //  - length: jaccard >= t forces min(n)/max(n) >= t;
    //  - positional: overlap <= 1 + min(suffix lengths past the match),
    //    and jaccard >= t forces overlap >= t/(1+t) * (nA+nB). A pair
    //    generated by several prefix matches passes via its earliest
    //    (loosest-bound) match, so filtering before dedup is lossless.
    val posNeed = threshold / (1.0 + threshold)
    val pa = prefix.select(col("__id").as("idA"), col("__s"),
      col("__n").as("nA"), col("__rn").as("rA"))
    val pb = prefix.select(col("__id").as("idB"), col("__s"),
      col("__n").as("nB"), col("__rn").as("rB"))
    val candidates = pa.join(pb, "__s")
      .filter(col("idA") < col("idB"))
      .filter(least(col("nA"), col("nB")).cast("double") >=
        greatest(col("nA"), col("nB")) * threshold - 1e-9)
      .filter(lit(1.0) + least(col("nA") - col("rA"), col("nB") - col("rB")) >=
        (col("nA") + col("nB")) * posNeed - 1e-9)
      .select("idA", "idB")
      .dropDuplicates("idA", "idB")
    verifyJaccard(rejoinShingles(candidates, withShingles), threshold)
  }

  /** First 64 bits of md5(s), as a signed long. The bit pattern equals
    * DuckDB's `('0x' || substr(md5(s), 1, 16))::UBIGINT`, which makes
    * every fingerprint built on it SQL-derivable by the oracle (xxhash64
    * is Spark-only). Two 32-bit halves via conv keep ANSI arithmetic
    * overflow-free; shiftleft/bitwiseOR reassemble the exact bits. */
  /** Connected components over an undirected near-dup pair graph —
    * the step that turns pairwise dedup into keep/drop decisions:
    * every document in a component gets the component's minimum id as
    * its `cluster_id` (the canonical survivor), plus the component
    * size.
    *
    * Two execution shapes behind one contract. The pair graph is
    * bounded by the dup rate, not the corpus, so up to
    * `maxDriverEdges` edges a single collect + driver union-find
    * answers in O(edges α) with no shuffle rounds at all. Past the
    * bound, iterative min-label propagation WITH pointer jumping: each round
    * a vertex takes the min of its own, its neighbors', and its
    * label's label — the shortcut halves the remaining distance to
    * the component minimum, so convergence is O(log diameter) rounds
    * (20 rounds covers diameters past 10^6; the loop throws rather
    * than silently return partial labels if it ever fails to
    * converge). Each round is a bounded number of shuffles on the
    * edge list — no driver-side graph, no vertex collect, the
    * standard Spark-native CC shape at corpus scale. Returns one row
    * per vertex that appears in at least one pair. */
  def nearDupClusters(
      pairs: DataFrame,
      idACol: String = "idA",
      idBCol: String = "idB",
      maxIters: Int = 20,
      maxDriverEdges: Long = 1L << 20): DataFrame = {
    val edges = pairs.select(col(idACol).as("a"), col(idBCol).as("b"))
      .union(pairs.select(col(idBCol).as("a"), col(idACol).as("b")))
      .distinct()
      .persist()
    // The pair graph is bounded by the DUP RATE, not the corpus: even
    // at 100 TB it is usually tiny relative to the documents table. Up
    // to maxDriverEdges (1M edges = ~16 MB of ids) union-find on the
    // driver replaces O(log diameter) shuffle rounds with one collect
    // — the broadcast-join principle applied to connected components.
    // Past the bound, the distributed min-label/pointer-jumping loop
    // below is the scale path.
    val nEdges = edges.count()
    if (nEdges <= maxDriverEdges) {
      val idType = pairs.schema(pairs.schema.fieldIndex(idACol)).dataType
      val edgeRows = edges.collect()
      edges.unpersist()
      return driverUnionFind(pairs.sparkSession, edgeRows, idType)
    }
    var cached = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val labels = cached.select("id", "label")
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("blab")),
          Seq("b"))
        .groupBy("a").agg(min(col("blab")).as("nmin"))
        .withColumnRenamed("a", "id")
      // The round's incoming label rides along as `old`, so the
      // convergence check below needs no re-join against the previous
      // labels — ONE job per round materializes the new labels and
      // counts the changes in the same pass.
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
      // Pointer jumping: label <- min(label, label(label)).
      val next = propagated.join(
          propagated.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label")))
            .as("label"))
        .persist()
      changed = next.filter(col("label") =!= col("old")).count()
      cached.unpersist()
      cached = next
      it += 1
    }
    require(changed == 0,
      s"nearDupClusters did not converge in $maxIters rounds")
    edges.unpersist()
    // Pin the converged labels off the iteration lineage, then release
    // the loop's cache — callers hold only the checkpointed frame.
    val finalLabels = cached.select("id", "label").localCheckpoint(true)
    cached.unpersist()
    val sizes = finalLabels.groupBy("label")
      .agg(count(lit(1)).as("cluster_size"))
    finalLabels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
  }

  /** Driver-side union-find with path compression over a collected,
    * bounded edge list (both directions present; harmless). Labels are
    * each component's minimum id under the same ordering the
    * distributed path's `min` aggregate uses. */
  private def driverUnionFind(
      spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeRows.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val nodes = parent.keys.toArray
    val label = scala.collection.mutable.HashMap.empty[Any, Any]
    val size = scala.collection.mutable.HashMap.empty[Any, Long]
    nodes.foreach { n =>
      val r = find(n)
      val cur = label.get(r)
      if (cur.isEmpty || graft.core.Lex.valueCmp(n, cur.get) < 0) label(r) = n
      size(r) = size.getOrElse(r, 0L) + 1
    }
    val out = nodes.map { n =>
      val r = find(n)
      org.apache.spark.sql.Row(n, label(r), size(r))
    }
    val schema = StructType(Seq(
      StructField("doc_id", idType),
      StructField("cluster_id", idType),
      StructField("cluster_size", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** End-to-end near-dup removal: candidate pairs -> connected
    * components -> keep each component's canonical (minimum-id)
    * member, drop the rest; unpaired documents pass through. The drop
    * list holds only non-canonical cluster members (bounded by the
    * dup rate, << corpus), so at scale the anti-join broadcasts while
    * the corpus streams through untouched. */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String = "idA",
      idBCol: String = "idB"): DataFrame = {
    val drop = nearDupClusters(pairs, idACol, idBCol)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with a QUALITY keeper: per near-dup cluster keep
    * the member with the HIGHEST `qualityCol` (ties break on the
    * smaller id) instead of the smallest id — the "keep the best
    * copy" policy when duplicates differ in extraction quality
    * (truncation, boilerplate, encoding damage); any score works —
    * [[graft.functions.TextFunctions.qualityScore]],
    * [[LanguageModel.lmScore]] (negated), plain length. The ranking
    * window runs over CLUSTER MEMBERS only — the corpus's duplicated
    * fraction, bounded by the pair rate, never the whole table — and
    * the final drop anti-join is unhinted, so AQE broadcasts the drop
    * set exactly when it fits. */
  def dedupCorpusByQuality(
      docs: DataFrame,
      idCol: String,
      qualityCol: String,
      pairs: DataFrame,
      idACol: String = "idA",
      idBCol: String = "idB"): DataFrame = {
    val clusters = nearDupClusters(pairs, idACol, idBCol)
      .withColumnRenamed("doc_id", "__member")
    val members = docs
      .join(clusters, docs(idCol) === col("__member"))
      .select(col(idCol), col("cluster_id"), col(qualityCol))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(qualityCol).desc, col(idCol))
    val drop = members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: per corpus document, the number of
    * distinct word n-grams it shares with ANY benchmark/eval document
    * (only contaminated docs — hits > 0 — are returned). Standard
    * train/test-overlap screening for LLM training corpora.
    *
    * Scale design: the benchmark side reduces to its DISTINCT shingle
    * set — bounded by eval-set size, orders of magnitude below the
    * corpus — and is broadcast, so the corpus side is ONE narrow scan
    * (shingle kernel + explode + broadcast semi-probe + partial
    * count); the 100 TB corpus is never shuffled on text. The
    * contaminated result is bounded by the overlap rate, so the
    * follow-up anti-join against the corpus broadcasts too (same
    * shape as [[dedupCorpus]]'s drop list). */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 5): DataFrame = {
    val sh = TextFunctions.wordShingles(_: Column, shingleWords)
    val benchShingles = benchmark
      .select(explode(sh(col(textCol))).as("__s")).distinct()
    corpus
      .select(col(idCol), explode(sh(col(textCol))).as("__s"))
      .join(broadcast(benchShingles), "__s")
      .groupBy(idCol)
      .agg(count(lit(1)).as("hits"))
  }

  /** Decontamination for benchmark sets too large to broadcast
    * exactly: broadcast only a Bloom filter of the benchmark shingles
    * (~1.2 bytes/item at fpp=1%, independent of corpus size),
    * pre-filter the corpus's exploded shingles to Bloom candidates in
    * the scan stage, then verify the survivors with an exact shuffle
    * join. A false positive costs only verify work on one shingle —
    * the output is bit-identical to [[decontaminate]], so the two
    * share an oracle.
    *
    * The membership test is Spark's own `BloomFilterMightContain`
    * (the runtime-filter expression, codegen'd) over `xxhash64` of
    * the shingle, against a filter built by the distributed
    * `stat.bloomFilter` aggregate — both sides speak
    * `BloomFilterImpl.putLong`/`mightContainLong`. */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val sh = TextFunctions.wordShingles(_: Column, shingleWords)
    // Cached: the shingle set is read three times (size the filter,
    // build it, verify join) — one shuffle computes it, the other two
    // consumers hit the cache. MEMORY_AND_DISK (the default) keeps an
    // oversized benchmark off the OOM path; the entry stays cached for
    // the returned (lazy) plan's verify join and is evicted LRU.
    val benchShingles = benchmark
      .select(explode(sh(col(textCol))).as("__s")).distinct()
      .cache()
    // Two bounded jobs over the SMALL side: size the filter, build it.
    val n = math.max(benchShingles.count(), 1L)
    val bf = benchShingles.select(xxhash64(col("__s")).as("__h"))
      .stat.bloomFilter("__h", n, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    def mightContain(v: Column): Column =
      GraftBridge.toColumn(BloomFilterMightContain(
        Literal(bytes, BinaryType),
        GraftBridge.toExpression(xxhash64(v))))
    corpus
      .select(col(idCol), explode(sh(col(textCol))).as("__s"))
      .filter(mightContain(col("__s")))
      .join(benchShingles, "__s") // exact verify on candidates only
      .groupBy(idCol)
      .agg(count(lit(1)).as("hits"))
  }

  def md5Hash64(s: Column): Column = {
    val hex = md5(s)
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Token hash array for SimHash — the md5-prefix hash of every
    * token in one kernel pass (bit-identical to
    * `transform(tokens, t => md5Hash64(t))`). Materialize once
    * (withColumn) before [[simhash64]], which references it 64 times. */
  def tokenHashes(textCol: Column): Column =
    graft.functions.SketchExpressions.stringArrayHash64(
      TextFunctions.tokens(lower(textCol)), "md5_64")

  /** 64-bit SimHash fingerprint over a pre-hashed token array: bit i
    * set iff more than half the tokens have bit i set (codegen
    * expression — see graft.functions.SimHash64Expr). */
  def simhash64(hashes: Column): Column =
    graft.functions.SketchExpressions.simhash64(hashes)

  /** SimHash near-dup candidate pairs: hamming distance <= maxDist,
    * blocked by 4 16-bit chunks (a pair within distance 3 must agree on
    * at least one chunk — pigeonhole), so candidates come from an
    * equi-join on (chunk index, chunk value), not a cross join. */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame = {
    // The codegen expression evaluates its token-hash child once; the
    // barrier pins __sim before the 4-chunk explode references it.
    val withSim = docs
      .select(col(idCol).as("__id"),
        simhash64(tokenHashes(col(textCol))).as("__sim"))
      .repartition(col("__id"))
    val chunked = withSim.select(
      col("__id"), col("__sim"),
      posexplode(transform(sequence(lit(0), lit(3)),
        i => call_function("shiftrightunsigned", col("__sim"), i * 16)
          .bitwiseAND(lit(0xFFFFL))))
        .as(Seq("__chunk", "__val")))
    val l = chunked.select(col("__id").as("idA"), col("__sim").as("simA"),
      col("__chunk"), col("__val"))
    val r = chunked.select(col("__id").as("idB"), col("__sim").as("simB"),
      col("__chunk"), col("__val"))
    l.join(r, Seq("__chunk", "__val"))
      .filter(col("idA") < col("idB"))
      .dropDuplicates("idA", "idB")
      .withColumn("hamming", bit_count(col("simA").bitwiseXOR(col("simB"))))
      .filter(col("hamming") <= maxDist)
      .select("idA", "idB", "hamming")
  }

  /** Embedding near-dup pairs: cosine >= threshold, candidates from
    * hyperplane-LSH bucketing (the same scheme as
    * [[Similarity.lshTopK]]), verified with exact cosine — the pair
    * space is bounded by bucket occupancy instead of N^2/2, so the
    * plan is two equi-joins, never a nested-loop pair join.
    *
    * Recall: a plane splits a cosine-0.9 pair with p = acos(.9)/pi
    * ~ .144, so a pair agrees on one 6-plane table with p ~ .39 and
    * 16 independent tables miss it with p ~ (1-.39)^16 < 4e-4 —
    * effectively exhaustive at the target band (spec-checked against
    * the brute-force scan on planted near-dups). */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int = 64,
      nPlanes: Int = 6,
      tables: Int = 16,
      seed: Long = 7L): DataFrame = {
    // Barrier: norms + signatures computed once per vector, not per pair.
    val withNorm = embeddings.select(
      col(idCol).as("__id"), col(vecCol).as("__v"),
      Similarity.l2norm(col(vecCol)).as("__n"))
      .repartition(col("__id"))
    // (table, bucket) keys only — the vector payload never enters the
    // candidate shuffle; all table signatures come from one codegen
    // kernel pass over the vector.
    val banded = withNorm.select(col("__id"),
      posexplode(
        Similarity.hyperplaneSigs(col("__v"), dim, nPlanes, tables, seed))
        .as(Seq("__t", "__b")))
    val candidates = banded.select(col("__id").as("idA"), col("__t"), col("__b"))
      .join(banded.select(col("__id").as("idB"), col("__t"), col("__b")),
        Seq("__t", "__b"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB")
      .dropDuplicates("idA", "idB")
    val a = withNorm.select(col("__id").as("idA"), col("__v").as("vA"),
      col("__n").as("nA"))
    val bdf = withNorm.select(col("__id").as("idB"), col("__v").as("vB"),
      col("__n").as("nB"))
    candidates
      .join(a.hint("shuffle_hash"), "idA")
      .join(bdf.hint("shuffle_hash"), "idB")
      .withColumn("cosine",
        round(Similarity.dot(col("vA"), col("vB")) / (col("nA") * col("nB")), 4))
      .filter(col("cosine") >= threshold)
      .select("idA", "idB", "cosine")
  }

  /** CCNet-style segment (line/paragraph) dedup (Wenzek et al. 2020,
    * arXiv:1911.00359): split each document on `sep`, count the
    * DISTINCT documents containing each exact segment across the
    * corpus, drop every segment appearing in more than `maxDocFreq`
    * documents — boilerplate (headers, navigation, license blocks)
    * vanishes corpus-wide while unique prose stays — and reassemble
    * the survivors in original order. Documents whose every segment
    * was boilerplate drop entirely. CCNet hashes normalized lines;
    * normalization composes upstream via any text transform.
    *
    * Scale: the frequency aggregate groups on the segment's 128-bit
    * md5 — 16 fixed bytes into the shuffle per segment instead of the
    * segment text (the identity discipline [[exactDedup]] already
    * uses; at 2^64 segments the collision odds are ~2^-64). The drop
    * set is UNHINTED: it is a fraction of the corpus's DISTINCT
    * segments, which grows with the corpus — at 100 TB a forced
    * broadcast of hundreds of millions of 16-byte hashes would OOM
    * executors, so AQE's runtime size check decides (broadcast when
    * genuinely small, shuffled anti-join otherwise). The reassembly
    * groups by document id: one shuffle clustered on the id.
    *
    * `sep` is a LITERAL separator (quoted before the split), used
    * verbatim when rejoining; empty segments from consecutive
    * separators count like any other segment. NULL text coalesces to
    * the empty string (one empty segment), so a null-text document is
    * dropped only when the empty segment itself is boilerplate —
    * never silently. */
  def dedupSegments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Long,
      sep: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val segs = docs.select(col(idCol).as("__id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__seg")))
      .withColumn("__h", md5(encode(col("__seg"), "UTF-8")))
    val boiler = segs.groupBy("__h")
      .agg(count_distinct(col("__id")).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select("__h")
    val rebuilt = segs.join(boiler, Seq("__h"), "left_anti")
      .groupBy("__id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos").as("p"),
            col("__seg").as("s")))),
          e => e.getField("s")),
        sep).as(textCol))
    // inner join: a document reduced to nothing drops entirely
    docs.drop(textCol)
      .join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol))
  }

  /** The maximal cross-document duplicated SPANS of every document —
    * the discovery half of ExactSubstr dedup (Lee et al. 2022,
    * arXiv:2107.06499: "remove substrings of ≥ k tokens that repeat
    * across the corpus"). Returns `(idCol, span_start, span_end)`:
    * 0-based code-point offsets, end exclusive, spans disjoint and
    * sorted per document.
    *
    * Distributed shape (the suffix-array analogue that scales out):
    *   1. one codegen pass per document emits every positional
    *      k-token shingle as `(hash, start, end)`
    *      ([[graft.functions.TokenSpanShinglesExpr]] — 20 bytes per
    *      shingle into the shuffle, never text);
    *   2. one hash aggregate finds shingles present in ≥ `minDocFreq`
    *      distinct documents, carrying the minimum `(id, start)`
    *      occurrence as the prospective keeper;
    *   3. occurrences of duplicated shingles rejoin on the hash (the
    *      duplicated set is bounded by the corpus's duplication rate,
    *      so AQE broadcasts it when small) — with `keepFirst` the
    *      keeper occurrence is exempt, so exactly one copy of every
    *      duplicated passage survives corpus-wide;
    *   4. overlapping/adjacent hits merge into maximal spans with the
    *      classic gaps-and-islands window — per-DOCUMENT partitions,
    *      so the sort unit is one document's hit list, never a global
    *      order.
    *
    * A passage of `t ≥ k` duplicated tokens yields `t−k+1` overlapping
    * shingles that merge into one span; `keepFirst = false` cuts every
    * occurrence instead (the masking variant). Keeper granularity is
    * per-shingle, so when a passage ALSO partially repeats in some
    * third document the kept copy can split across owners — the
    * published algorithm has the same property.
    *
    * Hash-collision tradeoff: duplication is decided on 62-bit shingle
    * HASH equality, not token-run equality — unlike the published
    * suffix-array method, which is exact. At ~1e11 shingles (a full
    * pretraining corpus) the birthday bound expects on the order of a
    * thousand colliding pairs, each of which spuriously cuts one
    * k-token span (~1e-8 of the corpus) — the same accepted tradeoff
    * as every hash-bucketed dedup in this family. Callers needing
    * exactness can verify the hit set (bounded by the duplication
    * rate) against the raw text before cutting; the operator keeps the
    * fixed-width-shuffle discipline by design. */
  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      keepFirst: Boolean = true,
      minDocFreq: Int = 2,
      // true: duplication WITHIN one document (self-repetition — the
      // generated-text-loop / boilerplate-echo trim; `minDocFreq` is
      // ignored, a shingle is duplicated when it occurs >= 2 times in
      // the SAME doc, and the keeper is its first occurrence there).
      // The aggregate keys on (doc, hash), so the whole discovery
      // pass shuffles the same 20-byte rows, just co-keyed by doc.
      withinDoc: Boolean = false,
      // true: the COMPOSED pass a real pipeline runs — self-trim then
      // cross-doc — from ONE tokenization. Stage 1 finds within-doc
      // hits; stage 2 judges cross-doc duplication over the shingles
      // SURVIVING stage 1's merged spans (so a self-repeated passage
      // counts once per document, like the sequential recipe), and
      // the union of both hit sets merges per document. Equal to
      // running the two passes sequentially except that the re-
      // tokenization a sequential run would do can see NEW shingles
      // spanning stage-1 cut seams — those (vanishingly rare) seam
      // windows are invisible to the single-pass composition by
      // construction; the spec pins equality on seam-free corpora.
      // The shingle table sits behind a repartition barrier, so every
      // stage reuses ONE shuffle of one tokenization — the corpus is
      // never re-shingled.
      alsoWithinDoc: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(minDocFreq >= 2,
      s"minDocFreq < 2 would mark every span duplicated, got $minDocFreq")
    require(!(withinDoc && alsoWithinDoc),
      "withinDoc and alsoWithinDoc are exclusive: alsoWithinDoc IS " +
        "the within-doc pass composed with the cross-doc pass")
    val sh0 = docs.select(col(idCol).as("__id"),
      explode(graft.functions.SketchExpressions.tokenSpanShingles(
        coalesce(col(textCol), lit("")), k)).as("__t"))
      .select(col("__id"), col("__t.h").as("__h"),
        col("__t.s").as("__s"), col("__t.e").as("__e"))

    def selfHitsOf(occ: DataFrame): DataFrame = {
      val dup = occ.groupBy("__id", "__h")
        .agg(count(lit(1)).as("__n"), min(col("__s")).as("__keep"))
        .filter(col("__n") >= 2)
        .select(col("__id"), col("__h"), col("__keep"))
      val hits0 = occ.join(dup, Seq("__id", "__h"))
      (if (keepFirst) hits0.filter(col("__s") =!= col("__keep"))
      else hits0).select("__id", "__s", "__e")
    }
    def crossHitsOf(occ: DataFrame): DataFrame = {
      val dup = occ.groupBy("__h")
        .agg(count_distinct(col("__id")).as("__df"),
          min(struct(col("__id").as("i"), col("__s").as("p"))).as("__keep"))
        .filter(col("__df") >= minDocFreq)
        .select("__h", "__keep")
      val hits0 = occ.join(dup, Seq("__h"))
      (if (keepFirst)
        hits0.filter(!(col("__id") === col("__keep.i") &&
          col("__s") === col("__keep.p")))
      else hits0).select("__id", "__s", "__e")
    }

    val hits = if (withinDoc) selfHitsOf(sh0)
    else if (!alsoWithinDoc) crossHitsOf(sh0)
    else {
      // ONE tokenization: the repartition barrier makes every stage a
      // consumer of the same reused shuffle (the bandTable
      // discipline), so the Generate node evaluates once — the plan
      // pin in PipelineOpsSpec counts it
      val sh = sh0.repartition(col("__h"))
      val selfHits = selfHitsOf(sh)
      // a shingle overlapping any merged self span is consumed by
      // stage 1 (merged spans have no holes: gaps-and-islands unions
      // overlapping-or-touching intervals), so stage 2 sees exactly
      // the shingles a sequential run would re-derive — minus cut
      // seams (see the parameter note)
      val selfSpans = mergeSpanHits(selfHits).select(
        col("__id").as("__sid"), col("span_start").as("__ss"),
        col("span_end").as("__se"))
      val surviving = sh.join(selfSpans,
        col("__id") === col("__sid") &&
          col("__s") < col("__se") && col("__e") > col("__ss"),
        "left_anti")
      selfHits.unionByName(crossHitsOf(surviving))
    }
    mergeSpanHits(hits).withColumnRenamed("__id", idCol)
  }

  /** Gaps-and-islands merge of `(__id, __s, __e)` hit rows into
    * maximal disjoint spans, one DOCUMENT per window partition (the
    * sort unit is one document's hit list, never a global order).
    * Returns `(__id, span_start, span_end)`. */
  private def mergeSpanHits(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy("__id").orderBy("__s", "__e")
    hits
      .withColumn("__pmax",
        max(col("__e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1)
          .otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(w))
      .groupBy(col("__id"), col("__grp"))
      .agg(min("__s").as("span_start"), max("__e").as("span_end"))
      .select(col("__id"), col("span_start"), col("span_end"))
  }

  /** Excise (or mask) the discovered spans from each document: group
    * spans into a per-document sorted list (doc-bounded, post-merge —
    * small), left-join INTO the corpus (AQE broadcasts the span side,
    * so the corpus text never shuffles) and cut. */
  private def applySpanCuts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame, // (idCol, span_start, span_end)
      mask: Option[String]): DataFrame = {
    val grouped = spans
      .groupBy(idCol)
      .agg(sort_array(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e"))))
        .as("__sp"))
    val cut = docs.join(grouped, Seq(idCol), "left")
    val marker = mask.getOrElse("")
    cut.withColumn(textCol,
      when(col("__sp").isNull, col(textCol)).otherwise(
        cutSpansCol(col(textCol), col("__sp"), marker)))
      .drop("__sp")
  }

  /** ExactSubstr deduplication (Lee et al. 2022): cut every duplicated
    * span of ≥ `k` tokens out of each document's text, keeping (with
    * `keepFirst`) exactly one copy corpus-wide — the standard
    * substring-level half of the two-part dedup recipe, composing with
    * the document-level near-dup family. Every row survives (possibly
    * with shorter text); cutting is exact code-point excision of
    * [[duplicatedSpans]]' ranges, so the whitespace around a cut is
    * untouched. The final assembly is one left join + a fold over the
    * (merged, per-document-bounded) span list. */
  def dedupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      keepFirst: Boolean = true,
      minDocFreq: Int = 2,
      // Some(marker): replace each span with the marker instead of
      // cutting — the loss-masking variant (training keeps the doc
      // structure, the duplicated passage contributes one sentinel)
      mask: Option[String] = None,
      withinDoc: Boolean = false,
      alsoWithinDoc: Boolean = false): DataFrame = {
    applySpanCuts(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, k, keepFirst,
        minDocFreq, withinDoc, alsoWithinDoc),
      mask)
  }

  /** Provenance audit of [[dedupSpans]]: one row per removed span —
    * `(idCol, span_start, span_end, removed)` with `removed` the exact
    * excised substring — so curators can inspect (and reconstruct)
    * what dedup cut. `original = interleave(cut_text, audit)` by
    * offsets; see the spec for the reconstruction identity. */
  def spanAudit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      keepFirst: Boolean = true,
      minDocFreq: Int = 2,
      withinDoc: Boolean = false,
      alsoWithinDoc: Boolean = false): DataFrame =
    duplicatedSpans(docs, idCol, textCol, k, keepFirst, minDocFreq,
      withinDoc, alsoWithinDoc)
      .join(docs.select(col(idCol), col(textCol).as("__txt")), Seq(idCol))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("__txt").substr(col("span_start") + lit(1),
          col("span_end") - col("span_start")).as("removed"))

  /** Excise the sorted disjoint 0-based `[s, e)` spans from `text`
    * (each replaced by `marker` — empty = plain cut): a fold that
    * concatenates the kept segments (span lists are per-document and
    * post-merge, so small). */
  private def cutSpansCol(
      text: Column, spans: Column, marker: String = ""): Column = {
    val folded = aggregate(spans,
      struct(lit(0).as("p"), lit("").as("acc")),
      (a, x) => struct(
        x.getField("e").as("p"),
        concat(a.getField("acc"),
          text.substr(a.getField("p") + lit(1),
            x.getField("s") - a.getField("p")), lit(marker)).as("acc")),
      a => concat(a.getField("acc"),
        text.substr(a.getField("p") + lit(1),
          length(text) - a.getField("p"))))
    folded
  }

  // ---- incremental ExactSubstr: the persisted shingle index ----

  private val SpanIndexFile = "_graft_span_index.json"

  /** The positional k-token shingles of `docs` as index rows
    * `(h, id, s)` — 62-bit shingle hash, document id, span start. The
    * span END is deliberately NOT stored: indexed occurrences are
    * already ingested and never get cut, so `(h, id, s)` is all a
    * later batch needs for duplication (distinct-doc count) and the
    * keeper exemption (min (id, s)). */
  private def spanShingleTable(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(graft.functions.SketchExpressions.tokenSpanShingles(
        coalesce(col(textCol), lit("")), k)).as("__t"))
      .select(col("__t.h").as("h"), col("id"), col("__t.s").as("s"))

  /** Build a persisted ExactSubstr shingle index over an existing
    * corpus — the [[buildMinhashIndex]] discipline applied to span
    * dedup: a graft table of `(h, id, s)` rows clustered on the
    * shingle hash, plus a params sidecar pinning `k` (a batch
    * shingled with a different k would hash disjointly and silently
    * find zero duplicated spans — every later call must present the
    * stored k, which it reads from the sidecar). 24 bytes per
    * shingle; at 100 TB the index is a fraction of the corpus and
    * every batch query touches it via one hash equi-join. */
  def buildSpanIndex(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      k: Int = 20): Unit = {
    require(k >= 1, s"k must be positive, got $k")
    graft.core.PDataset.fromDataFrame(
      spanShingleTable(docs, idCol, textCol, k), Seq("h"))
      .writeParquet(dir)
    val (fs, dirPath) = graft.core.GraftFs.resolve(spark, dir)
    graft.core.GraftFs.writeString(fs,
      new org.apache.hadoop.fs.Path(dirPath, SpanIndexFile),
      graft.core.TypedJson.write(
        scala.collection.immutable.ListMap("k" -> k)))
  }

  private def spanIndexK(spark: SparkSession, dir: String): Int = {
    val (fs, dirPath) = graft.core.GraftFs.resolve(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dirPath, SpanIndexFile)
    require(graft.core.GraftFs.isFile(fs, p),
      s"$dir holds no ExactSubstr shingle index ($SpanIndexFile " +
        "missing) — build one with Dedup.buildSpanIndex")
    graft.core.TypedJson.parse(graft.core.GraftFs.readString(fs, p))
      .asInstanceOf[Map[String, Any]]("k").asInstanceOf[Number].intValue()
  }

  /** Extend the span index with a newly ingested batch — O(batch)
    * shingle work plus one clustered append; indexed documents are
    * untouched. `txn = Some((appId, version))` routes the append
    * through the exactly-once transactional write path, so a
    * crash-replayed streaming batch never double-appends shingles. */
  def appendToSpanIndex(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      txn: Option[(String, Long)] = None): Unit = {
    val k = spanIndexK(spark, dir)
    val t = spanShingleTable(newDocs, idCol, textCol, k)
    sinkAppend(t, dir, txn)
  }

  /** One `graft` sink append onto an existing index (clustered on its
    * own index columns), transactional when `txn` is given. */
  private def sinkAppend(
      df: DataFrame, dir: String, txn: Option[(String, Long)]): Unit = {
    val w = df.write.format("graft").mode("append")
    txn.foreach { case (app, v) =>
      w.option("txnAppId", app).option("txnVersion", v.toString) }
    w.save(dir)
  }

  /** ExactSubstr dedup of a NEW batch against an indexed corpus (plus
    * within the batch itself) — [[dedupSpans]] for continuous
    * ingestion: cut from each batch document every span of ≥ k tokens
    * that already exists in the corpus (the index) or repeats across
    * the batch, keeping (with `keepFirst`) the globally-first
    * occurrence — exactly what a one-shot [[dedupSpans]] over
    * (corpus ∪ batch) would produce for the batch's rows, without
    * ever re-shingling the corpus.
    *
    * Scale shape: the batch shingles once (O(batch)); the index side
    * filters to the batch's hashes through a semi-join (AQE
    * broadcasts the batch-bounded hash set in the common
    * batch ≪ corpus case), so the duplication aggregate and every
    * shuffle carry fixed-width (hash, id, start) rows ∝ batch +
    * matching index occurrences — never old-vs-old, never text.
    * Occurrences of the batch's OWN ids already in the index are
    * excluded (a re-ingested or crash-replayed document must not
    * count as its own duplicate — that exclusion is what keeps a
    * replay after an index append deterministic).
    *
    * With `appendToIndex` (the batch-API default) the CUT text's
    * shingles append to the index — the index mirrors what the corpus
    * actually holds, and the kept copy of every passage stays
    * indexed, so the next batch cuts against everything ingested
    * before it. [[graft.streaming.DocumentStreams.dedupSink]] passes
    * `appendToIndex = false` and appends explicitly AFTER the corpus
    * commit (the same crash-ordering rule as the MinHash index). */
  def dedupSpansBatch(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      keepFirst: Boolean = true,
      minDocFreq: Int = 2,
      mask: Option[String] = None,
      appendToIndex: Boolean = true,
      txn: Option[(String, Long)] = None): DataFrame = {
    require(minDocFreq >= 2,
      s"minDocFreq < 2 would mark every span duplicated, got $minDocFreq")
    val k = spanIndexK(spark, indexDir)
    val sh = batch.select(col(idCol).as("__id"),
      explode(graft.functions.SketchExpressions.tokenSpanShingles(
        coalesce(col(textCol), lit("")), k)).as("__t"))
      .select(col("__id"), col("__t.h").as("__h"),
        col("__t.s").as("__s"), col("__t.e").as("__e"))
    // DV-aware read: forgotten documents' shingles stay invisible
    val idx = DeletionVectors.scan(spark, indexDir)
      // self-exclusion (see above): batch ids never match their own
      // indexed occurrences; the id set is batch-bounded → broadcast
      .join(broadcast(batch.select(col(idCol).as("id")).distinct()),
        Seq("id"), "left_anti")
    val idxOcc = idx
      .join(sh.select(col("__h").as("h")).distinct(), Seq("h"), "left_semi")
      .select(col("h").as("__h"), col("id").as("__id"), col("s").as("__s"))
    val union = idxOcc.unionByName(sh.select("__h", "__id", "__s"))
    val dup = union.groupBy("__h")
      .agg(count_distinct(col("__id")).as("__df"),
        min(struct(col("__id").as("i"), col("__s").as("p"))).as("__keep"))
      .filter(col("__df") >= minDocFreq)
      .select("__h", "__keep")
    val hits0 = sh.join(dup, Seq("__h"))
    val hits = if (keepFirst)
      hits0.filter(!(col("__id") === col("__keep.i") &&
        col("__s") === col("__keep.p")))
    else hits0
    val cut = applySpanCuts(batch, idCol, textCol,
      mergeSpanHits(hits).withColumnRenamed("__id", idCol), mask)
    if (appendToIndex)
      appendToSpanIndex(spark, cut, idCol, textCol, indexDir, txn)
    cut
  }

  /** SemDeDup-style semantic dedup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space
    * ([[Similarity.trainCentroids]] — one bounded sample job +
    * driver-side Lloyd), assign every vector to its Voronoi cell with
    * the same codegen kernel IVF search uses, and find near-duplicate
    * pairs (cosine >= threshold) ONLY within each cell — the pair
    * join is an equi-join on the cell id, so the pair space is the
    * sum of per-cell squares instead of N²/2 and the cell shuffle is
    * the only wide stage. At 100 TB, `nClusters` scales with the
    * corpus to bound the largest cell (the paper runs 50k clusters
    * over LAION); near-dup pairs split across a cell boundary are
    * missed BY DESIGN (the published method accepts this — recall is
    * governed by nClusters), which is the trade against
    * [[embeddingNearDupPairs]]'s multi-table LSH whose recall is
    * tunable toward exhaustive. */
  def semDedupPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nClusters: Int = 16,
      iters: Int = 3,
      seed: Long = 11L,
      trainFraction: Double = 1.0,
      maxCellRows: Long = 4L << 20): DataFrame = {
    val (assigned, _) = assignCells(embeddings, idCol, vecCol, dim,
      nClusters, iters, seed, trainFraction)
    pairsFromCells(assigned, threshold, maxCellRows)
  }

  /** Per-vector Voronoi cell assignment shared by the SemDeDup entry
    * points: (__id, __v, __n, __cell) under a once-per-vector barrier,
    * plus the trained centroids. */
  private def assignCells(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nClusters: Int,
      iters: Int,
      seed: Long,
      trainFraction: Double): (DataFrame, Array[Array[Double]]) = {
    val cents = Similarity.trainCentroids(
      embeddings, idCol, vecCol, dim, nClusters, iters, seed,
      trainFraction)
    // Barrier: cell assignment + norm computed once per vector.
    // CACHED (MEMORY_AND_DISK default): the hot-cell occupancy
    // precheck, the pair join's two sides, and the centroidFarthest
    // keeper's scoring all read this frame — without the cache each
    // consumer re-runs the assignment kernel over the corpus (the
    // SemDeDup paper's pipeline persists assignments for the same
    // reason). Evicted LRU; oversized corpora spill to disk.
    val assigned = embeddings
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .select(col("__id"), col("__v"),
        Similarity.l2norm(col("__v")).as("__n"),
        element_at(graft.functions.VectorExpressions
          .nearestCentroids(col("__v"), cents, 1), 1).as("__cell"))
      .repartition(col("__id"))
      .cache()
    (assigned, cents)
  }

  /** The intra-cell pair join over an assigned frame, with HOT-CELL
    * HARDENING: a cell holding more than `maxCellRows` vectors (a
    * duplicate-heavy corpus clusters tightly, so one cell can
    * dominate the Σ per-cell-squares pair space) is split by a hash
    * of the VECTOR BYTES into ceil(n/maxCellRows) sub-cells and pairs
    * form only within a sub-cell. Hashing the vector — not the id —
    * keeps exact duplicates co-located (identical bytes, identical
    * sub-cell), so only non-identical near-dups can straddle a split,
    * the same bounded-recall trade the cell boundary itself makes.
    *
    * The occupancy precheck is one bounded driver aggregate
    * (nClusters rows); when NO cell is hot the pair plan stays the
    * pure cell equi-join — the split machinery costs nothing unless
    * it is needed. Hot cells get their sub-cell count from a literal
    * map lookup (nClusters entries, no join in the pair plan). */
  private def pairsFromCells(
      assigned: DataFrame,
      threshold: Double,
      maxCellRows: Long): DataFrame = {
    require(maxCellRows >= 1, s"maxCellRows must be >= 1, got $maxCellRows")
    val hot: Map[Int, Long] = assigned.groupBy("__cell")
      .agg(count(lit(1)).as("__cn")).collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .filter(_._2 > maxCellRows)
      .map { case (c, n) =>
        c -> math.max(1L, math.ceil(n.toDouble / maxCellRows).toLong)
      }.toMap
    val (sub, keys) =
      if (hot.isEmpty) (assigned, Seq("__cell"))
      else (assigned.withColumn("__sub",
        pmod(xxhash64(col("__v")),
          coalesce(element_at(typedLit(hot), col("__cell")), lit(1L)))),
        Seq("__cell", "__sub"))
    val extra = keys.drop(1).map(col)
    val a = sub.select(col("__id").as("idA") +: col("__v").as("vA") +:
      col("__n").as("nA") +: col("__cell") +: extra: _*)
    val bdf = sub.select(col("__id").as("idB") +: col("__v").as("vB") +:
      col("__n").as("nB") +: col("__cell") +: extra: _*)
    a.join(bdf.hint("shuffle_hash"), keys)
      .filter(col("idA") < col("idB"))
      .withColumn("cosine",
        round(Similarity.dot(col("vA"), col("vB")) / (col("nA") * col("nB")), 4))
      .filter(col("cosine") >= threshold)
      .select("idA", "idB", "cosine")
  }

  /** End-to-end SemDeDup: [[semDedupPairs]] → connected components →
    * keep one member per duplicate group, drop the rest; unpaired
    * rows pass through untouched. The drop list is bounded by the dup
    * rate, so at scale the anti-join broadcasts while the corpus
    * streams through.
    *
    * `keeper` picks the survivor per group: `"minId"` (default —
    * deterministic, id-stable across reruns) or `"centroidFarthest"`
    * (the published rule, arXiv:2303.09540 §3: keep the member with
    * the LOWEST cosine to its cluster centroid — the farthest — on
    * the argument that it is the least redundant representative; ties
    * break to the smaller id). The farthest rule scores only the
    * PAIRED vectors (bounded by the dup rate) against an
    * nClusters-row centroid frame, so the extra cost is a
    * broadcast-sized join, not a corpus pass. */
  def semDedup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nClusters: Int = 16,
      iters: Int = 3,
      seed: Long = 11L,
      trainFraction: Double = 1.0,
      keeper: String = "minId",
      maxCellRows: Long = 4L << 20): DataFrame = {
    val (assigned, cents) = assignCells(embeddings, idCol, vecCol, dim,
      nClusters, iters, seed, trainFraction)
    val pairs = pairsFromCells(assigned, threshold, maxCellRows)
    keeper match {
      case "minId" => dedupCorpus(embeddings, idCol, pairs)
      case "centroidFarthest" =>
        val spark = embeddings.sparkSession
        val centRows = cents.zipWithIndex.map { case (c, i) =>
          org.apache.spark.sql.Row(i, c.toSeq, math.sqrt(c.map(x => x * x).sum))
        }
        val centsDf = spark.createDataFrame(
          java.util.Arrays.asList(centRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__cell",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("__cvec",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType), nullable = false),
            org.apache.spark.sql.types.StructField("__cnorm",
              org.apache.spark.sql.types.DoubleType, nullable = false))))
        // Score only the paired vertices: clusters is dup-rate-bounded,
        // so both joins stay broadcast-sized under AQE.
        val clusters = nearDupClusters(pairs)
        val scored = assigned
          .join(clusters, assigned("__id") === clusters("doc_id"))
          .join(centsDf, "__cell")
          .withColumn("__cos",
            Similarity.dot(col("__v"), col("__cvec")) /
              (col("__n") * col("__cnorm")))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("__cos").asc, col("doc_id").asc)
        val drop = scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1)
          .select(col("doc_id").as(idCol))
        embeddings.join(drop, Seq(idCol), "left_anti")
      case other => throw new IllegalArgumentException(
        s"unknown keeper '$other' — expected 'minId' or 'centroidFarthest'")
    }
  }

  /** Exact brute-force reference for [[embeddingNearDupPairs]] —
    * all-pairs by construction; test/oracle use only. */
  def embeddingNearDupPairsBrute(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val withNorm = embeddings.select(
      col(idCol).as("__id"), col(vecCol).as("__v"),
      Similarity.l2norm(col(vecCol)).as("__n"))
      .repartition(col("__id"))
    val a = withNorm.select(col("__id").as("idA"), col("__v").as("vA"),
      col("__n").as("nA"))
    val bdf = withNorm.select(col("__id").as("idB"), col("__v").as("vB"),
      col("__n").as("nB"))
    a.join(bdf, col("idA") < col("idB"))
      .withColumn("cosine",
        round(Similarity.dot(col("vA"), col("vB")) / (col("nA") * col("nB")), 4))
      .filter(col("cosine") >= threshold)
      .select("idA", "idB", "cosine")
  }
}
