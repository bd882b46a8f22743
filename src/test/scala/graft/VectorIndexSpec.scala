package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, VectorIndex}
import Fixtures._

/** Persisted IVF(-PQ) index: built once, queried many times with NO
  * retraining — queries match the one-shot operators bit-for-bit and
  * the cell-clustered layout prunes unprobed files at plan time. */
class VectorIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  private lazy val ivfDir: String = {
    val dir = tempDir("vecidx-ivf") + "/idx"
    VectorIndex.build(spark, emb, "vec_id", "embedding", dir,
      dim = 64, nlist = 16, pq = Some((16, 32)))
    dir
  }

  private def countJobs[A](body: => A): (A, Int) =
    Fixtures.countJobs(spark)(body)

  test("indexed topK matches the one-shot ivfTopK bit-for-bit") {
    val got = VectorIndex.topK(spark, queries, ivfDir,
      "vec_id", "embedding", k = 5, nprobe = 4)
    val want = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, dim = 64, nlist = 16, nprobe = 4)
    assertSameRows(got, want)
  }

  test("indexed pqTopK matches the one-shot ivfPqTopK bit-for-bit") {
    val got = VectorIndex.pqTopK(spark, queries, ivfDir,
      "vec_id", "embedding", k = 5, nprobe = 4)
    val want = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = 5, dim = 64, nlist = 16, nprobe = 4, m = 16, ksub = 32)
    assertSameRows(got, want)
  }

  test("query batches launch no training job") {
    val dir = ivfDir // force the lazy build OUTSIDE the counted window
    // The trained geometry loads driver-side: ZERO Spark jobs — the
    // one-shot operators' training (bounded sample collect + Lloyd)
    // never reruns against a persisted index.
    val (_, loadJobs) = countJobs(VectorIndex.load(spark, dir))
    assert(loadJobs == 0, s"load must be a driver-side read, saw $loadJobs")
    // And batches are stateless repeats: the Nth batch costs exactly
    // what the 1st did (one distinct-cells collect + the query jobs) —
    // nothing trains, caches or amortizes across calls.
    def batch(lo: Int, hi: Int) = countJobs {
      VectorIndex.topK(spark,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
        dir, "vec_id", "embedding", k = 5, nprobe = 4).collect()
    }._2
    val first = batch(0, 10)
    val second = batch(10, 20)
    assert(second == first,
      s"repeat batches must cost the same jobs: $first then $second")
  }

  test("probing few cells prunes unprobed index files at plan time") {
    val meta = VectorIndex.load(spark, ivfDir)
    assert(meta.nlist == 16 && meta.codebooks.nonEmpty)
    val all = spark.read.format("graft").load(ivfDir)
    val total = scannedFiles(all.select("cell"))
    assert(total >= 3, s"index should span several files, saw $total")
    // one cell -> the sidecar's per-file cell bounds skip the rest
    val one = all.filter(col("cell") === 0).select("cell")
    assert(scannedFiles(one) < total,
      "a single-cell probe must scan fewer files than the full index")
  }

  test("addVectors absorbs new vectors with no training and no rewrite") {
    val dir = tempDir("vecidx-add") + "/idx"
    val old = emb.filter(col("vec_id") < 400)
    VectorIndex.build(spark, old, "vec_id", "embedding", dir,
      dim = 64, nlist = 16, pq = Some((16, 32)))
    val before = VectorIndex.load(spark, dir)
    // the delta arrives as LOCAL rows so every record READ during the
    // add is attributable to graft: training would rescan the old
    // corpus (sample collect + Lloyd) and a non-incremental append
    // would re-stat the old files — either blows the bound
    val newRows = emb.filter(col("vec_id") >= 400).collect()
    val delta = spark.createDataFrame(
      java.util.Arrays.asList(newRows: _*), emb.schema)
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    val (after, addJobs) =
      try countJobs(VectorIndex.addVectors(
        spark, delta, "vec_id", "embedding", dir))
      finally {
        org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    assert(read.get < 600,
      s"addVectors read ${read.get} records; must touch only the delta " +
        "(training or an O(table) append would rescan the 400-row corpus)")
    // the append pipeline itself costs ~7 jobs (range sampling, the
    // write, the delta stats job, sidecar bookkeeping); k-means +
    // PQ training add a sample collect plus 2 jobs per Lloyd
    // iteration on top — the bound excludes any training
    assert(addJobs <= 8,
      s"addVectors ran $addJobs jobs; expected just the delta append " +
        "(training adds a sample collect + per-iteration jobs on top)")
    // geometry is FROZEN: centroids and codebooks byte-identical
    assert(after.centroids.flatten.toSeq == before.centroids.flatten.toSeq)
    assert(after.codebooks.get.flatten.flatten.toSeq ==
      before.codebooks.get.flatten.flatten.toSeq)
    // every vector present exactly once, cells from the stored centroids
    val rows = spark.read.format("graft").load(dir)
    assert(rows.count() == emb.count())
    // a probe placed AT a new vector finds it: cosine 1 top neighbor
    // (query_id offset so self-exclusion does not drop it)
    val probe = emb.filter(col("vec_id") === 450)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val hit = VectorIndex.topK(spark, probe, dir,
      "vec_id", "embedding", k = 1, nprobe = 2).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("neighbor_id") == 450L,
      s"nearest neighbor of new vector 450 must be itself, got " +
        s"${hit.toSeq}")
    assert(hit.head.getAs[Double]("cosine") == 1.0)
    // and through the PQ path: codes extended with the stored books
    val pqHit = VectorIndex.pqTopK(spark, probe, dir,
      "vec_id", "embedding", k = 1, nprobe = 2).collect()
    assert(pqHit.length == 1 &&
      pqHit.head.getAs[Long]("neighbor_id") == 450L)
  }

  test("compact restores disjoint cell ranges after adds; query " +
      "results unchanged, centroids sidecar survives") {
    val dir = tempDir("vecidx-compact") + "/idx"
    val old = emb.filter(col("vec_id") < 300)
    VectorIndex.build(spark, old, "vec_id", "embedding", dir,
      dim = 64, nlist = 16)
    // two adds, each spanning every cell -> overlapping layout
    VectorIndex.addVectors(spark,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding", dir)
    VectorIndex.addVectors(spark, emb.filter(col("vec_id") >= 400),
      "vec_id", "embedding", dir)
    assert(!graft.core.PDataset.scanParquet(spark, dir).isDisjoint,
      "adds must overlap for the fixture to mean anything")
    def hits() = VectorIndex.topK(spark, queries, dir, "vec_id",
      "embedding", k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = hits()
    val report = VectorIndex.compact(spark, dir)
    assert(report.created > 0)
    assert(graft.core.PDataset.scanParquet(spark, dir).isDisjoint)
    assert(hits() == before, "compaction changed query results")
    // the params sidecar survived: load() still resolves
    assert(VectorIndex.load(spark, dir).nlist == 16)
  }

  test("addVectors autoCompactOverlap keeps the layout disjoint across " +
      "a sequence of adds; query results match the never-compacted " +
      "reference") {
    def grow(dir: String, auto: Option[Int]): Unit = {
      VectorIndex.build(spark, emb.filter(col("vec_id") < 300),
        "vec_id", "embedding", dir, dim = 64, nlist = 16)
      VectorIndex.addVectors(spark,
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
        "vec_id", "embedding", dir, autoCompactOverlap = auto)
      VectorIndex.addVectors(spark, emb.filter(col("vec_id") >= 400),
        "vec_id", "embedding", dir, autoCompactOverlap = auto)
    }
    val ref = tempDir("vecidx-auto-ref") + "/idx"
    grow(ref, None)
    assert(!graft.core.PDataset.scanParquet(spark, ref).isDisjoint,
      "un-maintained adds must overlap for the knob to mean anything")
    val dir = tempDir("vecidx-auto") + "/idx"
    grow(dir, Some(1))
    assert(graft.core.PDataset.scanParquet(spark, dir).isDisjoint,
      "auto-compaction must restore disjoint cell ranges")
    def hits(d: String) = VectorIndex.topK(spark, queries, d, "vec_id",
      "embedding", k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits(dir) == hits(ref), "compaction changed query results")
    assert(VectorIndex.load(spark, dir).nlist == 16)
  }

  test("removeVectors hides ids from every query path immediately — " +
      "zero retraining, zero rewrite, addVectors still works after") {
    val dir = tempDir("vecidx-remove") + "/idx"
    VectorIndex.build(spark,
      emb.filter(col("vec_id") < 500), "vec_id", "embedding", dir,
      dim = 64, nlist = 8, pq = Some((16, 32)))
    val qs = emb.filter(col("vec_id") < 5)
    val beforeIds = VectorIndex.topK(spark, qs, dir,
      "vec_id", "embedding", 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(beforeIds.nonEmpty)
    val victims = beforeIds.take(3).toSeq
    val rep = VectorIndex.removeVectors(spark, dir, victims)
    assert(rep.marked == victims.length, rep.toString)
    val after = VectorIndex.topK(spark, qs, dir,
      "vec_id", "embedding", 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !after.contains(v)),
      s"removed ids still returned: ${victims.filter(after.contains)}")
    val afterPq = VectorIndex.pqTopK(spark, qs, dir,
      "vec_id", "embedding", 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !afterPq.contains(v)),
      "PQ path must hide removed ids too")
    // the index keeps absorbing new vectors around the pending marks
    VectorIndex.addVectors(spark,
      emb.filter(col("vec_id") >= 500 && col("vec_id") < 520),
      "vec_id", "embedding", dir)
    val grown = VectorIndex.topK(spark, qs, dir,
      "vec_id", "embedding", 50)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !grown.contains(v)))
  }

  test("corpus identity: queries can detect an index missing vectors") {
    val root = tempDir("vecidx-drift")
    val corpus = root + "/corpus"
    val dir = root + "/idx"
    emb.filter(col("vec_id") < 300).write.parquet(corpus)
    VectorIndex.build(spark, spark.read.parquet(corpus), "vec_id",
      "embedding", dir, dim = 64, nlist = 8,
      corpusDir = Some(corpus))
    assert(VectorIndex.corpusDrift(spark, dir).contains(false))
    // the corpus grows without an addVectors: drift turns true
    emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .write.mode("append").parquet(corpus)
    assert(VectorIndex.corpusDrift(spark, dir).contains(true))
    // absorbing the new rows (and re-recording) clears it
    VectorIndex.addVectors(spark,
      spark.read.parquet(corpus).filter(col("vec_id") >= 300),
      "vec_id", "embedding", dir, corpusDir = Some(corpus))
    assert(VectorIndex.corpusDrift(spark, dir).contains(false))
    // an index built without a corpusDir has nothing to compare
    assert(VectorIndex.corpusDrift(spark, ivfDir).isEmpty)
  }

  test("churn fuzz: interleaved addVectors/removeVectors/compact " +
      "never drop recall@5 below the contract floor, and removed ids " +
      "never surface") {
    // The index-maintenance analogue of MaintenanceFuzzSpec: a seeded
    // schedule of adds (frozen geometry), keyed removes (DV overlay)
    // and compactions (layout-only) against a live brute-force truth
    // — the floor is q_ann_ivf's 0.4 contract, probed wider (nprobe 8)
    // so maintenance noise cannot straddle the training variance.
    val dir = tempDir("vecidx-churn") + "/idx"
    val all = emb.filter(col("vec_id") < 500)
      .select("vec_id", "embedding")
    val rows = all.collect()
    val vecOf = rows.map(r => r.getLong(0) -> r).toMap
    val initial = rows.map(_.getLong(0)).filter(_ % 2 == 0).toSet
    def df(ids: Set[Long]) = spark.createDataFrame(
      java.util.Arrays.asList(ids.toSeq.sorted.map(vecOf): _*),
      all.schema)
    VectorIndex.build(spark, df(initial), "vec_id", "embedding", dir,
      dim = 64, nlist = 16)

    val rnd = new scala.util.Random(11)
    var live = initial
    var pendingAdd = rows.map(_.getLong(0)).filterNot(initial).toVector
    val qids = (0L until 10L).toSet
    for (round <- 1 to 6) {
      rnd.nextInt(3) match {
        case 0 if pendingAdd.nonEmpty => // add a batch
          val n = 1 + rnd.nextInt(math.min(60, pendingAdd.size))
          val batch = pendingAdd.take(n)
          pendingAdd = pendingAdd.drop(n)
          VectorIndex.addVectors(spark, df(batch.toSet), "vec_id",
            "embedding", dir)
          live ++= batch
        case 1 if (live -- qids).size > 40 => // remove a batch
          val victims = rnd.shuffle((live -- qids).toSeq).take(
            1 + rnd.nextInt(30))
          VectorIndex.removeVectors(spark, dir, victims)
          live --= victims
        case _ =>
          VectorIndex.compact(spark, dir)
      }
      val queries = df(qids.filter(live))
      val got = VectorIndex.topK(spark, queries, dir, "vec_id",
        "embedding", k = 5, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // removed ids must never surface, from any query path
      val ghosts = got.map(_._2).toSet -- live
      assert(ghosts.isEmpty, s"round $round: removed ids returned $ghosts")
      val truth = Similarity.bruteForceTopK(queries, df(live),
        "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val hits = truth.count { case (q, n) =>
        byQ.getOrElse(q, Set.empty).contains(n)
      }
      val recall = hits.toDouble / truth.length
      assert(recall >= 0.4,
        s"round $round: recall@5 $recall fell below the 0.4 floor " +
          s"(live=${live.size})")
    }
  }

  test("pqTopK demands a PQ-built index") {
    val dir = tempDir("vecidx-nopq") + "/idx"
    VectorIndex.build(spark, emb, "vec_id", "embedding", dir,
      dim = 64, nlist = 8)
    val e = intercept[IllegalArgumentException] {
      VectorIndex.pqTopK(spark, queries, dir, "vec_id", "embedding", k = 5)
    }
    assert(e.getMessage.contains("without PQ"))
  }
}
