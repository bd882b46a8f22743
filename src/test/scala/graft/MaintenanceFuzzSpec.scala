package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PDataset
import graft.operators.{DeletionVectors, Maintenance}
import Fixtures._

/** Model-based randomized test of the maintenance subsystem: a
  * fixed-seed sequence of upserts, range and key deletes, merges,
  * updates, scoped overwrites, deletion-vector materializes,
  * compactions, appends and vacuums runs against one dataset while a
  * driver-side map tracks the expected content; after EVERY step the
  * dataset must match the model exactly and keep its invariants
  * (exact bounds/sizes, disjoint partitions). Sequences of interleaved ops
  * reach states no hand-written case does — e.g. compacting files
  * created by an upsert that followed a delete.
  */
class MaintenanceFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("random op sequences preserve content and invariants (fixed " +
      "seed), run against a SHALLOW CLONE whose source must survive " +
      "byte-identical") {
    val rnd = new scala.util.Random(20260813L)
    val root = tempDir("maint-fuzz")
    val srcDir = root + "/src"
    val dir = root + "/ds"

    // model: key -> payload
    val model = scala.collection.mutable.TreeMap.empty[Long, String]
    def rowsOf(keys: Seq[Long], tag: String) =
      keys.map(k => (k, (k % 7).toInt, s"$tag-$k")).toDF("k", "grp", "payload")

    // seed dataset: keys 0..999, 10 files
    val init = (0L until 1000L).map(k => (k, s"v$k"))
    init.foreach { case (k, v) => model(k) = v }
    val parts = (0 until 1000 by 100).map { lo =>
      PDataset.fromDataFrame(
        spark.range(lo.toLong, lo + 100L).select(
          col("id").as("k"), (col("id") % 7).cast("int").as("grp"),
          concat(lit("v"), col("id")).as("payload")), Seq("k"))
    }
    // The fuzzed dataset is a ZERO-COPY CLONE of the seed: every op in
    // the mix first crosses the external-entry (absolute-path) code
    // paths until its band localizes, and nothing in 28
    // mutations may touch a source byte — the copy-on-write contract
    // under the strongest interleaving we have.
    PDataset.concat(parts).writeParquet(srcDir)
    Maintenance.shallowClone(spark, srcDir, dir)
    val srcBytes = {
      val m = graft.core.Sidecar.load(spark, srcDir)
      m.files.map { f =>
        val p = java.nio.file.Paths.get(srcDir, f)
        f -> (java.nio.file.Files.getLastModifiedTime(p).toMillis,
          java.nio.file.Files.size(p))
      }.toMap
    }
    var nextFresh = 1000000L

    def check(step: String): Unit = {
      val ds = PDataset.scanParquet(spark, dir)
      checkBoundsAndSizes(ds)
      assert(ds.isDisjoint, s"$step: partitions overlap")
      val got = ds.toDF.select("k", "payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      val want = model.toSeq
      assert(got.length == want.length,
        s"$step: ${got.length} rows != model ${want.length}")
      got.zip(want).foreach { case (g, w) =>
        assert(g == w, s"$step: $g != $w")
      }
    }

    // After a retained op, the change feed from the just-archived
    // generation must equal the model diff exactly (and be empty for
    // a pure rewrite like compaction).
    def checkFeed(before: Map[Long, String], step: String): Unit = {
      val v = Maintenance.versions(spark, dir).max
      val feed = Maintenance.changes(spark, dir, v)
        .select("k", "payload", "change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val after = model.toMap
      // CDF classification: a key losing one row AND gaining one row
      // is an update (keys are unique in the model, so any key on
      // both sides of the diff pairs)
      val lost = before.toSet.diff(after.toSet)
      val gained = after.toSet.diff(before.toSet)
      val lostK = lost.map(_._1)
      val gainedK = gained.map(_._1)
      val want =
        lost.map { case (k, p) =>
          (k, p, if (gainedK(k)) "update_preimage" else "delete") } ++
        gained.map { case (k, p) =>
          (k, p, if (lostK(k)) "update_postimage" else "insert") }
      assert(feed == want,
        s"$step: feed diff; extra=${feed.diff(want)} missing=${want.diff(feed)}")
      // per-commit attribution over the single step: same rows, each
      // tagged with the generation this mutation produced
      val cdf = Maintenance.changesWithCommitInfo(spark, dir, v)
        .select("k", "payload", "change_type", "_commit_version")
        .collect()
        .map(r => ((r.getLong(0), r.getString(1), r.getString(2)),
          r.getInt(3))).toSet
      assert(cdf == want.map(_ -> (v + 1)),
        s"$step: commit-info feed diverges from the endpoint feed")
    }

    val landing = tempDir("maint-fuzz-landing")

    // 26 random steps, then one forced step for each row-level rewrite
    // the draw may miss: a DV delete folded in by materialize, and an
    // update assigning the index column
    val forced = Seq(17, 14)
    (0 until 26 + forced.length).foreach { step =>
      val op = if (step < 26) rnd.nextInt(17) else forced(step - 26)
      val label =
        if (op == 17) { // merge-on-read delete, then materialize
          val keys = model.keys.toVector
          if (keys.length < 300) "skip"
          else {
            val a = keys(rnd.nextInt(keys.length))
            val b = a + 1 + rnd.nextInt(150)
            val retain = rnd.nextBoolean()
            val before = model.toMap
            model.rangeImpl(Some(a), Some(b)).keys.toVector
              .foreach(model.remove)
            DeletionVectors.deleteWhere(spark, dir,
              col("k") >= a && col("k") < b)
            DeletionVectors.materialize(spark, dir, retain = retain)
            assert(!DeletionVectors.exists(spark, dir))
            if (retain) checkFeed(before, s"materialize-feed($step)")
            s"materialize($step, [$a,$b))"
          }
        } else if (op == 16) { // whole-table recluster: layout only, rows
          // unchanged; on the clone this LOCALIZES remaining external
          // references (the source-byte-identity check at the end
          // proves the source untouched)
          val retain = rnd.nextBoolean()
          val report = Maintenance.recluster(spark, dir, retain = retain)
          if (retain && report.created > 0)
            checkFeed(model.toMap, s"recluster-feed($step)")
          assert(PDataset.scanParquet(spark, dir).isDisjoint,
            s"recluster($step) left overlapping bounds")
          s"recluster($step)"
        } else if (op == 15) { // COPY INTO: idempotent landing-zone ingest
          val base = (model.keys.lastOption.getOrElse(0L) + 1)
            .max(nextFresh)
          val n = 10 + rnd.nextInt(30)
          (base until base + n).foreach(k => model(k) = s"c$step-$k")
          nextFresh = base + n
          graft.core.Sidecar.writeSingleParquet(
            rowsOf((base until base + n), s"c$step"),
            s"$landing/drop$step.parquet")
          val r = graft.operators.CopyInto.copyInto(
            spark, dir, landing, "parquet")
          assert(r.filesLoaded == 1 && r.rowsLoaded == n, r.toString)
          // the whole landing zone re-lists every time; only the new
          // drop loads, and an immediate re-run loads nothing
          val r2 = graft.operators.CopyInto.copyInto(
            spark, dir, landing, "parquet")
          assert(r2.filesLoaded == 0, s"re-run loaded: $r2")
          s"copyInto($step, $n rows)"
        } else if (op == 14) { // index-assignment update: movers re-route
          val keys = model.keys.toVector
          if (keys.length < 300) "skip"
          else {
            val a = keys(rnd.nextInt(keys.length))
            val b = a + 1 + rnd.nextInt(100)
            // shift the band into fresh key territory STRICTLY past
            // the band itself (a destination overlapping [a,b) would
            // collide moved keys with keys still moving) so the
            // model's unique-key map stays faithful. nextFresh is the
            // LAST USED fresh key — it may still be live, so start
            // one past it (off-by-one here once landed the band on a
            // live upsert key and duplicated it).
            val off = (nextFresh + 1).max(b) - a
            val moved = model.rangeImpl(Some(a), Some(b)).toVector
            nextFresh = a + off + (b - a) + 1
            val retain = rnd.nextBoolean()
            val before = model.toMap
            moved.foreach { case (k, _) => model.remove(k) }
            moved.foreach { case (k, p) => model(k + off) = p }
            Maintenance.updateWhere(spark, dir,
              col("k") >= a && col("k") < b,
              Seq("k" -> (col("k") + off)), retain = retain)
            if (retain) checkFeed(before, s"rekey-feed($step)")
            s"rekeyUpdate($step, [$a,$b)+$off)"
          }
        } else if (op == 12) { // predicate update (SQL UPDATE) over a range
          val keys = model.keys.toVector
          if (keys.length < 300) "skip"
          else {
            val a = keys(rnd.nextInt(keys.length))
            val b = a + 1 + rnd.nextInt(150)
            val retain = rnd.nextBoolean()
            val before = model.toMap
            model.rangeImpl(Some(a), Some(b)).keys.toVector
              .foreach(k => model(k) = s"w$step-$k")
            Maintenance.updateWhere(spark, dir,
              col("k") >= a && col("k") < b,
              Seq("payload" -> concat(lit(s"w$step-"), col("k"))),
              retain = retain)
            if (retain) checkFeed(before, s"update-feed($step)")
            s"updateWhere($step, [$a,$b))"
          }
        } else if (op == 13) { // scoped overwrite (REPLACE WHERE)
          val keys = model.keys.toVector
          if (keys.length < 300) "skip"
          else {
            val a = keys(rnd.nextInt(keys.length))
            val b = a + 1 + rnd.nextInt(150)
            val retain = rnd.nextBoolean()
            val before = model.toMap
            model.rangeImpl(Some(a), Some(b)).keys.toVector
              .foreach(model.remove)
            // incoming rows: a mix of keys inside the band (some that
            // existed, some fresh odd offsets), all satisfying cond
            val incoming = (a until b by (1 + rnd.nextInt(3)).toLong)
              .take(40).toVector
            incoming.foreach(k => model(k) = s"r$step-$k")
            Maintenance.replaceWhere(spark, dir,
              col("k") >= a && col("k") < b,
              rowsOf(incoming, s"r$step"), retain = retain)
            if (retain) checkFeed(before, s"replace-feed($step)")
            s"replaceWhere($step, [$a,$b))"
          }
        } else if (op == 10) { // point-delete scattered keys
          val keys = model.keys.toVector
          if (keys.length < 300) "skip"
          else {
            val picked = Seq.fill(1 + rnd.nextInt(20))(
              keys(rnd.nextInt(keys.length))).distinct
            val retain = rnd.nextBoolean()
            val before = model.toMap
            picked.foreach(model.remove)
            Maintenance.deleteKeys(spark, dir, picked.toDF("k"),
              retain = retain)
            if (retain) checkFeed(before, s"delkeys-feed($step)")
            s"delkeys($step, ${picked.length} keys)"
          }
        } else if (op == 11) { // combined merge: updates + deletes
          val keys = model.keys.toVector
          if (keys.length < 300) "skip"
          else {
            val shuffled = rnd.shuffle(keys).take(25)
            val (updK, delK) = shuffled.splitAt(10 + rnd.nextInt(10))
            val retain = rnd.nextBoolean()
            val before = model.toMap
            updK.foreach(k => model(k) = s"m$step-$k")
            delK.foreach(model.remove)
            Maintenance.merge(spark, dir, rowsOf(updK, s"m$step"),
              delK.toDF("k"), retain = retain)
            if (retain) checkFeed(before, s"merge-feed($step)")
            s"merge($step, ${updK.length}u/${delK.length}d)"
          }
        } else
        if (op < 3) { // upsert: mix of existing and fresh keys
          val existing = model.keys.toVector
          val upd = Seq.fill(1 + rnd.nextInt(30))(
            existing(rnd.nextInt(existing.length))).distinct
          val fresh = (0 until rnd.nextInt(5)).map { _ =>
            nextFresh += 1; nextFresh
          }
          val keys = upd ++ fresh
          val retain = rnd.nextBoolean()
          val before = model.toMap
          keys.foreach(k => model(k) = s"u$step-$k")
          Maintenance.upsert(spark, dir, rowsOf(keys, s"u$step"),
            retain = retain)
          if (retain) checkFeed(before, s"upsert-feed($step)")
          s"upsert($step, ${keys.length} keys)"
        } else if (op < 6) { // delete a random range
          // keep the dataset comfortably non-empty: upsert requires
          // at least one partition to route into
          val keys = model.keys.toVector
          if (keys.length < 300) "skip"
          else {
            val a = keys(rnd.nextInt(keys.length))
            val b = a + 1 + rnd.nextInt(200)
            val retain = rnd.nextBoolean()
            val before = model.toMap
            model.rangeImpl(Some(a), Some(b)).keys.toVector
              .foreach(model.remove)
            Maintenance.deleteRange(spark, dir,
              lb = Vector(Some(a)), ub = Vector(Some(b)),
              inclusive = "lower", retain = retain)
            if (retain) checkFeed(before, s"delete-feed($step)")
            s"delete($step, [$a,$b))"
          }
        } else if (op < 8) { // compact (rows, bytes, or a scoped band)
          val retain = rnd.nextBoolean()
          val report = rnd.nextInt(3) match {
            case 0 =>
              Maintenance.compact(spark, dir, 150L + rnd.nextInt(400),
                retain = retain)
            case 1 =>
              Maintenance.compactBytes(spark, dir,
                4096L * (1 + rnd.nextInt(8)), retain = retain)
            case _ =>
              val keys = model.keys.toVector
              if (keys.nonEmpty) {
                val a = keys(rnd.nextInt(keys.length))
                Maintenance.compactWhere(spark, dir,
                  col("k") >= a && col("k") < a + 300,
                  150L + rnd.nextInt(400), retain = retain)
              } else Maintenance.compact(spark, dir, 200L,
                retain = retain)
          }
          // a compaction changes no rows: the feed from the archived
          // generation must be empty — but a NO-OP compact (nothing
          // merged) makes no commit and archives nothing, so there is
          // no new generation to check against
          if (retain && report.created > 0)
            checkFeed(model.toMap, s"compact-feed($step)")
          s"compact($step)"
        } else if (op == 8) { // append beyond the current max key
          val base = (model.keys.lastOption.getOrElse(0L) + 1).max(nextFresh)
          val n = 20 + rnd.nextInt(50)
          (base until base + n).foreach(k => model(k) = s"a$step-$k")
          nextFresh = base + n
          PDataset.fromDataFrame(
            rowsOf((base until base + n), s"a$step"), Seq("k"))
            .writeParquet(dir, append = true)
          s"append($step, $n rows)"
        } else if (rnd.nextBoolean()) { // vacuum, sometimes retaining
          val retain = rnd.nextInt(3)
          Maintenance.vacuum(spark, dir, retainLast = retain)
          val left = Maintenance.versions(spark, dir)
          assert(left.length <= retain, s"vacuum kept ${left.length}")
          // every retained generation must still be fully readable
          left.foreach { v =>
            Maintenance.scanVersion(spark, dir, v).toDF.count()
          }
          s"vacuum($step, retain=$retain)"
        } else { // metadata-only schema evolution round-trip
          import org.apache.spark.sql.types.{LongType, StructField}
          Maintenance.addColumns(spark, dir, StructField(s"x$step", LongType))
          Maintenance.dropColumns(spark, dir, s"x$step")
          s"schema($step)"
        }
      if (label != "skip") check(label)
    }
    // final vacuum leaves exactly the referenced files on disk
    Maintenance.vacuum(spark, dir)
    check("final vacuum")
    // the copy-on-write contract: 28 mutations + vacuums on
    // the clone and the SOURCE table is byte-identical — same files,
    // same sizes, same mtimes, same content
    val srcAfter = {
      val m = graft.core.Sidecar.load(spark, srcDir)
      m.files.map { f =>
        val p = java.nio.file.Paths.get(srcDir, f)
        f -> (java.nio.file.Files.getLastModifiedTime(p).toMillis,
          java.nio.file.Files.size(p))
      }.toMap
    }
    assert(srcAfter == srcBytes, "the clone's mutations reached its source")
    val srcDs = PDataset.scanParquet(spark, srcDir)
    checkBoundsAndSizes(srcDs)
    assert(srcDs.toDF.count() == 1000)
  }

  test("source-side guard fuzz: random NON-RETAINED source " +
      "maintenance under a live clone never breaks the clone, and " +
      "dropClone releases the storage") {
    val rnd = new scala.util.Random(20260815L)
    val root = tempDir("maint-fuzz-srcguard")
    val srcDir = root + "/src"
    val cloneDir = root + "/clone"
    val model = scala.collection.mutable.TreeMap.empty[Long, String]
    (0L until 1000L).foreach(k => model(k) = s"v$k")
    val parts = (0 until 1000 by 100).map { lo =>
      PDataset.fromDataFrame(
        spark.range(lo.toLong, lo + 100L).select(
          col("id").as("k"), (col("id") % 7).cast("int").as("grp"),
          concat(lit("v"), col("id")).as("payload")), Seq("k"))
    }
    PDataset.concat(parts).writeParquet(srcDir)
    Maintenance.shallowClone(spark, srcDir, cloneDir)
    def content(dir: String): Seq[(Long, String)] =
      PDataset.scanParquet(spark, dir).toDF.select("k", "payload")
        .collect().map(r => r.getLong(0) -> r.getString(1))
        .sortBy(_._1).toSeq
    val snapshot = content(cloneDir)
    def rowsOf(keys: Seq[Long], tag: String) =
      keys.map(k => (k, (k % 7).toInt, s"$tag-$k")).toDF("k", "grp", "payload")
    var nextFresh = 1000000L
    (0 until 12).foreach { step =>
      val keys = model.keys.toVector
      val label = rnd.nextInt(5) match {
        case 0 => // non-retained upsert
          val upd = Seq.fill(1 + rnd.nextInt(25))(
            keys(rnd.nextInt(keys.length))).distinct
          val fresh = (0 until rnd.nextInt(4)).map { _ =>
            nextFresh += 1; nextFresh
          }
          (upd ++ fresh).foreach(k => model(k) = s"u$step-$k")
          Maintenance.upsert(spark, srcDir, rowsOf(upd ++ fresh, s"u$step"))
          s"upsert($step)"
        case 1 if keys.length >= 300 => // non-retained range delete
          val a = keys(rnd.nextInt(keys.length))
          val b = a + 1 + rnd.nextInt(150)
          model.rangeImpl(Some(a), Some(b)).keys.toVector
            .foreach(model.remove)
          Maintenance.deleteRange(spark, srcDir,
            lb = Vector(Some(a)), ub = Vector(Some(b)))
          s"delete($step)"
        case 2 => // non-retained compact
          Maintenance.compact(spark, srcDir, targetRows = 250)
          s"compact($step)"
        case 3 if keys.length >= 300 => // non-retained update
          val a = keys(rnd.nextInt(keys.length))
          val b = a + 1 + rnd.nextInt(120)
          model.rangeImpl(Some(a), Some(b)).keys.toVector
            .foreach(k => model(k) = s"w$step-$k")
          Maintenance.updateWhere(spark, srcDir,
            col("k") >= a && col("k") < b,
            Seq("payload" -> concat(lit(s"w$step-"), col("k"))))
          s"update($step)"
        case 4 => // vacuum with the live clone registered
          Maintenance.vacuum(spark, srcDir)
          s"vacuum($step)"
        case _ => "skip"
      }
      if (label != "skip") {
        assert(content(srcDir) == model.toSeq,
          s"$label: source diverged from the model")
        assert(content(cloneDir) == snapshot,
          s"$label: a non-retained source op broke the live clone")
      }
    }
    // lifecycle close: dropClone deregisters; compact + vacuum then
    // reclaim every byte no longer referenced — and the source still
    // matches the model
    Maintenance.dropClone(spark, cloneDir)
    Maintenance.compact(spark, srcDir, targetRows = 250)
    Maintenance.vacuum(spark, srcDir)
    assert(content(srcDir) == model.toSeq)
    val m = graft.core.Sidecar.load(spark, srcDir)
    val onDisk = Option(new java.io.File(srcDir).list()).get
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_")).toSet
    assert(onDisk == m.files.toSet,
      s"unreclaimed debris after dropClone+vacuum: ${onDisk -- m.files}")
  }
}
