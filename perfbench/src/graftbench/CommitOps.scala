package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.PDataset
import graft.operators.Maintenance

/** The maintenance commits of the `writes` workload, on one graft
  * table.
  *
  * The table is `orders`-shaped, ~50k live keys out of a 100k key
  * space, in 16 partitions indexed on `o_orderkey`. Each round commits
  * upsert, merge, deleteKeys, deleteRange and updateWhere once, in that
  * order, then compacts and vacuums. Commits archive the outgoing
  * generation (`retain = true`), so vacuum has history to reclaim. The
  * keyed deltas of a round touch 0.5%, 1% and 2% of the rows (a ladder
  * that rotates over upsert, merge and deleteKeys from round to round,
  * so every round does the same work; seeded keys), each step inside
  * its own 4% window of the key space; ranges span 1% of it.
  *
  * After every op the table is read back (scanParquet, count and
  * checksum); the count must equal the count the generator tracked.
  * After each phase the final table must match a plain-Spark replay of
  * the phase's deltas over the raw copy. */
final class CommitOps(w: Writes, seed: Long) {
  import w.{span, spark}
  private def tr = w.tr
  val keySpace = 100000L
  val parts = 16
  private val key = "o_orderkey"

  private sealed trait Step {
    def kind: String
    /** Live rows after this step. */
    def live: Long
    /** User rows the step changes. */
    def rows: Long
  }
  private final case class Keyed(kind: String, batch: Int, upd: Int, del: Int, live: Long)
      extends Step { def rows: Long = (upd + del).toLong }
  private final case class Ranged(kind: String, batch: Int, lo: Long, hi: Long, hit: Long,
      live: Long) extends Step { def rows: Long = hit }
  private final case class Maint(kind: String, live: Long) extends Step { def rows = 0L }

  private var raw, table, updDir, delDir = ""
  private var steps: IndexedSeq[IndexedSeq[Step]] = Vector.empty
  private var deltaBytes: Map[Int, Long] = Map.empty

  def setup(dir: String): Unit = {
    raw = s"$dir/raw/orders"
    table = s"$dir/graft/orders"
    updDir = s"$dir/raw/delta_rows"
    delDir = s"$dir/raw/delta_keys"
    executed.clear()
    userBytes = 0L
    Gen.orders(seed, spark.range(1, keySpace + 1, 1, 4)
      .filter(pmod(xxhash64(lit(seed), col("id"), lit(0)), lit(2)) === 0))
      .write.parquet(raw)
    val live = mutable.BitSet.empty
    spark.read.parquet(raw).select(key).collect().foreach(r => live += r.getLong(0).toInt)
    // registered like the `reads` tables; the commits exercise graft's
    // own write path
    Gen.clustered(spark.read.parquet(raw), key, parts, table)
    stage(live)
  }

  /** Draw every step from the seed and write the keyed deltas. */
  private def stage(live: mutable.BitSet): Unit = {
    val rnd = new scala.util.Random(seed)
    val upd = new java.util.ArrayList[Row]()
    val del = new java.util.ArrayList[Row]()
    var batch = 0
    val initial = live.size.toLong
    // 25 disjoint windows of 4% of the key space, taken in a seeded
    // order: no step's window overlaps an earlier one's (for the first
    // 25 steps), so every seed's steps meet the same number of keys
    val width = (keySpace / 25).toInt
    val slots = rnd.shuffle((0 until 25).toVector)
    def window(): (Int, Int) = {
      val a = 1 + slots((batch - 1) % slots.length) * width
      (a, a + width)
    }
    def pickLive(lo: Int, hi: Int, n: Int, not: Set[Int]): Seq[Int] =
      rnd.shuffle(live.range(lo, hi).toSeq.filterNot(not)).take(n)
    def pickFree(lo: Int, hi: Int, n: Int): Seq[Int] =
      rnd.shuffle((lo until hi).filterNot(live).toSeq).take(n)
    def orderRow(b: Int, k: Int): Row = Row(b, k.toLong, 1L + rnd.nextInt(15000),
      Seq("F", "O", "P")(rnd.nextInt(3)),
      java.math.BigDecimal.valueOf(rnd.nextInt(50000000).toLong, 2),
      java.sql.Date.valueOf(Gen.firstDate.plusDays(rnd.nextInt(Gen.dateSpan).toLong)),
      s"${1 + rnd.nextInt(5)}-DELTA", s"d$b-$k")
    def upsertRows(b: Int, lo: Int, hi: Int, n: Int, not: Set[Int]): Set[Int] = {
      val old = pickLive(lo, hi, n - n / 2, not)
      val fresh = pickFree(lo, hi, n / 2)
      (old ++ fresh).foreach(k => upd.add(orderRow(b, k)))
      live ++= fresh
      (old ++ fresh).toSet
    }
    def deleteRows(b: Int, lo: Int, hi: Int, n: Int, not: Set[Int]): Int = {
      val ks = pickLive(lo, hi, n, not)
      ks.foreach(k => del.add(Row(b, k.toLong)))
      live --= ks
      ks.length
    }
    val keyed = Seq("upsert", "merge", "deleteKeys")
    steps = (0 until w.stagedRounds).map { r =>
      Seq("upsert", "merge", "deleteKeys", "deleteRange", "updateWhere").map { k =>
        def size = (initial * Seq(5, 10, 20)((keyed.indexOf(k) + r) % 3) / 1000).toInt
        batch += 1
        val b = batch
        val (lo, hi) = window()
        val step: Step = k match {
          case "upsert" =>
            val n = upsertRows(b, lo, hi, size, Set.empty).size
            Keyed(k, b, n, 0, live.size)
          case "deleteKeys" =>
            Keyed(k, b, 0, deleteRows(b, lo, hi, size, Set.empty), live.size)
          case "merge" =>
            val touched = upsertRows(b, lo, hi, size / 2, Set.empty)
            val d = deleteRows(b, lo, hi, size / 2, touched)
            Keyed(k, b, touched.size, d, live.size)
          case "deleteRange" =>
            val a = lo + rnd.nextInt(hi - lo - keySpace.toInt / 100)
            val z = a + keySpace.toInt / 100
            val hit = live.range(a, z).size
            live --= live.range(a, z).toSeq
            Ranged(k, b, a, z, hit, live.size)
          case "updateWhere" =>
            val a = lo + rnd.nextInt(hi - lo - keySpace.toInt / 100)
            val z = a + keySpace.toInt / 100
            Ranged(k, b, a, z, live.range(a, z).size, live.size)
        }
        step
      }.toIndexedSeq :+ Maint("compact", live.size) :+ Maint("vacuum", live.size)
    }
    val rowSchema = StructType(StructField("batch", IntegerType) +: Gen.ordersSchema.fields)
    spark.createDataFrame(upd, rowSchema).write.partitionBy("batch").parquet(updDir)
    spark.createDataFrame(del, StructType(Seq(StructField("batch", IntegerType),
      StructField(key, LongType)))).write.partitionBy("batch").parquet(delDir)
    deltaBytes = (1 to batch).map(b =>
      b -> (Gen.dirBytes(s"$updDir/batch=$b") + Gen.dirBytes(s"$delDir/batch=$b"))).toMap
  }

  def inputs: Seq[Map[String, Any]] = Seq(Gen.fingerprint(spark, "orders", raw),
    Gen.fingerprint(spark, "delta_rows", updDir), Gen.fingerprint(spark, "delta_keys", delDir))

  private def rowsOf(b: Int): DataFrame = spark.read.parquet(s"$updDir/batch=$b")
  private def keysOf(b: Int): DataFrame = spark.read.parquet(s"$delDir/batch=$b")
  private def has(dir: String, b: Int) =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$dir/batch=$b"))

  private val executed = mutable.ArrayBuffer.empty[(Int, Step)]
  private var lastSeen: (Long, Long) = (0L, 0L)
  private var userBytes = 0L

  /** The ops of staged round `r`. */
  def ops(r: Int): Seq[Op] = steps(r).map(s => Op(s.kind, () => commit(s)))

  private def commit(s: Step): OpResult = {
    val note: String = s match {
      case Keyed(k, b, u, d, _) =>
        val rep = span("operators." + k)(k match {
          case "upsert" => Maintenance.upsert(spark, table, rowsOf(b), retain = true)
          case "deleteKeys" => Maintenance.deleteKeys(spark, table, keysOf(b), retain = true)
          case "merge" =>
            Maintenance.merge(spark, table, rowsOf(b), keysOf(b), retain = true)
        })
        userBytes += deltaBytes(b)
        if (rep.upsertRows == u && rep.deleteRows == d) ""
        else s"report says ${rep.upsertRows} upserted, ${rep.deleteRows} deleted; delta has $u, $d"
      case Ranged("deleteRange", _, lo, hi, _, _) =>
        span("operators.deleteRange")(Maintenance.deleteRange(spark, table,
          Seq(Some(lo)), Seq(Some(hi)), inclusive = "lower", retain = true))
        ""
      case Ranged(_, b, lo, hi, hit, _) =>
        val rep = span("operators.updateWhere")(Maintenance.updateWhere(spark, table,
          col(key) >= lo && col(key) < hi, updates(b), retain = true))
        if (hit == 0 || rep.rewritten > 0) "" else s"updateWhere rewrote nothing for $hit rows"
      case Maint("compact", _) =>
        span("operators.compact")(Maintenance.compact(spark, table, s.live / parts, retain = true))
        ""
      case Maint(_, _) =>
        span("operators.vacuum")(Maintenance.vacuum(spark, table))
        ""
    }
    val (n, h) = span("operators.readback") {
      val ds = span("core.scanParquet")(PDataset.scanParquet(spark, table))
      Gen.checksum(ds.toDF)
    }
    executed += ((tr.currentOp, s))
    lastSeen = (n, h)
    val countNote = if (n == s.live) "" else s"read back $n rows, expected ${s.live}"
    val bad = Seq(note, countNote).filter(_.nonEmpty)
    OpResult(s.rows, bad.isEmpty, bad.mkString("; "))
  }

  private def updates(b: Int) = Seq(
    "o_totalprice" -> (col("o_totalprice") + lit(1)).cast(DecimalType(12, 2)),
    "o_comment" -> lit(s"u$b"))

  def verify(ops: Seq[OpRec]): Unit = if (executed.nonEmpty) {
    var state = spark.read.parquet(raw)
    executed.zipWithIndex.foreach { case ((_, s), i) =>
      state = s match {
        case Keyed(_, b, _, _, _) =>
          var st = state
          if (has(delDir, b)) st = st.join(keysOf(b), Seq(key), "left_anti")
          if (has(updDir, b)) {
            val u = rowsOf(b)
            st = st.join(u.select(key), Seq(key), "left_anti").unionByName(u)
          }
          st
        case Ranged("deleteRange", _, lo, hi, _, _) =>
          state.filter(!(col(key) >= lo && col(key) < hi))
        case Ranged(_, b, lo, hi, _, _) =>
          val cond = col(key) >= lo && col(key) < hi
          updates(b).foldLeft(state) { case (st, (c, v)) =>
            st.withColumn(c, when(cond, v).otherwise(col(c)))
          }
        case _ => state
      }
      if (i % 8 == 7) state = state.localCheckpoint()
    }
    val want = Gen.checksum(state)
    if (want != lastSeen) {
      val last = ops.find(_.id == executed.last._1).get
      last.ok = false
      last.note = s"final table (rows, checksum) $lastSeen; plain-Spark replay gives $want"
    }
  }

  /** Delta bytes committed so far, and (bytes under the table
    * directory, bytes of the files its sidecar lists). */
  def userDeltaBytes: Long = userBytes
  def space: (Long, Long) = (Gen.dirBytes(table), Gen.listedBytes(spark, table))
}
