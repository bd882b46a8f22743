package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PDataset, Sidecar}

/** The tables of the `reads` workload: a raw unindexed `lineitem`, the
  * same rows as a graft table indexed on `l_shipdate` in 16 partitions
  * (with a column-stats sidecar), and a ship-date calendar (one row per day) as a graft table
  * co-clustered with it on `l_shipdate`, in 4 partitions. */
final class LineitemTables(spark: SparkSession, seed: Long) {
  val lines = 100000L

  var rawLineitem, rawCalendar, byShipdate, calendar = ""
  var dateBounds, calendarBounds: IndexedSeq[(Option[Int], Option[Int])] = Vector.empty

  def build(dir: String): Unit = {
    rawLineitem = s"$dir/raw/lineitem"
    rawCalendar = s"$dir/raw/calendar"
    byShipdate = s"$dir/graft/lineitem"
    calendar = s"$dir/graft/calendar"
    Gen.lineitem(spark, seed, lines, 8).write.parquet(rawLineitem)
    Gen.calendar(spark, seed).write.parquet(rawCalendar)
    Gen.clustered(spark.read.parquet(rawLineitem), "l_shipdate", 16, byShipdate)
    // per-file column stats let MetadataCount answer min/max too
    graft.core.ColumnStats.build(spark, byShipdate, Seq("l_shipdate", "l_quantity"))
    Gen.clustered(spark.read.parquet(rawCalendar), "l_shipdate", 4, calendar)
    dateBounds = bounds(byShipdate)
    calendarBounds = bounds(calendar)
  }

  private def bounds(dir: String): IndexedSeq[(Option[Int], Option[Int])] = {
    def day(v: Option[Any]): Option[Int] = v.map(d =>
      (java.time.LocalDate.parse(d.toString).toEpochDay - Gen.firstDate.toEpochDay).toInt)
    val m = Sidecar.load(spark, dir)
    m.lowerBounds.indices.map(i => (day(m.lowerBounds(i).head), day(m.upperBounds(i).head)))
  }

  def inputs: Seq[Map[String, Any]] = Seq(
    Gen.fingerprint(spark, "lineitem", rawLineitem), Gen.fingerprint(spark, "calendar", rawCalendar))

  /** Files whose bounds meet day range [lo, hi) (`lo = None`: from the
    * null keys up). */
  def filesMeeting(b: IndexedSeq[(Option[Int], Option[Int])], lo: Option[Int],
      hi: Option[Int]): Int =
    b.count { case (lb, ub) =>
      lo.forall(l => ub.exists(_ >= l)) && hi.forall(h => lb.forall(_ < h))
    }
}

object Dates {
  def of(day: Int): java.sql.Date = java.sql.Date.valueOf(Gen.firstDate.plusDays(day.toLong))
  def sql(day: Int): String = s"DATE'${Gen.firstDate.plusDays(day.toLong)}'"
}

/** The PDataset operators of the `reads` workload, over fixed tables.
  *
  * Each round runs slice, reindex, repartition, join and collate once.
  * Slice widths walk a fixed ladder (0.1%, 2%, 25% of the date span)
  * indexed by the round, with seeded positions, so every seed does the
  * same amount of work; the 0.1% rung starts from a null lower bound,
  * which null-first ordering reads as "from the null keys up". Each result is consumed
  * through the `noop` sink and must match plain Spark over the raw
  * copy, by count and order-insensitive checksum. */
final class CoreOps(w: Workload, t: LineitemTables, rnd: scala.util.Random) {
  import w.{span, spark}
  private def tr = w.tr
  private val kinds = Seq("slice", "reindex", "repartition", "join", "collate")
  private val ladder = Seq(0.001, 0.02, 0.25)

  private sealed trait Expect
  private final case class SliceX(lo: Option[Int], hi: Int) extends Expect
  private case object Whole extends Expect
  private case object Joined extends Expect
  private case object Stats extends Expect
  private val expectOf = mutable.Map.empty[Int, Expect]
  private val seen = mutable.Map.empty[Int, (Long, Long)]
  /** Plain Spark's answers; every set-up writes the same seeded data,
    * so they hold for every phase. */
  private val want = mutable.Map.empty[Expect, (Long, Long)]

  def ops(r: Int): Seq[Op] = kinds.map { k => Op(k, () => k match {
    case "slice" =>
      val width = math.max(1, (ladder(r % ladder.length) * Gen.dateSpan).toInt)
      val lo = if (r % ladder.length == 0) None else Some(rnd.nextInt(Gen.dateSpan - width + 1))
      val hi = lo.getOrElse(0) + width
      run(SliceX(lo, hi)) {
        val ds = span("core.scanParquet")(PDataset.scanParquet(spark, t.byShipdate))
        span("core.slice")(ds.slice(Seq(lo.map(Dates.of)), Seq(Some(Dates.of(hi)))))
      }
    case "reindex" =>
      val ds = span("core.scanParquet")(PDataset.scanParquet(spark, t.rawLineitem))
      val re = span("core.reindex")(ds.reindex(Seq("l_shipdate")))
      val rows = re.sizes.map(_.sum).getOrElse(-1L)
      // stats of the raw copy must describe it: every row counted, and
      // the partition bounds spanning exactly the stored dates
      val ubs = re.upperBounds.get.flatMap(_.head).map(d => java.sql.Date.valueOf(d.toString))
      val ok = rows == t.lines && ubs.nonEmpty && re.npartitions == 8
      expectOf(tr.currentOp) = Stats
      seen(tr.currentOp) = (rows, ubs.map(_.toLocalDate.toEpochDay).max)
      OpResult(rows, ok, if (ok) "" else s"reindex counted $rows rows in ${re.npartitions} parts")
    case "repartition" =>
      val perPart = t.lines / Seq(24, 48, 96)(r % 3)
      run(Whole) {
        val ds = span("core.scanParquet")(PDataset.scanParquet(spark, t.byShipdate))
        span("core.repartition")(ds.repartition(perPart))
      }
    case "join" =>
      run(Joined) {
        val l = span("core.scanParquet")(PDataset.scanParquet(spark, t.byShipdate))
        val c = span("core.scanParquet")(PDataset.scanParquet(spark, t.calendar))
        span("core.join")(l.join(c))
      }
    case "collate" =>
      val rows = t.lines / Seq(8, 12, 16)(r % 3)
      run(Whole) {
        val ds = span("core.scanParquet")(PDataset.scanParquet(spark, t.byShipdate))
        span("core.collate")(ds.collate(rows))
      }
  })}

  private def run(x: Expect)(ds: => PDataset): OpResult = {
    val d = ds
    val (n, h) = span("core.consume")(w.consume(d.toDF))
    expectOf(tr.currentOp) = x
    seen(tr.currentOp) = (n, h)
    OpResult(n, ok = true)
  }

  def verify(ops: Seq[OpRec]): Unit = {
    val raw = spark.read.parquet(t.rawLineitem)
    val d = col("l_shipdate")
    def cond(x: SliceX): Column = {
      val below = d < lit(Dates.of(x.hi))
      x.lo.fold(d.isNull || below)(l => d >= lit(Dates.of(l)) && below)
    }
    val mine = ops.flatMap(o => expectOf.get(o.id))
    val slices = mine.collect { case s: SliceX => s }.distinct.filterNot(want.contains)
    if (slices.nonEmpty || !want.contains(Whole)) {
      val rowHash = hash(raw.columns.sorted.map(col).toIndexedSeq: _*).cast("long")
      val aggs = slices.flatMap(s => Seq(
        count(when(cond(s), lit(1))), coalesce(sum(when(cond(s), rowHash)), lit(0L)))) ++
        Seq(count(lit(1)), coalesce(sum(rowHash), lit(0L)),
          max(d).cast("date"))
      val r = raw.agg(aggs.head, aggs.tail: _*).head()
      slices.zipWithIndex.foreach { case (s, i) => want(s) = (r.getLong(2 * i), r.getLong(2 * i + 1)) }
      val k = 2 * slices.length
      want(Whole) = (r.getLong(k), r.getLong(k + 1))
      want(Stats) = (t.lines, r.getDate(k + 2).toLocalDate.toEpochDay)
    }
    if (mine.contains(Joined) && !want.contains(Joined))
      want(Joined) = Gen.checksum(raw.join(spark.read.parquet(t.rawCalendar), "l_shipdate"))
    ops.foreach { o =>
      for (x <- expectOf.get(o.id); got <- seen.get(o.id)) {
        if (want(x) != got) {
          o.ok = false
          o.note = s"$x: got (rows, checksum) $got, plain Spark gives ${want(x)}"
        }
      }
    }
  }
}
