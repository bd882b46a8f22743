package graftbench

import scala.collection.mutable

/** The SQL queries of the `reads` workload, over the same tables
  * registered as `format("graft")` views. The tables never change, so
  * graft's metadata caches stay warm.
  *
  * Each round runs the six query kinds once. Each kind has three
  * parameter variants fixed by the seed, one per round, with widths
  * on a fixed ladder so that every seed does the same amount of work.
  * Each query is planned (`plans.plan`), then collected
  * (`sources.execute`); its rows must match the same SQL over the raw
  * parquet copies, by count and order-insensitive hash. */
final class SqlOps(w: Workload, t: LineitemTables, seed: Long) {
  import w.{span, spark}
  private def tr = w.tr
  private val kinds = Seq("range", "meta_count", "group", "window", "join", "topk")
  private val variants = 3
  private val lineCols = "l_comment, l_discount, l_extendedprice, l_linenumber, l_orderkey, " +
    "l_partkey, l_quantity, l_returnflag, l_shipdate, l_shipmode"

  /** SQL with `{li}` and `{cal}` table placeholders, and the number
    * of files whose sidecar bounds meet its predicate. */
  private final case class Query(kind: String, variant: Int, text: String, needed: Int) {
    def on(suffix: String): String =
      text.replace("{li}", "li" + suffix).replace("{cal}", "cal" + suffix)
  }
  private var queries: Map[String, IndexedSeq[Query]] = Map.empty

  /** Register the views and fix the queries, after `t.build`. */
  def setup(): Unit = {
    def view(name: String, path: String): Unit =
      spark.read.format("graft").load(path).createOrReplaceTempView(name)
    view("li", t.byShipdate)
    view("cal", t.calendar)
    spark.read.parquet(t.rawLineitem).createOrReplaceTempView("li_raw")
    spark.read.parquet(t.rawCalendar).createOrReplaceTempView("cal_raw")
    queries = plan(new scala.util.Random(seed))
  }

  private def plan(r: scala.util.Random): Map[String, IndexedSeq[Query]] = {
    val span = Gen.dateSpan
    def dayRange(width: Int): (Int, Int) = {
      val a = r.nextInt(span - width)
      (a, a + width)
    }
    def between(a: Int, b: Int, t: String = "") =
      s"${t}l_shipdate >= ${Dates.sql(a)} AND ${t}l_shipdate < ${Dates.sql(b)}"
    val lbs = t.dateBounds.flatMap(_._1).sorted
    def q(kind: String)(f: Int => (String, Int)): IndexedSeq[Query] =
      (0 until variants).map { v => val (s, n) = f(v); Query(kind, v, s, n) }
    Map(
      "range" -> q("range") { v =>
        val (a, b) = dayRange(Seq(1, 4, 12)(v))
        (s"SELECT $lineCols FROM {li} WHERE ${between(a, b)}",
          t.filesMeeting(t.dateBounds, Some(a), Some(b)))
      },
      // even variants: whole table; odd ones: bounds on file edges
      "meta_count" -> q("meta_count") { v =>
        val head = "SELECT count(*) AS n, min(l_shipdate) AS lo, max(l_shipdate) AS hi FROM {li}"
        if (v % 2 == 0) (head, t.dateBounds.length)
        else {
          val i = 1 + r.nextInt(lbs.length / 2)
          val j = i + 1 + r.nextInt(lbs.length - i - 1)
          (s"$head WHERE ${between(lbs(i), lbs(j))}",
            t.filesMeeting(t.dateBounds, Some(lbs(i)), Some(lbs(j))))
        }
      },
      "group" -> q("group") { v =>
        val (a, b) = dayRange(span * Seq(5, 12, 20)(v) / 100)
        (s"SELECT l_shipdate, count(*) AS n, sum(l_quantity) AS q, " +
          s"sum(l_extendedprice) AS p FROM {li} WHERE ${between(a, b)} GROUP BY l_shipdate",
          t.filesMeeting(t.dateBounds, Some(a), Some(b)))
      },
      "window" -> q("window") { v =>
        val (a, b) = dayRange(span * Seq(2, 5, 8)(v) / 100)
        val w = "OVER (PARTITION BY l_shipdate ORDER BY l_orderkey, l_linenumber)"
        (s"SELECT l_shipdate, count(*) AS n, max(rn) AS m, sum(run) AS s FROM (" +
          s"SELECT l_shipdate, row_number() $w AS rn, sum(l_quantity) $w AS run " +
          s"FROM {li} WHERE ${between(a, b)}) GROUP BY l_shipdate",
          t.filesMeeting(t.dateBounds, Some(a), Some(b)))
      },
      "join" -> q("join") { v =>
        val (a, b) = dayRange(span * Seq(5, 12, 25)(v) / 100)
        (s"SELECT c.d_weekday, c.d_holiday, count(*) AS n, sum(l.l_quantity) AS q, " +
          "sum(l.l_extendedprice) AS p FROM {li} l JOIN {cal} c ON l.l_shipdate = c.l_shipdate " +
          s"WHERE ${between(a, b, "l.")} GROUP BY c.d_weekday, c.d_holiday",
          t.filesMeeting(t.dateBounds, Some(a), Some(b)) +
            t.filesMeeting(t.calendarBounds, Some(a), Some(b)))
      },
      // the start sets how many files the scan must open: a fixed
      // ladder, nudged by the seed
      "topk" -> q("topk") { v =>
        val a = span * (2 + 2 * v) / 10 + r.nextInt(span / 50)
        (s"SELECT $lineCols FROM {li} WHERE l_shipdate >= ${Dates.sql(a)} " +
          "ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 100",
          t.filesMeeting(t.dateBounds, Some(a), None))
      })
  }

  private val ran = mutable.Map.empty[Int, (Query, (Long, Long))]

  /** Row count and order-insensitive checksum of collected rows. */
  private def digest(rows: Array[org.apache.spark.sql.Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(_.hashCode.toLong).sum)

  def ops(r: Int): Seq[Op] = kinds.map { k =>
    val query = queries(k)(r % variants)
    Op("sql_" + k, () => {
      val df = span("plans.plan") {
        val d = spark.sql(query.on(""))
        d.queryExecution.executedPlan
        d
      }
      val rows = span("sources.execute")(df.collect())
      ran(tr.currentOp) = (query, digest(rows))
      OpResult(rows.length.toLong, ok = true)
    })
  }

  /** Plain Spark's answers; every set-up writes the same seeded data,
    * so they hold for every phase. */
  private val want = mutable.Map.empty[Query, (Long, Long)]

  def verify(ops: Seq[OpRec]): Unit = {
    ops.foreach { o =>
      ran.get(o.id).foreach { case (q, got) =>
        val expect = want.getOrElseUpdate(q, digest(spark.sql(q.on("_raw")).collect()))
        if (expect != got) {
          o.ok = false
          o.note = s"${q.kind}/${q.variant}: got (rows, checksum) $got, plain Spark gives $expect"
        }
      }
    }
  }

  def layerExtras(ops: Seq[OpRec]): Map[String, Double] = {
    val files = Metrics.filesReadByOp(w.tr)
    val pairs = ops.filter(_.traced).flatMap(o =>
      ran.get(o.id).map(_._1.needed.toLong).zip(files.get(o.id))).filter(_._2 > 0)
    val read = pairs.map(_._2).sum
    Map("sources.files_needed_frac" ->
      (if (read == 0) 0.0 else pairs.map(_._1).sum.toDouble / read))
  }
}
