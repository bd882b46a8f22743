package graftbench

import scala.collection.immutable.ListMap

/** End-to-end metrics of a timed phase and per-layer metrics of a
  * traced one. Names and units match BENCHMARK.json. */
object Metrics {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** The latency at the highest percentile that has at least ten
    * samples beyond it, but not below the median, and that percentile
    * (the maximum below 11 samples). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length < 11) (s.lastOption.getOrElse(0.0), 100.0)
    else {
      val i = math.max(s.length - 11, s.length / 2)
      (s(i), 100.0 * (i + 1) / s.length)
    }
  }

  private val MB = 1e6

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val kb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    kb * 1024 / MB
  }

  def endToEnd(ops: Seq[OpRec], phaseS: Double, setupS: Seq[Double],
      readBytes: Long, writeBytes: Long, retainedMb: Double): ListMap[String, Map[String, Any]] = {
    val n = ops.length
    val (tailMs, tailPct) = tail(ops.map(_.ms))
    def m(v: Double, unit: String, extra: (String, Any)*) =
      Map[String, Any]("value" -> v, "unit" -> unit) ++ extra
    val rows = ops.map(_.rows).sum
    // every op kind weighs the same: the pooled median of a mix of
    // kinds jumps from one kind's latencies to another's
    val perKind = ops.groupBy(_.kind).values.map(os => median(os.map(_.ms))).toSeq
    val kindP50 = if (perKind.isEmpty) 0.0 else math.exp(perKind.map(math.log).sum / perKind.size)
    ListMap(
      "setup_s" -> m(median(setupS), "s", "samples" -> setupS.length),
      "ops_per_s" -> m(n / phaseS, "op/s", "ops" -> n, "phase_s" -> phaseS),
      "rows_per_s" -> m(rows / phaseS, "rows/s"),
      "op_p50_ms" -> m(kindP50, "ms", "samples" -> n, "kinds" -> perKind.size,
        "pooled_p50" -> median(ops.map(_.ms))),
      "op_tail_ms" -> m(tailMs, "ms", "percentile" -> tailPct, "samples" -> n),
      "read_mb_per_op" -> m(readBytes / MB / math.max(n, 1), "MB",
        "write_mb_per_op" -> writeBytes / MB / math.max(n, 1)),
      "retained_heap_mb" -> m(retainedMb, "MB"))
  }

  private val coreCalls = Seq("scanParquet", "reindex", "slice", "repartition", "join",
    "collate", "consume")
  private val commitCalls = Seq("upsert", "merge", "deleteKeys", "deleteRange",
    "updateWhere", "compact", "vacuum")

  /** Every per-layer metric: name -> unit. A metric whose layer the
    * workload does not load reads 0. */
  val layerUnits: ListMap[String, String] = {
    val unit = Map("ms_p50" -> "ms", "jobs" -> "count", "read_mb" -> "MB",
      "write_mb" -> "MB", "shuffle_mb" -> "MB", "task_s" -> "s")
    def calls(prefix: String, names: Seq[String], measures: Seq[String]) =
      for (c <- names; m <- measures) yield s"$prefix.$c.$m" -> unit(m)
    val rd = Seq("ms_p50", "jobs", "read_mb", "shuffle_mb", "task_s")
    val rw = Seq("ms_p50", "jobs", "read_mb", "write_mb", "shuffle_mb", "task_s")
    ListMap(
      calls("core", coreCalls, rd) ++
        calls("operators", commitCalls, rw) ++
        calls("operators", Seq("readback"), Seq("ms_p50", "jobs", "read_mb", "task_s")) ++
        Seq("plans.plan.ms_p50" -> "ms") ++
        calls("sources", Seq("execute"), rd) ++
        Seq("plans.metadata_only_frac" -> "ratio", "plans.division_rewrite_frac" -> "ratio",
          "sources.files_read_per_op" -> "count", "sources.files_needed_frac" -> "ratio") ++
        calls("streaming", Seq("batch", "addBatch", "queryPlanning", "walCommit"), Seq("ms_p50")) ++
        calls("streaming", Seq("batch"), Seq("jobs", "read_mb", "write_mb", "shuffle_mb", "task_s")) ++
        Seq("operators.dedup.drop_recall" -> "ratio", "operators.dedup.drop_precision" -> "ratio",
          "spark.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB",
          "table.write_amp" -> "ratio", "table.space_amp" -> "ratio",
          "bench.trace_overhead_frac" -> "ratio"): _*)
  }

  /** Span-derived per-layer values: per call, the median duration and
    * the mean jobs, storage MB, shuffle MB and task seconds (inclusive
    * of nested calls). */
  def perLayer(tr: Tracer): Map[String, Double] = {
    val (charges, _) = tr.charges()
    val spans = tr.allSpans
    val byName = spans.groupBy(_.name)
    val out = scala.collection.mutable.Map.empty[String, Double]
    layerUnits.keys.foreach { key =>
      val i = key.lastIndexOf('.')
      val (call, measure) = (key.take(i), key.drop(i + 1))
      byName.get(call).foreach { ss =>
        val cs = ss.map(s => charges(s.id))
        def mean(f: Charge => Long) = cs.map(f).sum.toDouble / ss.length
        def io(live: Span => Long, fromTasks: Charge => Long) =
          ss.zip(cs).map { case (s, c) => if (s.live) live(s) else fromTasks(c) }.sum
            .toDouble / ss.length / MB
        measure match {
          case "ms_p50" => out(key) = median(ss.map(_.ms))
          case "jobs" => out(key) = mean(_.jobs)
          case "read_mb" => out(key) = io(s => s.read1 - s.read0, _.inputBytes)
          case "write_mb" => out(key) = io(s => s.write1 - s.write0, _.outputBytes)
          case "shuffle_mb" => out(key) = mean(_.shuffleBytes) / MB
          case "task_s" => out(key) = mean(_.taskMs) / 1e3
          case _ =>
        }
      }
    }
    val opSpans = spans.filter(s => s.parent == 0 && s.name.startsWith("op."))
    val opCharges = opSpans.map(s => charges(s.id))
    out("sources.files_read_per_op") =
      opCharges.map(_.filesRead).sum.toDouble / math.max(opSpans.length, 1)
    // plan shape is judged over the SQL ops (those with a planning span)
    val sqlOps = spans.filter(_.name == "plans.plan").map(s => charges(s.parent))
    val nSql = math.max(sqlOps.length, 1).toDouble
    out("plans.metadata_only_frac") =
      sqlOps.count(c => c.executions > 0 && c.scanless == c.executions) / nSql
    out("plans.division_rewrite_frac") = sqlOps.count(_.division > 0) / nSql
    layerUnits.keys.map(k => k -> out.getOrElse(k, 0.0)).toMap
  }

  /** Files read per op charged by the tracer, by op id. */
  def filesReadByOp(tr: Tracer): Map[Int, Long] = {
    val (charges, _) = tr.charges()
    tr.allSpans.filter(s => s.parent == 0 && s.name.startsWith("op."))
      .map(s => s.op -> charges(s.id).filesRead).toMap
  }
}
