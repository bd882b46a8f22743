package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui._

/** Storage I/O as Hadoop's per-scheme FileSystem statistics count it:
  * every byte a table read or write moves, on the driver or in a task
  * (shuffle and spill files bypass Hadoop and are not counted). */
object Io {
  private def all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
  def read: Long = all.map(_.getBytesRead).sum
  def written: Long = all.map(_.getBytesWritten).sum
}

/** A timed interval around one public graft call (or one operation,
  * or one streaming micro-batch). `parent` is 0 for a root span. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val startNs: Long, val startMs: Long, val read0: Long, val write0: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var read1: Long = read0
  var write1: Long = write0
  /** False for a span recorded after the fact: it has no storage
    * counters, and its I/O is taken from its tasks' metrics instead. */
  var live = true
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the Spark listener saw, charged to a span afterwards. */
final class Charge {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var executions = 0L
  var filesRead = 0L
  var scanless = 0L
  var division = 0L
  def add(o: Charge): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleBytes += o.shuffleBytes; executions += o.executions
    filesRead += o.filesRead; scanless += o.scanless; division += o.division
  }
}

/** Span recorder plus a SparkListener, both off unless `enabled`.
  *
  * The benchmark is a closed loop with one client thread, so every
  * job or SQL execution that starts while a span is open belongs to
  * that span. Each span sets a job group before its call; a job whose
  * group names a span it started inside of is charged to that span.
  * Jobs submitted from graft's pooled threads can carry a stale group
  * (pool threads copy the local properties of the thread that created
  * them), and streaming jobs carry the query's group; those are
  * charged to the innermost span open at their submission time. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  var currentOp = 0
  // nanoseconds spent in this class's own bookkeeping, on the client
  // thread and in the listener callbacks: the tracing overhead
  private val selfNanos = new java.util.concurrent.atomic.AtomicLong
  def selfSeconds: Double = selfNanos.get / 1e9
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfNanos.addAndGet(System.nanoTime() - t0)
  }

  private final case class JobEv(id: Int, timeMs: Long, group: Option[String])
  private final class ExecEv(val id: Long, val timeMs: Long, val group: Option[String]) {
    var fileMetricIds = Set.empty[Long]
    var hasScan = false
    var hasDivision = false
    val accum = mutable.Map.empty[Long, Long]
  }
  private val jobs = mutable.ArrayBuffer.empty[JobEv]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAcc = mutable.Map.empty[Int, Charge]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecEv]

  private def walk(p: SparkPlanInfo): Iterator[SparkPlanInfo] =
    Iterator.single(p) ++ p.children.iterator.flatMap(walk)

  // Every table read plans a scan node; graft's division rewrites plan
  // a DivisionJoin node, or (agg/window/sort) a Union of per-division
  // branches. The benchmark's queries contain no UNION of their own,
  // so a Union in an executed plan marks a division rewrite.
  private def notePlan(e: ExecEv, p: SparkPlanInfo): Unit = {
    val nodes = walk(p).toSeq
    e.hasScan = nodes.exists(n => n.nodeName.startsWith("Scan") ||
      n.nodeName.contains("BatchScan") || n.nodeName.contains("FileScan"))
    e.hasDivision = nodes.exists(n =>
      n.nodeName.contains("Division") || n.nodeName == "Union")
    e.fileMetricIds ++= nodes.iterator.flatMap(_.metrics)
      .filter(_.name == "number of files read").map(_.accumulatorId)
  }

  private val listener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = timed(Tracer.this.synchronized {
      val g = Option(ev.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      jobs += JobEv(ev.jobId, ev.time, g)
      ev.stageIds.foreach(s => stageJob(s) = ev.jobId)
    })
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = timed(Tracer.this.synchronized {
      val m = ev.taskMetrics
      if (m != null) {
        val c = stageAcc.getOrElseUpdate(ev.stageId, new Charge)
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    })
    override def onOtherEvent(ev: SparkListenerEvent): Unit = timed(Tracer.this.synchronized {
      ev match {
        case s: SparkListenerSQLExecutionStart =>
          val e = new ExecEv(s.executionId, s.time, s.jobGroupId)
          notePlan(e, s.sparkPlanInfo)
          execs(s.executionId) = e
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          execs.get(u.executionId).foreach(notePlan(_, u.sparkPlanInfo))
        case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
          execs.get(u.executionId).foreach(e => e.fileMetricIds ++=
            u.sqlPlanMetrics.filter(_.name == "number of files read")
              .map(_.accumulatorId))
        case d: SparkListenerDriverAccumUpdates =>
          execs.get(d.executionId).foreach(e =>
            d.accumUpdates.foreach { case (id, v) => e.accum(id) = v })
        case _ =>
      }
    })
  }

  private var attached = false
  /** Attach the listener, if tracing is enabled. */
  def start(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener); attached = true
  }

  /** Wait until the listener has seen every event posted so far. */
  def stop(): Unit = if (attached) {
    org.apache.spark.GraftBenchBus.drain(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  def span[T](name: String)(body: => T): T = {
    if (!attached) return body
    val s = timed {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0),
        currentOp, name, System.nanoTime(), System.currentTimeMillis(),
        Io.read, Io.written)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"gb-${s.id}", name, interruptOnCancel = false)
      s
    }
    try body
    finally timed {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.read1 = Io.read
      s.write1 = Io.written
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"gb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span known only after the fact (a streaming micro-batch, from
    * its progress report), nested in the root span of op `op`. */
  def addSpan(name: String, op: Int, startMs: Long, durMs: Long): Unit =
    if (attached) {
      val parent = spans.find(p => p.op == op && p.parent == 0).map(_.id).getOrElse(0)
      val s = new Span(nextId, parent, op, name, startMs * 1000000L, startMs, 0L, 0L)
      s.endNs = (startMs + durMs) * 1000000L
      s.endMs = startMs + durMs
      s.live = false
      nextId += 1
      spans += s
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Charge every recorded job and SQL execution to a span; returns
    * each span's inclusive charge (its own plus its descendants'), and
    * the charge no span claimed. */
  def charges(): (Map[Int, Charge], Charge) = synchronized {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    val depth = mutable.Map.empty[Int, Int]
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent == 0) 0 else 1 + depthOf(byId(s.parent)))
    def inside(s: Span, t: Long) = s.startMs - 1 <= t && t <= s.endMs + 1
    def owner(t: Long, group: Option[String]): Option[Span] =
      group.filter(_.startsWith("gb-"))
        .flatMap(g => g.drop(3).toIntOption).flatMap(byId.get)
        .filter(inside(_, t))
        .orElse {
          val hits = spans.filter(inside(_, t))
          if (hits.isEmpty) None else Some(hits.maxBy(s => (depthOf(s), s.startMs)))
        }
    val own = mutable.Map.empty[Int, Charge]
    val lost = new Charge
    def target(o: Option[Span]) = o.map(s => own.getOrElseUpdate(s.id, new Charge)).getOrElse(lost)
    val jobCharge = mutable.Map.empty[Int, Charge]
    jobs.foreach { j =>
      val c = target(owner(j.timeMs, j.group))
      c.jobs += 1
      jobCharge(j.id) = c
    }
    stageAcc.foreach { case (stage, acc) =>
      val c = stageJob.get(stage).flatMap(jobCharge.get).getOrElse(lost)
      c.tasks += acc.tasks; c.taskMs += acc.taskMs
      c.inputBytes += acc.inputBytes; c.outputBytes += acc.outputBytes
      c.shuffleBytes += acc.shuffleBytes
    }
    execs.values.foreach { e =>
      val c = target(owner(e.timeMs, e.group))
      c.executions += 1
      c.filesRead += e.fileMetricIds.toSeq.flatMap(e.accum.get).sum
      if (!e.hasScan) c.scanless += 1
      if (e.hasDivision) c.division += 1
    }
    val incl = mutable.Map.empty[Int, Charge]
    spans.foreach(s => incl(s.id) = new Charge)
    own.foreach { case (id, c) =>
      var cur: Option[Span] = byId.get(id)
      while (cur.isDefined) {
        incl(cur.get.id).add(c)
        cur = byId.get(cur.get.parent)
      }
    }
    (incl.toMap, lost)
  }
}
