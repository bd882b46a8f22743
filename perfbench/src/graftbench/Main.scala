package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its result file.
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <cpus> <workDir> <resultFile>
  *
  * The first set-up is followed by the untimed warm-up rounds, and the
  * last set-up by one timed phase. With trace = 0 it is untraced and gives the end-to-end
  * metrics. With trace = 1 it is traced and gives the per-layer
  * metrics; the tracer's own time, as a share of the phase, is
  * reported as the tracing overhead, and its end-to-end metrics set
  * beside an untraced run's show what tracing costs end to end. perfbench/run.py is
  * the entry point that builds, launches and reports. */
object Main {
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    // exit explicitly: a stray non-daemon thread must not keep the JVM up
    val rc = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(rc)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpus, workDir, resultFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val wall0 = System.nanoTime()
    val cpu0 = procCpuS
    val load0 = loadAvg
    val steal0 = stealS
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      // parquet's vectored reads bypass Hadoop's FileSystem statistics;
      // with them off, every byte a scan reads is counted
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - wall0) / 1e9

    val tr = new Tracer(spark, trace)
    val wl: Workload = workload match {
      case "reads" => new Reads(spark, seed, seconds)
      case "writes" => new Writes(spark, seed, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.tr = tr

    def setUp(rep: Int): Double = {
      val t0 = System.nanoTime()
      wl.setup(s"$workDir/setup$rep")
      val s = (System.nanoTime() - t0) / 1e9
      if (rep > 1) Gen.rmrf(Paths.get(s"$workDir/setup${rep - 1}"))
      s
    }

    // The untimed warm-up rounds run on the first set-up's tables, and
    // their ops are checked too; the next set-up then gives the JIT
    // time to finish compiling what the warm-up made hot.
    val first = setUp(1)
    val ops = ArrayBuffer.empty[OpRec]
    val warmupS = wl.phase(tr, wl.warmupRounds, "warmup", ops)
    wl.verify(ops.toSeq)
    val setupS = first +: (2 to SetupReps).map(setUp)
    // The timed phase, on the last set-up's tables; traced runs record
    // spans and listener events during it.
    val label = if (trace) "traced" else "untraced"
    tr.start()
    val gc0 = gcMs
    val read0 = Io.read
    val written0 = Io.written
    val timed = ArrayBuffer.empty[OpRec]
    val phaseS = wl.phase(tr, wl.timedRounds, label, timed)
    val phaseRead = Io.read - read0
    val phaseWritten = Io.written - written0
    val gcS = (gcMs - gc0) / 1e3
    tr.stop()
    val retainedMb = retainedHeapMb
    wl.verify(timed.toSeq)
    ops ++= timed

    val e2e = Metrics.endToEnd(timed.toSeq, phaseS, setupS, phaseRead, phaseWritten, retainedMb)
    val layer =
      if (trace) Metrics.perLayer(tr) ++ wl.layerExtras(timed.toSeq) ++ Map(
        "spark.gc_s" -> gcS,
        "jvm.peak_rss_mb" -> Metrics.peakRssMb,
        "bench.trace_overhead_frac" -> tr.selfSeconds / phaseS)
      else Map.empty[String, Double]
    val failed = ops.count(!_.ok)
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$cpus]",
      "load_avg_1m_start" -> load0,
      "load_avg_1m_end" -> loadAvg,
      "process_cpu_s" -> (procCpuS - cpu0),
      // CPU time the hypervisor gave to other guests, over all CPUs
      "cpu_steal_s" -> (stealS - steal0),
      "wall_s" -> (System.nanoTime() - wall0) / 1e9,
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "session_start_s" -> sessionS,
      "setup_s_each" -> setupS,
      "warmup_s" -> warmupS,
      "phase_s" -> phaseS,
      // jobs the tracer could charge to no span (0 when attribution is whole)
      "trace_unattributed_jobs" -> (if (trace) tr.charges()._2.jobs else 0L))
    val result = scala.collection.immutable.ListMap[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "correct" -> (failed == 0 && ops.nonEmpty),
      "attempted" -> ops.length,
      "failed" -> failed,
      "end_to_end" -> e2e,
      "per_layer" -> scala.collection.immutable.TreeMap(layer.toSeq.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Metrics.layerUnits(k)) }: _*),
      "env" -> env,
      "inputs" -> wl.inputs,
      "failures" -> ops.filter(!_.ok).take(20).map(o =>
        Map("op" -> o.id, "kind" -> o.kind, "note" -> o.note)),
      "ops" -> ops.map(o => scala.collection.immutable.ListMap(
        "id" -> o.id, "kind" -> o.kind, "phase" -> o.phase, "ms" -> o.ms,
        "rows" -> o.rows, "read_bytes" -> o.readBytes,
        "write_bytes" -> o.writeBytes, "ok" -> o.ok)))
    if (trace) {
      val spanFile = resultFile.stripSuffix(".json") + "-spans.jsonl"
      val (charges, _) = tr.charges()
      Files.write(Paths.get(spanFile), tr.allSpans.map { s =>
        val c = charges(s.id)
        json.writeValueAsString(scala.collection.immutable.ListMap(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ms" -> s.ms,
          "read_bytes" -> (s.read1 - s.read0), "write_bytes" -> (s.write1 - s.write0),
          "jobs" -> c.jobs, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
          "shuffle_bytes" -> c.shuffleBytes, "files_read" -> c.filesRead))
      }.asJava)
    }
    wl.close()
    Files.write(Paths.get(resultFile), json.writeValueAsBytes(result))
    spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** What the driver still holds after the workload, in MB: the heap in
    * use after full collections. Spark's ContextCleaner frees broadcast
    * and shuffle state only once a collection has found it unreachable,
    * so collect until the figure settles. Untimed. */
  private def retainedHeapMb: Double = {
    def collected(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var last = collected()
    var tries = 0
    var settled = false
    while (!settled && tries < 5) {
      Thread.sleep(300)
      val now = collected()
      settled = math.abs(now - last) < 1.0
      last = now
      tries += 1
    }
    last
  }

  private def procCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }
  /** Steal time of all CPUs from /proc/stat, in seconds (USER_HZ = 100). */
  private def stealS: Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  } catch { case _: java.io.IOException => 0.0 }
  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
