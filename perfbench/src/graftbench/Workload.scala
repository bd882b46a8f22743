package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** What one operation returned: rows it processed and whether its
  * inline output check passed. */
final case class OpResult(rows: Long, ok: Boolean, note: String = "")

/** One operation of the closed loop; `run` may be called once. */
final case class Op(kind: String, run: () => OpResult)

/** A finished operation. `ok`/`note` may be revised by the workload's
  * post-phase checks. */
final class OpRec(val id: Int, val kind: String, val phase: String,
    val ms: Double, val rows: Long, val readBytes: Long, val writeBytes: Long,
    var ok: Boolean, var note: String) {
  def traced: Boolean = phase == "traced"
}

/** One workload: its set-up, its rounds of ops and its checks.
  * `seconds` sets how many rounds the timed phase runs. */
abstract class Workload(val spark: SparkSession, seconds: Double) {
  /** Set before set-up; spans are no-ops until it is started. */
  var tr: Tracer = _
  def span[T](name: String)(body: => T): T = tr.span(name)(body)

  /** Generate the inputs and write the fixture tables under `dir`.
    * Timed, and run several times: the warm-up phase runs on the
    * first set-up, the timed phase on the last. */
  def setup(dir: String): Unit

  /** Size and hash of every generated input of the last set-up. */
  def inputs: Seq[Map[String, Any]]

  /** The operations of round `r` of a phase (rounds are numbered from
    * 0 in each phase, which starts on a fresh set-up). */
  def round(r: Int): Seq[Op]

  /** Untimed rounds run before the timed phase, so that JIT and
    * Spark's codegen cache are warm for every op kind. */
  final val warmupRounds = 1

  /** How long one round takes on a 4-core machine. */
  def nominalRoundSeconds: Double

  /** Rounds of the timed phase: `seconds` over the nominal round time,
    * rounded, at least one. A fixed number of whole rounds, so that
    * every run times the same ops whatever the machine's speed. */
  final lazy val timedRounds: Int = math.max(1, math.round(seconds / nominalRoundSeconds).toInt)

  /** Untimed checks of one phase's ops, before the next set-up; may
    * mark ops failed. */
  def verify(ops: Seq[OpRec]): Unit = ()

  /** Workload-specific per-layer values of the traced phase's ops
    * (ratios the spans cannot give). */
  def layerExtras(ops: Seq[OpRec]): Map[String, Double] = Map.empty

  /** Run `rounds` rounds of ops in a closed loop with one client;
    * returns the elapsed seconds. */
  def phase(tr: Tracer, rounds: Int, label: String, out: ArrayBuffer[OpRec]): Double = {
    val t0 = System.nanoTime()
    for (r <- 0 until rounds; op <- round(r)) out += Workload.execute(tr, op, label)
    (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = ()

  // ---- helpers shared by the workloads ----

  private var obsId = 0

  /** Execute `df` fully through the `noop` sink (as `graft.Bench`
    * does) and return its row count and checksum, observed in the
    * same pass. */
  def consume(df: DataFrame): (Long, Long) = {
    obsId += 1
    val obs = new Observation(s"graftbench_$obsId")
    val cs = Gen.checksumCols(df)
    df.observe(obs, cs.head, cs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }
}

object Workload {
  private var nextOp = 0

  def execute(tr: Tracer, op: Op, phase: String): OpRec = {
    nextOp += 1
    tr.currentOp = nextOp
    val r0 = Io.read
    val w0 = Io.written
    val t0 = System.nanoTime()
    val res =
      try tr.span("op." + op.kind)(op.run())
      catch { case NonFatal(e) => OpResult(0L, ok = false, s"threw: $e") }
    val ms = (System.nanoTime() - t0) / 1e6
    new OpRec(nextOp, op.kind, phase, ms, res.rows, Io.read - r0,
      Io.written - w0, res.ok, res.note)
  }
}
