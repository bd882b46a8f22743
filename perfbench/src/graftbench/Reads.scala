package graftbench

import org.apache.spark.sql.SparkSession

/** `reads`: read-only ops over fixed tables, through both of graft's
  * front doors. Each round runs the five PDataset operators of
  * [[CoreOps]] (the `core` layer) and the six SQL queries of [[SqlOps]]
  * (the `plans` and `sources` layers) once each, in a seeded order.
  * Op parameters that set the amount of work walk three-rung ladders
  * indexed by the round, so at 12 s the three timed rounds run every
  * rung. Nothing is written, so the commit path is bypassed. */
final class Reads(spark: SparkSession, seed: Long, seconds: Double)
    extends Workload(spark, seconds) {
  private val rnd = new scala.util.Random(seed)
  private val t = new LineitemTables(spark, seed)
  private val core = new CoreOps(this, t, rnd)
  private val sql = new SqlOps(this, t, seed)

  def setup(dir: String): Unit = {
    t.build(dir)
    sql.setup()
  }
  def inputs: Seq[Map[String, Any]] = t.inputs
  def nominalRoundSeconds: Double = 4.0
  def round(r: Int): Seq[Op] = rnd.shuffle(core.ops(r) ++ sql.ops(r))

  override def verify(ops: Seq[OpRec]): Unit = {
    core.verify(ops)
    sql.verify(ops)
  }
  override def layerExtras(ops: Seq[OpRec]): Map[String, Double] = sql.layerExtras(ops)
}
