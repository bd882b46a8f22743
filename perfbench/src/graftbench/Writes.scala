package graftbench

import org.apache.spark.sql.SparkSession

/** `writes`: the commit path and the streaming ingest path. Each round
  * runs the maintenance commits of [[CommitOps]] (the `operators`
  * layer's `Maintenance`, and the write half of `core`), then ingests
  * one micro-batch of [[IngestOps]] (the `streaming` layer, `Dedup` and
  * the shingle/minhash kernels of `functions`). Every op changes a
  * table, so graft's metadata caches keep missing. Each phase starts on
  * a fresh set-up, which stages inputs for as many rounds as a phase
  * runs. */
final class Writes(spark: SparkSession, seed: Long, seconds: Double)
    extends Workload(spark, seconds) {
  private val commits = new CommitOps(this, seed)
  private val ingest = new IngestOps(this, seed)

  /** Rounds set-up stages inputs for. */
  def stagedRounds: Int = math.max(warmupRounds, timedRounds)

  def setup(dir: String): Unit = {
    commits.setup(s"$dir/commits")
    ingest.setup(s"$dir/ingest")
  }
  def inputs: Seq[Map[String, Any]] = commits.inputs ++ ingest.inputs
  def nominalRoundSeconds: Double = 15.0

  def round(r: Int): Seq[Op] = commits.ops(r) ++ ingest.ops(r)

  override def verify(ops: Seq[OpRec]): Unit = {
    commits.verify(ops)
    ingest.verify(ops)
  }

  override def layerExtras(ops: Seq[OpRec]): Map[String, Double] = {
    val (cDir, cListed) = commits.space
    val (iDir, iListed) = ingest.space
    ingest.layerExtras(ops) ++ Map(
      "table.write_amp" -> ops.map(_.writeBytes).sum.toDouble /
        math.max(1L, commits.userDeltaBytes + ingest.userDeltaBytes),
      "table.space_amp" -> (cDir + iDir).toDouble / (cListed + iListed))
  }

  override def close(): Unit = ingest.close()
}
