package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import Lex.Bound

/** Per-partition statistics: row count + null-first lexicographic
  * min/max of the index-column tuple.
  *
  * The lex-min of a partition equals its first row under
  * `ORDER BY idx ASC NULLS FIRST` and the lex-max its first row under
  * `ORDER BY idx DESC NULLS LAST` (reference kernels: padawan
  * `dataset.py:12-48`). Rather than sorting, each computation here is a
  * single narrow pass: `mapPartitions` keeps a running (count, min, max)
  * per Spark task and the driver reduces task results — no shuffle, no
  * full sort, scales linearly with input and parallelizes across all
  * executor slots.
  */
object Stats {

  final case class PartStats(size: Long, lb: Bound, ub: Bound)

  /** Stats for one logical partition (one job, one pass, no shuffle). */
  def forDF(df: DataFrame, indexCols: Seq[String]): PartStats = {
    if (indexCols.isEmpty)
      return PartStats(df.count(), Lex.emptyBound, Lex.emptyBound)
    val n = indexCols.length
    val partial = df
      .select(indexCols.map(col): _*)
      .rdd
      .mapPartitions { it =>
        var cnt = 0L
        var mn: Bound = null
        var mx: Bound = null
        while (it.hasNext) {
          val row = it.next()
          val b: Bound = (0 until n).map(j => Option(row.get(j))).toVector
          if (mn == null) { mn = b; mx = b }
          else {
            if (Lex.lexCmp(b, mn) < 0) mn = b
            if (Lex.lexCmp(b, mx) > 0) mx = b
          }
          cnt += 1L
        }
        if (cnt == 0L) Iterator.empty else Iterator.single((cnt, mn, mx))
      }
      .collect()
    if (partial.isEmpty) PartStats(0L, null, null)
    else
      partial.reduce { (a, b) =>
        (a._1 + b._1, Lex.lexMin(a._2, b._2), Lex.lexMax(a._3, b._3))
      } match { case (c, mn, mx) => PartStats(c, mn, mx) }
  }

  /** Stats for many parquet files in ONE job: read them as a single
    * relation, track running stats per file inside each task, reduce on
    * the driver. Keyed by NORMALIZED FULL PATH (see [[normalizePath]]) —
    * basenames collide after `concat` of two persisted datasets, whose
    * part files share names across directories. Files yielding no rows
    * are absent from the result.
    */
  def forFiles(
      spark: SparkSession,
      files: Seq[String],
      indexCols: Seq[String],
      schemaHint: Option[StructType],
      format: String = "parquet"): Map[String, PartStats] = {
    if (files.isEmpty) return Map.empty
    val n = indexCols.length
    var reader = spark.read.format(format)
    schemaHint.foreach(s => reader = reader.schema(s))
    if (format == "csv") reader = reader.option("header", "true")
    val df = reader.load(files: _*)
    val projected =
      if (indexCols.isEmpty) df.select(input_file_name().as("__graft_file"))
      else df.select(
        (input_file_name().as("__graft_file") +: indexCols.map(col)): _*)
    val partial = projected.rdd
      .mapPartitions { it =>
        // Accumulate by the raw input_file_name string (one canonical
        // form per file within a job); normalize once on the driver.
        val acc = mutable.HashMap.empty[String, (Long, Bound, Bound)]
        while (it.hasNext) {
          val row = it.next()
          val fname = row.getString(0)
          val b: Bound =
            if (n == 0) Lex.emptyBound
            else (0 until n).map(j => Option(row.get(j + 1))).toVector
          acc.get(fname) match {
            case None => acc.update(fname, (1L, b, b))
            case Some((c, mn, mx)) =>
              acc.update(fname, (c + 1L, Lex.lexMin(mn, b), Lex.lexMax(mx, b)))
          }
        }
        acc.iterator
      }
      .collect()
    val merged = mutable.HashMap.empty[String, (Long, Bound, Bound)]
    partial.foreach { case (raw, (c, mn, mx)) =>
      val f = normalizePath(raw)
      merged.get(f) match {
        case None => merged.update(f, (c, mn, mx))
        case Some((c0, mn0, mx0)) =>
          merged.update(f, (c0 + c, Lex.lexMin(mn0, mn), Lex.lexMax(mx0, mx)))
      }
    }
    merged.map { case (f, (c, mn, mx)) => f -> PartStats(c, mn, mx) }.toMap
  }

  /** Canonical key for a file: `scheme://authority/absolute/path` (for
    * the local FS, `file:` + absolute path). `input_file_name()` yields
    * a full, possibly percent-encoded URI (`file:///a/b%20c.parquet`)
    * while driver-side callers hold plain paths (`/a/b c.parquet`) —
    * both normalize to the same key. Scheme and authority are KEPT:
    * `s3a://a/x/part0` and `s3a://b/x/part0` are different files and
    * must not collide to one stats entry; `toAbsolutePath` (driver CWD)
    * applies only to scheme-less local paths. */
  def normalizePath(pathOrUri: String): String = {
    def local(raw: String): String =
      "file:" + (
        try java.nio.file.Paths.get(raw).toAbsolutePath.normalize.toString
        catch { case _: java.nio.file.InvalidPathException => raw })
    val uriOpt =
      if (pathOrUri.contains(":/"))
        try Option(new java.net.URI(pathOrUri)).filter(_.getScheme != null)
        catch { case _: java.net.URISyntaxException => None }
      else None
    uriOpt match {
      case Some(u) if u.getScheme == "file" =>
        local(Option(u.getPath).getOrElse(pathOrUri))
      case Some(u) =>
        val auth = Option(u.getAuthority).getOrElse("")
        val path = Option(u.normalize().getPath).getOrElse("")
        s"${u.getScheme}://$auth$path"
      case None => local(pathOrUri)
    }
  }

  /** Run per-partition stats jobs concurrently (Spark schedules
    * concurrent jobs from multiple driver threads; analogue of the
    * reference's multiprocessing fan-out, padawan `parallelize.py:24-61`).
    */
  def forParts(
      parts: IndexedSeq[() => DataFrame],
      indexCols: Seq[String]): IndexedSeq[PartStats] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
      r => { val t = new Thread(r, "graft-stats"); t.setDaemon(true); t })
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val futs = parts.map(p => Future(forDF(p(), indexCols)))
      futs.map(f => Await.result(f, Duration.Inf))
    } finally pool.shutdown()
  }
}
