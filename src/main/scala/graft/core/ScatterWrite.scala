package graft.core

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer

/** One-shuffle scatter write shared by [[PDataset.writeParquet]] (one
  * call, whatever tagger the dataset's shape picks) and the
  * table-maintenance rewrites ([[graft.operators.Maintenance]]):
  * shuffle a tagged frame once,
  * let the parquet sink write every partition in parallel, then move
  * each part's lone file into place — same-FS renames, never a copy.
  * The move ([[place]]) also serves the `graft` sink's append.
  */
private[graft] object ScatterWrite {

  /** Shuffle `tagged` (carries an int column `__part`) once and write
    * one file per non-empty partition under `dir` as nameOf(i).
    * Returns the (partition index, file name) pairs actually written.
    * With `orderCols` set, rows are restored to that ordering within
    * each target partition before the sink; `dropOrderCols` controls
    * whether those columns are synthetic (dropped from the output) or
    * data columns (kept). `renames` (logical → PHYSICAL, from
    * metadata-only RENAME COLUMN) applies last, so rewritten files
    * carry the same on-disk names as the files they replace.
    * An existing file at a target name is never overwritten: a
    * concurrent committer that allocated the same name slot (both
    * planned from the same maxPartitionIndex) keeps its file, and
    * this write lands under a disambiguated name — the returned
    * (index, ACTUAL name) pairs are what callers must register.
    */
  def partFiles(
      spark: SparkSession,
      tagged: DataFrame,
      nparts: Int,
      fs: FileSystem,
      dir: HPath,
      stage: HPath,
      nameOf: Int => String,
      orderCols: Seq[String] = Nil,
      dropOrderCols: Boolean = true,
      renames: Map[String, String] = Map.empty):
      IndexedSeq[(Int, String)] = {
    val shuffled = tagged.repartition(nparts, col("__part"))
    val sorted =
      if (orderCols.isEmpty) shuffled
      else {
        val s = shuffled.sortWithinPartitions(orderCols.map(col): _*)
        if (dropOrderCols) s.drop(orderCols: _*) else s
      }
    val ordered =
      if (renames.isEmpty) sorted else sorted.withColumnsRenamed(renames)
    ordered
      .write
      .partitionBy("__part")
      .option("compression", "zstd")
      .mode("overwrite")
      .parquet(stage.toString)
    // ONE recursive listing of the stage (a flat paginated LIST on
    // object stores) finds every written partition — never a probe
    // per slot, so a rewrite of k files pays O(k) driver RPCs
    // regardless of the tag-space width.
    val byPart = GraftFs.listAllFiles(fs, stage)
      .filter { st =>
        val parent = st.getPath.getParent
        st.getPath.getName.endsWith(".parquet") &&
          parent != null && parent.getName.startsWith("__part=")
      }
      .groupBy(_.getPath.getParent.getName.stripPrefix("__part=").toInt)
    place(spark, fs, byPart.toVector.sortBy(_._1).map { case (i, sts) =>
      i -> sts.map(_.getPath) }, dir, nameOf)
  }

  /** The placement half of [[partFiles]], shared with the `graft`
    * sink's append: move each group of staged files into `dir` as
    * `nameOf(slot)` and return the (slot, ACTUAL name) pairs. A name
    * already taken (a concurrent committer planned from the same
    * maxPartitionIndex) is never overwritten: the group lands under a
    * disambiguated name instead, since the sidecar lists file names
    * explicitly. A group is normally one file (a same-FS rename, never
    * a copy); more than one can only come from speculative or retried
    * tasks and is merged by reading it back (rare, small). */
  def place(
      spark: SparkSession,
      fs: FileSystem,
      groups: Seq[(Int, Seq[HPath])],
      dir: HPath,
      nameOf: Int => String): IndexedSeq[(Int, String)] = {
    val written = ArrayBuffer.empty[(Int, String)]
    groups.foreach { case (i, files) =>
      val name =
        if (!fs.exists(new HPath(dir, nameOf(i)))) nameOf(i)
        else {
          val base = nameOf(i).stripSuffix(".parquet")
          s"$base-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
        }
      if (files.length == 1)
        GraftFs.moveOverwrite(fs, files.head, new HPath(dir, name))
      else {
        val merged = spark.read.parquet(files.map(_.toString): _*)
        Sidecar.writeSingleParquet(merged, new HPath(dir, name).toString)
      }
      written += ((i, name))
    }
    written.toVector
  }
}
