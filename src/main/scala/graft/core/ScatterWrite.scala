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
    val written = ArrayBuffer.empty[(Int, String)]
    byPart.keys.toVector.sorted.foreach { i =>
      val partFiles = byPart(i)
      val name =
        if (!fs.exists(new HPath(dir, nameOf(i)))) nameOf(i)
        else {
          // name slot already taken by a concurrent committer: land
          // under a disambiguated name (the sidecar lists file names
          // explicitly, so any name is valid)
          val base = nameOf(i).stripSuffix(".parquet")
          s"$base-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
        }
      if (partFiles.length == 1)
        GraftFs.moveOverwrite(fs, partFiles(0).getPath, new HPath(dir, name))
      else {
        // >1 file can only happen under speculative/retried tasks;
        // merge by reading back (rare, small).
        val merged = spark.read.parquet(partFiles.map(_.getPath.toString): _*)
        Sidecar.writeSingleParquet(merged, new HPath(dir, name).toString)
      }
      written += ((i, name))
    }
    written.toVector
  }
}
