package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-files compaction — the maintenance half of a micro-batch
  * writer. foreachBatch outputs and batch_id-partitioned commits (the
  * near-dup gate's state leaves) land files far below the
  * row-group/HDFS-block sweet spot; a directory of 50k tiny files
  * costs a task launch and a footer read each, per query, forever.
  * (NOT for `writeStream.format("parquet")` sink directories — those
  * carry a `_spark_metadata` transaction log that rewriting would
  * orphan; the subdirectory guard below rejects them.)
  * Compaction rewrites the directory into ~`targetBytes` files,
  * optionally re-sorted so parquet min/max stays tight (pair with
  * [[graft.operators.Layout.zorderBy]] / [[Manifest]] — rebuild the
  * manifest after compacting).
  *
  * Swap discipline: write to a sibling `.compact-tmp`, then the
  * rename dance (`dir` → `.compact-old`, tmp → `dir`, drop old).
  * Rename is atomic per step on HDFS-like stores; a reader can race
  * the swap window — this is exactly the gap table formats close with
  * manifest pointers, and why [[Manifest]]-routed readers re-list
  * after a compaction epoch. Crash recovery on the next call: a
  * leftover tmp is cleared, and a crash INSIDE the swap window (data
  * staged aside, replacement not yet published) is rolled back by
  * restoring `.compact-old` before anything else runs.
  *
  * Flat directories only: a dynamic-partitioned layout compacts
  * per-partition (call this on each leaf).
  */
object Compact {

  final case class Stats(
      filesBefore: Int, bytesBefore: Long, filesAfter: Int, rows: Long)

  private def leafFiles(fs: FileSystem, dir: Path): Seq[(Path, Long)] = {
    val it = fs.listFiles(dir, false)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        buf += ((f.getPath, f.getLen))
    }
    buf.toSeq
  }

  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil): Stats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(dir + ".compact-old")
    // Crashed mid-swap last time (dir staged aside, new dir never
    // published): roll the stage-aside back before touching anything.
    if (!fs.exists(path) && fs.exists(old))
      require(fs.rename(old, path), s"could not roll back staged $old")
    require(
      !fs.listStatus(path).exists(_.isDirectory),
      s"$dir has subdirectories — compact partitioned layouts per leaf")
    val before = leafFiles(fs, path)
    val bytes = before.map(_._2).sum
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

    val tmp = new Path(dir + ".compact-tmp")
    fs.delete(tmp, true); fs.delete(old, true) // clear crashed leftovers

    val df = spark.read.parquet(dir)
    val compacted =
      if (sortBy.isEmpty) df.repartition(parts)
      else df.repartitionByRange(parts, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    compacted.write.mode("overwrite").parquet(tmp.toString)
    val rows = spark.read.parquet(tmp.toString).count()

    require(fs.rename(path, old), s"could not stage $dir aside")
    require(fs.rename(tmp, path), s"could not publish compacted $dir")
    fs.delete(old, true)
    Stats(before.size, bytes, leafFiles(fs, path).size, rows)
  }
}
