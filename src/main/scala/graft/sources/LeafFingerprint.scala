package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The listing guard for driver caches of table state (the survivor
  * manifest in [[ManifestedSink]], the prior-spent memo in
  * [[graft.streaming.BudgetGate]]): every leaf file under `dir` as
  * (path relative to `dir`, mtime, length), skipping `_`- and
  * `.`-prefixed names (commit markers, checksums, in-flight
  * `_temporary` output). One fs listing walk, no Spark job. Writers
  * publish uniquely named part files, so any out-of-band change — a
  * new or deleted partition, a part file rewritten in place — changes
  * the set, and a cache compared against it before every use falls
  * back to reading the table.
  */
object LeafFingerprint {

  def apply(spark: SparkSession, dir: String): Set[(String, Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(p: Path, rel: String): Iterator[(String, Long, Long)] =
      fs.listStatus(p).iterator
        .filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap { s =>
          val r = rel + s.getPath.getName
          if (s.isDirectory) leaves(s.getPath, r + "/")
          else Iterator((r, s.getModificationTime, s.getLen))
        }
    if (!fs.exists(root)) Set.empty else leaves(root, "").toSet
  }
}
