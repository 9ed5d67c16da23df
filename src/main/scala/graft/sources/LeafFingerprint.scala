package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The listing guard for driver caches of table state, and the one
  * cache it guards.
  *
  * `apply` lists every leaf file under `dir` as (path relative to
  * `dir`, mtime, length), skipping `_`- and `.`-prefixed names
  * (commit markers, checksums, in-flight `_temporary` output). One fs
  * listing walk, no Spark job. Writers publish uniquely named part
  * files, so any out-of-band change — a new or deleted partition, a
  * part file rewritten in place — changes the set, and a cache
  * compared against it before every use falls back to reading the
  * table.
  *
  * [[cached]]/[[cache]] are that cache: one driver map for every value
  * derived from a directory's contents (the survivor manifest of
  * [[ManifestedSink]], the prior-spent memo of
  * [[graft.streaming.BudgetGate]], the footer schema of a catalog
  * table), keyed by (kind, dir), and for every value derived from one
  * immutable file ([[cachedFile]]/[[cacheFile]]: the dashboard's
  * per-file partials), keyed by (kind, path) and guarded by the
  * file's (mtime, len) and the schema it was read with. Its total
  * size is capped JVM-wide at `spark.graft.manifest.cacheMaxBytes`
  * (default 256 MB): past the cap the least recently used entries go,
  * so a long-lived JVM that streams into ever-new scratch dirs stays
  * bounded, and a miss only costs the read the cache saves.
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

  val CacheMaxBytesKey = "spark.graft.manifest.cacheMaxBytes"
  private val DefaultCacheMaxBytes = 256L << 20

  // fingerprint: a dir's leaf set, or a file's (mtime, len, schema)
  private final class Entry(val fingerprint: Any, val value: Any, val bytes: Long)

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[(String, String), Entry](16, 0.75f, true)
  private var totalBytes = 0L

  private def drop(key: (String, String)): Unit = {
    val e = entries.remove(key)
    if (e != null) totalBytes -= e.bytes
  }

  /** The value cached for (`kind`, `dir`) while `dir`'s fingerprint
    * still matches the one it was cached under; a stale entry is
    * dropped. Lists `dir` only when an entry exists.
    */
  def cached[V](spark: SparkSession, kind: String, dir: String): Option[V] =
    lookup(kind, dir, apply(spark, dir))

  /** Caches `value` (≈ `bytes` on the heap) for (`kind`, `dir`) under
    * `dir`'s current fingerprint, then evicts least-recently-used
    * entries until the total is within the cap. A value over the cap
    * on its own is not kept.
    */
  def cache(spark: SparkSession, kind: String, dir: String, value: Any, bytes: Long): Unit = {
    val fingerprint = apply(spark, dir)
    put(spark, kind, dir, fingerprint, value,
      bytes + fingerprint.iterator.map(f => 64L + 2L * f._1.length).sum)
  }

  /** The value cached for (`kind`, `file`'s path) while the file's
    * (mtime, len) and `schema` (the schema it is read with) match
    * those it was cached under; a stale entry is dropped. No listing:
    * `file` comes from the caller's own.
    */
  def cachedFile[V](kind: String, file: FileStatus, schema: String): Option[V] =
    lookup(kind, file.getPath.toString, (file.getModificationTime, file.getLen, schema))

  /** Caches `value` (≈ `bytes`) for (`kind`, `file`'s path) under the
    * file's (mtime, len) and `schema`, within the same cap as [[cache]].
    */
  def cacheFile(spark: SparkSession, kind: String, file: FileStatus, schema: String,
      value: Any, bytes: Long): Unit = {
    val path = file.getPath.toString
    put(spark, kind, path, (file.getModificationTime, file.getLen, schema), value,
      bytes + 64L + 2L * (path.length + schema.length))
  }

  private def lookup[V](kind: String, at: String, fingerprint: Any): Option[V] = {
    val key = (kind, at)
    entries.synchronized(Option(entries.get(key))).flatMap { e =>
      if (e.fingerprint == fingerprint) Some(e.value.asInstanceOf[V])
      else {
        entries.synchronized(if (entries.get(key) eq e) drop(key))
        None
      }
    }
  }

  private def put(spark: SparkSession, kind: String, at: String, fingerprint: Any,
      value: Any, size: Long): Unit = {
    val key = (kind, at)
    val cap = spark.conf.getOption(CacheMaxBytesKey).map(_.toLong).getOrElse(DefaultCacheMaxBytes)
    entries.synchronized {
      drop(key)
      if (size <= cap) {
        entries.put(key, new Entry(fingerprint, value, size))
        totalBytes += size
        val lru = entries.values.iterator
        while (totalBytes > cap) { totalBytes -= lru.next().bytes; lru.remove() }
      }
    }
  }

  /** Bytes held by the cache now. */
  private[graft] def cachedBytes: Long = entries.synchronized(totalBytes)

  /** Drops every cached value (a fresh JVM's state). */
  private[graft] def clearCache(): Unit = entries.synchronized { entries.clear(); totalBytes = 0L }
}
