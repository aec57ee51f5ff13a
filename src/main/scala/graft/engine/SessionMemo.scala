package graft.engine

import org.apache.spark.sql.SparkSession

/** Session-scoped memo of derived metadata (encoded chunk Datasets,
  * at-rest scratch copies, sizing counts, chunk-set fingerprints): a
  * session derives each value once and reads it many times; nothing
  * persists across JVMs.
  *
  * Entries are keyed by (applicationId, key) and carry the
  * [[SessionMemo.stamp]] of the input `path` they were derived from.
  * Every lookup first evicts the entries of other applications (a
  * stopped session's values must not stay pinned in a long-lived JVM)
  * and the entry under `key` if its stamp changed (a fixture
  * regenerated at the same path); `release` runs exactly once on each
  * evicted value. A path that cannot be stamped (stamp 0) is never
  * served from the memo: every call recomputes and releases the
  * previous call's value.
  *
  * Lookups are serialized per memo, compute included, so concurrent
  * callers of one key share one value instead of each deriving (and
  * leaking) their own.
  */
final class SessionMemo[K, V](release: V => Unit) {
  private val entries = scala.collection.mutable.HashMap.empty[(String, K), (Long, V)]

  def apply(s: SparkSession, path: String, key: K)(compute: => V): V =
    lookup(s.sparkContext.applicationId, path, key)(compute)

  /** [[apply]] by application id, for tests without a SparkContext. */
  private[engine] def lookup(appId: String, path: String, key: K)(compute: => V): V =
    synchronized {
      val stamp = SessionMemo.stamp(path)
      val dead = entries.filter { case ((a, k), (st, _)) =>
        a != appId || (k == key && (st != stamp || stamp == 0L))
      }
      dead.keys.foreach(entries.remove)
      dead.values.foreach { case (_, v) => release(v) }
      entries.getOrElseUpdate((appId, key), (stamp, compute))._2
    }
}

object SessionMemo {

  /** Deep content stamp of a local file or directory tree: every
    * file's name, mtime and length, folded in name order. A missing
    * path, or a non-local one (`hdfs://…` is no local file), stamps 0.
    *
    * Precondition: parquet files are immutable once committed. Every
    * append, compaction, overwrite or fixture regeneration adds,
    * removes or replaces files (Spark names each part file with a fresh
    * UUID), which changes the stamp. A file rewritten in place with the
    * same name and length within one mtime tick keeps its stamp and is
    * served stale; no writer in this engine does that.
    */
  def stamp(path: String): Long = {
    def mix(acc: Long, v: Long): Long = acc * 1099511628211L ^ v
    def fold(acc: Long, f: java.io.File): Long = {
      val a = mix(acc, f.getName.hashCode.toLong)
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).foldLeft(a)(fold)
      else mix(mix(a, f.lastModified()), f.length())
    }
    val f = new java.io.File(path)
    if (!f.exists()) 0L else fold(-3750763034362895579L, f) // FNV-1a offset basis
  }
}
