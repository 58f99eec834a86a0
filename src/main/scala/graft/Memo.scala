package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one memo for values derived from tables: resolved table relations
  * ([[Tables.load]]), derived corpus indexes (checkpointed edge tables,
  * pair sets, centroids) and plan-side estimates ([[Fns.spread]]).
  *
  * Key: the session object, then `(id, roots)`. A checkpointed or
  * resolved value is bound to the session that built it, so sessions
  * never share an entry. `id` names the value and anything else it
  * depends on; `roots` are the table root paths it was built from.
  *
  * Freshness: each root is stamped with its (modification time, length)
  * BEFORE the build runs, and a hit needs the stamp to be unchanged. An
  * append or rewrite changes the root's stamp (a directory root gains or
  * loses entries, as every Spark write does through its `_temporary`
  * dir; a file root changes length or mtime), so the next call rebuilds
  * and the stale entry is replaced, not kept beside the new one. A write
  * racing a build leaves an older stamp and forces one more build, never
  * a stale hit. Limit: an edit that touches only a sub-directory of a
  * root, made outside Spark, changes no root stamp and is not seen. A
  * missing root stamps as absent, so a build that reads it fails with
  * the reader's own error.
  *
  * Builds run outside any map lock (get, build, put — never
  * `computeIfAbsent` around the build): builds nest (a cluster map
  * builds its pair set, a prepared graph its edge table), and a nested
  * `computeIfAbsent` on one shared map throws `IllegalStateException:
  * Recursive update`. Two racing callers may both build; either result
  * is correct. A build that throws stores nothing. A session's entries
  * are dropped when its SparkContext stops. */
object Memo {
  private final case class Entry(stamp: Seq[(Long, Long)], value: Any)

  private val entries =
    new ConcurrentHashMap[SparkSession,
      ConcurrentHashMap[(String, Seq[String]), Entry]]()

  /** The value memoized for (`spark`, `id`, `roots`), built by `build`
    * when absent or when a root's stamp changed. */
  def apply[V](spark: SparkSession, id: String, roots: Seq[String])(
      build: => V): V = {
    val byKey = entries.computeIfAbsent(spark, s => {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          entries.remove(s); ()
        }
      })
      new ConcurrentHashMap[(String, Seq[String]), Entry]()
    })
    val key = (id, roots)
    val stamp = roots.map(stampOf(spark, _))
    val hit = byKey.get(key)
    if (hit != null && hit.stamp == stamp) hit.value.asInstanceOf[V]
    else {
      // a stale value is dropped before the rebuild, even if that fails
      if (hit != null) byKey.remove(key, hit)
      val value = build
      byKey.put(key, Entry(stamp, value))
      value
    }
  }

  private def stampOf(spark: SparkSession, root: String): (Long, Long) = {
    val p = new Path(root)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      (st.getModificationTime, st.getLen)
    } catch { case _: java.io.FileNotFoundException => (-1L, -1L) }
  }
}
