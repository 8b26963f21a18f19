package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one session-scoped memo behind every derived artifact the engine
  * builds once and reuses: cached tables, the profile warehouse, trained
  * models, persisted index paths, skipping layouts. It is the Spark form
  * of the reference's materialized caches (`mv_scheme_<id>`,
  * `temp_isolate_scheme_fields_<id>`, `seqbin_stats`), which are built
  * once and reused until the data changes.
  *
  * Every artifact follows the same rules, whatever its value type:
  *   - Key: (session id, artifact name, the caller's key) — a structured
  *     key, so invalidating one artifact can never match another's.
  *   - Session id: the session's UUID, which a later session cannot
  *     reuse.
  *   - Eviction: each entry records its owning session, and every access
  *     drops the entries whose session's SparkContext has stopped.
  *   - Builds: each key is built at most once, under its own entry's lock
  *     and outside the map's, so builds may nest (a build may read other
  *     memos). A build that throws leaves no entry; the next call
  *     rebuilds.
  */
object SessionMemo {

  private final case class Key(session: String, artifact: String, key: Any)

  private final class Entry(val alive: () => Boolean) {
    var built = false
    var value: Any = _
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** The value of `artifact` at `key` for this session, built on first
    * use.
    */
  def apply[V](spark: SparkSession, artifact: String, key: Any)(
      build: => V): V =
    memo(sessionId(spark), () => !spark.sparkContext.isStopped,
      artifact, key)(build)

  /** Drop every session's entries of `artifact` whose key is `stale`. */
  def invalidate[K](artifact: String)(stale: K => Boolean): Unit = {
    sweep()
    entries.keySet.removeIf(k =>
      k.artifact == artifact && stale(k.key.asInstanceOf[K]))
  }

  /** How many of this session's entries of `artifact` have a key
    * matching `p`.
    */
  private[graft] def count[K](spark: SparkSession, artifact: String)(
      p: K => Boolean): Int =
    count(sessionId(spark), artifact)(p)

  /** [[apply]] with the owner given as an id and a liveness check, so a
    * spec can control when the owner dies.
    */
  private[graft] def memo[V](session: String, alive: () => Boolean,
      artifact: String, key: Any)(build: => V): V = {
    sweep()
    val k = Key(session, artifact, key)
    @annotation.tailrec
    def get(): V = {
      val e = entries.computeIfAbsent(k, _ => new Entry(alive))
      val got = e.synchronized {
        if (e.built) Some(e.value)
        // dropped before it was built (a failed build, an invalidation
        // or a sweep): start over on a fresh entry
        else if (entries.get(k) ne e) None
        else {
          try e.value = build
          catch { case t: Throwable => entries.remove(k, e); throw t }
          e.built = true
          Some(e.value)
        }
      }
      got match {
        case Some(v) => v.asInstanceOf[V]
        case None => get()
      }
    }
    get()
  }

  private[graft] def count[K](session: String, artifact: String)(
      p: K => Boolean): Int = {
    sweep()
    entries.keySet.asScala.count(k => k.session == session &&
      k.artifact == artifact && p(k.key.asInstanceOf[K]))
  }

  private def sweep(): Unit = entries.values.removeIf(!_.alive())

  private def sessionId(s: SparkSession): String =
    org.apache.spark.sql.graft.ColumnBridge.sessionUUID(s)
      .getOrElse(String.valueOf(System.identityHashCode(s)))
}
