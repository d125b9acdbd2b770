package graft.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Memoized configured session clones, one per (SparkContext, key) — the
  * single home of a pattern that had grown four copies (StreamDrive's
  * drive sessions, Cbo's stats session, RuntimeFilters' bloom session,
  * Skew's AQE session).
  *
  * `newSession()` is cheap but its LAZY SessionState is not — first use
  * rebuilds analyzer/optimizer/catalog (~0.2 s), so repeated callers
  * share one configured clone per key. Clones never mutate conf after
  * creation (everything is set in `configure`, keyed by the caller), and
  * SparkSession supports concurrent queries, so sharing is safe.
  *
  * Keyed by the SparkContext ITSELF (never an identity-hash string:
  * identity hashes are reusable after GC, and a reused hash could hand a
  * later suite a clone of a STOPPED context). The memoized sessions
  * strongly reference their context, so weak-key collection alone could
  * never fire (the WeakHashMap value-refers-to-key pitfall) — instead
  * stopped-context entries are swept explicitly on every access, which
  * both frees their SessionStates and guarantees a stopped context is
  * never handed out again.
  */
object Sessions {

  private val memo =
    new java.util.HashMap[SparkContext, TrieMap[String, SparkSession]]()

  /** The memoized clone for `key` under this session's context,
    * `configure`d exactly once at creation, then given graft's functions
    * and strategy ([[graft.GraftExtensions.install]]: `newSession()` does
    * not copy runtime registrations). Callers namespace their keys
    * (e.g. "drive|2|rocksdb", "cbo", "bloom") — one flat map per context.
    */
  def forContext(spark: SparkSession, key: String)(
      configure: SparkSession => Unit): SparkSession = {
    val perCtx = memo.synchronized {
      memo.entrySet().removeIf(e => e.getKey.isStopped)
      var m = memo.get(spark.sparkContext)
      if (m == null) {
        m = TrieMap.empty[String, SparkSession]
        memo.put(spark.sparkContext, m)
      }
      m
    }
    perCtx.getOrElseUpdate(key, {
      val ss = spark.newSession()
      configure(ss)
      graft.GraftExtensions.install(ss)
      ss
    })
  }
}
