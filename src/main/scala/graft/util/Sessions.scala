package graft.util

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
  * SparkSession supports concurrent queries, so sharing is safe. The
  * clones live in [[Memo.inContext]], so a stopped context's clone is
  * never handed out again.
  */
object Sessions {

  /** The memoized clone for `key` under this session's context,
    * `configure`d exactly once at creation, then given graft's functions
    * and strategy ([[graft.GraftExtensions.install]]: `newSession()` does
    * not copy runtime registrations). Callers namespace their keys
    * (e.g. "drive|2|rocksdb", "cbo", "bloom") — one flat map per context.
    */
  def forContext(spark: SparkSession, key: String)(
      configure: SparkSession => Unit): SparkSession =
    Memo.inContext(spark, Memo.Key("session", "").and(key)) {
      val ss = spark.newSession()
      configure(ss)
      graft.GraftExtensions.install(ss)
      ss
    }
}
