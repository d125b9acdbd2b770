package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental aggregate maintenance — the dashboard-rollup discipline:
  * when a day of data arrives, the running totals are updated by merging
  * the NEW day's partial aggregate into a materialized partial-aggregate
  * store, never by rescanning history. At 100 TB this changes the daily
  * cost of a "total events by type" rollup from O(history) to O(day):
  * the store carries one row per (day, type) — kilobytes standing in for
  * the terabytes they summarize — and the merge is an aggregate over
  * store-rows ∪ block-partials.
  *
  * The store is a [[graft.util.Memo.dir]] entry keyed on events, and
  * the query plan provably scans the raw events table ONCE — for the
  * block days only (RollupSpec pins the single events scan). Works
  * because count/sum are commutative monoids; the same shape carries any
  * algebraic aggregate (avg = sum/count, variance via moments, distinct
  * via the bitmap/HLL sketches of `agg_bitmap_rollup`/`agg_hll_mergeable`).
  */
object Rollup {

  /** History/new-arrival boundary: days before the 25th are "history". */
  val SplitDate = "2024-01-25"

  /** Per-(day, type) partial aggregate of one events slice. */
  private def partials(events: DataFrame): DataFrame =
    events
      // ts.isNotNull is load-bearing, not just hygiene: a NULL-ts row
      // would fail BOTH split-date comparisons and silently vanish from
      // the merge while a date-blind oracle still counted it — the guard
      // (mirrored in the oracle SQL) makes the exclusion a stated
      // contract instead of an accident of the split predicate
      .filter(col("ts").isNotNull &&
        col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_ev"),
        sum(round(col("value") * 100).cast(LongType)).as("sum_cents"))

  /** All-time per-type totals = stored history partials ⊕ the new block's
    * partials — the raw table is only scanned for block days.
    */
  def rollupIncremental(t: Tables): DataFrame = {
    val split = lit(SplitDate).cast(DateType)
    val path = graft.util.Memo.dir(graft.util.Memo.Key("rollup_store", t.sfDir, "events")) { p =>
      partials(t.events.filter(to_date(col("ts")) < split)).write.parquet(p.toString)
    }
    val store = t.spark.read.parquet(path.toString)
    val block = partials(t.events.filter(to_date(col("ts")) >= split))
    store.unionByName(block)
      .groupBy("event_type")
      .agg(sum(col("n_ev")).as("n_ev"), sum(col("sum_cents")).as("sum_cents"),
        count(lit(1)).cast(LongType).as("n_day_type_partials"))
      .orderBy("event_type")
  }
}
