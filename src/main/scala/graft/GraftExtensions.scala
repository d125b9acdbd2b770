package graft

import org.apache.spark.sql.{GraftPlanBridge, SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions entry point: enables
  * `--conf spark.sql.extensions=graft.GraftExtensions` so SQL users get
  * the engine's native functions (`graft_dot`, …) without touching Scala.
  * [[graft.util.GraftSession]] sets it. A session created without it gets
  * the functions and the as-of strategy from [[GraftExtensions.install]]
  * when it first reaches [[Tables]], and every [[graft.util.Sessions]]
  * clone gets them on creation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.VectorExpressions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectPlannerStrategy(_ => plans.AsOfStrategy)
    // exact bitmap rewrite of integer COUNT(DISTINCT) aggregates —
    // conf-gated (spark.graft.bitmapCountDistinct.enabled)
    ext.injectOptimizerRule(_ => plans.BitmapDistinctRewrite)
    // SQL MERGE INTO on the manifest store → the merge-on-read commit
    // (post-hoc: Spark's own row-level rewrite skips non-row-level
    // tables, leaving the resolved MergeIntoTable for this rule)
    ext.injectPostHocResolutionRule(s => plans.ManifestMergeRule(s))
    // SQL UPDATE on the manifest store → bounded read-modify-write
    // through the same one-version merge commit
    ext.injectPostHocResolutionRule(s => plans.ManifestUpdateRule(s))
  }
}

object GraftExtensions {

  /** Registers the graft_* functions and the as-of planner strategy on a
    * running session: the runtime half of the extension, for sessions
    * built without it. Idempotent. Called where sessions enter the engine,
    * [[Tables.sessionMemo]] and [[graft.util.Sessions.forContext]], so no
    * operator registers anything itself.
    */
  def install(spark: SparkSession): Unit = {
    functions.VectorExpressions.register(spark)
    GraftPlanBridge.addStrategy(spark, plans.AsOfStrategy)
  }
}
