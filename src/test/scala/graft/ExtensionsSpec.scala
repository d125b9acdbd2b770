package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The config-time extension path (`spark.sql.extensions=
  * graft.GraftExtensions`) must give SQL users the graft_* functions and
  * the as-of planner strategy with no programmatic registration.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSessionFixture {

  test("GraftExtensions injects functions and the as-of strategy") {
    val base = spark // force the shared session (and its context) up first
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // spark.sql.extensions is a STATIC conf — it can't take effect on a
      // shared test SparkContext — so reproduce the config path's
      // reflection contract explicitly: instantiate by NAME with a
      // zero-arg constructor and the Function1[SparkSessionExtensions,
      // Unit] shape, exactly what spark-submit's conf handling requires.
      val byName = Class.forName("graft.GraftExtensions")
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(byName)
        .getOrCreate()
      assert(s2 ne base, "extensions require a freshly-built session")
      // Functions available from pure SQL:
      val r = s2.sql(
        """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       graft_jaccard(array('a'), array('a', 'b')) AS j""".stripMargin).head
      assert(r.getDouble(0) == 11.0)
      assert(r.getDouble(1) == 0.5)
      // Planner strategy from the extension alone (the install that
      // Tables runs adds none to a planner that has it): build the
      // logical node directly.
      val t = Tables(s2, "/root/testdata/sf0.001")
      val p = t.events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val s = t.events.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      val lPlan = p.queryExecution.analyzed
      val rPlan = s.queryExecution.analyzed
      val node = graft.plans.AsOfJoinPlan(
        lPlan, rPlan,
        Seq(lPlan.output.find(_.name == "user_id").get),
        Seq(rPlan.output.find(_.name == "s_user").get),
        lPlan.output.find(_.name == "ts").get,
        rPlan.output.find(_.name == "s_ts").get,
        None)
      val n = org.apache.spark.sql.GraftPlanBridge.ofRows(s2, node).count()
      assert(n > 0)

      // Injected optimizer rule: integer COUNT(DISTINCT) rewrites to the
      // exact bitmap form — same values, bitmap aggregate in the plan.
      import s2.implicits._
      val df = Seq[(String, java.lang.Long)](
        ("a", 5L), ("a", 5L), ("a", -7L), ("a", null),
        ("b", null), ("c", 40000L), ("c", 2L), ("c", 40000L))
        .toDF("g", "v")
      def optimized(q: org.apache.spark.sql.DataFrame): String =
        q.queryExecution.optimizedPlan.toString
      val grouped = df.groupBy("g").agg(count_distinct(col("v")).as("n"))
      assert(optimized(grouped).contains("bitmap_construct_agg"),
        "rewrite must fire on a sole integer count-distinct")
      assert(grouped.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        == Seq(("a", 2L), ("b", 0L), ("c", 2L)),
        "bitmap path must be value-identical incl. nulls/negatives/all-null groups")
      // global (ungrouped) form: rewrite fires; and on empty input the
      // COALESCE keeps the count 0, not null (the empty case itself gets
      // constant-folded away by PropagateEmptyRelation after our rewrite,
      // so only the value is assertable there)
      val global = df.agg(count_distinct(col("v")).as("n"))
      assert(optimized(global).contains("bitmap_construct_agg"))
      assert(global.head().getLong(0) == 4L)
      val empty = df.filter(col("g") === "zzz")
        .agg(count_distinct(col("v")).as("n"))
      assert(empty.head().getLong(0) == 0L)
      // computed grouping expressions survive with their values
      val computed = df.groupBy(upper(col("g")).as("gu"))
        .agg(count_distinct(col("v")).as("n"))
      assert(optimized(computed).contains("bitmap_construct_agg"))
      assert(computed.orderBy("gu").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        == Seq(("A", 2L), ("B", 0L), ("C", 2L)))
      // out of scope: mixed aggregates, non-integral child → untouched
      assert(!optimized(df.groupBy("g")
        .agg(count_distinct(col("v")), sum(col("v"))))
        .contains("bitmap_construct_agg"))
      assert(!optimized(df.groupBy("v").agg(count_distinct(col("g"))))
        .contains("bitmap_construct_agg"))
      // conf kill-switch (fresh frame — QueryExecution memoizes per frame)
      s2.conf.set(graft.plans.BitmapDistinctRewrite.ConfKey, "false")
      try assert(!optimized(
        df.groupBy("g").agg(count_distinct(col("v")).as("n")))
        .contains("bitmap_construct_agg"))
      finally s2.conf.unset(graft.plans.BitmapDistinctRewrite.ConfKey)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
