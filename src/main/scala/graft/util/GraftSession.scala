package graft.util

import org.apache.spark.sql.SparkSession

/** The engine's one session profile. `Bench`, `Verify`, the tools and the
  * test fixture all build their session here, so the plan that Verify
  * checks is the plan that Bench times.
  *
  *  - `local[SPARK_GRAFT_CPUS]` (default 4);
  *  - `spark.sql.shuffle.partitions` from `SPARK_GRAFT_SHUFFLE`, default
  *    the cpu count;
  *  - AQE from `SPARK_GRAFT_AQE`, default off. AQE's per-stage re-planning
  *    is overhead at these data sizes (its wins, shuffle coalescing and
  *    skew splits, need real volumes): at sf0.1, four A/B pairs gave
  *    ~24.6 s for a registry pass with AQE off against ~25.6 s on (run
  *    noise ±2 s). Cluster-scale runs set it back on;
  *  - storage-partitioned joins on from the start, so SPJ-query plans do
  *    not depend on query order (only opt-in `reportPartitioning` scans are
  *    affected, see `Feeds.ensureSpjConf`);
  *  - `spark.sql.extensions=graft.GraftExtensions`;
  *  - Spark logging at WARN: the classpath has no log4j2 configuration,
  *    and Spark's INFO default buries every other line of output.
  *
  * JVM-wide settings (UI off, UTC session time zone, the codegen cache, the
  * `file:` binding) come from the root `build.sbt` launch profile.
  */
object GraftSession {

  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
