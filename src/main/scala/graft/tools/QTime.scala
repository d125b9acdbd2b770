package graft.tools

import graft.{Registry, Tables}
import graft.util.GraftSession
import org.apache.spark.sql.GraftPlanBridge

/** Ad-hoc single-query timer: `runMain graft.tools.QTime q1 q2 ...` times
  * the named Registry queries on SPARK_GRAFT_SF_DIR as Bench does
  * ([[GraftSession]], cached tables, warmup, min-of-2), for iterating on one
  * operator without paying for the whole bench. Each line also gives the
  * slower timed call and the Spark jobs each call ran.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Tables.cacheAll(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val _ = jobs.incrementAndGet()
      }
    })
    def timed(name: String): (Double, Int) = {
      GraftPlanBridge.drainListeners(spark)
      jobs.set(0)
      val t0 = System.nanoTime()
      Registry.all(name)(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      GraftPlanBridge.drainListeners(spark)
      (s, jobs.get)
    }
    args.foreach { name =>
      val (w, wJobs) = timed(name)
      println(f"QWARM $name%-24s $w%.3f s, $wJobs jobs")
      val runs = Seq(timed(name), timed(name))
      println(f"QTIME $name%-24s ${runs.map(_._1).min}%.3f s " +
        f"(max ${runs.map(_._1).max}%.3f s), ${runs.map(_._2).mkString("/")} jobs")
    }
    spark.stop()
  }
}
