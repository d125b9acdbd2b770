package graft.tools

import graft.{Registry, Tables}
import graft.util.GraftSession

/** Ad-hoc single-query timer: `runMain graft.tools.QTime q1 q2 ...` times
  * the named Registry queries on SPARK_GRAFT_SF_DIR as Bench does
  * ([[GraftSession]], cached tables, warmup, min-of-2), for iterating on one
  * operator without paying for the whole bench.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Tables.cacheAll(spark, sfDir)
    args.foreach { name =>
      val fn = Registry.all(name)
      val w0 = System.nanoTime()
      fn(spark, sfDir).count() // warmup
      println(f"QWARM $name%-24s ${(System.nanoTime() - w0) / 1e9}%.3f s")
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"QTIME $name%-24s ${times.min}%.3f s")
    }
    spark.stop()
  }
}
