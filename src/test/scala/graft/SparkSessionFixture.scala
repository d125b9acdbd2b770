package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM, on the
  * engine's session profile ([[util.GraftSession]]). */
trait SparkSessionFixture {
  lazy val spark: SparkSession = SparkSessionFixture.session
}

object SparkSessionFixture {
  lazy val session: SparkSession = util.GraftSession()
}
