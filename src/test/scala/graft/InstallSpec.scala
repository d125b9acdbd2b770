package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Graft's functions and as-of strategy reach a session where it enters
  * the engine ([[GraftExtensions.install]]): at [[Tables]] and on every
  * [[util.Sessions.forContext]] clone, not inside the operators.
  */
class InstallSpec extends AnyFunSuite with SparkSessionFixture {

  private val dir = "/root/testdata/sf0.001"

  /** Drops every graft_* function from the session's registry. */
  private def dropGraft(ss: SparkSession): Unit = {
    val registry = ss.sessionState.functionRegistry
    functions.VectorExpressions.functions.foreach { case (id, _, _) => registry.dropFunction(id) }
  }

  private def dot(ss: SparkSession): Double =
    ss.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0)

  test("a session without graft's functions gets them from Tables and Sessions clones") {
    val clone = spark.newSession()
    dropGraft(clone)
    intercept[AnalysisException](dot(clone))
    Tables(clone, dir)
    assert(dot(clone) == 11.0)
    // the clone's configure step strips them again; forContext installs after it
    val derived = util.Sessions.forContext(clone, "install-spec")(dropGraft)
    assert(dot(derived) == 11.0)
  }

  test("a second install adds no second AsOfStrategy") {
    // the fixture's extension already plans it: install adds nothing
    val clone = spark.newSession().asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def planned = clone.sessionState.planner.strategies.count(_ == plans.AsOfStrategy)
    assert(planned == 1)
    GraftExtensions.install(clone)
    GraftExtensions.install(clone)
    assert(planned == 1)
    assert(!clone.experimental.extraStrategies.contains(plans.AsOfStrategy))
  }
}
