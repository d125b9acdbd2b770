package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Bench and Verify report why a query failed and let fatal errors
  * through: a non-fatal failure becomes a `[bench]` (or `[verify]`) line
  * on stderr and an entry of `bench_full.json`'s `failures`; an
  * `OutOfMemoryError` or an interrupt is not swallowed.
  */
class BenchFailureSpec extends AnyFunSuite with SparkSessionFixture {

  /** Runs `body` with stderr captured; returns its result and the text. */
  private def stderrOf[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try (body, buf.toString("UTF-8")) finally System.setErr(saved)
  }

  test("a query that throws is reported with its cause") {
    // Bench's tag is the default; Verify reports through the same call
    for (tag <- Seq("bench", "verify")) {
      val failures = mutable.Map.empty[String, String]
      val (result, err) = stderrOf(Bench.attempt("planted_failure", failures, tag) {
        // a filter, so that count() cannot prune the failing expression
        spark.range(3).where("assert_true(id < 0, 'planted failure') IS NULL").count()
      })
      assert(result.isEmpty)
      val c = failures("planted_failure")
      assert(c.contains("planted failure"), c)
      assert(!c.contains("\n"), c)
      assert(err.contains(s"[$tag] planted_failure failed: $c"), err)
    }
  }

  test("the first cause per query is kept and rendered as JSON") {
    val failures = mutable.Map.empty[String, String]
    stderrOf {
      Bench.attempt("q", failures)(throw new IllegalStateException("first \"cause\"\nmore"))
      Bench.attempt("q", failures)(throw new IllegalArgumentException("second"))
      Bench.attempt("ok", failures)(1)
    }
    assert(failures == Map("q" -> "java.lang.IllegalStateException: first \"cause\""))
    assert(Bench.failuresJson(failures) ==
      """{"q":"java.lang.IllegalStateException: first \"cause\""}""")
    assert(Bench.failuresJson(Map.empty) == "{}")
  }

  test("fatal errors and interrupts are not swallowed") {
    val failures = mutable.Map.empty[String, String]
    intercept[OutOfMemoryError](Bench.attempt("oom", failures)(throw new OutOfMemoryError("x")))
    intercept[InterruptedException](
      Bench.attempt("interrupted", failures)(throw new InterruptedException()))
    assert(failures.isEmpty)
  }
}
