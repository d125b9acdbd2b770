package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Surgical-erasure properties: the rewrite must be SURGICAL (untouched
  * files hard-linked byte-for-byte, only range-affected files rewritten)
  * and COMPLETE (no erased key survives anywhere in generation 2).
  */
class ErasureSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  test("erasure links untouched files and leaves no erased key behind") {
    val df = graft.sources.Layouts.gdprErasure(spark, sf)
    assert(df.collect().nonEmpty)

    val base = util.Memo.path(sf, "orders_erasure")
    import scala.jdk.CollectionConverters._
    def files(gen: String) = {
      val s = Files.list(base.resolve(gen))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val (g1, g2) = (files("gen1"), files("gen2"))
    val linked = g2.filter(g1.contains)
    val rewritten = g2.filter(_.startsWith("rw-"))
    assert(linked.nonEmpty, "no files were reused — the rewrite was not surgical")
    assert(rewritten.nonEmpty, "no files were rewritten — erased keys can't be gone")
    assert(linked ++ rewritten == g2)
    // the erasure is total: no erased key anywhere in gen 2
    val survivors = spark.read.parquet(base.resolve("gen2").toString)
      .filter(col("o_custkey") % 293 === 0).count()
    assert(survivors == 0, s"$survivors erased-key rows survive in gen2")
    // linked files are byte-identical originals (hard links share inode
    // content; compare sizes as the cheap proxy)
    linked.foreach { name =>
      assert(Files.size(base.resolve("gen1").resolve(name)) ==
        Files.size(base.resolve("gen2").resolve(name)))
    }
    // surgical = every REWRITTEN gen-1 file's key ZONE contained an
    // erased key (the footer-zone criterion the selection join uses; a
    // zone hit without a resident row is possible at range boundaries
    // and costs one harmless rewrite, never a correctness error)
    val erasedKeys = spark.read.parquet(base.resolve("gen1").toString)
      .filter(col("o_custkey") % 293 === 0)
      .select("o_custkey").distinct().collect().map(_.getLong(0))
    val affectedG1 = g1 -- linked
    affectedG1.foreach { name =>
      val mm = spark.read.parquet(base.resolve("gen1").resolve(name).toString)
        .agg(min("o_custkey"), max("o_custkey")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      assert(erasedKeys.exists(k => k >= lo && k <= hi),
        s"$name was rewritten but its zone [$lo,$hi] holds no erased key")
    }
    // and the zone selection missed nothing: every LINKED file's zone is
    // erased-key-free (completeness of the footer criterion)
    linked.foreach { name =>
      val mm = spark.read.parquet(base.resolve("gen1").resolve(name).toString)
        .agg(min("o_custkey"), max("o_custkey")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      assert(!erasedKeys.exists(k => k >= lo && k <= hi),
        s"$name was linked but its zone [$lo,$hi] contains an erased key")
    }
  }
}
