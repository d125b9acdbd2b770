package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Layouts
import graft.util.Memo

/** The memo layer: keys carry every input's stamp, entries build once,
  * directory entries are reused across JVMs only under a matching marker,
  * and every family counts its hits and builds.
  */
class MemoSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  private def counts(family: String): Memo.Counts =
    Memo.counts.getOrElse(family, Memo.Counts(0, 0, 0.0))

  /** A dataset dir named `name` under a fresh temp dir, holding `events`. */
  private def dataset(name: String, events: DataFrame): String = {
    val dir = Files.createTempDirectory("memo_spec").resolve(name)
    events.write.parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** `layout_partitioned`'s aggregate, stated over the dataset's own events. */
  private def direct(sfDir: String): Set[Seq[Any]] = rows(
    Tables(spark, sfDir).events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .filter(to_date(col("ts")) >= lit("2024-01-10").cast("date") &&
        to_date(col("ts")) <= lit("2024-01-19").cast("date"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_ev"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents")))

  test("two datasets sharing a basename each get their own layout") {
    val events = Tables(spark, sf).events
    val a = dataset("memo_demo_sf", events)
    val b = dataset("memo_demo_sf", events.filter(col("event_id") % 2 === 0))
    val (viaA, viaB) = (rows(Layouts.layoutPartitioned(spark, a)),
      rows(Layouts.layoutPartitioned(spark, b)))
    assert(viaA == direct(a) && viaA.nonEmpty)
    assert(viaB == direct(b) && viaB.nonEmpty)
    assert(viaA != viaB, "the halved dataset must aggregate differently")
  }

  test("rewriting an input in place rebuilds the entry") {
    val events = Tables(spark, sf).events
    val d = dataset("memo_rewrite_sf", events)
    val first = rows(Layouts.layoutPartitioned(spark, d))
    assert(first == direct(d))
    val builds0 = counts("events_bydate").builds
    // stage the half table beside it, then swap it in at the same path
    val half = Files.createTempDirectory("memo_spec_half").resolve("events.parquet")
    spark.read.parquet(s"$d/events.parquet").filter(col("event_id") % 2 === 0)
      .write.parquet(half.toString)
    util.Fs.deleteRecursively(java.nio.file.Paths.get(d, "events.parquet"))
    Files.move(half, java.nio.file.Paths.get(d, "events.parquet"))
    // the Tables plan memo holds the old file listing; the memo under test
    // is the layout's
    Tables.sessionMemo(spark).clear()
    val second = rows(Layouts.layoutPartitioned(spark, d))
    assert(second == direct(d) && second != first)
    assert(counts("events_bydate").builds == builds0 + 1)
  }

  test("a directory entry is reused across a dropped slot, refused on another epoch or stamp") {
    import spark.implicits._
    val d = Files.createTempDirectory("memo_spec_dir").resolve("dir_sf")
    Seq(1, 2, 3).toDF("x").write.parquet(d.resolve("t.parquet").toString)
    val key = Memo.Key("memo_spec_dir", d.toString, "t")
    val written = new AtomicInteger
    def get(): Path = Memo.dir(key) { p =>
      Files.createDirectories(p)
      Files.write(p.resolve("payload"), s"${written.incrementAndGet()}".getBytes(UTF_8))
    }
    def payload(p: Path) = new String(Files.readAllBytes(p.resolve("payload")), UTF_8)
    val p1 = get()
    assert(written.get == 1 && payload(p1) == "1")
    assert(p1 == Memo.path(d.toString, "memo_spec_dir"))

    // a later JVM: no in-JVM slot, a matching marker → reused as is
    Memo.forget(key)
    val hits0 = counts("memo_spec_dir").hits
    assert(payload(get()) == "1" && written.get == 1)
    assert(counts("memo_spec_dir").hits == hits0 + 1)

    def tamper(from: String, to: String): Unit = {
      val m = Memo.marker(key)
      val text = new String(Files.readAllBytes(m), UTF_8)
      assert(text.contains(from), s"marker lacks '$from': $text")
      Files.write(m, text.replace(from, to).getBytes(UTF_8))
      Memo.forget(key)
    }
    // a marker left by other code: refused, rebuilt in place
    tamper(s"epoch=${Memo.epoch}", "epoch=0")
    assert(payload(get()) == "2" && written.get == 2)
    // a marker for another snapshot of the input: refused, rebuilt
    tamper("stamp=t=", "stamp=t=stale")
    assert(payload(get()) == "3" && written.get == 3)
    assert(counts("memo_spec_dir").builds == 3)
  }

  test("eight threads asking for one key run the build once") {
    val key = Memo.Key("memo_spec_once", sf).and(java.util.UUID.randomUUID())
    val built = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            Memo.value(key) { Thread.sleep(200); s"value-${built.incrementAndGet()}" }
          }
        })
      }
      start.countDown()
      val got = futures.map(_.get(30, TimeUnit.SECONDS)).toSet
      assert(built.get == 1 && got == Set("value-1"))
    } finally pool.shutdownNow()
  }

  test("a second get counts a hit and no build") {
    val key = Memo.Key("memo_spec_hits", sf, "nation")
    assert(Memo.value(key)(42) == 42)
    val c0 = counts("memo_spec_hits")
    assert(c0.builds == 1)
    assert(Memo.value[Int](key)(fail("built twice")) == 42)
    val c1 = counts("memo_spec_hits")
    assert(c1.builds == c0.builds && c1.hits == c0.hits + 1)
  }
}
