package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runs one scheduled item of a pass and returns one record per timed
  * operation. An item is either a registry query name or `ingest`, the
  * seeded write sequence on a fresh manifest store, whose steps are timed
  * one by one in their fixed order.
  */
final class Runner(spark: SparkSession, dataDir: String, workDir: String,
    ingest: JsonNode, tracer: Tracer) {

  type Rec = java.util.LinkedHashMap[String, Any]
  private val Fmt = "graft.sources.ManifestTable"
  private val dumpDir = Paths.get(workDir, "dump")

  /** Per-pass store sizes and the live row count, for store_bytes_per_row. */
  val ingestReport = new java.util.LinkedHashMap[String, Any]()
  private val storeBytes = new java.util.ArrayList[Long]()
  ingestReport.put("store_bytes", storeBytes)

  def run(item: String, pass: Int, cold: Boolean, passSpan: Span, traced: Boolean): Seq[Rec] =
    if (item == "ingest") ingestSequence(pass, cold, passSpan, traced)
    else Seq(registry(item, pass, cold, passSpan, traced))

  private def record(op: String, pass: Int, span: Span): Rec = {
    val r = new Rec()
    r.put("op", op); r.put("pass", pass); r.put("span", span.id); r.put("ok", true)
    r
  }

  /** Times `body` as one operation span under `passSpan`; the op's span id
    * rides a local property into every job it launches. A thrown exception
    * is recorded with its class and first message line. */
  private def timed(op: String, pass: Int, passSpan: Span)(body: (Span, Rec) => Unit): Rec = {
    val span = tracer.begin("op", op, passSpan)
    val rec = record(op, pass, span)
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerListener.OpKey, span.id.toString)
    try body(span, rec)
    catch {
      case NonFatal(e) =>
        rec.put("ok", false)
        rec.put("error", s"${e.getClass.getName}: ${firstLine(e.getMessage)}")
    } finally {
      sc.setLocalProperty(LayerListener.OpKey, null)
      tracer.end(span)
      rec.put("seconds", tracer.seconds(span))
    }
    rec
  }

  private def firstLine(msg: String): String =
    Option(msg).map(_.linesIterator.find(_.trim.nonEmpty).getOrElse("").trim).getOrElse("")

  private def child[T](kind: String, parent: Span, rec: Rec, key: String)(f: => T): T = {
    val s = tracer.begin(kind, parent.name, parent)
    try f
    finally {
      tracer.end(s)
      rec.put(key, tracer.seconds(s))
    }
  }

  /** Registry call → executed plan → full execution. The cold pass writes
    * the result as parquet for the output check instead of to `noop`. */
  private def registry(name: String, pass: Int, cold: Boolean, passSpan: Span,
      traced: Boolean): Rec =
    timed(name, pass, passSpan) { (span, rec) =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"no registry query '$name'"))
      val df = child("registry.call", span, rec, "call_s")(fn(spark, dataDir))
      val plan = child("plan", span, rec, "plan_s")(df.queryExecution.executedPlan)
      if (traced) describePlan(df, plan, rec)
      child("exec", span, rec, "exec_s") {
        if (cold) df.write.mode("overwrite").parquet(dumpDir.resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save()
      }
    }

  private def describePlan(df: DataFrame,
      plan: org.apache.spark.sql.execution.SparkPlan, rec: Rec): Unit = {
    val phases = new java.util.LinkedHashMap[String, Any]()
    df.queryExecution.tracker.phases.foreach { case (k, v) => phases.put(k, v.durationMs) }
    rec.put("phases_ms", phases)
    rec.put("census", Census.count(plan).asJava)
  }

  // ---- ingest: the seeded write sequence on a fresh store ----------------

  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq

  private def keyList(keys: Seq[Long]): String = keys.mkString(", ")

  private def dirStats(p: Path): (Int, Long) =
    if (!Files.isDirectory(p)) (0, 0L)
    else {
      val w = Files.walk(p)
      try {
        val files = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.count(_.getFileName.toString.startsWith("data-")), files.map(Files.size).sum)
      } finally w.close()
    }

  /** A commit step: records rows committed and the data files and bytes it
    * added to the store. */
  private def commit(step: String, rows: Long, store: Path, pass: Int, passSpan: Span)(
      body: => Unit): Rec = {
    val (f0, b0) = dirStats(store)
    val rec = timed(s"ingest.$step", pass, passSpan) { (span, rec) =>
      child("commit", span, rec, "commit_s")(body)
    }
    val (f1, b1) = dirStats(store)
    rec.put("step", step.takeWhile(_ != '_'))
    rec.put("rows", rows)
    rec.put("files_added", f1 - f0)
    rec.put("bytes_added", b1 - b0)
    rec
  }

  /** Bytes read so far through the local file system, over all threads
    * (the manifest reader reports no input bytes to Spark's task metrics). */
  private def localBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)

  /** A read step: plan, then full execution collecting the small result,
    * kept on the cold pass for the output check. Records the bytes it read
    * from the store's files (one operation runs at a time). */
  private def read(step: String, df: => DataFrame, pass: Int, cold: Boolean,
      passSpan: Span, results: java.util.Map[String, Any]): Rec = {
    val bytes0 = localBytesRead()
    val rec = timed(s"ingest.$step", pass, passSpan) { (span, rec) =>
      val d = child("plan", span, rec, "plan_s") { val d = df; d.queryExecution.executedPlan; d }
      val rows = child("exec", span, rec, "exec_s")(d.collect())
      if (cold) results.put(step, rows.map(r => r.toSeq.map(v => v: Any).asJava).toSeq.asJava)
    }
    rec.put("step", step.takeWhile(_ != '_'))
    rec.put("bytes_read", localBytesRead() - bytes0)
    rec
  }

  private def ingestSequence(pass: Int, cold: Boolean, passSpan: Span, traced: Boolean): Seq[Rec] = {
    val store = Paths.get(workDir, "stores", s"p$pass")
    val path = store.toString
    val table = s"graft_cat.`$path`"
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    val src = graft.Tables(spark, dataDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    def slice(lo: Long, hi: Long) =
      src.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
    val results = new java.util.LinkedHashMap[String, Any]()
    val recs = Seq.newBuilder[Rec]
    ingest.get("appends").elements().asScala.zipWithIndex.foreach { case (r, i) =>
      val Seq(lo, hi) = longs(r)
      recs += commit(s"append_${i + 1}", hi - lo, store, pass, passSpan) {
        slice(lo, hi).write.format(Fmt).option("path", path).mode("append").save()
      }
    }
    val Seq(ilo, ihi) = longs(ingest.get("insert"))
    slice(ilo, ihi).createOrReplaceTempView("perfbench_insert_src")
    recs += commit("insert", ihi - ilo, store, pass, passSpan) {
      spark.sql(s"INSERT INTO $table SELECT * FROM perfbench_insert_src")
    }
    val mergeKeys = longs(ingest.get("merge_keys"))
    src.filter(col("o_orderkey").isin(mergeKeys: _*))
      .withColumn("cents", col("cents") + lit(ingest.get("merge_delta").asLong()))
      .createOrReplaceTempView("perfbench_merge_src")
    recs += commit("merge", mergeKeys.size, store, pass, passSpan) {
      spark.sql(s"""MERGE INTO $table AS t USING perfbench_merge_src AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    val deleteKeys = longs(ingest.get("delete_keys"))
    recs += commit("delete", deleteKeys.size, store, pass, passSpan) {
      spark.sql(s"DELETE FROM $table WHERE o_orderkey IN (${keyList(deleteKeys)})")
    }
    recs += commit("compact", 0, store, pass, passSpan) {
      graft.sources.ManifestTable.compactDeletes(spark, path)
    }
    def current = spark.read.format(Fmt).option("path", path).load()
    def summary(df: DataFrame) = df.agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    ingest.get("ranges").elements().asScala.zipWithIndex.foreach { case (r, i) =>
      val Seq(lo, hi) = longs(r)
      recs += read(s"scan_${i + 1}",
        summary(current.filter(col("o_orderkey").between(lo, hi))), pass, cold, passSpan, results)
    }
    val v = ingest.get("travel_version").asInt()
    recs += read("travel",
      summary(spark.read.format(Fmt).option("path", path).option("version", v.toString).load()),
      pass, cold, passSpan, results)
    storeBytes.add(dirStats(store)._2)
    if (cold) {
      current.write.mode("overwrite").parquet(dumpDir.resolve("ingest_store").toString)
      ingestReport.put("results", results)
    } else graft.util.Fs.deleteRecursively(store)
    recs.result()
  }
}
