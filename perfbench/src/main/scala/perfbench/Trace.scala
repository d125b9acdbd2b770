package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch microseconds; `parent` is the id of
  * the span that caused it (0 for the root, -1 when it is attached later by
  * time containment, as for stream batches). */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
    val startUs: Long) {
  @volatile var endUs: Long = -1L
  val attrs = new java.util.concurrent.ConcurrentHashMap[String, Any]()
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nanos0 = System.nanoTime()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nanos0) / 1000

  def add(kind: String, name: String, parent: Long, startUs: Long, endUs: Long = -1L): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, startUs)
    s.endUs = endUs
    spans.add(s)
    s
  }

  val root: Span = add("run", "run", 0L, nowUs)

  def begin(kind: String, name: String, parent: Span): Span = add(kind, name, parent.id, nowUs)
  def end(s: Span): Unit = s.endUs = nowUs
  def seconds(s: Span): Double = (s.endUs - s.startUs) / 1e6

  def write(path: Path): Unit = {
    end(root)
    val mapper = new ObjectMapper()
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("kind", s.kind)
      m.put("name", s.name); m.put("start_us", s.startUs); m.put("end_us", s.endUs)
      if (!s.attrs.isEmpty) m.put("attrs", s.attrs)
      mapper.writeValueAsString(m)
    }
    Files.write(path, lines.asJava)
  }
}

object LayerListener {
  /** Local property carrying the running operation's span id into the
    * jobs it launches (inherited by the threads it starts). */
  val OpKey = "perfbench.op"
}

/** Turns scheduler and streaming events into spans: jobs under the op that
  * launched them, stages under their job, tasks under their stage (with
  * their metrics), and stream micro-batches (attached later to the drive
  * call whose interval contains them). */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val jobSpans = TrieMap.empty[Int, Span]
  private val stageJob = TrieMap.empty[Int, Span]
  private val stageSpans = TrieMap.empty[(Int, Int), Span]
  @volatile private var attached = false

  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this); attached = true
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    drain(spark); spark.sparkContext.removeSparkListener(this); attached = false
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.OpKey)))
      .map(_.toLong).getOrElse(-1L)
    val s = tracer.add("job", s"job-${e.jobId}", op, e.time * 1000)
    jobSpans(e.jobId) = s
    e.stageIds.foreach(id => stageJob(id) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.remove(e.jobId).foreach(_.endUs = e.time * 1000)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { job =>
      val start = info.submissionTime.getOrElse(System.currentTimeMillis()) * 1000
      val s = tracer.add("stage", s"stage-${info.stageId}.${info.attemptNumber()}", job.id, start)
      stageSpans((info.stageId, info.attemptNumber())) = s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageSpans.remove((info.stageId, info.attemptNumber())).foreach { s =>
      s.endUs = info.completionTime.getOrElse(System.currentTimeMillis()) * 1000
      s.attrs.put("tasks", info.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val parent = stageSpans.get((e.stageId, e.stageAttemptId)).map(_.id).getOrElse(-1L)
    val info = e.taskInfo
    val s = tracer.add("task", s"task-${info.taskId}", parent,
      info.launchTime * 1000, info.finishTime * 1000)
    s.attrs.put("failed", info.failed)
    val m = e.taskMetrics
    if (m != null) {
      s.attrs.put("run_ms", m.executorRunTime)
      s.attrs.put("cpu_ns", m.executorCpuTime)
      s.attrs.put("gc_ms", m.jvmGCTime)
      s.attrs.put("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      s.attrs.put("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      s.attrs.put("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      s.attrs.put("peak_mem_bytes", m.peakExecutionMemory)
      s.attrs.put("records_read", m.inputMetrics.recordsRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val s = tracer.add("batch", s"batch-${pr.batchId}", -1L, start,
        start + d.getOrElse("triggerExecution", 0L) * 1000)
      d.foreach { case (k, v) => s.attrs.put(s"ms.$k", v) }
      s.attrs.put("input_rows", pr.numInputRows)
      s.attrs.put("state_rows_updated", pr.stateOperators.map(_.numRowsUpdated).sum)
      s.attrs.put("state_bytes", pr.stateOperators.map(_.memoryUsedBytes).sum)
      s.attrs.put("state_commit_ms", pr.stateOperators.map(_.commitTimeMs).sum)
    case _ => ()
  }
}

/** Plan-shape counts over an executed plan (subqueries included). */
object Census {
  val Keys: Seq[String] =
    Seq("exchanges", "sorts", "generates", "bnl_joins", "non_codegen_ops", "scans")

  def count(plan: SparkPlan): Map[String, Int] = {
    val c = scala.collection.mutable.Map(Keys.map(_ -> 0): _*)
    def visit(p: SparkPlan, inCodegen: Boolean): Unit = {
      p.subqueries.foreach(visit(_, inCodegen = false))
      p match {
        case w: WholeStageCodegenExec => visit(w.child, inCodegen = true)
        case a: InputAdapter => visit(a.child, inCodegen = false)
        case e: Exchange =>
          c("exchanges") += 1
          visit(e.child, inCodegen = false)
        case _: ReusedExchangeExec | _: ReusedSubqueryExec => ()
        case _: LeafExecNode => c("scans") += 1
        case _ =>
          p match {
            case _: SortExec => c("sorts") += 1
            case _: GenerateExec => c("generates") += 1
            case _: BroadcastNestedLoopJoinExec => c("bnl_joins") += 1
            case _ => ()
          }
          if (!inCodegen) c("non_codegen_ops") += 1
          p.children.foreach(visit(_, inCodegen))
      }
    }
    visit(plan, inCodegen = false)
    c.toMap
  }
}
