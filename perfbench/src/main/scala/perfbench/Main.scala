package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs and a spec file;
  * this program sets up (ending with one cold pass and the warm-up passes
  * of the workload's operations), runs steady passes for the requested
  * seconds, and writes a raw report (plus, when traced, a span file). All
  * statistics and the output check are computed from those files by
  * `run.py`.
  *
  * Usage: perfbench.Main <spec.json> <report.json>
  *
  * Load model: closed loop, one client, one operation at a time, in
  * local[cores] with shuffle partitions = cores and the engine's timed
  * session conf (AQE off, storage-partitioned joins on). Every operation
  * is computed in full: the registry call, the executed plan, then a write
  * to the `noop` sink.
  */
object Main {

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Paths.get(args(0)).toFile)
    val report = new java.util.LinkedHashMap[String, Any]()
    val runStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = spec.get("cores").asInt()
    val trace = spec.get("trace").asBoolean()
    val seconds = spec.get("seconds").asDouble()
    val seed = spec.get("seed").asLong()
    val dataDir = spec.get("data_dir").asText()
    val workDir = spec.get("work_dir").asText()
    val ops = spec.get("ops").elements().asScala.map(_.asText()).toVector

    val tracer = new Tracer
    val heap = new HeapSampler
    heap.start()
    val t0 = System.nanoTime()
    val spark = session(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = if (trace) Some(new LayerListener(tracer)) else None

    val t1 = System.nanoTime()
    if (spec.get("cache_tables").asBoolean()) graft.Tables.cacheAll(spark, dataDir)
    val cacheS = (System.nanoTime() - t1) / 1e9

    val runner = new Runner(spark, dataDir, workDir, spec.get("ingest"), tracer)
    val records = new java.util.ArrayList[java.util.Map[String, Any]]()
    val passes = new java.util.ArrayList[java.util.Map[String, Any]]()

    def pass(index: Int, traced: Boolean, warmup: Boolean): Unit = {
      val cold = index == 0
      val order = if (cold) ops else new scala.util.Random(seed * 1000 + index).shuffle(ops)
      listener.foreach(l => if (traced) l.attach(spark) else l.detach(spark))
      // every pass starts from a collected heap, so one pass's garbage
      // neither slows the next nor counts in its heap peak
      System.gc()
      heap.resetPeak()
      val span = tracer.begin("pass", s"pass-$index", tracer.root)
      val p0 = System.nanoTime()
      order.foreach { item =>
        runner.run(item, index, cold, span, traced).foreach { rec =>
          if (!rec.get("ok").asInstanceOf[Boolean])
            System.err.println(s"[perfbench] ${rec.get("op")} failed: ${rec.get("error")}")
          records.add(rec)
        }
      }
      val passS = (System.nanoTime() - p0) / 1e9
      tracer.end(span)
      // what the pass left live: the heap in use after a full collection,
      // taken again once Spark's context cleaner has dropped the broadcast
      // blocks the first collection left unreferenced
      System.gc()
      Thread.sleep(200)
      System.gc()
      val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val p = new java.util.LinkedHashMap[String, Any]()
      p.put("index", index); p.put("cold", cold); p.put("warmup", warmup)
      p.put("traced", traced)
      p.put("seconds", passS); p.put("heap_peak_mb", heap.peakMb); p.put("heap_live_mb", liveMb)
      p.put("span", span.id)
      passes.add(p)
    }

    // Set-up ends after the cold pass (memo and store builds, codegen,
    // output dumps) and `warmup_passes` untimed passes of the steady kind,
    // which let the JIT catch up: pass times still fall by a quarter over
    // the first steady passes, at a pace that differs from run to run.
    val jitBean = ManagementFactory.getCompilationMXBean
    val warmups = spec.get("warmup_passes").asInt()
    (0 to warmups).foreach(i => pass(i, traced = false, warmup = i > 0))
    val setupS = (System.currentTimeMillis() - runStartMs) / 1e3
    val setupJitS = jitBean.getTotalCompilationTime / 1e3
    val setupCodegenS = codegenSeconds()
    val setupGcS = gcSeconds()

    // Steady passes while another one fits in the measuring window, and at
    // least `sample_passes` untraced ones (the fixed sample pass_s is taken
    // from). A traced run alternates untraced and traced passes so the
    // tracing overhead is measured within one JVM.
    val m0 = System.nanoTime()
    var i = warmups + 1
    val minPasses = if (trace) 4 else spec.get("sample_passes").asInt()
    var last = 0.0
    while (i <= warmups + minPasses || (System.nanoTime() - m0) / 1e9 + last <= seconds) {
      val p0 = System.nanoTime()
      pass(i, traced = trace && (i - warmups) % 2 == 0, warmup = false)
      last = (System.nanoTime() - p0) / 1e9
      i += 1
    }
    listener.foreach { l => l.drain(spark); l.detach(spark) }
    heap.finish()

    report.put("seed", seed)
    report.put("cores", cores)
    report.put("spark_version", spark.version)
    report.put("jvm_version", System.getProperty("java.vm.version"))
    report.put("setup_s", setupS)
    report.put("session_build_s", sessionS)
    report.put("tables_cache_s", cacheS)
    report.put("setup_jit_s", setupJitS)
    report.put("setup_codegen_s", setupCodegenS)
    report.put("setup_gc_s", setupGcS)
    report.put("gc_s", gcSeconds())
    report.put("passes", passes)
    report.put("ops", records)
    report.put("ingest", runner.ingestReport)
    report.put("oracle_sql", graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }.asJava)
    if (trace) tracer.write(Paths.get(spec.get("spans_path").asText()))
    spark.stop()
    Files.writeString(Paths.get(args(1)),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(report))
  }

  /** The engine's timed session conf, as `graft.Bench`
    * builds it: AQE off, storage-partitioned joins on. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def codegenSeconds(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9
}

/** Tracks the peak heap in use after a collection between resets (each
  * pass ends with a full collection, so its live set at the end counts
  * too). The used heap before a collection mostly measures how far the
  * collector let the young generation grow, so it is not used. Only the
  * heap pools count: the after-collection figures also cover metaspace and
  * the code cache, which grow with class loading and JIT, not live data. */
final class HeapSampler {
  @volatile private var peak = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener: javax.management.NotificationListener = (n, _) => {
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }
  }

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def resetPeak(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
  def finish(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.removeNotificationListener(listener)
    case _ => ()
  }
}
