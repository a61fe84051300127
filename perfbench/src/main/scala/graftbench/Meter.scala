package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed operation: an ETL pass, a query execution or a micro-batch. */
final case class Op(kind: String, name: String, wallS: Double, cpuS: Double,
                    ok: Boolean, error: String, detail: Map[String, Any])

/** A traced interval around one call into a graft layer. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Long, var endMs: Long = 0L)

/**
 * Measurement around the calls the benchmark makes into graft.
 *
 * Untraced, only a task-end listener runs: it sums executor CPU, which is
 * all `op_cpu_s` needs. Traced, a second listener and a query-execution
 * listener add per-layer counters. Each span tags its jobs through the
 * `graftbench.span` local property; jobs without the tag (micro-batches run
 * on the stream thread) go to the innermost open span.
 */
final class Meter(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val cpuNs = new AtomicLong

  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  })

  private def drain(): Unit = org.apache.spark.GraftListenerBridge.drainListenerBus(sc)

  /** Run `body` as one operation; returns its record and the body's value. */
  def op[T](kind: String, name: String)(body: => T): (Op, Option[T]) = {
    drain()
    val c0 = cpuNs.get
    val sp = if (tracing) open(name, kind) else null
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    if (sp != null) close(sp)
    drain()
    val cpu = (cpuNs.get - c0) / 1e9
    val counts = if (sp != null) spanCounts(sp.id) else Map.empty[String, Any]
    r match {
      case Right(v) => (Op(kind, name, wall, cpu, ok = true, "", counts), Some(v))
      case Left(e) =>
        System.err.println(s"[bench] $kind $name failed: $e")
        (Op(kind, name, wall, cpu, ok = false, String.valueOf(e.getMessage).take(300), counts), None)
    }
  }

  // ---------------------------------------------------------------- tracing

  @volatile private var tracing = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  @volatile private var innermost: Span = null
  private val SpanKey = "graftbench.span"

  private val setupSpans = mutable.ArrayBuffer[Map[String, Any]]()

  /** Time `body` as a set-up span, which is kept whether or not a traced
   * phase follows (set-up itself runs untraced). */
  def setupSpan[T](name: String, layer: String)(body: => T): (T, Double) = {
    val t0 = System.currentTimeMillis()
    val r = body
    val dur = System.currentTimeMillis() - t0
    setupSpans += Map("name" -> name, "layer" -> layer, "start_ms" -> t0,
      "dur_ms" -> dur, "self_ms" -> dur, "setup" -> true)
    (r, dur / 1e3)
  }

  /** Record `body` as a child span of the open one (no-op untraced). */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val sp = open(name, layer)
      try body finally close(sp)
    }

  private def open(name: String, layer: String): Span = synchronized {
    val sp = Span(spans.size, if (stack.isEmpty) -1 else stack.top.id, name, layer,
      System.currentTimeMillis())
    spans += sp
    stack.push(sp)
    innermost = sp
    sc.setLocalProperty(SpanKey, sp.id.toString)
    sp
  }

  private def close(sp: Span): Unit = synchronized {
    sp.endMs = System.currentTimeMillis()
    stack.pop()
    innermost = if (stack.isEmpty) null else stack.top
    sc.setLocalProperty(SpanKey, if (innermost == null) null else innermost.id.toString)
  }

  /** Per-span task and job counters, and the job intervals of each span. */
  private final class Acc {
    val c: Map[String, AtomicLong] = Seq("jobs", "stages", "tasks", "run_ns", "cpu_ns",
      "gc_ms", "sh_write_bytes", "sh_write_ns", "sh_read_bytes", "fetch_wait_ms",
      "spill_bytes", "in_bytes", "in_rows", "out_bytes").map(_ -> new AtomicLong).toMap
    val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  }
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private def acc(span: Int) = accs.computeIfAbsent(span, _ => new Acc)
  private val global: Map[String, AtomicLong] = Seq("plan_ms", "codegen_compiles",
    "codegen_ns", "agg_ms", "sort_ms", "join_build_ms", "wscg_ms", "scan_ms",
    "write_files", "write_bytes", "cache_scan_rows", "blocks_written")
    .map(_ -> new AtomicLong).toMap

  private val traceListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val span = tagged.map(_.toInt).getOrElse(Option(innermost).map(_.id).getOrElse(-1))
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach(stageSpan.put(_, span))
      val a = acc(span)
      a.c("jobs").incrementAndGet()
      a.jobs.put(e.jobId, Array(e.time, Long.MaxValue))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach(s =>
        Option(acc(s).jobs.get(e.jobId)).foreach(_(1) = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      acc(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).c("stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageSpan.getOrDefault(e.stageId, -1)).c
      a("tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a("run_ns").addAndGet(m.executorRunTime * 1000000L)
        a("cpu_ns").addAndGet(m.executorCpuTime)
        a("gc_ms").addAndGet(m.jvmGCTime)
        a("sh_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a("sh_write_ns").addAndGet(m.shuffleWriteMetrics.writeTime)
        a("sh_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        a("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a("in_bytes").addAndGet(m.inputMetrics.bytesRead)
        a("in_rows").addAndGet(m.inputMetrics.recordsRead)
        a("out_bytes").addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        global("blocks_written").incrementAndGet()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      global("plan_ms").addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      nodes(qe.executedPlan).foreach { p =>
        def ms(key: String) = p.metrics.get(key).map(millis).getOrElse(0L)
        val cls = p.getClass.getSimpleName
        if (cls.contains("HashAggregate") || cls.contains("SortAggregate") ||
          cls.contains("ObjectHashAggregate")) global("agg_ms").addAndGet(ms("aggTime"))
        if (cls == "SortExec") global("sort_ms").addAndGet(ms("sortTime"))
        if (cls.contains("Join") || cls.contains("BroadcastExchange"))
          global("join_build_ms").addAndGet(ms("buildTime"))
        if (cls == "WholeStageCodegenExec") global("wscg_ms").addAndGet(ms("pipelineTime"))
        if (cls.contains("FileSourceScan")) global("scan_ms").addAndGet(ms("scanTime"))
        p match {
          case s: InMemoryTableScanExec =>
            global("cache_scan_rows").addAndGet(s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
          case w: DataWritingCommandExec =>
            global("write_files").addAndGet(w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L))
            global("write_bytes").addAndGet(w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def millis(m: SQLMetric): Long =
    if (m.metricType == "nsTiming") m.value / 1000000L else m.value

  /** Every physical node of an executed plan, through AQE stages and
   * subqueries; a reused exchange is counted where it first ran, and a
   * cached relation's build plan is not entered (it ran once, earlier). */
  private def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        out += p
        (p.children ++ p.subqueries).foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  private var codegen0 = (0L, 0L)
  private var traceT0 = 0L

  /** Start the traced phase. */
  def startTrace(): Unit = {
    drain()
    sc.addSparkListener(traceListener)
    spark.listenerManager.register(qeListener)
    codegen0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    traceT0 = System.currentTimeMillis()
    tracing = true
  }

  /** End the traced phase; returns (phase totals, spans with self time). */
  def stopTrace(): (Map[String, Double], Seq[Map[String, Any]]) = {
    tracing = false
    drain()
    sc.removeSparkListener(traceListener)
    spark.listenerManager.unregister(qeListener)
    val wallMs = System.currentTimeMillis() - traceT0
    val tot = mutable.Map[String, Double]().withDefaultValue(0.0)
    // jobs outside every operation (checks between steps) are not counted
    accs.asScala.foreach { case (span, a) =>
      if (span >= 0) a.c.foreach { case (k, v) => tot(k) += v.get.toDouble } }
    global.foreach { case (k, v) => tot(k) = v.get.toDouble }
    tot("codegen_compiles") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._1).toDouble
    tot("codegen_ns") = (CodeGenerator.compileTime - codegen0._2).toDouble
    tot("wall_ms") = wallMs.toDouble
    val roots = spans.filter(_.parent < 0)
    tot("gap_ms") = roots.map(s => gapMs(s)).sum
    val children = spans.groupBy(_.parent)
    val out = spans.toSeq.map { s =>
      val dur = s.endMs - s.startMs
      val kids = children.getOrElse(s.id, Nil).map(k => k.endMs - k.startMs).sum
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "dur_ms" -> dur, "self_ms" -> (dur - kids)) ++ spanCounts(s.id)
    }
    (tot.toMap, setupSpans.toSeq ++ out)
  }

  /** Span `s`'s wall time during which none of its own or its
   * descendants' jobs was running. */
  private def gapMs(s: Span): Double = {
    val iv = subtree(s.id).flatMap(i => Option(accs.get(i)).toSeq.flatMap(_.jobs.values.asScala))
      .map(a => (math.max(a(0), s.startMs), math.min(a(1), s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = (0L, 0L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    covered += cur._2 - cur._1
    (s.endMs - s.startMs - covered).toDouble
  }

  /** `id` and every span opened inside it (children follow parents). */
  private def subtree(id: Int): Seq[Int] = synchronized {
    val ids = mutable.LinkedHashSet(id)
    spans.foreach(x => if (ids.contains(x.parent)) ids += x.id)
    ids.toSeq
  }

  /** Jobs, stages and tasks run inside span `id`, children included. */
  private def spanCounts(id: Int): Map[String, Any] = {
    val as = subtree(id).flatMap(i => Option(accs.get(i)))
    Seq("jobs", "stages", "tasks").map(k => k -> as.map(_.c(k).get).sum).toMap
  }

  /** Total time the JIT compilers have spent, in seconds. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Storage memory held by cached blocks, in MB. */
  def cacheMb(): Double = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6

  /** Heap in use after full collections, in MB. A collection can make
   * broadcasts, shuffles and cached blocks unreachable that only Spark's
   * context cleaner then releases, so collections repeat (with a pause for
   * the cleaner) until the heap stops shrinking. */
  def heapAfterGcMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      drain()
      Thread.sleep(250)
      heap.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 1.0 && rounds < 6) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }
}
