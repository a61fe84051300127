package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side: builds one session, runs one workload's set-up,
 * its timed phase (and, for a traced run, a second, traced phase) and its
 * output checks, and writes everything it measured to `<work>/result.json`.
 *
 * Usage: graftbench.Main <workload> <workDir> <seconds> <trace 0|1> <seed>
 */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The session configuration of graft.Bench, so numbers line up with its
   * artifacts; scratch and warehouse paths stay inside the work directory. */
  def session(cores: Int, work: String): (SparkSession, Map[String, String]) = {
    val conf = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.local.dir" -> s"$work/tmp",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.hadoop.hadoop.tmp.dir" -> s"$work/tmp")
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
    val spark = conf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, conf + ("master" -> s"local[$cores]"))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsArg, traceArg, seedArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val (spark, conf) = session(cores, work)
    val meter = new Meter(spark)
    val manifest = json.readValue(new File(s"$work/manifest.json"), classOf[Map[String, Any]])
    val wl: Workload = workload match {
      case "lake_etl" =>
        new LakeEtl(spark, meter, work, manifest.asInstanceOf[Map[String, Map[String, Any]]]
          .map { case (k, v) => k -> v.collect { case (f, n: Number) => f -> n.longValue } })
      case "ais_queries" => new AisQueries(spark, meter, work, seedArg.toLong)
    }
    val setup = wl.setup()
    val setupDoneMs = System.currentTimeMillis()

    /** Repeats `wl.step` while another step of the mean length so far still
     * fits in `seconds` (at least one step); the heap and cache probes run
     * between steps, outside every timed operation. */
    def phase(trace: Boolean): Map[String, Any] = {
      if (trace) { meter.startTrace(); wl.startTrace() }
      val ops = scala.collection.mutable.ArrayBuffer[Op]()
      var heap = 0.0
      var cache = 0.0
      val t0 = System.nanoTime()
      val jit0 = meter.jitS()
      var steps = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      // a traced phase repeats every operation at least twice, so counts
      // that do not repeat show up
      val minSteps = if (trace) math.ceil(2.0 / wl.repeatsPerStep).toInt else 1
      while (steps < minSteps || elapsed * (steps + 1) / steps <= seconds) {
        steps += 1
        val got = wl.step()
        if (got.isEmpty) sys.error("workload input exhausted before the run's time was up")
        ops ++= got
        cache = math.max(cache, meter.cacheMb())
        heap = math.max(heap, meter.heapAfterGcMb())
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val base = Map("traced" -> trace, "wall_s" -> wall, "jit_s" -> (meter.jitS() - jit0),
        "heap_peak_mb" -> heap,
        "cache_peak_mb" -> cache, "ops" -> ops.toSeq)
      if (!trace) base
      else {
        val (totals, spans) = meter.stopTrace()
        base ++ Map("totals" -> totals, "extra" -> wl.layerExtra(), "spans" -> spans)
      }
    }

    val phases = Seq(phase(trace = false)) ++ (if (traced) Seq(phase(trace = true)) else Nil)
    val allOps = phases.flatMap(_("ops").asInstanceOf[Seq[Op]])
    val (wrong, checkDetail) = wl.check(allOps)
    val out = Map(
      "workload" -> workload, "cores" -> cores, "conf" -> conf,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "setup_done_ms" -> setupDoneMs, "setup" -> setup,
      "phases" -> phases, "wrong_ops" -> wrong, "check" -> checkDetail)
    json.writeValue(new File(s"$work/result.json"), out)
    spark.stop()
  }
}
