package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.{CacheScope, SharedStage, SparkEntry}
import graft.operators.{Cleanse, Sessionize}
import graft.pipelines.{RawToStaging, StagingToCurated}
import graft.sources.{CsvSource, LakeWriter, StateStore}
import graft.streaming.{DedupStream, LakeSink, SessionStream, StreamEvent}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** One benchmark workload. `step` runs a fixed unit of timed operations
 * (one lake cycle, two passes over the query mix); `Main` repeats it
 * while the run's time allows and probes the heap between steps. Checks run
 * outside the timed operations. */
trait Workload {
  /** Warm-up on the warm input, then the set-up the timed phase relies on. */
  def setup(): Map[String, Any]
  def step(): Seq[Op]
  /** Output checks; returns (ops found wrong, check detail). */
  def check(ops: Seq[Op]): (Int, Map[String, Any])
  /** Per-layer numbers only this workload has (traced phase). */
  def layerExtra(): Map[String, Double] = Map.empty
  /** How often one step runs each of its operations. */
  def repeatsPerStep: Int = 1
  def startTrace(): Unit = ()
}

/** The lake's write path. One operation is one lake cycle: the paper's
 * daily raw → staging → curated pipeline over an AIS-shaped CSV drop
 * (rewriting the same lake every cycle), then one batch of the live feed
 * through the streaming services. */
final class LakeEtl(spark: SparkSession, meter: Meter, work: String,
                    manifest: Map[String, Map[String, Long]]) extends Workload {
  private val csvSchema = StructType(
    Seq("mmsi", "base_datetime", "LAT", "LON", "sog").map(StructField(_, StringType)))
  private val rawCfg = RawToStaging.Config(
    columnMapping = Map("base_datetime" -> "ts", "mmsi" -> "user_id",
      "LAT" -> "lat", "LON" -> "lon", "sog" -> "speed"),
    schema = Seq("user_id" -> LongType, "ts" -> StringType,
      "lat" -> DoubleType, "lon" -> DoubleType, "speed" -> DoubleType),
    tsCol = "ts",
    validCondition = _ => Cleanse.validCoords(col("lat"), col("lon")),
    clampCaps = Map("speed" -> 100.0),
    dedupCols = Seq("user_id", "ts", "lat", "lon"),
    speedCol = "speed", speedThreshold = 50.0)
  private val curCfg = StagingToCurated.Config(
    idCol = "user_id", tsSecCol = "ts_sec", dayCol = "day",
    latCol = "lat", lonCol = "lon", speedCol = "speed",
    gapSeconds = 10800L, speedThreshold = 50.0,
    fastSpeedThreshold = 80.0, fastIntervalSec = 600L, slowIntervalSec = 3600L,
    rowKeyCol = "row_key")
  private var passes = 0
  private val results = mutable.ArrayBuffer[(Int, Map[String, Long])]()
  private var feed: LiveFeed = _
  /** Untimed live batches first: besides compiling the streaming plans they
   * initialise the queries' state stores. */
  private val FeedWarmBatches = 2

  private def pass(input: String, lake: String, version: String): Unit = {
    meter.span("staging", "pipelines") {
      val (good, _) = meter.span("CsvSource.readWithQuarantine", "sources") {
        CsvSource.readWithQuarantine(spark, input, csvSchema)
      }
      val (staged, quarantine) = RawToStaging.run(good, rawCfg)
      meter.span("LakeWriter.writePartitioned:staging", "sources") {
        LakeWriter.writePartitioned(staged, s"$lake/staging", keyCol = Some("user_id"))
      }
      meter.span("write:quarantine", "sources") {
        quarantine.write.mode("overwrite").parquet(s"$lake/quarantine")
      }
    }
    meter.span("curated", "pipelines") {
      val staged = meter.span("LakeWriter.read:staging", "sources") {
        LakeWriter.read(spark, s"$lake/staging")
      }.withColumn("ts_sec", unix_timestamp(col("ts")))
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .withColumn("row_key",
          sha2(concat_ws("|", col("user_id"), col("ts"), col("lat"), col("lon")), 256))
      val out = StagingToCurated.run(staged, curCfg)
      meter.span("LakeWriter.writePartitioned:trajectory", "sources") {
        LakeWriter.writePartitioned(out.trajectory, s"$lake/curated/trajectory",
          partitionCols = Seq("day"))
      }
      meter.span("LakeWriter.writePartitioned:daily", "sources") {
        LakeWriter.writePartitioned(out.daily, s"$lake/curated/daily",
          partitionCols = Seq("day"))
      }
      meter.span("write:summary", "sources") {
        out.summary.write.mode("overwrite").parquet(s"$lake/curated/summary")
      }
      meter.span("StateStore.merge", "sources") {
        val delta = LakeWriter.read(spark, s"$lake/curated/summary")
          .groupBy(col("user_id").as("entity"))
          .agg(sum("n_points").as("n_points"), sum("sum_speed").as("sum_speed"),
            min("start_sec").as("first_sec"), max("end_sec").as("last_sec"))
        StateStore.merge(spark, s"$lake/state", version, delta, keys = Seq("entity"),
          sumCols = Seq("n_points", "sum_speed"),
          minCols = Seq("first_sec"), maxCols = Seq("last_sec"), nBuckets = 4)
      }
    }
  }

  /** Row counts of every output of the lake at `lake`. */
  private def lakeCounts(lake: String): Map[String, Long] = {
    def n(p: String) = spark.read.parquet(s"$lake/$p").count()
    Map("staging" -> n("staging"), "quarantine" -> n("quarantine"),
      "trajectory" -> n("curated/trajectory"), "daily" -> n("curated/daily"),
      "summary_points" -> spark.read.parquet(s"$lake/curated/summary")
        .agg(sum("n_points")).head().getLong(0),
      "state_points" -> StateStore.read(spark, s"$lake/state").get
        .agg(sum("n_points")).head().getLong(0))
  }

  def setup(): Map[String, Any] = {
    val t0 = System.nanoTime()
    pass(s"$work/inputs/warm", s"$work/lake_warm", "p0000")
    feed = new LiveFeed(spark, work)
    (0 until FeedWarmBatches).foreach(_ => feed.next())
    Map("warmup_s" -> (System.nanoTime() - t0) / 1e9)
  }

  override def startTrace(): Unit = feed.record()

  def step(): Seq[Op] = {
    passes += 1
    val (o, feedRows) = meter.op("lake_cycle", "lake_cycle") {
      pass(s"$work/inputs/main", s"$work/lake", f"p$passes%04d")
      meter.span("micro_batch", "streaming")(feed.next())
    }
    if (o.ok) results += ((passes, lakeCounts(s"$work/lake")))
    Seq(o.copy(detail = o.detail ++ Map("pass" -> passes,
      "raw_lines" -> manifest("main")("lines"), "feed_rows" -> feedRows.getOrElse(0))))
  }

  def check(ops: Seq[Op]): (Int, Map[String, Any]) = {
    val m = manifest("main")
    val base = m("base")
    val bad = results.filter { case (k, c) =>
      c("staging") != base || c("quarantine") != m("empty") + m("oor") ||
        c("summary_points") != base || c("state_points") != k * base ||
        c("trajectory") <= 0 || c("trajectory") > base || c("daily") <= 0
    }
    val (_, csvBad) = CsvSource.readWithQuarantine(spark, s"$work/inputs/main", csvSchema)
    val csvQuarantined = csvBad.count()
    val (feedOk, feedDetail) = feed.check()
    // the CSV quarantine and the stream are checked once for the whole run
    val wrong = if (csvQuarantined != 0 || !feedOk) ops.size else bad.size
    (wrong, Map("expected" -> m, "csv_quarantined" -> csvQuarantined, "live_feed" -> feedDetail,
      "passes" -> results.map { case (k, c) => Map("pass" -> k) ++ c }.toSeq))
  }

  override def layerExtra(): Map[String, Double] = feed.layerExtra()
}

/** One analyst in a closed loop over a fixed mix of validation, curated-fact
 * and warm index-reader queries. A step is three passes over the mix, each in
 * its own seeded order, so a run's latency metrics rest on 48 queries. */
final class AisQueries(spark: SparkSession, meter: Meter, work: String, seed: Long)
    extends Workload {
  val names: Seq[String] = Seq(
    "q_rows_per_day", "q_distinct_per_day", "q_timeline", "q_state_dist",
    "q_movement_flag", "q_dq_stats",
    "q_sessionize_seeded", "q_daily_metrics", "q_session_summary", "q_monthly",
    "q_geohash", "q_od_matrix", "q_lookup_join", "q_encounters",
    "q_bm25", "q_tfidf")
  private val main = s"$work/inputs/main"
  private val rng = new scala.util.Random(seed)
  private val last = mutable.Map[String, (Array[Row], StructType)]()
  private val hashes = mutable.Map[String, mutable.Set[Int]]()
  val builds = mutable.ArrayBuffer[(String, Double)]()
  /** Warm-up passes over the warm input. The first generates and compiles
   * the plans; the JIT keeps compiling Spark's planner and operators for
   * passes after that (after one warm-up pass, the first timed pass took
   * 1.7x the executor CPU of the third on a 4-core VM). */
  private val WarmPasses = 3
  override val repeatsPerStep = 3

  private def run(q: String, dir: String): (Array[Row], StructType) = CacheScope.scoped {
    val df = meter.span(s"SparkEntry.queries:$q", "queries")(SparkEntry.queries(q)(spark, dir))
    (df.collect(), df.schema)
  }

  /** Warm-up runs the whole list `WarmPasses` times on the warm input,
   * `cores` queries at a time. The shared-stage build list is derived from
   * it: a query builds a stage when a frame its jobs persisted is still
   * cached after its scope ended. Each build then runs alone on the main
   * input and is timed. */
  def setup(): Map[String, Any] = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val warmPassS = mutable.ArrayBuffer[Double]()
    val persistedBy = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.warmup"))).foreach { q =>
          for (st <- e.stageInfos; r <- st.rddInfos if r.storageLevel.isValid)
            persistedBy.putIfAbsent(r.id, q)
        }
    }
    sc.addSparkListener(probe)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sc.defaultParallelism)
    try {
      (0 until WarmPasses).foreach { _ =>
        val p0 = System.nanoTime()
        val tasks = names.map(q => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.setLocalProperty("graftbench.warmup", q)
            run(q, s"$work/inputs/warm")
          }
        }))
        tasks.foreach(_.get())
        warmPassS += (System.nanoTime() - p0) / 1e9
      }
    } finally pool.shutdown()
    org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
    sc.removeSparkListener(probe)
    val cached = sc.getPersistentRDDs.keySet.flatMap(id => Option(persistedBy.get(id)))
    val buildQueries = names.filter(cached)
    val warm = (System.nanoTime() - t0) / 1e9
    SharedStage.clear()
    buildQueries.foreach { q =>
      builds += ((q, meter.setupSpan(s"SharedStage.build:$q", "cache")(run(q, main))._2))
    }
    Map("warmup_s" -> warm, "warm_pass_s" -> warmPassS.toSeq,
      "builds" -> builds.map { case (q, s) => Map("query" -> q, "s" -> s) }.toSeq)
  }

  def step(): Seq[Op] = Seq.fill(repeatsPerStep)(rng.shuffle(names)).flatten.map { q =>
    val (o, r) = meter.op("query", q)(run(q, main))
    r.fold(o) { case (rows, schema) =>
      val h = rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString)).sum
      last(q) = (rows, schema)
      hashes.getOrElseUpdate(q, mutable.Set()) += h
      o.copy(detail = o.detail ++ Map("rows" -> rows.length, "hash" -> h))
    }
  }

  /** Writes each query's last result for the DuckDB oracle compare; a query
   * whose executions disagree with each other counts every execution wrong. */
  def check(ops: Seq[Op]): (Int, Map[String, Any]) = {
    last.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/out/$q")
    }
    val unstable = hashes.filter(_._2.size > 1).keySet
    val oracle = names.map(q => q -> SparkEntry.oracleSql(q)).toMap
    (ops.count(o => unstable(o.name)),
      Map("oracle_sql" -> oracle, "unstable" -> unstable.toSeq.sorted))
  }

  override def layerExtra(): Map[String, Double] =
    Map("cache.build_s" -> builds.map(_._2).sum)
}

/** The lake's live path: an AIS feed pushed through a MemoryStream, one
 * delivery batch at a time. Each batch feeds two queries: DedupStream →
 * LakeSink lands the de-duplicated points, SessionStream → LakeSink lands
 * closed sessions. (The two graft operators cannot be chained in one query:
 * each defines its own watermark, and Spark refuses a redefined watermark.) */
final class LiveFeed(spark: SparkSession, work: String) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val GapSec = 10800L
  private val Delay = "30 minutes"

  /** Delivery batches, each row with its feed kind (ok, late or dup). */
  private val batches: IndexedSeq[Seq[(StreamEvent, String)]] = {
    val rows = spark.read.parquet(s"$work/inputs/feed/feed.parquet")
      .select(col("user_id"), col("ts").cast("timestamp"), col("value"), col("batch"), col("kind"))
      .collect()
    val byBatch = rows.groupBy(_.getLong(3))
    (0L to byBatch.keys.max).map(b => byBatch.getOrElse(b, Array.empty[Row]).toSeq
      .map(r => (StreamEvent(r.getLong(0), r.getTimestamp(1), r.getDouble(2)), r.getString(4))))
  }

  private def lakeShaped(df: DataFrame, tsSec: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("_t", timestamp_seconds(tsSec))
      .withColumn("year", date_format(col("_t"), "yyyy"))
      .withColumn("month", date_format(col("_t"), "MM"))
      .withColumn("day", date_format(col("_t"), "dd"))
      .drop("_t")

  private val input = MemoryStream[StreamEvent]
  private val pointsLake = s"$work/live/points"
  private val sessionsLake = s"$work/live/sessions"
  private val points = LakeSink.startAppendIdempotent(
    lakeShaped(DedupStream.dedup(input.toDF(), "ts", Seq("userId", "ts", "value"), Delay),
      unix_timestamp(col("ts"))),
    pointsLake, s"$work/live/points_checkpoint")
  private val sessions = LakeSink.startAppendIdempotent(
    lakeShaped(SessionStream.sessionize(input.toDS(), GapSec, Delay).toDF(), col("startSec")),
    sessionsLake, s"$work/live/sessions_checkpoint")
  private var delivered = 0

  private def push(b: Seq[StreamEvent]): Unit = {
    input.addData(b)
    points.processAllAvailable()
    sessions.processAllAvailable()
  }

  /** Deliver the next batch and wait until both queries committed it. */
  def next(): Int = {
    require(delivered < batches.size, "live feed exhausted")
    val b = batches(delivered).map(_._1)
    push(b)
    delivered += 1
    b.size
  }

  private val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  @volatile private var recording = false
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) progress.synchronized(progress += e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  })

  /** Keep StreamingQueryProgress reports from now on (the traced phase). */
  def record(): Unit = recording = true

  /** Pushes two far-future sentinel points so the watermark closes every
   * open session, stops both queries, then checks: the landed points must be
   * exactly the on-time rows delivered, and the streamed sessions must equal
   * batch Sessionize over every delivered row that was not late. */
  def check(): (Boolean, Map[String, Any]) = {
    val sent = batches.take(delivered).flatten
    val far = 4000000000L
    push(Seq(StreamEvent(-1L, new Timestamp(far * 1000), 0.0)))
    push(Seq(StreamEvent(-1L, new Timestamp((far + 10 * GapSec) * 1000), 0.0)))
    points.stop()
    sessions.stop()
    val onTime = sent.count(_._2 == "ok")
    val landed = spark.read.parquet(pointsLake).filter(col("userId") =!= -1L).count()
    val streamed = spark.read.parquet(sessionsLake).filter(col("userId") =!= -1L)
      .select("userId", "startSec", "endSec", "nPoints", "sumValue")
      .as[(Long, Long, Long, Long, Double)].collect()
    val expected = Sessionize(
        sent.filter(_._2 != "late").map { case (e, _) => (e.userId, e.ts.getTime / 1000, e.value) }
          .toDF("user_id", "ts_sec", "value"),
        "user_id", "ts_sec", GapSec)
      .groupBy("user_id", "session_id")
      .agg(min("ts_sec"), max("ts_sec"), count(lit(1)), sum("value"))
      .drop("session_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    def key(t: (Long, Long, Long, Long, Double)) = (t._1, t._2, t._3, t._4)
    val want = expected.map(t => key(t) -> t._5).toMap
    val got = streamed.map(t => key(t) -> t._5).toMap
    val same = landed == onTime && streamed.length == expected.length &&
      want.keySet == got.keySet &&
      want.forall { case (k, v) => math.abs(got(k) - v) <= 1e-6 * math.max(1.0, math.abs(v)) }
    (same, Map("batches_delivered" -> delivered, "points_landed" -> landed,
      "rows_on_time" -> onTime, "sessions_streamed" -> streamed.length,
      "sessions_expected" -> expected.length))
  }

  /** Totals over the recorded progress reports of both queries. */
  def layerExtra(): Map[String, Double] = {
    val ps = progress.synchronized(progress.toSeq)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / 1e3
    val ops = ps.flatMap(_.stateOperators)
    val lastState = ps.groupBy(_.id).values.map(_.last).flatMap(_.stateOperators).toSeq
    Map("streaming.add_batch_s" -> dur("addBatch"),
      "streaming.plan_s" -> dur("queryPlanning"),
      "streaming.commit_s" -> (dur("commitOffsets") + dur("walCommit")),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mb" -> lastState.map(_.memoryUsedBytes.toDouble).sum / 1e6,
      "streaming.state_commit_s" -> ops.map(_.commitTimeMs.toDouble).sum / 1e3,
      "streaming.late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }
}
