package perfbench

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.{AggregateSink, CompactingAggregateSink, HourlyScheduler}
import graft.serving.ChartQueries
import graft.streaming.{KafkaMsg, TweetIngest}

/** Sink wrapper handed to the scheduler: times each append as a
  * `pipeline.sink` call nested in the scheduler's `runOnce` call, and
  * stamps the batch with the simulated clock. The scheduler stamps
  * `created_at` with the wall clock, which is right for a job that runs
  * once an hour; the benchmark runs an event hour every few seconds, so
  * without the simulated stamp every hour would share one serving
  * bucket. */
final class TimedSink(val inner: CompactingAggregateSink, tracer: Tracer)
    extends AggregateSink {
  var clock: LocalDateTime = LocalDateTime.MIN
  var timed = false
  override def append(df: DataFrame): Unit =
    tracer.call("pipeline.sink", "append", kind = "append", timed = timed) {
      inner.append(df.withColumn("created_at", lit(Timestamp.valueOf(clock))))
    }
  override def readBack(spark: SparkSession): DataFrame =
    tracer.call("pipeline.sink", "read", kind = "read", timed = timed)(inner.readBack(spark))
  def compact(spark: SparkSession): Unit =
    tracer.call("pipeline.sink", "compact", kind = "compact", timed = timed)(inner.compact(spark))
}

/** The reference dataflow, end to end, closed loop with one generator
  * thread: Kafka-shaped micro-batches → `TweetIngest.dedupedParse` →
  * date/hour parquet lake → `HourlyScheduler.runOnce` per event hour →
  * compacting sink → the dashboard's chart queries at the Global, Day
  * and Hour levels. The next micro-batch goes in only after the previous
  * one commits.
  *
  * One pass is one event hour, and every hour does the same work: its
  * micro-batches, the scheduler cycle, a second `runOnce` of the same
  * hour (an at-least-once re-append, which serving must not count
  * twice), a sink compaction, the sink read, and the full chart set. */
object TweetPipeline extends Workload {
  val name = "tweet_pipeline"

  /** A timed event hour: 18 000 tweets in two micro-batches of about
    * 10 000 messages each (with fan-out copies, redeliveries and late
    * events). That is the micro-batch of the repository's ingest canary,
    * `graft.streaming.IngestBench` (30 000 rows in 3 batches), sized so
    * that the dedup state store, not the fixed cost of a micro-batch,
    * dominates: the case of a backlog drain, where a batch is as full as
    * the source allows. */
  val HourSizing = TweetSizing(tweetsPerHour = 18000, batchesPerHour = 2)
  /** Untimed hours the pipeline runs before timing starts. The first
    * hour of a JVM pays the one-time costs (code generation, class
    * loading, the stream's start) and takes about three timed hours. */
  val WarmUpHours = 1

  /** The dashboard's charts; `processed` is the served relation. */
  val charts: Seq[(String, DataFrame => DataFrame)] = Seq[(String, DataFrame => DataFrame)](
    "global.emotion_donut" -> (p => ChartQueries.emotionDonut(p)),
    "global.counts_donut" -> (p => ChartQueries.countsDonut(p)),
    "global.positivity_by_topic" -> (p => ChartQueries.positivityByTopic(p)),
    "global.positivity_boxplot" -> (p => ChartQueries.positivityBoxplot(p)),
    "global.latest_inputs" -> (p => ChartQueries.latestInputs(p))) ++
    Seq("day" -> "date", "hour" -> "date_hour").flatMap { case (level, c) =>
      Seq[(String, DataFrame => DataFrame)](
        s"$level.emotion_share" -> (p => ChartQueries.emotionShare(p, c)),
        s"$level.counts_period" -> (p => ChartQueries.countsPeriod(p, c)),
        s"$level.counts_topic_period" -> (p => ChartQueries.countsTopicPeriod(p, c)),
        s"$level.positivity_period" -> (p => ChartQueries.positivityPeriod(p, c)),
        s"$level.positivity_boxplot" -> (p => ChartQueries.positivityBoxplot(p, Some(c))))
    }

  private final class Pipeline(ctx: RunContext, dir: String, gen: TweetGenerator) {
    private val spark = ctx.spark
    private val tracer = ctx.tracer
    private val lake = s"$dir/lake"
    private val sink = new TimedSink(new CompactingAggregateSink(s"$dir/aggregates"), tracer)
    private val scheduler = new HourlyScheduler(spark, lake, sink)
    private val source = {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      MemoryStream[KafkaMsg]
    }
    private val query = tracer.tagged("streaming.ingest", "start") {
      TweetIngest.startLake(TweetIngest.dedupedParse(source.toDF()), lake, s"$dir/checkpoint")
    }
    /** false for the warm-up hours: their calls leave no counts or
      * spans, and their samples are not kept */
    private var timed = false

    val batchMs = mutable.ArrayBuffer.empty[Double]
    val chartMs = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val freshnessS = mutable.ArrayBuffer.empty[Double]
    /** distinct messages of each event hour its first cycle saw */
    val countedAtCycle = mutable.LinkedHashMap.empty[Int, Long]
    var aggRows = 0L
    var donutOk = true
    var hours = 0
    /** time spent making and booking the timed input, outside every
      * metric */
    var generatorNs = 0L
    /** timed hours */
    def timedHours: Int = passS.size

    def startTiming(): Unit = { timed = true; sink.timed = true }

    private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    /** Times of the serving steps of the timed hours, by step: the
      * two scheduler cycles, the compaction, the sink read,
      * `processData` and each chart. */
    val serveSteps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    /** Times of the micro-batches of the timed hours, by position. */
    val loadSteps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    private def step[T](name: String,
        into: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = serveSteps)(body: => T): T = {
      val t = System.nanoTime()
      try body
      finally if (timed) into.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
    }

    private def generating[T](body: => T): T = {
      val t = System.nanoTime()
      try body finally if (timed) generatorNs += System.nanoTime() - t
    }

    /** One event hour, ingest to charts. */
    def pass(): Unit = {
      val h = hours
      val batches = generating(gen.nextHour())
      val t0 = System.nanoTime()
      var lastAdd = t0
      batches.zipWithIndex.foreach { case (b, i) =>
        generating(gen.deliver(b))
        val tb = System.nanoTime()
        lastAdd = tb
        step(s"batch$i", loadSteps) {
          tracer.call("streaming.ingest", "batch", timed = timed) {
            source.addData(b)
            query.processAllAvailable()
          }
        }
        if (timed) batchMs += ms(tb)
      }
      val ingested = System.nanoTime()
      val due = LocalDateTime.ofInstant(gen.hourStart(h + 1), ZoneOffset.UTC)
      sink.clock = due.plusMinutes(5)
      val cycleRows = step("runOnce") {
        tracer.call("pipeline.scheduler", "runOnce", timed = timed)(scheduler.runOnce(sink.clock))
      }
      countedAtCycle(h) = gen.uniqueByHour(h)
      // an at-least-once re-append of the same hour, later in its bucket
      sink.clock = due.plusMinutes(35)
      val replayRows = step("runOnce.replay") {
        tracer.call("pipeline.scheduler", "runOnce", timed = timed)(scheduler.runOnce(sink.clock))
      }
      step("compact")(sink.compact(spark))
      val raw = step("read")(sink.readBack(spark))
      val processed = step("process_data") {
        tracer.call("serving.charts", "process_data", kind = "process_data", timed = timed) {
          val p = ChartQueries.processData(raw)
          spark.createDataFrame(p.collect().toList.asJava, p.schema)
        }
      }
      charts.foreach { case (chart, f) =>
        val tc = System.nanoTime()
        val rows = step(chart)(tracer.call("serving.charts", chart, timed = timed)(f(processed).collect()))
        if (timed) chartMs += ms(tc)
        if (chart == "global.counts_donut")
          donutOk &&= math.abs(rows.map(_.getAs[Double]("percent")).sum - 1.0) < 1e-9
      }
      val end = System.nanoTime()
      if (timed) {
        aggRows += cycleRows + replayRows
        freshnessS += (end - lastAdd) / 1e9
        passS += (end - t0) / 1e9
      }
      Log.phase(f"hour $h: load ${(ingested - t0) / 1e9}%.3f s, serve ${(end - ingested) / 1e9}%.3f s")
      hours += 1
    }

    def stop(): Unit = query.stop()

    /** Row conservation at every layer, checked after the stream stops. */
    def checks(): Seq[Check] = {
      val lakeRows = spark.read.schema(TweetIngest.lakeSchema).parquet(lake)
      val lakeTotal = lakeRows.count()
      val expected = gen.delivered - gen.redeliveries
      val byHour = lakeRows
        .groupBy(col("date"), col("hour")).count().collect()
        .map(r => hourIndex(s"${r.getString(0)}T${r.getString(1)}:00:00Z") -> r.getLong(2)).toMap
      val lakeHoursOk = gen.uniqueByHour.forall { case (h, n) => byHour.getOrElse(h, 0L) == n } &&
        byHour.keySet == gen.uniqueByHour.keySet
      sink.inner.compact(spark)
      val stored = ChartQueries.processData(sink.inner.readBack(spark)).collect()
      val storedRaw = sink.inner.readBack(spark).count()
      val served = stored.groupBy(r => r.getAs[Timestamp]("date_hour").toInstant)
        .map { case (bucket, rs) => bucket -> rs.map(_.getAs[Long]("counts")).sum }
      val servedOk = countedAtCycle.forall { case (h, n) =>
        served.get(gen.hourStart(h + 1)).contains(n) }
      Seq(
        Check("lake_rows_equal_fed_minus_redeliveries", lakeTotal == expected,
          s"lake=$lakeTotal fed=${gen.delivered} redeliveries=${gen.redeliveries}"),
        Check("lake_rows_per_hour_equal_generated", lakeHoursOk, s"hours=${byHour.size}"),
        // every hour was appended twice: equal counts mean the replay
        // was not counted again
        Check("served_counts_equal_lake_rows_per_hour_once", servedOk,
          s"hours=${countedAtCycle.size} served_buckets=${served.size}"),
        Check("counts_donut_shares_sum_to_1", donutOk, ""),
        Check("one_stored_row_per_topic_hour_after_compaction",
          storedRaw == stored.length, s"stored=$storedRaw served=${stored.length}"))
    }

    def lakeRowCount(): Long = spark.read.schema(TweetIngest.lakeSchema).parquet(lake).count()
    def storedRowCount(): Long = sink.inner.readBack(spark).count()

    private def hourIndex(iso: String): Int =
      ((Instant.parse(iso).getEpochSecond - TweetGenerator.Epoch.getEpochSecond) / 3600).toInt
  }

  /** A typical timed hour: each step's median over the timed hours,
    * summed over the steps. */
  private def medianSum(steps: collection.Map[String, mutable.ArrayBuffer[Double]]): Double =
    steps.values.map(v => Stats.median(v.toSeq)).sum

  def run(ctx: RunContext): Outcome = {
    val gen = new TweetGenerator(ctx.seed, HourSizing)
    val p = ctx.untimed {
      val p = new Pipeline(ctx, s"${ctx.workDir}/pipeline", gen)
      (1 to WarmUpHours).foreach(_ => p.pass())
      p
    }
    val (fedBefore, lakeBefore) = ctx.untimed((gen.delivered, p.lakeRowCount()))
    Log.phase("warm-up done")
    // the stream's warm-up batches carried the ingest tag
    ctx.listeners.foreach(_.reset())
    p.startTiming()
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    while (p.timedHours == 0 || System.nanoTime() < deadline) p.pass()
    val timedNs = System.nanoTime() - t0 - p.generatorNs
    p.stop()
    Log.phase(s"timed loop done: ${p.timedHours} hours")
    val storedRows = p.storedRowCount()
    val checks = p.checks()
    val lakeRows = p.lakeRowCount()
    Log.phase("checks done")
    val ingestS = ctx.tracer.selfNs("streaming.ingest") / 1e9
    Outcome(
      e2e = Map(
        "load_s" -> medianSum(p.loadSteps),
        "serve_s" -> medianSum(p.serveSteps)),
      attempted = p.batchMs.size + p.chartMs.size + p.timedHours,
      checks = checks,
      layerInfo = Map(
        "streaming.ingest.rows_in" -> (gen.delivered - fedBefore).toDouble,
        "streaming.ingest.rows_out" -> (lakeRows - lakeBefore).toDouble,
        // over the whole run, warm-up hours included
        "streaming.ingest.dedup_hit_ratio" ->
          (if (gen.redeliveries == 0) 0.0 else (gen.delivered - lakeRows).toDouble / gen.redeliveries),
        "streaming.ingest.rows_per_s" -> (lakeRows - lakeBefore) / ingestS,
        "pipeline.scheduler.agg_rows" -> p.aggRows.toDouble,
        "pipeline.sink.stored_rows" -> storedRows.toDouble,
        "serving.charts.query_p50_ms" -> Stats.quantile(p.chartMs.toSeq, 0.5),
        "serving.charts.query_p90_ms" -> Stats.quantile(p.chartMs.toSeq, 0.9)),
      info = Map(
        "hours" -> p.timedHours.toDouble,
        "batches" -> p.batchMs.size.toDouble,
        "chart_queries" -> p.chartMs.size.toDouble,
        "ingest_rows_per_s" -> (lakeRows - lakeBefore) / ingestS,
        "pass_s" -> Stats.median(p.passS.toSeq),
        "first_hour_s" -> p.passS.head,
        "ingest_batch_p50_ms" -> Stats.quantile(p.batchMs.toSeq, 0.5),
        "ingest_batch_p90_ms" -> Stats.quantile(p.batchMs.toSeq, 0.9),
        "freshness_p50_s" -> Stats.median(p.freshnessS.toSeq),
        "chart_p50_ms" -> Stats.quantile(p.chartMs.toSeq, 0.5),
        "chart_p90_ms" -> Stats.quantile(p.chartMs.toSeq, 0.9)),
      timedNs = timedNs)
  }
}
