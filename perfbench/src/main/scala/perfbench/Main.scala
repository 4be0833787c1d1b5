package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** The benchmark JVM: one run of one workload.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --out <result.json> --work <scratch dir> --data <fixture dir>
  *     --config <workloads.json>
  * perfbench.Main --pin ...        (registry pins of this tree, no timing)
  * perfbench.Main --list-metrics   (metric names, units, directions)
  * }}}
  *
  * It writes one JSON object to `--out` (perfbench/run.py turns it into
  * the result line) and exits nonzero if a call failed or a check did
  * not hold. */
object Main {
  val workloads: Map[String, Workload] =
    Seq[Workload](TweetPipeline, RegistryBatch).map(w => w.name -> w).toMap

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    if (args.contains("--list-metrics")) {
      def defs(ms: Seq[MetricDef]) = ms.map(m => Map("name" -> m.name, "unit" -> m.unit, "better" -> m.better))
      println(json.writeValueAsString(Map("end_to_end" -> defs(Metrics.EndToEnd), "per_layer" -> defs(Metrics.PerLayer))))
      return
    }
    val opts = args.filterNot(_ == "--pin").grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val pinMode = args.contains("--pin")
    val workload = if (pinMode) RegistryBatch else workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val traced = opts.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = opt("work")
    val config = WorkloadConfig.load(opt("config"))

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log.phase("session started")
    val tracer = new Tracer(spark, traced)
    val listeners = if (traced) Some(new LayerListeners(spark)) else None
    listeners.foreach(_.register())
    val ctx = new RunContext(spark, tracer, listeners, opt("seed").toLong,
      opts.getOrElse("seconds", "0").toInt, work, opt("data"), config)

    if (pinMode) {
      val pins = RegistryBatch.pins(ctx)
      Files.writeString(Paths.get(opt("out")), json.writeValueAsString(pins.map { case (r, n, h, built) =>
        Map("row" -> r, "rows" -> n, "hash" -> h, "builds" -> built) }), StandardCharsets.UTF_8)
      spark.stop()
      return
    }

    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val outcome =
      try Some(workload.run(ctx))
      catch {
        case NonFatal(e) if tracer.failures.nonEmpty => None
        case NonFatal(e) =>
          tracer.failures += Failure("benchmark", workload.name, s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    listeners.foreach(_.drain())

    val result = outcome match {
      case Some(o) =>
        val e2e = o.e2e + ("setup_s" -> (sessionS + ctx.untimedNs / 1e9))
        val perLayer = Metrics.perLayer(tracer, listeners, o.layerInfo)
        val spanInfo = if (traced) writeSpans(opt("out"), tracer, o.timedNs) else Map.empty[String, Double]
        Map(
          "correct" -> (o.checks.forall(_.ok) && tracer.failures.isEmpty),
          "attempted" -> o.attempted,
          "failed" -> tracer.failures.size,
          "end_to_end" -> Metrics.EndToEnd.map(m => m.name -> Map("value" -> e2e(m.name), "unit" -> m.unit)).toMap,
          "per_layer" -> Metrics.PerLayer.map(m => m.name -> Map("value" -> perLayer(m.name), "unit" -> m.unit)).toMap,
          "checks" -> o.checks,
          "failures" -> tracer.failures,
          "info" -> (o.info ++ spanInfo ++ Map("timed_s" -> o.timedNs / 1e9,
            "session_s" -> sessionS, "peak_rss_mb" -> peakRssMb())))
      case None =>
        Map("correct" -> false, "attempted" -> math.max(1L, tracer.calls.values.sum),
          "failed" -> tracer.failures.size, "failures" -> tracer.failures)
    }
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(result), StandardCharsets.UTF_8)
    Log.phase("result written")
    spark.stop()
    Log.phase("session stopped")
    if (result("correct") != true) sys.exit(1)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Writes the spans beside the result and returns the layers' self
    * times and the share of the timed wall time the top-level spans
    * cover. */
  private def writeSpans(out: String, tracer: Tracer, timedNs: Long): Map[String, Double] = {
    val runId = java.util.UUID.randomUUID().toString
    val base = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "start_us" -> (s.startNs - base) / 1000, "end_us" -> (s.endNs - base) / 1000,
      "ok" -> s.ok))
    Files.writeString(Paths.get(out.stripSuffix(".json") + ".spans.json"),
      json.writeValueAsString(Map("run_id" -> runId, "spans" -> spans)), StandardCharsets.UTF_8)
    val topNs = tracer.spans.filter(_.parent == 0).map(s => s.endNs - s.startNs).sum
    Map("trace.spans" -> tracer.spans.size.toDouble,
      "trace.top_level_share_of_timed" -> topNs.toDouble / timedNs)
  }
}
