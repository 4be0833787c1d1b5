package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run. */
final class RunContext(
    val spark: SparkSession,
    val tracer: Tracer,
    /** the Spark and stream listeners of a traced run */
    val listeners: Option[LayerListeners],
    val seed: Long,
    val seconds: Int,
    /** scratch root inside the checkout, deleted when the run ends */
    val workDir: String,
    /** the benchmark's own fixture tables (the registry workload) */
    val dataDir: String,
    /** registry row list and pinned results, from workloads.json */
    val config: WorkloadConfig) {

  /** Time spent outside timed calls after session start: fixture
    * generation and warm-up. Part of `setup_s`. */
  var untimedNs = 0L

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }
}

/** Phase markers on stderr (the JVM log), seconds since JVM start. */
object Log {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - start) / 1e3}%.1fs $what")
}

/** One correctness check of a run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload measured. `e2e` holds the end-to-end metrics the
  * workload computes (`load_s`, `serve_s`; Main adds `setup_s`); `layerInfo`
  * the per-layer figures only the workload knows (rows in and out,
  * family build times); `info` figures reported beside the metrics. */
final case class Outcome(
    e2e: Map[String, Double],
    attempted: Long,
    checks: Seq[Check],
    layerInfo: Map[String, Double],
    info: Map[String, Double],
    timedNs: Long)

trait Workload {
  def name: String
  def run(ctx: RunContext): Outcome
}
