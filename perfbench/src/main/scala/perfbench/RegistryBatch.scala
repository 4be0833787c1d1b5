package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.SignatureLake

/** The lake-backed registry: the 15 `SignatureLake` families are built
  * cold, then a frozen list of registry rows is served from
  * `SparkEntry.queries` over the benchmark's fixture tables, each row
  * forced through the `noop` sink (the whole projection is computed and
  * written, as `graft.Bench` does). Closed loop, one thread: the next
  * row starts when the previous one has been written.
  *
  * The list holds batch rows (layer `operators`, one or more from each
  * of the 11 operator modules, a reader of every lake family, and the
  * inline-derivation controls d05/d14/d15) and a few stream-replay rows
  * (layer `streaming.replay`, `StreamReplay.runReplay`).
  *
  * The run is a batch job as a user runs it: a fresh JVM builds the
  * lake, then serves the rows in an order the seed permutes, in whole
  * passes until the run's seconds, counted from the start of the lake
  * build, are spent. Every served row's count and order-independent
  * result hash, observed on the timed execution itself, must equal the
  * values pinned in workloads.json. There is no
  * separate warm-up pass: the lake build before the first row already
  * runs the planner, the parquet path and code generation, and a
  * second, untimed pass over the rows would double the run. */
object RegistryBatch extends Workload {
  val name = "registry_batch"

  /** The 15 lake families, in build order. */
  val Families: Seq[(String, (SparkSession, String) => Any)] = {
    val L = SignatureLake
    Seq(
      "minhash_sigs" -> L.portableSignatures _,
      "minhash_bands" -> L.portableBandKeys _,
      "minhash_prod_bands" -> L.productionBandRows _,
      "token_counts" -> L.tokenCounts _,
      "term_impacts" -> L.termImpacts _,
      "term_champions" -> L.termChampions _,
      "shingle_index" -> L.shingleIndex _,
      "shingle_sets" -> L.shingleSets _,
      "simhash_fp" -> L.portableFingerprints _,
      "ann_buckets" -> L.portableAnnBuckets _,
      "knn_exact" -> L.exactProbeGraph _,
      "decontam_bloom" -> L.decontamBloomFilter _,
      "ivf_codebook" -> L.trainedIvfCodebook _,
      "span_grams" -> L.spanGrams _,
      "phash" -> L.perceptualHashes _)
  }

  private val moduleQueries: Seq[(String, Seq[graft.GraftQuery])] = {
    import graft.operators._
    Seq(
      "CoreQueries" -> CoreQueries.all, "TextOps" -> TextOps.all,
      "CurationOps" -> CurationOps.all, "DedupOps" -> DedupOps.all,
      "SimilarityOps" -> SimilarityOps.all, "TemporalOps" -> TemporalOps.all,
      "LayoutOps" -> LayoutOps.all, "VectorOps" -> VectorOps.all,
      "MultimodalOps" -> MultimodalOps.all, "ServingQueries" -> ServingQueries.all,
      "ChartRegistry" -> ChartRegistry.all)
  }

  /** The 11 `graft.operators` modules. */
  val OperatorModules: Seq[String] = moduleQueries.map(_._1)

  /** Registry row name → operator module, or `StreamReplay` for the
    * stream-replay rows. */
  lazy val modules: Map[String, String] =
    (moduleQueries :+ ("StreamReplay" -> graft.streaming.StreamReplay.all))
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def layerOf(row: String): String =
    if (modules(row) == "StreamReplay") "streaming.replay" else "operators"

  /** Runs `row` through the `noop` sink, as `graft.Bench` does (the
    * whole projection is computed and written), and returns the row
    * count and an order-independent hash of the result — the sum of
    * each result row's xxhash64 over its JSON form — observed on that
    * same execution. */
  def serve(spark: SparkSession, dataDir: String, row: String): (Long, String) = {
    val df = SparkEntry.queries(row)(spark, dataDir)
    val obs = Observation()
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))).cast("decimal(38,0)")
    df.observe(obs, count(lit(1)).as("n"), coalesce(sum(h), lit(BigDecimal(0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[java.math.BigDecimal].toPlainString)
  }

  /** (row count, hash) of every listed row on this tree — the values
    * workloads.json pins — and the lake families whose table each row
    * was the first to build. The lake starts empty, so every table
    * family shows up under its first reader (the Bloom filter and the
    * IVF codebook are driver-side artifacts, not tables, and do not). */
  def pins(ctx: RunContext): Seq[(String, Long, String, Seq[String])] = {
    val spark = ctx.spark
    def lakeTables(): Set[String] = spark.catalog.listTables().collect().map(_.name).toSet
    ctx.config.registryRows.map { r =>
      val before = lakeTables()
      val (n, h) = serve(spark, ctx.dataDir, r)
      val built = (lakeTables() -- before).toSeq
        .flatMap(t => Families.map(_._1).filter(f => t.startsWith(s"graft_lake_${f}_")))
      (r, n, h, built.sorted)
    }
  }

  def run(ctx: RunContext): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val rows = new scala.util.Random(ctx.seed).shuffle(ctx.config.registryRows)
    rows.foreach(r => require(SparkEntry.queries.contains(r) && modules.contains(r), s"unknown registry row $r"))

    // one tiny untimed job first, as graft.Bench does: the first job of
    // a fresh JVM pays code generation and noop-sink class loading,
    // which belong to set-up, not to the first lake family
    ctx.untimed {
      spark.range(1L << 16).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
    }
    val t0 = System.nanoTime()
    val familyS = Families.map { case (fam, build) =>
      val tf = System.nanoTime()
      tracer.call("sources.lake", fam, kind = fam)(build(spark, ctx.dataDir))
      fam -> (System.nanoTime() - tf) / 1e9
    }
    val lakeNs = System.nanoTime() - t0
    Log.phase("lake built")

    // whole passes over the rows until the run's seconds are spent;
    // counting the lake build keeps the number of passes from flipping
    // between runs when one pass takes about --seconds
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val results = mutable.LinkedHashMap.empty[String, mutable.Set[(Long, String)]]
    val ts = System.nanoTime()
    var passes = 0
    do {
      rows.foreach { row =>
        val tr = System.nanoTime()
        val result = tracer.call(layerOf(row), row, kind = modules(row))(serve(spark, ctx.dataDir, row))
        samples.getOrElseUpdate(row, mutable.ArrayBuffer.empty) += (System.nanoTime() - tr) / 1e6
        results.getOrElseUpdate(row, mutable.Set.empty) += result
      }
      passes += 1
    } while (System.nanoTime() - t0 < ctx.seconds * 1000000000L)
    val timedNs = lakeNs + (System.nanoTime() - ts)
    Log.phase(s"timed loop done: $passes passes")

    val checks = rows.map { row =>
      val pin = ctx.config.pins.get(row)
      val seen = results(row)
      Check(s"pinned_result.$row", pin.exists(p => seen == Set(p)),
        s"seen=${seen.map(r => s"rows=${r._1} hash=${r._2}").mkString(";")} " +
          s"pinned=${pin.map(p => s"rows=${p._1} hash=${p._2}").getOrElse("none")}")
    }
    val all = samples.values.flatten.toSeq
    val serveS = samples.values.map(s => Stats.median(s.toSeq)).sum / 1e3
    val moduleS = OperatorModules.map(m => s"operators.${m}_s" -> tracer.kindNs(s"operators.$m") / 1e9)
    Outcome(
      e2e = Map(
        "load_s" -> lakeNs / 1e9,
        "serve_s" -> serveS),
      attempted = familyS.size + all.size,
      checks = checks,
      layerInfo = (familyS.map { case (f, s) => s"sources.lake.${f}_s" -> s } ++ moduleS).toMap,
      info = samples.map { case (r, s) => s"row_ms.$r" -> Stats.median(s.toSeq) }.toMap ++ Map(
        "row_p50_ms" -> Stats.quantile(all, 0.5),
        "row_p90_ms" -> Stats.quantile(all, 0.9),
        "rows" -> rows.size.toDouble,
        "passes" -> passes.toDouble,
        "replay_s" -> samples.collect { case (r, s) if layerOf(r) == "streaming.replay" =>
          Stats.median(s.toSeq) }.sum / 1e3),
      timedNs = timedNs)
  }
}
