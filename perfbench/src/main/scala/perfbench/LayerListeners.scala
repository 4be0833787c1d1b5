package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SqlInternals}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What Spark reports about the work one layer caused. */
final class LayerCounters {
  var jobs, tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, planMs = 0L
  var batches, batchPlanMs, batchAddMs, batchWalMs, stateCommitMs = 0L
  /** Rows held in state after the layer's latest micro-batch, summed
    * over its streams; state memory is the peak over batches. */
  var stateRows, stateMemBytes = 0L
}

/** A Spark listener and a streaming-query listener, registered by the
  * benchmark in traced runs. Each job carries the layer tag the
  * [[Tracer]] set around the call that caused it, and every count is
  * attributed through that tag: jobs and stages by the tag in their
  * properties, SQL executions (and their planning time) by the tags of
  * their start event, and streams by the tags of the thread that
  * started them (a stream thread inherits them, while the stream
  * replaces the job group with its own run id — which is why the tag,
  * not the group, is the key). Work with no tag (the warm-up, session
  * start-up) is not counted.
  *
  * Planning time is read from the query execution of each SQL
  * execution's end event rather than from a `QueryExecutionListener`:
  * a listener callback gets the query execution but not the execution
  * id that ties it to a layer. */
final class LayerListeners(spark: SparkSession) {
  private val byLayer = new ConcurrentHashMap[String, LayerCounters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val streamLayer = new ConcurrentHashMap[java.util.UUID, String]()
  private val streamState = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  def counters(layer: String): LayerCounters = byLayer.computeIfAbsent(layer, _ => new LayerCounters)

  private def layerOfTags(tags: Iterable[String]): Option[String] =
    tags.collectFirst { case t if t.startsWith(LayerListeners.Prefix) =>
      t.stripPrefix(LayerListeners.Prefix) }

  private def layerOf(props: Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkInternals.JobTagsKey)))
      .flatMap(s => layerOfTags(s.split(SparkInternals.JobTagsSep)))

  private def update(layer: String)(f: LayerCounters => Unit): Unit = {
    val c = counters(layer)
    c.synchronized(f(c))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      layerOf(e.properties).foreach { l =>
        update(l)(_.jobs += 1)
        e.stageIds.foreach(s => stageLayer.put(s, l))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageLayer.get(e.stageId)).foreach { l =>
        val m = e.taskMetrics
        update(l) { c =>
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        layerOfTags(s.jobTags).foreach(l => execLayer.put(s.executionId, l))
      case end: SparkListenerSQLExecutionEnd =>
        // planning time (analysis, optimization, physical planning) from
        // the query's own tracker
        for (l <- Option(execLayer.remove(end.executionId)); qe <- SqlInternals.queryExecution(end)) {
          val ms = qe.tracker.phases.values.map(_.durationMs).sum
          update(l)(_.planMs += ms)
        }
      case _ => ()
    }
  }

  /** Per-micro-batch progress: duration split and state-store figures. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      // delivered on the stream's own thread, which inherited the tags
      // of the layer call that started it
      layerOfTags(spark.sparkContext.getJobTags()).foreach(l => streamLayer.put(e.runId, l))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(streamLayer.get(p.runId)).foreach { l =>
        val d = p.durationMs.asScala
        def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators.toSeq
        val rows = ops.map(_.numRowsTotal).sum
        streamState.put(p.runId, rows)
        update(l) { c =>
          c.batches += 1
          c.batchPlanMs += ms("queryPlanning")
          c.batchAddMs += ms("addBatch")
          c.batchWalMs += ms("walCommit")
          c.stateCommitMs += ops.map(_.commitTimeMs).sum
          c.stateMemBytes = math.max(c.stateMemBytes, ops.map(_.memoryUsedBytes).sum)
          c.stateRows = streamState.asScala.collect {
            case (id, n) if streamLayer.get(id) == l => n.longValue }.sum
        }
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Forget the counts so far, once their events have arrived; which
    * layer each stream, stage and execution belongs to is kept. */
  def reset(): Unit = {
    drain()
    byLayer.clear()
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = SparkInternals.waitUntilEmpty(spark.sparkContext)
}

object LayerListeners {
  val Prefix = "perfbench-layer-"
  def tag(layer: String): String = Prefix + layer
}
