package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed call into a layer: the benchmark's own boundary around a
  * public function of the program. `parent` is the id of the
  * enclosing call (0 at top level); every span of one run shares the
  * run id written next to them. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, ok: Boolean)

/** A failed call, kept for the result: the run exits nonzero. */
final case class Failure(layer: String, name: String, error: String)

/** Times every call the benchmark makes into a layer.
  *
  * Each call counts toward its layer's `calls`, `failed` and self time
  * (its duration minus the time of calls nested inside it, so the
  * scheduler's `runOnce` is not charged for the sink appends it makes).
  * With `traced` the call also
  *  - records a [[Span]] in memory, written out when the run ends;
  *  - tags the Spark jobs it starts with its layer (a job tag, which
  *    stream threads started inside the call inherit, and a job group),
  *    so [[LayerListeners]] can attribute tasks, shuffle bytes and
  *    planning time to the layer.
  *
  * Calls made with `timed = false` (the tweet warm-up hour) are checked
  * for failure but leave no counts, tags or spans; [[tagged]] sets the
  * tags without counting. The benchmark drives the
  * program from one thread, so no state here is shared. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private final class Frame(val id: Int, val layer: String, var childNs: Long)
  private var stack: List[Frame] = Nil
  private var nextId = 1

  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[Failure]
  /** Self time, calls and failures per layer and per `layer.kind`. */
  val selfNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val calls = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val failed = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Inclusive time per `layer.kind` (a family build, a sink append). */
  val kindNs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def call[T](layer: String, name: String, kind: String = "", timed: Boolean = true)(
      body: => T): T = {
    if (!timed) return untimed(layer, name)(body)
    val frame = new Frame(nextId, layer, 0L)
    nextId += 1
    val parent = stack.headOption
    if (traced) enterTags(parent.map(_.layer), layer, name)
    stack = frame :: stack
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    catch { case e: Throwable => failures += Failure(layer, name, describe(e)); throw e }
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      val dur = t1 - t0
      parent.foreach(_.childNs += dur)
      selfNs(layer) += dur - frame.childNs
      calls(layer) += 1
      if (!ok) failed(layer) += 1
      if (kind.nonEmpty) kindNs(s"$layer.$kind") += dur
      if (traced) {
        spans += Span(frame.id, parent.map(_.id).getOrElse(0), layer, name, t0, t1, ok)
        leaveTags(layer, parent.map(_.layer))
      }
    }
  }

  /** Runs `body` under the layer's tags, without counting it: for
    * starting a stream before timing starts, so that the stream's jobs,
    * which inherit the tags, are attributed to the layer. */
  def tagged[T](layer: String, name: String)(body: => T): T = {
    if (traced) enterTags(None, layer, name)
    try untimed(layer, name)(body)
    finally if (traced) leaveTags(layer, None)
  }

  private def untimed[T](layer: String, name: String)(body: => T): T =
    try body
    catch { case e: Throwable => failures += Failure(layer, name, describe(e)); throw e }

  private def enterTags(outer: Option[String], layer: String, name: String): Unit = {
    outer.foreach(l => sc.removeJobTag(LayerListeners.tag(l)))
    sc.addJobTag(LayerListeners.tag(layer))
    sc.setJobGroup(layer, name)
  }

  private def leaveTags(layer: String, outer: Option[String]): Unit = {
    sc.removeJobTag(LayerListeners.tag(layer))
    outer match {
      case Some(l) => sc.addJobTag(LayerListeners.tag(l)); sc.setJobGroup(l, l)
      case None => sc.clearJobGroup()
    }
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val head = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
    if (root eq e) head
    else s"$head (cause ${root.getClass.getName}: ${Option(root.getMessage).getOrElse("")})"
  }
}
