package perfbench

import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import graft.streaming.KafkaMsg

/** Sizing of the generated tweet stream. */
final case class TweetSizing(tweetsPerHour: Int, batchesPerHour: Int)

/** Seeded generator of Kafka-shaped tweets for the five reference
  * topics (FIXTURES.md §A), one event-hour at a time.
  *
  * The stream carries the faults a Kafka feed has:
  *  - a skewed topic mix (40/25/17/11/7 %);
  *  - fan-out: 5 % of tweets match two rules and arrive once per topic
  *    (distinct keys, so both are kept);
  *  - redeliveries: 10 % of messages arrive again, same key and value,
  *    in the next micro-batch (the dedup must drop every one);
  *  - late events: about 4 % of an hour's tweets, from its last 20
  *    minutes, arrive with the next hour's first micro-batch — inside
  *    the 2 h watermark, so they are kept and land in their event hour.
  *
  * It keeps the books the correctness checks need: messages and
  * redeliveries delivered, and distinct messages delivered per event
  * hour. */
final class TweetGenerator(seed: Long, sizing: TweetSizing) {
  import TweetGenerator._

  private val rng = new SplittableRandom(seed)
  private var nextId = 1510000000000000000L
  private var carried = Vector.empty[KafkaMsg] // late events + trailing redeliveries
  private var generatedHours = 0

  var delivered = 0L
  var redeliveries = 0L
  /** Distinct messages delivered so far, by event hour index. */
  val uniqueByHour = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val seenKeys = mutable.Set.empty[String]
  private val hourOfKey = mutable.Map.empty[String, Int]

  def hourStart(h: Int): Instant = Epoch.plusSeconds(3600L * h)

  /** The micro-batches of the next event hour, in arrival order. */
  def nextHour(): Seq[Seq[KafkaMsg]] = {
    val h = generatedHours
    generatedHours += 1
    val tweets = Vector.fill(sizing.tweetsPerHour)(tweet(h)).sortBy(_._1)
    val (late, onTimeTweets) = tweets.partition(t => t._1 >= 3600 - 1200 && rng.nextDouble() < 0.12)
    val onTime = onTimeTweets.flatMap(_._2)
    val sized = math.max(1, math.ceil(onTime.size.toDouble / sizing.batchesPerHour).toInt)
    val batches = onTime.grouped(sized).map(_.toVector).toVector
    val first = carried ++ batches.head
    carried = late.flatMap(_._2)
    val withCopies = (first +: batches.tail).map { b =>
      val copies = b.filter(_ => rng.nextDouble() < 0.10)
      (b, copies)
    }
    // each batch's redeliveries ride with the next batch; the last
    // batch's ride with the next hour's first
    val out = withCopies.indices.map { i =>
      withCopies(i)._1 ++ (if (i > 0) withCopies(i - 1)._2 else Vector.empty)
    }
    carried = carried ++ withCopies.last._2
    out
  }

  /** Record a batch as delivered (call when it is handed to the stream). */
  def deliver(batch: Seq[KafkaMsg]): Unit = batch.foreach { m =>
    delivered += 1
    val key = new String(m.key, "UTF-8")
    if (seenKeys.add(key)) uniqueByHour(hourOfKey(key)) += 1
    else redeliveries += 1
  }

  /** (second within the hour, the tweet's messages: one per topic). */
  private def tweet(h: Int): (Int, Vector[KafkaMsg]) = {
    val id = nextId
    nextId += 1
    val sec = rng.nextInt(3600)
    val ts = hourStart(h).plusSeconds(sec.toLong).plusMillis(rng.nextInt(1000).toLong)
    val text = Vector.fill(6 + rng.nextInt(9))(Words(rng.nextInt(Words.size))).mkString(" ")
    val topic = pickTopic()
    val topics =
      if (rng.nextDouble() < 0.05)
        Vector(topic, Topics((Topics.indexOf(topic) + 1 + rng.nextInt(Topics.size - 1)) % Topics.size))
      else Vector(topic)
    val value = s"""{"data": {"id": "$id", "created_at": "${TsFormat.format(ts)}", "text": "$text"}, """ +
      s""""matching_rules": [${topics.map(t => s"""{"id": "${RuleIds(t)}", "tag": "$t"}""").mkString(", ")}]}"""
    (sec, topics.map { t =>
      val key = s"${t.take(2).toUpperCase}$id"
      hourOfKey(key) = h
      KafkaMsg(key.getBytes("UTF-8"), value.getBytes("UTF-8"), t)
    })
  }

  private def pickTopic(): String = {
    val u = rng.nextDouble()
    val i = CumWeights.indexWhere(u < _)
    Topics(if (i < 0) Topics.size - 1 else i)
  }
}

object TweetGenerator {
  val Topics: Vector[String] = Vector("Zelensky", "Putin", "Biden", "NATO", "NoFlyZone")
  private val Weights = Vector(0.40, 0.25, 0.17, 0.11, 0.07)
  private val CumWeights = Weights.scanLeft(0.0)(_ + _).tail
  private val RuleIds = Topics.zipWithIndex.map { case (t, i) => t -> (1510000000000L + i) }.toMap
  val Epoch: Instant = Instant.parse("2022-04-02T00:00:00Z")
  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSX").withZone(java.time.ZoneOffset.UTC)

  /** Vocabulary: the sentiment lexicons and emotion keywords of
    * `graft.pipeline` mixed with neutral words and one non-ASCII word. */
  private val Words: Vector[String] = Vector(
    "good", "great", "fast", "love", "win", "best", "big", "value", "spark",
    "bad", "terrible", "slow", "worst", "hate", "small", "dup", "filter",
    "the", "a", "news", "today", "talks", "border", "meeting", "report",
    "people", "city", "support", "statement", "update", "peace", "aid",
    "week", "morning", "live", "watch", "read", "Київ")
}
