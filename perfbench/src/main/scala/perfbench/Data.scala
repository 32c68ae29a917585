package perfbench

import graft.core.NewStreamMessage
import graft.streaming.LogEvent

import java.util.UUID
import scala.util.Random

/** A generated corpus document (the `documents` table's columns). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Seeded input generators. The same seed always gives the same inputs;
  * nothing here reads a file. */
object Data {

  def uuid(r: Random): String = new UUID(r.nextLong(), r.nextLong()).toString

  private val EventTypes = Vector("ItemAdded", "ItemRemoved", "QuantityChanged", "CouponApplied", "CheckedOut")
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** One cart event of about 290 bytes of JSON. */
  def cartEvent(r: Random, streamId: String, version: Int): NewStreamMessage = {
    val b = new java.lang.StringBuilder(320)
    b.append("{\"cart\":\"").append(streamId).append("\",\"seq\":").append(version)
      .append(",\"sku\":\"sku-").append(10000 + r.nextInt(90000))
      .append("\",\"qty\":").append(1 + r.nextInt(9))
      .append(",\"price\":").append(r.nextInt(100000) / 100.0)
      .append(",\"currency\":\"EUR\",\"note\":\"")
    var i = 0
    while (i < 160) { b.append(Alphabet.charAt(r.nextInt(Alphabet.length))); i += 1 }
    b.append("\"}")
    NewStreamMessage(uuid(r), EventTypes(r.nextInt(EventTypes.length)), b.toString)
  }

  /** Half-normal choice over `n` items: item 0 is the hottest. */
  def skewed(r: Random, n: Int, sigma: Double): Int =
    math.min(n - 1, math.abs(r.nextGaussian() * sigma).toInt)

  private val Vocab = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Vector("en", "en", "en", "zh", "es", "fr", "de") // about 40% en

  /** `n` documents of 10-100 words over a 30-word vocabulary, 20 sources;
    * 5% are near-duplicates (an earlier text plus one word) and 0.2% are
    * exact duplicates, so every dedup stage has work. */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = new Random(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val t =
        if (i > 10 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else if (i > 10 && r.nextDouble() < 0.002) texts(r.nextInt(i))
        else Iterator.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      texts(i) = t
      Doc(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong)
    }.toVector
  }

  private val LogTypes = Vector("signup", "purchase", "view", "click", "error")
  val EventsStartNs: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000000L
  private val ThirtyDaysNs = 30L * 24 * 3600 * 1000000000L

  /** `n` user events over 30 days from `users` users, in event-time order. */
  def events(seed: Long, n: Int, users: Int): Vector[LogEvent] = {
    val r = new Random(seed)
    Vector.fill(n) {
      val ts = EventsStartNs + (r.nextDouble() * ThirtyDaysNs).toLong / 1000L * 1000L
      val value = math.round(-math.log(1.0 - r.nextDouble()) * 50.0 * 100.0) / 100.0
      LogEvent(r.nextInt(users).toLong, ts, LogTypes(r.nextInt(LogTypes.length)), math.round(value * 1e6))
    }.sortBy(e => (e.tsNanos, e.userId))
  }
}
