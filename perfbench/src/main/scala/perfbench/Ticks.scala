package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.streaming.fake.FakeBroker

/** The tick universe of one run: `symbols` price series on the producer's
  * 100 ms event-time grid, starting at `baseMs` (a multiple of 10 s).
  * Prices are a seeded random walk in cents, so a seed fixes every input.
  * Each tick's creation stamp is the timestamp `FakeBroker.publish`
  * records for it. */
final class Ticks(seed: Long, val symbols: Int, val perSymbol: Int, val baseMs: Long) {
  import Ticks._

  val prices: Array[Array[Double]] = Array.tabulate(symbols) { s =>
    val rnd = new java.util.SplittableRandom(seed * 1000003L + s)
    var cents = 10000L + rnd.nextLong(90000L)
    Array.fill(perSymbol) {
      cents = math.max(100L, cents + rnd.nextLong(-25L, 26L))
      cents / 100.0
    }
  }
  val published: Array[Array[Long]] = Array.fill(symbols)(new Array[Long](perSymbol))

  def symbol(s: Int): String = f"SYM$s%02d"
  val symbolIndex: Map[String, Int] = (0 until symbols).map(s => symbol(s) -> s).toMap
  def eventMs(k: Int): Long = baseMs + GridMs * k
  /** Index of the first tick at or after event time `t` (clamped). */
  def indexAt(t: Long): Int =
    math.min(perSymbol.toLong, math.max(0L, Math.floorDiv(t - baseMs + GridMs - 1, GridMs))).toInt

  def json(s: Int, k: Int): Array[Byte] =
    (s"""{"symbol":"${symbol(s)}","price":${prices(s)(k)},""" +
      s""""event_time":"${iso.format(Instant.ofEpochMilli(eventMs(k)))}"}""").getBytes("UTF-8")

  def publish(topic: String, s: Int, k: Int): Unit = {
    val now = System.currentTimeMillis()
    FakeBroker.publish(topic, symbol(s).getBytes("UTF-8"), json(s, k), now)
    published(s)(k) = now
  }

  /** Moving stats of symbol `s` over the window [end − durMs, end), computed
    * here from the generated prices and independently of the operator
    * library: mean, and the sample standard deviation with the reference's
    * guard (null for one tick, coerced to 0.0). None for an empty window. */
  def windowStats(s: Int, end: Long, durMs: Long): Option[(Double, Double)] = {
    val lo = indexAt(end - durMs)
    val hi = indexAt(end)
    val n = hi - lo
    if (n <= 0) None
    else {
      val p = prices(s)
      var sum = 0.0
      var i = lo
      while (i < hi) { sum += p(i); i += 1 }
      val mean = sum / n
      var ss = 0.0
      i = lo
      while (i < hi) { val d = p(i) - mean; ss += d * d; i += 1 }
      Some((mean, if (n < 2) 0.0 else math.sqrt(ss / (n - 1))))
    }
  }
}

object Ticks {
  val GridMs = 100L
  val SlideMs = 10000L
  /** The reference's six windows (moving_statistic.py:54-62), by tag. */
  val Windows: Seq[(String, Long)] = Seq(
    "30s" -> 30000L, "1m" -> 60000L, "5m" -> 300000L,
    "15m" -> 900000L, "30m" -> 1800000L, "1h" -> 3600000L)
  val WindowMs: Map[String, Long] = Windows.toMap

  /** The producer's event_time rendering (ISO-8601, milliseconds, UTC). */
  val iso: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(ZoneOffset.UTC)

  /** z = (price − avg) / std, 0.0 when std is 0 or NaN (guard before the
    * division, as the reference does). */
  def zscore(price: Double, avg: Double, std: Double): Double =
    if (std == 0.0 || std.isNaN) 0.0 else (price - avg) / std
}
