package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{MovingStatsJob, ZScoreJob}
import graft.streaming.fake.FakeBroker

/** (window end or tick event time, symbol index, window tag). */
final case class Key(endMs: Long, sym: Int, win: String)

/** Reads `btc-price-moving` and `btc-price-zscore` incrementally from the
  * broker double and checks every record against the reference computed
  * from the generated ticks.
  *
  *  - A z-score is *correct* when it equals the z-score of its tick over the
  *    complete window [T − d, T) within `Tol`.
  *  - Every emitted z-score must also equal the z-score of its tick under
  *    one of the stats versions published for its (T, symbol, window);
  *    one that matches none is *inconsistent* and fails the run's check.
  *  - Every stats version of an expected pair must equal the reference
  *    over a prefix of its window's ticks, or the run's check fails. */
final class ChainCheck(ticks: Ticks, expected: Set[Key]) {
  import ChainCheck._

  private val movingPos = mutable.HashMap[Int, Long]()
  private val zPos = mutable.HashMap[Int, Long]()
  private val reference = mutable.HashMap[Key, Option[(Double, Double)]]()
  val versions = mutable.HashMap[Key, mutable.ArrayBuffer[(Double, Double)]]()
  val statsFinalMs = mutable.HashMap[Key, Long]()
  val firstCorrectMs = mutable.HashMap[Key, Long]()
  var zEntries = 0L
  var zCorrect = 0L
  var zInconsistent = 0L

  private def ref(k: Key): Option[(Double, Double)] =
    reference.getOrElseUpdate(k, ticks.windowStats(k.sym, k.endMs, Ticks.WindowMs(k.win)))

  private def fetchNew(topic: String, pos: mutable.HashMap[Int, Long])(f: FakeBroker.Rec => Unit): Unit = {
    val end = FakeBroker.latestOffsets(topic)
    end.indices.foreach { p =>
      FakeBroker.fetch(topic, p, pos.getOrElse(p, 0L), end(p)).foreach(f)
      pos(p) = end(p)
    }
  }

  def poll(): Unit = {
    fetchNew(MovingTopic, movingPos) { r =>
      val n = Json.mapper.readTree(r.value)
      val end = parseTs(n.get("timestamp").asText)
      val sym = ticks.symbolIndex(n.get("symbol").asText)
      n.get("windows").elements().asScala.foreach { w =>
        val k = Key(end, sym, w.get("window").asText)
        val (avg, std) = (num(w.get("avg_price")), num(w.get("std_price")))
        versions.getOrElseUpdate(k, mutable.ArrayBuffer()) += ((avg, std))
        if (!statsFinalMs.contains(k) && ref(k).exists { case (ra, rs) =>
            Stats.close(avg, ra, Tol) && Stats.close(std, rs, Tol) })
          statsFinalMs(k) = r.timestampMs
      }
    }
    fetchNew(ZTopic, zPos) { r =>
      val n = Json.mapper.readTree(r.value)
      val t = parseTs(n.get("timestamp").asText)
      val sym = ticks.symbolIndex(n.get("symbol").asText)
      val idx = ((t - ticks.baseMs) / Ticks.GridMs).toInt
      n.get("zscores").elements().asScala.foreach { e =>
        zEntries += 1
        val k = Key(t, sym, e.get("window").asText)
        val z = num(e.get("zscore_price"))
        val onGrid = (t - ticks.baseMs) % Ticks.GridMs == 0 && idx >= 0 && idx < ticks.perSymbol
        val price = if (onGrid) ticks.prices(sym)(idx) else Double.NaN
        val consistent = onGrid && versions.get(k).exists(_.exists { case (a, s) =>
          Stats.close(z, Ticks.zscore(price, a, s), Tol) })
        if (!consistent) zInconsistent += 1
        val correct = onGrid && ref(k).exists { case (a, s) =>
          Stats.close(z, Ticks.zscore(price, a, s), Tol) }
        if (correct) zCorrect += 1
        if (expected(k) && correct && !firstCorrectMs.contains(k)) firstCorrectMs(k) = r.timestampMs
      }
    }
  }

  def complete: Boolean = expected.forall(firstCorrectMs.contains)

  /** Stats versions of expected pairs that equal the reference over no
    * prefix of their window's ticks (each version covers the window's
    * ticks the moving job had read when it ran, which is a prefix in event
    * time). */
  def badVersions: Int = expected.toSeq.map { k =>
    val vs = versions.getOrElse(k, Nil)
    if (vs.isEmpty) 0
    else {
      val p = ticks.prices(k.sym)
      val lo = ticks.indexAt(k.endMs - Ticks.WindowMs(k.win))
      val hi = ticks.indexAt(k.endMs)
      val open = mutable.Set(vs.indices: _*)
      var (n, mean, m2) = (0, 0.0, 0.0)
      var i = lo
      while (i < hi && open.nonEmpty) {
        n += 1
        val d = p(i) - mean
        mean += d / n
        m2 += d * (p(i) - mean)
        val std = if (n < 2) 0.0 else math.sqrt(m2 / (n - 1))
        open.filterInPlace { j => !(Stats.close(vs(j)._1, mean, Tol) && Stats.close(vs(j)._2, std, Tol)) }
        i += 1
      }
      open.size
    }
  }.sum
}

object ChainCheck {
  val PriceTopic = "btc-price"
  val MovingTopic = "btc-price-moving"
  val ZTopic = "btc-price-zscore"
  /** Relative tolerance of every comparison against the reference. */
  val Tol = 1e-9

  private def num(n: JsonNode): Double = if (n == null || n.isNull) Double.NaN else n.asDouble
  def parseTs(s: String): Long =
    LocalDateTime.parse(s.trim.replace(' ', 'T')).toInstant(ZoneOffset.UTC).toEpochMilli
}

/** The paper's chain — ticks → `MovingStatsJob.run` → `ZScoreJob.run` — over
  * the in-JVM broker, driven and measured from outside. */
object Chain {
  import ChainCheck._

  final case class Jobs(moving: StreamingQuery, zscore: StreamingQuery) {
    def stop(): Unit = { moving.stop(); zscore.stop() }
    def names: Map[String, String] = Map(moving.id.toString -> "moving", zscore.id.toString -> "zscore")
  }

  def freshTopics(): Unit = {
    FakeBroker.reset()
    Seq(PriceTopic, MovingTopic, ZTopic).foreach(FakeBroker.createTopic(_))
  }

  def start(spark: SparkSession, dir: String, trigger: String): Jobs = Jobs(
    MovingStatsJob.run(spark, "local", checkpointDir = s"$dir/moving", format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = trigger),
    ZScoreJob.run(spark, "local", checkpointDir = s"$dir/zscore", format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = trigger))

  /** Boundary ticks (event time a multiple of the 10 s slide) in index
    * range [from, until) × the six windows, keeping pairs whose window
    * holds at least one tick. */
  def pairs(ticks: Ticks, from: Int, until: Int): Set[Key] =
    (for {
      s <- 0 until ticks.symbols
      k <- from until until
      t = ticks.eventMs(k) if t % Ticks.SlideMs == 0
      (w, d) <- Ticks.Windows if ticks.windowStats(s, t, d).isDefined
    } yield Key(t, s, w)).toSet

  /** Outcome of one chain run over the expected pairs. */
  final case class Outcome(ticks: Ticks, expected: Set[Key], check: ChainCheck, startMs: Long,
      jobs: Jobs, publishMs: Double) {
    def correctLatencies(from: Key => Long): Seq[Double] =
      expected.toSeq.flatMap(k => check.firstCorrectMs.get(k).map(t => (t - from(k)).toDouble))
    def failed: Int = expected.count(k => !check.firstCorrectMs.contains(k))
  }

  /** Total of a broker offset as a progress report prints it ("[a,b,c]"). */
  private def offsetSum(json: String): Long =
    if (json == null || !json.startsWith("[")) 0L
    else json.stripPrefix("[").stripSuffix("]").split(',').filter(_.nonEmpty).map(_.trim.toLong).sum

  /** Records one source read in one batch. */
  private def read(s: org.apache.spark.sql.streaming.SourceProgress): Long =
    offsetSum(s.endOffset) - offsetSum(s.startOffset)

  /** Per-layer figures of one chain run, from the progress reports of the
    * two queries, the broker's offsets and record stamps, and the check. */
  def layers(o: Outcome, prog: String => Seq[StreamingQueryProgress],
      wallMs: Double): Map[String, Double] = {
    val c = o.check
    def q(name: String, sq: StreamingQuery): Map[String, Double] = {
      val ps = prog(sq.id.toString).filter(_.numInputRows > 0)
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      val last = prog(sq.id.toString).lastOption
      val ops = last.map(_.stateOperators.toSeq).getOrElse(Nil)
      val allOps = prog(sq.id.toString).flatMap(_.stateOperators.toSeq)
      val busy = dur("triggerExecution").sum
      Map(
        s"$name.batches" -> ps.size.toDouble,
        s"$name.trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
        s"$name.trigger_ms_max" -> (0.0 +: dur("triggerExecution")).max,
        s"$name.add_batch_ms_p50" -> Stats.median(dur("addBatch")),
        s"$name.planning_ms_p50" -> Stats.median(dur("queryPlanning")),
        s"$name.wal_commit_ms_p50" -> Stats.median(dur("walCommit")),
        s"$name.busy_share" -> busy / wallMs,
        // the largest backlog one source read in one batch
        s"$name.lag_max" -> (0L +: ps.flatMap(_.sources.map(read))).max.toDouble,
        s"$name.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
        s"$name.state_ops" -> ops.size.toDouble,
        s"$name.state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
        s"$name.state_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum,
        s"$name.state_commit_ms" -> allOps.map(_.commitTimeMs.toDouble).sum,
        s"$name.dropped_by_watermark" -> allOps.map(_.numRowsDroppedByWatermark.toDouble).sum)
    }
    val hopMoving = o.expected.toSeq.flatMap { k =>
      c.statsFinalMs.get(k).map { t =>
        val lastTick = o.ticks.indexAt(k.endMs) - 1
        (t - o.ticks.published(k.sym)(lastTick)).toDouble
      }
    }
    val hopZ = o.expected.toSeq.flatMap(k =>
      for (a <- c.statsFinalMs.get(k); b <- c.firstCorrectMs.get(k)) yield (b - a).toDouble)
    val moving = q("moving", o.jobs.moving)
    // source rows per tick read: each union branch re-reads the tick topic
    val ticksRead = prog(o.jobs.moving.id.toString).flatMap(_.sources.headOption).map(read).sum
    moving ++ q("zscore", o.jobs.zscore) ++ Map(
      "moving.scans_per_tick" -> moving("moving.input_rows") / math.max(1L, ticksRead),
      "moving.versions_per_window" -> Stats.mean(o.expected.toSeq.map(k => c.versions.get(k).map(_.size).getOrElse(0).toDouble)),
      "moving.hop_ms_p50" -> Stats.median(hopMoving),
      "zscore.useful_ratio" -> (if (c.zEntries == 0) 0.0 else c.zCorrect.toDouble / c.zEntries),
      "zscore.hop_ms_p50" -> Stats.median(hopZ),
      "fake.publish_ms" -> o.publishMs,
      "fake.price_records" -> FakeBroker.latestOffsets(PriceTopic).sum.toDouble,
      "fake.moving_records" -> FakeBroker.latestOffsets(MovingTopic).sum.toDouble,
      "fake.zscore_records" -> FakeBroker.latestOffsets(ZTopic).sum.toDouble)
  }
}
