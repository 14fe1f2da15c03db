package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run hands back: the check's verdict, the failure count over
  * the attempted operations, every metric by name, and run details. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Map[String, Double], detail: Map[String, Any] = Map.empty)

/** Everything a workload needs from the process that runs it. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val work: String,
    val launchMs: Long, val tracer: Tracer, val probes: Option[(TaskTotals, ProgressLog)],
    val queryNames: mutable.Map[String, String]) {
  def traced: Boolean = probes.isDefined
  def sinceLaunchS: Double = (System.currentTimeMillis() - launchMs) / 1000.0
}

object Workloads {
  import ChainCheck._

  /** Event-time origin of the pre-published backfill ticks: a fixed UTC
    * midnight shifted by whole days from the seed. */
  private def backfillBase(seed: Long): Long =
    1767225600000L + Math.floorMod(seed, 1000L) * 86400000L

  /** How long a backfill pass may run before it gives up on the pairs
    * still without a correct z-score. */
  private val PassTimeoutMs = 150000L

  /** One backfill pass: publish `symbols` × `perSymbol` ticks, then start
    * both jobs on `earliest` with `0 seconds` triggers and run them until
    * every expected (boundary tick, window) pair has its correct z-score
    * (or `PassTimeoutMs` passes). Returns the outcome and its wall time in
    * ms from job start to the last correct z-score's publish stamp. */
  def backfillPass(ctx: Ctx, seed: Long, symbols: Int, perSymbol: Int,
      tag: String): (Chain.Outcome, Double) = {
    Chain.freshTopics()
    val ticks = new Ticks(seed, symbols, perSymbol, backfillBase(seed))
    val n0 = System.nanoTime()
    for (k <- 0 until perSymbol; s <- 0 until symbols) ticks.publish(PriceTopic, s, k)
    val publishMs = (System.nanoTime() - n0) / 1e6
    val expected = Chain.pairs(ticks, 1, perSymbol)
    val check = new ChainCheck(ticks, expected)
    val t0 = System.currentTimeMillis()
    val jobs = ctx.tracer.timed(0, "run.start", Map("pass" -> tag)) {
      Chain.start(ctx.spark, s"${ctx.work}/$tag", "0 seconds")
    }
    ctx.queryNames ++= jobs.names
    while (!check.complete && System.currentTimeMillis() - t0 < PassTimeoutMs &&
        jobs.moving.isActive && jobs.zscore.isActive) {
      Thread.sleep(25)
      check.poll()
    }
    jobs.stop()
    check.poll()
    val done = if (check.firstCorrectMs.isEmpty) System.currentTimeMillis() else check.firstCorrectMs.values.max
    (Chain.Outcome(ticks, expected, check, t0, jobs, publishMs), (done - t0).toDouble)
  }

  /** `chain_backfill`: 30 000 pre-published ticks (50 symbols × 600) per
    * pass; passes repeat until `seconds` have been measured. Each pass
    * plans and compiles its batches afresh, so a warm-up pass would only
    * lengthen set-up. */
  def chainBackfill(ctx: Ctx): Result = {
    val (symbols, perSymbol) = (50, 600)
    val setupS = ctx.sinceLaunchS
    val t0 = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer[(Chain.Outcome, Double, Map[String, Double])]()
    val cpu = mutable.ArrayBuffer[Double]()
    var i = 0
    while (passes.isEmpty || System.currentTimeMillis() - t0 < ctx.seconds * 1000) {
      val w0 = System.currentTimeMillis()
      val c0 = Jvm.cpuS
      val (o, ms) = ctx.tracer.timed(0, "pass", Map("pass" -> i)) {
        backfillPass(ctx, ctx.seed * 7919 + i, symbols, perSymbol, s"pass$i")
      }
      cpu += Jvm.cpuS - c0
      val layer = ctx.probes.map { case (_, prog) =>
        Chain.layers(o, prog.progress, (System.currentTimeMillis() - w0).toDouble)
      }.getOrElse(Map.empty)
      passes += ((o, ms, layer))
      i += 1
    }
    val ticks = symbols.toDouble * perSymbol
    val walls = passes.map(_._2)
    val lat = passes.flatMap { case (o, _, _) => o.correctLatencies(_ => o.startMs) }
    val (p50, p95) = (Stats.median(lat), Stats.quantile(lat, 0.95))
    chainResult(passes.map(_._1).toSeq, Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(walls) / 1000.0, "latency_p50_ms" -> p50, "latency_p95_ms" -> p95,
      "pass_cpu_s" -> Stats.median(cpu),
      "backfill_ticks_per_s" -> ticks / (Stats.median(walls) / 1000.0),
      "zscore_latency_p50_ms" -> p50,
      "zscore_latency_p99_ms" -> Stats.quantile(lat, 0.99)),
      medianLayers(passes.map(_._3).toSeq), Map("passes" -> walls.map(_ / 1000.0)))
  }

  private def medianLayers(ls: Seq[Map[String, Double]]): Map[String, Double] =
    ls.flatMap(_.keys).distinct.map(k => k -> Stats.median(ls.flatMap(_.get(k)))).toMap

  private def chainResult(outcomes: Seq[Chain.Outcome], e2e: Map[String, Double],
      layer: Map[String, Double], detail: Map[String, Any]): Result = {
    val attempted = outcomes.map(_.expected.size.toLong).sum
    val failed = outcomes.map(_.failed.toLong).sum
    val inconsistent = outcomes.map(_.check.zInconsistent).sum
    val badStats = outcomes.map(_.check.badVersions.toLong).sum
    val errors = outcomes.flatMap(o => Seq(o.jobs.moving, o.jobs.zscore).flatMap(_.exception))
      .map(_.getMessage.take(500))
    Result(
      correct = inconsistent == 0 && badStats == 0 && errors.isEmpty,
      attempted = attempted, failed = failed,
      metrics = e2e ++ Map("zscore_fail_ratio" -> failed.toDouble / math.max(1L, attempted)) ++ layer,
      detail = detail ++ Map("pairs" -> attempted, "pairs_without_correct_zscore" -> failed,
        "inconsistent_zscores" -> inconsistent, "stats_versions_matching_no_prefix" -> badStats,
        "query_errors" -> errors))
  }
}
