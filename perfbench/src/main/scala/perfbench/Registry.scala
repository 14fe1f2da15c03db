package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** `registry_sf0.1`: the batch query layer. A pass runs each query of the
  * measured set once, in name order, through the public
  * `SparkEntry.queries` map: the query function builds its DataFrame, and
  * writing the result as parquet is the action. The runner digests the
  * files of the last pass and compares them with the committed
  * DuckDB-oracle digests.
  *
  * Set-up runs `WarmupPasses` unmeasured passes and waits for the JIT to
  * go idle: that compiles the queries' generated code and lets the JIT
  * finish with the hot loops at this data size, so the measured passes time
  * steady-state work. With a warm-up on smaller tables, the JIT work left
  * over fell on the measured pass and its time spread by 0.175 of the median
  * over ten runs. The order is fixed, not drawn from the seed, for the same
  * reason; the inputs are the committed tables, so the seed changes nothing
  * here. */
object Registry {

  /** A query's second run still triggers most of the JIT's work on it
    * (16 s of compiler time during the first pass after one warm-up pass,
    * 7 s after two, on 4 cores), so set-up runs two. */
  private val WarmupPasses = 2

  private def module(name: String): String = {
    def in(m: Map[String, _]) = m.contains(name)
    if (in(graft.queries.ReferenceQueries.queries)) "reference"
    else if (in(graft.queries.RelationalQueries.queries)) "relational"
    else if (in(graft.queries.TextQueries.queries)) "text"
    else if (in(graft.queries.SimilarityQueries.queries)) "similarity"
    else "timeseries"
  }

  /** Run `names` in passes until `ctx.seconds` have been measured (at least
    * one pass). */
  def run(ctx: Ctx, data: String, names: Seq[String]): Result = {
    val spark = ctx.spark
    val registry = SparkEntry.queries
    val order = names.sorted
    ctx.tracer.timed(0, "warmup") {
      // a query that throws here throws again in the pass, which counts it
      for (_ <- 1 to WarmupPasses; name <- order)
        try registry(name)(spark, data).write.mode("overwrite").parquet(s"${ctx.work}/warmup/$name")
        catch { case _: Exception => }
      Jvm.awaitJitQuiet()
    }
    val setupS = ctx.sinceLaunchS
    val out = s"${ctx.work}/results"
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val build = mutable.ArrayBuffer[Double]()
    val errors = mutable.LinkedHashMap[String, String]()
    val work = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    val passes = mutable.ArrayBuffer[Double]()
    val cpu = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (passes.isEmpty || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val p0 = System.nanoTime()
      val c0 = Jvm.cpuS
      order.foreach { name =>
        val before = ctx.probes.map(_._1.snapshot)
        val q0 = System.nanoTime()
        val span = ctx.tracer.add(0, "query", System.currentTimeMillis(), 0,
          Map("name" -> name, "pass" -> passes.size))
        try {
          val df = ctx.tracer.timed(span, "build") { registry(name)(spark, data) }
          build += (System.nanoTime() - q0) / 1e6
          ctx.tracer.timed(span, "action") { df.write.mode("overwrite").parquet(s"$out/$name") }
        } catch {
          case e: Throwable => errors(name) = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        }
        times.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - q0) / 1e6
        for (b <- before; a <- ctx.probes.map(_._1.snapshot))
          a.foreach { case (k, v) => work(k) += v - b(k) }
      }
      passes += (System.nanoTime() - p0) / 1e9
      cpu += Jvm.cpuS - c0
    }
    val n = passes.size.toDouble
    val perQuery = times.map { case (k, v) => k -> Stats.median(v) }
    val layer: Map[String, Double] = if (!ctx.traced) Map.empty else {
      val byModule = perQuery.groupBy { case (q, _) => module(q) }
      Seq("reference", "relational", "text", "similarity", "timeseries").map(m =>
        s"registry.${m}_s" -> byModule.get(m).map(_.values.sum / 1000.0).getOrElse(0.0)).toMap ++ Map(
        "registry.build_ms" -> build.sum / n,
        "registry.jobs" -> work("jobs") / n,
        "registry.stages" -> work("stages") / n,
        "registry.tasks" -> work("tasks") / n,
        "registry.shuffle_read_mb" -> work("shuffle_read_bytes") / n / 1048576.0,
        "registry.shuffle_write_mb" -> work("shuffle_write_bytes") / n / 1048576.0,
        "registry.spill_mb" -> work("spill_bytes") / n / 1048576.0,
        "registry.executor_run_s" -> work("executor_run_ms") / n / 1000.0,
        "registry.executor_cpu_s" -> work("executor_cpu_ns") / n / 1e9,
        "registry.task_gc_s" -> work("task_gc_ms") / n / 1000.0,
        "registry.cpu_share" -> work("executor_cpu_ns") / 1e9 /
          (passes.sum * spark.sparkContext.defaultParallelism))
    }
    val passS = Stats.median(passes)
    val p50 = Stats.median(perQuery.values)
    val p95 = Stats.quantile(perQuery.values, 0.95)
    Result(
      correct = true, // the runner compares the written results with the oracle digests
      attempted = names.size, failed = errors.size,
      metrics = Map(
        "setup_s" -> setupS,
        "pass_s" -> passS, "latency_p50_ms" -> p50, "latency_p95_ms" -> p95,
        "pass_cpu_s" -> Stats.median(cpu),
        "registry_s" -> passS, "query_p50_ms" -> p50, "query_p95_ms" -> p95) ++ layer,
      detail = Map("passes" -> passes, "order" -> order, "query_ms" -> perQuery,
        "errors" -> errors, "results" -> out))
  }
}
