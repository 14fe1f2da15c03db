package perfbench

import scala.collection.mutable

import graft.util.SparkUtil

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json> --launch-ms <epoch ms>
  *                [--data <dir> --queries <q1,q2,...>] [--dump-oracle <path>]
  * }}}
  *
  * The session is `SparkUtil.newLocalSession` on all cores, with nothing
  * set on top of it. `--launch-ms` is the wall time the launcher started
  * this JVM; set-up time counts from there. The result (verdict, counts,
  * every metric, environment) is written to `--out`; a traced run also
  * writes its spans next to it. `--dump-oracle` writes
  * `SparkEntry.oracleSql` as JSON (input of make_expected.py). */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkUtil.newLocalSession("perfbench", nproc.toString)
    // Spark's non-daemon threads would keep a failed run's JVM alive
    try run(opt, spark, nproc) catch {
      case e: Throwable => e.printStackTrace(); System.exit(1)
    }
    spark.stop()
    System.exit(0)
  }

  private def run(opt: Map[String, String], spark: org.apache.spark.sql.SparkSession,
      nproc: Int): Unit = {
    Codegen.install()
    val tracer = new Tracer
    val names = mutable.Map[String, String]()
    val probes =
      if (opt("trace") == "1") Some(Probe.attach(spark, tracer, id => names.getOrElse(id, id)))
      else None
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, opt("work"),
      opt("launch-ms").toLong, tracer, probes, names)
    val (gc0, jit0, steal0) = (Jvm.gcMs, Jvm.jitMs, Jvm.hostStealS)
    val r = opt("workload") match {
      case "chain_backfill" => Workloads.chainBackfill(ctx)
      case "registry_sf0.1" => Registry.run(ctx, opt("data"), opt("queries").split(',').toSeq)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val (compiles, compileMs, failures) = Codegen.snapshot
    val jvm = Map(
      "spark.codegen_compiles" -> compiles.toDouble,
      "spark.codegen_compile_ms" -> compileMs,
      "spark.codegen_failures" -> failures.toDouble,
      "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
      "jvm.jit_ms" -> (Jvm.jitMs - jit0).toDouble,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "peak_rss_mb" -> Jvm.peakRssMb,
      "jvm.cpu_s" -> Jvm.cpuS)
    val env = Map(
      "nproc" -> nproc,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "heap_max_mb" -> Jvm.heapMaxMb.round,
      "host_steal_s" -> (Jvm.hostStealS - steal0))
    if (ctx.traced) Json.write(opt("out") + ".spans.json", tracer.all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "dur_ms" -> s.durMs, "attrs" -> s.attrs)
    })
    Json.write(opt("out"), Map(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> (r.metrics ++ jvm), "env" -> env, "detail" -> r.detail))
    opt.get("dump-oracle").foreach(Json.write(_, graft.SparkEntry.oracleSql))
  }
}
