package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options; see perfbench/README.md. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, out: Path, expected: Path, data: Path, injectWrongDigest: Boolean,
    record: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.get("trace").contains("1"),
      Paths.get(req("work")), Paths.get(req("out")), Paths.get(req("expected")),
      Paths.get(req("data")), kv.get("inject-wrong-digest").contains("1"), kv.get("record"))
  }
}

/** Expected (rows, digest) per (kind, seed, name), recorded at the commit
 * that defined the benchmark. */
final class Expected(path: Path) {
  private val rows: Map[(String, String, String), (Long, String)] =
    if (!Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t"))
      .map(a => (a(0), a(1), a(2)) -> (a(3).toLong, a(4))).toMap
  def get(kind: String, seed: String, name: String): Option[(Long, String)] =
    rows.get((kind, seed, name))
}

/** What one run collects: metrics, the human report, output gates and the
 * operation counts behind `failed_ratio`. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.ArrayBuffer.empty[(String, Double, String, String)]
  val gates = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def gate(name: String, ok: Boolean, detail: String): Boolean = {
    gates += ((name, ok, detail))
    ok
  }
  def correct: Boolean = gates.forall(_._2) && failed == 0 && attempted > 0
}

/** Shared state of a run. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    val engine: EngineListener, val plans: PlanCapture, val res: Result,
    val expected: Expected, val jvmToSessionS: Double) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  def work(name: String): Path = opts.work.resolve(name)
}

object Main {
  /** Per-layer metrics (units) every traced run reports; a layer the
   * workload does not run reads 0. */
  val layerUnits: Seq[(String, String)] = Seq(
    "Par.clusterBy_s" -> "s", "Structure.keptLines_s" -> "s",
    "Structure.lines_out" -> "count", "Features.segmenter_s" -> "s",
    "Labeler.zones_s" -> "s", "Labeler.body_line_ratio" -> "ratio",
    "Structure.tokensFromLines_s" -> "s", "Structure.tokens_out" -> "count",
    "Features.body_s" -> "s", "BodySpans.spans_s" -> "s",
    "BodySpans.spans_out" -> "count", "Pipeline.build_s" -> "s", "Pipeline.write_s" -> "s",
    "Pipeline.exchanges" -> "count",
    "Labeler.bodyLabels_s" -> "s", "Assemble.bodySpans_s" -> "s",
    "TableIO.commit_labeled_s" -> "s", "TableIO.commit_spans_s" -> "s",
    "TableIO.read_s" -> "s", "TableIO.bytes_written" -> "bytes",
    "TableIO.files_written" -> "count", "Lineage.rows" -> "count",
    "Lineage.parse_failures" -> "count",
    "Queries.build_s" -> "s", "Catalyst.analyze_s" -> "s",
    "Catalyst.optimize_s" -> "s", "Catalyst.plan_s" -> "s",
    "Catalyst.codegen_s" -> "s", "Catalyst.codegen_max_method_bytes" -> "bytes",
    "Queries.execute_s" -> "s") ++
    Suite.modules.map(m => s"ops.$m.execute_s" -> "s") ++ Seq(
    "spark.task_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.fetch_wait_s" -> "s", "spark.spill_mb" -> "MB", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_skew" -> "ratio",
    "spark.core_busy_ratio" -> "ratio", "jvm.heap_peak_mb" -> "MB",
    "trace.untraced_pass_s" -> "s", "trace.traced_pass_s" -> "s",
    "trace.overhead_s" -> "s", "trace.residual_s" -> "s")

  /** Engine metrics of a window, medianed over passes. */
  def putEngine(res: Result, stats: Seq[(EngineStats, Double)], cpus: Int): Unit = {
    def m(f: EngineStats => Double) = Stats.median(stats.map(s => f(s._1)))
    res.layers("spark.task_cpu_s") = (m(_.taskCpuS), "s")
    res.layers("spark.executor_run_s") = (m(_.executorRunS), "s")
    res.layers("spark.gc_s") = (m(_.gcS), "s")
    res.layers("spark.shuffle_write_mb") = (m(_.shuffleWriteMb), "MB")
    res.layers("spark.shuffle_read_mb") = (m(_.shuffleReadMb), "MB")
    res.layers("spark.fetch_wait_s") = (m(_.fetchWaitS), "s")
    res.layers("spark.spill_mb") = (m(_.spillMb), "MB")
    res.layers("spark.jobs") = (m(_.jobs.toDouble), "count")
    res.layers("spark.stages") = (m(_.stages.toDouble), "count")
    res.layers("spark.tasks") = (m(_.tasks.toDouble), "count")
    res.layers("spark.task_skew") = (m(_.taskSkew), "ratio")
    res.layers("spark.core_busy_ratio") =
      (Stats.median(stats.map { case (s, wall) => s.executorRunS / (wall * cpus) }), "ratio")
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Bench.mkSpark("4")
    spark.sparkContext.setLogLevel("ERROR")
    val jvmToSessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val plans = new PlanCapture
    spark.listenerManager.register(plans)
    val res = new Result
    val ctx = new Ctx(spark, opts, new Tracer(opts.trace), engine, plans, res,
      new Expected(opts.expected), jvmToSessionS)
    Files.createDirectories(opts.work)
    Files.createDirectories(opts.out)

    opts.record match {
      case Some(what) => // print expectation rows instead of measuring
        Record.run(ctx, what)
        spark.stop()
        return
      case None => ()
    }

    try opts.workload match {
      case "extract_flagship" => new Extract(ctx, resumable = false).run()
      case "extract_resumable" => new Extract(ctx, resumable = true).run()
      case "operator_suite" => new Suite(ctx).run()
      case w => sys.error(s"unknown workload '$w'")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.attempted += 1
        res.failed += 1
        res.gate("workload_completed", ok = false, e.toString)
    }

    // stamps, taken after the timed passes so they do not warm them
    res.info("workload") = opts.workload
    res.info("seed") = opts.seed
    res.info("trace") = opts.trace
    res.info("cpus") = ctx.cpus
    res.info("machine_cpus") = Runtime.getRuntime.availableProcessors
    res.info("calibration_ms") = graft.Bench.calibrationMs()
    res.info("spark_probe_ms") = graft.Bench.sparkProbeMs(spark)
    res.info("jdk") = System.getProperty("java.version")
    res.info("spark") = spark.version
    res.info("failed_ratio") = res.failed.toDouble / math.max(1L, res.attempted)

    if (opts.trace) for ((n, u) <- layerUnits if !res.layers.contains(n))
      res.layers(n) = (0.0, u)
    val metrics = if (opts.trace) res.layers else res.e2e
    val metricsJson = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Files.write(opts.out.resolve("result.json"), Json(Map(
      "correct" -> res.correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "info" -> res.info, "e2e" -> res.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> res.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "report" -> res.report.map { case (n, v, u, note) =>
        Map("name" -> n, "value" -> v, "unit" -> u, "note" -> note) },
      "gates" -> res.gates.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    )).getBytes("UTF-8"))
    if (opts.trace) Files.write(opts.out.resolve("trace.json"), ctx.tracer.toJson.getBytes("UTF-8"))

    println(s"== ${opts.workload} seed=${opts.seed} trace=${if (opts.trace) 1 else 0} " +
      s"cpus=${ctx.cpus} calibration_ms=${"%.1f".format(res.info("calibration_ms"))} " +
      s"spark_probe_ms=${"%.1f".format(res.info("spark_probe_ms"))} " +
      s"jdk=${res.info("jdk")} spark=${res.info("spark")}")
    res.report.foreach { case (n, v, u, note) =>
      println(f"  $n%-26s $v%14.4f $u%-6s $note") }
    println(f"  ${"failed_ratio"}%-26s ${res.failed.toDouble / math.max(1L, res.attempted)}%14.4f ratio  " +
      s"(${res.failed} of ${res.attempted} operations)")
    res.gates.foreach { case (n, ok, d) => println(s"  gate ${if (ok) "ok  " else "FAIL"} $n: $d") }
    if (opts.trace) {
      println("  -- layers")
      res.layers.foreach { case (n, (v, u)) => println(f"  $n%-36s $v%14.4f $u") }
      println("  -- span self times (s)")
      ctx.tracer.summary.foreach { case (n, c, tot, self) =>
        println(f"  $n%-36s calls $c%4d total $tot%9.3f self $self%9.3f") }
    }
    println(Json(Map("correct" -> res.correct, "attempted" -> res.attempted,
      "failed" -> res.failed, "metrics" -> metricsJson)))
    spark.stop()
    if (!res.correct) sys.exit(1)
  }
}
