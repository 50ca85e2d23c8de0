package graft.perfbench

import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.SparkEntry

object Suite {
  /** The suite's queries (a subset of `Bench.benchQueries`) and the module
   * that backs each. */
  val queries: Seq[(String, String)] = Seq(
    "q1_agg" -> "Relational",
    "dedup_minhash_pairs" -> "Dedup",
    "dedup_simhash" -> "Dedup",
    "sim_topk_lsh" -> "Similarity",
    "text_quality" -> "TextStats",
    "gopher_keep" -> "Gopher")
  val modules: Seq[String] = queries.map(_._2).distinct
  val tables: Seq[String] = Seq("documents", "embeddings", "lineitem")
}

/** Operator suite: the queries over fixed tables, in an order drawn from the
 * seed. The first pass in the fresh JVM is timed on its own; later passes
 * are timed warm. A query runs to its full result through its own
 * QueryExecution, as a consumer of the frame would. */
final class Suite(ctx: Ctx) {
  import ctx._
  import Suite._
  private val sc = spark.sparkContext

  /** Query layers only (`Queries.*_s`, `ops.*`), for the traced run of
   * another workload: one untimed pass in query order, the digest checks,
   * then one traced pass. */
  def probeLayers(): Unit = {
    val d = work("data-probe")
    Files.createDirectories(d)
    tables.foreach(t => Files.copy(opts.data.resolve(s"$t.parquet"),
      d.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
    val order = queries.map(_._1)
    val on = tracer.on
    tracer.on = false
    order.foreach { q =>
      runs(q) += 1
      res.attempted += 1
      checkRows(q, SparkEntry.queries(q)(spark, d.toString).queryExecution.toRdd.count())
    }
    verify(d.toString)
    tracer.on = on
    tracedPass(order, d.toString, None)
    countFailures()
  }

  def run(): Unit = {
    val mats = (1 to 3).map { k =>
      graft.Bench.time {
        val d = work(s"data-$k")
        Files.createDirectories(d)
        tables.foreach(t => Files.copy(opts.data.resolve(s"$t.parquet"),
          d.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
      }._2
    }
    val dir = work("data-1").toString
    val inBytes = tables.map(t => Files.size(opts.data.resolve(s"$t.parquet"))).sum
    res.info("input_bytes") = inBytes
    res.info("materialize_s") = mats
    val order = new scala.util.Random(opts.seed).shuffle(queries.map(_._1))
    res.info("query_order") = order

    var coldCodegenS = 0.0
    def pass(tag: String): (Double, Seq[(String, Double)], EngineStats) = {
      engine.begin(sc)
      tracer.pass = tag
      val cg0 = CodeGenerator.compileTime
      val (times, total) = graft.Bench.time(order.map { q =>
        runs(q) += 1
        res.attempted += 1
        val (n, s) = graft.Bench.time(SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count())
        checkRows(q, n)
        q -> s
      })
      if (tag == "cold") coldCodegenS = (CodeGenerator.compileTime - cg0) / 1e9
      (total, times, engine.end(sc))
    }

    tracer.on = false
    Heap.resetPeak()
    val cold = pass("cold")
    verify(dir)
    // two warm-up passes besides the untimed verification: the passes after
    // the cold one keep getting faster while the JIT compiles driver code
    val warmups = (0 until 2).map(i => pass(s"warmup$i"))
    val warm = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)], EngineStats)]
    var warmS = 0.0
    while (warmS < opts.seconds || warm.size < 5) {
      val p = pass(s"warm${warm.size}")
      warm += p
      warmS += p._1
    }
    val heapPeak = Heap.peakMb
    val perQuery = warm.flatMap(_._2).groupBy(_._1).map { case (q, ts) =>
      q -> Stats.median(ts.map(_._2).toSeq) }
    // one warm pass, built from each query's median so a single slow run
    // of one query does not move it
    val warmMedian = perQuery.values.sum
    val geo = Stats.geomean(perQuery.values.toSeq)
    val setupS = jvmToSessionS + Stats.median(mats) + cold._1 + warmups.map(_._1).sum
    res.info("pass_s") = (Seq(cold) ++ warmups ++ warm).map(_._1)
    res.info("cold_query_s") = cold._2.toMap
    res.info("warm_query_median_s") = perQuery

    res.e2e("setup_s") = (setupS, "s")
    res.e2e("warm_pass_s") = (warmMedian, "s")
    res.e2e("op_geomean_s") = (geo, "s")
    val n = warm.size
    res.report += (("setup_s", setupS, "s",
      "JVM→session + median of 3 input materializations + cold pass + 2 warm-up passes"))
    res.report += (("suite_cold_s", cold._1, "s", s"${queries.size} queries, first pass in a fresh JVM, n=1"))
    res.report += (("suite_warm_s", warmMedian, "s", s"sum of per-query medians, n=$n each; no tail percentile below 10 samples"))
    res.report += (("query_geomean_s", geo, "s", s"geomean of per-query warm medians (n=$n each)"))

    if (opts.trace) {
      Main.putEngine(res, warm.map(p => (p._3, p._1)).toSeq, cpus)
      res.layers("jvm.heap_peak_mb") = (heapPeak, "MB")
      tracer.on = true
      tracedPass(order, dir, Some(warmMedian))
      res.layers("Catalyst.codegen_s") = (coldCodegenS, "s")
      tracer.on = false
    }

    // verification ran between the cold pass and the warm window, where it
    // doubles as a warm-up
    countFailures()
    val ratio = outBytes.toDouble / inBytes
    res.e2e("out_bytes_per_in_byte") = (ratio, "ratio")
    res.report += (("out_bytes_per_in_byte", ratio, "ratio", s"result JSON $outBytes bytes / input parquet $inBytes bytes"))
  }

  private val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var outBytes = 0L
  private val failedQueries = mutable.ArrayBuffer.empty[String]
  private val rowMismatches = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

  /** A query whose digest failed fails all its runs, and a run whose row
   * count failed fails on its own. */
  private def countFailures(): Unit = {
    queries.foreach { case (q, _) =>
      res.failed += (if (failedQueries.contains(q)) runs(q) else rowMismatches.get(q).fold(0)(_.size))
    }
    res.gate("row_count_every_run", rowMismatches.isEmpty,
      if (rowMismatches.isEmpty) s"${runs.values.sum} runs match the recorded row count"
      else rowMismatches.map { case (q, ns) => s"$q returned ${ns.mkString(",")}" }.mkString("; "))
  }

  /** A timed run fails if the row count it returned is not the recorded
   * one (checked outside the timing). */
  private def checkRows(q: String, n: Long): Unit =
    if (!expected.get("suite", "-", q).map(_._1).contains(n))
      rowMismatches.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += n

  /** Row count and digest of every query against the record (untimed). */
  private def verify(dir: String): Unit =
    queries.foreach { case (q, _) =>
      val (rows, d, bytes) = Digest.withBytes(SparkEntry.queries(q)(spark, dir))
      outBytes += bytes
      val want = expected.get("suite", "-", q)
        .map { case (r, x) => (r, if (opts.injectWrongDigest) "0" + x else x) }
      if (!res.gate(s"digest.$q", want.contains((rows, d)),
          s"$rows rows $d vs recorded ${want.map(w => s"${w._1} rows ${w._2}").getOrElse("none")}"))
        failedQueries += q
    }

  /** One pass with each query split into build (the query function and its
   * eager jobs), the planning phases of its QueryExecution, and execution
   * through that same QueryExecution. */
  private def tracedPass(order: Seq[String], dir: String, untracedMedian: Option[Double]): Unit = {
    tracer.pass = "traced"
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val perModule = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var maxMethod = 0L
    val (_, total) = graft.Bench.time(tracer.span("pass") {
      order.foreach { q =>
        runs(q) += 1
        res.attempted += 1
        tracer.span(s"query.$q") {
          val (df, b) = graft.Bench.time(tracer.span("Queries.build")(SparkEntry.queries(q)(spark, dir)))
          val qe = df.queryExecution
          val (_, o) = graft.Bench.time(tracer.span("Catalyst.optimize")(qe.optimizedPlan))
          val (_, p) = graft.Bench.time(tracer.span("Catalyst.plan")(qe.executedPlan))
          val (n, e) = graft.Bench.time(tracer.span("Queries.execute")(qe.toRdd.count()))
          checkRows(q, n)
          val ph = Plans.phaseSeconds(qe)
          acc("Queries.build_s") += b
          acc("Catalyst.analyze_s") += ph.getOrElse("analysis", 0.0)
          acc("Catalyst.optimize_s") += ph.getOrElse("optimization", 0.0)
          acc("Catalyst.plan_s") += ph.getOrElse("planning", 0.0)
          acc("Queries.execute_s") += e
          acc("accounted") += b + o + p + e
          perModule(queries.toMap.apply(q)) += e
          maxMethod = math.max(maxMethod,
            scala.util.Try(Plans.maxMethodBytes(qe.executedPlan)).getOrElse(0L))
        }
      }
    })
    Seq("Queries.build_s", "Queries.execute_s").foreach(k => res.layers(k) = (acc(k), "s"))
    modules.foreach(m => res.layers(s"ops.$m.execute_s") = (perModule(m), "s"))
    // the rest only when the suite is the run's own workload; a probe in
    // another workload's traced run leaves that workload's figures alone
    untracedMedian.foreach { u =>
      Seq("Catalyst.analyze_s", "Catalyst.optimize_s", "Catalyst.plan_s")
        .foreach(k => res.layers(k) = (acc(k), "s"))
      res.layers("Catalyst.codegen_max_method_bytes") = (maxMethod.toDouble, "bytes")
      res.layers("trace.untraced_pass_s") = (u, "s")
      res.layers("trace.traced_pass_s") = (total, "s")
      res.layers("trace.overhead_s") = (total - u, "s")
      res.layers("trace.residual_s") = (total - acc("accounted"), "s")
    }
  }
}

/** Prints expectation rows (`perfbench/expected.tsv` format) instead of
 * measuring: `suite` for the suite's queries, or `extract:<seeds>` (a
 * comma-separated list of seeds and ranges such as `0-31`) for the span output of `Pipeline.extract` on those seeds' corpora. */
object Record {
  def run(ctx: Ctx, what: String): Unit = {
    import ctx._
    if (what == "suite") {
      val d = work("data-rec")
      Files.createDirectories(d)
      Suite.tables.foreach(t => Files.copy(opts.data.resolve(s"$t.parquet"),
        d.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
      Suite.queries.foreach { case (q, _) =>
        val (rows, dg) = Digest.of(SparkEntry.queries(q)(spark, d.toString))
        println(s"suite\t-\t$q\t$rows\t$dg")
      }
    } else what.stripPrefix("extract:").split(",").flatMap { r =>
      r.split("-") match {
        case Array(a, b) => (a.toLong to b.toLong).map(_.toString)
        case _ => Seq(r)
      }
    }.foreach { s =>
      val in = work(s"rec-$s").toString
      graft.extract.Synthetic.transcripts(spark, Extract.nConvs, s.toLong).write.parquet(in)
      val turns = spark.read.parquet(in)
      val (rows, dg) = Digest.of(graft.extract.Pipeline.extract(turns))
      // recorded only where the resumable path agrees on the same corpus
      val io = new graft.extract.LocalSnapshotIO(work(s"rec-$s-snap").toString)
      val other = Digest.of(graft.extract.Pipeline.runResumable(turns, io))
      require(other == ((rows, dg)), s"seed $s: extract $rows $dg vs runResumable $other")
      println(s"extract\t$s\tspans\t$rows\t$dg")
    }
  }
}
