package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import graft.extract._
import graft.ops.Par
import graft.plans.BodySpans

/** [[TableIO]] that times each call and counts the bytes and files every
 * commit leaves on disk. A commit's time includes computing the frame it
 * writes (the frame is lazy). */
final class TimingTableIO(root: Path, tracer: Tracer) extends TableIO {
  private val inner = new LocalSnapshotIO(root.toString)
  val commitS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var readS = 0.0
  var commits = 0
  var bytes = 0L
  var files = 0

  private def timedCommit(stage: String, id: String)(f: => Unit): Unit = {
    val (_, s) = graft.Bench.time(tracer.span(s"TableIO.commit.$stage")(f))
    commitS(stage) += s
    commits += 1
    val (b, n) = Files2.dataFiles(root.resolve(stage).resolve(s"snapshot=$id"))
    bytes += b
    files += n
  }
  private def timedRead(f: => DataFrame): DataFrame = {
    val (df, s) = graft.Bench.time(tracer.span("TableIO.read")(f))
    readS += s
    df
  }

  def committedSnapshot(stage: String): Option[String] = inner.committedSnapshot(stage)
  def read(spark: SparkSession, stage: String): DataFrame = timedRead(inner.read(spark, stage))
  def commit(df: DataFrame, stage: String, snapshotId: String): Unit =
    timedCommit(stage, snapshotId)(inner.commit(df, stage, snapshotId))
  def commitAppend(df: DataFrame, stage: String, snapshotId: String): Unit =
    timedCommit(stage, snapshotId)(inner.commitAppend(df, stage, snapshotId))
  def readAt(spark: SparkSession, stage: String, snapshotId: String): DataFrame =
    timedRead(inner.readAt(spark, stage, snapshotId))
  def readIncremental(spark: SparkSession, stage: String,
      fromSnapshot: Option[String]): DataFrame =
    timedRead(inner.readIncremental(spark, stage, fromSnapshot))
  def rollback(stage: String, snapshotId: String): Unit = inner.rollback(stage, snapshotId)
  def history(stage: String): Seq[SnapshotMeta] = inner.history(stage)
  def compact(spark: SparkSession, stage: String, snapshotId: String,
      targetPartitions: Int): Unit =
    timedCommit(stage, snapshotId)(inner.compact(spark, stage, snapshotId, targetPartitions))
}

/** One measured extraction pass and what it left behind. */
final case class Pass(tag: String, seconds: Double, engine: EngineStats,
    outBytes: Long, output: () => DataFrame, qes: Seq[QueryExecution],
    codegenS: Double, io: Option[TimingTableIO])

object Extract {
  /** Conversations per corpus (the 30k-conversation flagship corpus does
   * not fit the run-time budget; see README). */
  val nConvs = 5000L
  /** Seeds whose span digest is recorded: 0 until `recordedSeeds`, and the
   * holdout. */
  val recordedSeeds = 32L
  val holdoutSeed = 9001L
  /** The corpus a seed generates: a recorded seed generates its own; any
   * other seed generates the recorded corpus it maps to, so every run is
   * checked against a recorded digest. */
  def corpusSeed(seed: Long): Long =
    if (seed == holdoutSeed) seed else Math.floorMod(seed, recordedSeeds)
  def turnsOf(n: Long): Long = (0L until n).map(Synthetic.turnsPerConv(_).toLong).sum

  val bodyLineCols = Seq("conv_id", "turn_idx", "role", "tool", "block_idx",
    "line_in_turn", "line_idx", "line")
  val featCols = Seq("conv_id", "turn_idx", "line_in_turn", "tok_idx",
    "tok", "sep_before", "line_trailing", "f_capitalisation")
}

/** The two extraction workloads. `resumable = false` times
 * `Pipeline.extract` → parquet; `resumable = true` times
 * `Pipeline.runResumable` into a fresh snapshot root. Both check their
 * output against the digest recorded for the corpus; the digests were
 * recorded only where the two paths agreed. */
final class Extract(ctx: Ctx, resumable: Boolean) {
  import Extract._
  import ctx._
  private val sc = spark.sparkContext
  private val turns = turnsOf(nConvs)
  private val seed = corpusSeed(opts.seed)
  private lazy val inDir = work("in-1")
  private def input: DataFrame = spark.read.parquet(inDir.toString)

  private def measured(tag: String, counted: Boolean)(
      body: => (Long, () => DataFrame, Option[TimingTableIO])): Pass = {
    engine.begin(sc)
    plans.take(sc)
    val cg0 = CodeGenerator.compileTime
    tracer.pass = tag
    val ((bytes, out, io), s) = graft.Bench.time(tracer.span("pass")(body))
    val eng = engine.end(sc)
    val qes = plans.take(sc).map(_._2)
    if (counted) res.attempted += 1
    Pass(tag, s, eng, bytes, out, qes, (CodeGenerator.compileTime - cg0) / 1e9, io)
  }

  private def flagshipPass(tag: String): Pass = measured(tag, counted = true) {
    val out = work(s"out-$tag")
    val spans = tracer.span("Pipeline.extract")(Pipeline.extract(input))
    tracer.span("write")(spans.write.parquet(out.toString))
    (Files2.dataFiles(out)._1, () => spark.read.parquet(out.toString), None)
  }

  private def resumablePass(tag: String): Pass = measured(tag, counted = true) {
    val root = work(s"snap-$tag")
    val io = new TimingTableIO(root, tracer)
    tracer.span("Pipeline.runResumable")(Pipeline.runResumable(input, io))
    (io.bytes, () => new LocalSnapshotIO(root.toString).read(spark, "spans"), Some(io))
  }

  private def ownPass(tag: String): Pass =
    if (resumable) resumablePass(tag) else flagshipPass(tag)

  /** Plan witness: executed-plan text and exchange counts of the pass. */
  private def witness(p: Pass): (Int, Int) = {
    val plansTxt = p.qes.map(_.executedPlan)
    val ex = plansTxt.flatMap(Plans.exchanges)
    val dir = opts.out.resolve("plans")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${p.tag}.txt"),
      plansTxt.map(_.toString).mkString("\n\n").getBytes("UTF-8"))
    (ex.size, ex.count(Plans.isHashOn(_, "conv_id")))
  }

  def run(): Unit = {
    // set-up: materialize the corpus three times (median), keep the first
    val mats = (1 to 3).map { k =>
      graft.Bench.time(Synthetic.transcripts(spark, nConvs, seed)
        .write.parquet(work(s"in-$k").toString))._2
    }
    val (inBytes, _) = Files2.dataFiles(inDir)
    res.info("corpus_seed") = seed
    res.info("materialize_s") = mats
    res.info("input_turns") = turns
    res.info("input_bytes") = inBytes
    res.info("input_convs") = nConvs

    tracer.on = false
    Heap.resetPeak()
    val cold = ownPass("cold")
    // flagship: one full-size warm-up pass, since the first pass after the
    // cold one is still about 1.5x the plateau while the JIT compiles the
    // per-row code; then the timed window of at least --seconds and 4
    // passes. A resumable pass takes about 11 s, so that workload has no
    // warm-up and a window of at least 2 passes, to fit the run-time budget
    val warmups = if (resumable) Seq.empty else Seq(ownPass("warmup"))
    val warm = mutable.ArrayBuffer.empty[Pass]
    var warmS = 0.0
    while (warmS < opts.seconds || warm.size < (if (resumable) 2 else 4)) {
      val p = ownPass(s"warm${warm.size}")
      warm += p
      warmS += p.seconds
    }
    val heapPeak = Heap.peakMb
    val passes = Seq(cold) ++ warmups ++ warm
    res.info("pass_s") = passes.map(_.seconds)
    val warmMedian = Stats.median(warm.map(_.seconds).toSeq)

    // set-up: JVM start to the first timed pass, with the repeatable part
    // (input materialization) taken as the median of three
    val setupS = jvmToSessionS + Stats.median(mats) + cold.seconds + warmups.map(_.seconds).sum
    res.e2e("setup_s") = (setupS, "s")
    res.e2e("warm_pass_s") = (warmMedian, "s")
    res.e2e("op_geomean_s") = (Stats.geomean(warm.map(_.seconds).toSeq), "s")
    val outRatio = Stats.median(warm.map(_.outBytes.toDouble / inBytes).toSeq)
    res.e2e("out_bytes_per_in_byte") = (outRatio, "ratio")
    val n = warm.size
    res.report += (("setup_s", setupS, "s",
      s"JVM→session + median of 3 input materializations + cold pass + ${warmups.size} warm-up pass"))
    res.report += (("turns_per_s", turns / warmMedian, "1/s", s"$turns turns, median of $n warm passes"))
    res.report += (("cold_pass_s", cold.seconds, "s", "first pass in a fresh JVM, n=1"))
    res.report += (("warm_pass_s", warmMedian, "s", s"median, n=$n; no tail percentile below 10 samples"))
    res.report += (("out_bytes_per_in_byte", outRatio, "ratio", s"input parquet $inBytes bytes"))

    // plan witness per pass
    passes.foreach { p =>
      val (ex, hashConv) = witness(p)
      if (!resumable)
        res.gate(s"plan_one_conv_exchange.${p.tag}", hashConv == 1,
          s"$hashConv hashpartitioning(conv_id) of $ex exchanges")
    }
    // listener self-test: the same plan over the same input repeats its
    // stage and task counts exactly
    val counts = passes.map(p => (p.engine.stages, p.engine.tasks)).distinct
    res.gate("listener_counts_repeat", counts.size == 1,
      s"(stages, tasks) per pass: ${passes.map(p => (p.engine.stages, p.engine.tasks)).mkString(" ")}")

    var crossRoot: Option[Path] = None
    if (opts.trace) {
      putEngineAndTrace(warm.toSeq, heapPeak)
      tracer.on = true
      val t = ownPass("traced")
      putPhases(t, cold)
      val chain = layers(t, warmMedian)
      // the flagship reaches TableIO and Lineage only through its
      // cross-check, measured here after the layer probes warmed that path
      val cross = if (resumable) None else Some(resumablePass("traced_resumable"))
      putTableIO(cross.getOrElse(t))
      crossRoot = cross.map(c => work(s"snap-${c.tag}"))
      // the query layers of the operator suite, which is not a benchmark
      // workload of its own (see README)
      if (resumable) new Suite(ctx).probeLayers()
      tracer.on = false
      verify(passes ++ Seq(t) ++ cross, crossRoot, Some(chain))
    } else verify(passes, None, None)
  }

  /** Checks after all timing: every pass equals the digest recorded for the
   * corpus (in a traced flagship run this includes the `runResumable`
   * cross-check pass); a second `runResumable` on a committed root commits
   * nothing; in a traced run the composed prefix chain equals
   * `Pipeline.extract`. */
  private def verify(passes: Seq[Pass], crossRoot: Option[Path], chain: Option[DataFrame]): Unit = {
    val recorded = expected.get("extract", seed.toString, "spans")
    res.gate("recorded_reference", recorded.isDefined,
      s"corpus seed $seed ${if (recorded.isDefined) "is" else "is not"} recorded")
    val (refRows, refDigest0) = recorded.getOrElse((-1L, "none"))
    val refDigest = if (opts.injectWrongDigest) "0" + refDigest0 else refDigest0
    res.info("span_rows") = refRows
    res.info("span_digest") = refDigest0

    passes.foreach { p =>
      val (rows, d) = Digest.of(p.output())
      val ok = res.gate(s"digest.${p.tag}", rows == refRows && d == refDigest,
        s"$rows rows $d vs recorded $refRows rows $refDigest")
      if (!ok) res.failed += 1
    }
    // idempotent resume: a second call on a committed root commits nothing
    val resumeRoot = if (resumable) Some(work(s"snap-${passes.last.tag}")) else crossRoot
    resumeRoot.foreach { r =>
      val again = new TimingTableIO(r, tracer)
      res.attempted += 1
      Pipeline.runResumable(input, again)
      if (!res.gate("resume_commits_nothing", again.commits == 0, s"${again.commits} commits"))
        res.failed += 1
    }
    chain.foreach { c =>
      val (rows, d) = Digest.of(c)
      res.gate("prefix_chain_equals_extract", rows == refRows && d == refDigest,
        s"$rows rows $d")
    }
  }

  private def putEngineAndTrace(warm: Seq[Pass], heapPeak: Double): Unit = {
    Main.putEngine(res, warm.map(p => (p.engine, p.seconds)), cpus)
    res.layers("jvm.heap_peak_mb") = (heapPeak, "MB")
  }

  /** Planning phases of the traced pass; codegen compile time of the cold
   * pass, the only one that compiles. */
  private def putPhases(t: Pass, cold: Pass): Unit = {
    val ph = t.qes.map(Plans.phaseSeconds)
    def sum(k: String) = ph.map(_.getOrElse(k, 0.0)).sum
    res.layers("Catalyst.analyze_s") = (sum("analysis"), "s")
    res.layers("Catalyst.optimize_s") = (sum("optimization"), "s")
    res.layers("Catalyst.plan_s") = (sum("planning"), "s")
    res.layers("Catalyst.codegen_s") = (cold.codegenS, "s")
    res.layers("Catalyst.codegen_max_method_bytes") =
      (t.qes.map(q => scala.util.Try(Plans.maxMethodBytes(q.executedPlan)).getOrElse(0L))
        .foldLeft(0L)(math.max).toDouble, "bytes")
  }

  private def putTableIO(p: Pass): Unit = {
    val io = p.io.get
    res.layers("TableIO.commit_labeled_s") = (io.commitS("labeled"), "s")
    res.layers("TableIO.commit_spans_s") = (io.commitS("spans"), "s")
    res.layers("TableIO.read_s") = (io.readS, "s")
    res.layers("TableIO.bytes_written") = (io.bytes.toDouble, "bytes")
    res.layers("TableIO.files_written") = (io.files.toDouble, "count")
    val root = work(s"snap-${p.tag}").toString
    val lin = Seq("lineage_labeled", "lineage_spans")
      .map(new LocalSnapshotIO(root).read(spark, _)).reduce(_ unionByName _)
      .agg(sum("rows"), sum("parse_failures")).head()
    res.layers("Lineage.rows") = (lin.getLong(0).toDouble, "count")
    res.layers("Lineage.parse_failures") = (lin.getLong(1).toDouble, "count")
  }

  /** Columns of `prev` that the optimized plan of `next` (built on `prev`)
   * still produces or reads — what the next layer actually consumes. */
  private def consumed(prev: DataFrame, next: DataFrame): Seq[String] = {
    val plan = next.queryExecution.optimizedPlan
    val ids = plan.collect { case p => p.output.map(_.exprId) ++ p.references.map(_.exprId) }
      .flatten.toSet
    val cols = prev.queryExecution.analyzed.output.filter(a => ids(a.exprId)).map(_.name).distinct
    if (cols.isEmpty) prev.columns.toSeq else cols
  }

  /** Per-layer times by prefix differencing: each prefix of the composed
   * chain, projected to what the next layer consumes, runs into a `noop`
   * sink; a layer's time is its prefix minus the previous one. Returns the
   * composed chain's output for the equality gate. */
  private def layers(traced: Pass, untracedMedian: Double): DataFrame = {
    val f1 = Par.clusterBy(input, "conv_id")
    val f2 = Structure.keptLines(f1)
    val f3 = Features.segmenter(f2)
    val f4 = Labeler.zones(f3).where(col("zone") === "<body>").select(bodyLineCols.map(col): _*)
    val f5 = Structure.tokensFromLines(f4)
    val f6 = Features.body(f5).select(featCols.map(col): _*)
    val f7 = BodySpans.spans(f6)
    val bl = Labeler.bodyLabels(f6, repartitionByConv = false)
    val as = Assemble.bodySpans(bl)

    val frames = Seq(f1, f2, f3, f4, f5, f6, f7)
    val need = Array.fill(frames.size)(Seq.empty[String])
    need(6) = f7.columns.toSeq
    for (k <- 5 to 0 by -1)
      need(k) = consumed(frames(k), frames(k + 1).select(need(k + 1).map(col): _*))
    val prefixes = frames.zip(need).map { case (f, c) => f.select(c.map(col): _*) }
    val names = Seq("Par.clusterBy", "Structure.keptLines", "Features.segmenter",
      "Labeler.zones", "Structure.tokensFromLines", "Features.body", "BodySpans.spans")

    def noop(tag: String, df: DataFrame): (Double, Long) = {
      val obs = Observation(s"rows_$tag")
      val (_, s) = graft.Bench.time(tracer.span(s"prefix.$tag")(
        df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()))
      (s, obs.get("n").asInstanceOf[Long])
    }
    tracer.pass = "layers"
    val (times0, rows) = prefixes.zip(names).map { case (df, n) => noop(n, df) }.unzip
    val times = times0 :+ graft.Bench.time(tracer.span("prefix.write")(
      f7.write.parquet(work("chain").toString)))._2
    val layerS = times.indices.map(k => if (k == 0) times(0) else times(k) - times(k - 1))
    names.zipWithIndex.foreach { case (n, k) => res.layers(s"${n}_s") = (layerS(k), "s") }
    res.layers("Pipeline.write_s") = (layerS(frames.size), "s")
    res.layers("Structure.lines_out") = (rows(1).toDouble, "count")
    res.layers("Labeler.body_line_ratio") = (rows(3).toDouble / rows(1), "ratio")
    res.layers("Structure.tokens_out") = (rows(4).toDouble, "count")
    res.layers("BodySpans.spans_out") = (rows(6).toDouble, "count")
    val w = witness(traced)
    res.layers("Pipeline.exchanges") = (w._1.toDouble, "count")

    // resumable compute layers over the same composed features
    val blCols = consumed(bl, as)
    tracer.pass = "layers_resumable"
    val tBl = noop("Labeler.bodyLabels", bl.select(blCols.map(col): _*))._1
    res.layers("Labeler.bodyLabels_s") = (tBl - times(5), "s")
    res.layers("Assemble.bodySpans_s") = (noop("Assemble.bodySpans", as)._1 - tBl, "s")

    // building the frame (reading the schema, analysing every step) is paid
    // once per pass but once per chain here, where the prefixes are reused
    val build = tracer.all.filter(sp => sp.pass == traced.tag && sp.name == "Pipeline.extract")
      .map(_.seconds).sum
    res.layers("Pipeline.build_s") = (build, "s")
    val accounted = if (resumable) 0.0 else build + layerS.sum
    res.layers("trace.untraced_pass_s") = (untracedMedian, "s")
    res.layers("trace.traced_pass_s") = (traced.seconds, "s")
    res.layers("trace.overhead_s") = (traced.seconds - untracedMedian, "s")
    res.layers("trace.residual_s") =
      (if (resumable) traced.seconds - traced.io.get.commitS.values.sum - traced.io.get.readS
       else traced.seconds - accounted, "s")
    f7
  }
}
