package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * End-to-end extraction pipeline (SURVEY.md §3 "Spark lifecycle equivalent"):
 *
 *   transcripts → structure (lines/tokens) → features → zone labels →
 *   body labels on the <body> zone → segment ids → span assembly → TEI.
 *
 * Scale shape (the plan to protect at 100 TB): ONE exchange — a single
 * hash(conv_id) shuffle feeds every per-conversation window, the zone
 * filter and the FSM, which tokenizes each body line and emits finished
 * spans during its label walk (no second shuffle for span assembly;
 * `.explain` shows exactly one hashpartitioning). AQE handles residual
 * skew; line structure is turn-local (one kernel scan per turn, no
 * window), and giant single conversations are bounded by the F5 size
 * guards or taken by the chunk-parallel twins.
 */
object Pipeline {

  /** Synthesize null role/tool columns for document-shaped input. */
  private def withNullRoleCols(docs: DataFrame): DataFrame = {
    val withRole =
      if (docs.columns.contains("role")) docs
      else docs.withColumn("role", lit(null).cast("string"))
    if (withRole.columns.contains("tool")) withRole
    else withRole.withColumn("tool", lit(null).cast("string"))
  }

  /**
   * Full extraction: body spans of the <body> zone per conversation.
   *
   * Single-pass, single-exchange: the turns are hash-partitioned by conv_id
   * ONCE up front, and the kept lines go straight to the span walk, the
   * custom Catalyst operator in its transcript mode
   * ([[graft.plans.BodySpans.fromTranscript]]): its DECLARED
   * ClusteredDistribution + (conv_id, turn_idx, line_in_turn) order let
   * EnsureRequirements reuse that exchange and sort the kept lines once —
   * `.explain` shows exactly one hashpartitioning(conv_id), one sort and no
   * window. Per conversation the walk applies the zone rule of
   * [[bodyLines]] itself, tokenizes each body line (no token rows, no token
   * sort) and hands each classified line straight to the span rule (no
   * label rows). It is differential-tested byte-identical to
   * `fromLines(bodyLines)` (TranscriptSpansSpec) and to
   * [[extractDeclarative]] (`bodyLabels`, the same operator's label sink
   * over token rows, then [[Assemble.bodySpans]]). [[runResumable]] labels
   * with the operator's transcript label mode
   * ([[graft.plans.BodySpans.transcriptLabels]]), commits, then walks the
   * committed labels with its label-span mode.
   */
  def extract(turns: DataFrame): DataFrame =
    graft.plans.BodySpans.fromTranscript(
      Structure.keptLines(graft.ops.Par.clusterBy(turns, "conv_id")))

  /** The columns of a body line: what every stage-1 hands the tokenizer. */
  private val bodyLineCols = Seq("conv_id", "turn_idx", "role", "tool", "block_idx",
    "line_in_turn", "line_idx", "line").map(col)

  /** The document mode's default stage-1: the trained [[ZoneModel]] shipped
   * as [[ZoneModelArtifact]] (loaded in the active session), or `None`, the
   * heuristic, when the resource is absent. */
  private def shipped: Option[ZoneModel.Model] = ZoneModelArtifact.load(SparkSession.active)

  /**
   * Document-mode extraction — the reference's E1 cascade
   * (`DatacatBodySegmentationParser.createTraining`: stage-1 segmenter →
   * select BODY → stage-2 entry labeling) for corpora with NO role/tool
   * signal. Input needs (conv_id, turn_idx, text); role and tool are
   * synthesized as nulls when absent. Stage 2 is the same fused FSM as
   * [[extract]]; stage 1 is [[documentBodyLines]] under `stage1`:
   *
   *  - `None`: the heuristic content zoner [[Labeler.zonesContent]] (front
   *    matter, price-list annexes and OCR junk are dropped);
   *  - `Some(model)`: a TRAINED [[ZoneModel]] stacked on that heuristic's
   *    zones as hints; its weights are a broadcast join.
   *
   * The default is the shipped artifact when it is on the classpath — the
   * reference's whole point is a trained segmenter (E3), and the trained
   * stage-1 measures 96.9 held-out line accuracy / front F1 ~77 vs the
   * heuristic's 94.1 / 64.6 (ZoneModelSpec / ZoneEvalSpec). Either way the
   * plan has one conv_id exchange (PlanOperatorSpec): every stage-1 window
   * is keyed on conv_id.
   */
  def extractDocuments(docs: DataFrame,
      stage1: Option[ZoneModel.Model] = shipped): DataFrame =
    graft.plans.BodySpans.fromLines(documentBodyLines(docs, stage1))

  /** Document-mode stage-1 output: the body lines `stage1` keeps (see
   * [[extractDocuments]]). Public so invariant oracles can pin the stage-2
   * tail against the text entering it (doc_rebuild_diff). */
  def documentBodyLines(docs: DataFrame,
      stage1: Option[ZoneModel.Model] = shipped): DataFrame = {
    val lines = Structure.keptLines(
      graft.ops.Par.clusterBy(withNullRoleCols(docs), "conv_id"))
    val body = stage1 match {
      case None => Labeler.zonesContent(lines).where(col("zone") === "<body>")
      // NO score smoothing here: smoothing raises bulk line accuracy (+1.2%,
      // ZoneModelSpec) but blurs single-line zone BOUNDARIES — a smoothed
      // annex header gets outvoted by its body neighbors and leaks into the
      // extracted spans (DocumentPipelineSpec pins this)
      case Some(model) =>
        ZoneModel.apply(asHints(Labeler.zonesContent(lines)), model)
          .where(col("zone_pred") === "<body>")
    }
    body.select(bodyLineCols: _*)
  }

  /** The heuristic zones as the trained zoner's `hint` input. */
  private def asHints(zoned: DataFrame): DataFrame =
    zoned.withColumnRenamed("zone", "hint").drop("zone_label")

  /** The span walk's eight input columns over a token frame; its one
   * feature, `f_capitalisation`, is a per-token scalar. */
  private def fsmInput(toks: DataFrame): DataFrame =
    Features.scalars(toks)
      .select("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")

  /**
   * Chunk-parallel twin of [[extractDocuments]] — row-identical output
   * under either stage-1 (DocumentChunkedSpec differential + the
   * doc_chunked_diff oracle), for document-mode corpora with GIANT single
   * documents: stage-1 zoning runs through [[Labeler.zonesContentChunked]]
   * (and, for a trained stage-1, [[ZoneModel.withFeaturesChunked]]), stage 2
   * through the established chunk-parallel tail
   * ([[Structure.tokensFromLinesChunked]] → [[Labeler.bodyLabelsChunked]] →
   * [[Assemble.bodySpansChunked]]). Same `stage1` and default as
   * [[extractDocuments]].
   */
  def extractDocumentsChunked(docs: DataFrame,
      stage1: Option[ZoneModel.Model] = shipped, chunkTurns: Int = 4096): DataFrame = {
    val zoned = Labeler.zonesContentChunked(
      Structure.keptLines(withNullRoleCols(docs)), chunkTurns)
    val bodyLines = stage1 match {
      case None => zoned.where(col("zone") === "<body>").select(bodyLineCols: _*)
      // barrier after the model stage: its explode→join→window chain sits on
      // the stage-1 barrier and is consumed 2-3× per tail stage
      case Some(model) => Chunked.barrier(
        ZoneModel.apply(asHints(zoned), model, chunkTurns = Some(chunkTurns))
          .where(col("zone_pred") === "<body>")
          .select(bodyLineCols: _*))
    }
    val feats = fsmInput(Structure.tokensFromLinesChunked(bodyLines, chunkTurns))
    Assemble.bodySpansChunked(
      Labeler.bodyLabelsChunked(feats, chunkTurns), chunkTurns)
  }

  /**
   * Chunk-parallel twin of [[extract]] — row-identical output
   * (ChunkedPipelineSpec differential), for corpora where single
   * conversations are so large that one-task-per-conversation is the
   * bottleneck (the north rule's 10^12-turn regime with 10^9-turn
   * conversations). NO stage in this path partitions by conv_id alone:
   *
   *   - line structure is turn-local already ([[Structure.lines]] is one
   *     kernel scan per turn, no window);
   *   - zone selection's conversation-grain repetitive count becomes a
   *     two-level aggregate ([[Labeler.bodyLinesChunked]]);
   *   - the tokenizer's separator lags stitch across (conv_id, turn-chunk)
   *     boundaries ([[Structure.tokensFromLinesChunked]]);
   *   - the FSM's feature input is pure per-token scalars, as in
   *     [[labeledBodyTokens]];
   *   - the FSM itself runs as the prefix-composed parallel automaton
   *     ([[Labeler.bodyLabelsChunked]]);
   *   - span assembly's running segment count becomes a two-level scan
   *     ([[Assemble.bodySpansChunked]]), whose span groupBy merges
   *     boundary-straddling spans by construction.
   *
   * Cost vs [[extract]]: several narrow chunk-frame aggregates/joins and a
   * second FSM pass — keep [[extract]] (one exchange) for corpora whose
   * conversations are ordinarily sized; conv_id alone balances there.
   */
  def extractChunked(turns: DataFrame, chunkTurns: Int = 4096): DataFrame =
    // nothing is localCheckpointed: AQE stage reuse serves every repeated
    // subtree from its shuffle files. MEASURED (ChunkBench, 2M-turn single
    // conversation, 16 cores / 16g): 174s against 168s sequential, while
    // checkpointing the labeler's input and output THRASHED the storage
    // pool (379s) — two full-frame copies exceed a single JVM's storage
    // fraction and evict each other to disk. The resumable path
    // ([[runResumable]] with chunkTurns) re-scans committed parquet stages
    // instead, column-pruned.
    Assemble.bodySpansChunked(
      labeledBodyTokensChunked(turns, chunkTurns, materialize = false), chunkTurns)

  /** structure → zone → scalar features → parallel FSM, all chunk-keyed —
   * the giant-conversation twin of [[labeledBodyTokens]]. */
  def labeledBodyTokensChunked(turns: DataFrame, chunkTurns: Int,
      failures: Option[Lineage.PartitionStats] = None,
      materialize: Boolean = true): DataFrame = {
    val bodyLines = Labeler.bodyLinesChunked(Structure.keptLines(turns), chunkTurns)
      .select(bodyLineCols: _*)
    val feats = fsmInput(Structure.tokensFromLinesChunked(bodyLines, chunkTurns))
    Labeler.bodyLabelsChunked(feats, chunkTurns, failures, materialize)
  }

  /** Declarative span assembly (windows + groupBy) over the labeled tokens —
   * output-identical to [[extract]] (differential-tested); kept as the
   * Catalyst-native reference path and for the driver's oracle queries. */
  def extractDeclarative(turns: DataFrame): DataFrame =
    Assemble.bodySpans(labeledBodyTokens(turns))

  /** structure → the `<body>` lines, over one exchange: the Catalyst zone
   * rule behind [[labeledBodyTokens]] (so [[extractDeclarative]] and the
   * driver's label queries), and the rule the span walk of [[extract]] and
   * the label walk of [[runResumable]] apply per conversation. It reads one
   * segmenter column, so the [[Features.segmenter]] windows are not built
   * (analysing them only for the optimizer to prune was most of a pass's
   * driver cost), nor the [[Labeler.zones]] windows that body membership
   * does not read. */
  private def bodyLines(turns: DataFrame): DataFrame = {
    val lines = Structure.keptLines(graft.ops.Par.clusterBy(turns, "conv_id"))
    // F4: zone selection is a plain filter because labels are columns
    Labeler.bodyLines(Features.repetitive(lines)).select(bodyLineCols: _*)
  }

  /** The body lines as the token FSM's input columns, over one exchange. */
  private def bodyTokenFeats(turns: DataFrame): DataFrame =
    fsmInput(Structure.tokensFromLines(bodyLines(turns)))

  /** structure → zone → body features → FSM labels, over one exchange, on
   * the Catalyst rules: the independent twin of the label walk
   * [[runResumable]] commits. */
  def labeledBodyTokens(turns: DataFrame): DataFrame =
    Labeler.bodyLabels(bodyTokenFeats(turns), repartitionByConv = false)

  /** Extraction result as one TEI document per conversation. */
  def extractTei(turns: DataFrame): DataFrame =
    Assemble.teiDocuments(extract(turns))

  /**
   * conv_id-salted repartition for turn-keyed stages (north rule): spreads a
   * giant conversation over `salt` partitions while keeping each turn whole.
   * Whole-conversation stages (the FSM, span groupBy) re-group on conv_id —
   * their inputs are already reduced to label/segment rows by then.
   */
  def saltedByTurn(df: DataFrame, partitions: Int, salt: Int = 16): DataFrame =
    df.repartition(partitions, col("conv_id"),
      pmod(hash(col("turn_idx")), lit(salt)))

  /**
   * Resumable run (north rule): each stage commits a parquet snapshot +
   * manifest through [[TableIO]]; a re-run skips committed stages, so a
   * killed job resumes from its last checkpoint with identical output.
   * Per-partition lineage rows (rows/bytes/parse failures) are committed
   * alongside each stage. The labels stage is one sorted walk over the kept
   * lines after one conv_id exchange
   * ([[graft.plans.BodySpans.transcriptLabels]]: the zone rule, the
   * tokenizer and the FSM per conversation, no window), row-identical to
   * [[labeledBodyTokens]]. The spans stage follows the committed `label`
   * column, never re-classifies: [[graft.plans.BodySpans.fromLabels]]
   * walks it in one sorted pass (one conv_id exchange over the parquet
   * read), output-identical to [[Assemble.bodySpans]].
   *
   * `chunkTurns = Some(c)` runs both stages on the chunk-parallel path
   * (same rows, ChunkedPipelineSpec) for giant-conversation corpora; the
   * committed `labeled` table doubles as the materialization the in-memory
   * path gets from localCheckpoint, so span assembly's phantom-edge scan
   * re-reads column-pruned parquet instead of re-running the FSM. That
   * path keeps [[Assemble.bodySpansChunked]]: a label walk needs a whole
   * conversation in one task, which is what chunking avoids.
   */
  def runResumable(turns: DataFrame, io: TableIO, runId: String = "r1",
      chunkTurns: Option[Int] = None): DataFrame = {
    val spark = turns.sparkSession

    val labeled = io.committedSnapshot("labeled") match {
      case Some(_) => io.read(spark, "labeled")
      case None =>
        val acc = Lineage.newTotals(spark, "labeled")
        val fails = Lineage.newStats(spark, "labeled_failures")
        val labeledDf = chunkTurns match {
          case Some(c) => labeledBodyTokensChunked(turns, c, Some(fails))
          case None => graft.plans.BodySpans.transcriptLabels(
            Structure.keptLines(graft.ops.Par.clusterBy(turns, "conv_id")), Some(fails))
        }
        val out = Lineage.withPartitionLineage(
          labeledDf, acc, Seq("tok", "sep_before"))
        io.commit(out, "labeled", runId)
        io.commit(Lineage.lineageRows(spark, "labeled", acc,
          fails.value.map { case (p, (r, _)) => p -> r }), "lineage_labeled", runId)
        io.read(spark, "labeled")
    }

    io.committedSnapshot("spans") match {
      case Some(_) => io.read(spark, "spans")
      case None =>
        val acc = Lineage.newTotals(spark, "spans")
        val spansDf = chunkTurns match {
          case Some(c) => Assemble.bodySpansChunked(labeled, c)
          case None => graft.plans.BodySpans.fromLabels(labeled)
        }
        val spans = Lineage.withPartitionLineage(spansDf, acc, Seq("text"))
        io.commit(spans, "spans", runId)
        io.commit(Lineage.lineageRows(spark, "spans", acc), "lineage_spans", runId)
        io.read(spark, "spans")
    }
  }

  /**
   * Incremental (offset-style) extraction over a snapshot-logged transcript
   * table: extract only the turns appended to `inStage` since the last run
   * and append the resulting spans to `outStage`. The consumed-offset store
   * IS the output table — each output snapshot is committed under the INPUT
   * snapshot id it consumed, so the output's committed id is the offset and
   * the whole step is one atomic commit (a crash before the manifest swap
   * re-runs the same batch; [[TableIO]]'s duplicate-id check makes an
   * accidental double-apply impossible). Exactly-once per input snapshot.
   *
   * Contract: input appends must be CONVERSATION-COMPLETE (a conversation
   * never spans two input snapshots — extraction state is per-conversation)
   * and the input must be append-only (an input overwrite restarts its
   * chain; reset the output table alongside it). Returns the number of
   * input snapshots consumed this call (0 = already caught up).
   */
  def extractIncremental(spark: org.apache.spark.sql.SparkSession,
      inIo: TableIO, outIo: TableIO,
      inStage: String = "transcripts", outStage: String = "spans"): Int = {
    val latest = inIo.committedSnapshot(inStage).getOrElse(
      throw new IllegalStateException(s"no committed input snapshot for $inStage"))
    val from = outIo.committedSnapshot(outStage)
    if (from.contains(latest)) return 0
    val newTurns = inIo.readIncremental(spark, inStage, from)
    val spans = extract(newTurns)
    if (from.isEmpty) outIo.commit(spans, outStage, latest)
    else outIo.commitAppend(spans, outStage, latest)
    inIo.history(inStage).takeWhile(m => !from.contains(m.id)).size
  }
}
