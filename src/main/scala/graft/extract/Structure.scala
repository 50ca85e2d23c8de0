package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.LineKernels
import graft.text.TextCols

/**
 * Structuring pass: transcripts → lines → tokens (reference S2,
 * `Document.createFromText` at `DatacatSegmenterParser.java:132-135`, and the
 * block/line/token loops at `:326-620`).
 *
 * Document-tree mapping: conversation=document, turn=page,
 * paragraph-within-turn=block (runs of non-blank lines), line=line.
 * Structure is declarative Catalyst around three byte-scan kernels, each a
 * [[graft.functions.Kernel]] whose generated code is one static call: the
 * turn → lines explode ([[graft.functions.TurnLines]], the reference's one
 * block/line loop per document), the line-trailing whitespace leg
 * ([[graft.functions.LineScan]]) and the delimiter tokenizer
 * ([[graft.functions.Tokenize]], exactly [[graft.text.Tok.tokenize]],
 * fixture-pinned). Each kernel equals the expression it replaced
 * (LineKernelSpec, TokenizeKernelSpec).
 *
 * Scale note: line structure is turn-local (the kernel sees one turn's
 * text), so it needs no shuffle; the token windows are partitioned by
 * (conv_id), high-cardinality at the design scale (10^12 turns over ~10^8+
 * convs), so shuffles hash-balance. Skew from giant conversations is
 * handled by the chunk-parallel twins (see Pipeline.scala).
 */
object Structure {

  /** Delimiter tokenizer as a native codegen'd Catalyst expression
   * ([[graft.functions.Tokenize]]; semantics pinned byte-exactly against
   * the 14 body fixtures, property-tested in TokPropertySpec). */
  private def tokenizeCol = graft.functions.Tokenize.ofAttr("line")

  /**
   * Explode turns into lines with paragraph (block) structure.
   * Output grain: one row per non-blank line of each turn (blank = empty or
   * only U+0020), with `line_in_turn` (the line's index among ALL the turn's
   * `\n`-separated lines), `block_idx` (run of non-blank lines, from 0 per
   * turn), `line_idx` (from 0 per block) and `kept` = survives the
   * reference's line filter (F1). One [[graft.functions.TurnLines]] scan per
   * turn, exploded with `inline`: no window, sort or exchange (the DuckDB
   * `klines` CTE in `Queries` is its oracle).
   */
  def lines(turns: DataFrame): DataFrame =
    turns
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        inline(LineKernels.turnLinesOf(col("text"))))
      .withColumn("kept", !TextCols.filterLine(col("line")))

  /** Lines that survive the noise filter (reference F1/F2). */
  def keptLines(turns: DataFrame): DataFrame = lines(turns).where(col("kept"))

  /**
   * F5: size guards (QoS) — drop whole conversations whose kept-line count
   * or block count exceeds the limits, the analog of the reference's
   * PdfTokensMax/PdfBlocksMax rejects (`DatacatSegmenterParser.java:140-143,
   * 261-263`). Defaults mirror the reference's generous caps so normal
   * corpora are untouched; at 100 TB this is the cheap upper bound on
   * pathological conversations *before* the quadratic-ish feature windows.
   * Window-agg over conv_id: reuses the pipeline's existing conv_id
   * exchange, no extra shuffle. Rejected convs are countable via
   * `observe`/[[Lineage]] on the `size_rejected` column upstream of the
   * filter (see [[sizeGuardMarked]]).
   */
  def sizeGuard(lines: DataFrame, maxLines: Long = 512 * 1000,
      maxBlocks: Long = 100 * 1000): DataFrame =
    sizeGuardMarked(lines, maxLines, maxBlocks)
      .where(!col("size_rejected")).drop("size_rejected")

  /** Size-guard predicate as a column (for counting rejects separately).
   * Blocks per conversation = count of block-start lines (`line_idx == 0`);
   * `block_idx` itself restarts per turn. */
  def sizeGuardMarked(lines: DataFrame, maxLines: Long, maxBlocks: Long): DataFrame = {
    val wConv = Window.partitionBy("conv_id")
    lines
      .withColumn("size_rejected",
        count(lit(1)).over(wConv) > maxLines ||
          sum(when(col("line_idx") === 0, 1L).otherwise(0L)).over(wConv) > maxBlocks)
  }

  /**
   * Explode kept lines into delimiter tokens, carrying exact separators for
   * byte-exact re-assembly (replaces the reference's realignment re-scan J2,
   * `DatacatBodySegmentationParser.java:800-831`).
   *
   * `sep_before` is the FULL source whitespace before the token: within a
   * line it is the inter-token gap; for a line's first token it is
   * trailing-whitespace-of-previous-line + one "\n" per crossed source line
   * + own leading whitespace (turn boundaries count as one newline). So
   * concat(sep_before + tok) over a conversation reproduces the source text
   * up to whitespace-only lines' own spaces.
   */
  def tokens(turns: DataFrame): DataFrame = tokensFromLines(keptLines(turns))

  /** Token explode over an existing kept-lines frame (single-pass pipelines
   * reuse the zoned lines instead of re-structuring the turns). Extra
   * columns on `lines` are carried through to the token rows. The flagship
   * and document mode explode no tokens: their span walk
   * ([[graft.plans.BodySpans.fromTranscript]],
   * [[graft.plans.BodySpans.fromLines]]) tokenizes each body line with the
   * same kernels and this lag rule (LineSpansSpec). */
  def tokensFromLines(keptLines: DataFrame): DataFrame = {
    val wLine = Window.partitionBy("conv_id")
      .orderBy(col("turn_idx"), col("line_in_turn"))
    val perLine = keptLines
      .withColumn("line_trailing", lineTrailingCol)
      .withColumn("prev_trailing",
        coalesce(lag(col("line_trailing"), 1).over(wLine), lit("")))
      .withColumn("line_gap",
        lineGapCol(lag(col("turn_idx"), 1).over(wLine),
          lag(col("line_in_turn"), 1).over(wLine)))
    explodeLineTokens(perLine, carriedCols(keptLines))
  }

  /**
   * Chunk-parallel twin of [[tokensFromLines]] — row-identical output
   * (StructureChunkedSpec), but the conversation-grain lag window is
   * replaced by a (conv_id, turn-chunk)-keyed window plus a boundary
   * stitch, so ONE giant conversation tokenizes on nTurns/chunkTurns
   * tasks instead of one. Same pattern as [[Labeler.bodyLabelsChunked]],
   * radically simpler because the carried state is just the previous
   * existing line's (trailing whitespace, turn_idx, line_in_turn):
   * per-chunk lag(1) is wrong only on each chunk's FIRST line, and the
   * correction rides a tiny one-row-per-chunk frame (last line of the
   * previous existing chunk, skew-free even for a 10^9-turn conversation)
   * joined back on (conv_id, chunk). Multi-conversation corpora should
   * keep [[tokensFromLines]]: conv_id alone already balances, and this
   * variant adds the chunk-frame aggregate + join.
   */
  def tokensFromLinesChunked(keptLines: DataFrame, chunkTurns: Int = 4096): DataFrame = {
    require(chunkTurns > 0, "chunkTurns must be positive")
    val carried = carriedCols(keptLines)
    val chunked = keptLines
      .withColumn("_chunk", Chunked.chunkCol(chunkTurns))
      .withColumn("line_trailing", lineTrailingCol)
    val w = Window.partitionBy("conv_id", "_chunk")
      .orderBy(col("turn_idx"), col("line_in_turn"))
    // per-chunk boundary frame: last line of each chunk that HAS lines
    // (turn gaps may leave whole chunk ids absent), shifted to the next
    // existing chunk by a lag over the chunk-level frame (one row per
    // chunk — tiny, so its conv-keyed window is not a skew surface)
    val bounds = chunked.groupBy("conv_id", "_chunk")
      .agg(max(struct(col("turn_idx"), col("line_in_turn"),
        col("line_trailing"))).as("_last"))
      .withColumn("_prev", lag(col("_last"), 1).over(
        Window.partitionBy("conv_id").orderBy("_chunk")))
      .where(col("_prev").isNotNull)
      .select(col("conv_id"), col("_chunk"), col("_prev"))
    val perLine = chunked
      .withColumn("_first", row_number().over(w) === 1)
      .withColumn("_lag_trailing", lag(col("line_trailing"), 1).over(w))
      .withColumn("_lag_turn", lag(col("turn_idx"), 1).over(w))
      .withColumn("_lag_line", lag(col("line_in_turn"), 1).over(w))
      .join(bounds, Seq("conv_id", "_chunk"), "left")
      .withColumn("prev_trailing",
        coalesce(when(col("_first"), col("_prev.line_trailing"))
          .otherwise(col("_lag_trailing")), lit("")))
      .withColumn("line_gap",
        lineGapCol(when(col("_first"), col("_prev.turn_idx")).otherwise(col("_lag_turn")),
          when(col("_first"), col("_prev.line_in_turn")).otherwise(col("_lag_line"))))
    explodeLineTokens(perLine, carried)
  }

  /** Input columns carried through the token explode (computed BEFORE any
   * temp columns are added, so both tokenizer paths emit the same order). */
  private def carriedCols(keptLines: DataFrame): Seq[String] =
    keptLines.columns.toSeq
      .diff(Seq("line", "kept", "line_trailing", "prev_trailing", "line_gap"))

  /** Trailing whitespace of the line: ASCII space, tab and form feed (a
   * trailing NBSP is not whitespace here), as `regexp_extract(line,
   * "[\\x20\\t\\f]*$", 0)` read it — Java's `$` also matches before one
   * final line terminator, so the run before a final `\r` counts. The
   * byte-scan leg [[graft.functions.LineKernels.trailingSpace]]. */
  private def lineTrailingCol: Column = LineKernels.trailingSpaceOf(col("line"))

  /** Source-line gap to the previous kept line, given that line's
   * (turn_idx, line_in_turn); null prev = first line of the conversation. */
  private def lineGapCol(prevTurn: Column, prevLine: Column): Column =
    when(prevTurn.isNull, 0)
      .when(prevTurn =!= col("turn_idx"), 1)
      .otherwise(col("line_in_turn") - prevLine)

  /** Shared tail of the tokenizer paths: explode `line` into delimiter
   * tokens and assemble `sep_before` from the per-line lag columns. */
  private def explodeLineTokens(perLine: DataFrame, carried: Seq[String]): DataFrame =
    perLine
      .select(carried.map(col) ++ Seq(
        col("line_trailing"), col("prev_trailing"), col("line_gap"),
        posexplode(tokenizeCol).as(Seq("tok_idx", "t"))): _*)
      .select(carried.map(col) ++ Seq(
        col("tok_idx"),
        col("t.tok").as("tok"),
        when(col("tok_idx") === 0,
          concat(col("prev_trailing"), repeat(lit("\n"), col("line_gap")), col("t.sep")))
          .otherwise(col("t.sep")).as("sep_before"),
        col("line_trailing")): _*)
      .withColumn("nl_before", col("tok_idx") === 0 && col("line_in_turn") > 0)
      .withColumn("sp_before", col("sep_before") =!= "")

  /**
   * The transcripts view over the driver's `documents` test table:
   * 10 consecutive documents form one conversation; each document is one
   * turn. Deterministic and expressible identically in DuckDB SQL (used by
   * SparkEntry oracles).
   */
  def transcriptsFromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      concat(lit("conv"), (col("doc_id") / 10).cast("long").cast("string")).as("conv_id"),
      (col("doc_id") % 10).cast("int").as("turn_idx"),
      when(col("doc_id") % 10 === 0, "system")
        .when(col("doc_id") % 2 === 1, "user")
        .otherwise("assistant").as("role"),
      col("text"),
      when(col("doc_id") % 5 === 4, "search").otherwise(lit(null).cast("string")).as("tool"),
      (lit("2026-01-01 00:00:00").cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
          (col("doc_id") % 10).cast("double"))).as("ts"))
}
