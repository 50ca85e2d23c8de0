package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextCols._

/**
 * Feature computation for the two sequence models, as pure Catalyst
 * window/scalar expressions (W1–W9 of SURVEY.md §2.4). No UDFs — everything
 * stays inside WholeStageCodegen except the shuffles implied by the
 * (conv_id)-partitioned windows.
 *
 * Status semantics are pinned against the reference corpus:
 * recomputing blockStatus/lineStatus over all 32,335 body fixture rows
 * (given the fixture block structure + newline flags) reproduces the fixture
 * columns exactly, including the reference's two quirks:
 * (1) retroactive previous-row corrections (`DatacatBodySegmentationParser
 * .java:346-410,499-506`) become `lead()` comparisons;
 * (2) the document-final row keeps BLOCKIN/LINEIN because the reference's
 * correction pass never sees a next token for it.
 *
 * Layout-only features (font, geometry) are grafted onto transcripts:
 * the `role` column plays the part of the font (a role change is a "font
 * change"), role rank plays the font size, and leading-whitespace plays
 * indentation — deterministic, documented equivalents of
 * `DatacatSegmenterParser.java:545-566` / `DatacatBodySegmentationParser
 * .java:279-296,433-454`.
 */
object Features {

  /** Role → synthetic "font size" (reference: token.getFontSize()). */
  val roleSize: Column => Column = role =>
    when(role === "system", 3).when(role === "tool", 1).otherwise(2)

  private def ordCols = Seq(col("turn_idx"), col("line_in_turn"), col("tok_idx"))

  // ---------------------------------------------------------------- body —

  /**
   * Token-level features of the body model: 24 columns of
   * `FeaturesVectorDatacatEntries.printVector()`
   * (`FeaturesVectorDatacatEntries.java:51-157`).
   * Input: output of [[Structure.tokens]] (optionally zone-filtered).
   */
  def body(tokens: DataFrame): DataFrame = {
    val wConv = Window.partitionBy("conv_id").orderBy(ordCols: _*)
    val wConvAll = wConv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrev = wConv.rowsBetween(Window.unboundedPreceding, -1)
    val wTurn = Window.partitionBy("conv_id", "turn_idx")

    // indentation state: leading spaces of the line vs previous line,
    // carried until it changes (reference W6). Expressed as token-row
    // windows (last(...) ignoreNulls carry-forward) — no self-join, so the
    // single conv_id exchange of the pipeline covers it at any scale.
    val wPrevRows = wConv.rowsBetween(Window.unboundedPreceding, -1)
    val wUpToHere = wConv.rowsBetween(Window.unboundedPreceding, 0)
    val withAlign = adjacent(tokens, wConv)
      .withColumn("lsp", lspCol)
      .withColumn("prev_lsp", last(col("lsp"), ignoreNulls = true).over(wPrevRows))
      .withColumn("indent_change", indentChangeCol(col("prev_lsp")))
      .withColumn("f_alignmentStatus",
        coalesce(last(col("indent_change"), ignoreNulls = true).over(wUpToHere),
          lit("ALIGNEDLEFT")))
      .drop("lsp", "prev_lsp", "indent_change")

    scalars(withAlign)
      .withColumn("nn", coalesce(sum(tokLen).over(wPrev), lit(0L)))
      .withColumn("doc_len", sum(tokLen).over(wConvAll))
      .withColumn("f_relDocPos", linearScaling(col("nn"), col("doc_len"), NbBinsPosition))
      .withColumn("n_lines_turn", max(col("line_in_turn")).over(wTurn) + 1)
      .withColumn("f_relPagePos",
        linearScaling(col("line_in_turn"), col("n_lines_turn"), NbBinsPosition))
      .drop("bk", "lk", "first_b", "last_b", "first_l", "last_l", "nn", "doc_len", "n_lines_turn")
  }

  /** Adjacent-row features (block/line statuses + font): everything here
   * reads only lag/lead(1) over `w`, so [[bodyChunked]] can feed it a
   * (conv_id, chunk)-keyed window over a phantom-augmented frame and stay
   * exact at chunk boundaries. */
  private def adjacent(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    val withPos = df
      .withColumn("bk", concat_ws("#", col("turn_idx"), col("block_idx")))
      .withColumn("lk", concat_ws("#", col("turn_idx"), col("line_in_turn")))
      .withColumn("first_b", coalesce(lag(col("bk"), 1).over(w) =!= col("bk"), lit(true)))
      .withColumn("last_b", coalesce(lead(col("bk"), 1).over(w) =!= col("bk"), lit(true)))
      .withColumn("first_l", coalesce(lag(col("lk"), 1).over(w) =!= col("lk"), lit(true)))
      .withColumn("last_l", coalesce(lead(col("lk"), 1).over(w) =!= col("lk"), lit(true)))
      .withColumn("is_conv_last", lead(col("tok"), 1).over(w).isNull)
    val statused = withPos
      .withColumn("f_blockStatus",
        when(col("first_b"), "BLOCKSTART")
          .when(col("last_b") && !col("is_conv_last"), "BLOCKEND")
          .otherwise("BLOCKIN"))
      .withColumn("f_lineStatus",
        when(col("first_b"), "LINESTART")
          .when(col("last_b") && !col("is_conv_last"), "LINEEND")
          .when(col("first_l"), "LINESTART")
          .when(col("last_l") && !col("is_conv_last"), "LINEEND")
          .otherwise("LINEIN"))
    withFont(statused, w)
  }

  /** Per-token scalar features (pure codegen, no window). f_digit and
   * f_capitalisation come from ONE codepoint scan
   * ([[graft.functions.TokCaps]]) instead of four per-token rlike legs —
   * f_capitalisation is on the FSM hot path (values bit-identical,
   * TokCapsKernelSpec). */
  private[extract] def scalars(df: DataFrame): DataFrame = df
    .withColumn("_tc", graft.functions.TokCaps.of(col("tok")))
    .withColumn("f_digit", col("_tc.digit_class"))
    .withColumn("f_capitalisation", col("_tc.cap_class"))
    .drop("_tc")
    .withColumn("f_punctType", punctType(col("tok")))
    .withColumn("f_singleChar", length(col("tok")) === 1)

  /** Leading-space count of the line (defined on line-first tokens only). */
  private def lspCol: Column =
    when(col("first_l"), length(regexp_extract(col("sep_before"), "[ \t]*$", 0)))

  /** Indentation transition fired by a line-first token, given the previous
   * line's leading-space count. */
  private def indentChangeCol(prevLsp: Column): Column =
    when(col("first_l") && col("lsp") - prevLsp > 1, "LINEINDENT")
      .when(col("first_l") && col("lsp") - prevLsp < -1, "ALIGNEDLEFT")
      .otherwise(lit(null).cast("string"))

  /** Source chars contributed by a token row (for the relDocPos offsets). */
  private def tokLen: Column = length(col("tok")) + length(col("sep_before"))

  /**
   * Chunk-parallel twin of [[body]] — row-identical output
   * (ChunkedFeaturesSpec), with every conversation-grain window replaced by
   * a (conv_id, turn-chunk)-keyed one plus exact boundary reconstruction,
   * so ONE giant conversation featurizes on nTurns/chunkTurns tasks.
   * Completes the chunk-parallel path ([[Structure.tokensFromLinesChunked]]
   * → this → [[Labeler.bodyLabelsChunked]]).
   *
   * Three state classes, three mechanisms:
   *  - adjacent-row features (statuses, font): each chunk imports PHANTOM
   *    copies of the previous existing chunk's last row and the next
   *    existing chunk's first row, so lag/lead(1) is exact on every real
   *    row (phantoms are dropped at the end);
   *  - prefix sums / totals (relDocPos): per-chunk char sums roll up to a
   *    one-row-per-chunk frame whose running sum joins back as the chunk's
   *    offset — a two-level scan;
   *  - running last-non-null state (indentation): per-chunk last leading-
   *    space and last LOCALLY-DECIDABLE indent transition roll up the same
   *    way; the only cross-chunk case (a chunk whose FIRST line-start is
   *    its last transition) is reconstructed on the chunk frame from the
   *    carried leading-space value.
   *
   * The chunk frame is tiny (one row per chunkTurns turns) so its
   * conversation-grain windows are not a skew surface. Multi-conversation
   * corpora should keep [[body]]: conv_id alone balances, and this variant
   * pays two extra narrow shuffles + the chunk-frame join.
   */
  def bodyChunked(tokens: DataFrame, chunkTurns: Int = 4096): DataFrame = {
    require(chunkTurns > 0, "chunkTurns must be positive")
    val inCols = tokens.columns.toSeq
    val ordS = struct(col("turn_idx"), col("line_in_turn"), col("tok_idx"))
    val wChunks = Window.partitionBy("conv_id").orderBy("_chunk")
    val aug = Chunked.augmentBoundaries(tokens, chunkTurns)

    // ---- pass 1: within-chunk windows over the augmented frame ----------
    val w = Window.partitionBy("conv_id", "_chunk").orderBy(ordCols: _*)
    val wPrevRows = w.rowsBetween(Window.unboundedPreceding, -1)
    // a turn never straddles chunks, so turn-level aggregates can keep the
    // (conv_id, _chunk) clustering (no extra exchange); phantom rows form
    // their own (conv, chunk, turn) groups and are dropped below
    val wTurnC = Window.partitionBy("conv_id", "_chunk", "turn_idx")
    val local = adjacent(aug, w)
      .withColumn("lsp", when(!col("_ph"), lspCol))
      .withColumn("_prev_lsp_local", last(col("lsp"), ignoreNulls = true).over(wPrevRows))
      // indent transition decidable within the chunk (the previous
      // line-start is local); the chunk's first line-start row stays null
      // here and is reconstructed on the chunk frame from the carried lsp
      .withColumn("_ind_local", when(col("_prev_lsp_local").isNotNull,
        indentChangeCol(col("_prev_lsp_local"))))
      .withColumn("_nn_local",
        coalesce(sum(when(!col("_ph"), tokLen)).over(wPrevRows), lit(0L)))
      .withColumn("n_lines_turn", max(col("line_in_turn")).over(wTurnC) + 1)

    // ---- chunk-level carries (tiny frame: one row per chunk) ------------
    val sums = local.where(!col("_ph")).groupBy("conv_id", "_chunk")
      .agg(
        sum(tokLen).as("_clen"),
        min(when(col("first_l"), struct(ordS.as("o"), col("lsp").as("v")))).as("_first_lsp"),
        max(when(col("first_l"), struct(ordS.as("o"), col("lsp").as("v")))).as("_last_lsp"),
        max(when(col("_ind_local").isNotNull,
          struct(ordS.as("o"), col("_ind_local").as("v")))).as("_last_ind_local"))
    val carries = sums
      .withColumn("_nn_off",
        coalesce(sum(col("_clen")).over(wChunks.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("_doc_len", sum(col("_clen")).over(Window.partitionBy("conv_id")))
      .withColumn("_lsp_in", last(col("_last_lsp.v"), ignoreNulls = true)
        .over(wChunks.rowsBetween(Window.unboundedPreceding, -1)))
      // the transition fired by this chunk's FIRST line-start (needs the
      // carried lsp), then the chunk's effective last transition
      .withColumn("_ind_first", when(col("_first_lsp").isNotNull && col("_lsp_in").isNotNull,
        when(col("_first_lsp.v") - col("_lsp_in") > 1, "LINEINDENT")
          .when(col("_first_lsp.v") - col("_lsp_in") < -1, "ALIGNEDLEFT")))
      .withColumn("_ind_out", coalesce(col("_last_ind_local.v"), col("_ind_first")))
      .withColumn("_ind_in", last(col("_ind_out"), ignoreNulls = true)
        .over(wChunks.rowsBetween(Window.unboundedPreceding, -1)))
      .select("conv_id", "_chunk", "_nn_off", "_doc_len", "_lsp_in", "_ind_in")

    // ---- stitch + finish ------------------------------------------------
    val wUpToHere = w.rowsBetween(Window.unboundedPreceding, 0)
    val stitched = local.join(carries, Seq("conv_id", "_chunk"), "left")
      .withColumn("prev_lsp", coalesce(col("_prev_lsp_local"), col("_lsp_in")))
      .withColumn("indent_change", indentChangeCol(col("prev_lsp")))
      .withColumn("f_alignmentStatus",
        coalesce(last(col("indent_change"), ignoreNulls = true).over(wUpToHere),
          col("_ind_in"), lit("ALIGNEDLEFT")))
      .where(!col("_ph"))
      .withColumn("nn", col("_nn_off") + col("_nn_local"))
      .withColumn("f_relDocPos", linearScaling(col("nn"), col("_doc_len"), NbBinsPosition))
      .withColumn("f_relPagePos",
        linearScaling(col("line_in_turn"), col("n_lines_turn"), NbBinsPosition))
    scalars(stitched)
      .select((inCols ++ Seq("is_conv_last", "f_blockStatus", "f_lineStatus",
        "f_fontStatus", "f_fontSize", "f_alignmentStatus", "f_digit",
        "f_capitalisation", "f_punctType", "f_singleChar",
        "f_relDocPos", "f_relPagePos")).map(col): _*)
  }

  /** Shared running-font logic (reference W5: a single running variable over
   * the whole document ⇒ lag over the conv-ordered window). */
  private def withFont(df: DataFrame, wConv: org.apache.spark.sql.expressions.WindowSpec): DataFrame =
    df
      .withColumn("f_fontStatus",
        when(coalesce(lag(col("role"), 1).over(wConv) =!= col("role"), lit(true)), "NEWFONT")
          .otherwise("SAMEFONT"))
      .withColumn("fsz", roleSize(col("role")))
      .withColumn("prev_fsz", lag(col("fsz"), 1).over(wConv))
      .withColumn("f_fontSize",
        when(col("prev_fsz").isNull, "HIGHERFONT")
          .when(col("fsz") === col("prev_fsz"), "SAMEFONTSIZE")
          .when(col("fsz") > col("prev_fsz"), "HIGHERFONT")
          .otherwise("LOWERFONT"))
      .drop("fsz", "prev_fsz")

  /** 24-column serialized row, byte-compatible with the body raw fixtures
   * (`FeaturesVectorDatacatEntries.printVector()` order). */
  def bodyVector(df: DataFrame): Column = concat_ws(" ",
    col("tok"),
    lower(col("tok")),
    prefix(col("tok"), 1), prefix(col("tok"), 2), prefix(col("tok"), 3), prefix(col("tok"), 4),
    suffix(col("tok"), 1), suffix(col("tok"), 2), suffix(col("tok"), 3), suffix(col("tok"), 4),
    col("f_blockStatus"), col("f_lineStatus"), col("f_alignmentStatus"),
    col("f_fontStatus"), col("f_fontSize"),
    lit("0"), lit("0"), // bold, italic (text-mode transcripts carry no styling)
    col("f_capitalisation"), col("f_digit"),
    bool01(col("f_singleChar")),
    col("f_punctType"),
    col("f_relDocPos"), col("f_relPagePos"),
    lit("0")) // bitmapAround

  // ----------------------------------------------------------- segmenter —

  /**
   * Line-level features of the segmenter model: the 33 columns of
   * `FeaturesVectorDatacatSegmenter.printVector()` (lineStatus/punctType are
   * forced null at `DatacatSegmenterParser.java:472-473` so their columns
   * are absent). Input: output of [[Structure.keptLines]].
   */
  def segmenter(lines: DataFrame): DataFrame = {
    val wConv = Window.partitionBy("conv_id").orderBy(col("turn_idx"), col("line_in_turn"))
    val wConvAll = wConv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrev = wConv.rowsBetween(Window.unboundedPreceding, -1)
    val wBlock = Window.partitionBy("conv_id", "turn_idx", "block_idx")
    val wTurn = Window.partitionBy("conv_id", "turn_idx")

    val base = patternCandidates(lines.withColumn("f_second",
        coalesce(try_element_at(lineToks, lit(2)), try_element_at(lineToks, lit(1)))))
      .withColumn("n_lines_block", count(lit(1)).over(wBlock))
      .withColumn("pos_in_block",
        row_number().over(wBlock.orderBy(col("line_in_turn"))))
      .withColumn("f_blockStatus",
        when(col("pos_in_block") === 1, "BLOCKSTART")
          .when(col("pos_in_block") === col("n_lines_block"), "BLOCKEND")
          .otherwise("BLOCKIN"))
      // PAGESTART on the first line of a turn; the line before a turn change
      // is retro-corrected to PAGEEND (reference `DatacatSegmenterParser
      // .java:485-495`, overwrite expressed as a lead comparison)
      .withColumn("f_pageStatus",
        when(lead(col("turn_idx"), 1).over(wConv) =!= col("turn_idx"), "PAGEEND")
          .when(coalesce(lag(col("turn_idx"), 1).over(wConv) =!= col("turn_idx"), lit(true)), "PAGESTART")
          .otherwise("PAGEIN"))

    repetitiveFlag(withFont(base, wConv))
      .withColumn("rep_rank",
        row_number().over(Window.partitionBy("conv_id", "pat")
          .orderBy(col("turn_idx"), col("line_in_turn"))))
      .withColumn("f_firstRepetitive", col("f_repetitive") && col("rep_rank") === 1)
      .withColumn("_tc", graft.functions.TokCaps.of(col("f_string")))
      .withColumn("f_digit", col("_tc.digit_class"))
      .withColumn("f_capitalisation", col("_tc.cap_class"))
      .withColumn("f_singleChar", length(col("f_string")) === 1)
      .withColumn("f_profile", punctuationProfile(col("line")))
      .withColumn("f_year", yearFlag(col("f_string")))
      .withColumn("f_month", monthFlag(col("f_string")))
      .withColumn("f_email", emailFlag(col("f_string")))
      .withColumn("f_http", httpFlag(col("f_string")))
      .withColumn("max_line_len", max(length(col("line"))).over(wBlock))
      .withColumn("f_lineLength",
        linearScaling(length(col("line")), col("max_line_len"), LineScale))
      .withColumn("nn", coalesce(sum(length(col("line")) + 1).over(wPrev), lit(0L)))
      .withColumn("block_nn", first(col("nn")).over(wBlock.orderBy(col("line_in_turn"))))
      .withColumn("doc_len", sum(length(col("line")) + 1).over(wConvAll))
      .withColumn("f_relDocPos", linearScaling(col("block_nn"), col("doc_len"), NbBinsPosition))
      .withColumn("n_lines_turn", max(col("line_in_turn")).over(wTurn) + 1)
      .withColumn("f_relPagePos",
        linearScaling(col("line_in_turn"), col("n_lines_turn"), NbBinsPosition))
      .select((lines.columns.toSeq ++ Seq("f_string", "f_second", "f_blockStatus", // dumped order
        "f_pageStatus", "f_fontStatus", "f_fontSize", "pat", "f_repetitive", "f_firstRepetitive",
        "f_digit", "f_capitalisation", "f_singleChar", "f_profile", "f_year", "f_month",
        "f_email", "f_http", "f_lineLength", "f_relDocPos", "f_relPagePos")).map(col): _*)
  }

  /** The segmenter's repetitive header/footer flag (reference A2,
   * `DatacatSegmenterParser.java:268-299,418-430`), the one segmenter column
   * the zone rules read: drops lines whose first token is empty and adds
   * `f_string`, `pat` and `f_repetitive`. */
  def repetitive(lines: DataFrame): DataFrame = repetitiveFlag(patternCandidates(lines))

  /** Conversation-grain half of [[repetitive]]; [[segmenter]] applies it
   * after its conv_id windows, whose clustering then serves it too. */
  private def repetitiveFlag(candidates: DataFrame): DataFrame =
    candidates
      .withColumn("pat_count", sum(when(col("pat_candidate"), 1).otherwise(0))
        .over(Window.partitionBy("conv_id", "pat")))
      .withColumn("f_repetitive", patNeedy && col("pat_count") > 1)
      .drop("head_tail_block", "pat_candidate", "pat_count")

  /** Per-line half of [[repetitive]], shared with [[Labeler.bodyLinesChunked]]:
   * `f_string` is the line's first word — the first run outside
   * `[\x20\t\f]`, with `\r` and `\n` removed — from the byte-scan leg
   * [[graft.functions.LineKernels.firstWord]] (equal to the first element of
   * the segmenter's `lineToks` stripped of `[ \n\r]`); `head_tail_block`
   * marks the first-2/last blocks of a turn, `pat_candidate` a block-first
   * line that is [[patNeedy]]. The flagship does not build these windows:
   * its span walk applies the same rule per conversation with the same
   * kernel cores (`graft.plans.TranscriptZoner`, TranscriptSpansSpec). */
  private[extract] def patternCandidates(lines: DataFrame): DataFrame =
    lines
      .withColumn("f_string", graft.functions.LineKernels.firstWordOf(col("line")))
      .where(col("f_string") =!= "")
      .withColumn("head_tail_block", col("block_idx") < 2 ||
        col("block_idx") === max(col("block_idx")).over(Window.partitionBy("conv_id", "turn_idx")))
      .withColumn("pat", pattern(col("line")))
      .withColumn("pat_candidate", patNeedy && col("line_idx") === 0)

  /** A head/tail-block line whose pattern is long enough to count. */
  private[extract] def patNeedy: Column = col("head_tail_block") && length(col("pat")) > 8

  /** The line's tokens, split on ASCII space, tab and form feed only (an
   * NBSP stays inside a token). */
  private def lineToks: Column =
    split(trim(regexp_replace(col("line"), "[\\x20\\t\\f]+", " ")), " ")

  /** Lexicon dictionary flags (cols 16-18 of the 33-col row): broadcast
   * left join against the in-jar wordlists — BroadcastHashJoin, no added
   * exchange. Kept OUT of [[segmenter]] so the zone-labeling pipeline
   * (which never reads these columns) does not pay the join: Catalyst
   * cannot prune an unused join away. Apply before [[segmenterVector]]. */
  def withLexicon(segFeatures: DataFrame): DataFrame = {
    val lex = broadcast(graft.text.Lexicon.table(segFeatures.sparkSession))
    segFeatures
      .withColumn("lex_word", lower(col("f_string")))
      .join(lex, Seq("lex_word"), "left")
      .withColumn("f_properName", coalesce(col("lex_proper"), lit(false)))
      .withColumn("f_commonName", coalesce(col("lex_common"), lit(false)))
      .drop("lex_word", "lex_proper", "lex_common")
  }

  /** 33-column serialized row (`FeaturesVectorDatacatSegmenter.printVector()`
   * order; properName/commonName come from the derived broadcast lexicon —
   * apply [[withLexicon]] first; firstName never fires in the reference
   * corpus and stays a constant 0 — all three fixture-verified in
   * SegFeatureFixtureSpec). */
  def segmenterVector(df: DataFrame): Column = concat_ws(" ",
    col("f_string"),
    col("f_second"),
    lower(col("f_string")),
    prefix(col("f_string"), 1), prefix(col("f_string"), 2),
    prefix(col("f_string"), 3), prefix(col("f_string"), 4),
    col("f_blockStatus"), col("f_pageStatus"),
    col("f_fontStatus"), col("f_fontSize"),
    lit("0"), lit("0"), // bold, italic
    col("f_capitalisation"), col("f_digit"),
    bool01(col("f_singleChar")),
    bool01(col("f_properName")), bool01(col("f_commonName")),
    lit("0"), // firstName: never set anywhere in the reference corpus
    bool01(col("f_year")), bool01(col("f_month")),
    bool01(col("f_email")), bool01(col("f_http")),
    col("f_relDocPos"), col("f_relPagePos"),
    when(col("f_profile") === "", "no").otherwise(col("f_profile")),
    when(col("f_profile") === "", "0").otherwise(length(col("f_profile")).cast("string")),
    col("f_lineLength"),
    lit("0"), lit("0"), // bitmapAround, vectorAround
    bool01(col("f_repetitive")), bool01(col("f_firstRepetitive")),
    lit("1")) // inMainArea
}
