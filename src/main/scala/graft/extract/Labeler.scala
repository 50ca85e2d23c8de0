package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.text.TextCols

/**
 * Deterministic sequence labelers replacing the reference's Wapiti CRF calls
 * (W10, `DatacatSegmenterParser.java:148`, `DatacatBodySegmentationParser
 * .java:110,645`). We cannot ship the native CRF; these are feature-driven
 * decision rules with BIO encoding, applied per conversation in document
 * order — the structure (featurize → label sequence → spans) is identical,
 * only the label-assignment function differs (documented heuristics instead
 * of learned weights).
 *
 * Two implementation styles on purpose:
 *  - the zone labeler is pure Catalyst (when-chains + lag for BIO): the rules
 *    are per-line, so the optimizer should own them;
 *  - the body labeler is a streaming FSM ([[LineClassifier]]) run by the
 *    body-walk operator [[graft.plans.BodySpans]], which declares its
 *    conv_id distribution and sort order and walks InternalRows: entry/title
 *    detection is genuinely sequential (state carried across tokens/lines).
 *    The FSM is O(1) state per conversation and never materializes a
 *    conversation in memory (buffering only one line at a time), so a
 *    10^9-turn conversation streams through — the reason we do NOT use
 *    groupByKey here. (The walk's transcript mode zones a conversation
 *    before it labels it, so it holds the conversation's candidate body
 *    lines, in a buffer that spills as a window partition's does.)
 */
object Labeler {

  /** Zone rules (segmenter analog) over transcript lines:
   * system turns → front matter, tool turns and repetitive boilerplate →
   * other, everything else → body; a trailing system turn → back. */
  def zones(segFeatures: DataFrame): DataFrame = {
    val wConv = Window.partitionBy("conv_id")
      .orderBy(col("turn_idx"), col("line_in_turn"))
    segFeatures
      .withColumn("zone", transcriptZone(
        col("turn_idx") === max(col("turn_idx")).over(Window.partitionBy("conv_id"))))
      .withColumn("zone_label", zoneLabel(wConv))
  }

  /** The `<body>` lines of [[zones]], without its windows: a line's body
   * membership never depends on the `<back>` test (`isLastTurn` only tells
   * `<back>` from `<other>` for system turns), so neither the conversation's
   * last turn nor `zone_label` is computed. Reads `f_repetitive`, role, tool
   * and turn_idx. */
  def bodyLines(segFeatures: DataFrame): DataFrame =
    segFeatures.where(transcriptZone(lit(false)) === "<body>")

  /** The transcript zone rule of [[zones]] over `f_repetitive`, role and
   * tool; `isLastTurn` marks the conversation's last turn, where a system
   * turn is `<back>`. Null role and tool fall through to `<body>`. */
  private def transcriptZone(isLastTurn: Column): Column =
    when(col("f_repetitive"), "<other>")
      .when(col("role") === "tool" || col("tool").isNotNull, "<other>")
      .when(col("role") === "system" && col("turn_idx") === 0, "<front>")
      .when(col("role") === "system" && isLastTurn, "<back>")
      .when(col("role") === "system", "<other>")
      .otherwise("<body>")

  private val toolRole = UTF8String.fromString("tool")
  private val systemRole = UTF8String.fromString("system")

  /** What role and tool decide of [[transcriptZone]]'s `<body>` test, for
   * the span walk's transcript mode ([[graft.plans.BodySpans.fromTranscript]]):
   * a line can be `<body>` only without a tool and with a role other than
   * `tool` and `system` (a null role included); such a line is `<body>`
   * unless it is repetitive. */
  private[graft] def bodyRole(role: UTF8String, tool: UTF8String): Boolean =
    tool == null && (role == null || !(role == toolRole || role == systemRole))

  /** BIO encoding of `zone` along `wOrd`: a conversation's first line and
   * every zone change are `I-<zone>`. */
  private def zoneLabel(wOrd: org.apache.spark.sql.expressions.WindowSpec): Column =
    when(coalesce(lag(col("zone"), 1).over(wOrd) =!= col("zone"), lit(true)),
      concat(lit("I-"), col("zone"))).otherwise(col("zone"))

  /**
   * Chunk-parallel transcript-mode body-line selection — row-identical to
   * `bodyLines(Features.repetitive(lines))`, and so to the `<body>` zone of
   * [[zones]] over [[Features.segmenter]], on the structural columns
   * (ChunkedPipelineSpec differential), for the giant-conversation path
   * ([[Pipeline.extractChunked]]). The body membership of a line reads only
   * per-line / turn-grain state (role, tool, [[Features.patternCandidates]])
   * plus ONE conversation-grain quantity: the repetitive-pattern count over
   * (conv_id, pattern); the selection itself is [[bodyLines]]. The pattern
   * count's conversation-grain window becomes a two-level aggregate:
   * per-(conv, chunk, pattern) candidate partials (map-side combinable),
   * conv-grain totals over that tiny frame, and a join back keyed by (conv,
   * chunk, pattern) — balanced by the chunk key even when one boilerplate
   * header repeats on every turn of a 10^9-turn conversation.
   */
  def bodyLinesChunked(lines: DataFrame, chunkTurns: Int = 4096): DataFrame = {
    require(chunkTurns > 0, "chunkTurns must be positive")
    val base = Features.patternCandidates(
      lines.withColumn("_chunk", Chunked.chunkCol(chunkTurns)))
    // candidate counts roll up per (conv, chunk, pattern) then per (conv,
    // pattern) — both frames are tiny (≤ head/tail lines per chunk); the
    // needy-pattern frame re-keys the totals by chunk so the join back to
    // the full-width lines never clusters a conversation on one task
    val partials = base.where(col("pat_candidate"))
      .groupBy("conv_id", "_chunk", "pat").agg(count(lit(1)).as("_c"))
    val totals = partials.groupBy("conv_id", "pat").agg(sum("_c").as("pat_count"))
    val needyPats = base.where(Features.patNeedy)
      .select("conv_id", "_chunk", "pat").distinct()
      .join(totals, Seq("conv_id", "pat"), "left")
    bodyLines(base.join(needyPats, Seq("conv_id", "_chunk", "pat"), "left")
      .withColumn("f_repetitive",
        Features.patNeedy && coalesce(col("pat_count"), lit(0L)) > 1))
      .drop("pat", "f_string", "head_tail_block", "pat_candidate", "pat_count",
        "f_repetitive", "_chunk")
  }

  /**
   * Content-based zone labeler (segmenter analog for document-shaped input,
   * where the role/tool columns of [[zones]] carry no signal — e.g. the
   * reference's catalogue corpus itself). Entirely declarative Catalyst:
   * per-line predicates, windowed density statistics, per-region window
   * aggregates and conv-level window aggregates — no custom code and ONE
   * exchange: hash(conv_id) clusters every window's keys, including the
   * (conv_id, region_id) region-stats windows.
   *
   * Document shape learned from the 418 segmenter gold docs
   * (`resources/dataset/datacat-segmenter/corpus/tei/`): contiguous numbered
   * REGIONS (dense lot markers, or sparse strong "N -" markers for prose
   * catalogues) are classified whole — letter-rich regions are `<body>`,
   * letter-poor ones (auction price lists) `<annex>`; front matter before
   * the first body region, back matter after the last; order-form pages
   * (dotted fill-in lines, COMMANDE/PRIX headers) → `<annex>`
   * (`12148-bpt6k97773279`), OCR garbage and bare page numbers outside the
   * body → `<other>`. 94.1% line accuracy vs gold (ZoneEvalSpec).
   *
   * Input needs (conv_id, turn_idx, line_in_turn, line). Adds `zone` and
   * BIO-encoded `zone_label`.
   */
  def zonesContent(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val wConv = Window.partitionBy("conv_id")
    val wOrd = wConv.orderBy(col("turn_idx"), col("line_in_turn"))
    val text = trim(col(lineCol))
    // repetitive page headers/stamps (A2, `DatacatSegmenterParser.java:
    // 268-299`): the same short letter pattern recurring through a document
    // is a page marker, not content — applied outside the body span only
    val pattern = TextCols.pattern(text)
    val withPreds = zcDensityCols(
      zcPredCols(lines, lineCol)
        .withColumn("_line_no", row_number().over(wOrd)), wOrd)
      .withColumn("_repetitive",
        length(pattern) > 2 && length(text) <= 30 &&
          count(lit(1)).over(Window.partitionBy(col("conv_id"), pattern)) >= 3)
      // contiguous numbered regions: a catalogue body that drifts letter-poor
      // mid-way ("0200 Écu. ... / AR5 F.D.C.") is ONE region and must be
      // classified as a whole, not line-by-line — region identity via
      // change detection, region class via region-level letter richness
      .withColumn("_region_id",
        when(col("_numeric"),
          sum(when(col("_numeric") &&
            !coalesce(lag(col("_numeric"), 1).over(wOrd), lit(false)), 1)
            .otherwise(0)).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))))
    // region statistics as WINDOW aggregates over (conv_id, region_id) — a
    // groupBy+join would re-shuffle the full line set on the two-column key;
    // hash(conv_id) already clusters (conv_id, region_id), so these windows
    // reuse the pipeline's one exchange (non-numeric lines share the null
    // region per conv; their stats are guarded off)
    val wRegion = Window.partitionBy("conv_id", "_region_id")
    val tTrim = trim(col(lineCol))
    // a CONTENTFUL marker line is a real lot entry: number + dash/dot (the
    // _strong shape), or number followed by words on the same line (letter
    // count >= 2; all letters sit after the numeric prefix by the mark
    // shape). Index tables ("Abbeville," / "117") and session schedules
    // ("Bronzes antiques" / "743 à 820") form numbered regions whose
    // markers are BARE numbers or ranges — gold labels those <front>
    // wherever they sit, even trailing the body
    // a SEQUENTIAL bare marker is contentful too: an index's page refs are
    // bare numbers but not incrementing, a lot list's bare markers are —
    // without this, a bare-marker catalogue region would look like an index
    val withRegion = withPreds
      .withColumn("_r_start", when(col("_numeric"), min("_line_no").over(wRegion)))
      .withColumn("_r_end", when(col("_numeric"), max("_line_no").over(wRegion)))
      // letter richness of the region as a whole: pure price lists sit
      // well below the threshold
      .withColumn("_r_letters",
        sum(col("_nletters").cast("double")).over(wRegion) /
          greatest(sum(length(tTrim).cast("double")).over(wRegion), lit(1.0)))
      // fraction of the region's marker lines that are contentful entries
      .withColumn("_r_marks",
        sum(when(col("_is_mark"), 1.0).otherwise(0.0)).over(wRegion))
      .withColumn("_r_content",
        sum(when(col("_is_mark") && ZC.markContentful, 1.0).otherwise(0.0)).over(wRegion) /
          greatest(col("_r_marks"), lit(1.0)))
      // a region is a BODY of entries if it is letter-rich as a whole;
      // pure price lists sit well below the threshold
      .withColumn("_r_is_body", when(col("_numeric"), col("_r_letters") >= 0.26))
      // the index/schedule shape is the strict sub-case: letter-rich but
      // with essentially NO real entry markers (page-number and lot-range
      // lines only) — bare prices inside genuine catalogue bodies keep
      // those regions far above the floor
      .withColumn("_r_index", when(col("_numeric"),
        col("_r_letters") >= 0.26 && col("_r_content") < 0.15).otherwise(false))
    val wConv2 = Window.partitionBy("conv_id")
    val withBodySpan = withRegion
      // index/schedule regions must not anchor the body span — a session
      // schedule in the front matter would otherwise start the body early
      .withColumn("_first_body",
        min(when(col("_r_is_body") && !col("_r_index"), col("_r_start"))).over(wConv2))
      .withColumn("_last_body",
        max(when(col("_r_is_body") && !col("_r_index"), col("_r_end"))).over(wConv2))
    val firstEntry = col("_first_body")
    val lastEntry = col("_last_body")
    // first annex header after the body has started caps the body range:
    // everything from it to the end of the document is the annex
    val annexStart = min(when(col("_is_trigger") && col("_line_no") > firstEntry,
      col("_line_no"))).over(wConv2)
    // the expert-letterhead block right above a leading price list ("Émile
    // BOURGEY / Expert National / 7, rue Drouot") is part of the annex —
    // index/schedule regions do not count as price lists
    val nearPrice = min(when(col("_numeric") && !col("_r_is_body") && !col("_r_index"),
      col("_line_no")))
      .over(Window.partitionBy("conv_id")
        .orderBy(col("turn_idx"), col("line_in_turn")).rowsBetween(0, 15)).isNotNull
    withBodySpan
      .withColumn("zone", ZC.zone(text, firstEntry, lastEntry, annexStart, nearPrice))
      .withColumn("zone_label", zoneLabel(wOrd))
      .select((lines.columns.toSeq :+ "zone" :+ "zone_label").map(col): _*)
  }

  /** Shared per-line expressions of the content zoner — ONE definition used
   * by both [[zonesContent]] and [[zonesContentChunked]] so the two can
   * never drift. See [[zonesContent]] for the rule rationale. */
  private[extract] object ZC {
    // lot-entry marker: numeric-ish line start in any of the corpus shapes
    // ("151 - ", "246.", "3 Zeugitane", "*483 Jean-Louis", OCR confusables).
    // Individually too noisy (dates, addresses, page numbers also match) —
    // the body range is decided by marker DENSITY, not single markers
    def isMark(t: Column): Column =
      t.rlike("^[\\*\"«'~]?\\p{Nd}+([-_–−.\\s*]|$)") || t.rlike("^[iIjJ!,]\\p{Nd}+")
    // annex trigger: auction-result / order-form section HEADERS
    // ("PRIX DES ADJUDICATIONS", "RESULTAT DES ENCHERES", "BASES
    // D'ÉVALUATION", "COMMANDE émanant de") — these open the numbered
    // price-list pages that line-local rules cannot tell from lot entries.
    // Length-capped so front-matter prose mentioning "prix d'adjudication"
    // (the sale conditions) does not fire
    def isTrigger(t: Column): Column = length(t) <= 50 && (
      t.rlike("(?i)prix\\s+d(es|')?\\s*adjudications?") ||
      t.rlike("(?i)r[ée]sultats?\\s+des?\\s+ench[èe]res") ||
      t.rlike("(?i)bases\\s+d.[ée]valuations?") ||
      t.rlike("(?i)commande\\s+[ée]manant") ||
      t.rlike("(?i)^annexe$"))
    // order-form fill-in line: mostly dots
    def isForm(t: Column): Column =
      length(t) > 6 && length(regexp_replace(t, "[^.]", "")) * 2 > length(t)
    // bare page number / tiny non-alphabetic fragment
    def isPageNum(t: Column): Column = t.rlike("^\\p{Nd}{1,4}$") ||
      (length(regexp_replace(t, "[\\p{L}\\p{Nd}]", "")) === length(t) &&
        length(t) <= 8)
    def nLetters(t: Column): Column = length(graft.functions.LineKernels.lettersOf(t))
    // OCR garbage: less than 40% letters on a long-enough line
    def isGarbage(t: Column): Column =
      length(t) >= 10 && nLetters(t) * 5 < length(t) * 2
    def strong(t: Column): Column = t.rlike("^[\\*\"«'~]?\\p{Nd}+\\s*[-_–−.]")
    // ASCII digits only: OCR-confusable marks ("i151") and non-ASCII
    // Unicode digits (fullwidth/Arabic-Indic, which the \p{Nd} mark
    // regexes match) have no [0-9] capture — the extract is '' there,
    // and ANSI mode makes ''::int (or '１２'::int) throw, so nullif
    // first. Matches the DuckDB oracle, which also captures [0-9].
    def markNum(t: Column): Column =
      when(col("_is_mark"),
        nullif(regexp_extract(t, "^[\\*\"«'~]?([0-9]{1,6})", 1), lit(""))
          .cast("int"))
    // a CONTENTFUL marker line is a real lot entry: number + dash/dot (the
    // _strong shape), or number followed by words on the same line, or a
    // SEQUENTIAL bare marker (see [[zonesContent]])
    def markContentful: Column = col("_is_mark") &&
      (col("_strong") || col("_nletters") >= 2 || col("_seq_mark"))
    /** The zone decision over the line text plus the statistics columns
     * (windowed in the sequential path, two-level-joined in the chunked
     * one); rule ordering is load-bearing — see [[zonesContent]]. */
    def zone(t: Column, firstEntry: Column, lastEntry: Column,
        annexStart: Column, nearPrice: Column): Column =
      when(firstEntry.isNull && col("_r_index"), "<front>")
        .when(firstEntry.isNull && col("_numeric"), "<annex>")
        .when(firstEntry.isNull, "<body>")
        .when(annexStart.isNotNull && col("_line_no") >= annexStart, "<annex>")
        // index/schedule regions are front matter only OUTSIDE the genuine
        // body span — a bare-number-rich stretch in the middle of the
        // catalogue (price columns, year lists) stays body
        .when(col("_r_index") &&
          (col("_line_no") < firstEntry || col("_line_no") > lastEntry), "<front>")
        .when(col("_numeric") && !col("_r_is_body"), "<annex>")
        .when(col("_line_no").between(firstEntry, lastEntry), "<body>")
        .when(col("_line_no") < firstEntry && nearPrice, "<annex>")
        .when(isForm(t) || isTrigger(t), "<annex>")
        // ALL pre-body lines — including repeated headers ("COMMISSAIRES-
        // PRISEURS ASSOCIÉS" on every title page, session schedules) — are
        // <front> in the gold convention; the A2 repetitive rule fires only
        // from the body onward (page stamps between/after entries)
        .when(col("_line_no") < firstEntry, "<front>")
        .when(col("_repetitive"), "<other>")
        .when(isPageNum(t) || isGarbage(t), "<other>")
        .otherwise("<back>")
  }

  /** Per-line predicate columns shared by both content-zoner paths. */
  private def zcPredCols(df: DataFrame, lineCol: String): DataFrame = {
    val t = trim(col(lineCol))
    df
      // letter count of the line, shared by the garbage test, the region
      // letter-richness sum and the contentful-marker test (one regex
      // evaluation per line instead of three)
      .withColumn("_nletters", ZC.nLetters(t))
      .withColumn("_is_mark", ZC.isMark(t))
      .withColumn("_is_trigger", ZC.isTrigger(t))
      .withColumn("_strong", ZC.strong(t))
      .withColumn("_mark_num", ZC.markNum(t))
  }

  /** BOUNDED-window marker-density features shared by both content-zoner
   * paths — the caller supplies the ordering window (conversation-grain in
   * the sequential path, (conv_id, _chunk)-grain over a lead-46/trail-30
   * phantom-adopted frame in the chunked one; 46 = the 30-line `_seqr`
   * radius + 15 more for its `_seq_mark` inputs + 1 for `lag(_numeric)`).
   * Widest lookback chain: `_seqr` at x reads `_seq_mark` over [x−30, x+30],
   * each reading `_prev_nums` 15 further back. */
  private def zcDensityCols(df: DataFrame,
      wOrd: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    val wNear = wOrd.rowsBetween(-10, 10)
    df
      // numbered region: >=30% of the surrounding 21 lines start with a lot
      // number — isolated numeric lines (a date in the front, a library-stamp
      // year in the back) never qualify
      .withColumn("_mark_frac",
        avg(col("_is_mark").cast("double")).over(wNear))
      // prose catalogues (long multi-line descriptions) have lot markers
      // only every ~10-15 lines — too sparse for the 0.3 density, but their
      // markers are the STRONG dash/dot form ("5 __ Amphore", "246."), which
      // front matter almost never strings together: count those over a wide
      // ±30 window; a line belongs to a sparse region only if a strong
      // marker sits AT or ABOVE it within 20 lines — otherwise the ±30
      // window would absorb up to 30 lines of front matter above the first
      // lot
      .withColumn("_sparse",
        sum(col("_strong").cast("int")).over(wOrd.rowsBetween(-30, 30)) >= 3 &&
          sum(col("_strong").cast("int")).over(wOrd.rowsBetween(-20, 0)) >= 1)
      // SEQUENTIAL markers: catalogues whose entries span 3-15 lines with a
      // plain "2 Ethelbert…", bare "2", or starred "1*" marker fall below
      // the 0.3 density AND lack the strong dash form — but their lot
      // numbers INCREMENT, which front matter (dates, addresses, prices)
      // essentially never does. A mark is sequential if some mark within
      // the previous 15 lines carries its number minus 1 or 2 (minus 2
      // tolerates one OCR-mangled marker); price lines between lots do not
      // poison the test because ANY recent mark may supply n-1, not just
      // the nearest
      .withColumn("_prev_nums",
        collect_list(col("_mark_num")).over(wOrd.rowsBetween(-15, -1)))
      .withColumn("_seq_mark", col("_is_mark") && col("_mark_num").isNotNull &&
        (array_contains(col("_prev_nums"), col("_mark_num") - 1) ||
          array_contains(col("_prev_nums"), col("_mark_num") - 2)))
      .withColumn("_seqr",
        sum(col("_seq_mark").cast("int")).over(wOrd.rowsBetween(-30, 30)) >= 3 &&
          sum(col("_seq_mark").cast("int")).over(wOrd.rowsBetween(-20, 0)) >= 1)
      // bridging <=2-line gaps between numeric stretches (region merge for
      // fragmented index tables) was TRIED and measured a wash: front F1
      // +0.3 but overall accuracy −0.03 and annex recall −0.4 — reverted
      .withColumn("_numeric",
        col("_mark_frac") >= 0.3 || col("_sparse") || col("_seqr"))
  }

  /**
   * Chunk-parallel twin of [[zonesContent]] — row-identical output
   * (DocumentChunkedSpec differential + the doc_chunked_diff oracle), for
   * document-mode corpora whose single conversations are giant (SURVEY §8.2
   * #1). NO stage partitions by conv_id alone over a line-grain frame:
   *
   *  - global `_line_no` is two-level ([[Chunked.withGlobalLineNo]]);
   *  - the bounded marker-density windows run per (conv_id, _chunk) over a
   *    lead-46/trail-30 phantom-adopted frame ([[Chunked.adoptByLineNo]];
   *    46 = `_seqr`'s 30-line radius + 15 for its `_seq_mark` inputs + 1
   *    for `lag(_numeric)`);
   *  - the (conv, pattern) repetitive count, region ids (a prefix sum) and
   *    region statistics are per-chunk partials + tiny totals + a
   *    (conv, chunk, …)-keyed join back — the same two-level shape as
   *    [[bodyLinesChunked]];
   *  - conversation anchors (body span, annex start) are map-side-
   *    combinable groupBy aggregates over tiny frames, re-keyed by chunk;
   *  - the forward-looking `nearPrice` window and the BIO lag run on a
   *    second lead-1/trail-15 adoption carrying the joined statistics.
   */
  def zonesContentChunked(lines: DataFrame, chunkTurns: Int = 4096,
      lineCol: String = "line"): DataFrame = {
    require(chunkTurns > 0, "chunkTurns must be positive")
    val inCols = lines.columns.toSeq
    val t = trim(col(lineCol))
    val wCh = Window.partitionBy("conv_id", "_chunk").orderBy("_line_no")

    // chunk ids + global line numbers + per-line predicates
    val base = zcPredCols(Chunked.withGlobalLineNo(lines, chunkTurns), lineCol)
      .withColumn("_pat", TextCols.pattern(t))

    // (conv, pattern) repetitive counts, two-level; totals re-keyed by
    // chunk so the join back never clusters a conversation on one task
    val patPartials = base.groupBy("conv_id", "_chunk", "_pat")
      .agg(count(lit(1)).as("_pc"))
    val patTotals = patPartials.groupBy("conv_id", "_pat")
      .agg(sum("_pc").as("_pat_cnt"))
    val patKeyed = patPartials.select("conv_id", "_chunk", "_pat")
      .join(patTotals, Seq("conv_id", "_pat"))
    val withRep = base.join(patKeyed, Seq("conv_id", "_chunk", "_pat"), "left")
      .withColumn("_repetitive",
        length(col("_pat")) > 2 && length(t) <= 30 &&
          coalesce(col("_pat_cnt"), lit(0L)) >= 3)
      .drop("_pat", "_pat_cnt")

    // bounded-window features + the region-start indicator on the adopted
    // frame (lag(_numeric) is exact for real rows AND the lead-1 phantom).
    // The plan BARRIER cuts the logical tree here: the region/anchor stages
    // below reference this frame ~8×, and each reference would otherwise
    // carry the whole predicate+adoption tree into Catalyst's per-Dataset
    // clone/analyze walk ([[Chunked.barrier]]).
    val dens = Chunked.barrier(
      zcDensityCols(Chunked.adoptByLineNo(withRep, lead = 46, trail = 30), wCh)
        .withColumn("_rs_ind",
          when(col("_numeric") &&
            !coalesce(lag(col("_numeric"), 1).over(wCh), lit(false)), 1)
            .otherwise(0))
        .where(!col("_ph")).drop("_ph")
        .drop("_mark_frac", "_sparse", "_prev_nums", "_seqr"))

    // region ids: two-level prefix sum of the region-start indicators
    val regOffsets = dens.groupBy("conv_id", "_chunk")
      .agg(sum("_rs_ind").as("_nr"))
      .withColumn("_r_off", coalesce(sum(col("_nr")).over(
        Window.partitionBy("conv_id").orderBy("_chunk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("conv_id", "_chunk", "_r_off")
    val withRegion0 = dens.join(regOffsets, Seq("conv_id", "_chunk"))
      .withColumn("_region_id", when(col("_numeric"),
        col("_r_off") + sum(col("_rs_ind")).over(
          wCh.rowsBetween(Window.unboundedPreceding, 0))))
      .drop("_rs_ind", "_r_off")

    // region statistics: per-(conv, chunk, region) partials → tiny region
    // totals → join back keyed (conv, chunk, region). All sums are
    // integer-valued doubles, so two-level addition is EXACT (no float
    // order sensitivity vs the sequential window sums).
    val rPartials = withRegion0.where(col("_numeric"))
      .groupBy("conv_id", "_chunk", "_region_id")
      .agg(min("_line_no").as("_p_start"), max("_line_no").as("_p_end"),
        sum(col("_nletters").cast("double")).as("_p_nl"),
        sum(length(t).cast("double")).as("_p_len"),
        sum(when(col("_is_mark"), 1.0).otherwise(0.0)).as("_p_marks"),
        sum(when(col("_is_mark") && ZC.markContentful, 1.0).otherwise(0.0))
          .as("_p_content"))
    val rTotals = rPartials.groupBy("conv_id", "_region_id")
      .agg(min("_p_start").as("_r_start"), max("_p_end").as("_r_end"),
        sum("_p_nl").as("_t_nl"), sum("_p_len").as("_t_len"),
        sum("_p_marks").as("_r_marks"), sum("_p_content").as("_t_content"))
      .withColumn("_r_letters",
        col("_t_nl") / greatest(col("_t_len"), lit(1.0)))
      .withColumn("_r_content",
        col("_t_content") / greatest(col("_r_marks"), lit(1.0)))
      .withColumn("_r_is_body", col("_r_letters") >= 0.26)
      .withColumn("_r_index",
        col("_r_letters") >= 0.26 && col("_r_content") < 0.15)
      .select("conv_id", "_region_id", "_r_start", "_r_end", "_r_letters",
        "_r_marks", "_r_content", "_r_is_body", "_r_index")
    val rKeyed = rPartials.select("conv_id", "_chunk", "_region_id")
      .join(rTotals, Seq("conv_id", "_region_id"))
    val withRegion = withRegion0
      .join(rKeyed, Seq("conv_id", "_chunk", "_region_id"), "left")
      // sequential `_r_index` is false (not null) for non-numeric lines
      .withColumn("_r_index", coalesce(col("_r_index"), lit(false)))

    // conversation anchors off the tiny frames, re-keyed by chunk
    val convAnchors = rTotals.groupBy("conv_id")
      .agg(min(when(col("_r_is_body") && !col("_r_index"), col("_r_start")))
        .as("_first_body"),
        max(when(col("_r_is_body") && !col("_r_index"), col("_r_end")))
          .as("_last_body"))
    val chunkAnchors = regOffsets.select("conv_id", "_chunk")
      .join(convAnchors, Seq("conv_id"), "left")
    // first annex header after the body start: trigger rows meet the conv
    // anchor via the chunk key, then a map-side-combinable conv min
    val annexStarts = withRegion.where(col("_is_trigger"))
      .select("conv_id", "_chunk", "_line_no")
      .join(chunkAnchors, Seq("conv_id", "_chunk"), "left")
      .where(col("_line_no") > col("_first_body"))
      .groupBy("conv_id").agg(min("_line_no").as("_annex_start"))
    val chunkMeta = chunkAnchors.join(annexStarts, Seq("conv_id"), "left")
    val withAnchors = withRegion.join(chunkMeta, Seq("conv_id", "_chunk"))

    // forward-looking nearPrice + zone + BIO on a lead-1/trail-15 adoption
    // (the lead-1 phantom's zone is exact: its 15-forward context is the
    // chunk's own head, its statistics ride the adopted row)
    val aug2 = Chunked.adoptByLineNo(withAnchors, lead = 1, trail = 15)
    val nearPrice = min(when(
      col("_numeric") && !col("_r_is_body") && !col("_r_index"),
      col("_line_no"))).over(wCh.rowsBetween(0, 15)).isNotNull
    // output barrier: stage-1 output is consumed 2-3× per downstream
    // two-level stage (model featurizer, tokenizer stitch) — hand those a
    // leaf, pruned to the caller-visible columns
    Chunked.barrier(aug2
      .withColumn("zone", ZC.zone(t, col("_first_body"), col("_last_body"),
        col("_annex_start"), nearPrice))
      .withColumn("zone_label", zoneLabel(wCh))
      .where(!col("_ph"))
      .select((inCols :+ "zone" :+ "zone_label").map(col): _*))
  }

  private[graft] val entryStartRe = "^(\\p{Nd}+|[iIjJ!,]\\p{Nd}*|[iIjJ]{1,3})$".r
  private[graft] val dashSet = Set("-", "_", "–", "−", ".")

  /** Pure line-shape test for "starts a lot entry" — shared between the
   * classifier and the drivers' ONE-LINE LOOKAHEAD (the CRF's window
   * templates see following lines; the FSM approximates that with exactly
   * one line of lookahead, which is what separates a section heading from
   * an entry continuation right above the next lot marker). */
  private[graft] def isEntryLine(toks: collection.Seq[String]): Boolean =
    toks.nonEmpty && toks.head != null && {
      // null-tolerant: runs in the drivers' lookahead OUTSIDE the per-line
      // error isolation (a malformed NEXT line must not kill the current)
      val head = toks.head
      mayStartEntry(head) && entryStartRe.findFirstIn(head).isDefined &&
        ((toks.size > 1 && dashSet(toks(1))) || head.forall(_.isDigit))
    }

  /** [[entryStartRe]]'s first-code-point test, run before the regex: only
   * a `\p{Nd}` digit or one of `iIjJ!,` can open a match. */
  private[graft] def mayStartEntry(head: String): Boolean = head.nonEmpty && {
    val cp = head.codePointAt(0)
    Character.getType(cp) == Character.DECIMAL_DIGIT_NUMBER || "iIjJ!,".indexOf(cp) >= 0
  }

  /** The body FSM's line-classification state machine, run by the one line
   * walker over sorted body tokens (`graft.plans.LineWalk` inside
   * [[graft.plans.BodySpansExec]]), which hands each classified line to a
   * span, label or transition sink. A line's entry test is [[isEntryLine]],
   * which the walker runs once per line, as its predecessor's lookahead,
   * and passes to [[classify]] as `isEntry`. */
  private[graft] final class LineClassifier {
    private var openLabel: String = null
    private var lastWasTitle = false
    private var lastWasGrade = false
    private var lastGradeAlpha = false

    /** Canonical id of the current state — the key to the chunk-parallel
     * labeler ([[bodyLabelsChunked]]): only 7 states are reachable, because
     * `lastWasTitle` is always `openLabel == "<title>"` and `lastWasGrade`
     * only holds under an open `<entry>` (both reassigned on every line).
     * A stale `lastGradeAlpha` under `lastWasGrade == false` is
     * canonicalized to `false`: the flag is read only inside
     * `preEntryHeading`, whose `(lastWasTitle || lastWasGrade)` gate plus
     * the `(lastWasTitle || lastGradeAlpha || n <= 3)` disjunction make it
     * decisive only when `lastWasGrade` holds — so states differing only
     * in a stale flag are semantically identical. */
    private[graft] def stateId: Int = openLabel match {
      case null          => 0
      case "<other>"     => 1
      case "<title>"     => 2
      case "<titledesc>" => 3
      case _ /* entry */ => if (!lastWasGrade) 4 else if (lastGradeAlpha) 5 else 6
    }

    /** Restore a canonical state (inverse of [[stateId]]): 0 at the start
     * of a conversation, a chunk's entry state in the chunk-parallel
     * labeler. */
    private[graft] def setState(id: Int): Unit = {
      openLabel = id match {
        case 0 => null
        case 1 => "<other>"
        case 2 => "<title>"
        case 3 => "<titledesc>"
        case _ => "<entry>"
      }
      lastWasTitle = id == 2
      lastWasGrade = id >= 5
      lastGradeAlpha = id == 5
    }

    /** Returns (base label, starts-new-span) and advances the state.
     * `isEntry` = [[isEntryLine]] of `toks`;
     * `nextIsEntry` = the FOLLOWING line of the same conversation starts a
     * lot entry ([[isEntryLine]]) — supplied by the drivers' one-line
     * lookahead; false at conversation/input end.
     *
     * Hot path of the whole pipeline (runs once per line inside the body
     * walk): every line-shape statistic is gathered in ONE manual
     * scan over the tokens, no intermediate collections. Heading-rule
     * semantics are pinned by LabelerEvalSpec (99.5 vs gold) and the
     * fused≡declarative differential. */
    def classify(toks: collection.Seq[String], caps: collection.Seq[String],
        isEntry: Boolean, nextIsEntry: Boolean): (String, Boolean) = {
      val n = toks.size
      // one pass: alpha-token stats, digit/roman/paren/dash shape flags
      var nAlpha = 0; var maxAlphaLen = 0; var allCapsAcc = true
      var firstAlphaCap: String = null; var firstAlphaLetters = 0
      var hasInitcap = false; var hasTrueDashInner = false
      var parenIdx = -1; var hasClose = false
      var yearToks = 0; var hasDigit3 = false; var hasDigit2 = false
      var hasRoman5 = false; var hasAnyDigit = false; var dotThenWord = false
      var i = 0
      while (i < n) {
        val t = toks(i)
        var letters = 0; var digits = 0; var roman = true
        var j = 0
        while (j < t.length) {
          val c = t.charAt(j)
          if (Character.isLetter(c)) letters += 1
          if (Character.isDigit(c)) digits += 1
          if ("IVXLCDM".indexOf(c) < 0) roman = false
          j += 1
        }
        if (digits > 0) hasAnyDigit = true
        // a sentence-internal dot followed by a real word ("Peinture . Deux
        // pièces .") marks entry prose, not a heading (headings' internal
        // dots only abbreviate initials: "Monogramme P . M . E .")
        if (t == "." && i > 0 && i < n - 1 && toks(i + 1).count(Character.isLetter) >= 2)
          dotThenWord = true
        if (letters > 0) {
          nAlpha += 1
          if (letters > maxAlphaLen) maxAlphaLen = letters
          val cap = caps(i)
          if (firstAlphaCap == null) { firstAlphaCap = cap; firstAlphaLetters = letters }
          if (cap != "ALLCAP") allCapsAcc = false
          if (cap == "INITCAP") hasInitcap = true
        }
        if (digits == t.length && t.nonEmpty) {
          if (t.length >= 3) hasDigit3 = true
          if (t.length >= 2) hasDigit2 = true
          if (t.length >= 3 && t.length <= 4) yearToks += 1
        }
        if (t.length >= 5 && roman) hasRoman5 = true
        if (i < n - 1 && (t == "-" || t == "–" || t == "−")) hasTrueDashInner = true
        if (parenIdx < 0 && t == "(") parenIdx = i
        if (t == ")") hasClose = true
        i += 1
      }
      val allCaps = nAlpha > 0 && allCapsAcc
      val head = if (n > 0) toks.head else ""
      // heading shapes (tuned against the 14 gold body docs, LabelerEvalSpec):
      // all-caps headings need a real word (>=4 letters), no year/long-roman-
      // numeral token and an alphabetic first token, so coin-grade codes
      // ("AR ."), legends ("BPETTIQN .") and wrapped motto lines
      // ("WESTPH . FR . PR 1808 .") stay entry continuations
      val capsHeading = allCaps && n <= 8 && maxAlphaLen >= 4 &&
        head.exists(_.isLetter) && !hasDigit3 && !hasRoman5
      // "GAULE . - Massilia ." — all-caps region word, a real dash (not the
      // "." also in dashSet), then an init-cap place name
      val geoHeading = n <= 10 && firstAlphaCap == "ALLCAP" &&
        firstAlphaLetters >= 4 && hasTrueDashInner && hasInitcap
      // "ANSELIN ( J . - L . ) ." / "LE BEAU ( P . - A . ) ." / "ÉPIRE ( in
      // genere ) ." — all-caps headword(s) followed by a parenthesized
      // qualifier within the first few tokens
      val capsParenHeading = n <= 14 && hasClose &&
        parenIdx >= 1 && parenIdx <= 4 && {
          var ok = true; var any = false; var maxL = 0; var k = 0
          while (k < parenIdx) {
            val t = toks(k); val letters = t.count(_.isLetter)
            if (letters > 0) {
              any = true
              if (caps(k) != "ALLCAP") ok = false
              if (letters > maxL) maxL = letters
            }
            k += 1
          }
          any && ok && maxL >= 3
        }
      // "Louis XIV ( 1643 - 1715 )" — init-cap name with a parenthesized
      // year range (two 3-4 digit numbers inside parens)
      val yearHeading = n <= 12 && parenIdx >= 0 && hasClose &&
        firstAlphaCap == "INITCAP" && yearToks >= 2
      // runs of headings: a short init-cap dotted line right after a title
      // ("Syracuse .", "Pyrrhus , roi .") continues the heading run; the same
      // shape right after a coin-grade line ("AR .") starts a new section.
      // firstAlphaLetters >= 4 keeps "Id ." idem-entries out; the inner-dash
      // guard keeps OCR grade lines ("EcuAR . - T . B .") out
      val shortNameLine = n <= 8 && firstAlphaCap == "INITCAP" &&
        firstAlphaLetters >= 4 && !hasTrueDashInner &&
        n > 0 && toks(n - 1) == "." && !hasDigit2
      val runHeading = (lastWasTitle || lastWasGrade) && shortNameLine
      // one-line lookahead (the window-template context the 2-line state
      // misses): a short digit-free init-cap line sitting DIRECTLY above the
      // next lot marker is a section heading ("Syracuse .", "Jérôme
      // Napoléon , roi de Westphalie") — but ONLY when the previous entry
      // already CLOSED (a grade/junk line, or a title run): drawings
      // catalogues end every entry with exactly this shape ("Aquarelle .",
      // "Dessin à la plume .") as the medium line, and there the previous
      // line is still open prose
      val preEntryHeading = nextIsEntry && (lastWasTitle || lastWasGrade) &&
        n <= 10 && firstAlphaCap == "INITCAP" && firstAlphaLetters >= 4 &&
        head != "(" && // fully parenthesized subtitles are <titledesc>
        !hasAnyDigit && !hasTrueDashInner && !dotThenWord &&
        // a bare separator line ("-") closes entries too, but in OCR'd
        // jewelry lists it also splits a lot number from its text — trust
        // it only for the very short heading shapes
        (lastWasTitle || lastGradeAlpha || n <= 3)
      // letter-spaced OCR headings: "W IL L E T T E ( A . )", "D O U C E T
      // ( L u c ie n )" — a run of >=4 one/two-letter alphabetic tokens up
      // to a parenthesized qualifier (grade codes like "F . D . C ." carry
      // dots between letters, so the alpha-only run test excludes them)
      val spacedParenHeading = hasClose && parenIdx >= 4 && parenIdx <= 10 && {
        var shorts = 0; var ok = true; var k = 0
        while (k < parenIdx) {
          val t = toks(k); val letters = t.count(_.isLetter)
          if (letters == 0 || letters != t.length) ok = false
          else if (letters <= 2) shorts += 1
          k += 1
        }
        ok && shorts >= 4
      }
      // same OCR shape without the qualifier: "DE FE U R E"
      val spacedHeading = n >= 4 && nAlpha == n && maxAlphaLen <= 2
      val isTitle = !isEntry &&
        (capsHeading || geoHeading || capsParenHeading || yearHeading ||
          runHeading || preEntryHeading || spacedParenHeading || spacedHeading)
      // grade-code line: short, only abbreviation-length words — the typical
      // last line of a coin entry ("AR .", "OR * F . D . C .", and the OCR
      // forms "~Jî5 T . B .", "yR7 T . B ." whose junk tokens break an
      // all-caps test); also matches bare separator lines ("-") — anything
      // that visibly CLOSES an entry
      val isGrade = n <= 8 && maxAlphaLen <= 4
      // the one titledesc shape in the gold corpus: a fully parenthesized
      // subtitle right under a title — "(PIÈCES FRAPPÉES EN TOSCANE)"
      val parenDesc = lastWasTitle && n > 0 && head == "(" &&
        (toks(n - 1) == ")" || (n > 1 && toks(n - 2) == ")"))
      val base =
        if (isEntry) "<entry>"
        else if (isTitle) "<title>"
        else if (openLabel == null) "<other>"
        else if (parenDesc) "<titledesc>"
        else if (lastWasTitle) "<entry>"
        else openLabel
      // span segmentation: a label CHANGE starts a span, and so does an
      // entry-marker line — the reference emits one <entry> per lot, so
      // back-to-back lots (the common catalogue shape) must not merge into
      // one span (gold BIO agreement measured in LabelerEvalSpec). A bare
      // all-digit head starts a span only in the dash form ("151 - …"), as
      // a lone number line, or when the first word after it is capitalized
      // ("12 Vase ancien"): the coin-catalogue TALLY lines that close an
      // entry ("28 pièces .", "3 pièces AR .") share the digit-head shape
      // but carry a lowercase unit word and must not split their entry
      // OCR'd catalogues also lose lot numbers entirely: a dash-headed line
      // with a capitalized first word ("- Cinq Émeraudes .") is the gold
      // start of the next lot (wrapped-text continuations share the dash
      // head but start lowercase: "- gaises")
      val isStart = base != openLabel ||
        (isEntry && ((n > 1 && dashSet(toks(1))) || n == 1 ||
          (firstAlphaCap != null && firstAlphaCap != "NOCAPS"))) ||
        (base == "<entry>" && n >= 2 && dashSet(head) &&
          firstAlphaCap == "INITCAP")
      openLabel = base
      lastWasTitle = base == "<title>"
      // a grade line CLOSES an entry — an entry-START line (a bare OCR'd
      // lot number like "74 -") must not count, or the entry text following
      // it reads as a post-entry heading
      lastWasGrade = base == "<entry>" && isGrade && !isEntry
      if (lastWasGrade) lastGradeAlpha = nAlpha > 0
      (base, isStart)
    }
  }

  /**
   * Body labeler: token-level entry/title/titledesc/other FSM.
   * Heuristics (deterministic, on catalogue-style content):
   *  - a line whose alphabetic tokens are all-caps and short → `<title>`;
   *  - a line starting with a numeric-ish lot marker (digits or the OCR
   *    confusables i/I/j/!/,) followed by a dash/dot → starts an `<entry>`;
   *  - lines right after a title that start no entry → `<titledesc>`;
   *  - anything before the first title/entry → `<other>`;
   *  - continuation lines extend the open span (the sequential part).
   *
   * Input must contain columns (conv_id, turn_idx, line_in_turn, tok_idx,
   * tok, f_capitalisation). Output is the input's columns plus a non-null
   * BIO `label`, from the label sink of [[graft.plans.BodySpans]], which
   * keeps the input's partitioning and ordering. `repartitionByConv` places
   * the conv_id shuffle by hand; otherwise the operator's declared
   * distribution does. S3-style per-line error isolation: a line whose
   * classification throws is dropped (the reference isolates per FILE,
   * EngineDatacat.java:114-150); [[graft.plans.BodySpans.labels]] and
   * [[bodyLabelsChunked]] also count those lines into a
   * [[Lineage.PartitionStats]].
   */
  def bodyLabels(tokens: DataFrame, repartitionByConv: Boolean = true): DataFrame =
    graft.plans.BodySpans.labels(
      if (repartitionByConv) tokens.repartition(col("conv_id")) else tokens,
      chunked = false, None)

  /** Scala mirror of [[graft.text.TextCols.htmlEncode]] (same replacement
   * order) for the [[graft.plans.BodySpans]] span emitter. */
  private[graft] def htmlEncode(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  /** Reachable [[LineClassifier]] state count (see `stateId`). */
  private[graft] val NStates = 7

  /**
   * Chunk-parallel body labeler — output-identical to [[bodyLabels]]
   * (ChunkedLabelerSpec differential), but a single giant conversation is
   * labeled by MANY tasks instead of one. This closes the last skew
   * surface of the pipeline (SURVEY §4: "chunked-window + stitch"): with
   * [[bodyLabels]], one 10⁹-turn conversation is one task; here it is
   * 10⁹/`chunkTurns` parallel tasks.
   *
   * Classic parallel-FSM prefix composition — exact, no convergence
   * assumption, because the classifier has a FINITE state space (7
   * canonical states, [[LineClassifier.stateId]]):
   *
   *  1. cut each conversation into chunks of `chunkTurns` turns
   *     (`chunk = turn_idx div chunkTurns` — no global line numbering, so
   *     no whole-conversation window anywhere);
   *  2. pass 1 (parallel per chunk, multi-chunk conversations only):
   *     compute the chunk's transition FUNCTION — exit state for each of
   *     the 7 possible entry states. The 7 tracked states are deduplicated
   *     per line, and they MERGE at the first state-independent anchor
   *     line (a lot-entry or free-standing heading), so the per-line cost
   *     collapses to ~1 classify almost immediately on real text;
   *  3. compose the functions per conversation in chunk order (a fold
   *     over the tiny chunk-level frame) → each chunk's true entry state;
   *  4. pass 2 (parallel per chunk): label each chunk from its entry
   *     state.
   *
   * The FSM's one-line lookahead crosses chunk boundaries via PEEK rows:
   * the first line of every chunk is replicated into its PREDECESSOR
   * chunk (the previous chunk that actually has rows — turn ranges that
   * are entirely absent are skipped, matching the sequential walk across
   * the gap) as lookahead-only input, never emitted.
   *
   * Both passes are modes of the body-walk operator
   * ([[graft.plans.BodySpans]]) with the group (conv_id, `_chunk`): pass 1
   * its transition sink, pass 2 its label sink. Plan shape: two
   * (conv_id, chunk) shuffles, placed by the operator's declared
   * distribution — a NARROW one for pass 1 (8 columns, so column pruning
   * reaches the scan) and a full-width one for pass 2; every join in the
   * labeler (peek selection, multi-chunk pruning, entry states) is a
   * broadcast. Cost vs [[bodyLabels]]: the
   * extra narrow shuffle and FSM walk, against which the
   * conversation-serial sort AND FSM both become parallel. Use when
   * single conversations are large enough that one-task-per-conversation
   * is the bottleneck; [[bodyLabels]] stays the default. Spans over the
   * result come from [[Assemble.bodySpansChunked]].
   */
  def bodyLabelsChunked(tokens: DataFrame, chunkTurns: Int = 4096,
      failures: Option[Lineage.PartitionStats] = None,
      materialize: Boolean = true): DataFrame = {
    require(chunkTurns > 0, "chunkTurns must be positive")
    val spark = tokens.sparkSession
    import spark.implicits._
    val inSchema = tokens.schema
    val inCols = inSchema.fieldNames.toSeq

    // ---- chunk ids + peek rows -------------------------------------------
    // `materialize` = localCheckpoint the chunk-marked frame before the
    // peek-selection scans (Dedup.components pattern): an expensive COMPUTED
    // upstream (tokenize + feature windows) is then evaluated once instead
    // of once per scan. Turn it OFF when `tokens` is already a table scan
    // (e.g. a committed [[TableIO]] stage) — re-scanning parquet with column
    // pruning is far cheaper than a checkpoint write. Checkpoint blocks are
    // released by the ContextCleaner when the frame becomes unreachable.
    val base0 = tokens.withColumn("_chunk", Chunked.chunkCol(chunkTurns))
    val base = if (materialize) base0.localCheckpoint() else base0
    // chunk-level frame (one row per chunk of turns — tiny even for a
    // 10^9-turn conversation): first line of each chunk PLUS the two tokens
    // isEntryLine reads from it, via map-side partial aggregation —
    // deliberately NOT a whole-partition window (which would buffer/spill
    // every chunk's rows) and NOT a second big-frame scan (the tokens ride
    // in the aggregate). localCheckpoint: this tiny frame feeds four
    // downstream subtrees (peeks, predecessor map, multi-chunk list, and
    // through them both passes) — materialized once, the big-frame
    // aggregate scan is not repeated per consumer.
    val firstLines = base.groupBy("conv_id", "_chunk")
      .agg(
        min(struct(col("turn_idx"), col("line_in_turn"))).as("_f"),
        min(when(col("tok_idx") === 0,
          struct(col("turn_idx"), col("line_in_turn"), col("tok")))).as("_t0"),
        min(when(col("tok_idx") === 1,
          struct(col("turn_idx"), col("line_in_turn"), col("tok")))).as("_t1"))
      .select(col("conv_id"), col("_chunk"),
        col("_f.turn_idx").as("_ft"), col("_f.line_in_turn").as("_fl"),
        col("_t0.tok").as("_tok0"),
        // the line may have a single token; _t1 then comes from a later line
        when(col("_t1.turn_idx") === col("_f.turn_idx") &&
          col("_t1.line_in_turn") === col("_f.line_in_turn"), col("_t1.tok"))
          .as("_tok1"))
      .localCheckpoint()
    // predecessor EXISTING chunk (wholly absent turn ranges are skipped)
    val prevChunk = firstLines.select("conv_id", "_chunk")
      .withColumn("_prev", lag("_chunk", 1).over(
        Window.partitionBy("conv_id").orderBy("_chunk")))
      .where(col("_prev").isNotNull)
    // materialize each chunk's first line into its predecessor as
    // lookahead-only PEEK rows, synthesized ENTIRELY from the chunk-level
    // frame (no big-frame scan): the FSM reads only (turn, line, tok_idx,
    // tok, _peek) off a peek row, the payload columns ride as nulls
    val tokArr = when(col("_tok1").isNotNull,
      array(struct(lit(0).as("i"), col("_tok0").as("t")),
        struct(lit(1).as("i"), col("_tok1").as("t"))))
      .otherwise(array(struct(lit(0).as("i"), col("_tok0").as("t"))))
    val peeks = firstLines.join(prevChunk, Seq("conv_id", "_chunk"))
      .select(col("conv_id"), col("_prev"), col("_ft"), col("_fl"),
        explode(tokArr).as("_e"))
      .select(inCols.map {
        case "conv_id" => col("conv_id")
        case "turn_idx" => col("_ft").as("turn_idx")
        case "line_in_turn" => col("_fl").as("line_in_turn")
        case "tok_idx" => col("_e.i").as("tok_idx")
        case "tok" => col("_e.t").as("tok")
        case c => lit(null).cast(inSchema(c).dataType).as(c)
      } :+ col("_prev").cast("int").as("_chunk"): _*)
      .withColumn("_peek", lit(true))
    val aug = base.withColumn("_peek", lit(false)).unionByName(peeks)
      .select((inCols :+ "_chunk" :+ "_peek").map(col): _*)

    // ---- pass 1: per-chunk transition functions (multi-chunk convs only) --
    // Independent narrow shuffle: the transition walk reads only its eight
    // columns, so column pruning reaches the scan and the shuffle moves a
    // fraction of the bytes. (A shared sorted localCheckpoint for both
    // passes was measured SLOWER: the block write + row churn of the
    // full-width frame cost more than this second narrow shuffle.)
    // Single-chunk conversations are pruned by a broadcast left-semi join,
    // not a collected list.
    val multiChunkConvs = firstLines.where(col("_chunk") >= 1)
      .select("conv_id").distinct()
    val fns = graft.plans.BodySpans.transitions(
      aug.join(broadcast(multiChunkConvs), Seq("conv_id"), "left_semi"))

    // ---- compose per conversation (chunk-level fold, tiny frame) ----------
    val entries = fns.groupByKey(_.getString(0)).flatMapGroups { (conv, rows) =>
      val sorted = rows.map(r => (r.getInt(1), r.getSeq[Int](2))).toSeq.sortBy(_._1)
      var s = 0
      sorted.map { case (chunk, exit) =>
        val e = s; s = exit(e); (conv, chunk, e)
      }
    }.toDF("conv_id", "_chunk", "_entry")

    // ---- pass 2: label each chunk from its true entry state ---------------
    graft.plans.BodySpans.labels(
      aug.join(broadcast(entries), Seq("conv_id", "_chunk"), "left"),
      chunked = true, failures)
      .select((inCols :+ "label").map(col): _*)
  }
}
