package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.text.TextCols

/**
 * Span assembly (SURVEY.md §2.6, A7–A10): BIO label sequences → contiguous
 * spans → TEI-XML, byte-compatible with the reference gold fixtures
 * (`resources/dataset/datacat-body-segmentation/corpus/tei, glob *.tei.xml`).
 *
 * The reference walks the labeled rows re-scanning the original token stream
 * to re-insert skipped spaces and line breaks (`DatacatBodySegmentationParser
 * .java:800-831,907-976`). Here every token already carries its exact source
 * separator (`sep_before` from the tokenizer), so assembly is a pure
 * window + groupBy: the classic sessionization pattern —
 * segment_id = running count of span starts — then an ordered concat.
 *
 * Separator placement rule (fixture-verified): the whitespace between two
 * consecutive tokens belongs to the EARLIER token's span; at a span
 * boundary only the part before the first newline is kept (the newline
 * becomes the inter-span layout), which reproduces fixture bytes like
 * `…Tableaux. </entry>` (kept trailing space) exactly.
 */
object Assemble {

  private def base(label: Column): Column =
    when(label.startsWith("I-"), substring(label, 3, 1 << 24)).otherwise(label)

  /** A7's span-start rule along `w`: an `I-` label or a change of base label
   * opens a span, and so does the window's first row. Reads `label_base`. */
  private def spanStart(w: WindowSpec): Column =
    col("label").startsWith("I-") ||
      coalesce(base(lag(col("label"), 1).over(w)) =!= col("label_base"), lit(true))

  /** A7: BIO sessionization — `I-` prefix or base-label change opens a span. */
  def withSegmentIds(labeled: DataFrame, orderCols: Seq[String]): DataFrame = {
    val wConv = Window.partitionBy("conv_id").orderBy(orderCols.map(col): _*)
    labeled
      .withColumn("label_base", base(col("label")))
      .withColumn("span_start", spanStart(wConv))
      .withColumn("segment_id",
        sum(when(col("span_start"), 1L).otherwise(0L)).over(
          wConv.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /**
   * Token-level spans with byte-exact source text (body model output).
   * Input needs (conv_id, turn_idx, line_in_turn, tok_idx, tok, sep_before,
   * label). Output: one row per (conv_id, segment_id) with `label_base`,
   * `text` (XML-escaped, original whitespace), and ordering metadata.
   */
  def bodySpans(labeled: DataFrame): DataFrame = {
    val ord = Seq("turn_idx", "line_in_turn", "tok_idx")
    val wConv = Window.partitionBy("conv_id").orderBy(ord.map(col): _*)
    val seg = withSegmentIds(labeled, ord)
      .withColumn("sep_after", coalesce(lead(col("sep_before"), 1).over(wConv),
        col("line_trailing"), lit("")))
      .withColumn("span_last",
        coalesce(lead(col("segment_id"), 1).over(wConv) =!= col("segment_id"), lit(true)))
    collectSpans(seg)
  }

  /**
   * Chunk-parallel twin of [[bodySpans]] — row-identical output
   * (ChunkedPipelineSpec), the last leg of the giant-conversation path
   * ([[graft.extract.Pipeline.extractChunked]]). The BIO sessionization's
   * conversation-grain running count becomes a two-level scan: within-chunk
   * span starts (lag(1) exact at boundaries via [[Chunked]] phantom rows)
   * plus a per-chunk offset carried on the one-row-per-chunk frame. With
   * globally-correct segment ids, the span groupBy then merges
   * boundary-straddling spans by itself — no stitch pass: a span's rows
   * land in the same (conv_id, segment_id) group whichever chunks they
   * came from.
   */
  def bodySpansChunked(labeled: DataFrame, chunkTurns: Int = 4096): DataFrame = {
    val w = Window.partitionBy("conv_id", "_chunk").orderBy(Chunked.ordCols.map(col): _*)
    val wUpToHere = w.rowsBetween(Window.unboundedPreceding, 0)
    val local = Chunked.augmentBoundaries(labeled, chunkTurns)
      .withColumn("label_base", base(col("label")))
      .withColumn("span_start", spanStart(w))
      .withColumn("_seg_local",
        sum(when(col("span_start") && !col("_ph"), 1L).otherwise(0L)).over(wUpToHere))
      .withColumn("sep_after", coalesce(lead(col("sep_before"), 1).over(w),
        col("line_trailing"), lit("")))
      // next row opens a new span ⇔ the segment id changes (the phantom
      // next-first row's span_start is exact: its lag(1) in THIS chunk is
      // its true predecessor)
      .withColumn("span_last", coalesce(lead(col("span_start"), 1).over(w), lit(true)))
    val offsets = local.where(!col("_ph")).groupBy("conv_id", "_chunk")
      .agg(sum(when(col("span_start"), 1L).otherwise(0L)).as("_nseg"))
      .withColumn("_seg_off", coalesce(sum(col("_nseg")).over(
        Window.partitionBy("conv_id").orderBy("_chunk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("conv_id", "_chunk", "_seg_off")
    collectSpans(local.where(!col("_ph"))
      .join(offsets, Seq("conv_id", "_chunk"))
      .withColumn("segment_id", col("_seg_off") + col("_seg_local")))
  }

  /** Shared tail of the span paths: escaped piece text per token, then one
   * row per (conv_id, segment_id) with the span's ordered concatenation. */
  private def collectSpans(seg: DataFrame): DataFrame =
    seg
      .withColumn("piece", concat(
        TextCols.htmlEncode(col("tok")),
        when(col("span_last"), regexp_extract(col("sep_after"), "^[^\n]*", 0))
          .otherwise(col("sep_after"))))
      .groupBy("conv_id", "segment_id")
      .agg(
        first(col("label_base")).as("label"),
        min(col("turn_idx")).as("turn_idx"),
        array_join(
          transform(array_sort(collect_list(struct(
            col("turn_idx"), col("line_in_turn"), col("tok_idx"), col("piece")))),
            x => x.getField("piece")), "").as("text"))

  /**
   * Line-level spans (segmenter model output): lines of a zone joined with
   * ` <lb/>` markers, reproducing the gold segmenter TEI layout
   * (`corpus/tei, glob *.training.datacat.tei.xml`:
   * `<front>line <lb/>\n\nline <lb/>…</front>`).
   */
  def zoneSpans(labeledLines: DataFrame): DataFrame = {
    val ord = Seq("turn_idx", "line_in_turn")
    val seg = withSegmentIds(labeledLines.withColumnRenamed("zone_label", "label"), ord)
      // A8: the reference rewrites @BULLET → • at zone-TEI emission
      // (`DatacatSegmenterParser.java:1022`), after entity escaping
      .withColumn("piece", concat(
        regexp_replace(TextCols.htmlEncode(col("line")), "@BULLET", "•"),
        lit(" <lb/>")))
    seg.groupBy("conv_id", "segment_id")
      .agg(
        first(col("label_base")).as("label"),
        min(col("turn_idx")).as("turn_idx"),
        array_join(
          transform(array_sort(collect_list(struct(
            col("turn_idx"), col("line_in_turn"), col("piece")))),
            x => x.getField("piece")), "\n\n").as("text"))
  }

  /** One span as its TEI element: the label's own tag, `<note
   * type="other">` for `<other>` (reference `writeField` targets,
   * `DatacatBodySegmentationParser.java:861-875`). */
  private def spanXml: Column = {
    val open = when(col("label") === "<other>", "<note type=\"other\">")
      .otherwise(col("label"))
    val close = when(col("label") === "<other>", "</note>")
      .otherwise(concat(lit("</"), regexp_replace(col("label"), "[<>]", ""), lit(">")))
    concat(open, col("text"), close)
  }

  /** A conversation's TEI wrapper up to and including `<text xml:lang=…>`:
   * `xml:lang` is the language-ID of `lang_sample`, `defaultLang` when
   * undetermined. */
  private def teiHeader(defaultLang: String): Column = {
    val lang = graft.ops.TextStats.langId(col("lang_sample"))
    concat(
      lit("<?xml version=\"1.0\" ?>\n<tei xml:space=\"preserve\">\n\t<teiHeader>\n\t\t<fileDesc xml:id=\""),
      col("conv_id"),
      lit("\"/>\n\t</teiHeader>\n\t<text xml:lang=\""),
      when(lang === "und", lit(defaultLang)).otherwise(lang),
      lit("\">\n"))
  }

  private val teiFooter = "\n\n\t</text>\n</tei>\n"

  /**
   * A10: full TEI document per conversation, matching the reference wrapper
   * bytes (`DatacatBodySegmentationParser.java:650-659`).
   *
   * A5: `xml:lang` comes from language-ID over a ~500-char sample of the
   * conversation's span text (the reference samples the first blocks and
   * runs `LanguageUtilities.runLanguageId`, defaulting to "fr" —
   * `DatacatSegmenterParser.java:667-682`). The sample rides the same
   * groupBy as the span concat: no extra shuffle.
   */
  def teiDocuments(spans: DataFrame, defaultLang: String = "fr"): DataFrame = {
    val ordered = array_sort(collect_list(struct(col("segment_id"),
      spanXml.as("x"), substring(col("text"), 1, 500).as("t"))))
    spans
      .groupBy("conv_id")
      .agg(ordered.as("arr"))
      .select(col("conv_id"),
        array_join(transform(col("arr"), s => s.getField("x")), "\n\n").as("spans_xml"),
        substring(array_join(transform(col("arr"), s => s.getField("t")), " "), 1, 500)
          .as("lang_sample"))
      .select(col("conv_id"),
        concat(teiHeader(defaultLang), col("spans_xml"), lit(teiFooter)).as("tei"))
  }

  /**
   * Blank-training TEI skeleton per conversation — the annotator-facing
   * convenience of the reference's `createBlankTrainingFromPDF`
   * (`DatacatBodySegmentationParser.java:675-758`): the TEI wrapper around
   * the ESCAPED raw text with NO labels, for marking up from scratch. Two
   * deliberate differences from [[teiDocuments]], both from the reference's
   * blank path: `xml:lang` is hardcoded (`:736-741` writes "fr", no
   * language ID — there are no labeled spans to sample), and the footer has
   * a single newline before `</text>` (`:743`). The raw-feature sibling
   * file the reference writes next to it is the K1 path
   * ([[Features]] feature vectors) with the label column dropped.
   */
  def blankTrainingTei(turns: DataFrame, lang: String = "fr"): DataFrame =
    turns.groupBy("conv_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        x => x.getField("text")), "\n").as("rawtext"))
      .select(col("conv_id"),
        blankSkeleton(col("conv_id"), col("rawtext"), lang).as("tei"))

  /** The blank-training wrapper bytes shared by the segmenter-level and
   * body-level skeletons (reference `:736-743`: hardcoded lang, single
   * newline before `</text>`). */
  private def blankSkeleton(convId: Column, rawtext: Column, lang: String): Column =
    concat(
      lit("<?xml version=\"1.0\" ?>\n<tei xml:space=\"preserve\">\n\t<teiHeader>\n\t\t<fileDesc xml:id=\""),
      convId,
      lit("\"/>\n\t</teiHeader>\n\t<text xml:lang=\"" + lang + "\">\n"),
      TextCols.htmlEncode(rawtext),
      lit("\n\t</text>\n</tei>\n"))

  /**
   * Body-grain blank-training skeleton — the reference's
   * `createTrainingBlankBody` (`EngineDatacat.java:60`,
   * `DatacatBodySegmentationParser.java:675-758`): the stage-1 BODY-zone
   * text alone, escaped, unlabeled, in the same wrapper — what an
   * annotator marks up to train the body model from scratch. Input is the
   * zoned line frame filtered to `<body>`.
   */
  def blankTrainingBodyTei(bodyLines: DataFrame, lang: String = "fr"): DataFrame =
    bodyLines.groupBy("conv_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("line_in_turn"),
          col("line")))),
        x => x.getField("line")), "\n").as("rawtext"))
      .select(col("conv_id"),
        blankSkeleton(col("conv_id"), col("rawtext"), lang).as("tei"))

  /**
   * Turn-range-sharded TEI for giant conversations (SURVEY §8.1 residual
   * #5): [[teiDocuments]] necessarily funnels a whole conversation through
   * ONE `collect_list` task because its output is a single XML string; this
   * twin emits `(conv_id, shard_idx, tei)` fragments whose in-order
   * concatenation is byte-identical to [[teiDocuments]]'s `tei`
   * (RobustnessSpec pins the equality), with per-task state bounded by
   * `shardTurns` turns of span text.
   *
   * Contract: per conv_id, `concat(tei ORDER BY shard_idx)` ==
   * `teiDocuments(spans).tei`. shard_idx −1 is the header (XML declaration
   * + teiHeader + `<text xml:lang=…>`), 0.. are span shards (shard of a
   * span = `turn_idx div shardTurns` of its first turn — monotone in
   * segment order, so cross-shard concatenation preserves span order), and
   * max+1 is the footer. The header's `xml:lang` equals [[teiDocuments]]'s:
   * language-ID over the first 500 chars of the ordered span samples,
   * assembled from ≤500-char per-shard samples on the one-row-per-shard
   * frame (truncation at shard grain cannot change the first 500 chars).
   */
  def teiDocumentsSharded(spans: DataFrame, shardTurns: Int = 65536,
      defaultLang: String = "fr"): DataFrame = {
    require(shardTurns > 0, "shardTurns must be positive")
    // every span "\n\n"-prefixed (≡ the join separator of [[teiDocuments]]);
    // the conversation's FIRST shard drops its leading 2 chars below
    val shardFrame = spans
      .withColumn("_shard", expr(s"bigint(turn_idx div $shardTurns)"))
      .groupBy("conv_id", "_shard")
      .agg(array_sort(collect_list(struct(col("segment_id"),
        concat(lit("\n\n"), spanXml).as("x"),
        substring(col("text"), 1, 500).as("t")))).as("arr"))
      .select(col("conv_id"), col("_shard"),
        array_join(transform(col("arr"), s => s.getField("x")), "").as("frag"),
        substring(array_join(transform(col("arr"), s => s.getField("t")), " "), 1, 500)
          .as("sample"))
    // conv-grain metadata off the one-row-per-shard frame (samples only —
    // fragments are never aggregated at conversation grain)
    val meta = shardFrame.groupBy("conv_id")
      .agg(min("_shard").as("_min_shard"), max("_shard").as("_max_shard"),
        substring(array_join(transform(
          array_sort(collect_list(struct(col("_shard"), col("sample")))),
          s => s.getField("sample")), " "), 1, 500).as("lang_sample"))
    val header = meta.select(col("conv_id"), lit(-1L).as("shard_idx"),
      teiHeader(defaultLang).as("tei"))
    val footer = meta.select(col("conv_id"),
      (col("_max_shard") + 1).as("shard_idx"), lit(teiFooter).as("tei"))
    // first-shard detection as a conv-grain window over the ONE-ROW-PER-
    // SHARD frame (tiny even for a 10^9-turn conversation) — no join back,
    // no self-join ambiguity
    val body = shardFrame
      .withColumn("_min_shard", min("_shard").over(Window.partitionBy("conv_id")))
      .select(col("conv_id"), col("_shard").as("shard_idx"),
        when(col("_shard") === col("_min_shard"), expr("substring(frag, 3)"))
          .otherwise(col("frag")).as("tei"))
    header.unionByName(body).unionByName(footer)
  }
}
