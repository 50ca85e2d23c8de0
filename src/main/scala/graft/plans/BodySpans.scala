package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.Labeler

/**
 * The streaming span emitter as a first-class Catalyst operator: spans are
 * written during one walk over the sorted body tokens, as the reference
 * writes TEI during its label walk (`DatacatSegmenterParser.java:1009-1088`).
 * Two modes share one logical node, strategy and exec, and differ only in
 * where a token's `(base label, starts a span)` pair comes from:
 *
 *  - [[spans]] runs the body FSM ([[Labeler.LineClassifier]]) over body
 *    features — the flagship [[graft.extract.Pipeline.extract]];
 *  - [[fromLabels]] walks an already-labeled BIO token frame — the spans
 *    stage of [[graft.extract.Pipeline.runResumable]], which must follow
 *    the committed `label` column, not re-classify.
 *
 * Both hand every token to one span rule (`SpanAcc.token`): conversation
 * ends, separator fallback, the newline cut at a span's end and span
 * opening are stated there once.
 *
 * A custom `LogicalPlan` + `Strategy` + `SparkPlan` because a
 * `mapPartitions` body cannot:
 *
 *  - **declare** its requirements instead of hand-placing them: the
 *    physical operator states `requiredChildDistribution =
 *    ClusteredDistribution(conv_id)` and the four-column sort order, so
 *    `EnsureRequirements` plans (and can REUSE) the exchange instead of a
 *    manual `repartition` + `sortWithinPartitions`;
 *  - run on `InternalRow`/`UTF8String` directly, skipping the
 *    Row-encoder round trip at the object boundary.
 *
 * Both modes are differential-tested byte-identical to the declarative
 * assembly [[graft.extract.Assemble.bodySpans]] (PlanOperatorSpec,
 * PipelineSpec).
 */
object BodySpans {

  /** Child columns a walk reads: the FSM classifies from
   * `f_capitalisation`, the label walk reads `label`. */
  private[plans] def inputCols(fromLabels: Boolean): Seq[String] =
    Seq("conv_id", "turn_idx", "line_in_turn", "tok_idx", "tok", "sep_before",
      "line_trailing", if (fromLabels) "label" else "f_capitalisation")

  // a null input label (not BIO, but Assemble tolerates it) passes through
  // as a one-token span with a null label
  private[plans] def outputAttrs(fromLabels: Boolean): Seq[Attribute] = Seq(
    AttributeReference("conv_id", StringType, nullable = true)(),
    AttributeReference("segment_id", LongType, nullable = false)(),
    AttributeReference("label", StringType, nullable = fromLabels)(),
    AttributeReference("turn_idx", IntegerType, nullable = true)(),
    AttributeReference("text", StringType, nullable = false)())

  /** Ensure the strategy is installed in this session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(BodySpansStrategy)) {
      spark.experimental.extraStrategies =
        BodySpansStrategy +: spark.experimental.extraStrategies
    }

  /**
   * Plan the fused FSM span extraction over a body-feature frame with
   * columns (conv_id, turn_idx, line_in_turn, tok_idx, tok, sep_before,
   * line_trailing, f_capitalisation). Exchange/sort placement is left to
   * Catalyst via the operator's declared requirements.
   */
  def spans(feats: DataFrame): DataFrame = plan(feats, fromLabels = false)

  /**
   * Plan span extraction over a BIO-labeled token frame with columns
   * (conv_id, turn_idx, line_in_turn, tok_idx, tok, sep_before,
   * line_trailing, label): output-identical to
   * [[graft.extract.Assemble.bodySpans]] with its five columns in
   * operator order, but one sorted walk instead of a window + groupBy.
   */
  def fromLabels(labeled: DataFrame): DataFrame = plan(labeled, fromLabels = true)

  // the child is narrowed to the walk's columns here: ColumnPruning does
  // not prune below a node it does not know, so a wider child (a labeled
  // parquet table still carrying f_capitalisation) would be read whole
  private def plan(df: DataFrame, fromLabels: Boolean): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val child = df.select(inputCols(fromLabels).map(df.col): _*)
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      BodySpansPlan(org.apache.spark.sql.GraftPlanBridge.logical(child),
        outputAttrs(fromLabels), fromLabels))
  }

  private[plans] def str(r: InternalRow, i: Int): String = {
    val u = r.getUTF8String(i); if (u == null) null else u.toString
  }
}

/** Logical node: body-span extraction over the token-feature child
 * (`fromLabels = false`) or the labeled-token child (`true`). */
case class BodySpansPlan(child: LogicalPlan, output: Seq[Attribute], fromLabels: Boolean)
    extends UnaryNode {
  // the span columns are produced by the operator, not drawn from the child
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the operator READS these child columns — without declaring them,
  // ColumnPruning strips the child to zero columns
  override def references: AttributeSet = AttributeSet(
    child.output.filter(a => BodySpans.inputCols(fromLabels).contains(a.name)))
  override protected def withNewChildInternal(newChild: LogicalPlan): BodySpansPlan =
    copy(child = newChild)
}

object BodySpansStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BodySpansPlan(child, out, fromLabels) =>
      BodySpansExec(planLater(child), out, fromLabels) :: Nil
    case _ => Nil
  }
}

/**
 * The span rule both walks write through, one token at a time in input
 * order ([[token]]). A span's last token is only known once the next token
 * is seen, so each token waits here until the separator after it is known:
 * the next token's `sep_before`, else its own `line_trailing`, else "". It
 * then lands as one piece, its separator cut at the first `\n` when it ends
 * the span (Assemble's `span_last` rule). One output row per finished span.
 */
private[plans] final class SpanAcc {
  val out = scala.collection.mutable.Queue.empty[GenericInternalRow]
  private var started = false
  private var conv: String = null
  private var seg = 0L
  private var label: String = null
  private var turn = 0
  private var open = false
  private val text = new java.lang.StringBuilder
  private var hasPend = false
  private var pendTok: String = null
  private var pendTrail: String = ""

  /** One token of the walk. `isStart`: the token opens a span labeled
   * `base`; a conversation's first token always does, after the previous
   * conversation ends. */
  def token(c: String, base: String, isStart: Boolean, t: Int,
      tok: String, sepBefore: String, trail: String): Unit = {
    val newConv = !started || c != conv
    if (newConv) {
      if (started) endConv()
      started = true
    }
    val start = isStart || newConv
    resolvePend(if (sepBefore != null) sepBefore else pendTrail, spanLast = start)
    if (start) openSpan(c, base, t)
    pendTok = tok; pendTrail = if (trail == null) "" else trail; hasPend = true
  }

  /** End of a conversation (or of the input): the held token takes its
   * line's trailing separator and the span closes; ids restart at 1. */
  def endConv(): Unit = {
    resolvePend(pendTrail, spanLast = true)
    closeSpan()
    seg = 0L
  }

  private def closeSpan(): Unit = if (open) {
    out += new GenericInternalRow(Array[Any](
      UTF8String.fromString(conv), seg,
      UTF8String.fromString(label), turn,
      UTF8String.fromString(text.toString)))
    open = false
    text.setLength(0)
  }

  private def openSpan(c: String, base: String, t: Int): Unit = {
    closeSpan()
    seg += 1
    conv = c; label = base; turn = t
    open = true
  }

  /** Land the held token: escaped text, then the separator after it. A null
   * token adds nothing (Assemble's `array_join` skips its null piece). */
  private def resolvePend(sepAfter: String, spanLast: Boolean): Unit = if (hasPend) {
    val nl = if (spanLast) sepAfter.indexOf('\n') else -1
    if (pendTok != null)
      text.append(Labeler.htmlEncode(pendTok))
        .append(if (nl < 0) sepAfter else sepAfter.substring(0, nl))
    hasPend = false
  }
}

/**
 * Physical span emitter: streams sorted body tokens, emits finished spans.
 * O(current-span) state; one output row per span. `fromLabels` picks the
 * walk: the FSM over `f_capitalisation`, or the committed `label` column.
 */
case class BodySpansExec(child: SparkPlan, output: Seq[Attribute], fromLabels: Boolean)
    extends UnaryExecNode {

  private def idx(name: String): Int = child.output.indexWhere(_.name == name)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output(idx("conv_id")))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq("conv_id", "turn_idx", "line_in_turn", "tok_idx")
      .map(n => SortOrder(child.output(idx(n)), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val cols = WalkCols(idx("conv_id"), idx("turn_idx"), idx("line_in_turn"),
      idx("tok"), idx("sep_before"), idx("line_trailing"),
      idx(if (fromLabels) "label" else "f_capitalisation"))
    val outSchema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    val labels = fromLabels
    child.execute().mapPartitions { it =>
      if (labels) new LabelWalk(it, outSchema, cols)
      else new ClassifierWalk(it, outSchema, cols)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BodySpansExec =
    copy(child = newChild)
}

/** Child ordinals a walk reads; `labelOrCap` is `label` in label mode,
 * `f_capitalisation` in FSM mode. */
private[plans] case class WalkCols(conv: Int, turn: Int, line: Int, tok: Int,
    sep: Int, trail: Int, labelOrCap: Int)

/** Drives a walk's `step` over one partition and projects the spans it
 * finishes; `finish` flushes what the walk still holds at input end. */
private[plans] abstract class SpanWalk(it: Iterator[InternalRow], outSchema: StructType)
    extends Iterator[InternalRow] {
  protected val acc = new SpanAcc
  private val proj = UnsafeProjection.create(outSchema)
  private var done = false
  protected def step(r: InternalRow): Unit
  protected def finish(): Unit

  private def advance(): Unit = {
    while (acc.out.isEmpty && it.hasNext) step(it.next())
    if (acc.out.isEmpty && !done && !it.hasNext) { finish(); done = true }
  }

  override def hasNext: Boolean = { advance(); acc.out.nonEmpty }
  override def next(): InternalRow = { advance(); proj(acc.out.dequeue()) }
}

/** [[graft.extract.Assemble.bodySpans]] as one walk: a span opens on an
 * `I-` label or a change of base label. */
private[plans] final class LabelWalk(it: Iterator[InternalRow], outSchema: StructType,
    c: WalkCols) extends SpanWalk(it, outSchema) {
  import BodySpans.str
  private var prevBase: String = null

  protected def step(r: InternalRow): Unit = {
    val label = str(r, c.labelOrCap)
    val isI = label != null && label.startsWith("I-")
    val base = if (isI) label.substring(2) else label
    // a null base never compares equal (SQL `=!=` under `coalesce(.., true)`)
    acc.token(str(r, c.conv), base, isI || base == null || base != prevBase,
      r.getInt(c.turn), str(r, c.tok), str(r, c.sep), str(r, c.trail))
    prevBase = base
  }

  protected def finish(): Unit = acc.endConv()
}

/** The body FSM: buffers one line, classifies it with one line of
 * lookahead ([[Labeler.isEntryLine]] on the next line), then hands its
 * tokens to the span rule, the first one opening a span when the line
 * starts one. */
private[plans] final class ClassifierWalk(it: Iterator[InternalRow], outSchema: StructType,
    c: WalkCols) extends SpanWalk(it, outSchema) {
  import BodySpans.str
  private val cls = new Labeler.LineClassifier
  // buffered current line (copies: the child reuses its row instance);
  // vars, not vals — feed() SWAPS them with the pending-line buffers
  // so the one-line lookahead costs zero per-line allocation
  private var toks = scala.collection.mutable.ArrayBuffer.empty[String]
  private var caps = scala.collection.mutable.ArrayBuffer.empty[String]
  private var seps = scala.collection.mutable.ArrayBuffer.empty[String]
  private var bufConv: String = null
  private var bufTurn: Int = 0
  private var bufLine: Int = 0
  private var bufTrail: String = null
  private var hasBuf = false
  // one-line lookahead: the last completed line waits here until the
  // next line is known; buffers recycle via swap with toks/caps/seps
  private var pToks = scala.collection.mutable.ArrayBuffer.empty[String]
  private var pCaps = scala.collection.mutable.ArrayBuffer.empty[String]
  private var pSeps = scala.collection.mutable.ArrayBuffer.empty[String]
  private var pConv: String = null
  private var pTurn: Int = 0
  private var pTrail: String = null
  private var pHas = false

  private def emitLine(lToks: collection.Seq[String], lCaps: collection.Seq[String],
      lSeps: collection.Seq[String], conv: String, turn: Int, trail: String,
      nextIsEntry: Boolean): Unit = {
    val (base, isStart) = cls.classify(conv, lToks, lCaps, nextIsEntry)
    var i = 0
    while (i < lToks.length) {
      acc.token(conv, base, isStart && i == 0, turn, lToks(i), lSeps(i), trail)
      i += 1
    }
  }

  /** Current buffered line completed: classify the pending one, then
   * swap the line buffers (no per-line copies). */
  private def feed(): Unit = {
    if (pHas)
      emitLine(pToks, pCaps, pSeps, pConv, pTurn, pTrail,
        pConv == bufConv && Labeler.isEntryLine(toks))
    val t = pToks; pToks = toks; toks = t
    val cp = pCaps; pCaps = caps; caps = cp
    val s = pSeps; pSeps = seps; seps = s
    toks.clear(); caps.clear(); seps.clear()
    pConv = bufConv; pTurn = bufTurn; pTrail = bufTrail
    pHas = true
  }

  protected def step(r: InternalRow): Unit = {
    val conv = str(r, c.conv)
    val turn = r.getInt(c.turn)
    val line = r.getInt(c.line)
    if (hasBuf && (bufConv != conv || bufTurn != turn || bufLine != line))
      feed() // buf* still holds the just-completed line; buffers swap
    bufConv = conv; bufTurn = turn; bufLine = line
    toks += str(r, c.tok)
    caps += str(r, c.labelOrCap)
    seps += str(r, c.sep)
    bufTrail = str(r, c.trail)
    hasBuf = true
  }

  protected def finish(): Unit = {
    if (hasBuf && toks.nonEmpty) feed()
    if (pHas) emitLine(pToks, pCaps, pSeps, pConv, pTurn, pTrail, nextIsEntry = false)
    acc.endConv()
  }
}
