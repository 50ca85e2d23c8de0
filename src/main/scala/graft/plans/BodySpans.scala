package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.{Labeler, Lineage}
import graft.functions.{LineKernels, TokCaps, TokenScan}

/**
 * The body walk as a first-class Catalyst operator: one sorted walk over
 * the body lines classifies each line and writes its output during the
 * walk, as the reference tokenizes each line inside its label walk and
 * writes TEI during it (`DatacatSegmenterParser.java:1009-1088`). One
 * logical node, strategy and exec run one line walker ([[LineWalk]]) into
 * one of three sinks: spans ([[fromLines]], the flagship, tokenizes each
 * body line in the walk; [[spans]] reads token rows; [[fromLabels]] follows
 * a committed `label` column instead of classifying), BIO label rows
 * ([[labels]]) or chunk transition functions ([[transitions]]). Every span
 * mode hands every token to one span rule (`SpanAcc.token`).
 *
 * A custom `LogicalPlan` + `Strategy` + `SparkPlan` because a
 * `mapPartitions` body cannot:
 *
 *  - **declare** its requirements instead of hand-placing them: the
 *    physical operator states a `ClusteredDistribution` on its group
 *    columns and the walk's sort order, so `EnsureRequirements` plans (and
 *    can REUSE) the exchange instead of a manual `repartition` +
 *    `sortWithinPartitions`;
 *  - keep its child's attributes: the label sink emits each input row once,
 *    in place, so its output keeps the child's partitioning and ordering;
 *  - run on `InternalRow`/`UTF8String` directly, skipping the
 *    Row-encoder round trip at the object boundary.
 *
 * The span modes are differential-tested byte-identical to the declarative
 * assembly [[graft.extract.Assemble.bodySpans]] (PlanOperatorSpec,
 * PipelineSpec), the label sink against a plain-Scala reference walk
 * (ChunkedLabelerSpec).
 */
object BodySpans {

  /**
   * Plan the fused FSM span extraction over a body-feature frame with
   * columns (conv_id, turn_idx, line_in_turn, tok_idx, tok, sep_before,
   * line_trailing, f_capitalisation). Exchange/sort placement is left to
   * Catalyst via the operator's declared requirements.
   */
  def spans(feats: DataFrame): DataFrame = plan(feats, BodyWalk.FsmSpans)

  /**
   * Plan the fused FSM span extraction over body lines with columns
   * (conv_id, turn_idx, line_in_turn, line): row-identical to
   * `spans(Features.scalars(Structure.tokensFromLines(lines)))` (LineSpansSpec),
   * but the walk tokenizes each line itself, so the plan has no token
   * explode, no token-grain sort and no lag window; the line frame's sort
   * feeds the walk.
   */
  def fromLines(lines: DataFrame): DataFrame = plan(lines, BodyWalk.LineSpans)

  /**
   * Plan span extraction over a BIO-labeled token frame with columns
   * (conv_id, turn_idx, line_in_turn, tok_idx, tok, sep_before,
   * line_trailing, label): output-identical to
   * [[graft.extract.Assemble.bodySpans]] with its five columns in
   * operator order, but one sorted walk instead of a window + groupBy.
   */
  def fromLabels(labeled: DataFrame): DataFrame = plan(labeled, BodyWalk.LabelSpans)

  /** The FSM's BIO labels: every column of `tokens` plus a non-null
   * `label`, one row per classified token. `chunked`: the group is
   * (conv_id, `_chunk`), `_peek` rows are lookahead only, `_entry` is a
   * group's entry state. */
  private[graft] def labels(tokens: DataFrame, chunked: Boolean,
      failures: Option[Lineage.PartitionStats]): DataFrame =
    plan(tokens, if (chunked) BodyWalk.ChunkLabels else BodyWalk.Labels, failures)

  /** The FSM's transition function per (conv_id, `_chunk`):
   * `_exit(s)` is the chunk's exit state from entry state `s`. */
  private[graft] def transitions(tokens: DataFrame): DataFrame =
    plan(tokens, BodyWalk.Transitions)

  // the child of a mode with its own output is narrowed to the walk's
  // columns here: ColumnPruning does not prune below a node it does not
  // know, so a wider child (a labeled parquet table still carrying
  // f_capitalisation) would be read whole. The label mode passes its
  // child's columns through, so ColumnPruning prunes that child itself.
  private def plan(df: DataFrame, mode: BodyWalk,
      failures: Option[Lineage.PartitionStats] = None): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(BodySpansStrategy))
      spark.experimental.extraStrategies = BodySpansStrategy +: spark.experimental.extraStrategies
    val child = if (mode.passThrough) df else df.select(mode.inputCols.map(df.col): _*)
    bridge.ofRows(spark,
      BodySpansPlan(bridge.logical(child), mode, BodyWalk.produced(mode), failures))
  }

  private[plans] def str(r: InternalRow, i: Int): String = {
    val u = r.getUTF8String(i); if (u == null) null else u.toString
  }
}

/** What the body walk reads: the line keys plus `cols`, one row per token,
 * or one row per line when it reads `line`. The group is (conv_id,
 * `_chunk`) when the walk reads `_chunk`, else conv_id. */
sealed abstract class BodyWalk(cols: String*) extends Serializable {
  val inputCols: Seq[String] = Seq("conv_id", "turn_idx", "line_in_turn") ++ cols
  def chunked: Boolean = inputCols.contains("_chunk")
  def fromLines: Boolean = inputCols.contains("line")
  /** The walk emits its child's columns, then what it makes. */
  def passThrough: Boolean = this == BodyWalk.Labels || this == BodyWalk.ChunkLabels
}

object BodyWalk {
  /** The body FSM, emitting spans. */
  case object FsmSpans extends BodyWalk(
    "tok_idx", "tok", "sep_before", "line_trailing", "f_capitalisation")
  /** The body FSM over lines it tokenizes, emitting spans. */
  case object LineSpans extends BodyWalk("line")
  /** The committed `label` column, emitting spans. */
  case object LabelSpans extends BodyWalk("tok_idx", "tok", "sep_before", "line_trailing", "label")
  /** The body FSM, emitting each token row with its BIO `label`. */
  case object Labels extends BodyWalk("tok_idx", "tok", "f_capitalisation")
  case object ChunkLabels extends BodyWalk(
    "tok_idx", "tok", "f_capitalisation", "_chunk", "_peek", "_entry")
  /** The body FSM from every entry state, emitting each chunk's exit vector. */
  case object Transitions extends BodyWalk("tok_idx", "tok", "f_capitalisation", "_chunk", "_peek")

  /** The attributes a walk makes. A null input label (not BIO, but Assemble
   * tolerates it) passes through as a one-token span with a null label. */
  private[plans] def produced(mode: BodyWalk): Seq[Attribute] = mode match {
    case FsmSpans | LineSpans | LabelSpans => Seq(
      AttributeReference("conv_id", StringType, nullable = true)(),
      AttributeReference("segment_id", LongType, nullable = false)(),
      AttributeReference("label", StringType, nullable = mode == LabelSpans)(),
      AttributeReference("turn_idx", IntegerType, nullable = true)(),
      AttributeReference("text", StringType, nullable = false)())
    case Labels | ChunkLabels => Seq(AttributeReference("label", StringType, nullable = false)())
    case Transitions => Seq(
      AttributeReference("conv_id", StringType, nullable = true)(),
      AttributeReference("_chunk", IntegerType, nullable = false)(),
      AttributeReference("_exit", ArrayType(IntegerType, containsNull = false), nullable = false)())
  }
}

/** Logical node: the body walk in `mode` over `child`; `produced` holds the
 * attributes the walk makes. */
case class BodySpansPlan(child: LogicalPlan, mode: BodyWalk, produced: Seq[Attribute],
    failures: Option[Lineage.PartitionStats]) extends UnaryNode {
  override def output: Seq[Attribute] =
    if (mode.passThrough) child.output ++ produced else produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  // the operator READS these child columns — without declaring them,
  // ColumnPruning strips the child to zero columns
  override def references: AttributeSet = AttributeSet(
    child.output.filter(a => mode.inputCols.contains(a.name)))
  override protected def withNewChildInternal(newChild: LogicalPlan): BodySpansPlan =
    copy(child = newChild)
}

object BodySpansStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BodySpansPlan(child, mode, produced, failures) =>
      BodySpansExec(planLater(child), mode, produced, failures) :: Nil
    case _ => Nil
  }
}

/**
 * The span rule both span walks write through, one token at a time in
 * input order ([[token]]). A span's last token is only known once the next
 * token is seen, so each token waits here until the separator after it is
 * known: the next token's `sep_before`, else its own `line_trailing`, else
 * "". It then lands as one piece, its separator cut at the first `\n` when
 * it ends the span (Assemble's `span_last` rule). One row per finished
 * span goes to `out`.
 */
private[plans] final class SpanAcc(out: mutable.Queue[InternalRow]) {
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
 * Physical body walk: streams the sorted body tokens (or lines) of each
 * group — `conv_id`, or (`conv_id`, `_chunk`) in the chunked modes — and
 * emits what the mode's sink makes. O(current line + current span) state.
 */
case class BodySpansExec(child: SparkPlan, mode: BodyWalk, produced: Seq[Attribute],
    failures: Option[Lineage.PartitionStats]) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (mode.passThrough) child.output ++ produced else produced

  private def idx(name: String): Int = child.output.indexWhere(_.name == name)

  private def groupCols: Seq[String] =
    if (mode.chunked) Seq("conv_id", "_chunk") else Seq("conv_id")

  // requireAllClusterKeys in the chunked modes: a conv_id-only partitioning
  // upstream must not put a whole conversation back on one task
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupCols.map(n => child.output(idx(n))),
      requireAllClusterKeys = mode.chunked) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val keys = groupCols ++ Seq("turn_idx", "line_in_turn") ++
      (if (mode.fromLines) Nil else Seq("tok_idx"))
    Seq(keys.map(n => SortOrder(child.output(idx(n)), Ascending)))
  }

  // a pass-through walk emits a subset of its input rows, in input order
  override def outputPartitioning: Partitioning =
    if (mode.passThrough) child.outputPartitioning else super.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    if (mode.passThrough) child.outputOrdering else Nil

  override protected def doExecute(): RDD[InternalRow] = {
    def read(name: String) = if (mode.inputCols.contains(name)) idx(name) else -1
    val cols = WalkCols(idx("conv_id"), idx("turn_idx"), idx("line_in_turn"),
      read("line"), read("tok"), read("sep_before"), read("line_trailing"),
      read(if (mode == BodyWalk.LabelSpans) "label" else "f_capitalisation"),
      read("_chunk"), read("_peek"), read("_entry"))
    val outSchema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    val m = mode
    val fails = failures
    child.execute().mapPartitions { it =>
      m match {
        case BodyWalk.FsmSpans | BodyWalk.LineSpans | BodyWalk.LabelSpans =>
          new SpanSink(it, outSchema, cols, fromLabels = m == BodyWalk.LabelSpans)
        case BodyWalk.Labels | BodyWalk.ChunkLabels => new LabelSink(it, outSchema, cols, fails)
        case BodyWalk.Transitions => new TransitionSink(it, outSchema, cols)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BodySpansExec =
    copy(child = newChild)
}

/** Child ordinals a walk reads, -1 where the mode has no such column;
 * `text` is the `line` column of the line-input walk, `labelOrCap` is
 * `label` in the label-span walk, `f_capitalisation` in the token FSM
 * walks. */
private[plans] case class WalkCols(conv: Int, turn: Int, line: Int, text: Int, tok: Int,
    sep: Int, trail: Int, labelOrCap: Int, chunk: Int, peek: Int, entry: Int)

/** One buffered body line: its tokens' text and capitalisation (or label),
 * plus what a sink keeps besides (separators for the span rule, row copies
 * for the label sink — the child reuses its row instance). */
private[plans] final class Line {
  val toks = mutable.ArrayBuffer.empty[String]
  val caps = mutable.ArrayBuffer.empty[String]
  val seps = mutable.ArrayBuffer.empty[String]
  val trails = mutable.ArrayBuffer.empty[String]
  val rows = mutable.ArrayBuffer.empty[InternalRow]
  var conv: String = null
  var chunk = 0
  var turn = 0
  var line = 0
  var peek = false

  def clear(): Unit = { toks.clear(); caps.clear(); seps.clear(); trails.clear(); rows.clear() }
}

/**
 * The line walker over sorted body tokens or lines, the only one: a sink's
 * [[line]] sees each line, [[project]] turns what it queues on `out` into
 * output rows. Token input is sorted by (group, turn_idx, line_in_turn,
 * tok_idx); the group is `conv_id`, or (`conv_id`, `_chunk`) in the chunked
 * modes, and a line is a maximal run of equal (group, turn_idx,
 * line_in_turn). Line input (`text` read) is sorted by (conv_id, turn_idx,
 * line_in_turn) and [[feedLine]] tokenizes each row into the same buffer.
 *
 *  - a group starts in state `_entry`, or 0 when it is absent or null;
 *  - each non-peek line goes to [[line]] once its successor in the same
 *    group is known, with `nextIsEntry` = [[Labeler.isEntryLine]] of the
 *    successor's tokens, `false` for the group's last line; `_peek` rows
 *    only ever serve as a successor;
 *  - [[endGroup]] runs after the group's last line.
 *
 * Streams: only the current and the pending line are buffered, and the two
 * buffers swap roles, so a line costs no allocation.
 */
private[plans] abstract class LineWalk(it: Iterator[InternalRow], outSchema: StructType,
    protected val c: WalkCols, failures: Option[Lineage.PartitionStats])
    extends Iterator[InternalRow] {
  import BodySpans.str
  protected val out = mutable.Queue.empty[InternalRow]
  protected val cls = new Labeler.LineClassifier
  private val proj = UnsafeProjection.create(outSchema)
  private var cur = new Line // the line being read, empty between lines
  private var pend = new Line // the last completed line, awaiting its successor
  private var hasPend = false

  /** A line of the group, with the entry test of its successor. */
  protected def line(l: Line, nextIsEntry: Boolean): Unit
  /** After the group's `last` line (a peek or not). */
  protected def endGroup(last: Line): Unit = ()
  /** What the sink keeps of a token row besides its text and capitalisation. */
  protected def keep(r: InternalRow, l: Line): Unit = ()
  protected def project(r: InternalRow): InternalRow = proj(r)

  protected def startGroup(first: InternalRow): Unit =
    cls.setState(if (c.entry < 0 || first.isNullAt(c.entry)) 0 else first.getInt(c.entry))

  /** (base label, starts a span) of `l`, or None when classifying throws:
   * the line is dropped and counted, as the reference isolates a failure
   * per file (`EngineDatacat.java:114-150`). */
  protected def classified(l: Line, nextIsEntry: Boolean): Option[(String, Boolean)] =
    try Some(cls.classify(l.toks, l.caps, nextIsEntry))
    catch { case scala.util.control.NonFatal(_) =>
      failures.foreach(_.add((org.apache.spark.TaskContext.getPartitionId(), 1L, 0L)))
      None
    }

  /** Moves the walk to the line (conv, chunk, turn, ln) of row `r`: the
   * line before it is complete, and so is its group if `r` starts another. */
  private def enter(r: InternalRow, conv: String, chunk: Int, turn: Int, ln: Int): Unit = {
    val newGroup = cur.toks.isEmpty || conv != cur.conv || chunk != cur.chunk
    if (cur.toks.nonEmpty) {
      if (newGroup) endOfGroup()
      else if (turn != cur.turn || ln != cur.line) completeLine()
    }
    if (cur.toks.isEmpty) {
      cur.conv = conv; cur.chunk = chunk; cur.turn = turn; cur.line = ln
      cur.peek = c.peek >= 0 && r.getBoolean(c.peek)
      if (newGroup) startGroup(r)
    }
  }

  private def step(r: InternalRow): Unit =
    if (c.text >= 0) feedLine(r)
    else {
      enter(r, str(r, c.conv), if (c.chunk < 0) 0 else r.getInt(c.chunk),
        r.getInt(c.turn), r.getInt(c.line))
      cur.toks += str(r, c.tok)
      cur.caps += str(r, c.labelOrCap)
      keep(r, cur)
    }

  // the line feeder's state: the previous body line of the conversation
  private val scan = new TokenScan
  private var fed = false
  private var prevConv: String = null
  private var prevTurn = 0
  private var prevLine = 0
  private var prevTrail = ""

  /**
   * One body line, tokenized as [[graft.extract.Structure.tokensFromLines]]
   * tokenizes it, with the same cores: [[TokenScan]] for `graft_tokenize`,
   * [[TokCaps]] for `f_capitalisation`, [[LineKernels]] for `line_trailing`.
   * Invalid UTF-8 is cleaned first (U+FFFD), as those kernels clean it. The
   * first token's separator follows that method's lag rule: the previous
   * line's trailing whitespace, one `\n` per line gap (0 on the
   * conversation's first line, 1 across turns, else the `line_in_turn`
   * difference), then its own. A line without tokens still moves that
   * state, because the lag runs over lines, not tokens.
   */
  private def feedLine(r: InternalRow): Unit = {
    val conv = str(r, c.conv)
    val turn = r.getInt(c.turn)
    val ln = r.getInt(c.line)
    val newConv = !fed || conv != prevConv
    if (newConv) prevTrail = ""
    val gap = if (newConv) 0 else if (turn != prevTurn) 1 else ln - prevLine
    var trail = ""
    if (!r.isNullAt(c.text)) {
      val raw = r.getUTF8String(c.text)
      val u = if (raw.isValid) raw else UTF8String.fromString(raw.toString)
      val b = u.getBytes
      val end = LineKernels.trailingEnd(u)
      trail = decode(b, LineKernels.trailingStart(u, end), end)
      scan.scan(b)
      if (scan.count > 0) enter(r, conv, 0, turn, ln)
      var k = 0
      while (k < scan.count) {
        val from = scan.tokFrom(k)
        val until = scan.tokUntil(k)
        cur.toks += decode(b, from, until)
        cur.caps += TokCaps.capName(TokCaps.code(b, from, until))
        val sep = decode(b, scan.sepFrom(k), scan.sepUntil(k))
        cur.seps += (if (k == 0) prevTrail + "\n" * gap + sep else sep)
        cur.trails += trail
        k += 1
      }
    }
    fed = true
    prevConv = conv; prevTurn = turn; prevLine = ln; prevTrail = trail
  }

  private def decode(b: Array[Byte], from: Int, until: Int): String =
    if (from == until) ""
    else if (until - from == 1 && b(from) == ' ') " "
    else new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)

  /** The current line is complete: it is the pending line's lookahead, then
   * the pending line itself unless it is a peek. */
  private def completeLine(): Unit = {
    if (hasPend) line(pend, Labeler.isEntryLine(cur.toks))
    val t = pend; pend = cur; cur = t
    cur.clear()
    hasPend = !pend.peek
  }

  private def endOfGroup(): Unit = {
    completeLine()
    if (hasPend) line(pend, nextIsEntry = false)
    hasPend = false
    endGroup(pend)
  }

  private def advance(): Unit = {
    while (out.isEmpty && it.hasNext) step(it.next())
    if (out.isEmpty && !it.hasNext && cur.toks.nonEmpty) endOfGroup()
  }

  override def hasNext: Boolean = { advance(); out.nonEmpty }
  override def next(): InternalRow = { advance(); project(out.dequeue()) }
}

/** The span sink: hands each token of a line to the span rule with its
 * (base label, starts a span). `fromLabels` reads them from the committed
 * BIO label ([[graft.extract.Assemble.bodySpans]]'s rule: a span opens on
 * an `I-` label or a change of base label); otherwise the line is
 * classified and its first token opens a span when the line starts one.
 * Fused — no label rows, no per-token allocation beyond the strings. */
private[plans] final class SpanSink(it: Iterator[InternalRow], outSchema: StructType,
    c: WalkCols, fromLabels: Boolean) extends LineWalk(it, outSchema, c, None) {
  import BodySpans.str
  private val acc = new SpanAcc(out)
  private var prevBase: String = null

  override protected def keep(r: InternalRow, l: Line): Unit = {
    l.seps += str(r, c.sep)
    l.trails += str(r, c.trail)
  }

  protected def line(l: Line, nextIsEntry: Boolean): Unit =
    if (fromLabels) {
      var i = 0
      while (i < l.toks.length) {
        val label = l.caps(i)
        val isI = label != null && label.startsWith("I-")
        val base = if (isI) label.substring(2) else label
        // a null base never compares equal (SQL `=!=` under `coalesce(.., true)`)
        acc.token(l.conv, base, isI || base == null || base != prevBase,
          l.turn, l.toks(i), l.seps(i), l.trails(i))
        prevBase = base
        i += 1
      }
    } else classified(l, nextIsEntry).foreach { case (base, isStart) =>
      var i = 0
      while (i < l.toks.length) {
        acc.token(l.conv, base, isStart && i == 0, l.turn, l.toks(i), l.seps(i), l.trails(i))
        i += 1
      }
    }

  override protected def endGroup(last: Line): Unit = acc.endConv()
}

/** Emits each token row of a classified line with its BIO label: `I-` on
 * the first token of a line that starts a span. */
private[plans] final class LabelSink(it: Iterator[InternalRow], outSchema: StructType,
    c: WalkCols, failures: Option[Lineage.PartitionStats])
    extends LineWalk(it, outSchema, c, failures) {
  private val labels = mutable.Queue.empty[UTF8String] // one per queued row
  private val labelRow = new GenericInternalRow(1)
  private val joined = new JoinedRow

  override protected def keep(r: InternalRow, l: Line): Unit = l.rows += r.copy()

  protected def line(l: Line, nextIsEntry: Boolean): Unit =
    classified(l, nextIsEntry).foreach { case (base, isStart) =>
      val b = UTF8String.fromString(base)
      var i = 0
      while (i < l.rows.length) {
        out += l.rows(i)
        labels += (if (i == 0 && isStart) UTF8String.fromString("I-" + base) else b)
        i += 1
      }
    }

  override protected def project(r: InternalRow): InternalRow = {
    labelRow.update(0, labels.dequeue())
    super.project(joined(r, labelRow))
  }
}

/** Pass 1 of the chunk-parallel labeler: the group's transition function,
 * the exit state for each of the [[Labeler.NStates]] entry states. Tracked
 * states are advanced once per distinct state and merge at the first
 * state-independent line; a line whose classification throws is the
 * identity, as the label sink drops it. */
private[plans] final class TransitionSink(it: Iterator[InternalRow], outSchema: StructType,
    c: WalkCols) extends LineWalk(it, outSchema, c, None) {
  private val exit = new Array[Int](Labeler.NStates) // exit state per entry state, so far
  private val moved = new Array[Int](Labeler.NStates)

  override protected def startGroup(first: InternalRow): Unit =
    java.util.Arrays.setAll(exit, (s: Int) => s)

  protected def line(l: Line, nextIsEntry: Boolean): Unit = {
    exit.distinct.foreach { s =>
      moved(s) = try {
        cls.setState(s)
        cls.classify(l.toks, l.caps, nextIsEntry)
        cls.stateId
      } catch { case scala.util.control.NonFatal(_) => s }
    }
    var i = 0
    while (i < exit.length) { exit(i) = moved(exit(i)); i += 1 }
  }

  override protected def endGroup(last: Line): Unit =
    out += new GenericInternalRow(Array[Any](UTF8String.fromString(last.conv), last.chunk,
      UnsafeArrayData.fromPrimitiveArray(exit)))
}
