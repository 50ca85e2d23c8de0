package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.{Labeler, Lineage}
import graft.functions.{LineKernels, TokCaps, TokenScan}

/**
 * The body walk as a first-class Catalyst operator: one sorted walk over
 * the body lines classifies each line and writes its output during the
 * walk, as the reference tokenizes each line inside its label walk and
 * writes TEI during it (`DatacatSegmenterParser.java:1009-1088`). One
 * logical node, strategy and exec run one line walker ([[LineWalk]]) into
 * one of four sinks: spans ([[fromTranscript]], the flagship, zones each
 * conversation's kept lines and tokenizes each body line in the walk;
 * [[fromLines]] tokenizes given body lines; [[spans]] reads token rows;
 * [[fromLabels]] follows a committed `label` column instead of
 * classifying), BIO label rows over token rows ([[labels]]), labeled token
 * rows made by the walk ([[transcriptLabels]], zoned and tokenized as
 * [[fromTranscript]] does) or chunk transition functions ([[transitions]]).
 * Every span mode hands every token to one span rule (`SpanAcc.token`).
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
   * Plan the fused FSM span extraction over a conversation's kept lines
   * with columns (conv_id, turn_idx, line_in_turn, role, tool, block_idx,
   * line_idx, line): row-identical to
   * `fromLines(Labeler.bodyLines(Features.repetitive(keptLines)))`
   * (TranscriptSpansSpec), but the walk applies that zone rule itself, one
   * conversation at a time ([[TranscriptZoner]]), as the reference decides
   * its repetitive headers and footers inside its per-document loop
   * (`DatacatSegmenterParser.java:268-299,418-430`). So the plan has none of
   * the rule's windows (`max(block_idx)` per turn, the candidate count per
   * pattern) nor their sorts; the kept-line sort feeds the walk.
   */
  def fromTranscript(keptLines: DataFrame): DataFrame =
    plan(keptLines, BodyWalk.TranscriptSpans)

  /**
   * Plan span extraction over a BIO-labeled token frame with columns
   * (conv_id, turn_idx, line_in_turn, tok_idx, tok, sep_before,
   * line_trailing, label): output-identical to
   * [[graft.extract.Assemble.bodySpans]] with its five columns in
   * operator order, but one sorted walk instead of a window + groupBy.
   */
  def fromLabels(labeled: DataFrame): DataFrame = plan(labeled, BodyWalk.LabelSpans)

  /**
   * The labeled body tokens of a conversation's kept lines, as
   * [[fromTranscript]] zones and tokenizes them: the nine columns (conv_id,
   * turn_idx, line_in_turn, tok_idx, tok, sep_before, line_trailing,
   * f_capitalisation, label), with the types and nullability of
   * `Labeler.bodyLabels` over `Structure.tokensFromLines` of the Catalyst
   * zone rule's body lines, and the same rows (TranscriptLabelsSpec). One
   * row per token of a classified line; a line whose classification throws
   * is dropped and counted in `failures`, as `bodyLabels` drops it. The plan
   * has no zone window, no lag window, no token explode and no token sort.
   */
  def transcriptLabels(keptLines: DataFrame,
      failures: Option[Lineage.PartitionStats]): DataFrame =
    plan(keptLines, BodyWalk.TranscriptLabels, failures)

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
    val logical = bridge.logical(child)
    bridge.ofRows(spark,
      BodySpansPlan(logical, mode, BodyWalk.produced(mode, logical.output), failures))
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
  /** The transcript zone rule, then the body FSM over the body lines it
   * tokenizes, emitting spans. */
  case object TranscriptSpans extends BodyWalk("role", "tool", "block_idx", "line_idx", "line")
  /** The transcript zone rule, then the body FSM over the body lines it
   * tokenizes, emitting each token with its BIO `label`. */
  case object TranscriptLabels extends BodyWalk("role", "tool", "block_idx", "line_idx", "line")
  /** The committed `label` column, emitting spans. */
  case object LabelSpans extends BodyWalk("tok_idx", "tok", "sep_before", "line_trailing", "label")
  /** The body FSM, emitting each token row with its BIO `label`. */
  case object Labels extends BodyWalk("tok_idx", "tok", "f_capitalisation")
  case object ChunkLabels extends BodyWalk(
    "tok_idx", "tok", "f_capitalisation", "_chunk", "_peek", "_entry")
  /** The body FSM from every entry state, emitting each chunk's exit vector. */
  case object Transitions extends BodyWalk("tok_idx", "tok", "f_capitalisation", "_chunk", "_peek")

  /** The attributes a walk over `input` makes. A null input label (not
   * BIO, but Assemble tolerates it) passes through as a one-token span with
   * a null label. The line keys of labeled token rows are as nullable as in
   * `input`. */
  private[plans] def produced(mode: BodyWalk, input: Seq[Attribute]): Seq[Attribute] = mode match {
    case FsmSpans | LineSpans | TranscriptSpans | LabelSpans => Seq(
      AttributeReference("conv_id", StringType, nullable = true)(),
      AttributeReference("segment_id", LongType, nullable = false)(),
      AttributeReference("label", StringType, nullable = mode == LabelSpans)(),
      AttributeReference("turn_idx", IntegerType, nullable = true)(),
      AttributeReference("text", StringType, nullable = false)())
    case Labels | ChunkLabels => Seq(AttributeReference("label", StringType, nullable = false)())
    case TranscriptLabels =>
      def key(name: String, t: DataType) =
        AttributeReference(name, t, input.find(_.name == name).forall(_.nullable))()
      Seq(key("conv_id", StringType), key("turn_idx", IntegerType),
        key("line_in_turn", IntegerType),
        AttributeReference("tok_idx", IntegerType, nullable = false)(),
        AttributeReference("tok", StringType, nullable = false)(),
        AttributeReference("sep_before", StringType, nullable = true)(),
        AttributeReference("line_trailing", StringType, nullable = true)(),
        AttributeReference("f_capitalisation", StringType, nullable = false)(),
        AttributeReference("label", StringType, nullable = false)())
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
  private var turnSet = false
  private var open = false
  private val text = new java.lang.StringBuilder
  private var hasPend = false
  private var pendTok: String = null
  private var pendTrail: String = ""

  /** One token of the walk, of turn `t` (null when `tNull`). `isStart`: the
   * token opens a span labeled `base`; a conversation's first token always
   * does, after the previous conversation ends. A span's turn_idx is its
   * first non-null turn, null when it has none: Assemble's `min`, as null
   * turns sort first. */
  def token(c: String, base: String, isStart: Boolean, t: Int, tNull: Boolean,
      tok: String, sepBefore: String, trail: String): Unit = {
    val newConv = !started || c != conv
    if (newConv) {
      if (started) endConv()
      started = true
    }
    val start = isStart || newConv
    resolvePend(if (sepBefore != null) sepBefore else pendTrail, spanLast = start)
    if (start) openSpan(c, base)
    if (!turnSet && !tNull) { turn = t; turnSet = true }
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
      UTF8String.fromString(label), if (turnSet) turn else null,
      UTF8String.fromString(text.toString)))
    open = false
    text.setLength(0)
  }

  private def openSpan(c: String, base: String): Unit = {
    closeSpan()
    seg += 1
    conv = c; label = base; turnSet = false
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
    // the zone rule's session settings, read here on the driver
    val zone =
      if (m != BodyWalk.TranscriptSpans && m != BodyWalk.TranscriptLabels) None
      else Some(ZoneCols(
        idx("role"), idx("tool"), idx("block_idx"), idx("line_idx"),
        child.output.map(_.dataType).toArray,
        bridge.icuCaseMappings(conf), bridge.windowBufferSize(conf)))
    child.execute().mapPartitions { it =>
      m match {
        case BodyWalk.TranscriptSpans => new SpanSink(new TranscriptZoner(it, cols, zone.get),
          outSchema, cols, fromLabels = false, linesValid = true)
        case BodyWalk.TranscriptLabels =>
          new TokenLabelSink(new TranscriptZoner(it, cols, zone.get), outSchema, cols, fails)
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

/** What the transcript mode's zone rule reads besides [[WalkCols]]: the
 * child ordinals of role, tool, block_idx and line_idx, the child's column
 * types, `spark.sql.icu.caseMappings.enabled` (for `lower`) and the window
 * buffer's size. */
private[plans] case class ZoneCols(role: Int, tool: Int, block: Int, lineIdx: Int,
    types: Array[DataType], icu: Boolean, buffer: bridge.BufferSize)

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
  /** The line's turn_idx is null (`turn` reads 0). */
  var turnNull = false
  var line = 0
  var peek = false
  /** [[Labeler.isEntryLine]] of the line, set once the line is complete. */
  var isEntry = false

  def clear(): Unit = { toks.clear(); caps.clear(); seps.clear(); trails.clear(); rows.clear() }
}

/**
 * The zone rule of the transcript modes ([[BodySpans.fromTranscript]],
 * [[BodySpans.transcriptLabels]]):
 * from a partition's kept lines, sorted by (conv_id, turn_idx,
 * line_in_turn), it passes on the `<body>` lines of
 * `Labeler.bodyLines(Features.repetitive(lines))`, in the same order. One
 * conversation at a time, in two phases:
 *
 *  1. One walk over the conversation. A line whose first word
 *     ([[LineKernels.firstRun]]) is empty is dropped. A head or tail line
 *     (block 0 or 1, or the last block of its turn's remaining lines, known
 *     at the end of the turn) gets its pattern, `lower` of its letters
 *     ([[LineKernels.pattern]]), and counts when the pattern is longer than
 *     8 characters: a block-first line adds 1 to its pattern's count. Only a
 *     line whose role and tool can make it body ([[Labeler.bodyRole]]) is
 *     buffered, in a [[bridge.RowBuffer]] that spills past the window
 *     buffer's thresholds.
 *  2. The buffer is replayed: a buffered line is body unless it counted with
 *     a pattern whose count is above 1 (`f_repetitive`).
 *
 * A line is checked for valid UTF-8 once, here; an invalid one is buffered
 * cleaned (U+FFFD), as the line kernels clean it. A null conv_id is one
 * conversation, a null turn_idx one turn; a null block_idx is never head
 * or tail and a null line_idx never block-first, as in the SQL rule.
 */
private[plans] final class TranscriptZoner(it: Iterator[InternalRow], c: WalkCols,
    z: ZoneCols) extends Iterator[InternalRow] {
  private val buf = new bridge.RowBuffer(z.buffer)
  private val toUnsafe = UnsafeProjection.create(z.types)
  /** Candidate counts per pattern; a buffered head or tail line's count.
   * Fresh per conversation: a map cleared in place keeps the capacity a
   * large conversation gave it. */
  private var counts = new java.util.HashMap[UTF8String, PatCount]
  private var counted = new mutable.LongMap[PatCount]
  // the conversation and turn being read
  private var conv: UTF8String = null
  private var turn = 0
  private var turnNull = false
  private var held: InternalRow = null // the next conversation's first row
  // the turn's possible tail: the kept lines of its highest block (>= 2) so
  // far, their bytes back to back in `tailBytes`, and per line (end,
  // block-first, buffer index) in `tail`
  private var turnMax = 1L
  private var tailBytes = new Array[Byte](256)
  private var tailLen = 0
  private var tail = new Array[Int](48)
  private var nTail = 0
  // phase 2
  private var replay: Iterator[UnsafeRow] = Iterator.empty
  private var replayIdx = 0
  private var found: InternalRow = null

  override def hasNext: Boolean = {
    while (found == null) {
      if (replay.hasNext) {
        val r = replay.next()
        val pc = counted.getOrNull(replayIdx)
        replayIdx += 1
        if (pc == null || pc.n <= 1) found = r
      } else if (!readConversation()) return false
    }
    true
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = found
    found = null
    r
  }

  /** Phase 1 over the next conversation; false at the end of the input. */
  private def readConversation(): Boolean = {
    val first = if (held != null) held else if (it.hasNext) it.next() else return false
    held = null
    buf.clear()
    if (!counts.isEmpty) counts = new java.util.HashMap
    if (counted.nonEmpty) counted = new mutable.LongMap
    replayIdx = 0
    conv = if (first.isNullAt(c.conv)) null else own(first.getUTF8String(c.conv))
    startTurn(first)
    read(first)
    while (held == null && it.hasNext) {
      val r = it.next()
      val rc = if (r.isNullAt(c.conv)) null else r.getUTF8String(c.conv)
      if (rc != conv && (rc == null || !rc.equals(conv))) held = r.copy()
      else {
        if (r.isNullAt(c.turn) != turnNull || (!turnNull && r.getInt(c.turn) != turn)) {
          endTurn()
          startTurn(r)
        }
        read(r)
      }
    }
    endTurn()
    replay = buf.iterator
    true
  }

  private def startTurn(r: InternalRow): Unit = {
    turnNull = r.isNullAt(c.turn)
    turn = if (turnNull) 0 else r.getInt(c.turn)
    turnMax = 1L
  }

  /** Phase 1 of one kept line. */
  private def read(r: InternalRow): Unit = if (!r.isNullAt(c.text)) {
    val raw = r.getUTF8String(c.text)
    val valid = raw.isValid
    val u = if (valid) raw else UTF8String.fromString(raw.toString)
    val run = LineKernels.firstRun(u)
    if (LineKernels.wordBytes(u, LineKernels.runFrom(run), LineKernels.runUntil(run)) > 0) {
      val at = if (!Labeler.bodyRole(rowString(r, z.role), rowString(r, z.tool))) -1
      else {
        buf.add(if (valid) unsafe(r) else cleaned(r, u))
        buf.length - 1
      }
      if (!r.isNullAt(z.block)) {
        val block = r.getLong(z.block)
        val blockFirst = !r.isNullAt(z.lineIdx) && r.getInt(z.lineIdx) == 0
        if (block < 2) count(LineKernels.pattern(u, z.icu), blockFirst, at)
        else if (block >= turnMax) {
          if (block > turnMax) { turnMax = block; nTail = 0; tailLen = 0 }
          hold(u, blockFirst, at)
        }
      }
    }
  }

  /** The turn is read: its held lines are its last block's. */
  private def endTurn(): Unit = {
    var k = 0
    var from = 0
    while (k < nTail) {
      val end = tail(3 * k)
      count(LineKernels.pattern(UTF8String.fromBytes(tailBytes, from, end - from), z.icu),
        tail(3 * k + 1) == 1, tail(3 * k + 2))
      from = end
      k += 1
    }
    nTail = 0
    tailLen = 0
  }

  private def hold(u: UTF8String, blockFirst: Boolean, at: Int): Unit = {
    val n = u.numBytes
    if (tailLen + n > tailBytes.length)
      tailBytes = java.util.Arrays.copyOf(tailBytes, math.max(2 * tailBytes.length, tailLen + n))
    u.writeToMemory(tailBytes, Platform.BYTE_ARRAY_OFFSET + tailLen)
    tailLen += n
    if (3 * nTail + 3 > tail.length) tail = java.util.Arrays.copyOf(tail, 2 * tail.length)
    tail(3 * nTail) = tailLen
    tail(3 * nTail + 1) = if (blockFirst) 1 else 0
    tail(3 * nTail + 2) = at
    nTail += 1
  }

  /** A head or tail line with pattern `pat`: a pattern longer than 8
   * characters counts it when it is block-first, and a buffered line (`at`
   * its index) keeps that count. */
  private def count(pat: UTF8String, blockFirst: Boolean, at: Int): Unit =
    if (pat.numChars > 8) {
      var pc = counts.get(pat)
      if (pc == null) { pc = new PatCount; counts.put(own(pat), pc) }
      if (blockFirst) pc.n += 1
      if (at >= 0) counted.update(at, pc)
    }

  /** A copy of `u`'s bytes: `u` may point into the child's row, or into
   * `tailBytes`, which `clone` would share when `u` spans all of it. */
  private def own(u: UTF8String): UTF8String = {
    val b = new Array[Byte](u.numBytes)
    u.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    UTF8String.fromBytes(b)
  }

  private def rowString(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i)

  private def unsafe(r: InternalRow): UnsafeRow = r match {
    case u: UnsafeRow => u
    case _ => toUnsafe(r)
  }

  /** `r` with its line replaced by the cleaned `u`. */
  private def cleaned(r: InternalRow, u: UTF8String): UnsafeRow = {
    val values = r.toSeq(z.types.toSeq).toArray
    values(c.text) = u
    toUnsafe(new GenericInternalRow(values))
  }
}

/** A pattern's count of block-first head or tail lines. */
private[plans] final class PatCount { var n = 0 }

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
 *  - each line's [[Labeler.isEntryLine]] runs once, when the line is
 *    complete; each non-peek line goes to [[line]] once its successor in
 *    the same group is known, with `nextIsEntry` = the successor's test,
 *    `false` for the group's last line; `_peek` rows only ever serve as a
 *    successor;
 *  - [[endGroup]] runs after the group's last line.
 *
 * Streams: only the current and the pending line are buffered, and the two
 * buffers swap roles, so a line costs no allocation.
 */
private[plans] abstract class LineWalk(it: Iterator[InternalRow], outSchema: StructType,
    protected val c: WalkCols, failures: Option[Lineage.PartitionStats],
    linesValid: Boolean = false) extends Iterator[InternalRow] {
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
    try Some(cls.classify(l.toks, l.caps, l.isEntry, nextIsEntry))
    catch { case scala.util.control.NonFatal(_) =>
      failures.foreach(_.add((org.apache.spark.TaskContext.getPartitionId(), 1L, 0L)))
      None
    }

  /** Each token `i` of the `n` a classified line `l` has, with its BIO
   * label: `I-` on the first token of a line that starts a span. Nothing
   * when classifying drops the line. */
  protected def bio(l: Line, nextIsEntry: Boolean, n: Int)(emit: (Int, UTF8String) => Unit): Unit =
    classified(l, nextIsEntry).foreach { case (base, isStart) =>
      val b = UTF8String.fromString(base)
      var i = 0
      while (i < n) {
        emit(i, if (i == 0 && isStart) UTF8String.fromString("I-" + base) else b)
        i += 1
      }
    }

  /** Moves the walk to the line (conv, chunk, turn, ln) of row `r`: the
   * line before it is complete, and so is its group if `r` starts another. */
  private def enter(r: InternalRow, conv: String, chunk: Int, turn: Int, ln: Int): Unit = {
    val newGroup = cur.toks.isEmpty || conv != cur.conv || chunk != cur.chunk
    val turnNull = r.isNullAt(c.turn)
    if (cur.toks.nonEmpty) {
      if (newGroup) endOfGroup()
      else if (turn != cur.turn || turnNull != cur.turnNull || ln != cur.line) completeLine()
    }
    if (cur.toks.isEmpty) {
      cur.conv = conv; cur.chunk = chunk; cur.turn = turn; cur.turnNull = turnNull; cur.line = ln
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
  private var prevTurnNull = false
  private var prevLine = 0
  private var prevTrail = ""

  /**
   * One body line, tokenized as [[graft.extract.Structure.tokensFromLines]]
   * tokenizes it, with the same cores: [[TokenScan]] for `graft_tokenize`,
   * [[TokCaps]] for `f_capitalisation`, [[LineKernels]] for `line_trailing`.
   * Invalid UTF-8 is cleaned first (U+FFFD), as those kernels clean it. The
   * first token's separator follows that method's lag rule: the previous
   * line's trailing whitespace, one `\n` per line gap (0 on the
   * conversation's first line and after a line whose turn_idx is null, 1
   * across turns, else the `line_in_turn` difference), then its own. A line
   * without tokens still moves that state, because the lag runs over lines,
   * not tokens. `linesValid`: the rows come from [[TranscriptZoner]], which
   * cleaned them.
   */
  private def feedLine(r: InternalRow): Unit = {
    val conv = str(r, c.conv)
    val turn = r.getInt(c.turn)
    val ln = r.getInt(c.line)
    val newConv = !fed || conv != prevConv
    if (newConv) prevTrail = ""
    val gap = if (newConv || prevTurnNull) 0 else if (turn != prevTurn) 1 else ln - prevLine
    var trail = ""
    if (!r.isNullAt(c.text)) {
      val raw = r.getUTF8String(c.text)
      val u = if (linesValid || raw.isValid) raw else UTF8String.fromString(raw.toString)
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
    prevConv = conv; prevTurn = turn; prevTurnNull = r.isNullAt(c.turn); prevLine = ln
    prevTrail = trail
  }

  private def decode(b: Array[Byte], from: Int, until: Int): String =
    if (from == until) ""
    else if (until - from == 1 && b(from) == ' ') " "
    else new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)

  /** The current line is complete: it is the pending line's lookahead, then
   * the pending line itself unless it is a peek. */
  private def completeLine(): Unit = {
    cur.isEntry = Labeler.isEntryLine(cur.toks)
    if (hasPend) line(pend, cur.isEntry)
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
    c: WalkCols, fromLabels: Boolean, linesValid: Boolean = false)
    extends LineWalk(it, outSchema, c, None, linesValid) {
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
          l.turn, l.turnNull, l.toks(i), l.seps(i), l.trails(i))
        prevBase = base
        i += 1
      }
    } else classified(l, nextIsEntry).foreach { case (base, isStart) =>
      var i = 0
      while (i < l.toks.length) {
        acc.token(l.conv, base, isStart && i == 0, l.turn, l.turnNull, l.toks(i), l.seps(i),
          l.trails(i))
        i += 1
      }
    }

  override protected def endGroup(last: Line): Unit = acc.endConv()
}

/** Emits each token row of a classified line with its [[LineWalk.bio]]
 * label. */
private[plans] final class LabelSink(it: Iterator[InternalRow], outSchema: StructType,
    c: WalkCols, failures: Option[Lineage.PartitionStats])
    extends LineWalk(it, outSchema, c, failures) {
  private val labels = mutable.Queue.empty[UTF8String] // one per queued row
  private val labelRow = new GenericInternalRow(1)
  private val joined = new JoinedRow

  override protected def keep(r: InternalRow, l: Line): Unit = l.rows += r.copy()

  protected def line(l: Line, nextIsEntry: Boolean): Unit =
    bio(l, nextIsEntry, l.rows.length) { (i, label) => out += l.rows(i); labels += label }

  override protected def project(r: InternalRow): InternalRow = {
    labelRow.update(0, labels.dequeue())
    super.project(joined(r, labelRow))
  }
}

/** Emits a row of the nine [[BodySpans.transcriptLabels]] columns per token
 * of a classified line, from the tokens, separators and capitalisations the
 * line feeder made, and its [[LineWalk.bio]] label. */
private[plans] final class TokenLabelSink(it: Iterator[InternalRow], outSchema: StructType,
    c: WalkCols, failures: Option[Lineage.PartitionStats])
    extends LineWalk(it, outSchema, c, failures, linesValid = true) {

  protected def line(l: Line, nextIsEntry: Boolean): Unit = {
    val conv = UTF8String.fromString(l.conv)
    val turn: Any = if (l.turnNull) null else l.turn
    bio(l, nextIsEntry, l.toks.length) { (i, label) =>
      out += new GenericInternalRow(Array[Any](conv, turn, l.line, i,
        UTF8String.fromString(l.toks(i)), UTF8String.fromString(l.seps(i)),
        UTF8String.fromString(l.trails(i)), UTF8String.fromString(l.caps(i)), label))
    }
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
        cls.classify(l.toks, l.caps, l.isEntry, nextIsEntry)
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
