package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.Labeler

/**
 * The fused FSM span emitter as a first-class Catalyst operator: the FSM
 * emits finished spans during its label walk, as the reference writes TEI
 * during its label walk (`DatacatSegmenterParser.java:1009-1088`). A
 * custom `LogicalPlan` + `Strategy` + `SparkPlan` because a `mapPartitions`
 * body cannot:
 *
 *  - **declare** its requirements instead of hand-placing them: the
 *    physical operator states `requiredChildDistribution =
 *    ClusteredDistribution(conv_id)` and the four-column sort order, so
 *    `EnsureRequirements` plans (and can REUSE) the exchange instead of a
 *    manual `repartition` + `sortWithinPartitions`;
 *  - run on `InternalRow`/`UTF8String` directly, skipping the
 *    Row-encoder round trip at the object boundary.
 *
 * Differential-tested byte-identical to the declarative assembly,
 * `Assemble.bodySpans(Labeler.bodyLabels(..))` (PlanOperatorSpec,
 * PipelineSpec).
 */
object BodySpans {

  /** Child columns the FSM consumes (protected from column pruning). */
  private[plans] val inputCols = Set("conv_id", "turn_idx", "line_in_turn",
    "tok_idx", "tok", "sep_before", "line_trailing", "f_capitalisation")

  private[plans] def outputAttrs: Seq[Attribute] = Seq(
    AttributeReference("conv_id", StringType, nullable = true)(),
    AttributeReference("segment_id", LongType, nullable = false)(),
    AttributeReference("label", StringType, nullable = false)(),
    AttributeReference("turn_idx", IntegerType, nullable = true)(),
    AttributeReference("text", StringType, nullable = false)())

  /** Ensure the strategy is installed in this session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(BodySpansStrategy)) {
      spark.experimental.extraStrategies =
        BodySpansStrategy +: spark.experimental.extraStrategies
    }

  /**
   * Plan the fused span extraction over a body-feature frame with columns
   * (conv_id, turn_idx, line_in_turn, tok_idx, tok, sep_before,
   * line_trailing, f_capitalisation). Exchange/sort placement is left to
   * Catalyst via the operator's declared requirements.
   */
  def spans(feats: DataFrame): DataFrame = {
    val spark = feats.sparkSession
    install(spark)
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      BodySpansPlan(org.apache.spark.sql.GraftPlanBridge.logical(feats), outputAttrs))
  }
}

/** Logical node: body-span extraction over the token-feature child. */
case class BodySpansPlan(child: LogicalPlan, output: Seq[Attribute])
    extends UnaryNode {
  // the span columns are produced by the operator, not drawn from the child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // the operator READS these child columns — without declaring them,
  // ColumnPruning strips the child to zero columns
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      child.output.filter(a => BodySpans.inputCols(a.name)))
  override protected def withNewChildInternal(newChild: LogicalPlan): BodySpansPlan =
    copy(child = newChild)
}

object BodySpansStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BodySpansPlan(child, out) => BodySpansExec(planLater(child), out) :: Nil
    case _ => Nil
  }
}

/**
 * Physical fused FSM: streams sorted body tokens, emits finished spans.
 * O(current-span) state; one output row per span.
 */
case class BodySpansExec(child: SparkPlan, output: Seq[Attribute])
    extends UnaryExecNode {

  private def idx(name: String): Int = child.output.indexWhere(_.name == name)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output(idx("conv_id")))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq("conv_id", "turn_idx", "line_in_turn", "tok_idx")
      .map(n => SortOrder(child.output(idx(n)), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val iConv = idx("conv_id")
    val iTurn = idx("turn_idx")
    val iLine = idx("line_in_turn")
    val iTok = idx("tok")
    val iSep = idx("sep_before")
    val iTrail = idx("line_trailing")
    val iCap = idx("f_capitalisation")
    val outSchema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))

    child.execute().mapPartitions { it =>
      new Iterator[InternalRow] {
        private val proj = UnsafeProjection.create(outSchema)
        private val cls = new Labeler.LineClassifier
        private val outQ = scala.collection.mutable.Queue.empty[GenericInternalRow]
        // buffered current line (copies: the child reuses its row instance);
        // vars, not vals — feed() SWAPS them with the pending-line buffers
        // so the one-line lookahead costs zero per-line allocation
        private var toks = scala.collection.mutable.ArrayBuffer.empty[String]
        private var caps = scala.collection.mutable.ArrayBuffer.empty[String]
        private var seps = scala.collection.mutable.ArrayBuffer.empty[String]
        private var bufConv: String = null
        private var bufTurn: Int = 0
        private var bufLine: Int = 0
        private var bufTrail: String = ""
        private var hasBuf = false
        // open span accumulator
        private var spanConv: String = null
        private var spanSeg: Long = 0L
        private var spanLabel: String = null
        private var spanTurn: Int = 0
        private val spanText = new java.lang.StringBuilder
        private var pendTok: String = null
        private var pendTrail: String = null

        private def closeSpan(): Unit = if (spanLabel != null) {
          outQ += new GenericInternalRow(Array[Any](
            UTF8String.fromString(spanConv), spanSeg,
            UTF8String.fromString(spanLabel), spanTurn,
            UTF8String.fromString(spanText.toString)))
          spanLabel = null
          spanText.setLength(0)
        }

        private def resolvePend(sepAfter: String, spanLast: Boolean): Unit =
          if (pendTok != null) {
            val sep = if (spanLast) sepAfter.takeWhile(_ != '\n') else sepAfter
            spanText.append(Labeler.htmlEncode(pendTok)).append(sep)
            pendTok = null
          }

        // one-line lookahead: the last completed line waits here until the
        // next line is known; buffers recycle via swap with toks/caps/seps
        private var pToks = scala.collection.mutable.ArrayBuffer.empty[String]
        private var pCaps = scala.collection.mutable.ArrayBuffer.empty[String]
        private var pSeps = scala.collection.mutable.ArrayBuffer.empty[String]
        private var pConv: String = null
        private var pTurn: Int = 0
        private var pTrail: String = ""
        private var pHas = false

        private def emitLine(lToks: collection.Seq[String], lCaps: collection.Seq[String],
            lSeps: collection.Seq[String], conv: String, turn: Int, trail: String,
            nextIsEntry: Boolean): Unit = {
          if (conv != spanConv && spanConv != null) {
            resolvePend(if (pendTrail == null) "" else pendTrail, spanLast = true)
            closeSpan()
            spanSeg = 0L
          }
          val (base, isStart) = cls.classify(conv, lToks, lCaps, nextIsEntry)
          resolvePend(lSeps.head, spanLast = isStart)
          if (isStart) {
            closeSpan()
            spanSeg += 1
            spanConv = conv
            spanLabel = base
            spanTurn = turn
          }
          spanConv = conv
          var i = 0
          while (i < lToks.length - 1) {
            spanText.append(Labeler.htmlEncode(lToks(i))).append(lSeps(i + 1))
            i += 1
          }
          pendTok = lToks(lToks.length - 1)
          pendTrail = trail
        }

        /** Current buffered line completed: classify the pending one, then
         * swap the line buffers (no per-line copies). */
        private def feed(): Unit = {
          if (pHas)
            emitLine(pToks, pCaps, pSeps, pConv, pTurn, pTrail,
              pConv == bufConv && Labeler.isEntryLine(toks))
          val t = pToks; pToks = toks; toks = t
          val c = pCaps; pCaps = caps; caps = c
          val s = pSeps; pSeps = seps; seps = s
          toks.clear(); caps.clear(); seps.clear()
          pConv = bufConv; pTurn = bufTurn; pTrail = bufTrail
          pHas = true
        }

        private def str(r: InternalRow, i: Int): String = {
          val u = r.getUTF8String(i); if (u == null) null else u.toString
        }

        private def advance(): Unit = {
          while (outQ.isEmpty && it.hasNext) {
            val r = it.next()
            val conv = str(r, iConv)
            val turn = r.getInt(iTurn)
            val line = r.getInt(iLine)
            if (hasBuf && (bufConv != conv || bufTurn != turn || bufLine != line))
              feed() // buf* still holds the just-completed line; buffers swap
            bufConv = conv; bufTurn = turn; bufLine = line
            toks += str(r, iTok)
            caps += str(r, iCap)
            seps += str(r, iSep)
            val tr = str(r, iTrail)
            bufTrail = if (tr == null) "" else tr
            hasBuf = true
          }
          if (outQ.isEmpty && !it.hasNext) {
            if (hasBuf && toks.nonEmpty) {
              feed()
              hasBuf = false
            }
            if (pHas) {
              emitLine(pToks, pCaps, pSeps, pConv, pTurn, pTrail, nextIsEntry = false)
              pHas = false
            }
            if (pendTok != null || spanLabel != null) {
              resolvePend(if (pendTrail == null) "" else pendTrail, spanLast = true)
              closeSpan()
            }
          }
        }

        override def hasNext: Boolean = { advance(); outQ.nonEmpty }
        override def next(): InternalRow = { advance(); proj(outQ.dequeue()) }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BodySpansExec =
    copy(child = newChild)
}
