package graft.extract

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2
import scala.collection.concurrent.TrieMap

/**
 * Per-partition lineage rows + counters (north-rule requirement; replaces
 * the reference's CntManager, `EngineDatacat.java:28,338-344`).
 *
 * [[withPartitionLineage]] is a pass-through plan node over the execution
 * rows that records (partition_id, rows, characters) into an accumulator,
 * dumped as a DataFrame by [[lineageRows]] after an action. Use on
 * checkpoint boundaries.
 */
object Lineage {

  /**
   * Per-partition (rows, bytes) accumulator with two merge modes:
   *
   *  - `dedupe = true` (row/byte totals): each task attempt reports its
   *    partition's FINAL totals once; duplicate successful attempts (stage
   *    resubmission, speculative execution) report identical values —
   *    max-merge makes the result exactly-once for deterministic input.
   *  - `dedupe = false` (failure events): plain summation. Spark applies
   *    user-accumulator updates only from successful tasks, but a stage
   *    retry can replay a whole successful task, so these counts are
   *    AT-LEAST-ONCE — fine for a best-effort failure signal, never use
   *    this mode for row/byte accounting.
   */
  final class PartitionStats(dedupe: Boolean = false)
      extends AccumulatorV2[(Int, Long, Long), Map[Int, (Long, Long)]] {
    private val m = TrieMap.empty[Int, (Long, Long)]
    def isZero: Boolean = m.isEmpty
    def copy(): PartitionStats = { val c = new PartitionStats(dedupe); m.foreach(kv => c.m += kv); c }
    def reset(): Unit = m.clear()
    def add(v: (Int, Long, Long)): Unit = {
      val (p, r, b) = v
      val (r0, b0) = m.getOrElse(p, (0L, 0L))
      if (dedupe) m.update(p, (math.max(r0, r), math.max(b0, b)))
      else m.update(p, (r0 + r, b0 + b))
    }
    def merge(other: AccumulatorV2[(Int, Long, Long), Map[Int, (Long, Long)]]): Unit =
      other.value.foreach { case (p, (r, b)) => add((p, r, b)) }
    def value: Map[Int, (Long, Long)] = m.toMap
  }

  /** Register a fresh summing (at-least-once) accumulator — failure events. */
  def newStats(spark: SparkSession, name: String): PartitionStats = {
    val acc = new PartitionStats
    spark.sparkContext.register(acc, s"lineage_$name")
    acc
  }

  /** Register a fresh deduping (exactly-once totals) accumulator. */
  def newTotals(spark: SparkSession, name: String): PartitionStats = {
    val acc = new PartitionStats(dedupe = true)
    spark.sparkContext.register(acc, s"lineage_$name")
    acc
  }

  /** Pass-through that counts rows and text characters per partition:
   * the `String.length` (UTF-16 units, [[utf16Length]]) of each non-null
   * `textCols` value feeds the counter reported as `bytes`. A plan node
   * ([[PartitionLineagePlan]]) over `df`'s plan, so the count runs inside
   * the action that consumes the frame (a stage commit), on its
   * InternalRows, and that action's plan shows `df`'s. Totals are
   * accumulated task-locally and reported once at partition exhaustion, so
   * `acc` MUST be a dedupe accumulator ([[newTotals]]) — retries then
   * re-report the same totals instead of inflating them. */
  def withPartitionLineage(df: DataFrame, acc: PartitionStats, textCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(PartitionLineageStrategy))
      spark.experimental.extraStrategies =
        PartitionLineageStrategy +: spark.experimental.extraStrategies
    val child = bridge.logical(df)
    val counted = textCols.map(n => child.output(df.schema.fieldIndex(n)))
    bridge.ofRows(spark, PartitionLineagePlan(child, acc, counted))
  }

  /** `it`, counting its rows and the characters of the columns at `idxs`
   * into `acc` for the task's partition. */
  private[extract] def counting(it: Iterator[InternalRow], acc: PartitionStats,
      idxs: Seq[Int]): Iterator[InternalRow] = {
    val ctx = org.apache.spark.TaskContext.get()
    val pid = ctx.partitionId()
    var rows = 0L
    var bytes = 0L
    // early-exit safety: a limit/take consumer never exhausts the
    // iterator, so also report at task completion — max-merge keeps the
    // larger of this and the exhaustion-time report (counts only grow)
    ctx.addTaskCompletionListener[Unit](_ => acc.add((pid, rows, bytes)))
    new Iterator[InternalRow] {
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) acc.add((pid, rows, bytes)) // idempotent under max-merge
        h
      }
      def next(): InternalRow = {
        val r = it.next()
        rows += 1
        idxs.foreach { i =>
          if (!r.isNullAt(i)) bytes += utf16Length(r.getUTF8String(i)) }
        r
      }
    }
  }

  /** `u.toString.length` without decoding: valid UTF-8 has one UTF-16 unit
   * per code point (`numChars`, one per non-continuation byte) plus one per
   * 4-byte lead byte (a surrogate pair); invalid UTF-8 is decoded, as
   * `toString` replaces its bad bytes. */
  private[graft] def utf16Length(u: UTF8String): Int =
    if (!u.isValid) u.toString.length
    else {
      val base = u.getBaseObject
      val off = u.getBaseOffset
      var n = 0
      var i = 0
      while (i < u.numBytes) {
        val b = Platform.getByte(base, off + i)
        if ((b & 0xC0) != 0x80) n += 1
        if ((b & 0xF8) == 0xF0) n += 1
        i += 1
      }
      n
    }

  /** Materialize collected per-partition stats as a lineage DataFrame.
   * `failures` carries per-partition parse-failure counts (see
   * [[graft.extract.Labeler]]'s per-line error isolation); partitions that
   * only appear in `failures` still get a lineage row. */
  def lineageRows(spark: SparkSession, stage: String, acc: PartitionStats,
      failures: Map[Int, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    val parts = (acc.value.keySet ++ failures.keySet).toSeq.sorted
    // one partition: a stage's handful of rows is one file when committed
    parts
      .map { p =>
        val (r, b) = acc.value.getOrElse(p, (0L, 0L))
        (stage, p, r, b, failures.getOrElse(p, 0L))
      }
      .toDF("stage", "partition_id", "rows", "bytes", "parse_failures")
      .coalesce(1)
  }
}

/** Logical node of [[Lineage.withPartitionLineage]]: `child`'s rows
 * unchanged, counted into `acc`; `counted` are the text columns it reads. */
case class PartitionLineagePlan(child: LogicalPlan, acc: Lineage.PartitionStats,
    counted: Seq[Attribute]) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // without them ColumnPruning could drop the counted columns from the child
  override def references: AttributeSet = AttributeSet(counted)
  override protected def stringArgs: Iterator[Any] = Iterator(counted)
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionLineagePlan =
    copy(child = newChild)
}

object PartitionLineageStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionLineagePlan(child, acc, counted) =>
      PartitionLineageExec(planLater(child), acc, counted) :: Nil
    case _ => Nil
  }
}

/** Physical node of [[Lineage.withPartitionLineage]]: keeps its child's
 * rows, partitioning and ordering. */
case class PartitionLineageExec(child: SparkPlan, acc: Lineage.PartitionStats,
    counted: Seq[Attribute]) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def stringArgs: Iterator[Any] = Iterator(counted)

  override protected def doExecute(): RDD[InternalRow] = {
    val idxs = counted.map(a => child.output.indexWhere(_.exprId == a.exprId))
    val a = acc
    child.execute().mapPartitions(it => Lineage.counting(it, a, idxs))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionLineageExec =
    copy(child = newChild)
}
