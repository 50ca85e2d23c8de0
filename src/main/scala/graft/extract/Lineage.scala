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
 * One accumulator per stage, [[PartitionStats]], holds each partition's
 * (rows, characters, parse failures). [[withPartitionLineage]] is a
 * pass-through plan node over the execution rows that reports the first
 * two; a label walk given the same accumulator reports the third from the
 * same task. [[lineageRows]] dumps it as a DataFrame after an action. Use
 * on checkpoint boundaries.
 */
object Lineage {

  /**
   * Per-partition (rows, bytes, parse_failures), exactly-once: each
   * reporter sends its task's FINAL totals ([[reportOnce]]) and every
   * component merges by max, so a re-run of the task (a stage retry, a
   * speculative attempt, the range sample of an `orderBy`) re-reports the
   * same totals instead of adding to them. Contract: per stage, at most one
   * operator reports each component, and a re-run sees deterministic input
   * under the same plan, so the same partition id holds the same rows.
   */
  final class PartitionStats
      extends AccumulatorV2[(Int, Long, Long, Long), Map[Int, (Long, Long, Long)]] {
    private val m = TrieMap.empty[Int, (Long, Long, Long)]
    def isZero: Boolean = m.isEmpty
    def copy(): PartitionStats = { val c = new PartitionStats; m.foreach(kv => c.m += kv); c }
    def reset(): Unit = m.clear()
    def add(v: (Int, Long, Long, Long)): Unit = {
      val (p, r, b, f) = v
      val (r0, b0, f0) = m.getOrElse(p, (0L, 0L, 0L))
      m.update(p, (math.max(r0, r), math.max(b0, b), math.max(f0, f)))
    }
    def merge(other: AccumulatorV2[(Int, Long, Long, Long), Map[Int, (Long, Long, Long)]]): Unit =
      other.value.foreach { case (p, (r, b, f)) => add((p, r, b, f)) }
    def value: Map[Int, (Long, Long, Long)] = m.toMap
  }

  /** Register a fresh accumulator for stage `name`. */
  def newStats(spark: SparkSession, name: String): PartitionStats = {
    val acc = new PartitionStats
    spark.sparkContext.register(acc, s"lineage_$name")
    acc
  }

  /** Pass-through that counts rows and text characters per partition:
   * the `String.length` (UTF-16 units, [[utf16Length]]) of each non-null
   * `textCols` value feeds the counter reported as `bytes`. A plan node
   * ([[PartitionLineagePlan]]) over `df`'s plan, so the count runs inside
   * the action that consumes the frame (a stage commit), on its
   * InternalRows, and that action's plan shows `df`'s. */
  def withPartitionLineage(df: DataFrame, acc: PartitionStats, textCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(PartitionLineageStrategy))
      spark.experimental.extraStrategies =
        PartitionLineageStrategy +: spark.experimental.extraStrategies
    val child = bridge.logical(df)
    val counted = textCols.map(n => child.output(df.schema.fieldIndex(n)))
    bridge.ofRows(spark, PartitionLineagePlan(child, acc, counted))
  }

  /** `it` unchanged; `totals()` (rows, bytes, parse_failures), the task's
   * counts so far, goes to `acc` for the task's partition at exhaustion
   * and again at task completion: a limit/take consumer never exhausts the
   * iterator, and max-merge keeps the larger report (counts only grow). */
  private[graft] def reportOnce[T](it: Iterator[T], acc: PartitionStats)(
      totals: () => (Long, Long, Long)): Iterator[T] = {
    val ctx = org.apache.spark.TaskContext.get()
    val pid = ctx.partitionId()
    def report(): Unit = { val (r, b, f) = totals(); acc.add((pid, r, b, f)) }
    ctx.addTaskCompletionListener[Unit](_ => report())
    new Iterator[T] {
      def hasNext: Boolean = { val h = it.hasNext; if (!h) report(); h }
      def next(): T = it.next()
    }
  }

  /** `it`, counting its rows and the characters of the columns at `idxs`
   * into `acc` for the task's partition. */
  private[extract] def counting(it: Iterator[InternalRow], acc: PartitionStats,
      idxs: Seq[Int]): Iterator[InternalRow] = {
    var rows = 0L
    var bytes = 0L
    reportOnce(it.map { r =>
      rows += 1
      idxs.foreach { i => if (!r.isNullAt(i)) bytes += utf16Length(r.getUTF8String(i)) }
      r
    }, acc)(() => (rows, bytes, 0L))
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

  /** Materialize collected per-partition stats as a lineage DataFrame. */
  def lineageRows(spark: SparkSession, stage: String, acc: PartitionStats): DataFrame = {
    import spark.implicits._
    // one partition: a stage's handful of rows is one file when committed
    acc.value.toSeq.sortBy(_._1)
      .map { case (p, (r, b, f)) => (stage, p, r, b, f) }
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
