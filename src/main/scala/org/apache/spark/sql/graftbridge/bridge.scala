package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionColumnNode
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into `private[sql]` surface, the one module that touches
  * Spark internals: wrap a Catalyst Expression as a user-facing Column (the
  * classic-session column node), plan a custom logical node as a DataFrame
  * (graft.plans.BodySpans), cut a lazy plan barrier, clone a session so a
  * conf override can be scoped to ONE query instead of mutated
  * session-wide, drain the listener bus, and buffer rows in Spark's
  * spillable row array. Lives in an
  * `org.apache.spark.sql` subpackage solely for access; no Spark internals
  * are modified. */
object bridge {
  def column(e: Expression): Column = new Column(ExpressionColumnNode(e))

  /** Inverse direction: unwrap a Column (including lambda variables inside
    * higher-order-function bodies) back to its Catalyst Expression. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A DataFrame over `plan`, analysed in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** The analysed logical plan of `df`. */
  def logical(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed

  /** Lazy PLAN barrier (why: `graft.extract.Chunked.barrier`): re-roots
    * `df` on its (lazily planned) execution RDD via `LogicalRDD`, so
    * downstream logical plans see a LEAF instead of the whole upstream tree.
    * No data is materialized (unlike localCheckpoint): repeated actions over
    * the same barrier reuse its shuffle stages. Cost: no optimizer pushdown
    * across the barrier (pre-prune columns first) and plan-time stats
    * degrade to the defaultSizeInBytes sentinel (see `graft.ops.Par.spread`). */
  def planBarrier(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[CDataset[Row]]
    ofRows(df.sparkSession, org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Clone `spark` (same SparkContext and shared state; conf, temp views
    * and registered functions copied at clone time) and apply `overrides`
    * to the CLONE only. The caller's session conf is untouched — this is
    * how an operator scopes a conf exemption to the plans it builds. */
  def sessionWithConf(spark: SparkSession,
      overrides: (String, String)*): SparkSession = {
    val c = spark.asInstanceOf[CSparkSession].cloneSession()
    overrides.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Rebind a DataFrame's logical plan to another session of the same
    * SparkContext (re-analyzed there, so `to`'s conf governs it). */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    CDataset.ofRows(to.asInstanceOf[CSparkSession],
      df.queryExecution.logical)

  /** Block until every event already posted to the listener bus has been
    * delivered, so a listener's counters are complete when read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `spark.sql.icu.caseMappings.enabled`, which decides how `Lower` maps
    * case; read on the driver. */
  def icuCaseMappings(conf: SQLConf): Boolean = conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** The `spark.sql.windowExec.buffer.*` thresholds `WindowExec` sizes its
    * partition buffer with, read on the driver: rows held in memory, rows
    * and bytes before the buffer spills. */
  case class BufferSize(inMemoryRows: Int, spillRows: Int, spillBytes: Long)

  def windowBufferSize(conf: SQLConf): BufferSize = BufferSize(
    conf.windowExecBufferInMemoryThreshold, conf.windowExecBufferSpillThreshold,
    conf.windowExecBufferSpillSizeThreshold)

  /** An append-only row buffer that spills to disk past `size`, as
    * `WindowExec` buffers a window partition; made inside a task. Rows are
    * copied on `add`; `clear` empties it for reuse. */
  final class RowBuffer(size: BufferSize) {
    private val rows = new ExternalAppendOnlyUnsafeRowArray(
      size.inMemoryRows, size.spillBytes, size.spillRows, size.spillBytes)
    def add(r: UnsafeRow): Unit = rows.add(r)
    def length: Int = rows.length
    /** The rows in order; the iterator may reuse one row instance. */
    def iterator: Iterator[UnsafeRow] = rows.generateIterator()
    def clear(): Unit = rows.clear()
  }
}
