package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the result, trace and witness files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** One recorded span: a call made by the benchmark into a layer. */
final case class Span(id: Int, name: String, parent: Int, pass: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the wrapped code. Spans
 * nest by call stack; each carries the pass it belongs to. */
final class Tracer(val enabled: Boolean) {
  /** Recording switch: off during the untraced passes of a traced run. */
  var on: Boolean = enabled
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass: String = "setup"

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, pass, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per span name: (calls, total seconds, self seconds). Self time is the
   * span's duration minus the part of it its children cover. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total / 1e9
    }
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      (name, ss.size, ss.map(_.seconds).sum, ss.map(s => s.seconds - covered(s)).sum)
    }
  }

  def toJson: String = Json(Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "pass" -> s.pass, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)),
    "summary" -> summary.map { case (n, c, tot, self) =>
      Map("name" -> n, "calls" -> c, "total_s" -> tot, "self_s" -> self) }))
}

/** Engine counters of one measured window, from Spark's own listener
 * events. */
final case class EngineStats(jobs: Long, stages: Long, tasks: Long,
    taskCpuS: Double, executorRunS: Double, gcS: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, fetchWaitS: Double, spillMb: Double, taskSkew: Double)

/** Collects job, stage and task metrics per window. [[end]] first drains
 * the listener bus, so every job-end, stage-completed and task-end event
 * of the window has been delivered — no fixed sleep. */
final class EngineListener extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var cpuNs, runMs, gcMs, shW, shR, fetchMs, spill = 0L
  private val taskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val stageWallMs = scala.collection.mutable.Map.empty[(Int, Int), Long]

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val si = e.stageInfo
    for (a <- si.submissionTime; b <- si.completionTime)
      stageWallMs((si.stageId, si.attemptNumber())) = b - a
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      fetchMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def begin(sc: SparkContext): Unit = {
    org.apache.spark.GraftBenchBus.drain(sc)
    synchronized {
      jobs = 0; stages = 0; tasks = 0
      cpuNs = 0; runMs = 0; gcMs = 0; shW = 0; shR = 0; fetchMs = 0; spill = 0
      taskMs.clear(); stageWallMs.clear()
    }
  }

  def end(sc: SparkContext): EngineStats = {
    org.apache.spark.GraftBenchBus.drain(sc)
    synchronized {
      val skew =
        if (stageWallMs.isEmpty) 1.0
        else {
          val longest = stageWallMs.maxBy(_._2)._1
          val ds = taskMs.getOrElse(longest, ArrayBuffer(1L)).map(_.toDouble)
          ds.max / math.max(1.0, Stats.median(ds.toSeq))
        }
      EngineStats(jobs, stages, tasks, cpuNs / 1e9, runMs / 1e3, gcMs / 1e3,
        shW / 1e6, shR / 1e6, fetchMs / 1e3, spill / 1e6, skew)
    }
  }
}

/** Keeps the QueryExecution of every successful action, so a pass can read
 * its executed plan and planning-phase times after it ran. */
final class PlanCapture extends QueryExecutionListener {
  private val qes = ArrayBuffer.empty[(String, QueryExecution)]
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += funcName -> qe }
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(sc: SparkContext): Seq[(String, QueryExecution)] = {
    org.apache.spark.GraftBenchBus.drain(sc)
    synchronized { val r = qes.toSeq; qes.clear(); r }
  }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges of the final (post-AQE) physical plan. */
  def exchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  def isHashOn(e: ShuffleExchangeLike, key: String): Boolean =
    e.outputPartitioning match {
      case org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(exprs, _) =>
        exprs.nonEmpty && exprs.forall {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name == key
          case _ => false
        }
      case _ => false
    }

  /** Largest generated method (bytes of bytecode) over the plan's
   * whole-stage-codegen subtrees; compiled code comes from the cache. */
  def maxMethodBytes(plan: SparkPlan): Long =
    org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
      .map(_._3.maxMethodCodeSize.toLong).foldLeft(0L)(math.max)

  /** Seconds per planning phase recorded by the tracker of `qe`. */
  def phaseSeconds(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
}

/** Order-independent output digest: row count plus the sums of the low and
 * high halves of a 64-bit hash of each row's JSON (columns by name). */
object Digest {
  def of(df: DataFrame): (Long, String) = { val (n, d, _) = withBytes(df); (n, d) }

  /** Also returns the UTF-8 bytes of the rows as JSON, the size of the
   * result as handed out. */
  def withBytes(df: DataFrame): (Long, String, Long) = {
    val json = to_json(struct(df.columns.sorted.map(col): _*))
    val r = df.select(xxhash64(json).as("h"), octet_length(json).as("b"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)), sum(col("b")))
      .head()
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (long(0), f"${long(2)}%x.${long(1)}%x", long(3))
  }
}

object Files2 {
  /** Bytes and count of the data files under `dir` (Hadoop checksum and
   * marker files excluded). */
  def dataFiles(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
        (fs.map(Files.size).sum, fs.size)
      } finally s.close()
    }
}

object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1e6
}
