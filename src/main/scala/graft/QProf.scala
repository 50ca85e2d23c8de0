package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.bridge
import scala.collection.concurrent.TrieMap

/** Dev tool: per-query profile — rep wall times (cold vs warm), Spark job
 * and stage counts per rep, and optional formatted-plan dump. The job and
 * stage counters expose fixed costs (localCheckpoints, model collects,
 * convergence probes, AQE re-planning) that a single wall number hides.
 * `sink` = `count` (the driver-bench action) or `noop` (guide §1.4: full
 * materialization of every column, no column-pruning shortcuts).
 * Usage: runMain graft.QProf <query> [reps] [planOut] [sfDir] [cpus] [sink] */
object QProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val planOut = args.lift(2).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(4).getOrElse("32")
    val sink = args.lift(5).getOrElse("count")
    val spark = Bench.mkSpark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val jobStart = TrieMap.empty[Int, (Long, String)]
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobStart(js.jobId) = (js.time, site)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.remove(je.jobId).foreach { case (t0, site) =>
          jobLines.add(f"    job${je.jobId}%3d ${(je.time - t0) / 1e3}%7.2f s  $site")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += sc.stageInfo.numTasks
        val si = sc.stageInfo
        val dur = for (a <- si.submissionTime; b <- si.completionTime)
          yield (b - a) / 1e3
        jobLines.add(f"    stage${si.stageId}%3d ${dur.getOrElse(-1.0)}%7.2f s " +
          f"${si.numTasks}%3d tasks  ${si.name.take(90)}")
      }
    })
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      jobs = 0; stages = 0; tasks = 0; jobLines.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n =
        if (sink == "noop") {
          df.write.format("noop").mode("overwrite").save(); -1L
        } else df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      bridge.drainListeners(spark.sparkContext)
      println(f"[qprof] $name rep$i: $sec%.2f s ($n rows, $jobs jobs, $stages stages, $tasks tasks)")
      if (i == reps) jobLines.forEach(l => println(l))
    }
    planOut.foreach { p =>
      val df = fn(spark, sfDir)
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      println(s"[qprof] plan written to $p")
    }
    spark.stop()
  }
}
