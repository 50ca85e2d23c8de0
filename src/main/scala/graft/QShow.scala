package graft

/** Dev tool: print one named SparkEntry query's result rows.
 * Usage: runMain graft.QShow <query> [sfDir] [nRows] [cpus] */
object QShow {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val nRows = args.lift(2).map(_.toInt).getOrElse(20)
    val cpus = args.lift(3).getOrElse("32")
    val spark = Bench.mkSpark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, sfDir).show(nRows, truncate = false)
    spark.stop()
  }
}
