package graft

import org.apache.spark.sql.functions._

/** Manual driver surface: runs the flagship extraction end-to-end and prints
 * sample output (what the harness driver smoke-checks). */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Bench.mkSpark(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")

    val spans = SparkEntry.entry(spark).cache()
    println(s"[demo] extracted spans: ${spans.count()}")
    spans.groupBy("label").count().orderBy(desc("count")).show(10, false)
    spans.orderBy("conv_id", "segment_id").show(8, 120)

    val tei = graft.extract.Pipeline.extractTei(
      graft.extract.Structure.transcriptsFromDocuments(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")))
    val one = tei.orderBy("conv_id").limit(1).collect()(0)
    println(s"[demo] TEI for ${one.getString(0)}:\n" +
      one.getString(1).take(1200))
    spark.stop()
  }
}
