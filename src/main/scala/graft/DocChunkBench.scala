package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.Pipeline

/**
 * Giant-DOCUMENT skew benchmark for the chunk-parallel document-mode
 * cascade (round 3), heuristic stage-1: sequential
 * [[Pipeline.extractDocuments]] runs stage-1 content zoning as
 * conversation-grain windows — ONE task owns the whole document — while
 * [[Pipeline.extractDocumentsChunked]] spreads every stage over nTurns/chunkTurns tasks (row-identical,
 * DocumentChunkedSpec + doc_chunked_diff oracle). One catalogue-shaped
 * document: front matter, numbered 2-line lot entries with sequential
 * markers, a repeating page stamp, and a numbered letter-poor price-list
 * annex behind its trigger header — so every zoner rule fires.
 *
 *   SPARK_GRAFT_DOC_TURNS=100000 SPARK_GRAFT_CPUS=16 \
 *     sbt "runMain graft.DocChunkBench"       # prints one JSON line
 */
object DocChunkBench {

  private def turnsDf(spark: org.apache.spark.sql.SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      lit("giantdoc").as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      when(col("id") < 20,
        concat(lit("CONDITIONS DE LA VENTE numero "), col("id")))
      .when(col("id") === n - 1000, lit("PRIX DES ADJUDICATIONS"))
      .when(col("id") > n - 1000,
        concat((col("id") - (n - 1000)).cast("string"), lit(" "),
          ((col("id") % 97) * 3).cast("string")))
      .when(col("id") % 40 === 39, lit("PARIS HOTEL DROUOT"))
      .otherwise(concat(
        (col("id") - 19).cast("string"),
        lit(" - Monnaie ancienne de la collection "),
        translate(col("id").cast("string"), "0123456789", "abcdefghij"),
        lit("\ntres beau style et conservation remarquable")))
      .as("text"))

  private def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val nTurns = sys.env.getOrElse("SPARK_GRAFT_DOC_TURNS", "100000").toLong
    val chunk = sys.env.getOrElse("SPARK_GRAFT_CHUNK_SIZE", "8192").toInt
    // seq | chunked | both — one mode per JVM for clean comparisons
    val mode = sys.env.getOrElse("SPARK_GRAFT_DOC_MODE", "both")
    val spark = Bench.mkSpark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // JIT/codegen warmup on a small document, both paths
    Seq(2000L, 5000L).foreach { w =>
      timeNoop(Pipeline.extractDocuments(turnsDf(spark, w), None))
      timeNoop(Pipeline.extractDocumentsChunked(turnsDf(spark, w), None, chunk))
    }

    def best2(f: => Double): Double = math.min(f, f)
    val seqSec =
      if (mode == "chunked") -1.0
      else best2(timeNoop(Pipeline.extractDocuments(turnsDf(spark, nTurns), None)))
    val chunkedSec =
      if (mode == "seq") -1.0
      else best2(timeNoop(
        Pipeline.extractDocumentsChunked(turnsDf(spark, nTurns), None, chunk)))
    println(f"""{"metric":"doc_chunk_bench","cpus":$cpus,"turns":$nTurns,"chunkTurns":$chunk,"seq_sec":$seqSec%.2f,"chunked_sec":$chunkedSec%.2f}""")
    spark.stop()
  }
}
