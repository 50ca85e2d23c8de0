package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Bench.mkSpark("4")
    spark.sparkContext.setLogLevel("ERROR")
    val turns = graft.extract.Synthetic.transcripts(spark, 100)
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      println(s"==== $name")
      println("== exchanges: " + plan.linesIterator.count(_.contains("Exchange hashpartitioning")))
      println("== sorts: " + plan.linesIterator.count(l => l.contains("Sort [")))
      plan.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Sort [") || l.contains("Window") ||
        l.contains("WholeStageCodegen") || l.contains("MapPartitions") ||
        l.contains("HashAggregate")).foreach(println)
    }
    dump("extract (transcript mode)", graft.extract.Pipeline.extract(turns))
    dump("extractChunked (giant-conversation mode)",
      graft.extract.Pipeline.extractChunked(turns, chunkTurns = 16))
    dump("extractDocuments (document mode)",
      graft.extract.Pipeline.extractDocuments(
        turns.select("conv_id", "turn_idx", "text")))
    // modeled stage-1: train a tiny model (labels don't matter for plan
    // shape) and show the window-assembled score path adds no exchange
    val zoned = graft.extract.Labeler.zonesContent(
      graft.extract.Structure.keptLines(turns))
    val model = graft.extract.ZoneModel.train(zoned)
    dump("extractDocumentsModeled (trained stage-1)",
      graft.extract.Pipeline.extractDocumentsModeled(
        turns.select("conv_id", "turn_idx", "text"), model))
    // NOTE: the chunked document cascade is plan-BARRIERED at its three
    // macro-stage boundaries (GraftPlanBridge.planBarrier), so this dump
    // shows only the final segment (span assembly over the labeled-token
    // leaf); the earlier segments were planned eagerly at construction
    dump("extractDocumentsChunked (final segment below last barrier)",
      graft.extract.Pipeline.extractDocumentsChunked(
        turns.select("conv_id", "turn_idx", "text"), chunkTurns = 16))
    // web-corpus operators: main-content must plan as a bare projection
    // (0 exchanges); NB scoring = broadcast join + one aggregation exchange
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.range(100).select(col("id").as("doc_id"),
        concat(lit("<html><body><nav><a href=\"/\">Home</a></nav><p>entry "),
          col("id").cast("string"),
          lit(" with plenty of text</p></body></html>")).as("html"),
        (col("id") % 2).cast("int").as("label"),
        concat(lit("token text number "), col("id").cast("string")).as("text"))
      dump("mainContent + densityContent (HTML strip)",
        graft.ops.MainContent.densityContent(
          graft.ops.MainContent.mainContent(docs)))
      val qm = graft.ops.QualityModel.train(docs)
      dump("qualityScore (NB inference)", graft.ops.QualityModel.score(docs, qm))
    }
    spark.stop()
  }
}
