package graft

/** Plan audit for the corpus-curation operators: prints exchange/sort
 * counts and the interesting physical nodes for each headline op, so
 * shuffle regressions are visible without running the data. */
object ExplainOps {
  def main(args: Array[String]): Unit = {
    val spark = Bench.mkSpark("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    def dump(name: String): Unit = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      println(s"==== $name")
      println("== exchanges: " + plan.linesIterator.count(_.contains("Exchange hashpartitioning")))
      println("== broadcasts: " + plan.linesIterator.count(_.contains("BroadcastExchange")))
      println("== sorts: " + plan.linesIterator.count(_.contains("Sort [")))
      plan.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("SortMergeJoin") ||
        l.contains("BroadcastHashJoin") || l.contains("BroadcastNestedLoop") ||
        l.contains("CartesianProduct") || l.contains("Window") ||
        l.contains("MapPartitions")).map(_.take(140)).foreach(println)
    }

    (if (args.nonEmpty) args.toSeq
     else Seq("search_bm25", "sem_dedup_keep", "kmeans_centroids",
       "passage_strip", "curate_corpus", "gopher_keep", "chunk_text",
       "bpe_word_counts", "url_quota_sample")).foreach(dump)
    spark.stop()
  }
}
