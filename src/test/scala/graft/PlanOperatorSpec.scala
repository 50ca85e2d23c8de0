package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Assemble, Features, Labeler, Pipeline, Structure, Synthetic}
import graft.plans.BodySpans

/**
 * The custom Catalyst operator (BodySpansPlan/Strategy/Exec) must be
 * byte-identical to the declarative assembly in both span modes — the FSM mode
 * to `Assemble.bodySpans(Labeler.bodyLabels(..))`, the label mode to
 * `Assemble.bodySpans` over the same labeled frame — and Catalyst must plan
 * its exchange from the DECLARED requirements (one hashpartitioning, sort
 * inserted by EnsureRequirements — no manual repartition in the plan).
 */
class PlanOperatorSpec extends SparkSpec {

  /** The operator's five output columns, in its order, via the declarative
   * label-then-assemble path over the same input. */
  private def declarative(f: DataFrame): DataFrame =
    Assemble.bodySpans(Labeler.bodyLabels(f))
      .select("conv_id", "segment_id", "label", "turn_idx", "text")

  /** The declarative assembly of a labeled frame, in the operator's
   * column order. */
  private def assembled(labeled: DataFrame): DataFrame =
    Assemble.bodySpans(labeled)
      .select("conv_id", "segment_id", "label", "turn_idx", "text")

  private def sortedRows(df: DataFrame) =
    df.orderBy("conv_id", "segment_id").collect().toSeq

  private def feats(n: Long) = {
    val turns = Synthetic.transcripts(spark, n)
    Features.body(Structure.tokensFromLines(
      Structure.keptLines(turns)
        .select("conv_id", "turn_idx", "role", "tool", "block_idx",
          "line_in_turn", "line_idx", "line")))
      .select("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
  }

  test("custom operator output is identical to the declarative assembly") {
    val f = feats(300)
    val viaOperator = BodySpans.spans(f)
      .orderBy("conv_id", "segment_id").collect().toSeq
    val viaAssembly = declarative(f)
      .orderBy("conv_id", "segment_id").collect().toSeq
    assert(viaOperator.nonEmpty)
    assert(viaOperator == viaAssembly)
  }

  test("FSM mode is identical to the declarative assembly on null sep_before") {
    val sparkS = spark
    import sparkS.implicits._
    // a null sep_before on a line-first token (the held token before it
    // takes its own line_trailing) and inside a line (the token before it
    // takes the line's trailing separator); a null line_trailing reads ""
    val f = Seq[(String, Int, Int, Int, String, String, String, String)](
      ("a", 0, 0, 0, "Hello", "", " ", "INITCAP"),
      ("a", 0, 0, 1, "world", " ", " ", "NOCAPS"),
      ("a", 0, 1, 0, "more", null, "t", "NOCAPS"),
      ("a", 0, 1, 1, "text", null, "t", "NOCAPS"),
      ("a", 0, 1, 2, "t", " ", "t", "NOCAPS"),
      ("b", 0, 0, 0, "12", "", "\n", "NOCAPS"),
      ("b", 0, 0, 1, "-", null, "\n", "NOCAPS"),
      ("b", 0, 0, 2, "Vase", " ", "\n", "INITCAP"),
      ("b", 1, 0, 0, "AR", null, null, "ALLCAPS"),
      ("b", 1, 0, 1, ".", null, null, "NOCAPS"))
      .toDF("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
    val viaOperator = sortedRows(BodySpans.spans(f)
      .select("conv_id", "segment_id", "label", "turn_idx", "text"))
    assert(viaOperator.map(_.getString(0)).distinct == Seq("a", "b"))
    assert(!viaOperator.exists(_.getString(4).contains("null")))
    assert(viaOperator == sortedRows(declarative(f)))
  }

  test("FSM mode drops a line whose classification throws, like bodyLabels") {
    val sparkS = spark
    import sparkS.implicits._
    // RobustnessSpec's null-token frame (a foreign upstream; the tokenizer
    // never emits a null tok), its malformed line given a second token so
    // that dropping the whole line is visible in the span text
    val f = Seq[(String, Int, Int, Int, String, String, String, String)](
      ("c8", 0, 0, 0, "good", "", "", "NOCAPS"),
      ("c8", 0, 1, 0, null, "", "", "NOCAPS"),
      ("c8", 0, 1, 1, "lost", " ", "", "NOCAPS"),
      ("c8", 0, 2, 0, "fine", "", "", "NOCAPS"))
      .toDF("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
    val viaOperator = sortedRows(BodySpans.spans(f))
    assert(viaOperator.nonEmpty)
    assert(viaOperator == sortedRows(declarative(f)))
    assert(!viaOperator.exists(_.getString(4).contains("lost")), viaOperator)
  }

  test("EnsureRequirements plans exactly one exchange for the operator") {
    val plan = BodySpans.spans(feats(50)).queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("BodySpans"), s"custom exec missing:\n$plan")
    assert(plan.contains("ENSURE_REQUIREMENTS"),
      "exchange must come from the operator's declared distribution")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("operator handles empty input (zero rows, zero partitions' worth)") {
    val f = feats(5).where(col("conv_id") === "no-such-conv")
    assert(BodySpans.spans(f).isEmpty)
  }

  test("gold-fixture spans via the operator match the fixture expectation") {
    assume(Fixtures.available)
    val sparkS = spark
    import sparkS.implicits._
    val fx = Fixtures.bodyFixtureNames.map(Fixtures.loadBody).maxBy(_.spans.size)
    val turns = Seq((fx.name, 0, "user", fx.sourceText, null: String,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val f = Features.body(Structure.tokens(turns))
      .select("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
    val a = BodySpans.spans(f).orderBy("segment_id").collect().toSeq
    val b = declarative(f).orderBy("segment_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("the flagship plan has exactly one conv_id exchange") {
    val plan = Pipeline.extract(Synthetic.transcripts(spark, 50))
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning(conv_id"))
    assert(exchanges == 1, s"expected 1 conv_id exchange, got $exchanges:\n$plan")
  }

  private def flagshipPlan = {
    val plan = Pipeline.extract(Synthetic.transcripts(spark, 50)).queryExecution.executedPlan
    plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("the flagship plan keeps its window, sort, generate and exchange counts") {
    // the turn → lines kernel replaced the line layer's three windows and
    // their two sorts; the span walk zones each conversation itself, so the
    // zone rule's max(block_idx) and pattern-count windows and their sorts
    // are gone, and it tokenizes, so the lag window, the token explode and
    // the token sort are gone: the kept-line sort is the one sort left
    val plan = flagshipPlan
    val nodes = plan.collect { case n => n.nodeName }
    val counts = Seq("Window", "Sort", "Generate", "Exchange").map(n => n -> nodes.count(_ == n))
    assert(counts == Seq("Window" -> 0, "Sort" -> 1, "Generate" -> 1, "Exchange" -> 1),
      s"operator counts changed:\n$plan")
    assert(plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      plan)
  }

  test("the flagship plan tokenizes each line once") {
    // inside the span walk: no graft_tokenize expression, and the walk's
    // child is the sort of the body lines, not of token rows
    val plan = flagshipPlan
    val calls = plan.collect { case n => n.expressions }.flatten
      .map(_.collect { case t: graft.functions.Tokenize => t }.size).sum
    assert(calls == 0, s"graft_tokenize calls: $calls\n$plan")
    val walk = plan.collect { case w: graft.plans.BodySpansExec => w }
    assert(walk.size == 1, plan)
    walk.head.child match {
      case sort: org.apache.spark.sql.execution.SortExec =>
        assert(sort.sortOrder.map(_.child.references.head.name) ==
          Seq("conv_id", "turn_idx", "line_in_turn"), plan)
      case other => fail(s"the walk's child is not a sort:\n$other")
    }
  }

  test("bodyLabelsChunked keeps its (conv_id, _chunk) exchanges and broadcast joins") {
    val plan = Labeler.bodyLabelsChunked(feats(30), chunkTurns = 2, materialize = false)
      .queryExecution.executedPlan.toString
    // one narrow (conv_id, _chunk) shuffle for pass 1, one full-width one
    // for pass 2; the peek selection, multi-chunk pruning (once per union
    // branch) and entry-state joins are broadcasts
    val lines = plan.linesIterator.toSeq
    val chunkKey = "Exchange hashpartitioning\\(conv_id#\\d+, _chunk#\\d+,".r
    val chunkExchanges = lines.count(l => chunkKey.findFirstIn(l).isDefined)
    assert(chunkExchanges == 2, s"(conv_id, _chunk) exchanges:\n$plan")
    val broadcastJoins = lines.count(_.contains("BroadcastHashJoin"))
    assert(broadcastJoins == 5, s"broadcast joins:\n$plan")
    assert(!lines.exists(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
      s"every join is a broadcast:\n$plan")
  }

  private def hashExchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("Exchange hashpartitioning"))

  test("document mode plans exactly one exchange under either stage-1") {
    val docs = Synthetic.transcripts(spark, 100).select("conv_id", "turn_idx", "text")
    assert(graft.extract.ZoneModelArtifact.load(spark).isDefined)
    assert(hashExchanges(Pipeline.extractDocuments(docs, None)) == 1)
    assert(hashExchanges(Pipeline.extractDocuments(docs)) == 1)
  }

  test("mainContent plans no exchange") {
    val docs = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("<html><body><nav><a href=\"/\">Home</a></nav><p>entry "),
        col("id").cast("string"),
        lit(" with plenty of text</p></body></html>")).as("html"))
    assert(hashExchanges(graft.ops.MainContent.mainContent(docs)) == 0)
  }

  test("label mode is identical to the declarative assembly on FSM labels") {
    val labeled = Labeler.bodyLabels(feats(50))
    val viaOperator = sortedRows(BodySpans.fromLabels(labeled))
    assert(viaOperator.nonEmpty)
    assert(viaOperator == sortedRows(assembled(labeled)))
  }

  test("label mode is identical to the declarative assembly on hand-built BIO frames") {
    val sparkS = spark
    import sparkS.implicits._
    val rows = Seq[(String, Int, Int, Int, String, String, String, String)](
      // `I-` on a non-first token of a line; XML specials; a `\n` in the
      // separator that ends a span (cut there) and in one inside a span (kept)
      ("a", 0, 0, 0, "1", "", "\n", "I-<entry>"),
      ("a", 0, 0, 1, "-", " ", "\n", "<entry>"),
      ("a", 0, 0, 2, "x<y", " ", "\n", "I-<entry>"),
      ("a", 0, 0, 3, "&'\"", " \n ", "\n", "<entry>"),
      ("a", 0, 1, 0, "Tail>", " \n\n", null, "<entry>"),
      // a base change with no `I-`, then back-to-back `I-` tokens
      ("a", 0, 2, 0, "TITLE", "  \n", "", "<title>"),
      ("a", 0, 2, 1, "U", " ", "", "I-<title>"),
      ("a", 0, 2, 2, "V", " ", "", "I-<title>"),
      // a null sep_before (the token before it falls back to its own
      // line_trailing) and a null tok (Assemble drops its piece)
      ("a", 0, 2, 3, "W", " ", " end\n", "<title>"),
      ("a", 0, 2, 4, "X", null, " end\n", "<title>"),
      ("a", 0, 2, 5, null, " ", " end\n", "<title>"),
      // a span crossing a turn gap; the next span opens in a later turn
      ("a", 2, 0, 0, "more", "\n", "\n", "<title>"),
      ("a", 3, 0, 0, "desc", " ", " trail \n x", "<titledesc>"),
      // one-token conversations: non-null, null and newline trailing
      ("b", 0, 0, 0, "solo", "", "  \nz", "I-<other>"),
      ("c", 5, 1, 2, "only", "\t", null, "<entry>"),
      ("d", 0, 0, 0, "one", "", "\n", "<other>"),
      // a null label (not BIO; Assemble makes it a one-token span)
      ("e", 0, 0, 0, "p", "", " ", "<entry>"),
      ("e", 0, 0, 1, "q", " ", " ", null),
      ("e", 0, 0, 2, "r", " ", " ", "<entry>"),
      ("f", 1, 0, 0, "Z", " ", "", "<entry>"),
      ("f", 1, 0, 1, "z", " ", "", "<entry>"))
    val labeled = rows.toDF("conv_id", "turn_idx", "line_in_turn", "tok_idx",
      "tok", "sep_before", "line_trailing", "label")
    // rows shuffled over several partitions; six conversations over the
    // exchange's four partitions put a conversation boundary inside one
    val shuffled = labeled.orderBy(rand(3)).repartition(3)
    val viaOperator = sortedRows(BodySpans.fromLabels(shuffled))
    assert(viaOperator.map(_.getString(0)).distinct == Seq("a", "b", "c", "d", "e", "f"))
    assert(viaOperator == sortedRows(assembled(shuffled)))
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      assert(sortedRows(BodySpans.fromLabels(shuffled)) == viaOperator)
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
  }

  test("label mode over a parquet read plans one conv_id exchange, no window or aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-labeled").resolve("t").toString
    Labeler.bodyLabels(feats(20)).write.parquet(dir)
    val plan = BodySpans.fromLabels(spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BodySpans"), s"custom exec missing:\n$plan")
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning(conv_id"))
    assert(exchanges == 1, s"expected 1 conv_id exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Aggregate"),
      s"label walk must not plan a window or an aggregate:\n$plan")
    // the label walk reads `label`, not the FSM's capitalisation feature
    assert(!plan.contains("f_capitalisation"), s"f_capitalisation not pruned:\n$plan")
  }

  test("label mode over labeledBodyTokens adds one conv_id exchange, no window or aggregate") {
    val plan = BodySpans.fromLabels(
      Pipeline.labeledBodyTokens(Synthetic.transcripts(spark, 50)))
      .queryExecution.executedPlan.toString
    // the pipeline's one exchange: bodyLabels' label walk keeps its child's
    // attributes, partitioning and ordering, so the span walk over it adds
    // neither an exchange nor a sort
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning(conv_id"))
    assert(exchanges == 1, s"expected 1 conv_id exchange, got $exchanges:\n$plan")
    // everything above the label sink (the second BodySpans node)
    val lines = plan.linesIterator.toSeq
    val labelSink = lines.indexWhere(_.contains("BodySpans"),
      lines.indexWhere(_.contains("BodySpans")) + 1)
    assert(labelSink > 0, s"label sink missing:\n$plan")
    val above = lines.take(labelSink).mkString("\n")
    assert(!above.contains("Window") && !above.contains("Aggregate") &&
      !above.contains("Sort"), above)
  }
}
