package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Assemble, Features, Labeler, Pipeline, Structure, Synthetic}
import graft.plans.BodySpans

/**
 * The custom Catalyst operator (BodySpansPlan/Strategy/Exec) must be
 * byte-identical to the declarative assembly
 * (`Assemble.bodySpans(Labeler.bodyLabels(..))`), and Catalyst must plan
 * its exchange from the DECLARED requirements (one hashpartitioning, sort
 * inserted by EnsureRequirements — no manual repartition in the plan).
 */
class PlanOperatorSpec extends SparkSpec {

  /** The operator's five output columns, in its order, via the declarative
   * label-then-assemble path over the same input. */
  private def declarative(f: DataFrame): DataFrame =
    Assemble.bodySpans(Labeler.bodyLabels(f))
      .select("conv_id", "segment_id", "label", "turn_idx", "text")

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
}
