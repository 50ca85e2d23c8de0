package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.extract.{Features, Labeler, Structure, ZoneModel}

/**
 * The distributed trainer generalizes to stage 2: a line-level model for
 * the body labels (entry/title/titledesc/other), trained on a seeded doc
 * split of the 14 body gold docs with the FSM's line label as the stacked
 * hint — the analog of retraining `datacat-body-segmentation`
 * (`DatacatBodySegmentationTrainer.java`, reference best micro-F1 85.84).
 */
class BodyModelSpec extends SparkSpec with FixtureSpec {

  test("held-out body line-label accuracy of the trained model") {
    val sparkS = spark
    import sparkS.implicits._

    val fxs = Fixtures.bodyFixtureNames.map(Fixtures.loadBody)
    val turns = fxs.map(fx => (fx.name, 0, "user", fx.sourceText, null: String,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

    val feats = Features.body(Structure.tokens(turns))
      .select("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
    // FSM line hint + per-token position for gold alignment
    val pred = Labeler.bodyLabels(feats)
      .withColumn("unit_idx", row_number().over(Window.partitionBy("conv_id")
        .orderBy("turn_idx", "line_in_turn", "tok_idx")).cast("long") - 1)
      .select("conv_id", "line_in_turn", "unit_idx", "label")
      .collect()

    val gold = fxs.flatMap(fx => fx.goldLabels.zipWithIndex.map {
      case (l, i) => (fx.name, i.toLong) -> l.stripPrefix("I-")
    }).toMap
    def base(l: String) = l.stripPrefix("I-")

    // line-level frame: majority gold label + majority FSM hint per line
    val byLine = pred.groupBy(r => (r.getString(0), r.getInt(1))).map {
      case ((conv, line), rows) =>
        def majority(xs: Seq[String]) = xs.groupBy(identity).maxBy(_._2.size)._1
        val g = majority(rows.toSeq.map(r => gold((conv, r.getLong(2)))))
        val h = majority(rows.toSeq.map(r => base(r.getString(3))))
        (conv, line, g, h)
    }.toSeq
    val srcLines = fxs.map(fx => fx.name -> fx.sourceText.split("\n", -1)).toMap
    val lineDf = byLine.map { case (conv, line, g, h) =>
      (conv, 0, line, srcLines(conv)(line), g, h)
    }.toDF("conv_id", "turn_idx", "line_in_turn", "line", "zone", "hint")

    // deterministic doc split: every 4th doc (sorted) held out -> 10 train / 4 eval
    val evalDocs = fxs.map(_.name).sorted.zipWithIndex
      .collect { case (n, i) if i % 4 == 0 => n }.toSet
    info(s"eval docs: $evalDocs")
    val model = ZoneModel.train(lineDf.where(!col("conv_id").isin(evalDocs.toSeq: _*)))
    val out = ZoneModel.apply(lineDf.where(col("conv_id").isin(evalDocs.toSeq: _*)), model)
      .select("zone", "hint", "zone_pred").as[(String, String, String)].collect()

    val n = out.length
    val accModel = out.count(p => p._1 == p._3).toDouble / n
    val accHint = out.count(p => p._1 == p._2).toDouble / n
    info(f"held-out lines: $n; model accuracy ${accModel * 100}%.2f%% vs FSM hint ${accHint * 100}%.2f%%")
    // the trained model must at least hold the FSM's level (within noise on
    // a 3-doc eval split)
    assert(accModel >= accHint - 0.02,
      f"trained body model fell below the FSM: ${accModel * 100}%.1f%% vs ${accHint * 100}%.1f%%")
    assert(accModel >= 0.90)
  }
}
