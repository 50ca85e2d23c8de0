package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.extract.{Features, Labeler, Structure}

/**
 * FSM labeler quality vs the gold fixtures — the analog of the reference's
 * CRF eval reports (best archived body-segmentation micro-F1 85.84,
 * `prev_models/bienaime_naville/eval.txt`). Our deterministic heuristic FSM
 * is measured on the same 14 gold documents; the floor asserted here is the
 * measured round-1 level so regressions fail loudly.
 */
class LabelerEvalSpec extends SparkSpec with FixtureSpec {

  test("FSM token-label agreement vs gold on all body fixtures") {
    val sparkS = spark
    import sparkS.implicits._

    val fxs = Fixtures.bodyFixtureNames.map(Fixtures.loadBody)
    val turns = fxs.map(fx => (fx.name, 0, "user", fx.sourceText, null: String,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

    val feats = Features.body(Structure.tokens(turns))
      .select("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
    val predicted = Labeler.bodyLabels(feats)
      .withColumn("unit_idx", row_number().over(Window.partitionBy("conv_id")
        .orderBy("turn_idx", "line_in_turn", "tok_idx")).cast("long") - 1)
      .select("conv_id", "unit_idx", "label")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap

    val gold = fxs.flatMap(fx =>
      fx.goldLabels.zipWithIndex.map { case (l, i) => (fx.name, i.toLong) -> l }).toMap
    assert(predicted.keySet == gold.keySet, "token universes must align")

    def base(l: String) = l.stripPrefix("I-")
    val pairs = gold.toSeq.map { case (k, g) => (base(g), base(predicted(k))) }
    val n = pairs.size
    val acc = pairs.count(p => p._1 == p._2).toDouble / n

    val labels = pairs.map(_._1).distinct.sorted
    def prf(l: String): (Double, Double, Double, Int) = {
      val tp = pairs.count(p => p._1 == l && p._2 == l).toDouble
      val fp = pairs.count(p => p._1 != l && p._2 == l).toDouble
      val fn = pairs.count(p => p._1 == l && p._2 != l).toDouble
      val p = if (tp + fp > 0) tp / (tp + fp) else 0.0
      val r = if (tp + fn > 0) tp / (tp + fn) else 0.0
      val f1 = if (p + r > 0) 2 * p * r / (p + r) else 0.0
      (p, r, f1, (tp + fn).toInt)
    }
    def f1Of(l: String): Double = prf(l)._3
    val report = labels.map { l =>
      val (p, r, f1, nl) = prf(l)
      f"$l%-12s P=${p * 100}%5.1f R=${r * 100}%5.1f F1=${f1 * 100}%5.1f  n=$nl"
    }
    info(f"token accuracy: ${acc * 100}%.2f%% over $n tokens, ${fxs.size} docs")
    report.foreach(info(_))

    // floors = measured round-2 levels (acc 99.37, title F1 95.2 via the
    // one-line-lookahead heading rules, entry F1 99.7) minus slack; the
    // reference's own CRF scores 85.8 micro-F1 on held-out docs (different
    // split, upper bound).
    // Round-3 NEGATIVE RESULT on pushing title F1 past ~95 (VERDICT item
    // 7): the residual title confusions split into (a) OCR coin-legend
    // garble predicted <title> ("BPETTIQN .", "VATRIX GALLIAE .",
    // "HAECTIBI") — all-caps junk indistinguishable from headings without
    // a word lexicon; (b) short init-cap name lines whose role flips with
    // DOCUMENT-level context ("Sicyon ." = section heading in a coin
    // catalogue, "Aquarelle ." = medium line closing an entry in a
    // drawings catalogue — identical shape, opposite labels; this is the
    // CRF window-50 advantage a 2-line FSM state cannot see); and (c)
    // cross-document annotation inconsistency (geo headings
    // "SAMNIUM . - Aesernia ." are gold <entry> in one doc and the same
    // shape gold <title> in another; <titledesc> has n=15 total). Each
    // class trades precision for recall under any line-shape rule — the
    // measured error sample was ~1/3 each, so the heuristic plateau is
    // ~95-96 title F1 on this corpus.
    assert(acc >= 0.98, f"labeler accuracy regressed: ${acc * 100}%.1f%%")
    assert(f1Of("<title>") >= 0.93,
      f"title F1 regressed: ${f1Of("<title>") * 100}%.1f")
    assert(f1Of("<entry>") >= 0.99,
      f"entry F1 regressed: ${f1Of("<entry>") * 100}%.1f")

    // SPAN SEGMENTATION agreement (BIO span starts, the boundary the
    // reference's one-tag-per-lot TEI encodes): predicted I-<entry> marks
    // vs gold I-<entry> marks. Before round 3 the FSM opened spans only on
    // label CHANGE, merging back-to-back lots into one span — measured
    // start recall was near the per-doc lot-run rate; the isEntry start
    // rule closes it.
    val bioPairs = gold.toSeq.map { case (k, g) => (g, predicted(k)) }
    val sTp = bioPairs.count(p => p._1 == "I-<entry>" && p._2 == "I-<entry>").toDouble
    val sFp = bioPairs.count(p => p._1 != "I-<entry>" && p._2 == "I-<entry>").toDouble
    val sFn = bioPairs.count(p => p._1 == "I-<entry>" && p._2 != "I-<entry>").toDouble
    val sP = if (sTp + sFp > 0) sTp / (sTp + sFp) else 0.0
    val sR = if (sTp + sFn > 0) sTp / (sTp + sFn) else 0.0
    val sF1 = if (sP + sR > 0) 2 * sP * sR / (sP + sR) else 0.0
    info(f"entry span-start: P=${sP * 100}%5.1f R=${sR * 100}%5.1f F1=${sF1 * 100}%5.1f  n=${(sTp + sFn).toInt}")
    assert(sF1 >= 0.95, f"entry span-start F1 regressed: ${sF1 * 100}%.1f")
  }
}
