package graft

import org.apache.spark.sql.functions._
import graft.extract.Labeler

/**
 * Content-based zone labeler quality vs the full 418-doc segmenter gold
 * corpus — the analog of the reference's segmenter CRF eval (best archived:
 * micro-F1 69.51, line accuracy 89.58, `prev_models/new_features/
 * bienaime_bourgey_1/eval.txt`). Asserts the measured round-1 floor so
 * regressions fail loudly.
 */
class ZoneEvalSpec extends SparkSpec with FixtureSpec {

  test("zonesContent line-label agreement vs gold on all segmenter fixtures") {
    val sparkS = spark
    import sparkS.implicits._

    val fxs = Fixtures.segFixtureNames
      .filter(n => java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${Fixtures.segTei}/$n.training.datacat.tei.xml")))
      .map(Fixtures.loadSeg)
    val lines = fxs.flatMap { fx =>
      fx.lines.zipWithIndex.map { case (l, i) => (fx.name, i, 0, l.text) }
    }.toDF("conv_id", "turn_idx", "line_in_turn", "line")

    val predicted = Labeler.zonesContent(lines)
      .select("conv_id", "turn_idx", "zone")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap

    val gold = fxs.flatMap(fx => fx.lines.zipWithIndex.map { case (l, i) =>
      (fx.name, i) -> l.label.stripPrefix("I-")
    }).toMap
    assert(predicted.keySet == gold.keySet, "line universes must align")

    val pairs = gold.toSeq.map { case (k, g) => (g, predicted(k)) }
    val n = pairs.size
    val acc = pairs.count(p => p._1 == p._2).toDouble / n

    val labels = pairs.map(_._1).distinct.sorted
    var (sumF1, nLab) = (0.0, 0)
    val report = labels.map { l =>
      val tp = pairs.count(p => p._1 == l && p._2 == l).toDouble
      val fp = pairs.count(p => p._1 != l && p._2 == l).toDouble
      val fn = pairs.count(p => p._1 == l && p._2 != l).toDouble
      val p = if (tp + fp > 0) tp / (tp + fp) else 0.0
      val r = if (tp + fn > 0) tp / (tp + fn) else 0.0
      val f1 = if (p + r > 0) 2 * p * r / (p + r) else 0.0
      sumF1 += f1; nLab += 1
      f"$l%-10s P=${p * 100}%5.1f R=${r * 100}%5.1f F1=${f1 * 100}%5.1f  n=${(tp + fn).toInt}"
    }
    info(f"line accuracy: ${acc * 100}%.2f%% over $n lines, ${fxs.size} docs; " +
      f"macro-F1 ${sumF1 / nLab * 100}%.2f")
    report.foreach(info(_))

    // round-2 measured level: 94.06% (round 1: 92.62) — the sequential-
    // marker region rule and front-first repetitive ordering added +0.8
    assert(acc >= 0.92, f"zone labeler accuracy regressed: ${acc * 100}%.1f%%")
  }

  test("zonesContent is invariant to input row order") {
    val sparkS = spark
    import sparkS.implicits._
    val fx = Fixtures.loadSeg(Fixtures.segFixtureNames.head)
    val rows = fx.lines.zipWithIndex.map { case (l, i) => ("c0", i, 0, l.text) }
    def run(rs: Seq[(String, Int, Int, String)]) =
      Labeler.zonesContent(rs.toDF("conv_id", "turn_idx", "line_in_turn", "line"))
        .select("turn_idx", "zone", "zone_label")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
    val shuffled = new scala.util.Random(42).shuffle(rows)
    assert(run(rows) == run(shuffled))
  }
}
