package graft

import org.apache.spark.sql.functions._
import graft.extract.ZoneModel

/**
 * The Spark-native trained zone labeler, evaluated exactly like the
 * reference's trainer protocol (E3: seeded doc-level train/eval split,
 * held-out accuracy — `DatacatSegmenterTrainer.java:202-212` splits by
 * document; theirs is unseeded Math.random, ours is a seeded hash). The
 * reference's best archived segmenter CRF reaches 89.58 line accuracy /
 * 69.51 micro-F1 on its split after 6,781 s of native L-BFGS; this model
 * trains in seconds as two DataFrame aggregations.
 */
class ZoneModelSpec extends SparkSpec with FixtureSpec {

  test("held-out zone accuracy of the distributed-trained model") {
    val sparkS = spark
    import sparkS.implicits._

    val fxs = Fixtures.segFixtureNames
      .filter(n => java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${Fixtures.segTei}/$n.training.datacat.tei.xml")))
      .map(Fixtures.loadSeg)
    // seeded doc-level 80/20 split (K4 analog)
    val (trainFx, evalFx) = fxs.partition(fx =>
      math.abs(scala.util.hashing.MurmurHash3.stringHash(fx.name, 42)) % 5 != 0)
    info(s"train docs: ${trainFx.size}, eval docs: ${evalFx.size}")

    def toDf(fs: Seq[Fixtures.SegFixture]) = {
      val base = fs.flatMap { fx =>
        fx.lines.zipWithIndex.map { case (l, i) =>
          (fx.name, i, 0, l.text, l.label.stripPrefix("I-"))
        }
      }.toDF("conv_id", "turn_idx", "line_in_turn", "line", "gold")
      // stacked input: the heuristic labeler's zone rides along as `hint`
      graft.extract.Labeler.zonesContent(base)
        .withColumnRenamed("zone", "hint").drop("zone_label")
        .withColumnRenamed("gold", "zone")
    }

    val model = ZoneModel.train(toDf(trainFx))
    info(s"model vocab: ${model.weights.count()} features, labels: ${model.labels}")
    val hintAcc = toDf(evalFx).where(col("hint") === col("zone")).count().toDouble /
      toDf(evalFx).count()
    info(f"heuristic hint accuracy on eval split: ${hintAcc * 100}%.2f%%")

    // smoothing the per-line scores over +/-2 lines stands in for the
    // CRF's sequential coupling
    val pred = ZoneModel.apply(toDf(evalFx), model, smooth = 2)
      .select("zone", "zone_pred").as[(String, String)].collect()
    val n = pred.length
    val acc = pred.count(p => p._1 == p._2).toDouble / n

    def f1Of(l: String): Double = {
      val tp = pred.count(p => p._1 == l && p._2 == l).toDouble
      val fp = pred.count(p => p._1 != l && p._2 == l).toDouble
      val fn = pred.count(p => p._1 == l && p._2 != l).toDouble
      val prec = if (tp + fp > 0) tp / (tp + fp) else 0.0
      val rec = if (tp + fn > 0) tp / (tp + fn) else 0.0
      val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
      info(f"$l%-10s P=${prec * 100}%5.1f R=${rec * 100}%5.1f F1=${f1 * 100}%5.1f  n=${(tp + fn).toInt}")
      f1
    }
    val f1s = pred.map(_._1).distinct.sorted.map(l => l -> f1Of(l)).toMap
    info(f"held-out line accuracy: ${acc * 100}%.2f%% over $n lines, ${evalFx.size} docs")
    // measured round-1: 96.81% held-out with smoothing (hint alone: 93.79%;
    // reference CRF on its own split: 89.58)
    // round-2 measured level: 96.90% held-out (round 1: 96.81); front F1 77.1
    // — floors raised in round 3 now that the trained model SHIPS as the
    // document-mode stage-1 default
    assert(acc >= 0.96, f"trained zone model regressed: ${acc * 100}%.1f%%")
    assert(f1s.getOrElse("<front>", 0.0) >= 0.72,
      f"front F1 regressed: ${f1s.getOrElse("<front>", 0.0) * 100}%.1f")
  }

  test("shipped artifact loads and reproduces trained-model quality") {
    val sparkS = spark
    import sparkS.implicits._
    val model = graft.extract.ZoneModelArtifact.load(spark)
      .getOrElse(fail("zone model artifact missing from resources"))
    assert(model.labels.contains("<body>") && model.labels.contains("<front>"))
    assert(model.weights.count() > 10000, "artifact vocabulary suspiciously small")

    // resubstitution sanity over a sample of gold docs (the artifact trains
    // on ALL docs by design — held-out quality is the split test above;
    // this catches serialization/parse corruption, which collapses accuracy)
    val fxs = Fixtures.segFixtureNames
      .filter(n => java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${Fixtures.segTei}/$n.training.datacat.tei.xml")))
      .take(60).map(Fixtures.loadSeg)
    val base = fxs.flatMap { fx =>
      fx.lines.zipWithIndex.map { case (l, i) =>
        (fx.name, i, 0, l.text, l.label.stripPrefix("I-"))
      }
    }.toDF("conv_id", "turn_idx", "line_in_turn", "line", "gold")
    val df = graft.extract.Labeler.zonesContent(base)
      .withColumnRenamed("zone", "hint").drop("zone_label")
      .withColumnRenamed("gold", "zone")
    val pred = ZoneModel.apply(df, model)
      .select("zone", "zone_pred").as[(String, String)].collect()
    val acc = pred.count(p => p._1 == p._2).toDouble / pred.length
    info(f"artifact resubstitution accuracy (60 docs, smooth=0): ${acc * 100}%.2f%%")
    assert(acc >= 0.93, f"artifact-model accuracy collapsed: ${acc * 100}%.1f%%")
  }
}
