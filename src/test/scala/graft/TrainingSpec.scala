package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{TeiGold, Training}

/** S4/S5/J1/K4: gold-TEI source, trainer alignment, train/eval sink. */
class TrainingSpec extends SparkSpec with FixtureSpec {

  test("TeiGold body labels equal the fixture-derived gold labels") {
    Fixtures.bodyFixtureNames.foreach { name =>
      val fx = Fixtures.loadBody(name)
      val tei = Fixtures.read(
        s"${Fixtures.bodyTei}/$name.training.bodySegmentation.datacat.text.tei.xml")
      val got = TeiGold.bodyTokenLabels(tei)
      assert(got.size == fx.goldLabels.size, name)
      assert(got.map(_._2) == fx.goldLabels, name)
      assert(got.map(_._1) == fx.rawRows.map(_.head), name)
    }
  }

  test("J1 alignment tags every raw fixture row with its gold label") {
    val name = Fixtures.bodyFixtureNames.head
    val fx = Fixtures.loadBody(name)
    val rawLines = fx.rawRows.map(_.mkString(" "))
    val labeled = fx.rawRows.map(_.head).zip(fx.goldLabels)
    val res = Training.alignDoc(rawLines, labeled)
    assert(!res.dropped)
    assert(res.rows.size == rawLines.size)
    res.rows.zip(fx.goldLabels).foreach { case (row, lab) =>
      assert(row.endsWith(" " + lab))
    }
  }

  test("J1 carries the previous tag across a desync and drops broken docs") {
    val raw = (1 to 30).map(i => s"tok$i F1 F2")
    // gold stream missing tok11..tok17 => desync at tok11, resync at tok18
    val gold = ((1 to 10) ++ (18 to 30)).map(i => (s"tok$i", if (i <= 10) "<a>" else "<b>"))
    val res = Training.alignDoc(raw, gold.toIndexedSeq)
    assert(!res.dropped)
    val tags = res.rows.map(_.split(" ").last)
    assert(tags.take(10).forall(_ == "<a>"), "matched prefix keeps gold tags")
    assert(tags.drop(10).take(1).forall(_ == "<a>"), "desync carries previous tag")
    assert(tags.last == "<b>", "resynchronized tail uses gold tags")

    // a document that never matches anything gets dropped (>=10 failures)
    val junk = (1 to 40).map(i => s"x$i F")
    val res2 = Training.alignDoc(junk, Vector.fill(40)(("zzz", "<a>")))
    assert(res2.dropped)
  }

  test("align + writeTrainEval produce blank-line-separated seeded splits") {
    val sparkS = spark
    import sparkS.implicits._
    val fxs = Fixtures.bodyFixtureNames.take(6).map(Fixtures.loadBody)
    val raw = fxs.flatMap(fx => fx.rawRows.zipWithIndex.map { case (r, i) =>
      (fx.name, i, r.mkString(" ")) }).toDF("doc_id", "row_idx", "line")
    val gold = fxs.flatMap(fx => fx.rawRows.map(_.head).zip(fx.goldLabels)
      .zipWithIndex.map { case ((t, l), i) => (fx.name, i.toLong, t, l) })
      .toDF("doc_id", "unit_idx", "token", "label")
    val aligned = Training.align(raw, gold)
    assert(aligned.count() == fxs.map(_.rawRows.size).sum)

    val dir = Files.createTempDirectory("graft-train").toString
    Training.writeTrainEval(aligned, s"$dir/train", s"$dir/eval", 0.7, seed = 42)
    val train = spark.read.text(s"$dir/train").count()
    val eval = spark.read.text(s"$dir/eval").count()
    assert(train + eval > 0)
    // deterministic: same seed -> same split
    Training.writeTrainEval(aligned, s"$dir/train2", s"$dir/eval2", 0.7, seed = 42)
    assert(spark.read.text(s"$dir/train2").count() == train)
  }
}
