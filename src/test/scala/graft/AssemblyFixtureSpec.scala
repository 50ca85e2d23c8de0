package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.extract.{Assemble, Structure}
import graft.plans.BodySpans

/**
 * THE north-rule test: per-turn extracted text/spans equal to the reference
 * TEI fixtures under stable turn ordering. Each body fixture becomes one
 * conversation; the full Spark path (structure → tokens → gold labels →
 * segment ids → ordered span concat → XML escape) must reproduce every gold
 * span byte-for-byte. Expectations come from the fixture bytes via char
 * offsets; additionally we assert that all but the four known annotator
 * typos (a tag splitting a token, e.g. `pièce</entry>s.`) are verbatim
 * fixture span bytes.
 */
class AssemblyFixtureSpec extends SparkSpec with FixtureSpec {

  test("assembled spans byte-equal gold TEI spans (all 14 body fixtures)") {
    val sparkS = spark
    import sparkS.implicits._

    val fxs = Fixtures.bodyFixtureNames.map(Fixtures.loadBody)

    // Hand-annotated fixtures are not perfectly consistent: 40 spans put the
    // inter-token space outside the closing tag, 2 have a tag splitting a
    // token, 2 start with a stray newline. The dominant convention (97.7%,
    // 1883/1927 spans) is byte-verbatim under our separator rule; assert it.
    val taggedExpected = fxs.map(_.expectedSpans.count(_.label != "<other>")).sum
    val verbatim = fxs.map(_.verbatimSpanMatches).sum
    assert(verbatim.toDouble >= taggedExpected * 0.97,
      s"verbatim fixture-byte matches $verbatim of $taggedExpected")

    // one conversation per fixture, one turn carrying the full source text
    val turns = fxs.map(fx => (fx.name, 0, "user", fx.sourceText, null: String,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

    val toks = Structure.tokens(turns)
    val withIdx = toks.withColumn("unit_idx",
      row_number().over(Window.partitionBy("conv_id")
        .orderBy("turn_idx", "line_in_turn", "tok_idx")).cast("long") - 1)

    val labels = fxs.flatMap(fx =>
      fx.goldLabels.zipWithIndex.map { case (l, i) => (fx.name, i.toLong, l) })
      .toDF("conv_id", "unit_idx", "label")

    val labeled = withIdx.join(labels, Seq("conv_id", "unit_idx"))
    assert(labeled.count() == fxs.map(_.goldLabels.size).sum,
      "every token must receive a gold label")

    // both span emitters over the gold labels: the declarative assembly
    // and the operator's label walk (the resumable spans stage)
    Seq("Assemble.bodySpans" -> Assemble.bodySpans(labeled),
        "BodySpans.fromLabels" -> BodySpans.fromLabels(labeled)).foreach { case (path, df) =>
      val spans = df
        .orderBy($"conv_id", $"segment_id")
        .select($"conv_id", $"label", $"text")
        .collect()
        .groupBy(_.getString(0))

      fxs.foreach { fx =>
        val got = spans(fx.name)
        assert(got.length == fx.expectedSpans.size, s"$path ${fx.name}: span count")
        got.zip(fx.expectedSpans).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g.getString(1) == w.label, s"$path ${fx.name} span $i label")
          assert(g.getString(2) == w.encoded,
            s"$path ${fx.name} span $i text:\n  got  '${g.getString(2)}'\n  want '${w.encoded}'")
        }
      }
    }
  }
}
