package graft

import org.apache.spark.sql.functions._
import graft.extract.Features

/**
 * Segmenter (line-level, 33-col) feature pipeline vs the 416-document gold
 * corpus: every text-derivable column must match the fixture bytes through
 * the Spark window pipeline — token, secondToken, lowercase, prefixes,
 * blockStatus, capitalisation, digit, singleChar, properName/commonName/
 * firstName lexicon flags, year/month/email/http flags, punctuationProfile
 * + count (20 of 33 columns; the rest encode PDF geometry/fonts/pages the
 * transcripts graft redefines).
 */
class SegFeatureFixtureSpec extends SparkSpec with FixtureSpec {

  private val checkedCols =
    Seq(0, 1, 2, 3, 4, 5, 6, 7, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22, 25, 26)

  test("segmenter feature columns match fixtures (Spark pipeline, full corpus)") {
    val sparkS = spark
    import sparkS.implicits._

    var skipped = 0
    val rows = Fixtures.segFixtureNames.flatMap { name =>
      val fx = try Fixtures.loadSeg(name) catch { case _: Throwable => skipped += 1; null }
      if (fx == null || fx.lines.size != fx.rawRows.size ||
        fx.lines.zip(fx.rawRows).exists { case (l, r) =>
          graft.text.Tok.whitespaceSplit(l.text).headOption
            .map(_.replaceAll("[ \n\r]", "")).getOrElse("") != r(0)
        }) {
        if (fx != null) skipped += 1
        Seq.empty
      } else {
        var block = -1
        fx.lines.zip(fx.rawRows).zipWithIndex.map { case ((l, raw), i) =>
          if (raw(7) == "BLOCKSTART") block += 1
          (name, 0, "user", null: String, block, i, l.text)
        }
      }
    }
    assert(skipped <= 16, s"too many unalignable fixtures: $skipped")
    assert(rows.size > 700000, s"fixture row coverage too small: ${rows.size}")

    val linesDf = rows.toDF("conv_id", "turn_idx", "role", "tool",
      "block_idx", "line_in_turn", "line")
      .withColumn("line_idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("conv_id", "block_idx").orderBy("line_in_turn")) - 1)

    val got = Features.withLexicon(Features.segmenter(linesDf))
      .withColumn("vec", Features.segmenterVector(null))
      .select($"conv_id", $"line_in_turn", $"vec")
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, v) => k -> v.sortBy(_.getInt(1)).map(_.getString(2).split(" ")) }

    var checked = 0L
    var mismatches = 0L
    Fixtures.segFixtureNames.foreach { name =>
      got.get(name).foreach { gotRows =>
        val fx = Fixtures.loadSeg(name)
        assert(gotRows.length == fx.rawRows.size, name)
        gotRows.zip(fx.rawRows).zipWithIndex.foreach { case ((g, w), i) =>
          checkedCols.foreach { c =>
            checked += 1
            if (g(c) != w(c)) {
              mismatches += 1
              if (mismatches <= 5)
                info(s"$name row $i col $c: got '${g(c)}' want '${w(c)}' (tok=${w(0)})")
            }
          }
        }
      }
    }
    info(s"checked $checked cells across ${got.size} docs, $mismatches mismatches")
    assert(checked > 12000000L, s"coverage too small: $checked")
    // a handful of lines carry annotator drift (TEI text edited after the
    // raw features were generated); everything else must be byte-exact
    assert(mismatches <= 20, s"$mismatches mismatching cells of $checked")
  }
}
