package graft

import org.apache.spark.sql.functions._
import graft.extract.Features
import graft.text.Tok

/**
 * Recomputes the body model's feature columns through the Spark pipeline
 * (Features.body window expressions) over the fixture token streams, given
 * the fixture block structure, and asserts equality with the raw fixture
 * bytes for every text-derivable column: token, lowercase, prefixes,
 * suffixes, blockStatus, lineStatus, capitalisation, digit, singleChar,
 * punctType — 16 of the 24 columns, all 32,335 rows of all 14 files.
 * (Remaining 8 columns encode PDF geometry/fonts the transcripts graft
 * redefines: alignment, font, bold/italic, positions, bitmap.)
 */
class BodyFeatureFixtureSpec extends SparkSpec with FixtureSpec {

  // column index in the 24-col fixture row -> index in our serialized vector
  // (identical layout, FeaturesVectorDatacatEntries.printVector order)
  private val checkedCols = Seq(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 17, 18, 19, 20)

  test("body feature columns match fixtures through the Spark window pipeline") {
    val sparkS = spark
    import sparkS.implicits._

    val rows = Fixtures.bodyFixtureNames.flatMap { name =>
      val fx = Fixtures.loadBody(name)
      val toks = Tok.tokenize(fx.sourceText)
      assert(toks.size == fx.rawRows.size)
      // block ids from the fixture's BLOCKSTART column (col 10); line ids from
      // newline-before / block change — the structure Features.body consumes
      var block = -1; var line = -1; var prevBlock = -1
      toks.zip(fx.rawRows).zipWithIndex.map { case ((t, raw), i) =>
        if (raw(10) == "BLOCKSTART") block += 1
        if (t.sepBefore.contains("\n") || i == 0 || block != prevBlock) line += 1
        prevBlock = block
        (name, 0, "user", null: String, block, line, i, t.text, t.sepBefore, "")
      }
    }
    val tokensDf = rows.toDF("conv_id", "turn_idx", "role", "tool",
      "block_idx", "line_in_turn", "tok_idx", "tok", "sep_before", "line_trailing")

    val vec = Features.bodyVector(null)
    val got = Features.body(tokensDf)
      .withColumn("vec", vec)
      .select($"conv_id", $"tok_idx", $"line_in_turn", $"vec")
      .orderBy($"conv_id", $"line_in_turn", $"tok_idx")
      .collect()
      .groupBy(_.getString(0))

    Fixtures.bodyFixtureNames.foreach { name =>
      val fx = Fixtures.loadBody(name)
      val gotRows = got(name).map(_.getString(3).split(" "))
      assert(gotRows.length == fx.rawRows.size, name)
      gotRows.zip(fx.rawRows).zipWithIndex.foreach { case ((g, w), i) =>
        checkedCols.foreach { c =>
          assert(g(c) == w(c),
            s"$name row $i col $c: got '${g(c)}' want '${w(c)}' (tok=${w(0)})")
        }
      }
    }
  }
}
