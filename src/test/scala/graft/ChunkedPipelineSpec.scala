package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Features, Labeler, Pipeline, Structure, Synthetic}

/**
 * The giant-conversation extraction path ([[Pipeline.extractChunked]]) must
 * be row-identical to the flagship single-exchange path
 * ([[Pipeline.extract]]) on every input. The stage differentials
 * (StructureChunkedSpec, ChunkedFeaturesSpec, ChunkedLabelerSpec) pin each
 * twin; this spec pins the COMPOSITION — zone selection with cross-chunk
 * repetitive counting, tokenizer stitch, parallel FSM, and span assembly
 * whose spans straddle chunk boundaries — end to end — and that the
 * flagship's zone selection over [[Features.repetitive]] keeps the body
 * lines the zone rules keep over the full [[Features.segmenter]].
 */
class ChunkedPipelineSpec extends SparkSpec {

  private def turnsDf(rows: Seq[(String, Int, String, String, String)]): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    rows.map { case (conv, idx, role, text, tool) =>
      (conv, idx, role, text, tool,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** The adversarial documents (NULL, empty, whitespace-only and
   * NBSP-padded text, CJK, emoji, `\r`/`\t` noise, 20k-char lines) as
   * transcripts. */
  private def adversarial: DataFrame = Structure.transcriptsFromDocuments(
    spark.read.option("multiLine", "true").json("tools/adversarial_docs.json"))

  private def assertIdentical(turns: DataFrame, chunkTurns: Int): Unit = {
    val ord = Seq(col("conv_id"), col("segment_id"))
    val seqRows = Pipeline.extract(turns).orderBy(ord: _*).collect().toSeq
    val chkRows = Pipeline.extractChunked(turns, chunkTurns)
      .orderBy(ord: _*).collect().toSeq
    assert(seqRows.nonEmpty, "differential input produced no spans")
    assert(chkRows == seqRows,
      s"chunked (${chkRows.size} spans) != sequential (${seqRows.size} spans) at chunkTurns=$chunkTurns")
  }

  test("synthetic corpus: chunked == sequential at tiny chunk sizes") {
    Seq(1, 3, 16).foreach(c =>
      assertIdentical(Synthetic.transcripts(spark, 30), chunkTurns = c))
  }

  test("adversarial documents: chunked == sequential") {
    Seq(1, 4).foreach(c => assertIdentical(adversarial, chunkTurns = c))
  }

  test("zones over repetitive keep the body rows of zones over the segmenter") {
    Seq(Synthetic.transcripts(spark, 40), adversarial).foreach { turns =>
      val lines = Structure.keptLines(turns)
      val narrow = Labeler.zones(Features.repetitive(lines))
      def body(zoned: DataFrame) = zoned.where(col("zone") === "<body>")
        .select(narrow.columns.map(col): _*)
        .orderBy("conv_id", "turn_idx", "line_in_turn").collect().toSeq
      val got = body(narrow)
      assert(got.nonEmpty)
      assert(got == body(Labeler.zones(Features.segmenter(lines))))
    }
  }

  test("chunk larger than every conversation degenerates to the sequential result") {
    assertIdentical(Synthetic.transcripts(spark, 10), chunkTurns = 1000000)
  }

  test("repetitive boilerplate counted across chunks is still dropped") {
    // the same long header pattern opens turns 0, 5 and 10 — at chunkTurns=4
    // every copy sits in a DIFFERENT chunk, so dropping them requires the
    // two-level (conv, pattern) count, not a within-chunk one
    val header = "SESSION TRANSCRIPT HEADER LINE"
    val words = Seq("amphore", "cratere", "lecythe", "kylix", "oenochoe",
      "pelike", "skyphos", "hydrie", "canthare", "alabastre", "aryballe",
      "lebes")
    val rows = (0 until 12).map { t =>
      val entry = s"${t + 1}. ${words(t).capitalize} a decor ${"varie" * (t % 3 + 1)}"
      val text = if (t % 5 == 0) s"$header\n$entry" else entry
      ("c", t, "user", text, null: String)
    }
    Seq(4, 2).foreach(c => assertIdentical(turnsDf(rows), c))
  }

  test("system and tool turns excluded identically around chunk boundaries") {
    val rows = Seq(
      ("c", 0, "system", "regles de la conversation", null),
      ("c", 1, "user", "12. Amphore grecque a figures noires", null),
      ("c", 2, "tool", "resultats: lot 12 estime", "search"),
      ("c", 3, "assistant", "13. Cratere corinthien  \n  suite de la notice", null),
      ("c", 4, "user", "14. Lecythe attique", null),
      ("c", 5, "system", "fin de session", null))
    Seq(1, 2, 3).foreach(c => assertIdentical(turnsDf(rows), c))
  }

  test("turn gaps leaving whole chunks absent") {
    val rows = Seq(
      ("c", 0, "user", "1. Premier lot decrit ici", null),
      ("c", 200, "user", "2. Deuxieme lot apres un long trou\n  ligne indentee", null),
      ("c", 201, "user", "3. Troisieme lot adjacent", null),
      ("c", 500, "user", "4. Dernier lot", null))
    Seq(2, 16).foreach(c => assertIdentical(turnsDf(rows), c))
  }

  test("spans straddling a chunk boundary merge into one row") {
    // one entry's continuation lines flow into the next turn/chunk: the
    // chunked span groupBy must emit ONE span with the stitched text
    val rows = Seq(
      ("c", 0, "user", "7. Grand vase antique orne", null),
      ("c", 1, "user", "de scenes mythologiques, anses doubles", null),
      ("c", 2, "user", "8. Coupe a vernis noir", null))
    Seq(1, 2).foreach(c => assertIdentical(turnsDf(rows), c))
  }

  test("XML-special and unicode text identical across the boundary stitch") {
    val rows = Seq(
      ("c", 0, "user", "1. Vase <rare> & «précieux» orné", null),
      ("c", 1, "user", "suite \"citée\" de l'entrée • ici", null),
      ("c", 2, "user", "2. Coupe 漢字 🏺 finale", null))
    Seq(1, 2).foreach(c => assertIdentical(turnsDf(rows), c))
  }

  test("property: random corpora agree end-to-end at random chunk sizes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("vase", "bronze", "gravure", "Monnaie", "ancien",
      "grand", "doré", "pièce", "médaille", "rare")
    val text: Gen[String] = Gen.frequency(
      (5, for { n <- Gen.choose(1, 999); ws <- Gen.listOfN(3, word) }
        yield s"$n - ${ws.mkString(" ")} ."),
      (2, Gen.listOfN(4, word).map(_.mkString(" ") + " .")),
      (1, Gen.oneOf("MONNAIES GRECQUES", "OBJETS D'ART")),
      (1, for { a <- word; b <- word } yield s"$a\n  $b  \n\n$b"), // multi-line + blanks + trailing ws
      (1, Gen.oneOf("Syracuse .", "AR .", "T . B .")),
      (1, Gen.choose(1, 400).map(_.toString)))
    val role = Gen.frequency((6, Gen.const("user")), (2, Gen.const("assistant")),
      (1, Gen.const("system")), (1, Gen.const("tool")))
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1 to 4).foreach { i =>
      val nConvs = 1 + sample(Gen.choose(0, 2), 5000L + i)
      val rows = (0 until nConvs).flatMap { c =>
        val nTurns = sample(Gen.choose(5, 30), 6000L + i * 31 + c)
        val gap = 1 + sample(Gen.choose(0, 3), 6500L + i * 17 + c) // turn-idx gaps
        (0 until nTurns).map { t =>
          val r = sample(role, i * 7919L + c * 131L + t)
          (s"conv$c", t * gap, r,
            sample(text, i * 100003L + c * 977L + t),
            if (r == "tool") "search" else null)
        }
      }
      val chunk = 1 + sample(Gen.choose(0, 8), 7000L + i)
      assertIdentical(turnsDf(rows), chunk)
    }
  }

  test("an NBSP-only line is a body line in both paths") {
    // the segmenter splits on ASCII whitespace only: the line's first token
    // is the NBSP, so the line is kept (it yields no body token); dropping
    // it would turn the line gap into a blank line in the span text
    val rows = Seq(
      ("c", 0, "user", "1. Vase ancien en porcelaine\n\u00a0\nde Chine, XVIIIe siecle", null))
    assertIdentical(turnsDf(rows), 1)
  }

  test("null-role document-shaped rows fall through to <body> in both paths") {
    val rows = Seq(
      ("d", 0, null: String, "9. Statuette en bronze", null),
      ("d", 1, null: String, "10. Tete en marbre blanc", null))
    assertIdentical(turnsDf(rows), 1)
  }
}
