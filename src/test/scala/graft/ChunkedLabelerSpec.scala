package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.extract.{Assemble, Features, Labeler, Pipeline, Structure, Synthetic}

/**
 * The chunk-parallel body labeler (parallel-FSM prefix composition,
 * [[Labeler.bodyLabelsChunked]]) must be row-identical to the sequential
 * FSM ([[Labeler.bodyLabels]]) on every input — including the adversarial
 * shapes: state propagating through anchor-free chunks, heading runs and
 * lookahead crossing chunk boundaries, and turn gaps that leave whole
 * chunks empty.
 */
class ChunkedLabelerSpec extends SparkSpec {

  private def featsOf(turns: DataFrame): DataFrame =
    Features.body(Structure.tokensFromLines(
      Structure.keptLines(turns)
        .select("conv_id", "turn_idx", "role", "tool", "block_idx",
          "line_in_turn", "line_idx", "line")))
      .select("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")

  private def turnsDf(rows: Seq[(String, Int, String)]): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    rows.map { case (conv, idx, text) =>
      (conv, idx, "user", text, null: String,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private def assertIdentical(turns: DataFrame, chunkTurns: Int): Unit = {
    val f = featsOf(turns)
    val ord = Seq(col("conv_id"), col("turn_idx"), col("line_in_turn"), col("tok_idx"))
    val seqRows = Labeler.bodyLabels(f).orderBy(ord: _*).collect().toSeq
    val chkRows = Labeler.bodyLabelsChunked(f, chunkTurns).orderBy(ord: _*).collect().toSeq
    assert(seqRows.nonEmpty, "differential input produced no labeled rows")
    assert(chkRows == seqRows,
      s"chunked (${chkRows.size} rows) != sequential (${seqRows.size} rows) at chunkTurns=$chunkTurns")
  }

  test("synthetic corpus: chunked == sequential at tiny chunk size") {
    assertIdentical(Synthetic.transcripts(spark, 200), chunkTurns = 4)
  }

  test("gold fixture text split one-line-per-turn: chunked == sequential") {
    assume(Fixtures.available)
    val fx = Fixtures.bodyFixtureNames.map(Fixtures.loadBody).maxBy(_.spans.size)
    val turns = turnsDf(
      fx.sourceText.split("\n").toIndexedSeq.zipWithIndex.map { case (l, i) => (fx.name, i, l) })
    assertIdentical(turns, chunkTurns = 3)
  }

  test("anchor-free prose stretch: state composes across many chunks") {
    // one entry anchor, then 60 continuation prose lines: every chunk after
    // the first is anchor-free, so its transition function never collapses
    // and the composed entry state is what keeps the <entry> label flowing
    val turns = turnsDf(
      ("c1", 0, "12 - Premier lot de la vente .") +:
        (1 to 60).map(i => ("c1", i,
          s"suite de la description du lot avec beaucoup de mots numero $i .")))
    assertIdentical(turns, chunkTurns = 5)
  }

  // title at the end of one chunk, short-name heading run + lot entry at
  // the start of the next: the peek row must carry the one-line lookahead
  private val headingRun = Seq(
    ("c2", 0, "3 - Vase grec en terre cuite ."),
    ("c2", 1, "AR ."), // grade line closes the entry
    ("c2", 2, "MONNAIES GRECQUES"), // caps heading, chunk boundary after
    ("c2", 3, "Syracuse ."), // heading run continues across the boundary
    ("c2", 4, "14 - Tetradrachme d'argent ."),
    ("c2", 5, "suite de la description du lot ."),
    ("c2", 6, "Croton ."), // pre-entry heading: needs lookahead at boundary
    ("c2", 7, "15 - Statere incus ."))

  // turns 0-5 then 40-45 with chunkTurns=8: chunk ids 0 and 5 exist, 1-4
  // are empty; the peek for the line before the gap must route to the
  // previous EXISTING chunk, matching the sequential cross-gap walk
  private val turnGap =
    (0 to 4).map(i => ("c3", i, s"${i + 1} - Lot avant la lacune numero $i .")) ++
      Seq(("c3", 5, "Syracuse .")) ++ // pre-entry heading right before the gap
      (40 to 45).map(i => ("c3", i, s"${i} - Lot apres la lacune numero $i ."))

  private val interleaved =
    (0 to 20).map(i => ("a", i, s"${i + 1} - Lot de la vente a numero $i .")) ++
      (0 to 20).map(i => ("b", i,
        if (i % 7 == 0) "GRAVURES ANCIENNES" else s"${i + 1} - Lot b numero $i .")) ++
      Seq(("c", 0, "une seule ligne sans ancre ."))

  test("heading run and lookahead crossing a chunk boundary") {
    // boundary after every 1, 2 and 3 turns so each adjacency is exercised
    Seq(1, 2, 3).foreach(c => assertIdentical(turnsDf(headingRun), chunkTurns = c))
  }

  test("turn gap leaving whole chunk ranges empty") {
    assertIdentical(turnsDf(turnGap), chunkTurns = 8)
  }

  test("multi-conversation frame with interleaved chunk ids") {
    Seq(2, 6).foreach(c => assertIdentical(turnsDf(interleaved), chunkTurns = c))
  }

  /** The body labels by a plain-Scala walk over the collected frame, written
   * apart from the operator's line walker: sort the tokens, group them into
   * lines, classify each line of a conversation with a fresh classifier and
   * the entry test of the conversation's next line, BIO-encode (`I-` on the
   * first token of a line that starts a span). A line whose classification
   * throws is dropped. A null turn_idx is a turn of its own, sorted first. */
  private def referenceLabels(f: DataFrame): Seq[(String, Option[Int], Int, Int, String, String)] = {
    val toks = f.select("conv_id", "turn_idx", "line_in_turn", "tok_idx", "tok",
        "f_capitalisation").collect().toSeq
      .map(r => (r.getString(0), turnOf(r), r.getInt(2), r.getInt(3), r.getString(4),
        r.getString(5)))
      .sortBy(t => (Option(t._1), t._2, t._3, t._4))
    val lines = toks.foldLeft(Vector.empty[Vector[(String, Option[Int], Int, Int, String, String)]]) {
      case (acc, t) if acc.nonEmpty && acc.last.head._1 == t._1 &&
          acc.last.head._2 == t._2 && acc.last.head._3 == t._3 =>
        acc.init :+ (acc.last :+ t)
      case (acc, t) => acc :+ Vector(t)
    }
    lines.groupBy(_.head._1).values.toSeq.flatMap { conv =>
      val cls = new Labeler.LineClassifier
      conv.indices.flatMap { i =>
        val line = conv(i)
        val nextIsEntry = i + 1 < conv.size && Labeler.isEntryLine(conv(i + 1).map(_._5))
        scala.util.Try(cls.classify(line.map(_._5), line.map(_._6),
          Labeler.isEntryLine(line.map(_._5)), nextIsEntry))
          .toOption.toSeq.flatMap { case (base, isStart) =>
            line.zipWithIndex.map { case (t, k) =>
              (t._1, t._2, t._3, t._4, t._5, if (k == 0 && isStart) "I-" + base else base)
            }
          }
      }
    }.sortBy(t => (Option(t._1), t._2, t._3, t._4))
  }

  private def turnOf(r: Row): Option[Int] = if (r.isNullAt(1)) None else Some(r.getInt(1))

  private def labelRows(df: DataFrame): Seq[(String, Option[Int], Int, Int, String, String)] =
    df.select("conv_id", "turn_idx", "line_in_turn", "tok_idx", "tok", "label")
      .collect().toSeq
      .map(r => (r.getString(0), turnOf(r), r.getInt(2), r.getInt(3), r.getString(4),
        r.getString(5)))
      .sortBy(t => (Option(t._1), t._2, t._3, t._4))

  test("bodyLabels and bodyLabelsChunked equal a plain-Scala reference line walk") {
    val adversarial = Structure.transcriptsFromDocuments(
      spark.read.option("multiLine", "true").json("tools/adversarial_docs.json"))
    Seq("synthetic" -> Synthetic.transcripts(spark, 30), "adversarial" -> adversarial,
        "heading run" -> turnsDf(headingRun), "turn gap" -> turnsDf(turnGap),
        "interleaved" -> turnsDf(interleaved)).foreach { case (name, turns) =>
      val f = featsOf(turns)
      val expected = referenceLabels(f)
      assert(expected.nonEmpty, name)
      assert(labelRows(Labeler.bodyLabels(f)) == expected, s"bodyLabels on $name")
      Seq(1, 3).foreach { c =>
        assert(labelRows(Labeler.bodyLabelsChunked(f, c)) == expected,
          s"bodyLabelsChunked($c) on $name")
      }
    }
  }

  test("null turn_idx lines: labels equal the reference walk, spans equal Assemble's") {
    // a null turn_idx sorts first and is a turn of its own: its two lines
    // stay apart from turn 0's line 0, and the line after them has no gap
    val turns = TranscriptCorpus.turns(spark, Seq(
      ("y", null, "user", "Première ligne sans tour\n12 - Médaille en bronze .", null),
      ("y", 0, "user", "3 - Vase grec en terre cuite .", null),
      ("y", 2, "user", "suite de la description du lot .", null)))
    val f = featsOf(turns)
    val expected = referenceLabels(f)
    assert(expected.map(_._2).distinct == Seq(None, Some(0), Some(2)))
    assert(labelRows(Labeler.bodyLabels(f)) == expected)
    // Catalyst's spans over the reference labels and the Catalyst separators
    val label = expected.map(t => (t._1, t._2, t._3, t._4) -> t._6).toMap
    val labeled = spark.createDataFrame(spark.sparkContext.parallelize(f.collect().toSeq.map(r =>
      Row.fromSeq(r.toSeq :+ label((r.getString(0), turnOf(r), r.getInt(2), r.getInt(3))))), 1),
      f.schema.add("label", "string"))
    def spanRows(df: DataFrame) = df.select("conv_id", "segment_id", "label", "turn_idx", "text")
      .collect().toSeq.sortBy(_.getLong(1))
    val want = spanRows(Assemble.bodySpans(labeled))
    assert(want.nonEmpty)
    assert(spanRows(Pipeline.extract(turns)) == want, "Pipeline.extract")
    assert(spanRows(Pipeline.extractDeclarative(turns)) == want, "Pipeline.extractDeclarative")
  }

  test("property: random corpora agree at random chunk sizes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("vase", "bronze", "gravure", "Monnaie", "ancien",
      "grand", "doré", "pièce", "médaille", "rare")
    val line: Gen[String] = Gen.frequency(
      (5, for { n <- Gen.choose(1, 999); ws <- Gen.listOfN(3, word) }
        yield s"$n - ${ws.mkString(" ")} ."),
      (2, Gen.listOfN(4, word).map(_.mkString(" ") + " .")), // prose
      (1, Gen.oneOf("MONNAIES GRECQUES", "OBJETS D'ART", "BIJOUX ANCIENS")),
      (1, Gen.oneOf("Syracuse .", "Croton .", "Pyrrhus , roi .")),
      (1, Gen.oneOf("AR .", "OR * F . D . C .", "-", "T . B .")),
      (1, for { a <- Gen.choose(1, 500); b <- Gen.choose(501, 999) }
        yield s"$a à $b"),
      (1, Gen.choose(1, 400).map(_.toString)))
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1 to 5).foreach { i =>
      val nConvs = 1 + sample(Gen.choose(0, 4), 1000L + i)
      val rows = (0 until nConvs).flatMap { c =>
        val nTurns = sample(Gen.choose(5, 40), 2000L + i * 31 + c)
        (0 until nTurns).map(t => (s"conv$c", t, sample(line, i * 100003L + c * 977L + t)))
      }
      val chunk = 1 + sample(Gen.choose(0, 8), 3000L + i)
      assertIdentical(turnsDf(rows), chunk)
    }
  }

  test("per-line isolation: chunked drops and counts the same lines as sequential") {
    // null toks (impossible from the tokenizer, possible from a foreign
    // upstream) make classify throw: the line is dropped and counted. Turn 2
    // (right after a grade line) loses every token; turn 5 loses only its
    // dash, so it still reads as an entry line in its predecessor's lookahead
    val rows = Seq(
      ("c5", 0, "3 - Vase grec en terre cuite ."),
      ("c5", 1, "AR ."),
      ("c5", 2, "Syracuse ."),
      ("c5", 3, "MONNAIES GRECQUES"),
      ("c5", 4, "Croton ."),
      ("c5", 5, "14 - Tetradrachme d'argent ."),
      ("c5", 6, "suite de la description du lot ."),
      ("c5", 7, "15 - Statere incus ."))
    val f = featsOf(turnsDf(rows)).withColumn("tok",
      when(col("turn_idx") === 2 || (col("turn_idx") === 5 && col("tok_idx") === 1),
        lit(null).cast("string")).otherwise(col("tok")))
    def run(label: Option[graft.extract.Lineage.PartitionStats] => DataFrame) = {
      val acc = graft.extract.Lineage.newStats(spark, "chunked_isolation")
      val out = label(Some(acc)).orderBy("turn_idx", "line_in_turn", "tok_idx").collect().toSeq
      (out, acc.value.values.map(_._3).sum)
    }
    val (seqRows, seqFails) =
      run(graft.plans.BodySpans.labels(f, chunked = false, _))
    assert(seqFails == 2L)
    assert(seqRows.map(_.getAs[Int]("turn_idx")).distinct == Seq(0, 1, 3, 4, 6, 7))
    Seq(1, 2, 3).foreach { c =>
      val (chkRows, chkFails) = run(Labeler.bodyLabelsChunked(f, c, _))
      assert(chkRows == seqRows, s"chunked != sequential at chunkTurns=$c")
      assert(chkFails == seqFails, s"failure count at chunkTurns=$c")
    }
  }

  test("empty input yields empty output without crashing") {
    val f = featsOf(turnsDf(Seq(("x", 0, "1 - Lot .")))).where(col("conv_id") === "none")
    assert(Labeler.bodyLabelsChunked(f, 4).isEmpty)
  }

  test("chunked path spreads one conversation over many FSM groups") {
    val turns = turnsDf(
      (0 to 99).map(i => ("solo", i, s"${i + 1} - Lot numero $i .")))
    val f = featsOf(turns)
    // chunk count is what bounds the skew: 100 turns / 10 = 10 parallel units
    val nChunks = f.select((col("turn_idx") / lit(10)).cast("int")).distinct().count()
    assert(nChunks == 10)
    assertIdentical(turns, chunkTurns = 10)
  }
}
