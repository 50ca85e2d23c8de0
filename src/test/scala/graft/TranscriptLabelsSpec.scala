package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Pipeline, Structure, Synthetic}
import graft.plans.BodySpans

/**
 * The body walk's transcript label mode zones, tokenizes and labels each
 * conversation's kept lines inside the walk. It must equal the Catalyst
 * labels the resumable run committed before it, row for row and byte for
 * byte, with the same schema: `BodySpans.transcriptLabels(keptLines(turns))`
 * against `Pipeline.labeledBodyTokens(turns)`, which is `Labeler.bodyLabels`
 * over the token explode of the Catalyst zone rule's body lines. Not on
 * the seeded repetition fuzz: its duplicate (conv_id, turn_idx) turns make
 * lines with equal sort keys, which both walks read as one line, in the
 * order of a sort tie, so their tokens' order there is not defined.
 */
class TranscriptLabelsSpec extends SparkSpec {
  import TranscriptCorpus.{handTraps, lineFuzz}

  private val strCols = Seq("tok", "sep_before", "line_trailing")

  /** The rows with the token strings as bytes, in a canonical order. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    strCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("binary"))).collect().toSeq
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq case v => v })
      .sortBy(_.map(String.valueOf).mkString("\u0000"))

  private def walk(turns: DataFrame): DataFrame =
    BodySpans.transcriptLabels(Structure.keptLines(turns), None)

  private def assertSame(turns: DataFrame): Unit = {
    val got = walk(turns)
    val want = Pipeline.labeledBodyTokens(turns)
    assert(got.schema == want.schema)
    val w = rows(want)
    assert(w.nonEmpty)
    assert(rows(got) == w)
  }

  test("Synthetic transcripts") {
    assertSame(Synthetic.transcripts(spark, 60))
  }

  private def adversarial: DataFrame = Structure.transcriptsFromDocuments(
    spark.read.option("multiLine", "true").json("tools/adversarial_docs.json"))

  test("the adversarial documents") {
    assertSame(adversarial)
  }

  test("the line kernels' traps and fuzz turns, under every role") {
    assertSame(lineFuzz(spark))
  }

  test("hand traps, under both case-mapping settings") {
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.get(key)
    try Seq("true", "false").foreach { icu =>
      spark.conf.set(key, icu)
      withClue(s"$key=$icu: ") {
        assertSame(handTraps(spark))
        assertSame(lineFuzz(spark))
      }
    } finally spark.conf.set(key, before)
  }

  test("a spilling conversation buffer gives the same labels") {
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "2")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    // small corpora: past its threshold a window buffer spills every two
    // rows, each spill a sorter page, and the Catalyst twin's windows then
    // run out of heap on the line kernels' and adversarial corpora
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      assertSame(handTraps(spark))
      assertSame(Synthetic.transcripts(spark, 20))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
