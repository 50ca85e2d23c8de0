package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.extract.{Features, Labeler, Structure, Synthetic}
import graft.functions.TokCaps
import graft.plans.BodySpans

/**
 * The span operator's line-input mode tokenizes each body line inside its
 * walk. It must equal the token-input mode over the token explode of the
 * same lines, row for row and byte for byte: `BodySpans.fromLines(lines)`
 * against `BodySpans.spans` over `Structure.tokensFromLines(lines)` (its lag
 * window builds each line's first separator) with `f_capitalisation`.
 */
class LineSpansSpec extends SparkSpec {

  /** The token-input twin: the token explode and the FSM's one feature. */
  private def viaTokens(lines: DataFrame): DataFrame =
    BodySpans.spans(Structure.tokensFromLines(lines)
      .withColumn("f_capitalisation", TokCaps.of(col("tok")).getField("cap_class")))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.withColumn("text", col("text").cast("binary")).collect().toSeq
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq case v => v })
      .sortBy(r => (String.valueOf(r(0)), r(1).asInstanceOf[Long]))

  private def assertSame(lines: DataFrame): Unit = {
    val (viaLines, want) = (BodySpans.fromLines(lines), viaTokens(lines))
    assert(viaLines.schema == want.schema)
    val w = rows(want)
    assert(w.nonEmpty)
    assert(rows(viaLines) == w)
  }

  private def turns(texts: Seq[String]): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    texts.zipWithIndex.map { case (t, i) => (s"c${i % 7}", i, "user", t, null: String) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
  }

  test("Synthetic transcripts: kept lines, body lines and lines with gaps") {
    val lines = Structure.keptLines(Synthetic.transcripts(spark, 60))
    assertSame(lines)
    assertSame(Labeler.bodyLines(Features.repetitive(lines)))
    // dropped lines leave line_in_turn gaps and whole turns without lines
    assertSame(lines.where(pmod(hash(col("line")), lit(3)) =!= 0))
  }

  test("the adversarial documents") {
    val docs = spark.read.option("multiLine", "true").json("tools/adversarial_docs.json")
    val t = Structure.transcriptsFromDocuments(docs)
    assertSame(Structure.lines(t))
    assertSame(Structure.keptLines(t))
  }

  test("the line kernels' traps and fuzz turns") {
    import LineFuzz.{fuzz, traps}
    assertSame(Structure.lines(turns(traps ++ fuzz(11L, 1500, 40)).repartition(3)))
  }

  test("hand-made traps: token-less lines, gaps, \\r, invalid UTF-8, null conv_id") {
    val nb = "\u00a0"
    def u(s: String): Array[Byte] = s.getBytes("UTF-8")
    def raw(b: Int*): Array[Byte] = b.map(_.toByte).toArray
    val traps = Seq[(String, Int, Int, Array[Byte])](
      // an NBSP-only line is a body line with no tokens: first, middle and
      // last in its conversation, its trailing run and line gap still count
      ("n", 0, 0, u(nb)), ("n", 0, 1, u("First line  ")), ("n", 0, 3, u(s"$nb $nb\t")),
      ("n", 1, 0, u("  1 - Next\t")), ("n", 1, 1, u("GRECQUES et")), ("n", 1, 2, u(s" $nb ")),
      // filtered lines between body lines, within and across turns
      ("g", 0, 0, u("1 - Vase ,")), ("g", 0, 4, u("BRONZE")), ("g", 2, 1, u("tail ")),
      ("g", 2, 7, u("x")), ("g", 5, 0, u("  2 . Bowl")),
      // \r-terminated lines
      ("r", 0, 0, u("abc \r")), ("r", 0, 1, u("ab \r\r")), ("r", 0, 2, u("\r")),
      ("r", 1, 0, u("end\t\r\n")), ("r", 1, 1, u(" x \u0085")),
      // invalid UTF-8
      ("v", 0, 0, raw('a', 0x80, 'b', ' ')), ("v", 0, 1, raw(0xff, ' ', '\r')),
      ("v", 0, 2, raw('x', 0xed, 0xa0, 0x80, ' ', 'Y', ' ')), ("v", 1, 0, raw(' ', 'a', 0xe2, 0x80)),
      // a conversation whose only body line has no tokens
      ("e", 0, 0, u(s"$nb$nb")),
      // null conv_id rows are one conversation
      (null, 0, 0, u("Null conv ")), (null, 0, 2, u(nb)), (null, 1, 0, u("  more text ")),
      // a null line moves the state like an empty one
      ("z", 0, 0, u("a ")), ("z", 0, 1, null), ("z", 0, 3, u("b")))
    val schema = StructType.fromDDL("conv_id STRING, turn_idx INT, line_in_turn INT, b BINARY")
    val lines = spark.createDataFrame(spark.sparkContext.parallelize(
      traps.reverse.map { case (c, t, l, b) => Row(c, t, l, b) }, 3), schema)
      .select(col("conv_id"), col("turn_idx"), col("line_in_turn"), col("b").cast("string").as("line"))
    assertSame(lines)
    val convs = rows(BodySpans.fromLines(lines)).map(_.head).distinct
    assert(convs.contains(null) && !convs.contains("e"), convs)
  }
}
