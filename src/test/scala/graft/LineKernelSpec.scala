package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.extract.{Structure, Synthetic}
import graft.functions.LineKernels
import graft.text.TextCols

/**
 * The expressions the line-layer kernels replaced, kept as differential
 * twins: the window chain of `Structure.lines` and the Java-regex legs of
 * `f_string`, the letters strip and the line-trailing whitespace.
 */
object LineTwins {

  /** `Structure.lines` as a `split` explode plus `lag(blank)`, running
   * `sum(new_block)` and per-block `row_number` windows. */
  def lines(turns: DataFrame): DataFrame = {
    val wTurn = Window.partitionBy("conv_id", "turn_idx").orderBy("line_in_turn")
    turns
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        posexplode_outer(split(coalesce(col("text"), lit("")), "\n"))
          .as(Seq("line_in_turn", "line")))
      .withColumn("blank", trim(col("line")) === "")
      .withColumn("new_block",
        (!col("blank")) && coalesce(lag(col("blank"), 1).over(wTurn), lit(true)))
      .withColumn("block_idx",
        sum(when(col("new_block"), 1).otherwise(0)).over(wTurn) - 1)
      .where(!col("blank"))
      .withColumn("line_idx",
        row_number().over(Window.partitionBy("conv_id", "turn_idx", "block_idx")
          .orderBy("line_in_turn")) - 1)
      .withColumn("kept", !TextCols.filterLine(col("line")))
      .drop("blank", "new_block")
  }

  /** `f_string`: the first token of the segmenter's space/tab/FF split,
   * stripped of `[ \n\r]`. */
  def firstWord(line: Column): Column = {
    val toks = split(trim(regexp_replace(line, "[\\x20\\t\\f]+", " ")), " ")
    regexp_replace(coalesce(try_element_at(toks, lit(1)), lit("")), "[ \n\r]", "")
  }

  def letters(t: Column): Column = regexp_replace(t, "[^\\p{L}]", "")

  def trailingSpace(line: Column): Column = regexp_extract(line, "[\\x20\\t\\f]*$", 0)
}

/** The line kernels' test strings: fixed traps, invalid UTF-8 and seeded
 * fuzz over a pool of letters, digits, delimiters and every separator the
 * line layer tells apart. */
object LineFuzz {

  private val seps = Seq(" ", "\t", "\f", "\u00a0", "\r", "\r\r", "\r\n", "\n",
    "\n\n", "\u0085", "\u2028", "\u2029", "\u000b", "  ", "\t\t", "\f\f")
  private val pool: Array[String] = (Seq("a", "Z", "é", "ß", "İ", "Σ", "ǅ", "ʰ",
    "中", "7", "٣", ".", "-", "«", "•", "́", "𝔘", "😀",
    "ª") ++ seps).toArray

  /** Valid fixed traps, as text. */
  val traps: Seq[String] = Seq("", " ", "   ", "\t", "\t\t", "\f", "\u00a0",
    "\u00a0\u00a0 x", "abc", "abc \r", "ab \r\r", "ab \t\r\n", "ab \n", "ab \u0085",
    "ab \u2028", "ab \u2029", "ab\u00a0", "x \u00a0 ", "a\r\nb \r\n", " \r", "\r", "\n", "\n\n", "\nlead",
    "trail\n", "a\n\nb", "a\n \nb", "a\n\t\nb", " \t\fword\t rest", "\r\nword",
    "wo\rrd next", "\u00a0word", "Bronze, 74", "GRECQUES et", "Été İstanbul ǅ",
    "𝔘𝔫𝔦 😀", "x́y", "a\u000bb \u000b",
    "tail \t \f", "  lead and trail  ", "1. Vase \n   2. Bowl\r\n\n3 -")

  /** Byte strings with invalid UTF-8: a lone continuation byte, 0xFF, an
   * overlong NUL, an encoded surrogate, a cut 3-byte sequence. */
  val invalid: Seq[Array[Byte]] = Seq(
    Array('a', 0x80, 'b'), Array(0xff, ' ', '\r'), Array(0xc0, 0x80, 'x', ' '),
    Array('x', 0xed, 0xa0, 0x80, ' ', 'y'), Array(' ', 'a', 0xe2, 0x80),
    Array('a', '\n', 0x80, ' ', '\n', ' ', '\n', 'b', 0xe2, 0x80, 0xa8))
    .map(_.map(_.toByte))

  def fuzz(seed: Long, n: Int, maxLen: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(maxLen))(pool(rnd.nextInt(pool.length))).mkString)
  }

  /** `texts`, then [[invalid]], then a null, as a string column `s` with an
   * `id`, behind an exchange so the optimizer does not fold it as a local
   * relation. */
  def strings(spark: SparkSession, texts: Seq[String]): DataFrame = {
    val bytes = (texts.map(t => t.getBytes("UTF-8")) ++ invalid :+ null)
      .zipWithIndex.map { case (b, i) => Row(i.toLong, b) }
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, b BINARY")
    spark.createDataFrame(spark.sparkContext.parallelize(bytes, 3), schema)
      .repartition(3).select(col("id"), col("b").cast("string").as("s"))
  }
}

/**
 * Each line-layer kernel equals the expression it replaced — on fixed
 * traps and on seeded fuzz, under generated code and under interpreted
 * `eval` — and `Structure.lines` equals its window-chain twin in every
 * column and type.
 */
class LineKernelSpec extends SparkSpec {
  import LineFuzz._

  private def strings(texts: Seq[String]): DataFrame = LineFuzz.strings(spark, texts)

  /** Kernel and twin over the same strings, byte for byte. */
  private def assertLegEqual(name: String, kernel: Column => Column,
      twin: Column => Column, texts: Seq[String]): Unit = underEachCodegenMode {
    val rows = strings(texts)
      .select(col("id"), col("s"), kernel(col("s")).cast("binary").as("k"),
        twin(col("s")).cast("binary").as("t"))
      .collect()
    assert(rows.length == texts.length + invalid.length + 1)
    rows.foreach { r =>
      val (k, t) = (Option(r.getAs[Array[Byte]]("k")).map(_.toSeq),
        Option(r.getAs[Array[Byte]]("t")).map(_.toSeq))
      assert(k == t, s"$name differs on ${Option(r.getString(1)).map(_.take(60))}")
    }
  }

  private val legs: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("f_string", LineKernels.firstWordOf, LineTwins.firstWord),
    ("letters", LineKernels.lettersOf, LineTwins.letters),
    ("pattern", TextCols.pattern, (c: Column) => lower(LineTwins.letters(c))),
    ("line_trailing", LineKernels.trailingSpaceOf, LineTwins.trailingSpace))

  legs.foreach { case (name, kernel, twin) =>
    test(s"$name kernel equals its regex twin on the traps and 2,400 fuzz lines") {
      assertLegEqual(name, kernel, twin, traps ++ fuzz(name.hashCode.toLong, 2400, 24))
    }
  }

  test("Java `$` matches before one final line terminator, and the kernel follows it") {
    val dollar = java.util.regex.Pattern.compile("[\\x20\\t\\f]*$")
    def javaTrailing(s: String) = { val m = dollar.matcher(s); m.find(); m.group() }
    val pinned = Seq("abc \r" -> " ", "ab \r\r" -> "", "ab \t\r\n" -> " \t",
      "ab  " -> "  ", "ab \n\n" -> "", "ab\t" -> "\t", "ab\u00a0" -> "",
      "ab \u0085" -> " ", "ab \u2028" -> " ", "ab \u2029\r" -> "")
    pinned.foreach { case (s, want) =>
      assert(javaTrailing(s) == want, s)
      val got = LineKernels.trailingSpace(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      assert(got == want, s)
    }
  }

  test("Java `\\p{L}` is Character.isLetter of each code point") {
    val letter = java.util.regex.Pattern.compile("\\p{L}")
    val differs = (0 to Character.MAX_CODE_POINT).filter { cp =>
      letter.matcher(new String(Character.toChars(cp))).matches() != Character.isLetter(cp)
    }
    assert(differs.isEmpty, differs.take(5).map(Integer.toHexString))
  }

  private def turns(texts: Seq[String]): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    texts.zipWithIndex.map { case (t, i) => (s"c${i % 7}", i, "user", t, null: String) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
  }

  private def assertLinesEqual(t: DataFrame): Unit = {
    val kernel = Structure.lines(t)
    val twin = LineTwins.lines(t)
    assert(kernel.schema == twin.schema)
    def rows(df: DataFrame) =
      df.withColumn("line", col("line").cast("binary")).collect()
        .map(r => r.toSeq.map { case b: Array[Byte] => b.toSeq case v => v })
        .sortBy(r => (r(0).toString, r(1).asInstanceOf[Int], r(4).asInstanceOf[Int]))
        .toSeq
    val k = rows(kernel)
    assert(k.nonEmpty)
    assert(k == rows(twin))
  }

  test("a line of tabs is not blank: Spark trim strips only U+0020") {
    val got = Structure.lines(turns(Seq("\t\t\n   \n \u00a0 \nx"))).orderBy("line_in_turn")
      .select("line_in_turn", "block_idx", "line_idx").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((0, 0L, 0), (2, 1L, 0), (3, 1L, 1)))
  }

  test("Structure.lines equals the window chain on traps, fuzz turns and null text") {
    underEachCodegenMode {
      val texts = traps ++ fuzz(7L, 2000, 40)
      val withNull = turns(texts).union(turns(Seq("x")).withColumn("text", lit(null: String)))
      assertLinesEqual(withNull.repartition(3))
    }
  }

  test("Structure.lines equals the window chain on invalid UTF-8 turns") {
    val t = strings(Nil).select(lit("c").as("conv_id"), col("id").cast("int").as("turn_idx"),
      lit("user").as("role"), col("s").as("text"), lit(null: String).as("tool"))
    assertLinesEqual(t)
  }

  test("Structure.lines equals the window chain on Synthetic transcripts") {
    assertLinesEqual(Synthetic.transcripts(spark, 30))
  }

  test("Structure.lines equals the window chain on the adversarial documents") {
    val docs = spark.read.option("multiLine", "true").json("tools/adversarial_docs.json")
    assertLinesEqual(Structure.transcriptsFromDocuments(docs))
  }
}
