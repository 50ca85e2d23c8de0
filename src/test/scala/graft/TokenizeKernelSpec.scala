package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Tokenize
import graft.text.Tok

/**
 * Differential pin for the byte-path tokenizer kernel: for every input,
 * [[Tokenize.tokenize]] (UTF-8 byte scan, zero-copy slices) must equal
 * [[Tokenize.tokenizeViaString]] (the original `toString` →
 * [[Tok.tokenize]] → `fromString` round-trip) element-for-element —
 * token bytes AND separator bytes. Exercises every delimiter character,
 * NBSP, astral codepoints, CR/LF/FF/tab runs, and random fuzz. The
 * `graft_tokenize` expression equals [[Tok.tokenize]] under generated code
 * and under interpreted `eval`.
 */
class TokenizeKernelSpec extends SparkSpec {

  private def arrToPairs(a: org.apache.spark.sql.catalyst.util.ArrayData) =
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
    }

  private def assertSame(s: String): Unit = {
    val u = UTF8String.fromString(s)
    val fast = arrToPairs(Tokenize.tokenize(u))
    val slow = arrToPairs(Tokenize.tokenizeViaString(u))
    assert(fast === slow, s"input=${s.take(80)}")
  }

  test("byte path equals String path on delimiter and whitespace zoo") {
    val delims = Tok.punctDelims.toSeq
    val ws = Tok.whitespace.toSeq
    assertSame("")
    assertSame("plain words only")
    assertSame(delims.mkString)
    assertSame(ws.mkString)
    assertSame(delims.zip(ws).map { case (d, w) => s"a$d${w}b" }.mkString(" "))
    assertSame("«quoted» — text – with −dashes‐ and •bullets*")
    assertSame("tail whitespace   \t\r\n")
    assertSame(" leading nbsp and inner")
    assertSame("astral 😀pair𝔘𝔫𝔦 mixed😀.with!delims")
    assertSame("中文，测试。CJK regular")
    assertSame("price: $12.50 (50%) [a]/b\\c")
  }

  test("byte path equals String path on random fuzz") {
    val pool: Array[Char] =
      (('a' to 'z') ++ ('0' to '9') ++ Tok.punctDelims ++ Tok.whitespace ++
        Seq('é', '中', ' ', ' ', 'Σ')).toArray
    val rnd = new scala.util.Random(82220626L)
    (0 until 2000).foreach { _ =>
      val n = rnd.nextInt(60)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        if (rnd.nextInt(20) == 0) sb.appendAll(Character.toChars(
          0x10000 + rnd.nextInt(0x1000))) // astral
        else sb.append(pool(rnd.nextInt(pool.length)))
      }
      assertSame(sb.toString)
    }
  }

  test("invalid UTF-8 takes the sanitizing String path") {
    val invalid = UTF8String.fromBytes(Array[Byte]('a', 0x80.toByte, 'b'))
    assert(!invalid.isValid)
    val fast = arrToPairs(Tokenize.tokenize(invalid))
    val slow = arrToPairs(Tokenize.tokenizeViaString(invalid))
    assert(fast === slow)
  }

  test("round-trip invariant holds on the byte path") {
    val s = "a. b «c»\t\td ! e😀f"
    val u = UTF8String.fromString(s)
    val parts = arrToPairs(Tokenize.tokenize(u))
    val rebuilt = parts.map { case (t, sep) => sep + t }.mkString + Tok.trailing(s)
    assert(rebuilt === s)
  }

  test("graft_tokenize equals Tok.tokenize under generated and interpreted code") {
    import LineFuzz.{fuzz, invalid, traps}
    val texts = traps ++ fuzz(31L, 2000, 30)
    val strings = LineFuzz.strings(spark, texts)
    underEachCodegenMode {
      val rows = strings.select(col("s"), Tokenize.ofAttr("s").as("t")).collect()
      assert(rows.length == texts.length + invalid.length + 1)
      rows.foreach { r =>
        val got = r.getSeq[Row](1).map(t => (t.getString(0), t.getString(1)))
        val want = Option(r.getString(0)).toSeq.flatMap(Tok.tokenize).map(t => (t.text, t.sepBefore))
        assert(got == want, s"input=${Option(r.getString(0)).map(_.take(60))}")
      }
    }
  }
}
