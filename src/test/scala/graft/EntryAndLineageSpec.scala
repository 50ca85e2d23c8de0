package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.{Labeler, Lineage}

/**
 * Two byte- and code-point-level shortcuts, each against what it stands in
 * for: the entry test's first-code-point prefilter against its regex, and
 * the lineage character count against `UTF8String.toString.length`.
 */
class EntryAndLineageSpec extends AnyFunSuite {

  /** Digits of several scripts (Arabic-Indic, fullwidth, NKo, Devanagari,
   * mathematical bold), non-digit numbers, and the prefilter's letters. */
  private val digits = Seq("7", "٣", "３", "߀", "९", "𝟘", "①", "½", "Ⅻ", "²")
  private val strings: Seq[String] = {
    val rnd = new scala.util.Random(7L)
    val pool = (digits ++ Seq("i", "I", "j", "J", "!", ",", "v", "x", "-", ".", "a", " ", "İ",
      "ı", "é", "😀")).toArray
    LineFuzz.traps ++ LineFuzz.fuzz(3L, 2000, 12) ++ digits ++ digits.map(_ + "9") ++
      Seq.fill(3000)(Seq.fill(1 + rnd.nextInt(4))(pool(rnd.nextInt(pool.length))).mkString)
  }

  test("the entry prefilter rejects only strings the regex rejects") {
    var matched = 0
    strings.foreach { s =>
      val regex = Labeler.entryStartRe.findFirstIn(s).isDefined
      if (regex) { matched += 1; assert(Labeler.mayStartEntry(s), s) }
    }
    assert(matched > 100, matched)
    Seq("٣", "３", "𝟘", "i", "J", "!", ",").foreach { s =>
      assert(Labeler.mayStartEntry(s) && Labeler.entryStartRe.findFirstIn(s).isDefined, s)
    }
    Seq("", "①", "½", "x", "-").foreach(s => assert(!Labeler.mayStartEntry(s), s))
    // with the prefilter, isEntryLine answers as the regex alone does
    strings.foreach { s =>
      Seq(Seq(s), Seq(s, "-"), Seq(s, "x")).foreach { toks =>
        val regexOnly = Labeler.entryStartRe.findFirstIn(s).isDefined &&
          ((toks.size > 1 && Labeler.dashSet(toks(1))) || s.forall(_.isDigit))
        assert(Labeler.isEntryLine(toks) == regexOnly, toks)
      }
    }
  }

  test("the lineage character count equals toString.length") {
    def check(u: UTF8String): Unit = assert(Lineage.utf16Length(u) == u.toString.length, u)
    (strings ++ Seq("𝔘𝔫𝔦 😀", "😀😀", "a😀b", "ǅ")).foreach(s => check(UTF8String.fromString(s)))
    LineFuzz.invalid.foreach(b => check(UTF8String.fromBytes(b)))
    // invalid sequences around supplementary ones: a cut 4-byte sequence,
    // a lone 4-byte lead, a 5-byte lead and an encoded code point > U+10FFFF
    Seq(Array(0xf0, 0x9f, 0x98), Array(0xf0, 'a', 'b'), Array('x', 0xf8, 0x88, 0x80, 0x80, 0x80),
      Array(0xf4, 0x90, 0x80, 0x80), Array(0xf0, 0x9f, 0x98, 0x80, 0xf0))
      .map(_.map(_.toByte)).foreach(b => check(UTF8String.fromBytes(b)))
  }
}
