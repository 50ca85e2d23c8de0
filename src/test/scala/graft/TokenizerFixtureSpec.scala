package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.Tok

/** The tokenizer backbone: tokenizing the decoded gold TEI text must
 * reproduce the token column of every body raw fixture file byte-for-byte
 * (per-turn text equality starts here). Pure Scala — no Spark needed. */
class TokenizerFixtureSpec extends AnyFunSuite with FixtureSpec {

  test("tokenize(TEI source) == raw fixture token column, all 14 body files") {
    val names = Fixtures.bodyFixtureNames
    assert(names.size == 14)
    names.foreach { name =>
      val fx = Fixtures.loadBody(name)
      val got = Tok.tokenize(fx.sourceText).map(_.text)
      val want = fx.rawRows.map(_.head)
      assert(got.size == want.size, s"$name: token count ${got.size} != ${want.size}")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"$name: token $i '$g' != '$w'")
      }
    }
  }

  test("gold labels align 1:1 with tokens") {
    Fixtures.bodyFixtureNames.foreach { name =>
      val fx = Fixtures.loadBody(name)
      assert(fx.goldLabels.size == fx.rawRows.size, name)
      assert(fx.goldLabels.count(_.startsWith("I-")) == fx.expectedSpans.size, name)
    }
  }

  test("sepBefore round-trip: sep+tok concatenation reproduces the source") {
    Fixtures.bodyFixtureNames.foreach { name =>
      val fx = Fixtures.loadBody(name)
      val toks = Tok.tokenize(fx.sourceText)
      val rebuilt = toks.map(t => t.sepBefore + t.text).mkString +
        Tok.trailing(fx.sourceText)
      assert(rebuilt == fx.sourceText, name)
    }
  }

  test("whitespaceSplit matches segmenter first-token semantics") {
    assert(Tok.whitespaceSplit(" a  b\tc ") == Vector("a", "b", "c"))
    assert(Tok.whitespaceSplit("") == Vector())
    assert(Tok.whitespaceSplit("x y") == Vector("x", "y")) // NBSP
  }
}
