package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{C4, Gopher}

/**
 * Differential pins for the [[graft.functions.GopherQuality]],
 * [[graft.functions.C4LineFilter]] and [[graft.functions.C4PageStats]]
 * kernels against the original Catalyst forms — fuzz battery plus the
 * sf0.001 corpus (null text included). Bit-identical required.
 */
class CurationKernelSpec extends SparkSpec {
  import spark.implicits._

  private def fuzzDocs = {
    val pieces = Array("The", "cat.", "...", "…", "#", "-", "*", "•",
      "sat!", "mat?", "a\"", "javascript", "JavaScript", "{", "viagra",
      "été.", "中", "😀", "x9", "the", "be", "to", "of", "and", "lorem",
      "ipsum", "Lorem Ipsum", "", " ", "\r")
    val seps = Array(" ", "  ", "\t", "\n", "\n\n", " \n ", "", "\r\n",
      ". ", "! ", "? ")
    val rnd = new scala.util.Random(42620822L)
    (0 until 300).map { i =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(80)).foreach { _ =>
        sb.append(pieces(rnd.nextInt(pieces.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
      }
      (i.toLong, if (i == 5) null else sb.toString)
    }.toDF("doc_id", "text")
  }

  private def corpusDocs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def assertSame(a: DataFrame, b: DataFrame, cols: Seq[String]): Unit = {
    val l = a.select(col("doc_id") +: cols.map(col): _*).collect()
      .sortBy(_.getLong(0))
    val r = b.select(col("doc_id") +: cols.map(col): _*).collect()
      .sortBy(_.getLong(0))
    assert(l.length === r.length)
    l.zip(r).foreach { case (x, y) =>
      assert(x === y, s"doc ${x.getLong(0)}: kernel=$x hof=$y")
    }
  }

  test("GopherQuality kernel equals the HOF form") {
    underEachCodegenMode {
      val cols = Seq("n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "n_stop_hits")
      for (docs <- Seq(fuzzDocs, corpusDocs))
        assertSame(Gopher.stats(docs), Gopher.statsHof(docs), cols)
    }
  }

  test("C4LineFilter kernel equals the HOF form") {
    underEachCodegenMode {
      val cols = Seq("text_clean", "n_lines_kept", "n_lines_dropped")
      for (docs <- Seq(fuzzDocs, corpusDocs))
        assertSame(C4.lineFiltered(docs), C4.lineFilteredHof(docs), cols)
    }
  }

  test("C4PageStats kernel equals the HOF form") {
    underEachCodegenMode {
      val cols = Seq("n_sentences", "has_lorem_ipsum", "has_brace", "n_bad_words")
      for (docs <- Seq(fuzzDocs, corpusDocs)) {
        assertSame(C4.stats(docs), C4.statsHof(docs), cols)
        // non-default blocklist exercises the reference-object codegen leg
        assertSame(C4.stats(docs, blocklist = Seq("cat", "mat")),
          C4.statsHof(docs, blocklist = Seq("cat", "mat")), cols)
      }
    }
  }
}
