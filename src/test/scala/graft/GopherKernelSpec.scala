package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Gopher

/**
 * Differential pin for the [[graft.functions.GopherRepetition]] kernel:
 * the compiled one-pass form must be BIT-identical to the original
 * Catalyst higher-order-function cascade ([[Gopher.repetitionStatsHof]])
 * on every document — adversarial hand-planted cases, a deterministic
 * fuzz battery over a whitespace/Unicode/punctuation-rich alphabet, and
 * the sf0.001 corpus (including its null-text rows).
 */
class GopherKernelSpec extends SparkSpec {
  import spark.implicits._

  private val cols = graft.functions.GopherRepetition.fieldNames

  private def assertSame(docs: DataFrame): Unit = {
    val a = Gopher.repetitionStats(docs)
      .select(col("doc_id") +: cols.map(col): _*).collect()
      .map(r => r.getLong(0) -> r).sortBy(_._1)
    val b = Gopher.repetitionStatsHof(docs)
      .select(col("doc_id") +: cols.map(col): _*).collect()
      .map(r => r.getLong(0) -> r).sortBy(_._1)
    assert(a.length === b.length)
    a.zip(b).foreach { case ((id, ra), (idB, rb)) =>
      assert(id === idB)
      cols.zipWithIndex.foreach { case (c, i) =>
        // exact double equality: both sides are integer-ratio exact
        assert(java.lang.Double.compare(ra.getDouble(i + 1), rb.getDouble(i + 1)) == 0,
          s"doc $id col $c: kernel=${ra.getDouble(i + 1)} hof=${rb.getDouble(i + 1)}")
      }
    }
  }

  test("kernel equals HOF form on planted adversarial documents") {
    underEachCodegenMode {
      val docs = Seq(
        "",
        " \t \n \f\r ",
        "a",
        "a b a b a",
        "q w e r t q w e r t",
        "aa bb\nAa  Bb\ncc",
        "x\ny\n\nx y\n\nz",
        "dup line\ndup line\ndup line\nx\ny",
        "only three words",
        "Tab\tseparated\twords and  double  spaces",
        "ends with ellipsis...\nand unicode …\n",
        "line\r\nwindows\r\nline\r\n",                    // CR kept inside lines
        "ctl a b ",                     // control chars in words
        "é É ﬀ ß Σ ΣΣ σς İ i̇ I",                        // case-folding edge cases
        "😀 😀 emoji 😀 pair 𝔘𝔫𝔦",                       // astral (surrogate pairs)
        "中文 測試 中文 測試 中文",
        "a b a b",                              // NBSP is NOT \s
        "same same same same same same same same same same same",
        ("w1 w2 w3 w4 w5 " * 40).trim,
        Seq.fill(6)("para one\nline two").mkString("\n\n"),
        "\n\n\n\n",
        "one\n\n\none",                                   // \n\n\n paragraph split
        "a  b\na b\nA B",                                 // normalize collapses to dups
        "z y x w v u t s r q p o n m l k j i h g f e d c b a"
      ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      assertSame(docs.toDF("doc_id", "text"))
    }
  }

  test("kernel equals HOF form on deterministic fuzz documents") {
    underEachCodegenMode {
      val pieces = Array("the", "cat", "...", "…", "#", "-", "*", "•", "a",
        "b", "ab", "été", "中", "😀", "x9", "$$$",
        "W", "", " ", "\r")
      val seps = Array(" ", "  ", "\t", "\n", "\n\n", " \n ", "", "\r\n")
      val rnd = new scala.util.Random(20260822L)
      val docs = (0 until 400).map { i =>
        val nTok = rnd.nextInt(120)
        val sb = new StringBuilder
        (0 until nTok).foreach { _ =>
          sb.append(pieces(rnd.nextInt(pieces.length)))
          sb.append(seps(rnd.nextInt(seps.length)))
        }
        (i.toLong, sb.toString)
      }
      assertSame(docs.toDF("doc_id", "text"))
    }
  }

  test("kernel equals HOF form on the sf0.001 corpus (incl. null text)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    underEachCodegenMode(assertSame(docs))
  }

  test("kernel projection stays codegen-clean with zero exchanges") {
    // parquet-backed input: a LocalRelation would be constant-folded away
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = Gopher.withRepetitionKeep(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    val kernels = "graft_gopher_rep".r.findAllMatchIn(plan).size
    assert(kernels == 1, s"expected 1 graft_gopher_rep, got $kernels:\n$plan")
  }
}
