package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.functions._

/**
 * The contract every [[graft.functions.Kernel]] shares: a wrong input type
 * fails analysis under the kernel's `graft_*` name, and a projection of the
 * kernel stays in generated code, calling its static forwarder (a silent
 * fallback to interpreted `eval` would still give the right answers).
 */
class KernelContractSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val tmpRoot = java.nio.file.Files.createTempDirectory("kernel-contract")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmpRoot.toFile)
    finally super.afterAll()

  /** Parquet-backed, so a projection is planned, not folded into a local relation. */
  private lazy val input: DataFrame = {
    val path = tmpRoot.resolve("input").toString
    Seq(("a b. c", 1, Seq("a", "b")), (null, 2, null)).toDF("s", "i", "a")
      .write.parquet(path)
    spark.read.parquet(path)
  }

  /** (prettyName, the input column it reads, the kernel over a column, its forwarder). */
  private val kernels: Seq[(String, String, Column => Column, String)] = Seq(
    ("graft_turn_lines", "s", LineKernels.turnLinesOf, "LineKernels$.MODULE$.turnLines"),
    ("graft_firstWord", "s", LineKernels.firstWordOf, "LineKernels$.MODULE$.firstWord"),
    ("graft_letters", "s", LineKernels.lettersOf, "LineKernels$.MODULE$.letters"),
    ("graft_trailingSpace", "s", LineKernels.trailingSpaceOf,
      "LineKernels$.MODULE$.trailingSpace"),
    ("graft_tokenize", "s", call_function("graft_tokenize", _), "Tokenize$.MODULE$.tokenize"),
    ("graft_tok_caps", "s", TokCaps.of, "TokCaps$.MODULE$.compute"),
    ("graft_shingles", "s", Shingles.of(_, 3), "Shingles$.MODULE$.compute"),
    ("graft_gram_md5", "a", GramMd5.of(_, 2), "GramMd5$.MODULE$.compute"),
    ("graft_word_bigrams", "s", WordBigrams.of, "WordBigrams$.MODULE$.compute"),
    ("graft_dsir_buckets", "s", DsirBuckets.of(_, 7), "DsirBuckets$.MODULE$.compute"),
    ("graft_gopher_rep", "s", GopherRepetition.of, "GopherRepetition$.MODULE$.compute"),
    ("graft_gopher_quality", "s", GopherQuality.of, "GopherQuality$.MODULE$.compute"),
    ("graft_c4_line_filter", "s", C4LineFilter.of, "C4LineFilter$.MODULE$.compute"),
    ("graft_c4_page_stats", "s", C4PageStats.of(_, Seq("c")),
      "C4PageStats$.MODULE$.compute"))

  test("every kernel rejects an INT column at analysis under its graft_* name") {
    for ((name, in, kernel, _) <- kernels) withClue(s"$name: ") {
      val e = intercept[AnalysisException](input.select(kernel(col("i"))))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
      val want = if (in == "a") "ARRAY<STRING>" else "STRING"
      assert(e.getMessage.contains(s"$name expects $want, got int"), e.getMessage)
    }
  }

  test("every kernel projection is generated code calling its static forwarder") {
    for ((name, in, kernel, forwarder) <- kernels) withClue(s"$name: ") {
      val df = input.select(kernel(col(in)).as("k"))
      val generated = codegenString(df.queryExecution.executedPlan)
      assert(generated.contains(s"graft.functions.$forwarder("), generated)
      assert(df.collect().length == 2)
    }
  }
}
