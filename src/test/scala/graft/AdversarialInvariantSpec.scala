package graft

import graft.extract.Pipeline

/**
 * The constant-empty invariant queries of `SparkEntry.queries` over the
 * label and span paths, run as ScalaTest on the adversarial documents
 * (`tools/adversarial_docs.json`: NULL, empty, whitespace-only and
 * NBSP-padded text, CJK, emoji, `\r`/`\t` noise, 20k-char lines) instead
 * of only inside `graft.Verify`. Each query's `n_mismatch` must be 0; the
 * corpus must yield spans, or the checks would hold vacuously.
 */
class AdversarialInvariantSpec extends SparkSpec {

  /** A data directory whose `documents.parquet` is the adversarial corpus. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-adversarial").toString
    spark.read.option("multiLine", "true").json("tools/adversarial_docs.json")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("the adversarial corpus yields body spans") {
    assert(!Pipeline.extract(Queries.transcripts(spark, dir)).isEmpty)
  }

  Seq("pipeline_rebuild_diff", "w10_label_spans_diff", "pipeline_declarative_diff",
    "w10_chunked_diff", "pipeline_chunked_diff", "tei_sharded_diff").foreach { q =>
    test(s"$q finds no mismatch on the adversarial corpus") {
      val n = SparkEntry.queries(q)(spark, dir).head().getAs[Long]("n_mismatch")
      assert(n == 0L, s"$q: $n mismatching rows")
    }
  }
}
