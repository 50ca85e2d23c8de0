package graft

import org.apache.spark.sql.DataFrame
import graft.extract.Pipeline

/**
 * The constant-empty invariant queries of `SparkEntry.queries` over the
 * label and span paths, run as ScalaTest on the adversarial documents
 * (`tools/adversarial_docs.json`: NULL, empty, whitespace-only and
 * NBSP-padded text, CJK, emoji, `\r`/`\t` noise, 20k-char lines) instead
 * of only inside `graft.Verify`. Each query's `n_mismatch` must be 0; the
 * corpus must yield spans, or the checks would hold vacuously. The spans
 * must not depend on the order in which the transcript rows arrive, nor on
 * a turn-salted partitioning.
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

  private def sorted(spans: DataFrame): Seq[String] =
    spans.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq

  test("extract and extractChunked spans do not depend on the input row order") {
    val asRead = Queries.transcripts(spark, dir)
    val reversed = spark.createDataFrame(
      spark.sparkContext.parallelize(asRead.collect().toSeq.reverse, 3), asRead.schema)
    val shuffled = asRead.repartition(7)
    val salted = Pipeline.saltedByTurn(asRead, 5, salt = 3)
    Seq[(String, DataFrame => DataFrame)](
      "extract" -> (t => Pipeline.extract(t)),
      "extractChunked" -> (t => Pipeline.extractChunked(t, chunkTurns = 3))
    ).foreach { case (path, run) =>
      val want = sorted(run(asRead))
      assert(want.nonEmpty, path)
      Seq("reversed" -> reversed, "repartition(7)" -> shuffled,
        "saltedByTurn(5, salt = 3)" -> salted).foreach { case (order, t) =>
        assert(sorted(run(t)) == want, s"$path over the $order transcripts")
      }
    }
  }

  Seq("pipeline_rebuild_diff", "w10_label_spans_diff", "pipeline_declarative_diff",
    "w10_chunked_diff", "pipeline_chunked_diff", "tei_sharded_diff",
    "doc_rebuild_diff", "doc_chunked_diff").foreach { q =>
    test(s"$q finds no mismatch on the adversarial corpus") {
      val n = SparkEntry.queries(q)(spark, dir).head().getAs[Long]("n_mismatch")
      assert(n == 0L, s"$q: $n mismatching rows")
    }
  }
}
