package graft

import org.apache.spark.sql.DataFrame
import graft.extract.{Assemble, Pipeline}

/**
 * The constant-empty invariant queries of `SparkEntry.queries` over the
 * label and span paths, run as ScalaTest on the adversarial documents
 * (`tools/adversarial_docs.json`: NULL, empty, whitespace-only and
 * NBSP-padded text, CJK, emoji, `\r`/`\t` noise, 20k-char lines) instead
 * of only inside `graft.Verify`. Each query's `n_mismatch` must be 0; the
 * corpus must yield spans, or the checks would hold vacuously. The spans
 * must not depend on the order in which the transcript rows arrive, nor on
 * a turn-salted partitioning, and the TEI documents must parse back to
 * them.
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

  test("extract, which the order, salting and declarative checks pin, zones in the span walk") {
    val plan = Pipeline.extract(Queries.transcripts(spark, dir)).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val modes = plan.collect { case w: graft.plans.BodySpansExec => w.mode }
    assert(modes == Seq(graft.plans.BodyWalk.TranscriptSpans), plan)
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

  test("TEI span elements parse back to the un-escaped span text") {
    val spans = Pipeline.extract(Queries.transcripts(spark, dir))
    val want = spans.collect().groupBy(_.getAs[String]("conv_id")).map { case (c, rs) =>
      c -> rs.sortBy(_.getAs[Long]("segment_id")).map(r => unescape(r.getAs[String]("text"))).toSeq
    }
    assert(want.values.flatten.exists(_.exists("<>&\"'".contains(_))), "no escaped text")
    val tei = Assemble.teiDocuments(spans).collect()
    assert(tei.length == want.size && tei.nonEmpty)
    val builder = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
    tei.foreach { r =>
      val doc = builder.parse(new org.xml.sax.InputSource(new java.io.StringReader(r.getString(1))))
      val text = doc.getElementsByTagName("text").item(0).getChildNodes
      val got = (0 until text.getLength).map(text.item)
        .collect { case e: org.w3c.dom.Element => e.getTextContent }
      assert(got == want(r.getString(0)), r.getString(0))
    }
  }

  /** The five entities the span text is escaped with, undone (`&amp;` last). */
  private def unescape(s: String): String = s.replace("&lt;", "<").replace("&gt;", ">")
    .replace("&quot;", "\"").replace("&apos;", "'").replace("&amp;", "&")

  Seq("pipeline_rebuild_diff", "w10_label_spans_diff", "pipeline_declarative_diff",
    "w10_chunked_diff", "pipeline_chunked_diff", "tei_sharded_diff",
    "doc_rebuild_diff", "doc_chunked_diff").foreach { q =>
    test(s"$q finds no mismatch on the adversarial corpus") {
      val n = SparkEntry.queries(q)(spark, dir).head().getAs[Long]("n_mismatch")
      assert(n == 0L, s"$q: $n mismatching rows")
    }
  }
}
