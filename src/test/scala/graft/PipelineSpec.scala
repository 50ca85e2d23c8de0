package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.extract.{Assemble, LocalSnapshotIO, Pipeline, Synthetic}

/** Ordering/salting invariance + checkpoint/resume (north-rule items). */
class PipelineSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("conv_id", "segment_id", "label", "text")
      .collect().map(_.mkString("")).sorted.toSeq

  test("extraction output is invariant to input order and partitioning") {
    val turns = Synthetic.transcripts(spark, 25)
    val base = canon(Pipeline.extract(turns))
    assert(base.nonEmpty)

    val shuffled = turns.orderBy(rand(7)).repartition(7)
    assert(canon(Pipeline.extract(shuffled)) == base, "shuffled input changed output")

    val salted = Pipeline.saltedByTurn(turns, 5, salt = 3)
    assert(canon(Pipeline.extract(salted)) == base, "salting changed output")
  }

  test("fused span emission is byte-identical to the declarative assembly") {
    val turns = Synthetic.transcripts(spark, 40)
    val fused = Pipeline.extract(turns)
      .select("conv_id", "segment_id", "label", "turn_idx", "text")
      .collect().map(_.mkString("")).sorted.toSeq
    val decl = Pipeline.extractDeclarative(turns)
      .select("conv_id", "segment_id", "label", "turn_idx", "text")
      .collect().map(_.mkString("")).sorted.toSeq
    assert(fused.nonEmpty)
    assert(fused == decl)
  }

  test("labels are deterministic across runs") {
    val turns = Synthetic.transcripts(spark, 10)
    val a = canon(Pipeline.extract(turns))
    val b = canon(Pipeline.extract(Synthetic.transcripts(spark, 10)))
    assert(a == b)
  }

  test("resumable run: committed stages are skipped, output identical") {
    val root = Files.createTempDirectory("graft-resume").toString
    val turns = Synthetic.transcripts(spark, 12)

    val io1 = new LocalSnapshotIO(root)
    val full = canon(Pipeline.runResumable(turns, io1, "run1"))
    assert(full == canon(Pipeline.extract(turns)), "resumable != direct")

    // lineage rows were committed per stage
    val lin = io1.read(spark, "lineage_labeled")
    assert(lin.count() > 0)
    assert(lin.columns.toSet ==
      Set("stage", "partition_id", "rows", "bytes", "parse_failures"))

    // "kill after stage 1": wipe only the spans manifest; stage 1 must be
    // reused (manifest id run1), spans recomputed identically under run2
    Files.delete(Paths.get(root, "spans", "_manifest.json"))
    val io2 = new LocalSnapshotIO(root)
    val resumed = canon(Pipeline.runResumable(turns.limit(0), io2, "run2"))
    // turns.limit(0): the labeled stage MUST come from the checkpoint —
    // an empty input would otherwise produce an empty result
    assert(resumed == full, "resume did not reuse the committed stage")
    assert(io2.committedSnapshot("labeled").contains("run1"))
    assert(io2.committedSnapshot("spans").contains("run2"))
  }

  test("resumed spans follow the committed labels, not a re-run of the FSM") {
    val root = Files.createTempDirectory("graft-resume-labels").toString
    val turns = Synthetic.transcripts(spark, 12)
    val io1 = new LocalSnapshotIO(root)
    Pipeline.runResumable(turns, io1, "run1")

    // rewrite the committed labels: every line's first token opens an
    // <entry>, a labeling the FSM never produces for this corpus
    val rewritten = io1.read(spark, "labeled")
      .withColumn("label", when(col("tok_idx") === 0, lit("I-<entry>"))
        .otherwise(col("label")))
    io1.commit(rewritten, "labeled", "edit")
    val expected = Assemble.bodySpans(io1.read(spark, "labeled"))
      .select("conv_id", "segment_id", "label", "turn_idx", "text")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(expected.toSet != Pipeline.extract(turns)
      .select("conv_id", "segment_id", "label", "turn_idx", "text")
      .collect().map(_.mkString("|")).toSet, "the rewrite must change the spans")

    Files.delete(Paths.get(root, "spans", "_manifest.json"))
    val io2 = new LocalSnapshotIO(root)
    val resumed = Pipeline.runResumable(turns.limit(0), io2, "run2")
      .select("conv_id", "segment_id", "label", "turn_idx", "text")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(resumed == expected, "resumed spans do not follow the committed labels")
    assert(io2.committedSnapshot("labeled").contains("edit"))
  }

  test("resumable run on the chunk-parallel path: identical output, resumable mid-run") {
    val root = Files.createTempDirectory("graft-resume-chunked").toString
    val turns = Synthetic.transcripts(spark, 12)

    val io1 = new LocalSnapshotIO(root)
    val full = canon(Pipeline.runResumable(turns, io1, "run1", chunkTurns = Some(3)))
    assert(full == canon(Pipeline.extract(turns)), "chunked resumable != direct")

    // kill after stage 1: the chunked span assembly must rebuild spans from
    // the committed labeled table alone
    Files.delete(Paths.get(root, "spans", "_manifest.json"))
    val io2 = new LocalSnapshotIO(root)
    val resumed = canon(
      Pipeline.runResumable(turns.limit(0), io2, "run2", chunkTurns = Some(3)))
    assert(resumed == full, "chunked resume did not reuse the committed stage")
    assert(io2.committedSnapshot("labeled").contains("run1"))
  }
}
