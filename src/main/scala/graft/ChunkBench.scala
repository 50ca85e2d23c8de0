package graft

import org.apache.spark.sql.DataFrame
import graft.extract.{Features, Labeler, Pipeline, Structure, Synthetic}

/**
 * Single-conversation skew benchmark: the sequential FSM
 * ([[Labeler.bodyLabels]]) labels one giant conversation on ONE task; the
 * chunk-parallel FSM ([[Labeler.bodyLabelsChunked]]) spreads it over
 * nTurns/chunkTurns tasks (exact, ChunkedLabelerSpec). Both are the label
 * sink of [[graft.plans.BodySpans]]; the chunked path first runs its
 * transition sink. This main measures
 * both on the same one-conversation corpus — the isolated FSM stage from a
 * materialized feature table, and (ChunkedPipelineSpec differential) the
 * FULL pipeline [[Pipeline.extract]] vs [[Pipeline.extractChunked]] from
 * raw turns — and prints one JSON line.
 *
 *   SPARK_GRAFT_CHUNK_TURNS=1000000 sbt "runMain graft.ChunkBench"
 */
object ChunkBench {

  private def feats(turns: DataFrame): DataFrame =
    Features.body(Structure.tokensFromLines(
      Structure.keptLines(turns)
        .select("conv_id", "turn_idx", "role", "tool", "block_idx",
          "line_in_turn", "line_idx", "line")))
      .select("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val nTurns = sys.env.getOrElse("SPARK_GRAFT_CHUNK_TURNS", "1000000").toLong
    val chunk = sys.env.getOrElse("SPARK_GRAFT_CHUNK_SIZE", "16384").toInt
    // e2eOnly skips the isolated-FSM stage measurements (fast A/B loops)
    val e2eOnly = sys.env.get("SPARK_GRAFT_CHUNK_E2E_ONLY").contains("1")
    val spark = Bench.mkSpark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val reps = sys.env.getOrElse("SPARK_GRAFT_CHUNK_REPS", "2").toInt
    val (seqSec, chkSec) = if (e2eOnly) (0.0, 0.0) else {
      // the labeling stage reads a MATERIALIZED token-feature table (the
      // committed-stage shape of Pipeline.runResumable) so the measurement
      // isolates the FSM stage — the upstream's own conversation-grain lags
      // are a separate (turn-keyed, window-stitchable) concern
      val dir = "/tmp/graft-chunk-bench/feats"
      feats(Synthetic.giantConv(spark, nTurns)).write.mode("overwrite").parquet(dir)
      val f = spark.read.parquet(dir)

      // JIT/codegen warmup on a small slice of the same plans
      val warm = f.where(org.apache.spark.sql.functions.col("turn_idx") < 20000)
      (1 to 2).foreach { _ =>
        noop(Labeler.bodyLabels(warm))
        noop(Labeler.bodyLabelsChunked(warm, chunk, materialize = false))
      }
      val s = (1 to reps).map { _ =>
        Bench.time(noop(Labeler.bodyLabels(f)))._2
      }.min
      val c = (1 to reps).map { _ =>
        Bench.time(noop(Labeler.bodyLabelsChunked(f, chunk, materialize = false)))._2
      }.min
      (s, c)
    }

    // full pipeline from raw turns (turns table materialized so both paths
    // pay the same scan)
    val turnsDir = "/tmp/graft-chunk-bench/turns"
    Synthetic.giantConv(spark, nTurns).write.mode("overwrite").parquet(turnsDir)
    val turns = spark.read.parquet(turnsDir)
    val warmT = turns.where(org.apache.spark.sql.functions.col("turn_idx") < 20000)
    noop(Pipeline.extract(warmT))
    noop(Pipeline.extractChunked(warmT, chunk))
    val e2eSeqSec = (1 to reps).map { _ =>
      Bench.time(noop(Pipeline.extract(turns)))._2
    }.min
    val e2eChkSec = (1 to reps).map { _ =>
      Bench.time(noop(Pipeline.extractChunked(turns, chunk)))._2
    }.min

    // e2e-only runs skip the stage measurements: emit JSON null for them
    // (0.0/0.0 would print the non-JSON literal NaN and read as real data)
    val stageJson =
      if (e2eOnly) """"sequential_sec":null,"chunked_sec":null,"speedup":null,"""
      else f""""sequential_sec":$seqSec%.2f,"chunked_sec":$chkSec%.2f,""" +
        f""""speedup":${seqSec / chkSec}%.2f,"""
    val json =
      f"""{"metric":"single_conv_fsm","turns":$nTurns,"chunk_turns":$chunk,""" +
        f""""cpus":"$cpus",""" + stageJson +
        f""""e2e_sequential_sec":$e2eSeqSec%.2f,"e2e_chunked_sec":$e2eChkSec%.2f,""" +
        f""""e2e_speedup":${e2eSeqSec / e2eChkSec}%.2f}"""
    println(json)
    spark.stop()
  }
}
