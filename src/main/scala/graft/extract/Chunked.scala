package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Shared machinery of the chunk-parallel twins
 * ([[Features.bodyChunked]], [[Assemble.bodySpansChunked]],
 * [[Structure.tokensFromLinesChunked]], [[Labeler.bodyLabelsChunked]]):
 * split a conversation into `chunkTurns`-turn chunks so its
 * conversation-grain windows become (conv_id, chunk)-keyed — ONE giant
 * conversation then computes on nTurns/chunkTurns tasks — and import
 * PHANTOM copies of each chunk's neighbors' edge rows so lag/lead(1)
 * stays exact at chunk boundaries.
 */
private[graft] object Chunked {

  val ordCols = Seq("turn_idx", "line_in_turn", "tok_idx")

  /** Lazy plan barrier between macro-stages of DEEP chunk-parallel
   * cascades — see [[org.apache.spark.sql.graftbridge.bridge.planBarrier]].
   * Catalyst clones and analyses a plan DAG as a TREE per Dataset
   * operation, so chained two-level chunk aggregations that each reference
   * their input 2-3× grow exponentially: the document-mode chunked
   * pipeline's logical tree expanded combinatorially (Catalyst spent 28 MINUTES in
   * `LogicalPlan.clone` on a 150-line input before the barriers went in;
   * with them the same differential runs in seconds). */
  def barrier(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.bridge.planBarrier(df)

  /** Chunk id of a turn (a turn never straddles chunks). */
  def chunkCol(chunkTurns: Int) = expr(s"int(turn_idx div $chunkTurns)")

  /**
   * Adds `_chunk` and `_ph`, and unions in two phantom rows per chunk: a
   * copy of the previous EXISTING chunk's last row and of the next existing
   * chunk's first row (turn gaps may leave chunk ids absent — lag/lead on
   * the chunk-level frame skips them). After the caller's windowed pass,
   * real rows (`!_ph`) carry exact lag/lead(1) values; phantom rows are
   * garbage and must be filtered out. The edge frame is one row per chunk —
   * tiny, so its conversation-grain windows are not a skew surface.
   */
  def augmentBoundaries(df: DataFrame, chunkTurns: Int): DataFrame = {
    require(chunkTurns > 0, "chunkTurns must be positive")
    val inCols = df.columns.toSeq
    val chunked = df.withColumn("_chunk", chunkCol(chunkTurns))
    val ordS = struct(ordCols.map(col): _*)
    val wChunks = Window.partitionBy("conv_id").orderBy("_chunk")
    val phantoms = chunked.groupBy("conv_id", "_chunk")
      .agg(min_by(struct(inCols.map(col): _*), ordS).as("_first"),
        max_by(struct(inCols.map(col): _*), ordS).as("_last"))
      .withColumn("_from_prev", lag(col("_last"), 1).over(wChunks))
      .withColumn("_from_next", lead(col("_first"), 1).over(wChunks))
      .select(col("conv_id").as("_c"), col("_chunk"),
        explode(array(col("_from_prev"), col("_from_next"))).as("_p"))
      .where(col("_p").isNotNull)
      .select(col("_chunk") +: inCols.map(c => col(s"_p.$c").as(c)): _*)
      .withColumn("_ph", lit(true))
    chunked.withColumn("_ph", lit(false))
      .unionByName(phantoms.select((inCols :+ "_chunk" :+ "_ph").map(col): _*))
  }

  /**
   * Two-level GLOBAL line numbering (SURVEY §8.2 #1, step 1): adds `_chunk`
   * and a conversation-global 1-based `_line_no` without any conv-grain
   * window — within-chunk `row_number` plus a per-chunk offset cumsum over
   * the one-row-per-chunk frame, joined back on (conv_id, _chunk).
   */
  def withGlobalLineNo(df: DataFrame, chunkTurns: Int,
      orderCols: Seq[String] = Seq("turn_idx", "line_in_turn"),
      out: String = "_line_no"): DataFrame = {
    require(chunkTurns > 0, "chunkTurns must be positive")
    val chunked = df.withColumn("_chunk", chunkCol(chunkTurns))
    val wLocal = Window.partitionBy("conv_id", "_chunk").orderBy(orderCols.map(col): _*)
    val offsets = chunked.groupBy("conv_id", "_chunk")
      .agg(count(lit(1)).as("_n"))
      .withColumn("_ln_off", coalesce(sum(col("_n")).over(
        Window.partitionBy("conv_id").orderBy("_chunk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("conv_id", "_chunk", "_ln_off")
    chunked
      .join(offsets, Seq("conv_id", "_chunk"))
      .withColumn(out, col("_ln_off") + row_number().over(wLocal))
      .drop("_ln_off")
  }

  /**
   * Range phantom adoption (SURVEY §8.2 #1, step 2) — the K-line
   * generalization of [[augmentBoundaries]]'s one-row phantoms, for
   * BOUNDED windows wider than lag/lead(1): each chunk adopts copies of the
   * `lead` lines before its first line and the `trail` lines after its
   * last (by global `_line_no`), marked `_ph`; bounded windows computed
   * within (conv_id, _chunk) ordered by `_line_no` are then exact for all
   * real rows. A chunk with fewer than K lines borrows from SEVERAL
   * neighbors: the source chunks are found on the tiny chunk-range frame
   * via a windowed neighbor collect (each of the ≤K preceding chunks holds
   * ≥1 line, so K neighbors always cover K lines — no quadratic chunk×chunk
   * range join), and the adoption join itself is keyed (conv_id, _chunk):
   * balanced even for a 10^9-turn conversation.
   *
   * Input needs conv_id, `_chunk`, `_line_no` (from [[withGlobalLineNo]]).
   */
  def adoptByLineNo(df: DataFrame, lead: Int, trail: Int,
      lineNo: String = "_line_no"): DataFrame = {
    require(lead >= 0 && trail >= 0 && lead + trail > 0, "need a nonzero window")
    val inCols = df.columns.toSeq
    val ranges = df.groupBy("conv_id", "_chunk")
      .agg(min(col(lineNo)).as("_start"), max(col(lineNo)).as("_end"))
    val wR = Window.partitionBy("conv_id").orderBy("_chunk")
    val src = struct(col("_chunk").as("_src"), col("_start").as("_s"),
      col("_end").as("_e"))
    // for each TARGET chunk: neighbor chunks that own part of its lead /
    // trail interval, with the interval bounds (one row per (src, tgt) pair)
    val mapping = ranges
      .withColumn("_prevs",
        when(lit(lead > 0), collect_list(src).over(
          wR.rowsBetween(-math.max(lead, 1), -1))).otherwise(array()))
      .withColumn("_nexts",
        when(lit(trail > 0), collect_list(src).over(
          wR.rowsBetween(1, math.max(trail, 1)))).otherwise(array()))
      .select(col("conv_id"), col("_chunk").as("_tgt"),
        col("_start"), col("_end"),
        explode(concat(
          transform(col("_prevs"), p => struct(p.getField("_src").as("_src"),
            (col("_start") - lead).as("_lo"), (col("_start") - 1).as("_hi"),
            p.getField("_s").as("_s"), p.getField("_e").as("_e"))),
          transform(col("_nexts"), p => struct(p.getField("_src").as("_src"),
            (col("_end") + 1).as("_lo"), (col("_end") + trail).as("_hi"),
            p.getField("_s").as("_s"), p.getField("_e").as("_e"))))).as("_m"))
      .where(col("_m._e") >= col("_m._lo") && col("_m._s") <= col("_m._hi"))
      .select(col("conv_id"), col("_m._src").as("_chunk"),
        col("_tgt"), col("_m._lo").as("_lo"), col("_m._hi").as("_hi"))
    val phantomRows = df
      .join(mapping, Seq("conv_id", "_chunk"))
      .where(col(lineNo).between(col("_lo"), col("_hi")))
      .select(inCols.filterNot(_ == "_chunk").map(col) :+ col("_tgt").as("_chunk"): _*)
      .withColumn("_ph", lit(true))
    df.withColumn("_ph", lit(false))
      .unionByName(phantomRows.select((inCols :+ "_ph").map(col): _*))
  }
}
