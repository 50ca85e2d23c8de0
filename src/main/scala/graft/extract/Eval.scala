package graft.extract

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Reference-style model evaluation as a shippable artifact (the
 * `AbstractTrainer.runEvaluation` role, invoked from
 * `DatacatSegmenterTrainer.java:245` / `DatacatTrainerRunner.java:125-128`
 * and archived as `resources/models/&#42;/prev_models/&#42;/eval.txt`):
 * per-label accuracy / precision / recall / F1 with support, micro and
 * macro averages, and instance-level (whole-document) recall — so a user
 * retraining a zone model can regenerate the eval table as a query
 * instead of reading test-log output, and the driver gate can pin
 * quality floors every round.
 *
 * All metrics are INTEGER basis points (`value·10⁴ div denom`) computed
 * with the F1 identity `2·tp / (2·tp + fp + fn)` — exact integer
 * arithmetic end-to-end, so the table is deterministic and closed-form
 * mirrorable from any (gold, predicted) pair frame.
 */
object Eval {

  /** Root of the reference gold corpus (read-only), the one place its
   * location is spelled; the test fixtures resolve from it too. */
  val referenceRoot = "/root/reference/resources/dataset"

  /** The reference segmenter gold corpus (read-only). */
  val segGoldTeiDir = s"$referenceRoot/datacat-segmenter/corpus/tei"

  /**
   * Gold line/zone pairs for the segmenter corpus as a DataFrame:
   * (conv_id, turn_idx, line_in_turn, line, gold). Only the PATH LIST is
   * driver-side (a labeled eval corpus is hundreds of docs by
   * construction); the TEI read + parse runs executor-side via a typed
   * flatMap, so tasks ship file names, not 30 MB of parsed rows.
   */
  def segGoldLines(spark: SparkSession,
      teiDir: String = segGoldTeiDir): DataFrame = {
    val dirStream = Files.list(Paths.get(teiDir))
    val files =
      try dirStream.iterator.asScala
        .map(_.toString)
        .filter(_.endsWith(".training.datacat.tei.xml"))
        .toSeq.sorted
      finally dirStream.close() // Files.list holds an fd until closed
    import spark.implicits._
    spark.createDataset(files)
      .repartition(math.min(files.size,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .flatMap { path =>
        val name = Paths.get(path).getFileName.toString
          .stripSuffix(".training.datacat.tei.xml")
        val tei = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
        graft.sources.TeiGold.segmenterLineLabels(tei).zipWithIndex.map {
          case ((line, bio), i) => (name, i, 0, line, bio.stripPrefix("I-"))
        }
      }
      .toDF("conv_id", "turn_idx", "line_in_turn", "line", "gold")
  }

  /**
   * Per-label evaluation table from a (gold, predicted) pair frame — one
   * row per label plus `all_micro` / `all_macro` / `all_instance` rows,
   * mirroring the reference eval.txt sections (field table, micro/macro
   * averages, instance-level recall).
   *
   * Output: (label, n_gold, tp, fp, fn, precision_bp, recall_bp, f1_bp,
   * accuracy_bp) — basis points as BIGINT; undefined ratios (empty
   * denominator) are 0, the trainer's convention.
   *
   * Plan shape: one pair-grain aggregate per side (gold/pred label) plus
   * one doc-grain aggregate for the instance row; everything after those
   * partial-agg shuffles is label-cardinality-sized.
   */
  def labelReport(pairsIn: DataFrame, goldCol: String = "gold",
      predCol: String = "pred", docCol: String = "conv_id"): DataFrame = {
    // five aggregate consumers (gold side, pred side, totals, micro,
    // instance) would each recompute the caller's pair-producing subtree
    // (often an FSM labeler + join); the plan barrier pins ONE slim
    // (doc, gold, pred) frame whose upstream stages they all reuse
    val pairs = Chunked.barrier(
      pairsIn.select(col(docCol), col(goldCol), col(predCol)))
    val g = col(goldCol)
    val p = col(predCol)
    val hit = when(g === p, 1L).otherwise(0L)

    val byGold = pairs.groupBy(g.as("label"))
      .agg(count(lit(1)).as("n_gold"), sum(hit).as("tp"))
    val byPred = pairs.groupBy(p.as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val tot = pairs.agg(count(lit(1)).as("n_all"),
      sum(hit).as("n_correct"))

    // integer bp with div (floor) semantics, 0 on empty denominator;
    // num/den are compound SQL fragments — parenthesize BOTH (div binds
    // tighter than +/-)
    def bpExpr(num: String, den: String) =
      expr(s"CASE WHEN ($den) > 0 THEN (($num) * 10000) div ($den) ELSE 0 END")
        .cast("long")

    val per = byGold.join(byPred, Seq("label"), "full_outer")
      .na.fill(0L, Seq("n_gold", "tp", "n_pred"))
      .crossJoin(broadcast(tot))
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("n_gold") - col("tp"))
      .select(col("label"), col("n_gold"), col("tp"), col("fp"), col("fn"),
        bpExpr("tp", "n_pred").as("precision_bp"),
        bpExpr("tp", "n_gold").as("recall_bp"),
        bpExpr("2 * tp", "2 * tp + fp + fn").as("f1_bp"),
        bpExpr("n_all - fp - fn", "n_all").as("accuracy_bp"))

    val micro = pairs.agg(count(lit(1)).as("n_gold"), sum(hit).as("tp"))
      .select(lit("all_micro").as("label"), col("n_gold"), col("tp"),
        (col("n_gold") - col("tp")).as("fp"),
        (col("n_gold") - col("tp")).as("fn"),
        bpExpr("tp", "n_gold").as("precision_bp"),
        bpExpr("tp", "n_gold").as("recall_bp"),
        bpExpr("tp", "n_gold").as("f1_bp"),
        bpExpr("tp", "n_gold").as("accuracy_bp"))

    // macro = integer mean of per-label bp over labels WITH gold support
    // (the trainer averages over evaluated labels only)
    val macroAvg = per.where(col("n_gold") > 0)
      .agg(count(lit(1)).as("nl"),
        sum("precision_bp").as("sp"), sum("recall_bp").as("sr"),
        sum("f1_bp").as("sf"), sum("accuracy_bp").as("sa"),
        sum("n_gold").as("n_gold"), sum("tp").as("tp"),
        sum("fp").as("fp"), sum("fn").as("fn"))
      .select(lit("all_macro").as("label"), col("n_gold"), col("tp"),
        col("fp"), col("fn"),
        expr("sp div nl").cast("long").as("precision_bp"),
        expr("sr div nl").cast("long").as("recall_bp"),
        expr("sf div nl").cast("long").as("f1_bp"),
        expr("sa div nl").cast("long").as("accuracy_bp"))

    // instance level: documents whose every unit is correct
    val inst = pairs.groupBy(col(docCol))
      .agg((count(lit(1)) === sum(hit)).cast("long").as("ok"))
      .agg(count(lit(1)).as("n_gold"), sum("ok").as("tp"))
      .select(lit("all_instance").as("label"), col("n_gold"), col("tp"),
        lit(0L).as("fp"), (col("n_gold") - col("tp")).as("fn"),
        bpExpr("tp", "n_gold").as("precision_bp"),
        bpExpr("tp", "n_gold").as("recall_bp"),
        bpExpr("tp", "n_gold").as("f1_bp"),
        bpExpr("tp", "n_gold").as("accuracy_bp"))

    per.unionByName(micro).unionByName(macroAvg).unionByName(inst)
  }
}
