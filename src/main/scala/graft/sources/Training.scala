package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Training-data sink (SURVEY.md §2.1 K4 and §2.5 J1): the trainer's
 * ordered token↔label alignment merge and the train/eval split sink.
 *
 * J1 alignment reproduces `DatacatSegmenterTrainer.java:150-215` exactly:
 * scan the labeled sequence forward from the last match; ≤5 lookahead;
 * on desync carry the previous tag (counting consecutive failures); abort
 * a document after >20 consecutive failures; drop it from output if ≥10.
 * The reference splits train/eval with an unseeded `Math.random()` per
 * document (`:208`) — we hash (doc, seed) instead so splits are
 * reproducible (SURVEY.md K4 note).
 */
object Training {

  /** Unicode normalization used by the trainer before token comparison
   * (`UnicodeUtil.normaliseTextAndRemoveSpaces`, called at
   * `DatacatSegmenterTrainer.java:166,176`): NFC + strip all spaces. */
  def normalizeToken(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      .replaceAll("[\\p{Zs}   ]", "")

  final case class AlignResult(rows: Vector[String], invalidTail: Int, dropped: Boolean)

  /**
   * J1: align one document's raw featured lines with its SAX-extracted
   * `(token, label)` sequence. Returns the `featureRow + " " + label` rows
   * (reference training-file format).
   */
  def alignDoc(rawLines: IndexedSeq[String],
      labeled: IndexedSeq[(String, String)]): AlignResult = {
    val out = Vector.newBuilder[String]
    var q = 0
    var previousTag: String = null
    var nbInvalid = 0
    var aborted = false
    val it = rawLines.iterator
    while (it.hasNext && !aborted) {
      val line = it.next()
      val ii = line.indexOf(' ')
      val token = if (ii != -1) normalizeToken(line.substring(0, ii)) else null
      var pp = q
      var done = false
      while (pp < labeled.size && !done) {
        val localToken = normalizeToken(labeled(pp)._1)
        if (localToken == token) {
          val tag = labeled(pp)._2
          out += s"$line $tag"
          previousTag = tag
          q = pp + 1
          nbInvalid = 0
          done = true
        } else if (pp - q > 5) {
          nbInvalid += 1
          if (previousTag != null) out += s"$line $previousTag"
          done = true
        } else pp += 1
      }
      if (nbInvalid > 20) aborted = true
    }
    AlignResult(out.result(), nbInvalid, dropped = nbInvalid >= 10)
  }

  /**
   * J1 over a corpus: `raw` has (doc_id, row_idx, line); `gold` has
   * (doc_id, unit_idx, token, label). One `mapGroups` per document —
   * documents are independent, so this parallelizes per doc.
   */
  def align(raw: DataFrame, gold: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val rawDs = raw.select("doc_id", "row_idx", "line")
      .as[(String, Int, String)]
    val goldDs = gold.select("doc_id", "unit_idx", "token", "label")
      .as[(String, Long, String, String)]
    val rawG = rawDs.groupByKey(_._1)
    val goldG = goldDs.groupByKey(_._1)
    rawG.cogroup(goldG) { (doc, rs, gs) =>
      val rawLines = rs.toVector.sortBy(_._2).map(_._3)
      val labeled = gs.toVector.sortBy(_._2).map(t => (t._3, t._4))
      val res = alignDoc(rawLines, labeled)
      if (res.dropped) Iterator.empty
      else res.rows.iterator.zipWithIndex.map { case (r, i) => (doc, i, r) }
    }.toDF("doc_id", "row_idx", "labeled_row")
  }

  /**
   * K4: train/eval split sink — one blank-line-separated sequence block per
   * document, deterministic split by hash(doc_id, seed).
   */
  def writeTrainEval(aligned: DataFrame, trainPath: String, evalPath: String,
      splitRatio: Double = 0.9, seed: Long = 42L): Unit = {
    val perDoc = aligned
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("row_idx"), col("labeled_row")))),
        x => x.getField("labeled_row")), "\n").as("block"))
      .withColumn("is_train",
        pmod(abs(hash(col("doc_id"), lit(seed))), lit(1000)) < splitRatio * 1000)
    perDoc.where(col("is_train")).select(concat(col("block"), lit("\n")).as("value"))
      .write.mode("overwrite").text(trainPath)
    perDoc.where(!col("is_train")).select(concat(col("block"), lit("\n")).as("value"))
      .write.mode("overwrite").text(evalPath)
  }
}
