package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Spark-native trained zone labeler — the E3 trainer lifecycle
 * (`DatacatTrainerRunner.java:42-148` → Wapiti L-BFGS, 6,781 s single-node
 * for the reference's segmenter) re-expressed as DISTRIBUTED DataFrame
 * aggregations: a multinomial naive-Bayes line model whose "training" is one
 * groupBy over (feature, label) counts and whose "inference" is a broadcast
 * join + per-line log-prob sum + argmax. Everything is Catalyst — training
 * scales to any corpus size (it is a pair of shuffles), inference adds no
 * exchange beyond the feature windows (the model side is broadcast).
 *
 * Features per line (shared column expression between train and apply, so
 * the two can never drift): lowercased letter-token unigrams, plus shape
 * symbols — numbered-line marker, all-caps, dotted form line, relative
 * document-position decile, and the previous line's marker/shape (cheap
 * sequential context standing in for the CRF's window templates).
 */
object ZoneModel {

  /** Line-shape + unigram feature array (see class doc). Needs `line_no`
   * (1-based position) and `n_lines` per conversation already computed. */
  private def featureArray(line: Column, lineNo: Column, nLines: Column,
      prevLine: Column): Column = {
    val t = trim(line)
    // lexical features = first two letter-tokens only (the reference's own
    // segmenter features use the line's first+second token,
    // FeaturesVectorDatacatSegmenter.java:56-80) — full bags of unigrams
    // swamp the structural signal under naive-Bayes independence
    val toks = slice(
      filter(split(lower(t), "[^\\p{L}]+"), x => length(x) >= 2), 1, 2)
    def shape(c: Column): Column = {
      val isMark = c.rlike("^[\\*\"«'~]?\\p{Nd}+([-_–−.\\s]|$)")
      val isCaps = length(c) >= 4 && !c.rlike("\\p{Ll}") && c.rlike("\\p{Lu}")
      val isForm = length(c) > 6 &&
        length(regexp_replace(c, "[^.]", "")) * 2 > length(c)
      array(
        when(isMark, "MARK").otherwise("NOMARK"),
        when(isCaps, "CAPS").otherwise("NOCAPS"),
        when(isForm, "FORM").otherwise("NOFORM"))
    }
    val pos = concat(lit("POS:"),
      least(floor(lineNo * 10 / greatest(nLines, lit(1))), lit(9)))
    val lenBin = concat(lit("LEN:"), least(floor(length(t) / lit(15)), lit(6)))
    val prevShape = transform(shape(coalesce(trim(prevLine), lit(""))),
      x => concat(lit("P"), x))
    concat(array_distinct(toks), shape(t), array(pos, lenBin), prevShape)
  }

  /** lines + `_feats` array; input needs (conv_id, turn_idx, line_in_turn,
   * line). Besides per-line shape features this adds the NEIGHBORHOOD
   * statistics that separate structurally-identical lines (a numbered body
   * entry vs a numbered price-list row): marker density and letter richness
   * over the surrounding 21 lines, binned — the same windows the heuristic
   * [[Labeler.zonesContent]] uses. */
  def withFeatures(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val wOrd = Window.partitionBy("conv_id").orderBy("turn_idx", "line_in_turn")
    val wConv = Window.partitionBy("conv_id")
    featureCols(
      lines
        .withColumn("_line_no", row_number().over(wOrd))
        .withColumn("_n_lines", count(lit(1)).over(wConv)),
      wOrd, lineCol, hasHint = lines.columns.contains("hint"))
  }

  /**
   * Chunk-parallel twin of [[withFeatures]] — row-identical `_feats`
   * (DocumentChunkedSpec differential), for the giant-conversation
   * document-mode path: global `_line_no` and the conversation line count
   * are two-level ([[Chunked.withGlobalLineNo]] + a tiny chunk-keyed totals
   * join), and the ±10 neighborhood windows (plus `lag(_prev_line)`) run
   * per (conv_id, _chunk) over a lead-10/trail-10 phantom adoption
   * ([[Chunked.adoptByLineNo]]). Leaves `_chunk` on the output for
   * downstream chunk-keyed stages.
   */
  def withFeaturesChunked(lines: DataFrame, chunkTurns: Int,
      lineCol: String = "line"): DataFrame = {
    val numbered = Chunked.withGlobalLineNo(lines, chunkTurns)
    val nPartials = numbered.groupBy("conv_id", "_chunk")
      .agg(count(lit(1)).as("_cn"))
    val nTotals = nPartials.groupBy("conv_id").agg(sum("_cn").as("_n_lines"))
    val nKeyed = nPartials.select("conv_id", "_chunk")
      .join(nTotals, Seq("conv_id"))
    val wCh = Window.partitionBy("conv_id", "_chunk").orderBy("_line_no")
    featureCols(
      Chunked.adoptByLineNo(
        numbered.join(nKeyed, Seq("conv_id", "_chunk")), lead = 10, trail = 10),
      wCh, lineCol, hasHint = lines.columns.contains("hint"))
      .where(col("_ph")=== false).drop("_ph")
  }

  /** Shared feature assembly of the two paths above: input already carries
   * `_line_no` and `_n_lines`; the caller supplies the ordering window. */
  private def featureCols(df: DataFrame,
      wOrd: org.apache.spark.sql.expressions.WindowSpec,
      lineCol: String, hasHint: Boolean): DataFrame = {
    val wNear = wOrd.rowsBetween(-10, 10)
    val t = trim(col(lineCol))
    val isMark = t.rlike("^[\\*\"«'~]?\\p{Nd}+([-_–−.\\s]|$)") ||
      t.rlike("^[iIjJ!,]\\p{Nd}+")
    df
      .withColumn("_prev_line", lag(col(lineCol), 1).over(wOrd))
      .withColumn("_mark_frac",
        avg(isMark.cast("double")).over(wNear))
      .withColumn("_letter_frac",
        sum(length(graft.functions.LineKernels.lettersOf(t)).cast("double")).over(wNear) /
          greatest(sum(length(t).cast("double")).over(wNear), lit(1.0)))
      .withColumn("_feats",
        concat(
          // coalesce: a NULL line must still produce a (shape-only) feature
          // row — featureArray would otherwise yield a null array, and
          // apply()'s posexplode would silently DROP the line instead of
          // scoring it by priors
          featureArray(coalesce(col(lineCol), lit("")),
            col("_line_no"), col("_n_lines"), col("_prev_line")),
          array(
            concat(lit("MF:"), least(floor(col("_mark_frac") * 10), lit(9))),
            concat(lit("LF:"), least(floor(col("_letter_frac") * 10), lit(9)))),
          // stacking: when the caller provides the heuristic labeler's zone
          // as a `hint` column, the model learns when to trust it
          if (hasHint)
            array(concat(lit("H:"), coalesce(col("hint"), lit("none"))))
          else array().cast("array<string>")))
      .drop("_line_no", "_n_lines", "_prev_line", "_mark_frac", "_letter_frac")
  }

  /**
   * Train: one groupBy over (feature, label) + one over label. Returns the
   * model as a SMALL DataFrame `(f, w_<label>...)` of Laplace-smoothed
   * log-likelihood deltas, ready to broadcast — plus the label priors.
   * `minCount` prunes the tail vocabulary (bounds the broadcast).
   */
  final case class Model(weights: DataFrame, priors: Map[String, Double],
      labels: Seq[String])

  def train(lines: DataFrame, labelCol: String = "zone",
      lineCol: String = "line", minCount: Long = 3): Model = {
    val spark = lines.sparkSession
    import spark.implicits._
    val feats = withFeatures(lines, lineCol)
      .select(col(labelCol).as("label"), explode(col("_feats")).as("f"))
    val counts = feats.groupBy("label", "f").count()
      .where(col("count") >= minCount)
      .as[(String, String, Long)].collect()
    val labelTotals = feats.groupBy("label").count().as[(String, Long)].collect().toMap
    val labels = labelTotals.keys.toSeq.sorted
    val vocab = counts.map(_._2).distinct.length.toDouble
    val nDocsByLabel = lines.groupBy(labelCol).count()
      .as[(String, Long)].collect().toMap
    val totalLines = nDocsByLabel.values.sum.toDouble
    val priors = labels.map(l =>
      l -> math.log(nDocsByLabel.getOrElse(l, 0L) / totalLines)).toMap
    // rows: f -> log P(f|label), Laplace-smoothed, one wide column per label.
    // Features outside the pruned vocab contribute nothing at apply time
    // (all labels equally), which only drops the tiny per-label OOV
    // normalization term — measured harmless on the held-out split.
    val byFeat = counts.groupBy(_._2)
    val rows = byFeat.iterator.map { case (f, cs) =>
      val cMap = cs.map(c => c._1 -> c._3).toMap
      val ws = labels.map { l =>
        math.log((cMap.getOrElse(l, 0L) + 1.0) / (labelTotals(l) + vocab))
      }
      (f, ws)
    }.toSeq
    val weights = rows.toDF("f", "ws")
      .select(col("f") +: labels.indices.map(i =>
        col("ws").getItem(i).as(s"w_$i")): _*)
    Model(weights, priors, labels)
  }

  /**
   * Apply: explode features → broadcast-join the weight table → sum per line
   * → argmax(label score + prior). Lines whose features are all OOV fall
   * back to the prior argmax. Adds `zone_pred`.
   *
   * `smooth` > 0 averages each label's per-line log-score over ±smooth
   * neighboring lines before the argmax — a cheap declarative stand-in for
   * the CRF's sequential coupling (zones are long runs, so a line's
   * neighbors carry evidence about it).
   */
  def apply(lines: DataFrame, model: Model, lineCol: String = "line",
      smooth: Int = 0, chunkTurns: Option[Int] = None): DataFrame = {
    // chunked feature computation for giant-conversation corpora; the score
    // window below is (conv, turn, line)-grain — already skew-free — and
    // smoothing (a conversation-grain window) is the sequential path's tool
    require(chunkTurns.isEmpty || smooth == 0,
      "smoothing is conversation-grain; not supported on the chunked path")
    // Score assembly is a WINDOW over the exploded features, not a groupBy
    // + join-back on the line key: explode → broadcast-join weights (left,
    // so OOV features contribute 0) → per-line window sum → keep the first
    // feature row of each line. The line-keyed window's ClusteredDistribution
    // is satisfied by the pipeline's existing hash(conv_id) exchange
    // (partitioning expressions ⊆ clustering keys), so the modeled path
    // adds NO exchange — the old join added two conv-prefixed shuffles and
    // recomputed the feature branch twice.
    val keyed = chunkTurns match {
      case Some(c) => withFeaturesChunked(lines, c, lineCol).drop("_chunk")
      case None => withFeatures(lines, lineCol)
    }
    // per-line score assembly as ONE hash aggregate over the exploded
    // features (line payload rides as first() — every group's payload rows
    // are replicas of one line, so first() is deterministic): map-side
    // partial aggregation collapses the ~15× explode before any exchange,
    // where the previous window-sum formulation sorted the full exploded
    // frame (measured ~2× on pipeline_doc_spans). The groupBy's
    // ClusteredDistribution is still satisfied by hash(conv_id).
    val exploded = keyed
      .select(col("*"), explode(col("_feats")).as("f"))
      .join(broadcast(model.weights), Seq("f"), "left")
    val keyCols = Seq("conv_id", "turn_idx", "line_in_turn")
    val aggs = keyed.columns.toSeq.filterNot(keyCols.contains)
      .map(c => first(col(c)).as(c)) ++
      model.labels.indices.map(i => sum(coalesce(col(s"w_$i"), lit(0.0))).as(s"s_$i"))
    val withScores = exploded.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    def total(i: Int): Column =
      col(s"s_$i") + lit(model.priors(model.labels(i)))
    val smoothed =
      if (smooth <= 0) model.labels.indices.map(total)
      else {
        val w = Window.partitionBy("conv_id")
          .orderBy("turn_idx", "line_in_turn").rowsBetween(-smooth, smooth)
        model.labels.indices.map(i => avg(total(i)).over(w))
      }
    // argmax over (score + prior) via a greatest() of structs trick:
    // max of struct(total, label) orders by total then label
    val packed = array(model.labels.zipWithIndex.map { case (l, i) =>
      struct(smoothed(i).as("v"), lit(l).as("l"))
    }: _*)
    withScores
      .withColumn("zone_pred", array_max(packed).getField("l"))
      .drop(model.labels.indices.map(i => s"s_$i"): _*)
      .drop("_feats")
  }
}
