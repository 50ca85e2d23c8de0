package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a large-scale training-data pipeline:
 * language ID (stopword heuristic), quality scoring, token counting,
 * document fingerprinting. All pure Catalyst expressions (codegen'd), all
 * shuffle-free per-document — they scale linearly and pushdown-friendly.
 * Semantics are deliberately SQL-expressible so the driver's DuckDB oracle
 * can check them 1:1.
 */
object TextStats {

  /** Whitespace word split (lowercased), the SQL-parity tokenization. */
  def words(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), w => w =!= "")

  // tiny deterministic stopword lists, enough to separate the testdata langs
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "es", "un", "una", "que"))

  /** Fraction of words present in `list`. */
  def stopwordRatio(ws: Column, list: Seq[String]): Column = {
    val inList = filter(ws, w => w.isInCollection(list))
    when(size(ws) > 0, size(inList).cast("double") / size(ws)).otherwise(0.0)
  }

  /**
   * Heuristic language ID: argmax of stopword-list hit ratio; `zh` when CJK
   * characters dominate; `und` when nothing scores. Deterministic tie-break
   * by language code.
   */
  def langId(text: Column): Column = {
    val ws = words(text)
    val cjk = length(regexp_replace(text, "[^\\p{IsHan}]", ""))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, list) =>
      struct(stopwordRatio(ws, list).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(cjk * 2 > length(text), "zh")
      .when(best.getField("score") > 0.05, best.getField("lang"))
      .otherwise("und")
  }

  /** Quality features + a composite score in [0,1]. All ratio columns are
    * exact-integer 4dp ([[Cols.ratio4dp]]) — `round(p/q, 4)` over doubles
    * is engine-dependent at ten-thousandth-half rationals. */
  def quality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val ws = words(text)
    val en = stopwords("en")
    df.withColumn("n_chars_q", length(text))
      .withColumn("n_words", size(ws))
      .withColumn("mean_word_len",
        // (len+1)/nw − 1 = (len+1−nw)/nw as exact rationals
        when(size(ws) > 0,
          Cols.ratio4dp(length(text) + 1 - size(ws), size(ws)))
          .otherwise(0.0))
      .withColumn("punct_ratio",
        when(length(text) > 0,
          Cols.ratio4dp(
            length(regexp_replace(text, "[^\\p{Punct}]", "")), length(text)))
          .otherwise(0.0))
      .withColumn("upper_ratio",
        when(length(text) > 0,
          Cols.ratio4dp(
            length(regexp_replace(text, "[^A-Z]", "")), length(text)))
          .otherwise(0.0))
      .withColumn("stopword_ratio",
        when(size(ws) > 0,
          Cols.ratio4dp(size(filter(ws, w => w.isInCollection(en))), size(ws)))
          .otherwise(0.0))
      .withColumn("quality_score", round(
        // null-safe zero-word guard: size(null words) is NULL, and a bare
        // `NULL === 0` is falsy — without the coalesce a NULL-text doc
        // falls through every ratio guard (each 0.0) and scores a
        // "perfect" 1.0, surviving quality-floor corpus prep
        when(coalesce(col("n_words"), lit(0)) === 0, 0.0).otherwise(
          lit(1.0)
            - least(lit(0.4), col("punct_ratio") * 2)
            - least(lit(0.3), col("upper_ratio"))
            - when(col("n_words") < 5, 0.3).otherwise(0.0)), 4))
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text
   * (the exact-dedup key). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /**
   * Per-group exact discrete quantiles of an integer metric — the
   * distributed, grouped sibling of [[Ppx.cuts]] (corpus-report role:
   * "length p50/p90 per source"). The quantile at q‰ is the value at
   * sorted 0-based rank `floor((n-1)·q/1000)` within the group —
   * tie-order-independent and exactly mirrorable in SQL, unlike
   * percentile_approx.
   *
   * Scale contract: ranks come from one row_number window per group over a
   * deterministic hash sample whose per-group rate is HARD-BOUNDED at
   * `min(sampleRate, maxSamplePerGroup / n_group)` — group counts come
   * from one cheap aggregate (group-cardinality-sized, broadcast back),
   * so the window partition stays ~`maxSamplePerGroup` rows no matter
   * how skewed the group sizes are: a 10⁹-row group samples ~1M rows at
   * the default instead of single-reducer-sorting the group. The cap is
   * exactly replayable in SQL (integer count, one IEEE division, md5
   * threshold). `quantiles ≥ sample precision` caveats apply only when
   * the cap or a rate < 1 bites; below both, the result is the exact
   * corpus quantile.
   *
   * Output: (`keyCol`, q_permille, value, n_sample), one row per
   * (group, requested quantile).
   */
  def groupQuantiles(df: DataFrame, keyCol: String, metric: Column,
      qsPermille: Seq[Int] = Seq(250, 500, 750, 900),
      sampleRate: Double = 1.0, seed: String = "gq",
      idCol: String = "doc_id", maxSamplePerGroup: Long = 1L << 20): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(q => q >= 0 && q < 1000),
      "quantiles are permille in [0, 1000)")
    require(maxSamplePerGroup > 0, "maxSamplePerGroup must be positive")
    val vals = df
      .select(col(keyCol), metric.cast("long").as("value"), col(idCol).as("_id"))
      .where(col("value").isNotNull)
    val counts = vals.groupBy(keyCol).agg(count(lit(1)).as("_n_group"))
      .withColumnRenamed(keyCol, "_gq_key")
    // null-safe join: a NULL group key is a real group (groupBy emits its
    // count row and the SQL mirror's PARTITION BY keeps its partition); a
    // plain equi-join would never match NULL==NULL and silently drop it
    val s = vals.join(broadcast(counts), col(keyCol) <=> col("_gq_key"))
      .where(Decontam.hashUnit(col("_id"), seed) <
        least(lit(math.min(sampleRate, 1.0)),
          lit(maxSamplePerGroup.toDouble) / col("_n_group")))
      .select(col(keyCol), col("value"))
    val wRank = Window.partitionBy(keyCol).orderBy("value")
    val ranked = s.select(col(keyCol), col("value"),
      (row_number().over(wRank) - 1).cast("long").as("_rn"),
      count(lit(1)).over(Window.partitionBy(keyCol)).as("n_sample"))
    val ss = df.sparkSession
    import ss.implicits._
    val qdf = qsPermille.distinct.sorted.map(_.toLong).toDF("q_permille")
    ranked
      .join(broadcast(qdf),
        col("_rn") === expr("((n_sample - 1) * q_permille) div 1000"))
      .select(col(keyCol), col("q_permille"), col("value"), col("n_sample"))
  }
}
