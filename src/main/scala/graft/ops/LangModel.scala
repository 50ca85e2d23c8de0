package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * Bigram language-model cross-entropy scoring — the perplexity-filter
 * stage of a web-scale training-data pipeline (the CCNet/KenLM role):
 * train a word-bigram LM on a trusted corpus, score candidate documents
 * by average negative log-likelihood, drop the tail. Complements
 * [[QualityModel]] (supervised keep/drop) with an UNSUPERVISED fluency
 * signal: no labels needed, only a clean reference corpus.
 *
 * Model: add-one-smoothed bigram probabilities with two-level backoff —
 * P(w|prev) = (c(prev,w)+1)/(c(prev)+V) for seen bigrams, 1/(c(prev)+V)
 * for an unseen word after a seen context, 1/V for an unseen context.
 * All three tiers live in ONE weights table `(prev, w, w_fp)`: backoff
 * rows use the `__UNSEEN__` sentinel in `w` (per-context tier) or in
 * both columns (global tier). Corpus tokens are lowercased, so the
 * uppercase sentinel cannot collide.
 *
 * Numerics: same micro-nat fixed-point discipline as [[QualityModel]] —
 * `ln` runs once per model row at train time; document sums are exact
 * integer arithmetic, immune to aggregation-order drift; the final
 * per-token cross-entropy is one double division over two exact integers.
 *
 * Scale: training is two chained aggregations (bigram counts, then
 * context counts over the vocab-bounded count table — materialized once
 * via localCheckpoint); `minCount` collapses rare bigrams into the
 * backoff tier, bounding the broadcast model. Scoring is explode → two
 * broadcast joins → one map-side-combinable aggregation per document.
 */
object LangModel {

  /** Sentinel marking backoff rows; see the class doc for the two tiers. */
  val unseenTok = "__UNSEEN__"

  /** Adjacent-token bigram structs of a token array (empty under 2
   * tokens). `zip_with` against the shifted slice, not an `element_at`
   * lambda — `element_at` inside a higher-order function re-evaluates a
   * computed `ws` (the tokenizing split) per ELEMENT, O(words²·len) per
   * row; the trailing `(wₙ, null)` pair is filtered. */
  private[graft] def bigramsOf(ws: Column): Column =
    filter(
      zip_with(ws, slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => struct(a.as("prev"), b.as("w"))),
      p => p.getField("w").isNotNull)

  /** [[bigramsOf]] over the word split of `text`, as ONE codegen'd kernel
   * ([[graft.functions.WordBigrams]]): the HOF pair above is
   * CodegenFallback — interpreted per element on the explode feeding
   * every model join. Bit-identical (differential-pinned by
   * ShingleKernelSpec against the HOF form). */
  private def bigramsOfText(textCol: String): Column =
    graft.functions.WordBigrams.of(col(textCol))

  private def fp(c: Column): Column = round(c * lit(1e6), 0).cast("long")

  /**
   * Train on a trusted corpus. Returns the weights table
   * `(prev, w, w_fp)`: seen-bigram rows (those with at least `minCount`
   * occurrences), one `(prev, __UNSEEN__)` backoff row per context, and
   * the single global `(__UNSEEN__, __UNSEEN__)` row.
   */
  def train(corpus: DataFrame, minCount: Long = 1,
      textCol: String = "text"): DataFrame =
    trainCapped(corpus, minCount, textCol, localModelCap)

  /** Largest weights table [[train]] hands back as a driver-local
   * relation; a larger one stays distributed. */
  private val localModelCap = 1 << 20

  /** [[train]] with the local-relation cap as a parameter, so specs can
   * force the distributed branch on a small corpus. */
  private[graft] def trainCapped(corpus: DataFrame, minCount: Long,
      textCol: String, localCap: Int): DataFrame = {
    val ws = TextStats.words(col(textCol))
    // Materialized once: three consumers (context counts, kept bigrams,
    // and nothing re-scans the corpus for them).
    val cb = corpus.select(explode(bigramsOfText(textCol)).as("b"))
      .groupBy(col("b.prev").as("prev"), col("b.w").as("w"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cu = cb.groupBy("prev").agg(sum("c").as("cp"))
    // |V| is ONE bounded scalar: collect it once instead of leaving the
    // corpus-wide distinct-count subplan inside the vocab crossJoins —
    // the three model branches are consumed by three separate broadcast
    // builds at scoring time, each of which re-ran the full token-explode
    // pass. Arithmetic is unchanged (same long, same expressions).
    val v: Long = corpus.select(explode(ws).as("tok"))
      .agg(countDistinct("tok").as("v")).head().getLong(0)
    val big = cb.where(col("c") >= minCount)
      .join(cu, Seq("prev"))
      .select(col("prev"), col("w"),
        fp(log((col("c") + 1).cast("double") / (col("cp") + lit(v))))
          .as("w_fp"))
    val backoff = cu
      .select(col("prev"), lit(unseenTok).as("w"),
        fp(log(lit(1.0) / (col("cp") + lit(v)))).as("w_fp"))
    val global = corpus.sparkSession.range(1)
      .select(lit(unseenTok).as("prev"), lit(unseenTok).as("w"),
        fp(log(lit(1.0) / lit(v).cast("double"))).as("w_fp"))
    val model = big.unionByName(backoff).unionByName(global)
    // ONE bounded collect, then a LOCAL relation: xent broadcasts the
    // model three ways (seen-bigram, backoff, global), so a model that
    // fits a broadcast fits the driver, and the three scoring broadcasts
    // then build from a LocalTableScan with no Spark job each instead of
    // re-running a small job over the checkpoint per branch. The probe
    // (`limit(cap + 1)`, as in Dedup.components) bounds driver memory:
    // over the cap the distributed model is returned unchanged. Values
    // are identical either way: the collect happens AFTER the exact w_fp
    // expressions (the Dsir.denseModel discipline).
    val probe = model.limit(localCap + 1).collect()
    if (probe.length > localCap) model
    else corpus.sparkSession.createDataFrame(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(probe).asJava, model.schema)
  }

  /**
   * Score documents: `n_bigrams`, the exact integer log-likelihood
   * `sum_fp` (micro-nats), and `xent` = −sum/n in nats rounded half-up
   * to 4 places (0.0 for documents under two tokens). Lower is more
   * fluent under the training distribution.
   *
   * The 4-place rounding is EXACT INTEGER arithmetic on the rational
   * −sum_fp/(10⁶·n) — `(2·p·10⁴ + q) div 2q` with p = −sum_fp·1, q =
   * 10⁶·n — not `round(double, 4)`: when the true value is an exact
   * ten-thousandth-half (e.g. 3.35835), its nearest double sits a hair
   * BELOW the half, so binary-value rounding (Spark) says 3.3583 while
   * decimal-string rounding (DuckDB et al.) says 3.3584 — an
   * engine-dependent answer. Integer division of the exact rational is
   * bit-stable everywhere, and the final /10⁴ is exact in binary for
   * every 4-place value in range.
   */
  /** −sumFp/(10⁶·n) in nats, rounded half-up to 4 places by exact
    * integer division (see [[xent]] doc): `(2·(−sumFp)·10⁴ + 10⁶·n) div
    * (2·10⁶·n)`, then an exact /10⁴. Requires sumFp ≤ 0 < n (log-probs
    * are never positive). Overflow-safe to ~4.6·10¹⁴ micro-nats. */
  def xent4dp(sumFp: Column, n: Column): Column =
    Cols.ratio4dp(-sumFp, n * lit(1000000L))

  def xent(docs: DataFrame, model: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val big = model.where(col("w") =!= unseenTok)
    val backoff = model.where(col("w") === unseenTok &&
      col("prev") =!= unseenTok).select(col("prev"), col("w_fp").as("u_fp"))
    val global = model.where(col("w") === unseenTok &&
      col("prev") === unseenTok).select(col("w_fp").as("g_fp"))
    docs.select(col(idCol),
        explode_outer(bigramsOfText(textCol)).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.w").as("w"))
      .join(broadcast(big), Seq("prev", "w"), "left")
      .join(broadcast(backoff), Seq("prev"), "left")
      .crossJoin(broadcast(global))
      .groupBy(col(idCol))
      .agg(count(col("prev")).as("n_bigrams"),
        sum(when(col("prev").isNull, 0L)
          .otherwise(coalesce(col("w_fp"), col("u_fp"), col("g_fp"))))
          .as("sum_fp"))
      .select(col(idCol), col("n_bigrams"), col("sum_fp"),
        when(col("n_bigrams") > 0, xent4dp(col("sum_fp"), col("n_bigrams")))
          .otherwise(lit(0.0)).as("xent"))
  }
}
