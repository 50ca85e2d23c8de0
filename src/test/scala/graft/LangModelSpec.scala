package graft

import org.apache.spark.sql.functions._
import graft.ops.LangModel

/**
 * Closed-form tests for the bigram-LM cross-entropy scorer: weights equal
 * the hand-recomputed add-one probabilities, backoff tiers fire in the
 * right order, and scores are exact integer sums.
 */
class LangModelSpec extends SparkSpec {

  // bigrams: (a,b)×3 [docA: a b a b → (a,b),(b,a),(a,b); docB: a b c]
  //          (b,a)×1, (b,c)×1 → c(a)=3, c(b)=2 as contexts; V=3 (a,b,c)
  private def trusted() = {
    val sparkS = spark
    import sparkS.implicits._
    Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
  }

  private def fp(x: Double): Long = math.round(x * 1e6)

  private def model() = LangModel.train(trusted())

  test("weights equal add-one bigram probabilities with backoff tiers") {
    val got = model().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size === 6) // 3 bigrams + 2 context backoffs + 1 global
    assert(got(("a", "b")) === fp(math.log(4.0 / 6)))
    assert(got(("b", "a")) === fp(math.log(2.0 / 5)))
    assert(got(("b", "c")) === fp(math.log(2.0 / 5)))
    assert(got(("a", LangModel.unseenTok)) === fp(math.log(1.0 / 6)))
    assert(got(("b", LangModel.unseenTok)) === fp(math.log(1.0 / 5)))
    assert(got((LangModel.unseenTok, LangModel.unseenTok)) ===
      fp(math.log(1.0 / 3)))
  }

  test("a model over the local-relation cap stays distributed with the same weights") {
    def isLocal(m: org.apache.spark.sql.DataFrame) = m.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val local = model()
    assert(isLocal(local))
    // the model has 6 rows: a cap of 6 still localizes, a cap of 5 does not
    assert(isLocal(LangModel.trainCapped(trusted(), 1, "text", localCap = 6)))
    val distributed = LangModel.trainCapped(trusted(), 1, "text", localCap = 5)
    assert(!isLocal(distributed))
    assert(distributed.collect().toSet == local.collect().toSet)
    assert(distributed.schema == local.schema)
  }

  test("xent sums exact weights through seen/backoff/global tiers") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = Seq(
      (10L, "a b z"),   // seen (a,b) + context-backoff (b, unseen z)
      (11L, "z q"),     // unseen context → global tier
      (12L, "single"),  // no bigrams → xent 0
      (13L, "a b a b")  // fully in-distribution
    ).toDF("doc_id", "text")
    val got = LangModel.xent(docs, model()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val ab = fp(math.log(4.0 / 6)); val bU = fp(math.log(1.0 / 5))
    val ba = fp(math.log(2.0 / 5)); val g = fp(math.log(1.0 / 3))
    // 4dp rounding is exact-integer half-up on the rational −sum/(10⁶·n)
    val s10 = ab + bU
    val e4 = ((-s10) * 20000L + 2L * 1000000L) / (2L * 2000000L)
    assert(got(10L) === ((2L, s10, e4 / 10000.0)))
    assert(got(11L)._2 === g)
    assert(got(12L) === ((0L, 0L, 0.0)))
    assert(got(13L)._2 === ab + ba + ab)
    // fluent doc scores lower than out-of-distribution doc
    assert(got(13L)._3 < got(11L)._3)
  }

  test("xent4dp is exact at a representation-boundary half") {
    val sparkS = spark
    import sparkS.implicits._
    // −171275850/(10⁶·51) = 3.35835 exactly, but the nearest double is a
    // hair BELOW the half — round(double, 4) says 3.3583 on Spark and
    // 3.3584 on decimal-string engines (the sf0.001 oracle divergence
    // this pins). Exact integer rounding half-up gives 3.3584 everywhere.
    val df = Seq((-171275850L, 51L)).toDF("s", "n")
    val got = df.select(
      graft.ops.LangModel.xent4dp(col("s"), col("n"))).as[Double].head()
    assert(got === 3.3584)
  }

  test("minCount pushes rare bigrams to the backoff tier") {
    val m2 = LangModel.train(trusted(), minCount = 2)
    val pairs = m2.where(col("w") =!= LangModel.unseenTok)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("a", "b"))) // (b,a) and (b,c) were singletons
    // backoff denominators unchanged: context counts are pre-filter
    val got = m2.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("b", LangModel.unseenTok)) === fp(math.log(1.0 / 5)))
  }
}
