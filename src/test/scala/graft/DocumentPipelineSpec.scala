package graft

import org.apache.spark.sql.functions._
import graft.extract.Pipeline

/**
 * Document-mode cascade (Pipeline.extractDocuments): stage-1 content zoning
 * must isolate the catalogue body out of a realistic document (title pages +
 * lot entries + trailing price list), and stage-2 must then produce exactly
 * the spans the body-only pipeline produces — i.e. the front/annex padding
 * changes nothing but the line offsets.
 */
class DocumentPipelineSpec extends SparkSpec with FixtureSpec {

  private val front = Seq(
    "COLLECTION H. HOFFMANN",
    "ANTIQUITÉS",
    "VENTE AUX ENCHÈRES PUBLIQUES",
    "à l'Hôtel Drouot, Salle N°7",
    "le Lundi 15 mai, à 2 heures précises.",
    "CONDITIONS DE LA VENTE",
    "La vente se fera au comptant.",
    "Les acquéreurs payeront cinq pour cent en plus du prix d'adjudication.",
    "Les lots pourront être réunis ou divisés au gré des Experts.")

  // trailing auction price list (numbered, letter-poor) behind its header
  private val annex = "PRIX DES ADJUDICATIONS" +:
    (1 to 60).map(i => s"$i ${i * 3}")

  test("front and annex are stripped; body spans equal the body-only run") {
    val sparkS = spark
    import sparkS.implicits._

    // densest fixture: boundary absorption at the zone edges must stay
    // negligible relative to the span count
    val fx = Fixtures.bodyFixtureNames.map(Fixtures.loadBody).maxBy(_.spans.size)
    def toTurns(text: String) =
      Seq(("doc0", 0, text)).toDF("conv_id", "turn_idx", "text")

    val docText = (front :+ fx.sourceText :+ annex.mkString("\n")).mkString("\n")
    val docSpans = Pipeline.extractDocuments(toTurns(docText))
      .orderBy("segment_id")
      .select("label", "text").as[(String, String)].collect()

    val bodySpans = Pipeline.extractDocuments(toTurns(fx.sourceText))
      .orderBy("segment_id")
      .select("label", "text").as[(String, String)].collect()

    assert(bodySpans.nonEmpty, "body-only run must produce spans")
    assert(docSpans.nonEmpty, "document run must produce spans")
    // no price-list rows may leak into the extracted spans
    assert(!docSpans.exists(_._2.contains("PRIX DES ADJUDICATIONS")),
      "annex header leaked into spans")
    assert(!docSpans.exists(_._2.contains(front.head)),
      "front matter leaked into spans")
    // the body content must be extracted identically (the zone boundary may
    // absorb a couple of boundary lines, so compare on the common spans)
    val common = docSpans.toSet.intersect(bodySpans.toSet)
    assert(common.size * 100 >= bodySpans.length * 95,
      s"only ${common.size}/${bodySpans.length} body spans survived doc-mode")
  }

  test("modeled cascade: trained stage-1 strips front/annex like the heuristic") {
    val sparkS = spark
    import sparkS.implicits._
    // train on a handful of gold segmenter docs
    val trainFx = Fixtures.segFixtureNames
      .filter(n => java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${Fixtures.segTei}/$n.training.datacat.tei.xml")))
      .take(40).map(Fixtures.loadSeg)
    val trainBase = trainFx.flatMap { fx =>
      fx.lines.zipWithIndex.map { case (l, i) =>
        (fx.name, i, 0, l.text, l.label.stripPrefix("I-"))
      }
    }.toDF("conv_id", "turn_idx", "line_in_turn", "line", "gold")
    val trainDf = graft.extract.Labeler.zonesContent(trainBase)
      .withColumnRenamed("zone", "hint").drop("zone_label")
      .withColumnRenamed("gold", "zone")
    val model = graft.extract.ZoneModel.train(trainDf)

    val fx = Fixtures.bodyFixtureNames.map(Fixtures.loadBody).maxBy(_.spans.size)
    val docText = (front :+ fx.sourceText :+ annex.mkString("\n")).mkString("\n")
    val spans = Pipeline.extractDocuments(
      Seq(("doc0", 0, docText)).toDF("conv_id", "turn_idx", "text"), Some(model))
      .select("label", "text").as[(String, String)].collect()
    assert(spans.nonEmpty)
    assert(!spans.exists(_._2.contains("PRIX DES ADJUDICATIONS")))
    assert(!spans.exists(_._2.contains(front.head)))
  }

  test("role columns absent vs null-valued give identical results") {
    val sparkS = spark
    import sparkS.implicits._
    val fx = Fixtures.loadBody(Fixtures.bodyFixtureNames.head)
    val bare = Seq(("doc0", 0, fx.sourceText)).toDF("conv_id", "turn_idx", "text")
    val withCols = bare
      .withColumn("role", lit(null).cast("string"))
      .withColumn("tool", lit(null).cast("string"))
    val a = Pipeline.extractDocuments(bare).orderBy("segment_id")
      .select("label", "text").collect().toSeq
    val b = Pipeline.extractDocuments(withCols).orderBy("segment_id")
      .select("label", "text").collect().toSeq
    assert(a == b)
  }
}
