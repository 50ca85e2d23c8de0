package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Labeler, Pipeline, ZoneModel}

/**
 * Differential pinning of the chunk-parallel document-mode stage-1
 * (SURVEY §8.2 #1): `zonesContentChunked` / `withFeaturesChunked` /
 * `extractDocumentsChunked` must be ROW-IDENTICAL to their sequential
 * twins across chunk sizes that force every boundary shape — region
 * straddling a chunk edge, repetitive stamps split across chunks,
 * annex triggers at the boundary, turn-index gaps, and chunks smaller
 * than the 46-line adoption radius.
 */
class DocumentChunkedSpec extends SparkSpec {

  private def linesDf(convs: Seq[(String, Seq[String])], perTurn: Int = 3) = {
    val sparkS = spark
    import sparkS.implicits._
    convs.flatMap { case (c, ls) =>
      ls.zipWithIndex.map { case (l, i) => (c, i / perTurn, i % perTurn, l) }
    }.toDF("conv_id", "turn_idx", "line_in_turn", "line")
  }

  private def zonesOf(df: DataFrame): Set[(String, Int, Int, String, String)] =
    df.select("conv_id", "turn_idx", "line_in_turn", "zone", "zone_label")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getString(4))).toSet

  private def spansOf(df: DataFrame): Set[(String, Long, String, Int, String)] =
    df.select("conv_id", "segment_id", "label", "turn_idx", "text")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3),
        r.getString(4))).toSet

  test("zonesContentChunked ≡ zonesContent on gold catalogue docs") {
    assume(Fixtures.available)
    // a handful of real docs (incl. the largest) — each chunked run carries
    // ~30s of fixed plan/codegen cost, so the conv count is kept small and
    // the synthetic boundary-shapes test below covers the hazard matrix
    val names = Fixtures.segFixtureNames
      .filter(n => java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${Fixtures.segTei}/$n.training.datacat.tei.xml")))
    val fxs = names.take(3).map(Fixtures.loadSeg)
    val all = fxs :+ names.drop(3).map(Fixtures.loadSeg).maxBy(_.lines.size)
    val lines = linesDf(all.map(fx => fx.name -> fx.lines.map(_.text)))
    val a = zonesOf(Labeler.zonesContent(lines))
    for (ct <- Seq(3, 64)) {
      val b = zonesOf(Labeler.zonesContentChunked(lines, ct))
      assert(a == b, s"chunkTurns=$ct: ${(a diff b).take(3)} vs ${(b diff a).take(3)}")
    }
  }

  test("boundary shapes: turn gaps, repetitive stamps, triggers, sparse marks") {
    val sparkS = spark
    import sparkS.implicits._
    // synthetic catalogue exercising every hazard at once:
    // front prose → sequential bare-marker entries (crossing any chunk
    // boundary) with a page stamp repeating every 7 lines → annex trigger →
    // numbered letter-poor price list; plus turn-index GAPS (+10 every 4
    // lines) so chunk ids are non-contiguous
    val front = Seq("VENTE AUX ENCHERES PUBLIQUES", "COLLECTION DE MONNAIES",
      "Hotel Drouot salle sept", "Conditions de la vente au comptant",
      "Les experts restent responsables", "PARIS HOTEL DROUOT")
    val body = (1 to 40).flatMap(i => Seq(
      s"$i Monnaie ancienne de la collection principale frapee en argent",
      "tres beau style et conservation remarquable") ++
      (if (i % 7 == 0) Seq("PARIS HOTEL DROUOT") else Nil))
    val annex = Seq("PRIX DES ADJUDICATIONS") ++ (1 to 30).map(i => s"$i ${i * 7}")
    val allLines = front ++ body ++ annex
    val rows = allLines.zipWithIndex.map { case (l, i) =>
      ("g1", (i / 4) * 3 + (i / 16) * 10, i % 4, l) // gapped turn indexes
    }
    val lines = rows.toDF("conv_id", "turn_idx", "line_in_turn", "line")
    val a = zonesOf(Labeler.zonesContent(lines))
    assert(a.exists(_._4 == "<front>") && a.exists(_._4 == "<body>") &&
      a.exists(_._4 == "<annex>"), s"zones degenerate: ${a.map(_._4)}")
    for (ct <- Seq(1, 8, 1000)) {
      val b = zonesOf(Labeler.zonesContentChunked(lines, ct))
      assert(a == b, s"chunkTurns=$ct: ${(a diff b).take(3)} vs ${(b diff a).take(3)}")
    }
    // the same catalogue as a document (one text per turn) through the whole
    // cascade: sequential ≡ chunk-parallel spans under either stage-1
    val turns = rows.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1)
      .map { case ((c, t), ls) => (c, t, ls.sortBy(_._3).map(_._4).mkString("\n")) }
      .toDF("conv_id", "turn_idx", "text")
    val heuristic = spansOf(Pipeline.extractDocuments(turns, None))
    assert(heuristic.nonEmpty, "heuristic stage-1 produced no spans")
    assert(heuristic == spansOf(Pipeline.extractDocumentsChunked(turns, None, 8)))
    val artifact = spansOf(Pipeline.extractDocuments(turns))
    assert(artifact.nonEmpty, "artifact stage-1 produced no spans")
    assert(artifact == spansOf(Pipeline.extractDocumentsChunked(turns, chunkTurns = 8)))
  }

  test("withFeaturesChunked ≡ withFeatures including hint stacking") {
    assume(Fixtures.available)
    val fx = Fixtures.loadSeg(Fixtures.segFixtureNames.head)
    val lines = linesDf(Seq(fx.name -> fx.lines.map(_.text)))
    val hinted = Labeler.zonesContent(lines)
      .withColumnRenamed("zone", "hint").drop("zone_label")
    def feats(df: DataFrame) = df
      .select("conv_id", "turn_idx", "line_in_turn", "_feats")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[String](3).mkString("|"))).toSet
    val a = feats(ZoneModel.withFeatures(hinted))
    for (ct <- Seq(2, 9)) {
      val b = feats(ZoneModel.withFeaturesChunked(hinted, ct))
      assert(a == b, s"chunkTurns=$ct differs")
    }
  }

  test("extractDocumentsChunked ≡ extractDocuments (artifact default AND heuristic)") {
    assume(Fixtures.available)
    val sparkS = spark
    import sparkS.implicits._
    val fx = Fixtures.bodyFixtureNames.map(Fixtures.loadBody).maxBy(_.spans.size)
    val front = Seq("COLLECTION H HOFFMANN", "ANTIQUITES",
      "VENTE AUX ENCHERES PUBLIQUES", "CONDITIONS DE LA VENTE",
      "La vente se fera au comptant")
    val annex = "PRIX DES ADJUDICATIONS" +: (1 to 40).map(i => s"$i ${i * 3}")
    val allLines = (front ++ fx.sourceText.split("\n", -1) ++ annex).toSeq
    // multi-line turns so turn-chunking bites
    val turns = allLines.grouped(4).zipWithIndex
      .map { case (g, i) => ("doc0", i, g.mkString("\n")) }.toSeq
      .toDF("conv_id", "turn_idx", "text")
    val ha = spansOf(Pipeline.extractDocuments(turns, None))
    val hb = spansOf(Pipeline.extractDocumentsChunked(turns, None, 5))
    assert(ha == hb, s"heuristic: ${(ha diff hb).take(2)} vs ${(hb diff ha).take(2)}")
    val da = spansOf(Pipeline.extractDocuments(turns))
    val db = spansOf(Pipeline.extractDocumentsChunked(turns, chunkTurns = 5))
    assert(da == db, s"default: ${(da diff db).take(2)} vs ${(db diff da).take(2)}")
    assert(da.nonEmpty && ha.nonEmpty)
  }
}
