package graft

import org.apache.spark.sql.functions._
import graft.extract.{Assemble, Pipeline, Structure}

/** Adversarial inputs through the full pipeline: nulls, empties,
  * whitespace-only, system-only, XML-special chars, unicode, @BULLET. */
class RobustnessSpec extends SparkSpec {

  private def turnsDf(rows: Seq[(String, Int, String, String, String)]) = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
  }

  test("null/empty/whitespace-only turns survive with no spans and no crash") {
    val turns = turnsDf(Seq(
      ("c1", 0, "user", null, null),
      ("c1", 1, "assistant", "", null),
      ("c1", 2, "user", "   \t  ", null),
      ("c1", 3, "assistant", "\n\n\n", null)))
    assert(Pipeline.extract(turns).count() == 0)
    assert(Pipeline.extractTei(turns).count() == 0)
  }

  test("system-only conversation yields zero body spans, no crash") {
    val turns = turnsDf(Seq(
      ("c2", 0, "system", "You are a helpful assistant.", null),
      ("c2", 1, "system", "Remember the rules.", null)))
    assert(Pipeline.extract(turns).count() == 0)
  }

  test("null tool column and tool turns are handled") {
    val turns = turnsDf(Seq(
      ("c3", 0, "user", "hello world one two three", null),
      ("c3", 1, "tool", "raw tool output {json:1}", "search"),
      ("c3", 2, "assistant", "final answer body text here", null)))
    val spans = Pipeline.extract(turns)
    // the tool turn is zoned <other> and excluded from body spans
    assert(!spans.select("text").collect().exists(_.getString(0).contains("tool output")))
  }

  test("XML-special characters come back escaped in span text and TEI") {
    val turns = turnsDf(Seq(
      ("c4", 0, "user", "a < b & c > d \"quoted\" and 'single'", null)))
    val texts = Pipeline.extract(turns).select("text").collect().map(_.getString(0))
    assert(texts.nonEmpty)
    val all = texts.mkString
    assert(all.contains("&lt;") && all.contains("&amp;") && all.contains("&gt;"))
    assert(all.contains("&quot;") && all.contains("&apos;"))
    assert(!all.replaceAll("&(lt|gt|amp|quot|apos);", "").exists(c => c == '<' || c == '&'))
    val tei = Pipeline.extractTei(turns).select("tei").head().getString(0)
    assert(tei.contains("&lt;") && tei.contains("&amp;"))
  }

  test("unicode NBSP, guillemets, bullets, CJK, emoji round through") {
    val nbsp = " "
    val turns = turnsDf(Seq(
      ("c5", 0, "user", s"«citation»${nbsp}précédée • suivie 中文 🙂 fin", null)))
    val all = Pipeline.extract(turns).select("text").collect().map(_.getString(0)).mkString
    assert(all.contains("«") && all.contains("»"))
    assert(all.contains("précédée") && all.contains("中文") && all.contains("🙂"))
  }

  test("@BULLET rewrites to • in zone spans (reference A8 emission rule)") {
    val turns = turnsDf(Seq(
      ("c6", 0, "user", "@BULLET first item text goes here", null)))
    val zoned = graft.extract.Labeler.zones(
      graft.extract.Features.segmenter(Structure.keptLines(turns)))
    val text = Assemble.zoneSpans(zoned).select("text").head().getString(0)
    assert(text.contains("•") && !text.contains("@BULLET"))
  }

  test("per-line error isolation: malformed lines are dropped and counted") {
    import spark.implicits._
    // hand-built token frame with a null tok (impossible from the tokenizer,
    // possible from a foreign upstream) → classify NPEs → line dropped
    val toks = Seq(
      ("c8", 0, 0, 0, "good", "", "", "NOCAPS"),
      ("c8", 0, 1, 0, null, "", "", "NOCAPS"),
      ("c8", 0, 2, 0, "fine", "", "", "NOCAPS"))
      .toDF("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
    val acc = graft.extract.Lineage.newStats(spark, "test_failures")
    val labeled = graft.plans.BodySpans.labels(toks, chunked = false, Some(acc))
    assert(labeled.select("tok").collect().map(_.getString(0)).toSet == Set("good", "fine"))
    // the label walk over the surviving lines agrees with the declarative
    // assembly (the resumable spans stage reads exactly this frame)
    val walked = graft.plans.BodySpans.fromLabels(labeled)
      .orderBy("segment_id").collect().toSeq
    assert(walked.nonEmpty)
    assert(walked == Assemble.bodySpans(labeled)
      .select("conv_id", "segment_id", "label", "turn_idx", "text")
      .orderBy("segment_id").collect().toSeq)
    // each action above re-ran the labeler; the failed line counts once,
    // and the lineage rows surface it per partition
    assert(acc.value.values.map(_._3).sum == 1L, "one failed line counted")
    val lin = graft.extract.Lineage.lineageRows(spark, "labeled", acc)
    assert(lin.agg(sum("parse_failures")).head().getLong(0) == 1L)
  }

  test("a single giant line streams through (no per-conv materialization blowup)") {
    val big = (1 to 20000).map(i => s"tok$i").mkString(" ")
    val turns = turnsDf(Seq(("c7", 0, "user", big, null)))
    val spans = Pipeline.extract(turns)
    assert(spans.count() >= 1)
    val total = spans.agg(sum(length(col("text")))).head().getLong(0)
    assert(total >= big.length)
  }

  test("one conversation with 500k turns streams through (long-conv skew)") {
    // the worst-case skew shape at design scale: one conv_id owning a whole
    // partition — the FSM's O(current-span) state and the spillable window
    // sorts must carry it; content must round-trip completely. 500k turns
    // (~2.6M tokens in ONE task) is the documented single-conversation
    // bound evidence: memory is O(spill buffer), not O(conversation), so
    // the limit is wall-clock skew (one task), not OOM — F5 size guards
    // bound anything beyond it upstream.
    val sparkS = spark
    import sparkS.implicits._
    // letter content must differ per turn or the A2 repetitive-pattern rule
    // (correctly) strips the whole conversation as boilerplate
    val turns = sparkS.range(500000)
      .select(lit("giant").as("conv_id"), col("id").cast("int").as("turn_idx"),
        lit("user").as("role"),
        concat(lit("turn body text number "),
          translate(col("id").cast("string"), "0123456789", "abcdefghij")).as("text"),
        lit(null).cast("string").as("tool"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"))
    val spans = Pipeline.extract(turns)
    val total = spans.agg(sum(length(col("text")))).head().getLong(0)
    // every turn's text (>= 22 chars each) must be present in some span
    assert(total >= 500000L * 22)
  }

  test("non-ASCII Unicode digit marks survive content zoning (ANSI cast guard)") {
    // \p{Nd} mark regexes match fullwidth/Arabic-Indic digits, but the
    // sequential-marker number extract must not feed them to ::int
    val sparkS = spark
    import sparkS.implicits._
    val lines = Seq(
      ("u1", 0, 0, "１２ Vase ancien de collection"),
      ("u1", 1, 0, "١٥ objet rare du lot"),
      ("u1", 2, 0, "13 - Lot normal ."))
      .toDF("conv_id", "turn_idx", "line_in_turn", "line")
    val out = graft.extract.Labeler.zonesContent(lines).collect()
    assert(out.length == 3)
  }

  test("sharded TEI fragments concatenate byte-identically to teiDocuments") {
    val turns = turnsDf(Seq(
      ("t1", 0, "user", "Premier lot de la vente aux enchères.", null),
      ("t1", 1, "assistant", "1 - Tableau ancien <cadre doré> & signé.", null),
      ("t1", 2, "user", "2 - Sculpture en bronze \"patinée\".", null),
      ("t1", 3, "assistant", "3 - Commode Louis XV estampillée.", null),
      ("t1", 4, "user", "Fin de la première vacation.", null),
      ("t2", 0, "user", "Single turn conversation body.", null)))
    val spans = Pipeline.extract(turns)
    val whole = Assemble.teiDocuments(spans).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // shardTurns=2 → multiple shards per conversation; every boundary shape
    val frags = Assemble.teiDocumentsSharded(spans, shardTurns = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
      .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).mkString }
    assert(frags.keySet == whole.keySet)
    frags.foreach { case (c, tei) => assert(tei == whole(c), s"conv $c differs") }
    // degenerate single-shard conversation also byte-identical
    val frags1 = Assemble.teiDocumentsSharded(spans, shardTurns = 100).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).mkString }
    frags1.foreach { case (c, tei) => assert(tei == whole(c), s"conv $c differs at 1 shard") }
  }

  test("sharded TEI writes a 500k-turn conversation without a conv-grain collect_list") {
    // the giant-conversation XML story (SURVEY §8.1 residual #5): span
    // extraction on the chunked path, TEI emission per turn-range shard —
    // no stage collects the whole conversation onto one task
    val sparkS = spark
    import sparkS.implicits._
    // numbered lot-entry turns → one span per turn (a uniform conversation
    // would collapse into ONE giant span, which no sharding can split —
    // that shape is the span-assembly residual, not the TEI writer's)
    val turns = sparkS.range(500000)
      .select(lit("giant3").as("conv_id"), col("id").cast("int").as("turn_idx"),
        lit("user").as("role"),
        concat(col("id") + 1, lit(" - lot item number "),
          translate(col("id").cast("string"), "0123456789", "abcdefghij")).as("text"),
        lit(null).cast("string").as("tool"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"))
    val frags = Assemble.teiDocumentsSharded(
      Pipeline.extractChunked(turns, chunkTurns = 32768), shardTurns = 32768)
    val stats = frags.agg(count(lit(1)).as("n"), sum(length(col("tei"))).as("len"))
      .head()
    assert(stats.getLong(0) >= 17, "header + >=15 span shards + footer")
    assert(stats.getLong(1) >= 500000L * 18, "all turn text present across fragments")
  }

  test("one 100k-turn conversation through the CHUNKED pipeline, content complete") {
    // same skew shape through Pipeline.extractChunked: many tasks instead of
    // one (ChunkBench measures the wall-clock story at 1M-4M turns; this
    // protects the path in CI). Content completeness, not a differential —
    // the row-identity is ChunkedPipelineSpec's job at boundary-shape sizes.
    val sparkS = spark
    import sparkS.implicits._
    val turns = sparkS.range(100000)
      .select(lit("giant2").as("conv_id"), col("id").cast("int").as("turn_idx"),
        lit("user").as("role"),
        concat(lit("turn body text number "),
          translate(col("id").cast("string"), "0123456789", "abcdefghij")).as("text"),
        lit(null).cast("string").as("tool"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"))
    val spans = Pipeline.extractChunked(turns, chunkTurns = 8192)
    val total = spans.agg(sum(length(col("text")))).head().getLong(0)
    assert(total >= 100000L * 22)
  }
}
