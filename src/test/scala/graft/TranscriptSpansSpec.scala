package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.extract.{Features, Labeler, Structure, Synthetic}
import graft.plans.BodySpans

/**
 * The span operator's transcript mode applies the zone rule inside its
 * walk. It must equal the line-input mode over the Catalyst zone rule, row
 * for row and byte for byte: `BodySpans.fromTranscript(kept)` against
 * `BodySpans.fromLines(Labeler.bodyLines(Features.repetitive(kept)))`,
 * whose `max(block_idx)` and pattern-count windows decide the same lines.
 */
class TranscriptSpansSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.withColumn("text", col("text").cast("binary")).collect().toSeq
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq case v => v })
      .sortBy(r => (String.valueOf(r(0)), r(1).asInstanceOf[Long]))

  private def assertSame(kept: DataFrame): Unit = {
    val got = BodySpans.fromTranscript(kept)
    val want = BodySpans.fromLines(Labeler.bodyLines(Features.repetitive(kept)))
    assert(got.schema == want.schema)
    val w = rows(want)
    assert(w.nonEmpty)
    assert(rows(got) == w)
  }

  /** `conv_id, turn_idx, role, text, tool` rows as a turns frame, in three
   * partitions, in reverse order. */
  private def turns(ts: Seq[(String, Integer, String, String, String)]): DataFrame = {
    val schema = StructType.fromDDL(
      "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING")
    spark.createDataFrame(spark.sparkContext.parallelize(
      ts.reverse.map { case (c, t, r, x, tool) => Row(c, t, r, x, tool) }, 3), schema)
  }

  /** A seeded corpus where patterns repeat: lines drawn from a few long
   * headers, short lines and `\r`-led lines, blank-line block breaks, every
   * role, tools, and turns repeated under the same turn_idx (same text, any
   * role, so sort ties between them cannot change the spans). */
  private def repetitionFuzz(seed: Long, nConvs: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val pool = Seq("CONFIDENTIAL NOTICE", "Page header of the catalogue", "Σίσυφος ΣΟΦΟΣ ΣΑΣ",
      "İİİİİİİİ", "ßßßßßßßß x", "ßßßßßßßßß", "abcdefgh", "abcdefghi", "ABCDEFGHI 12",
      "1 - Vase en bronze", "2 . Bowl", "short", "\r foo bar baz qux", "\r\n", "tail words here",
      "Lot 7 - Coupe", "  indented CONFIDENTIAL NOTICE", " nbsp lead")
    val roles = Seq("user", "assistant", "tool", "system", null)
    val ts = (0 until nConvs).flatMap { c =>
      (0 until 1 + rnd.nextInt(6)).flatMap { t =>
        val text = Seq.fill(1 + rnd.nextInt(7))(
          pool(rnd.nextInt(pool.length)) + (if (rnd.nextInt(3) == 0) "\n" else ""))
          .mkString("\n")
        val turn = (s"f$c", Integer.valueOf(t), roles(rnd.nextInt(roles.length)), text,
          if (rnd.nextInt(6) == 0) "search" else null)
        if (rnd.nextInt(5) == 0)
          Seq(turn, turn.copy(_3 = roles(rnd.nextInt(roles.length)), _5 = null))
        else Seq(turn)
      }
    }
    Structure.keptLines(turns(ts))
  }

  /** The hand traps of the zone rule. */
  private def handTraps: DataFrame = {
    val header = "CONFIDENTIAL NOTICE TO READERS"
    val ts = Seq[(String, Integer, String, String, String)](
      // a header repeated only inside tool and system turns counts there and
      // is never emitted; its one user-turn copy is repetitive
      ("h", 0, "system", s"$header\nsystem text", null),
      ("h", 1, "tool", s"$header\ntool text", "search"),
      ("h", 2, "user", s"$header\nuser text stays", null),
      ("h", 3, "assistant", "Other answer\n\nmiddle\n\nlast", null),
      // a repeated non-first line of a head block: needy, but it never
      // counts, so only block-first copies make it repetitive
      ("n", 0, "user", "First line\nSECOND LINE REPEATS", null),
      ("n", 1, "user", "Another first\nSECOND LINE REPEATS", null),
      ("n", 2, "user", "SECOND LINE REPEATS\nnot a header", null),
      // patterns of exactly 8 and exactly 9 letters, head and tail
      ("e", 0, "user", "abcdefgh 1\n\nmid\n\nmid\n\nabcdefghi 2", null),
      ("e", 1, "user", "abcdefgh 3\n\nabcdefghi 4", null),
      ("e", 2, "user", "abcdefgh 5\n\nm\n\nm\n\nabcdefghi 6", null),
      // a turn whose last block is block 1, and one with one block
      ("b", 0, "user", "Lastblock one\n\nLASTBLOCKS ENDING", null),
      ("b", 1, "user", "LASTBLOCKS ENDING", null),
      ("b", 2, "user", "x\n\ny\n\nz\n\nLASTBLOCKS ENDING\nmore", null),
      // a line whose first word is empty: dropped before any count
      ("r", 0, "user", "\r foo REPEATED HEADER\nkept", null),
      ("r", 1, "user", "REPEATED HEADER\nkept too", null),
      ("r", 2, "user", "\r foo REPEATED HEADER", null),
      ("r", 3, "user", "REPEATED HEADER", null),
      // case mappings in patterns: İ (8 letters, lower-cased longer), Σ, ß
      ("u", 0, "user", "İİİİİİİİ\ntext", null),
      ("u", 1, "user", "iiiiiiii̇\ntext", null),
      ("u", 2, "user", "İİİİİİİİ\nmore", null),
      ("u", 3, "user", "ΣΟΦΟΣ ΣΑΣ ΣΑΣ\nσοφος", null),
      ("u", 4, "user", "σοφος σας σας\nx", null),
      ("u", 5, "user", "ßßßßßßßßß\nstraße", null),
      ("u", 6, "user", "SSSSSSSSSSSSSSSSSS\nx", null),
      ("u", 7, "user", "ssssssssssssssssss\ny", null),
      // duplicate (conv_id, turn_idx) rows, one of them a tool turn
      ("d", 0, "user", "DUPLICATED TURN HEADER\nbody\n\nDUPLICATED TAIL", null),
      ("d", 0, "tool", "DUPLICATED TURN HEADER\nbody\n\nDUPLICATED TAIL", "search"),
      ("d", 1, "user", "Something\n\nelse", null),
      // blocks out of order under one turn_idx (two different turns)
      ("o", 0, "user", "a\n\nb\n\nc\n\nTAILHEADERS HERE", null),
      ("o", 0, "user", "\n\n\n\n\nq\n\n\nTAILHEADERS HERE", null),
      ("o", 1, "user", "TAILHEADERS HERE\nend", null),
      // a long all-letter tail line, the only held line of its turn, whose
      // pattern must not share the held-line buffer that later lines reuse
      ("l", 0, "user", "start\n\nmid\n\n" + "x" * 700, null),
      ("l", 1, "user", "begin\n\nmid\n\n" + "x" * 700 + "\n\n" + "Y" * 9, null),
      ("l", 2, "user", "go\n\nmid\n\n" + "Y" * 9, null),
      ("l", 3, "user", "end\n\nmid\n\n" + "x" * 700, null),
      // null conv_id, role and tool
      (null, 0, "user", "NULL CONVERSATION HEADER\ntext", null),
      (null, 1, null, "NULL CONVERSATION HEADER\nnull role text", null),
      ("z", 0, null, "Null role line\n\nNULLROLE TAILLINE", null),
      ("z", 1, null, "NULLROLE TAILLINE", null),
      ("z", null, "user", "null turn_idx line", null))
    Structure.keptLines(turns(ts))
  }

  test("Synthetic transcripts") {
    assertSame(Structure.keptLines(Synthetic.transcripts(spark, 60)))
  }

  test("the adversarial documents") {
    val docs = spark.read.option("multiLine", "true").json("tools/adversarial_docs.json")
    assertSame(Structure.keptLines(Structure.transcriptsFromDocuments(docs)))
  }

  test("the line kernels' traps and fuzz turns, under every role") {
    val roles = Seq("user", "assistant", "tool", "system", null)
    val texts = LineFuzz.traps ++ LineFuzz.fuzz(21L, 1500, 40)
    assertSame(Structure.keptLines(turns(texts.zipWithIndex.map { case (t, i) =>
      (s"c${i % 7}", Integer.valueOf(i / 7), roles(i % roles.length), t,
        if (i % 11 == 0) "search" else null)
    })))
  }

  test("seeded repetition fuzz") {
    assertSame(repetitionFuzz(5L, 300))
  }

  test("hand traps, under both case-mapping settings") {
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.get(key)
    try Seq("true", "false").foreach { icu =>
      spark.conf.set(key, icu)
      withClue(s"$key=$icu: ")(assertSame(handTraps))
    } finally spark.conf.set(key, before)
    // the traps bite: repetitive lines are zoned out, the rest are kept
    val texts = rows(BodySpans.fromTranscript(handTraps))
      .map(r => new String(r(4).asInstanceOf[Seq[Byte]].toArray, "UTF-8")).mkString("\n")
    Seq("user text stays", "Other answer", "kept too", "null role text").foreach { t =>
      assert(texts.contains(t), t)
    }
    Seq("CONFIDENTIAL", "REPEATED HEADER", "DUPLICATED TURN HEADER", "tool text",
      "system text").foreach { t => assert(!texts.contains(t), t) }
  }

  test("a spilling conversation buffer gives the same spans") {
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "2")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    val want = Seq(handTraps, repetitionFuzz(6L, 80),
      Structure.keptLines(Synthetic.transcripts(spark, 20)))
      .map(k => rows(BodySpans.fromTranscript(k)))
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      assertSame(handTraps)
      assertSame(repetitionFuzz(6L, 80))
      val got = Seq(handTraps, repetitionFuzz(6L, 80),
        Structure.keptLines(Synthetic.transcripts(spark, 20)))
        .map(k => rows(BodySpans.fromTranscript(k)))
      assert(got == want)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
