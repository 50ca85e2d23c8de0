package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming surface: the reference is batch-only (SURVEY.md §1.4)
 * but a transcript corpus at 10^12-turn scale arrives as a stream; these
 * operators make the same extraction semantics incremental.
 *
 *  - [[turnRates]]: watermarked tumbling-window counters (the streaming
 *    analog of the A6 processing counters);
 *  - [[convClose]]: conversation sessionization via
 *    `flatMapGroupsWithState` — a conversation is emitted once idle for
 *    `gapSeconds`, carrying turn count/bytes and the ordered text, ready
 *    for the batch extraction pipeline downstream.
 *
 * State is O(1 conversation) per key and conversations expire by event-time
 * timeout, so state size is bounded by the number of OPEN conversations,
 * not the corpus.
 */
object StreamingExtract {

  /** Per-role tumbling turn counters with a 10-minute watermark. */
  def turnRates(turns: DataFrame, window_ : String = "5 minutes"): DataFrame =
    turns.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), window_), col("role"))
      .agg(count(lit(1)).as("n_turns"),
        sum(length(coalesce(col("text"), lit("")))).as("bytes"))

  final case class TurnEvent(conv_id: String, turn_idx: Int, role: String,
      text: String, ts: Timestamp)
  final case class ConvState(turns: List[(Int, String)], bytes: Long, lastTs: Long)
  final case class ClosedConv(conv_id: String, n_turns: Int, bytes: Long, text: String)

  /** A full input-schema turn (input_hint), emitted when its conversation
   * closes — the unit the batch pipeline consumes. */
  final case class Turn(conv_id: String, turn_idx: Int, role: String,
      text: String, tool: String, ts: Timestamp)
  final case class OpenConv(turns: List[Turn], lastTs: Long)

  /** Like [[convClose]], but emits the buffered TURNS of a closed
   * conversation (full input schema) instead of a summary row — the exact
   * input of [[graft.extract.Pipeline.extract]]. */
  def convCloseTurns(turns: Dataset[Turn], gapSeconds: Long = 1800): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, events: Iterator[Turn], state: GroupState[OpenConv]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s.turns.sortBy(_.turn_idx).iterator
          } else {
            val prev = state.getOption.getOrElse(OpenConv(Nil, 0L))
            val evs = events.toList
            val next = OpenConv(prev.turns ++ evs,
              math.max(prev.lastTs, evs.map(_.ts.getTime).max))
            state.update(next)
            state.setTimeoutTimestamp(next.lastTs + gapSeconds * 1000)
            Iterator.empty
          }
        })
  }

  /**
   * End-to-end STREAMING extraction: conversations close on event-time
   * silence, then each micro-batch of closed conversations runs through the
   * batch flagship pipeline inside `foreachBatch` — byte-identical span
   * semantics (a conversation is only extracted once complete, so no
   * cross-batch span stitching is needed), incremental arrival, exactly-once
   * parquet output via checkpoint + per-batch_id idempotent partition
   * overwrite ([[idempotentBatchWrite]]). This is the standard Spark shape for
   * "complex batch logic over sessionized streams": sessionize with state,
   * extract with the (Catalyst-optimized, fixture-pinned) batch plan.
   */
  def extractionQuery(turns: Dataset[Turn], outDir: String, checkpointDir: String,
      gapSeconds: Long = 1800): org.apache.spark.sql.streaming.StreamingQuery =
    closedConvQuery(turns, outDir, checkpointDir, gapSeconds)(
      graft.extract.Pipeline.extract)

  /**
   * STREAMING agent-transcript QA: conversations close on event-time
   * silence ([[convCloseTurns]]), then each micro-batch of closed
   * conversations runs the batch tool-sequencing audit
   * ([[graft.ops.Agent.toolAudit]]) inside `foreachBatch`. A conversation
   * is audited only once complete, so streamed ≡ batch per conversation by
   * construction (no cross-batch stitching). The checkpoint alone makes
   * `foreachBatch` only at-least-once (a retried batch would re-run the
   * side-effect write); end-to-end exactly-once comes from the sink being
   * IDEMPOTENT per batch_id ([[idempotentBatchWrite]]: dynamic partition
   * overwrite of `batch_id=<id>`, so replays replace, never duplicate).
   * The same composition slots in [[graft.ops.Agent.repair]] for a
   * streaming hygiene sink.
   */
  def agentAuditQuery(turns: Dataset[Turn], outDir: String,
      checkpointDir: String, gapSeconds: Long = 1800)
      : org.apache.spark.sql.streaming.StreamingQuery =
    closedConvQuery(turns, outDir, checkpointDir, gapSeconds)(
      graft.ops.Agent.toolAudit(_))

  /** The closed conversations of `turns` ([[convCloseTurns]]), each
   * non-empty micro-batch run through `batch` and written by
   * [[idempotentBatchWrite]]. */
  private def closedConvQuery(turns: Dataset[Turn], outDir: String,
      checkpointDir: String, gapSeconds: Long)(batch: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    convCloseTurns(turns, gapSeconds)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (closed: Dataset[Turn], batchId: Long) =>
        if (!closed.isEmpty) idempotentBatchWrite(batch(closed.toDF()), batchId, outDir)
        ()
      }
      .start()

  /**
   * Idempotent micro-batch parquet sink: each batch lands in its own
   * `batch_id=<id>` partition via DYNAMIC partition overwrite, so a batch
   * replayed after a partial or completed write (foreachBatch is
   * at-least-once — the checkpoint dedupes input offsets, not side
   * effects) REPLACES its partition instead of appending duplicates.
   * This is the standard Spark recipe for exactly-once foreachBatch
   * output to a file sink.
   *
   * Layout contract: `outDir` is partitioned parquet — readers load the
   * whole directory and get `batch_id` back as an inferred partition
   * column (integer-typed), not a stored data column. An `outDir`
   * written by a flat-append sink cannot be reused with this one (mixed
   * flat files and `batch_id=` directories don't read as one table);
   * point resumed queries at a fresh directory.
   */
  private def idempotentBatchWrite(df: DataFrame, batchId: Long,
      outDir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** A document arriving on a stream (for [[dedupDocs]] tests/demos). */
  final case class DocEvent(doc_id: String, text: String, ts: Timestamp)

  /**
   * Streaming exact-dedup of a document stream: the first document with a
   * given normalized-text fingerprint ([[graft.ops.TextStats.fingerprint]]
   * semantics) passes, later copies within the watermark horizon are
   * dropped. Built on `dropDuplicatesWithinWatermark`, so dedup state
   * EXPIRES with the watermark — bounded by the arrival-window duplicate
   * distance, not corpus size. That is the honest 10^12-doc design:
   * unbounded "seen forever" state cannot fit any cluster; cross-horizon
   * duplicates are [[graft.ops.Dedup.exact]]'s job in the periodic batch
   * compaction downstream. Requires an event-time column `ts`.
   */
  def dedupDocs(docs: DataFrame, watermark: String = "1 hour",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** One (band, bucket) row of a document's MinHash signature, carrying
   * the md5'd distinct-shingle set for Jaccard verification in state. */
  final case class BandSig(doc_id: String, ts: Timestamp, band: Int,
      bucket: String, n_bands: Int, sh_md5: Array[String])
  final case class BandHit(doc_id: String, ts: Timestamp, n_bands: Int,
      matched: Boolean)
  final case class NearDupVerdict(doc_id: String, ts: Timestamp,
      is_near_dup: Boolean)

  /**
   * STREAMING near-dedup — the LSH-signature state variant of
   * [[dedupDocs]]: a document is flagged `is_near_dup` iff some EARLIER
   * document within the watermark horizon shares a MinHash band bucket
   * with it AND passes exact-Jaccard verification at `tau` — the same
   * candidates → verify pipeline as the batch
   * [[graft.ops.Dedup.verifiedEdges]], keyed by (band, bucket) in
   * `flatMapGroupsWithState` with watermark expiry.
   *
   * Two chained stateful stages:
   *  1. band-bucket stage: state = the bucket's members within the
   *     horizon (doc id, event time, md5'd shingle set — md5 keeps state
   *     at 16 bytes/shingle regardless of shingle text size). Each
   *     arriving doc (processed in deterministic (ts, id) order) is
   *     verified against the members; oversized buckets (≥ `maxBucket`)
   *     switch to the batch star-edge regime — membership alone implies
   *     duplicate. Entries behind the watermark are evicted on every
   *     invocation; silent buckets time out entirely.
   *  2. per-doc verdict stage: OR over the doc's `n_bands` hit rows (all
   *     emitted in the doc's own micro-batch, so the group completes
   *     immediately; a timeout path emits the partial verdict if bands
   *     were ever lost).
   *
   * SEMANTICS vs batch ([[graft.ops.Dedup.keepCanonical]]): streaming
   * keeps the FIRST ARRIVAL of each near-dup cluster, batch keeps the MIN
   * ID — identical keep sets when arrival order follows ids and every
   * cluster member verifies against its canonical (the planted-clone
   * shape; StreamingNearDupSpec pins streamed ≡ batch there). A
   * retroactive cluster merge (doc C arriving later, near both A and B)
   * cannot re-drop an already-kept B — that tail, like cross-horizon
   * duplicates, belongs to the periodic batch compaction downstream.
   *
   * State bound: members-per-bucket within the horizon × bands buckets
   * per doc — bounded by the arrival-window near-dup distance, never
   * corpus size.
   *
   * The chained stateful ops trip Spark's blanket global-watermark
   * correctness check; it is a false positive HERE because stage 1 emits
   * only rows for current-batch inputs with UNCHANGED event times (no
   * buffered emission), so nothing reaches stage 2 later than the shared
   * watermark allows. The exemption is scoped to THIS query: the returned
   * Dataset is bound to a CLONE of the caller's session with the check
   * disabled on the clone only — the caller's own conf is untouched, so
   * other streaming queries in the session keep the safety check. One
   * consequence: sinks started from the result live in the clone (e.g. a
   * memory sink's table registers in `result.sparkSession`, and the query
   * appears in that session's `streams` manager).
   */
  def nearDedupDocs(docs: Dataset[DocEvent], k: Int = 8, n: Int = 5,
      rowsPerBand: Int = 4, tau: Double = 0.5, watermark: String = "1 hour",
      maxBucket: Int = 1000): Dataset[NearDupVerdict] = {
    import org.apache.spark.sql.graftbridge.bridge
    val spark = bridge.sessionWithConf(docs.sparkSession,
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false")
    import spark.implicits._
    val docsScoped = bridge.rebind(docs.toDF(), spark).as[DocEvent]
    import graft.ops.LocalMinHash
    // zero-shingle docs (Dedup.contentShingles contract: no content, no
    // candidacy) ride the SAME single pass as real signatures — a sentinel
    // band -1 keyed by doc_id (its own singleton group), produced in the
    // one shingling flatMap so the source is scanned and tokenized once
    // per micro-batch; stage 1 verdicts the sentinel matched=false without
    // ever creating state, and n_bands=1 completes stage 2 immediately
    val sigs: Dataset[BandSig] = docsScoped.flatMap { d =>
      val sh = LocalMinHash.shingles(Option(d.text).getOrElse(""), n)
      val shMd5 = sh.map(LocalMinHash.md5Hex).toArray
      val bbs = LocalMinHash.bandBuckets(LocalMinHash.minhash(sh, k), rowsPerBand)
      if (bbs.isEmpty)
        Seq(BandSig(d.doc_id, d.ts, -1, d.doc_id, 1, Array.empty[String]))
      else bbs.map { case (b, bk) => BandSig(d.doc_id, d.ts, b, bk, bbs.size, shMd5) }
    }
    val hits: Dataset[BandHit] = sigs
      .withWatermark("ts", watermark)
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Int, String), rows: Iterator[BandSig],
            state: GroupState[List[(String, Long, Array[String])]]) => {
          if (key._1 == -1)
            // no-content sentinel: stateless immediate miss (no state is
            // ever created for these groups, nothing to expire)
            rows.map(r => BandHit(r.doc_id, r.ts, 1, matched = false))
          else if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var members = state.getOption.getOrElse(Nil).filter(_._2 >= wm)
            val out = List.newBuilder[BandHit]
            rows.toList.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              val mySh = r.sh_md5.toSet
              val matched =
                if (members.sizeIs >= maxBucket) true // star-edge regime
                else members.exists { case (_, _, sh2) =>
                  LocalMinHash.jaccard(mySh, sh2.toSet) >= tau }
              out += BandHit(r.doc_id, r.ts, r.n_bands, matched)
              if (!members.exists(_._1 == r.doc_id))
                members = (r.doc_id, r.ts.getTime, r.sh_md5) :: members
            }
            state.update(members)
            if (members.nonEmpty)
              state.setTimeoutTimestamp(members.map(_._2).max, watermark)
            out.result().iterator
          }
        })
    hits
      .withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (docId: String, rows: Iterator[BandHit],
            state: GroupState[(Int, Boolean, Long)]) => {
          if (state.hasTimedOut) {
            // bands were lost upstream (should not happen: a doc's band
            // rows co-batch) — emit the partial verdict rather than none
            val (_, m, t) = state.get
            state.remove()
            Iterator.single(NearDupVerdict(docId, new Timestamp(t), m))
          } else {
            val rs = rows.toList
            val (pn, pm, pt) = state.getOption.getOrElse((0, false, 0L))
            val nSeen = pn + rs.size
            val matched = pm || rs.exists(_.matched)
            val tsMs = math.max(pt, rs.map(_.ts.getTime).max)
            if (nSeen >= rs.head.n_bands) {
              state.remove()
              Iterator.single(NearDupVerdict(docId, new Timestamp(tsMs), matched))
            } else {
              state.update((nSeen, matched, tsMs))
              state.setTimeoutTimestamp(tsMs, watermark)
              Iterator.empty
            }
          }
        })
  }

  /** Close a conversation after `gapSeconds` of event-time silence and emit
   * its ordered text (turn texts joined by newline — the Structure input). */
  def convClose(turns: Dataset[TurnEvent], gapSeconds: Long = 1800): Dataset[ClosedConv] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, events: Iterator[TurnEvent], state: GroupState[ConvState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            val text = s.turns.sortBy(_._1).map(_._2).mkString("\n")
            Iterator(ClosedConv(convId, s.turns.size, s.bytes, text))
          } else {
            val prev = state.getOption.getOrElse(ConvState(Nil, 0L, 0L))
            val evs = events.toList
            val next = ConvState(
              prev.turns ++ evs.map(e => (e.turn_idx, Option(e.text).getOrElse(""))),
              prev.bytes + evs.map(e => Option(e.text).map(_.length.toLong).getOrElse(0L)).sum,
              math.max(prev.lastTs, evs.map(_.ts.getTime).max))
            state.update(next)
            state.setTimeoutTimestamp(next.lastTs + gapSeconds * 1000)
            Iterator.empty
          }
        })
  }
}
