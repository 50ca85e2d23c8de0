package graft

import java.sql.Timestamp

/**
 * Core data model (BASELINE.json `input_hint` + SURVEY.md §1).
 *
 * The isomorphism to the reference (SURVEY.md §0.1):
 * conversation = Document, turn = Page, paragraph-within-turn = Block,
 * line = labeled unit of the segmenter model, token = labeled unit of the
 * body model. Stable ordering key everywhere:
 * (conv_id, turn_idx, block_idx, line_idx, tok_idx).
 */
object model {

  /** Exactly the `input_hint` schema. */
  final case class Turn(
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: String,
      ts: Timestamp)
}
