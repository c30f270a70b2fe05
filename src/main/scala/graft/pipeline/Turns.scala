package graft.pipeline

import graft.core.{Doc, Span}

/** Input row — BASELINE.json input_hint:
  * (conv_id, turn_idx, role, text, tool, ts).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp)

/** Output row — FIXTURES.md §3. `error` is null for clean rows; a failed
  * row is never dropped (reference maps failures to an HTTP 400 per
  * document, CustomGlobalExceptionHandler.java:14-19 — our analog is a
  * per-row error column).
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    documents: Seq[Doc],
    extractedText: String,
    spans: Seq[Span],
    version: String,
    error: String,
    nParas: Int,
    nBytes: Long)
