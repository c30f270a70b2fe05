package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.pipeline.{ExtractPipeline, ExtractedTurn, Turn}

/** Structured Streaming surface of the extraction engine.
  *
  * The reference is strictly synchronous request/response (SURVEY.md
  * §2.8) — per-turn extraction is stateless, so the streaming variant is
  * the same `ExtractTurn` kernel under `readStream`, with an optional
  * watermarked per-conversation aggregate and a stateful
  * conversation-progress tracker (`mapGroupsWithState`) as the
  * cross-turn extension a transcript firehose needs.
  */
object StreamExtract {

  /** Streaming extraction: same kernel, no state, append mode. */
  def extractStream(turns: DataFrame): Dataset[ExtractedTurn] =
    ExtractPipeline.extractNarrow(turns)

  /** Watermarked tumbling-window bytes/turn counts per role. */
  def throughputByRole(turns: DataFrame): DataFrame =
    turns
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("role"))
      .agg(count(lit(1)).as("n_turns"),
        sum(length(col("text"))).as("n_chars"))

  /** Per-conversation running progress (turns seen, bytes extracted) via
    * mapGroupsWithState — the stateful-op surface (KeyValueGroupedDataset).
    * NoTimeout: a processing-time timeout keeps scheduling wake-up batches
    * forever, which live-locks bounded smoke runs. For an unbounded
    * firehose use [[conversationProgressEvicting]], which bounds state by
    * the event-time watermark.
    */
  final case class ConvProgress(conv_id: String, nTurns: Long, nBytes: Long)

  def conversationProgress(turns: Dataset[Turn])
      (implicit enc1: org.apache.spark.sql.Encoder[ConvProgress])
      : Dataset[ConvProgress] = {
    import turns.sparkSession.implicits._
    turns
      .groupByKey(_.conv_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (convId: String, rows: Iterator[Turn], state: GroupState[ConvProgress]) =>
          var n = 0L
          var bytes = 0L
          rows.foreach { t =>
            n += 1
            val e = graft.pipeline.TurnExtractor.extract(t)
            bytes += e.nBytes
          }
          val prev = state.getOption.getOrElse(ConvProgress(convId, 0L, 0L))
          val next = ConvProgress(convId, prev.nTurns + n, prev.nBytes + bytes)
          state.update(next)
          next
      }
  }

  /** Watermark-evicting variant of [[conversationProgress]] — the
    * production-firehose policy the NoTimeout scaladoc defers (VERDICT
    * r02 #9): a conversation's state times out `gapMs` of EVENT TIME
    * after its last seen turn, emits its final progress row once, and is
    * REMOVED — total state is bounded by the number of conversations
    * active inside one watermark horizon, independent of stream length.
    */
  def conversationProgressEvicting(turns: Dataset[Turn],
      watermark: String = "10 minutes", gapMs: Long = 60000L)
      (implicit enc1: org.apache.spark.sql.Encoder[ConvProgress])
      : Dataset[ConvProgress] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[Turn], state: GroupState[ConvProgress]) =>
          if (state.hasTimedOut) {
            val last = state.getOption.getOrElse(ConvProgress(convId, 0L, 0L))
            state.remove()
            last
          } else {
            var n = 0L
            var bytes = 0L
            var maxTs = Long.MinValue
            rows.foreach { t =>
              n += 1
              val e = graft.pipeline.TurnExtractor.extract(t)
              bytes += e.nBytes
              if (t.ts != null && t.ts.getTime > maxTs) maxTs = t.ts.getTime
            }
            val prev = state.getOption.getOrElse(ConvProgress(convId, 0L, 0L))
            val next =
              ConvProgress(convId, prev.nTurns + n, prev.nBytes + bytes)
            state.update(next)
            // timeout must sit past the current watermark; late rows can
            // have maxTs below it, so clamp up by one tick
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(maxTs + gapMs, wm + 1L))
            next
          }
      }
  }

  /** Streaming exact dedup: drop turns whose normalized-text fingerprint
    * was already seen within the watermark horizon — the streaming analog
    * of [[graft.operators.Dedup.dropExactDups]]. State is BOUNDED by the
    * event-time watermark (dropDuplicatesWithinWatermark evicts expired
    * fingerprints), which is what makes this runnable forever on a
    * transcript firehose; an unbounded dropDuplicates would grow state
    * with corpus size. The dedup key is the 128-bit md5 fingerprint
    * ([[graft.operators.TextStats.fingerprint]]) — no false merges at
    * any stream length, matching the batch surfaces' discipline.
    */
  def dedupStream(turns: DataFrame,
                  watermark: String = "10 minutes"): DataFrame =
    turns
      .withColumn("_fp", graft.operators.TextStats.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming binary decode: [[graft.sources.BinaryDispatch.safeDecode]]
    * under a `binaryFile` readStream — a landing-zone directory of raw
    * document files becomes an append stream of per-file decode rows
    * `(path, format, status, n_units)`. Stateless per file (no watermark,
    * no state store); a corrupt file yields an error ROW, never a dead
    * stream — the q69 corpus-scan contract carried to the streaming
    * ingest path. `n_units` is the format's natural unit count
    * (paragraphs / sheet rows / stakeholders / chars), the cheap signal
    * a landing-zone monitor alerts on.
    *
    * Input contract: a `binaryFile`-shaped frame with `path`, `content`
    * and `length` columns (a hand-built (path, content) frame works
    * too — `length` is derived from the content bytes when absent).
    *
    * Files over `maxBytes` become error rows WITHOUT their content ever
    * being read: the length predicate is pushed into the binaryFile
    * source, which would otherwise throw on oversized files at the
    * scan (killing the query before safeDecode could contain anything —
    * per-row totality cannot guard a source-level throw). `maxBytes` is
    * clamped to the source's own `spark.sql.sources.binaryFile
    * .maxLength` limit for the same reason: a cap above that limit
    * would re-expose the source-level throw it exists to prevent.
    */
  def decodeStream(files0: DataFrame,
                   maxBytes: Long = 512L * 1024 * 1024): DataFrame = {
    val s = files0.sparkSession
    import s.implicits._
    import graft.sources.BinaryDispatch._
    val files =
      if (files0.columns.contains("length")) files0
      // null content -> length 0 (NOT null: a null length fails BOTH
      // branch filters and the row would silently vanish); the row
      // reaches safeDecode, which reports it as an error row
      else files0.withColumn("length",
        coalesce(octet_length(col("content")).cast("long"), lit(0L)))
    val sourceMax = s.conf
      .getOption("spark.sql.sources.binaryFile.maxLength")
      .map(_.toLong).getOrElse(Int.MaxValue.toLong)
    val cap = math.min(maxBytes, sourceMax)
    val decoded = files.filter(col("length") <= cap)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val r = safeDecode(bytes)
        val nUnits: Long = r.decoded match {
          case Some(DecodedDoc(_, md)) =>
            md.documents.map(_.paragraphs.size.toLong).sum
          case Some(DecodedSheets(_, sheets)) =>
            sheets.map(_.rows.size.toLong).sum
          case Some(DecodedPdf(_, stakeholders)) => stakeholders.size.toLong
          case Some(DecodedText(_, text)) => text.length.toLong
          case None => 0L
        }
        (path, r.format, r.status, nUnits)
      }
      .toDF("path", "format", "status", "n_units")
    val oversized = files.filter(col("length") > cap)
      .select(col("path"), lit("oversize").as("format"),
        lit("error").as("status"), lit(0L).as("n_units"))
    decoded.unionByName(oversized)
  }

  /** Convenience: run the streaming extraction over a parquet directory
    * source into an in-memory sink (test/smoke path) or parquet sink.
    */
  def startParquetToMemory(spark: SparkSession, inputDir: String,
                           queryName: String): StreamingQuery = {
    val schema = spark.read.parquet(inputDir).schema
    val turns = spark.readStream.schema(schema).parquet(inputDir)
    extractStream(turns)
      .select("conv_id", "turn_idx", "nParas", "nBytes", "error")
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }
}
