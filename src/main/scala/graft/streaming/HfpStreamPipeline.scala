package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.HfpFlatten
import graft.sources.{HfpProtobuf, HfpRawIngest, SourceFactory}

/**
 * The streaming ETL pipeline that IS the reference (SURVEY.md §0): one
 * Structured Streaming query re-expressing
 *
 *   Pulsar consume → decode → 250k buffer → 1 s dump → flatten →
 *   JDBC batch write → ack
 *   (Main.java:15-40, MessageProcessor.java:57-143, QueueWriter.java:50-165)
 *
 * as
 *
 *   readStream(wire records) → toEnvelope → foreachBatch(split dead-letter;
 *   flatten; sink.write) with Trigger.ProcessingTime(dumpInterval) and a
 *   checkpointLocation.
 *
 * Operator mapping (SURVEY §2.1):
 *  - O1 source: built against the [[graft.sources.SourceFactory]] seam
 *    (file | rate | pulsar-when-available) — the transform/sink plan is
 *    source-agnostic BY CONSTRUCTION; the Pulsar connector drops in as a
 *    [[graft.sources.SourceFactory.SourceSpec.Pulsar]] spec without
 *    touching anything below.
 *  - O4 buffer/load-shed: subsumed by source rate limiting (`maxFilesPerTrigger`)
 *    + backpressure — no data drop, a semantic improvement over the
 *    reference's silent overflow (MessageProcessor.java:103-110).
 *  - O5 trigger: `Trigger.ProcessingTime(dumpInterval)`, identical cadence
 *    to the 1 s scheduler (environment.conf:18).
 *  - O10 sink: [[BatchSink]] per micro-batch (parquet or JDBC).
 *  - O11 at-least-once: checkpoint WAL commits offsets only after the batch
 *    succeeds — the commit-then-ack order of MessageProcessor.java:90-92.
 *  - O12 retry/fail-fast: [[FailFastSink]] + [[StreamSupervisor]].
 *  - O13 metrics: [[MetricsListener]].
 *  - O14 graceful shutdown: `query.stop()` / supervisor stop.
 *
 * Scale note: the whole pipeline is a stateless narrow map — no shuffle
 * anywhere between source and sink. On a 1000-executor cluster each input
 * partition decodes, flattens, and writes independently; throughput scales
 * linearly with executors and the only coordination is the driver's offset
 * commit per trigger.
 */
object HfpStreamPipeline {

  /** Wire-record schema (see [[SourceFactory.wireSchema]]). */
  val wireSchema: StructType = SourceFactory.wireSchema

  final case class Config(
      inputDir: String = "",
      checkpointDir: String = "",
      dumpInterval: String = "1 second",          // environment.conf:18
      availableNow: Boolean = false,              // drain-and-stop (tests/backfill)
      maxFilesPerTrigger: Option[Int] = None,     // O4 rate limit stand-in
      deadLetterDir: Option[String] = None,
      source: Option[SourceFactory.SourceSpec] = None) {
    /** Resolved source spec: explicit `source` wins; otherwise the
      * file-stream stand-in over `inputDir`. */
    def sourceSpec: SourceFactory.SourceSpec = source.getOrElse(
      SourceFactory.SourceSpec.FileJson(inputDir, maxFilesPerTrigger))
  }

  /** O1: the streaming source, resolved through the [[SourceFactory]] seam. */
  def rawStream(spark: SparkSession, cfg: Config): DataFrame =
    SourceFactory.rawStream(spark, cfg.sourceSpec)

  /**
   * Wire records → nested envelope, wire-shape-aware (O3): binary frames
   * (`value: binary` — a protobuf message per row, the reference's
   * production hot path, MessageProcessor.java:119) decode through
   * [[HfpProtobuf.decodeDataFrame]]; text frames parse through
   * [[HfpRawIngest.toEnvelope]]. Both produce the SAME envelope schema,
   * so everything downstream (dead-letter split, flatten, sink) is
   * wire-format-agnostic. Undecodable protobuf records are dropped
   * inside the decode stage (the reference's warn-and-skip,
   * MessageProcessor.java:121-127) and nothing counts them: they reach
   * neither the sink nor the dead-letter output, and show only in the
   * query's `numInputRows`. Decoded records missing required payload
   * fields, or with a non-v2 topic, still route through the dead-letter
   * split like any JSON-path row.
   */
  def toEnvelope(raw: DataFrame): DataFrame =
    if (SourceFactory.isBinaryWire(raw.schema)) {
      import raw.sparkSession.implicits._
      HfpProtobuf.decodeDataFrame(
        raw.select(org.apache.spark.sql.functions.col("value")).as[Array[Byte]])
    } else HfpRawIngest.toEnvelope(raw)

  /**
   * Wire the full query and start it. The foreachBatch body is the
   * reference's dump-cycle (MessageProcessor.java:72-99): split off
   * contract-violating rows and non-v2 topics, flatten the rest, hand one
   * batch to the sink.
   */
  def start(spark: SparkSession, cfg: Config, sink: BatchSink): StreamingQuery = {
    require(cfg.checkpointDir.nonEmpty,
      "checkpointDir is required: without it offsets are not tracked and " +
        "at-least-once delivery (O11) does not hold")
    require(cfg.source.isDefined || cfg.inputDir.nonEmpty,
      "either an explicit SourceSpec or a non-empty inputDir is required")
    val envelope = toEnvelope(rawStream(spark, cfg))
    val trigger =
      if (cfg.availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(cfg.dumpInterval)
    envelope.writeStream
      .trigger(trigger)
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // two downstream actions (dead-letter + sink) would each re-read
        // the source without this persist — at scale that doubles source
        // I/O; here it also double-counts numInputRows
        if (cfg.deadLetterDir.isDefined) batch.persist()
        try {
          val (good, dead) = HfpRawIngest.splitInvalidPayload(batch)
          cfg.deadLetterDir.foreach { d =>
            // dead-letter lands first: losing a poison row to a sink crash
            // after this point cannot happen, re-writing it on replay can
            // (at-least-once on both outputs)
            dead.write.mode("append").parquet(d)
          }
          sink.write(HfpFlatten.flatten(good, strictTst = false), batchId)
        } finally if (cfg.deadLetterDir.isDefined) batch.unpersist()
      }
      .start()
  }
}
