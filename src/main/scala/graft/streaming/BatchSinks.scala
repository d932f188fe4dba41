package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/**
 * Per-micro-batch sink contract used from `foreachBatch` — the Spark
 * restatement of the reference's `QueueWriter.write(List<Hfp.Data>, long)`
 * (QueueWriter.java:50-165): one call per trigger firing, all-or-nothing
 * from the caller's point of view (a thrown exception fails the batch, the
 * streaming checkpoint does not advance, and the data is redelivered on
 * restart — the Pulsar no-ack/redelivery loop, MessageProcessor.java:131-143,
 * subsumed by Spark's offset WAL).
 */
trait BatchSink extends Serializable {
  def write(batch: DataFrame, batchId: Long): Unit
}

/** Append each micro-batch to a parquet directory — the file-landing twin
  * of the reference's JDBC sink, partitionable by the hypertable's own
  * axes (init.sql:70-73) for scan pruning at rest. */
final class ParquetBatchSink(path: String, partitionColumns: Seq[String] = Nil)
    extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val w = batch.write.mode("append")
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w)
      .parquet(path)
  }
}

/**
 * At-rest layout parity with the reference hypertable (run/init.sql:70-73):
 * TimescaleDB chunks `vehicles` into 1-HOUR time slices
 * (`chunk_time_interval => 3600000000` µs) and space-partitions each slice
 * by `unique_vehicle_id`. The parquet twin is Hive-style directory
 * partitioning on a derived hour string + a stable vehicle-hash bucket:
 * a time-range or vehicle predicate then prunes whole directories at
 * planning time (`PartitionFilters` on the scan) exactly like Timescale's
 * chunk exclusion — at 100 TB the difference between scanning an hour and
 * scanning a year.
 *
 * The bucket count bounds files-per-hour (files ≈ buckets × writers); keep
 * it small — the DDL uses 4 space partitions, and over-bucketing small
 * hours produces the classic tiny-file problem.
 */
object AtRestLayout {
  val HourColumn = "received_hour"
  val BucketColumn = "vehicle_bucket"
  val DefaultBuckets = 4

  val partitionColumns: Seq[String] = Seq(HourColumn, BucketColumn)

  /** Derive the layout columns from the 40-column vehicles frame.
    * The hour renders from a UTC-converted wall time (`convert_timezone`
    * → TIMESTAMP_NTZ, which `date_format` prints verbatim), NOT from the
    * session-timezone rendering of the instant — otherwise the physical
    * layout would shift with `spark.sql.session.timeZone`, breaking both
    * parity with Timescale's UTC-epoch chunking and cross-session
    * directory stability. xxhash64 (not the enum-sensitive value itself)
    * gives a stable, uniform bucket — the analogue of Timescale's
    * space-partition hash. */
  def addColumns(vehicles: DataFrame, buckets: Int = DefaultBuckets): DataFrame =
    vehicles
      .withColumn(HourColumn,
        date_format(convert_timezone(lit("UTC"), col("received_at")),
          "yyyy-MM-dd-HH"))
      .withColumn(BucketColumn,
        pmod(xxhash64(col("unique_vehicle_id")), lit(buckets.toLong)).cast(IntegerType))
}

/** Parquet landing with the reference's at-rest layout: 1-hour time
  * chunks × vehicle-hash space buckets (see [[AtRestLayout]]). */
final class PartitionedVehiclesSink(path: String,
    buckets: Int = AtRestLayout.DefaultBuckets) extends BatchSink {
  private val inner = new ParquetBatchSink(path, AtRestLayout.partitionColumns)
  override def write(batch: DataFrame, batchId: Long): Unit =
    inner.write(AtRestLayout.addColumns(batch, buckets), batchId)
}

/**
 * Fail-fast circuit breaker around any sink (reference O12: the
 * `subsequentWriteFailCount` budget, QueueWriter.java:20,152,156-161 —
 * 10 consecutive failed batches tear the application down; any success
 * resets the counter).
 *
 * A non-exhausted failure rethrows the original cause: the streaming query
 * fails, the supervisor restarts it from the checkpoint, and the same
 * batch is replayed (the reference's no-ack → Pulsar-redelivery path,
 * environment.conf:9). Once the budget is exhausted the error is wrapped
 * in [[FailFastExhausted]], which [[StreamSupervisor]] refuses to retry —
 * the reference's rethrow-to-teardown (Main.java:31-39).
 */
final class FailFastSink(inner: BatchSink, maxConsecutiveFailures: Int = 10)
    extends BatchSink {
  private val consecutiveFailures = new AtomicInteger(0)

  override def write(batch: DataFrame, batchId: Long): Unit =
    try {
      inner.write(batch, batchId)
      consecutiveFailures.set(0)
    } catch {
      case e: Throwable =>
        val n = consecutiveFailures.incrementAndGet()
        if (n >= maxConsecutiveFailures)
          throw new FailFastExhausted(
            s"sink failed $n consecutive times (budget $maxConsecutiveFailures)", e)
        throw e
    }
}

/** Terminal failure: the consecutive-failure budget is spent; do not restart. */
final class FailFastExhausted(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)
