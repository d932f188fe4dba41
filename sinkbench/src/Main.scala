package sinkbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.SparkEntry
import graft.model.HfpModel
import graft.operators.HfpFlatten
import graft.sources.{HfpRawIngest, SourceFactory}
import graft.streaming.{HfpStreamPipeline, JdbcVehiclesSink, PartitionedVehiclesSink}

/** One run's outcome; `run.py` turns it into the benchmark's result line.
  * `layers` is empty on an untraced run. */
final case class Outcome(
    attempted: Long, failed: Long, errors: Seq[String],
    e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
    info: Seq[(String, Double)])

/**
 * The benchmark's JVM side: generates a workload's inputs from the seed,
 * drives the program through its public entry points, times it, and checks
 * its outputs against the generator (or, for the registry, leaves the
 * results for the DuckDB comparison in `run.py`).
 *
 * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile> <originMs> <tablesDir>
 *        Main selftest <workDir>
 */
object Main {
  /** Spark task slots: one core is left to the driver thread, the JIT and
    * GC threads and the live generator, so they do not queue behind task
    * threads; at most 3, so runs on bigger boxes stay comparable.
    * SINKBENCH_SLOTS lowers it (the single-slot baseline). */
  val Slots: Int = {
    val slots = math.min(3, math.max(1, Runtime.getRuntime.availableProcessors() - 1))
    sys.env.get("SINKBENCH_SLOTS").map(n => math.max(1, math.min(n.toInt, slots))).getOrElse(slots)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) {
      val spark = session(Paths.get(args(1)))
      val failures = try SelfTest.run(spark, Paths.get(args(1))) finally spark.stop()
      if (failures.nonEmpty) { failures.foreach(f => System.err.println(s"FAIL $f")); sys.exit(1) }
      return
    }
    val Array(workload, seed, seconds, trace, work, resultFile, originMs, tablesDir) = args
    val workDir = Paths.get(work)
    val ctx = Ctx(seed.toLong, seconds.toInt, trace == "1", workDir, originMs.toLong, tablesDir)
    val spark = session(workDir)
    val out =
      try workload match {
        case "backfill_pb" => Backfill.run(spark, ctx, protobuf = true)
        case "backfill_json" => Backfill.run(spark, ctx, protobuf = false)
        case "live_1s" => Live.run(spark, ctx)
        case "registry" => Registry.run(spark, ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    Files.write(Paths.get(resultFile), Json.outcome(out).getBytes(UTF_8))
  }

  def session(workDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("sinkbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.applySessionDefaults(spark)
    spark
  }
}

/** Run parameters shared by the workloads. */
final case class Ctx(seed: Long, seconds: Int, trace: Boolean, work: Path,
    originMs: Long, tablesDir: String) {
  def dir(name: String): String = work.resolve(name).toString
  /** Start of the run's set-up (stamped by `run.py` before it writes any
    * input or starts this JVM) until now: the cold set-up of this run. */
  def setupSeconds(): Double = (System.currentTimeMillis() - originMs) / 1000.0
  /** Progress line on stderr, stamped with seconds since set-up start. */
  def phase(what: String): Unit = System.err.println(f"[sinkbench] ${setupSeconds()}%7.2f s  $what")
}

object Stats {
  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else pct(xs, 50)

  def progressMs(ps: Seq[StreamingQueryProgress], key: String): Seq[Double] =
    ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
}

/** Process-wide JVM counters, read before and after a timed region. */
final case class JvmSnap(gcMs: Long, cpuNs: Long) {
  def since(prev: JvmSnap): (Double, Double) =
    ((gcMs - prev.gcMs) / 1000.0, (cpuNs - prev.cpuNs) / 1e9)
}

object JvmSnap {
  def now(): JvmSnap = JvmSnap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime)

  /** Heap in use right after the last collection, summed over heap pools. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/**
 * Per-layer metrics every traced run reports. A run fills in the layers
 * its workload exercises; the others stay 0, which reads as "no work on
 * this layer".
 */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "sources.decode_s" -> "s", "sources.decode_cpu_s" -> "s",
    "sources.records_in" -> "count", "sources.envelopes_out" -> "count",
    "sources.undecodable" -> "count", "sources.listing_ms_p50" -> "ms",
    "operators.split_s" -> "s", "operators.dead_rows" -> "count",
    "operators.flatten_s" -> "s",
    "streaming.sink_write_s" -> "s", "streaming.sink_files" -> "count",
    "streaming.sink_bytes" -> "bytes", "streaming.landed_bytes_per_row" -> "bytes",
    "streaming.sink_write_ms_p50" -> "ms", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.dead_letter_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.batches" -> "count",
    "streaming.rows_per_batch_p50" -> "count", "streaming.jobs_per_batch" -> "count",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.exec_s" -> "s", "queries.jobs" -> "count", "queries.tasks" -> "count",
    "queries.executor_cpu_s" -> "s", "queries.shuffle_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.process_cpu_s" -> "s", "jvm.heap_after_gc_mb_max" -> "MB")

  private val units = Names.toMap

  /** All layer metrics, `got` filled in over zeros. */
  def complete(got: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = got.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared layer metrics $unknown")
    Names.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
  }

  /** Streaming layer figures from a query's progress reports and the
    * timed sink's spans (batches with no input rows left out). */
  def streaming(ps: Seq[StreamingQueryProgress], spans: Seq[SinkSpan]): Map[String, Double] = {
    val busy = ps.filter(_.numInputRows > 0)
    val sinkMs = spans.map(s => s.batchId -> s.nanos / 1e6).toMap
    val deadLetter = busy.flatMap(p =>
      for (add <- Option(p.durationMs.get("addBatch")); s <- sinkMs.get(p.batchId))
        yield add.doubleValue - s)
    Map(
      "sources.listing_ms_p50" -> Stats.median(Stats.progressMs(busy, "latestOffset")),
      "streaming.trigger_ms_p50" -> Stats.median(Stats.progressMs(busy, "triggerExecution")),
      "streaming.add_batch_ms_p50" -> Stats.median(Stats.progressMs(busy, "addBatch")),
      "streaming.dead_letter_ms_p50" -> Stats.median(deadLetter),
      "streaming.query_planning_ms_p50" -> Stats.median(Stats.progressMs(busy, "queryPlanning")),
      "streaming.wal_commit_ms_p50" -> Stats.median(Stats.progressMs(busy, "walCommit")),
      "streaming.commit_offsets_ms_p50" -> Stats.median(Stats.progressMs(busy, "commitOffsets")),
      "streaming.sink_write_ms_p50" -> Stats.median(spans.map(_.nanos / 1e6)),
      "streaming.batches" -> busy.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(busy.map(_.numInputRows.toDouble)))
  }

  /** Files and bytes under a directory, dot-files and `_SUCCESS` excluded. */
  def filesAndBytes(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot(p => p.getFileName.toString.startsWith(".") ||
            p.getFileName.toString.startsWith("_")).toList
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }
}

/**
 * backfill_pb / backfill_json: a seeded backlog drained with
 * `availableNow` into the partitioned parquet sink, from a fresh
 * checkpoint, landing and dead-letter directory each time.
 */
object Backfill {
  val Records = 100000
  val InputFiles = 8
  val WarmupRecords = 20000
  val Mix = sinkbench.Mix(deadPerMille = 20, undecodablePerMille = 10)

  def run(spark: SparkSession, ctx: Ctx, protobuf: Boolean): Outcome = {
    ctx.phase("session up")
    val recs = Gen.records(ctx.seed, Records, Mix, protobuf, Gen.backlogStamp)
    ctx.phase("records drawn")
    val input = ctx.work.resolve("input")
    val warmInput = ctx.work.resolve("warm-input")
    val warm = Gen.records(ctx.seed + 1, WarmupRecords, Mix, protobuf, Gen.backlogStamp)
    if (protobuf) { Gen.writeProtobuf(input, recs, InputFiles); Gen.writeProtobuf(warmInput, warm, InputFiles) }
    else { Gen.writeJson(input, recs, InputFiles); Gen.writeJson(warmInput, warm, InputFiles) }
    val expect = Expect.of(recs, protobuf, HfpModel.vehicleColumns ++
      Seq(Checks.HourColumn, Checks.BucketColumn))
    def spec(dir: Path) =
      if (protobuf) SourceFactory.SourceSpec.FileBinary(dir.toString)
      else SourceFactory.SourceSpec.FileJson(dir.toString)
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val setupS = ctx.setupSeconds()

    // drain i lands in landings/drain=i and dead-letters to deads/drain=i,
    // so one pass over each root checks every drain; the warm-up drain
    // writes beside them
    def drain(i: Int, from: Path = input, root: String = ""): (Double, Seq[StreamingQueryProgress]) = {
      val cfg = HfpStreamPipeline.Config(
        checkpointDir = ctx.dir(s"checkpoint-$i"), availableNow = true,
        deadLetterDir = Some(ctx.dir(s"${root}deads/drain=$i")), source = Some(spec(from)))
      val sink = new TimedSink(s"drain-$i",
        new PartitionedVehiclesSink(ctx.dir(s"${root}landings/drain=$i")))
      val t0 = System.nanoTime()
      val q = HfpStreamPipeline.start(spark, cfg, sink)
      q.awaitTermination()
      val s = (System.nanoTime() - t0) / 1e9
      org.apache.spark.SinkbenchListenerBus.drain(spark.sparkContext)
      (s, progress.progress.filter(_.runId == q.runId))
    }

    ctx.phase("inputs written")
    // JIT and codegen warm-up: a smaller backlog of the same make-up, not timed
    drain(0, warmInput, root = "warm-")
    ctx.phase("warm-up drain done")
    val jobs = if (ctx.trace) Some(new JobGroupListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val jvm0 = JvmSnap.now()
    val walls = mutable.ArrayBuffer.empty[Double]
    val inputRows = mutable.ArrayBuffer.empty[Long]
    val reports = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val prefixes = mutable.ArrayBuffer.empty[PrefixTimes]
    var heapMax = 0.0
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      val (s, ps) = drain(walls.size + 1)
      walls += s; reports ++= ps; inputRows += ps.map(_.numInputRows).sum
      if (ctx.trace) prefixes += Prefixes.time(spark, input.toString, protobuf)
      heapMax = math.max(heapMax, JvmSnap.heapAfterGcMb())
    }
    val (gcS, cpuS) = JvmSnap.now().since(jvm0)
    ctx.phase(s"${walls.size} timed drains done")
    val errors = Checks.landings(spark, ctx.dir("landings"), ctx.dir("deads"),
      inputRows.zipWithIndex.map { case (n, i) => (i + 1) -> n }.toMap, expect)
    ctx.phase("outputs checked")
    val rates = walls.map(expect.landed / _)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", Stats.median(rates.toSeq), "1/s"),
      ("latency_p50_s", Stats.median(walls.toSeq), "s"))
    val info = Seq("drains" -> walls.size.toDouble, "records_per_drain" -> Records.toDouble,
      "landed_per_drain" -> expect.landed.toDouble)
    val layers =
      if (!ctx.trace) Nil
      else {
        val spans = (1 to walls.size).flatMap(i => TimedSink.of(s"drain-$i"))
        val (files, bytes) = Layers.filesAndBytes(ctx.dir("landings/drain=1"))
        val streamJobs = jobs.get.sum(g => reports.exists(_.runId.toString == g)).jobs
        def med(f: PrefixTimes => Double): Double = Stats.median(prefixes.map(f).toSeq)
        val (dec, split, flat) = (med(_.envelopeS), med(_.splitS), med(_.flattenS))
        val recordsIn = Stats.median(reports.filter(_.numInputRows > 0).map(_.numInputRows.toDouble).toSeq)
        val envelopes = med(_.envelopes.toDouble)
        Layers.complete(Layers.streaming(reports.toSeq, spans) ++ Map(
          "sources.decode_s" -> dec, "sources.decode_cpu_s" -> med(_.envelopeCpuS),
          "sources.records_in" -> recordsIn, "sources.envelopes_out" -> envelopes,
          "sources.undecodable" -> (recordsIn - envelopes),
          "operators.split_s" -> (split - dec),
          "operators.dead_rows" -> Checks.parquetRows(spark, ctx.dir("deads/drain=1")).toDouble,
          "operators.flatten_s" -> (flat - split),
          "streaming.sink_write_s" -> Stats.median(spans.map(_.nanos / 1e9)),
          "streaming.sink_files" -> files.toDouble, "streaming.sink_bytes" -> bytes.toDouble,
          "streaming.landed_bytes_per_row" -> bytes.toDouble / expect.landed,
          "streaming.jobs_per_batch" -> streamJobs.toDouble / math.max(1, reports.count(_.numInputRows > 0)),
          "jvm.gc_s" -> gcS, "jvm.process_cpu_s" -> cpuS, "jvm.heap_after_gc_mb_max" -> heapMax))
      }
    Outcome(attempted = Records.toLong * walls.size, failed = 0, errors, e2e, layers, info)
  }
}

/**
 * Self times of the ingest layers, from materialising cumulative prefixes
 * of the pipeline over the same input as a batch read: envelope (source
 * read + decode), then the dead-letter split, then the flatten. Each
 * prefix writes to the `noop` sink; a layer's self time is its prefix
 * minus the one before.
 */
final case class PrefixTimes(envelopeS: Double, splitS: Double, flattenS: Double,
    envelopeCpuS: Double, envelopes: Long)

object Prefixes {
  def time(spark: SparkSession, input: String, protobuf: Boolean): PrefixTimes = {
    val raw =
      if (protobuf) spark.read.schema(SourceFactory.binaryWireSchema).parquet(input)
      else spark.read.schema(SourceFactory.wireSchema).json(input)
    val env = HfpStreamPipeline.toEnvelope(raw)
    val good = HfpRawIngest.splitInvalidPayload(env)._1
    val flat = HfpFlatten.flatten(good, strictTst = false)
    val listener = new JobGroupListener
    spark.sparkContext.addSparkListener(listener)
    def timed(group: String, df: DataFrame): Double = {
      spark.sparkContext.setJobGroup(group, group)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      spark.sparkContext.clearJobGroup()
      (System.nanoTime() - t0) / 1e9
    }
    try {
      val d = timed("prefix-envelope", env)
      val s = timed("prefix-split", good)
      val f = timed("prefix-flatten", flat)
      org.apache.spark.SinkbenchListenerBus.drain(spark.sparkContext)
      PrefixTimes(d, s, f, listener.sum(_ == "prefix-envelope").executorCpuNs / 1e9, env.count())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/**
 * live_1s: an open-loop generator writes one JSON-lines file per tick into
 * the source directory; the pipeline runs on the reference's 1 s dump
 * cadence into the idempotent JDBC sink over in-memory Derby. Freshness of
 * a record is the end of the sink write that committed it minus its due
 * time, which the generator stamps into `received_at`.
 */
object Live {
  val RowsPerSecond = 2000
  val TickMs = 100
  val WarmupSeconds = 3
  val WarmupDrains = 1
  val Mix = sinkbench.Mix(deadPerMille = 5, undecodablePerMille = 0)
  val Table = "vehicles"
  val WarmTable = "vehicles_warm"

  def derbyType(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case StringType => "VARCHAR(256)"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case ShortType => "SMALLINT"
      case DoubleType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case DateType => "DATE"
      case other => throw new IllegalArgumentException(s"no Derby type for $other")
    }
  }

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    val perTick = RowsPerSecond * TickMs / 1000
    val ticks = (WarmupSeconds + ctx.seconds) * 1000 / TickMs
    // records carry their due time as an offset from the generator's
    // start; the start is added when the tick's file is written
    val recs = Gen.records(ctx.seed, perTick * ticks, Mix, protobuf = false,
      (id, _) => (id / perTick).toLong * TickMs)
    val input = Files.createDirectories(ctx.work.resolve("input"))
    val staging = Files.createDirectories(ctx.work.resolve("staging"))
    val db = s"memory:sinkbench${ProcessHandle.current().pid()}"
    val url = s"jdbc:derby:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try Seq(Table, WarmTable).foreach(t => conn.createStatement().executeUpdate(
      s"CREATE TABLE $t (" + HfpModel.vehiclesSchema.fields.map(f =>
        "\"" + f.name + "\" " + derbyType(f.dataType)).mkString(", ") + ")"))
    finally conn.close()
    if (ctx.trace) CountingJdbc.register
    val sinkUrl = if (ctx.trace) CountingJdbc.Prefix + url.stripPrefix("jdbc:") else url
    val warmInput = ctx.work.resolve("warm-input")
    Gen.writeJson(warmInput, Gen.records(ctx.seed + 1, RowsPerSecond * 2, Mix, protobuf = false,
      Gen.backlogStamp), 2)
    val checkpoint = ctx.dir("checkpoint")
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val jobs = if (ctx.trace) Some(new JobGroupListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val setupS = ctx.setupSeconds()

    // JIT, codegen and Derby warm-up: the same pipeline and sink drain a
    // small backlog into a table of their own
    (1 to WarmupDrains).foreach { i =>
      HfpStreamPipeline.start(spark, HfpStreamPipeline.Config(
        checkpointDir = ctx.dir(s"warm-checkpoint-$i"), availableNow = true,
        deadLetterDir = Some(ctx.dir(s"warm-dead-$i")),
        source = Some(SourceFactory.SourceSpec.FileJson(warmInput.toString))),
        new JdbcVehiclesSink(sinkUrl, WarmTable, idempotent = true)).awaitTermination()
    }
    ctx.phase("warm-up drains done")
    CountingJdbc.connections.set(0); CountingJdbc.ddlFailed.set(0)
    val q = HfpStreamPipeline.start(spark,
      HfpStreamPipeline.Config(checkpointDir = checkpoint, deadLetterDir = Some(ctx.dir("dead")),
        source = Some(SourceFactory.SourceSpec.FileJson(input.toString))),
      new TimedSink("live", new JdbcVehiclesSink(sinkUrl, Table, idempotent = true)))
    // the trigger fires on whole seconds of the epoch; the first tick is
    // due 50 ms after one, a second ahead, so every run sees the same
    // phase between ticks and triggers
    val t0 = (System.currentTimeMillis() / 1000 + 2) * 1000 + 50
    var late = 0L
    var jvm0: JvmSnap = null
    var heapMax = 0.0
    (0 until ticks).foreach { k =>
      val due = t0 + k.toLong * TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      if (k == WarmupSeconds * 1000 / TickMs) jvm0 = JvmSnap.now()
      val batch = recs.slice(k * perTick, (k + 1) * perTick).map(r =>
        r.copy(receivedAt = t0 + r.receivedAt, tstMillis = t0 + r.tstMillis))
      Gen.writeJsonFileAtomic(input, staging, f"tick-$k%05d.json", batch.toSeq)
      late = math.max(late, System.currentTimeMillis() - due)
      if (k % 10 == 0) heapMax = math.max(heapMax, JvmSnap.heapAfterGcMb())
    }
    q.processAllAvailable()
    val (gcS, cpuS) = JvmSnap.now().since(jvm0)
    q.stop()
    org.apache.spark.SinkbenchListenerBus.drain(spark.sparkContext)
    ctx.phase("live query drained and stopped")

    // file → batch from the checkpoint's source log, batch → commit time
    // from the timed sink
    val fileBatch = SourceLog.fileBatches(Paths.get(checkpoint).resolve("sources").resolve("0"))
    val commitMs = TimedSink.of("live").map(s => s.batchId -> s.endMs).toMap
    val goodCount = recs.count(_.kind == Kind.Good).toLong
    val deadCount = recs.length - goodCount
    // freshness of each good window record, by the batch that committed it
    val fresh = mutable.Map.empty[Long, mutable.ArrayBuffer[Double]]
    var missing = 0
    (WarmupSeconds * 1000 / TickMs until ticks).foreach { k =>
      val due = t0 + k.toLong * TickMs
      val good = recs.slice(k * perTick, (k + 1) * perTick).count(_.kind == Kind.Good)
      fileBatch.get(f"tick-$k%05d.json").flatMap(b => commitMs.get(b).map(b -> _)) match {
        case Some((b, end)) =>
          fresh.getOrElseUpdate(b, mutable.ArrayBuffer.empty[Double]) ++=
            Seq.fill(good)((end - due) / 1000.0)
        case None => missing += 1
      }
    }
    val errors = Checks.jdbcLanding(spark, url, Table, ctx.dir("dead"), goodCount, deadCount) ++
      Option.when(missing > 0)(s"$missing tick files never committed by a sink write")
    ctx.phase("outputs checked")
    val windowBatches = fresh.keySet
    val allBusy = progress.progress.count(p => p.runId == q.runId && p.numInputRows > 0)
    val windowReports = progress.progress.filter(p => p.runId == q.runId && windowBatches(p.batchId))
    // capacity, not the offered rate: a window batch's rows per second of
    // its trigger
    val batchRates = windowReports.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).filter(_ > 0).map(p.numInputRows * 1000.0 / _))
    // every figure is a median over the window's batches, so a stall in a
    // few triggers moves a few samples, as a slow drain or pass does on
    // the closed-loop workloads
    def overBatches(p: Double): Double = Stats.median(fresh.values.map(f => Stats.pct(f.toSeq, p)).toSeq)
    val allFresh = fresh.values.flatten.toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", Stats.median(batchRates.toSeq), "1/s"),
      ("latency_p50_s", overBatches(50), "s"))
    val info = Seq("freshness_p90_s" -> overBatches(90), "freshness_samples" -> allFresh.size.toDouble,
      "freshness_records_p90_s" -> (if (allFresh.isEmpty) 0.0 else Stats.pct(allFresh, 90)),
      "freshness_records_p95_s" -> (if (allFresh.isEmpty) 0.0 else Stats.pct(allFresh, 95)),
      "window_batches" -> windowBatches.size.toDouble, "generator_late_ms_max" -> late.toDouble) ++
      // JDBC counts go to the context line: live_1s is the only workload
      // with a JDBC sink and it is not gated (see README.md)
      Option.when(ctx.trace)(Seq(
        "jdbc_connections_per_batch" -> CountingJdbc.connections.get / allBusy.max(1).toDouble,
        "jdbc_ddl_failed_per_batch" -> CountingJdbc.ddlFailed.get / allBusy.max(1).toDouble)).getOrElse(Nil)
    val layers =
      if (!ctx.trace) Nil
      else {
        val spans = TimedSink.of("live").filter(s => windowBatches(s.batchId))
        val streamJobs = jobs.get.sum(_ == q.runId.toString).jobs
        val liveRows = progress.progress.filter(_.runId == q.runId).map(_.numInputRows).sum
        Layers.complete(Layers.streaming(windowReports, spans) ++ Map(
          "sources.records_in" -> liveRows.toDouble,
          // the JSON wire drops no row: an unparsable payload surfaces as
          // null fields, which the dead-letter split routes
          "sources.envelopes_out" -> liveRows.toDouble,
          "operators.dead_rows" -> Checks.parquetRows(spark, ctx.dir("dead")).toDouble,
          "streaming.sink_write_s" -> Stats.median(spans.map(_.nanos / 1e9)),
          "streaming.jobs_per_batch" -> streamJobs.toDouble / math.max(1, allBusy),
          "jvm.gc_s" -> gcS, "jvm.process_cpu_s" -> cpuS, "jvm.heap_after_gc_mb_max" -> heapMax))
      }
    Outcome(attempted = recs.length.toLong, failed = 0, errors, e2e, layers, info)
  }
}

/** Reads a file stream source's metadata log: which batch took which file. */
object SourceLog {
  private val Entry = """"path"\s*:\s*"([^"]+)".*"batchId"\s*:\s*(\d+)""".r.unanchored

  def fileBatches(dir: Path): Map[String, Long] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .collect { case Entry(path, b) => Paths.get(new java.net.URI(path)).getFileName.toString -> b.toLong }
      .toMap
    finally s.close()
  }
}

/**
 * registry: one closed-loop client runs a fixed sample of oracle-backed
 * registry queries, pass after pass, over the seeded tables `run.py`
 * writes (sf0.01 schemas and sizes, `registry_tables.py`).
 */
object Registry {
  /** Oracle-backed queries that each run in about a second or less at
    * sf0.01: a star join, sort-limit, distinct, count-distinct, pivot,
    * ranking windows, a fill and a promo analysis; see README.md. */
  val Sample: Seq[String] = Seq(
    "q04_join_star", "q09_sort_limit", "q10_distinct", "q13_count_distinct",
    "q19_pivot", "q57_ranking_windows", "q96_locf_fill", "q237_promo_effect")
  val WarmupPasses = 3

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    require(Files.isDirectory(Paths.get(ctx.tablesDir)), s"registry tables not found at ${ctx.tablesDir}")
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = Sample.filterNot(n => queries.contains(n) && oracle.contains(n))
    require(missing.isEmpty, s"sample queries without an oracle: $missing")
    val jobs = if (ctx.trace) Some(new JobGroupListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val setupS = ctx.setupSeconds()

    val build = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // the first warm-up pass writes each result to parquet, with the
    // query's oracle SQL beside it, for the DuckDB comparison in run.py;
    // the other passes write to the noop sink
    val out = ctx.work.resolve("registry")
    Files.createDirectories(out)
    def pass(timed: Boolean, p: Int): Unit = Sample.foreach { n =>
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      if (ctx.trace) sc.setJobGroup(s"build-$p", n)
      val df = queries(n)(spark, ctx.tablesDir)
      val t1 = System.nanoTime()
      if (ctx.trace) sc.setJobGroup(s"exec-$p", n)
      if (p == -1) {
        df.write.parquet(out.resolve(n).toString)
        Files.write(out.resolve(n + ".sql"), oracle(n).getBytes(UTF_8))
      } else df.write.format("noop").mode("overwrite").save()
      if (ctx.trace) sc.clearJobGroup()
      if (timed) {
        val wall = (System.nanoTime() - t0) / 1e9
        build += (t1 - t0) / 1e9; latencies += wall
        perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty[Double]) += wall
      }
    }
    ctx.phase("session up, tables on disk")
    (1 to WarmupPasses).foreach { p => pass(timed = false, -p); ctx.phase(s"warm-up pass $p done") }
    var heapMax = 0.0
    val jvm0 = JvmSnap.now()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || System.nanoTime() - t0 < ctx.seconds * 1000000000L) {
      val p0 = System.nanoTime()
      pass(timed = true, passes); passes += 1
      passWalls += (System.nanoTime() - p0) / 1e9
      heapMax = math.max(heapMax, JvmSnap.heapAfterGcMb())
    }
    val (gcS, cpuS) = JvmSnap.now().since(jvm0)
    ctx.phase(s"$passes timed passes done")
    // each query's median wall over the timed passes, so a stall in one
    // pass moves one sample of one query; the latency is the median pass's
    // mean query wall (a median over all pooled walls would sit on the
    // slowest walls of one query, since the queries' walls differ
    // several-fold, and one query's median moves with that query alone)
    val queryWalls = Sample.map(n => Stats.median(perQuery(n).toSeq))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", Sample.size / queryWalls.sum, "1/s"),
      ("latency_p50_s", Stats.median(passWalls.toSeq) / Sample.size, "s"))
    val info = Seq("latency_p90_s" -> Stats.pct(latencies.toSeq, 90), "passes" -> passes.toDouble,
      "queries_per_pass" -> Sample.size.toDouble, "latency_samples" -> latencies.size.toDouble)
    val layers =
      if (!ctx.trace) Nil
      else {
        org.apache.spark.SinkbenchListenerBus.drain(spark.sparkContext)
        val b = jobs.get.sum(g => g.startsWith("build-") && !g.startsWith("build--"))
        val e = jobs.get.sum(g => g.startsWith("exec-") && !g.startsWith("exec--"))
        val buildS = build.sum
        Layers.complete(Map(
          "queries.build_s" -> buildS / passes, "queries.build_jobs" -> b.jobs.toDouble / passes,
          "queries.exec_s" -> (latencies.sum - buildS) / passes,
          "queries.jobs" -> e.jobs.toDouble / passes, "queries.tasks" -> e.tasks.toDouble / passes,
          "queries.executor_cpu_s" -> e.executorCpuNs / 1e9 / passes,
          "queries.shuffle_bytes" -> e.shuffleBytes.toDouble / passes,
          "queries.spill_bytes" -> e.spillBytes.toDouble / passes,
          "jvm.gc_s" -> gcS, "jvm.process_cpu_s" -> cpuS, "jvm.heap_after_gc_mb_max" -> heapMax))
      }
    Outcome(attempted = latencies.size.toLong, failed = 0, Nil, e2e, layers, info)
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }.mkString("{", ",", "}")

  /** The run's result for `run.py`: end-to-end metrics on an untraced run,
    * layer metrics on a traced one, whose end-to-end figures go to `info`
    * (they measure the tracing overhead, not the program). */
  def outcome(o: Outcome): String = {
    val traced = o.layers.nonEmpty
    val info = o.info ++ (if (traced) o.e2e.map { case (n, v, _) => s"traced.$n" -> v } else Nil)
    "{" + Seq(
      s""""attempted":${o.attempted}""", s""""failed":${o.failed}""",
      s""""errors":${o.errors.map(str).mkString("[", ",", "]")}""",
      s""""metrics":${metrics(if (traced) o.layers else o.e2e)}""",
      s""""info":${info.map { case (n, v) => s"${str(n)}:${num(v)}" }.mkString("{", ",", "}")}"""
    ).mkString(",") + "}"
  }
}
