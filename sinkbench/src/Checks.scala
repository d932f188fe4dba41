package sinkbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** What one generated input set must produce, computed from the
  * generator's own records. */
final case class Expect(
    records: Long, landed: Long, dead: Long, undecodable: Long,
    nulls: Map[String, Long], sumVeh: Long, sumTsi: Long,
    minTstMicros: Long, maxTstMicros: Long, distinctVehicles: Long,
    perDir: Map[(String, String), Long])

object Expect {
  /** Flat columns a generated good record can leave null, and when. */
  private val nullable: Seq[(String, Rec => Boolean)] = Seq(
    "desi" -> (_.desi.isEmpty), "spd" -> (_.spd.isEmpty),
    "hdg" -> (_.hdg.isEmpty), "lat" -> (_.lat.isEmpty),
    "long" -> (_.lng.isEmpty), "acc" -> (_.acc.isEmpty),
    "dl" -> (_.dl.isEmpty), "odo" -> (_.odo.isEmpty),
    "drst" -> (_.drst.isEmpty), "jrn" -> (_.jrn.isEmpty),
    "line" -> (_.line.isEmpty), "loc" -> (_.loc.isEmpty),
    "stop" -> (_.stop.isEmpty), "route" -> (_.route.isEmpty),
    "occu" -> (_.occu.isEmpty))

  /** The at-rest bucket of a vehicle: Spark's xxhash64 (seed 42) of the
    * UTF-8 id, mod the layout's 4 buckets. */
  def bucket(uvid: String): Int =
    java.lang.Math.floorMod(XXH64.hashUTF8String(UTF8String.fromString(uvid), 42L), 4L).toInt

  def of(recs: Array[Rec], protobuf: Boolean, landingColumns: Seq[String]): Expect = {
    val fates = recs.groupBy(r => Kind.fate(r.kind, protobuf)).map { case (k, v) => k -> v }
    val good = fates.getOrElse("landed", Array.empty[Rec])
    val nullMap = nullable.toMap
    Expect(
      records = recs.length.toLong,
      landed = good.length.toLong,
      dead = fates.get("dead").map(_.length.toLong).getOrElse(0L),
      undecodable = fates.get("undecodable").map(_.length.toLong).getOrElse(0L),
      nulls = landingColumns.map(c =>
        c -> nullMap.get(c).map(p => good.count(p).toLong).getOrElse(0L)).toMap,
      sumVeh = good.map(_.vehNum.toLong).sum,
      sumTsi = good.map(_.tsi).sum,
      minTstMicros = if (good.isEmpty) 0L else good.map(_.tstMillis).min * 1000L,
      maxTstMicros = if (good.isEmpty) 0L else good.map(_.tstMillis).max * 1000L,
      distinctVehicles = good.map(_.uvid).distinct.length.toLong,
      perDir = good.groupBy(r => (r.hour, bucket(r.uvid).toString))
        .map { case (k, v) => k -> v.length.toLong })
  }
}

/** Correctness checks over the program's outputs. Each returns the list
  * of disagreements; an empty list is a pass. They read the outputs back
  * with plain Spark readers and JDBC, never through program code. */
object Checks {
  val HourColumn = "received_hour"
  val BucketColumn = "vehicle_bucket"
  /** Directory level above a drain's landing and dead-letter dirs. */
  val DrainColumn = "drain"

  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  /** Row count of a parquet directory that may not exist (no row ever
    * written). */
  def parquetRows(spark: SparkSession, path: String): Long =
    if (exists(path)) spark.read.parquet(path).count() else 0L

  /** Reads a partitioned directory with its directory values as strings. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try spark.read.parquet(path)
    finally spark.conf.set(key, prev)
  }

  /** Landed rows of every drain against the generator: counts, per-column
    * aggregates, and every row in the hour × bucket directory its own
    * values imply. Drain `d` lands in `<root>/drain=d` and dead-letters
    * to `<deadRoot>/drain=d`; one pass over each root checks them all.
    * `inputRows(d)` is the drain's `numInputRows` from its progress
    * reports: what it read, less what it landed and dead-lettered, is what
    * it dropped as undecodable. */
  def landings(spark: SparkSession, root: String, deadRoot: String, inputRows: Map[Int, Long],
      e: Expect): Seq[String] = {
    val cols = e.nulls.keys.toSeq.sorted
    val hourOf = udf((ts: java.sql.Timestamp) => Gen.HourFmt.format(ts.toInstant))
    val bucketOf = udf((v: String) => Expect.bucket(v).toString)
    val misplaced = hourOf(col("received_at")) =!= col(HourColumn) ||
      bucketOf(col("unique_vehicle_id")) =!= col(BucketColumn)
    val aggs = Seq(count(lit(1)).as("rows"),
      sum(when(misplaced, 1L).otherwise(0L)).as("misplaced"),
      sum(col("veh").cast("long")).as("sum_veh"), sum(col("tsi")).as("sum_tsi"),
      unix_micros(min(col("tst"))).as("min_tst"), unix_micros(max(col("tst"))).as("max_tst"),
      collect_set(col("unique_vehicle_id")).as("vehicles")) ++
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_$c"))
    // one pass over the landings: per drain × directory aggregates
    val dirs =
      if (!exists(root)) Array.empty[Row]
      else readPartitioned(spark, root).groupBy(DrainColumn, HourColumn, BucketColumn)
        .agg(aggs.head, aggs.tail: _*).collect()
    val dead =
      if (!exists(deadRoot)) Map.empty[String, Long]
      else readPartitioned(spark, deadRoot).groupBy(DrainColumn).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    inputRows.toSeq.sortBy(_._1).flatMap { case (d, in) =>
      drain(dirs.filter(_.getAs[String](DrainColumn) == d.toString),
        dead.getOrElse(d.toString, 0L), in, cols, e).map(x => s"drain $d: $x")
    }
  }

  /** One drain's checks over its directory aggregates. */
  private def drain(dirs: Array[Row], dead: Long, inputRows: Long, cols: Seq[String],
      e: Expect): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def cmp(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"$what: got $got, want $want"
    def total(c: String): Long = dirs.map(_.getAs[Long](c)).sum
    val landed = total("rows")
    cmp("landed rows", landed, e.landed)
    cmp("dead-lettered rows", dead, e.dead)
    cmp("undecodable records", inputRows - landed - dead, e.undecodable)
    cols.foreach(c => cmp(s"nulls in $c", total(s"n_$c"), e.nulls(c)))
    cmp("sum(veh)", total("sum_veh"), e.sumVeh)
    cmp("sum(tsi)", total("sum_tsi"), e.sumTsi)
    if (dirs.nonEmpty) {
      cmp("min(tst)", dirs.map(_.getAs[Long]("min_tst")).min, e.minTstMicros)
      cmp("max(tst)", dirs.map(_.getAs[Long]("max_tst")).max, e.maxTstMicros)
    }
    cmp("distinct unique_vehicle_id",
      dirs.flatMap(_.getAs[scala.collection.Seq[String]]("vehicles")).distinct.length.toLong,
      e.distinctVehicles)
    cmp("rows in the wrong hour/bucket directory", total("misplaced"), 0L)
    val perDir = dirs.map(x => (x.getAs[String](HourColumn), x.getAs[String](BucketColumn)) ->
      x.getAs[Long]("rows")).toMap
    val wrongDirs = (perDir.keySet ++ e.perDir.keySet).filter(k => perDir.get(k) != e.perDir.get(k))
    wrongDirs.toSeq.sorted.take(3).foreach(k =>
      cmp(s"rows in directory $k", perDir.getOrElse(k, 0L), e.perDir.getOrElse(k, 0L)))
    errs.result()
  }

  /** live_1s: each good record exactly once in the JDBC target, and the
    * planted poison rows in the dead-letter directory. */
  def jdbcLanding(spark: SparkSession, url: String, table: String, deadDir: String,
      landed: Long, dead: Long): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url)
    val (rows, distinctTsi) =
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT COUNT(*), COUNT(DISTINCT \"tsi\") FROM $table")
        rs.next(); (rs.getLong(1), rs.getLong(2))
      } finally conn.close()
    val gotDead = parquetRows(spark, deadDir)
    Seq(
      Option.when(rows != landed)(s"JDBC rows: got $rows, want $landed"),
      Option.when(distinctTsi != landed)(s"JDBC distinct tsi: got $distinctTsi, want $landed"),
      Option.when(gotDead != dead)(s"dead-lettered rows: got $gotDead, want $dead")).flatten
  }
}
