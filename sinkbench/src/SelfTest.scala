package sinkbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.HfpModel
import graft.sources.SourceFactory
import graft.streaming.{HfpStreamPipeline, PartitionedVehiclesSink}

/**
 * Tests of the benchmark's own checks: the same seed must give
 * byte-identical inputs, the checks must pass on the program's real
 * output, and each check must fail on a damaged copy of it.
 */
object SelfTest {
  def run(spark: SparkSession, work: Path): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    // same seed → byte-identical inputs; another seed → other inputs
    def inputs(seed: Long, name: String): Map[String, Seq[Byte]] = Seq(false, true).flatMap { pb =>
      val dir = work.resolve(s"$name-$pb")
      val recs = Gen.records(seed, 3000, Backfill.Mix, pb, Gen.backlogStamp)
      if (pb) Gen.writeProtobuf(dir, recs, 3) else Gen.writeJson(dir, recs, 3)
      Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
        .map(p => s"$pb/${p.getFileName}" -> Files.readAllBytes(p).toSeq)
    }.toMap
    val a = inputs(7, "gen-a")
    expect("same seed gives byte-identical inputs", a == inputs(7, "gen-b") && a.size == 6)
    expect("another seed gives other inputs", a != inputs(8, "gen-c"))

    // one real landing per wire; the checks pass on it
    def landingOf(pb: Boolean): (String, String, Long, Expect) = {
      val recs = Gen.records(11, 20000, Backfill.Mix, pb, Gen.backlogStamp)
      val in = work.resolve(s"in-$pb")
      if (pb) Gen.writeProtobuf(in, recs, 4) else Gen.writeJson(in, recs, 4)
      val spec =
        if (pb) SourceFactory.SourceSpec.FileBinary(in.toString)
        else SourceFactory.SourceSpec.FileJson(in.toString)
      // one drain, numbered 1, under its own landing and dead-letter roots
      val (landing, dead) = (work.resolve(s"landings-$pb").toString, work.resolve(s"deads-$pb").toString)
      val q = HfpStreamPipeline.start(spark, HfpStreamPipeline.Config(
        checkpointDir = work.resolve(s"cp-$pb").toString, availableNow = true,
        deadLetterDir = Some(s"$dead/drain=1"), source = Some(spec)),
        new PartitionedVehiclesSink(s"$landing/drain=1"))
      q.awaitTermination()
      (landing, dead, q.recentProgress.map(_.numInputRows).sum,
        Expect.of(recs, pb, HfpModel.vehicleColumns ++ Seq(Checks.HourColumn, Checks.BucketColumn)))
    }
    val (landing, dead, in, e) = landingOf(pb = false)
    def check(root: String, deadRoot: String, in: Long, e: Expect) =
      Checks.landings(spark, root, deadRoot, Map(1 -> in), e)
    val clean = check(landing, dead, in, e)
    expect(s"landing check passes on the JSON landing $clean", clean.isEmpty)
    val (pbLanding, pbDead, pbIn, pbE) = landingOf(pb = true)
    val pbClean = check(pbLanding, pbDead, pbIn, pbE)
    expect(s"landing check passes on the protobuf landing $pbClean", pbClean.isEmpty)
    // a drain that read one record more than it landed, dead-lettered or
    // was planted to drop: one undecodable record too many
    expect("landing check fails on a wrong undecodable count",
      check(pbLanding, pbDead, pbIn + 1, pbE).nonEmpty)
    expect("the protobuf input plants dead and undecodable records", pbE.dead > 0 && pbE.undecodable > 0)
    expect("the JSON input plants dead records", e.dead > 0 && e.undecodable == 0)

    // damaged copies of the landing: each must fail the check
    val real = Checks.readPartitioned(spark, landing).drop(Checks.DrainColumn)
    val victim = real.agg(min("tsi")).head.getLong(0)
    val hit = col("tsi") === victim
    val otherHour = real.filter(!hit).select(Checks.HourColumn).distinct()
      .filter(col(Checks.HourColumn) =!= real.filter(hit).select(Checks.HourColumn).head.getString(0))
      .head.getString(0)
    val damages: Seq[(String, DataFrame)] = Seq(
      "a dropped row" -> real.filter(!hit),
      "an altered value" -> real.withColumn("veh", when(hit, col("veh") + 1).otherwise(col("veh"))),
      "a duplicated row" -> real.union(real.filter(hit)),
      "a row in the wrong hour directory" ->
        real.withColumn(Checks.HourColumn, when(hit, lit(otherHour)).otherwise(col(Checks.HourColumn))))
    damages.zipWithIndex.foreach { case ((what, df), i) =>
      val path = work.resolve(s"damaged-$i").toString
      df.write.partitionBy(Checks.HourColumn, Checks.BucketColumn).parquet(s"$path/drain=1")
      val errs = check(path, dead, in, e)
      expect(s"landing check fails on $what: $errs", errs.nonEmpty)
    }
    expect("landing check fails on a lost dead-letter row",
      check(landing, work.resolve("no-such-dir").toString, in, e).nonEmpty)

    // the JDBC check: exactly once, against plain JDBC
    val url = "jdbc:derby:memory:selftest;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE t (\"tsi\" BIGINT)")
      (1 to 5).foreach(i => st.executeUpdate(s"INSERT INTO t VALUES ($i)"))
      expect("JDBC check passes on each record once",
        Checks.jdbcLanding(spark, url, "t", dead, 5, e.dead).isEmpty)
      expect("JDBC check fails on a missing record",
        Checks.jdbcLanding(spark, url, "t", dead, 6, e.dead).nonEmpty)
      st.executeUpdate("INSERT INTO t VALUES (5)")
      expect("JDBC check fails on a duplicated record",
        Checks.jdbcLanding(spark, url, "t", dead, 5, e.dead).nonEmpty)
    } finally conn.close()
    failures.result()
  }
}
