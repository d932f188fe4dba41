package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.HfpFlatten

/**
 * Raw-ingest → flatten pipeline semantics not already covered per-function
 * by ParsersSpec: the dead-letter split on the payload's required-field
 * contract and end-to-end value checks over one wire record. Hash-level
 * verification of the full 40-column pipeline is q21_hfp_pipeline's DuckDB
 * oracle entry (HfpPipelineQueries).
 */
class HfpPipelineSpec extends SparkSuite {
  import spark.implicits._

  private val goodTopic =
    "/hfp/v2/journey/ongoing/vp/bus/0022/00854/2550/2/Itakeskus(M)/08:29/1362148/4/60;24/28/65/06"
  private val goodPayload =
    """{"VP":{"desi":"550","dir":"2","oper":22,"veh":854,"tst":"2024-06-05T08:00:01.412Z","tsi":1717574401,"spd":8.49,"drst":0,"oday":"2024-06-05","start":"08:29"}}"""

  test("splitInvalidPayload routes malformed JSON and missing required fields to dead-letter") {
    val raw = Seq(
      (goodTopic, goodPayload, 1L),
      (goodTopic, "not json {", 2L),                                  // malformed
      (goodTopic, """{"VP":{"desi":"x","tst":"2024-06-05T08:00:00Z","tsi":1}}""", 3L), // veh absent
      (goodTopic, """{"VP":{"veh":1,"tsi":1}}""", 4L)                 // tst absent
    ).toDF("topic", "payload", "received_at")
    val (good, dead) = HfpRawIngest.splitInvalidPayload(HfpRawIngest.toEnvelope(raw))
    assert(good.count() === 1)
    assert(dead.count() === 3)
  }

  test("splitInvalidPayload dead-letters non-v2 and short topics; good + dead = input") {
    val raw = Seq(
      (goodTopic, goodPayload, 1L),
      (goodTopic.replace("/hfp/v2/", "/hfp/v1/"), goodPayload, 2L), // v1 layout
      ("/hfp", goodPayload, 3L),                                    // no version segment
      (null, goodPayload, 4L)
    ).toDF("topic", "payload", "received_at")
    val (good, dead) = HfpRawIngest.splitInvalidPayload(HfpRawIngest.toEnvelope(raw))
    assert(good.select(col("topic.received_at")).as[Long].collect().toSeq === Seq(1L))
    assert(dead.select(col("topic.received_at")).as[Long].collect().sorted.toSeq ===
      Seq(2L, 3L, 4L))
    assert(good.count() + dead.count() === raw.count())
  }

  test("end-to-end: one wire record flattens to the reference's parsed values") {
    val raw = Seq((goodTopic, goodPayload, 1717574401500L))
      .toDF("topic", "payload", "received_at")
    val row: Row = HfpFlatten.flatten(HfpRawIngest.toEnvelope(raw), strictTst = false)
      .select(
        col("unique_vehicle_id"), col("event_type"), col("is_ongoing"),
        col("journey_start_time"), col("topic_latitude"), col("dir"),
        unix_micros(col("tst")).as("tst_us"), col("drst"))
      .head()
    assert(row.getString(0) === "22/854")   // zero-padding stripped
    assert(row.getString(1) === "VP")       // topic segment upper-cased
    assert(row.getBoolean(2))
    assert(row.getInt(3) === 8 * 3600 + 29 * 60)
    assert(row.getDouble(4) === 60.26)      // geohash digit interleave: 60 + .2,.6,.0
    assert(row.getShort(5) === 2.toShort)
    assert(row.getLong(6) === 1717574401412000L)
    assert(!row.getBoolean(7))
  }
}
