package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.HfpModel

/**
 * Raw-wire ingest: build the `{topic, payload}` envelope straight from the
 * public HFP MQTT format, without the upstream protobuf pre-parser the
 * reference depends on (`fi.hsl:transitdata-common`, pom.xml:30-34 — its
 * `Hfp.Topic` is itself parsed from this same topic string upstream).
 *
 * Public wire format (HSL/Digitransit HFP v2 docs):
 *
 *   topic:   /<prefix>/<version>/<journey_type>/<temporal_type>/<event_type>
 *            /<transport_mode>/<operator_id>/<vehicle_number>/<route_id>
 *            /<direction_id>/<headsign>/<start_time>/<next_stop>
 *            /<geohash_level>/<lat;long>/<d1>/<d2>/<d3>
 *   payload: {"VP": {"desi":"550","dir":"2","oper":22,"veh":854,"tst":...}}
 *
 * e.g. `/hfp/v2/journey/ongoing/vp/bus/0022/00854/2550/2/Itäkeskus(M)/08:29
 * /1362148/4/60;24/28/65/06`.
 *
 * Everything is built-in expression composition (split / element_at /
 * from_json) — stays in whole-stage codegen, no UDFs.
 */
object HfpRawIngest {

  /** Raw HFP JSON payload schema: numeric fields arrive as JSON numbers,
    * `dir`/`oday`/`start`/`tst` as strings, `drst` as 0/1 number. */
  val rawPayloadJsonSchema: StructType = StructType(Seq(
    StructField("desi", StringType), StructField("dir", StringType),
    StructField("oper", IntegerType), StructField("veh", IntegerType),
    StructField("tst", StringType), StructField("tsi", LongType),
    StructField("spd", DoubleType), StructField("hdg", IntegerType),
    StructField("lat", DoubleType), StructField("long", DoubleType),
    StructField("acc", DoubleType), StructField("dl", IntegerType),
    StructField("odo", DoubleType), StructField("drst", IntegerType),
    StructField("oday", StringType), StructField("jrn", IntegerType),
    StructField("line", IntegerType), StructField("start", StringType),
    StructField("loc", StringType), StructField("stop", IntegerType),
    StructField("route", StringType), StructField("occu", IntegerType)
  ))

  private def seg(parts: Column, i: Int): Column = {
    // get(), not element_at(): a topic with fewer segments must yield
    // NULL under BOTH ansi settings (element_at throws out-of-bounds
    // under ANSI, and Spark 4 defaults ANSI on — parsers.scala's
    // convention applies to this file's guards too)
    val v = get(parts, lit(i - 1))
    when(v === "", lit(null).cast(StringType)).otherwise(v)
  }

  /**
   * Topic-string → `topic` struct (the nested half of the envelope).
   * Segment indexes are 1-based into split(topic, '/'); index 1 is the
   * empty string before the leading slash.
   *
   * The geohash tail encodes coarse position: `<lat;long>` integer parts,
   * then up to 3 segments of interleaved decimal digit pairs — digit i of
   * latitude and longitude respectively.
   */
  def parseTopic(topic: Column, receivedAtMillis: Column): Column = {
    val p = split(topic, "/")
    val eventTypeRaw = seg(p, 6)
    // tryInt/tryDouble, not raw casts: malformed segments must be NULL
    // under ANSI mode too, not CAST_INVALID_INPUT stream crashes
    val operatorId = graft.functions.parsers.tryInt(seg(p, 8))
    val vehicleNumber = graft.functions.parsers.tryInt(seg(p, 9))
    // geohash head "60;24" → integer degrees; tails "28","65","06" →
    // interleaved decimal digits (lat digit, long digit)
    val head = seg(p, 16)
    val latInt = get(split(head, ";"), lit(0)).cast(StringType)
    val lonInt = get(split(head, ";"), lit(1)).cast(StringType)
    def digit(i: Int, which: Int): Column =
      coalesce(substring(seg(p, 16 + i), which, 1), lit(""))
    val latStr = concat(latInt, lit("."), digit(1, 1), digit(2, 1), digit(3, 1))
    val lonStr = concat(lonInt, lit("."), digit(1, 2), digit(2, 2), digit(3, 2))
    struct(
      receivedAtMillis.as("received_at"),
      concat(lit("/"), seg(p, 2), lit("/")).as("topic_prefix"),
      seg(p, 3).as("topic_version"),
      seg(p, 4).as("journey_type"),
      seg(p, 5).as("temporal_type"),
      upper(eventTypeRaw).as("event_type"),
      seg(p, 7).as("transport_mode"),
      operatorId.as("operator_id"),
      vehicleNumber.as("vehicle_number"),
      // "0022"/"00854" → "22/854": zero-padding stripped via int round-trip
      concat(operatorId.cast(StringType), lit("/"), vehicleNumber.cast(StringType))
        .as("unique_vehicle_id"),
      seg(p, 10).as("route_id"),
      graft.functions.parsers.tryInt(seg(p, 11)).as("direction_id"),
      seg(p, 12).as("headsign"),
      seg(p, 13).as("start_time"),
      seg(p, 14).as("next_stop"),
      graft.functions.parsers.tryInt(seg(p, 15)).as("geohash_level"),
      graft.functions.parsers.tryDouble(latStr).as("latitude"),
      graft.functions.parsers.tryDouble(lonStr).as("longitude")
    ).as("topic")
  }

  /**
   * Raw payload JSON → `payload` struct. The JSON body nests the fields
   * under the uppercase event-type key (`{"VP": {...}}`); parsing as
   * map<string,struct> then taking the single value is event-type-agnostic.
   */
  def parsePayload(json: Column): Column = {
    val parsed = from_json(json, MapType(StringType, rawPayloadJsonSchema))
    // get(), not element_at(1): "{}" parses to an empty map and the
    // missing body must be NULL under ANSI, not INVALID_ARRAY_INDEX
    val body = get(map_values(parsed), lit(0))
    struct(
      body.getField("desi").as("desi"),
      body.getField("dir").as("dir"),
      body.getField("oper").as("oper"),
      body.getField("veh").as("veh"),
      body.getField("tst").as("tst"),
      body.getField("tsi").as("tsi"),
      body.getField("spd").as("spd"),
      body.getField("hdg").as("hdg"),
      body.getField("lat").as("lat"),
      body.getField("long").as("long"),
      body.getField("acc").as("acc"),
      body.getField("dl").as("dl"),
      body.getField("odo").as("odo"),
      body.getField("drst").cast(StringType).as("drst"),
      body.getField("oday").as("oday"),
      body.getField("jrn").as("jrn"),
      body.getField("line").as("line"),
      body.getField("start").as("start"),
      body.getField("loc").as("loc"),
      body.getField("stop").as("stop"),
      body.getField("route").as("route"),
      body.getField("occu").as("occu")
    ).as("payload")
  }

  /**
   * Raw frame (`topic` string, `payload` JSON string, `received_at` epoch
   * millis) → nested envelope frame, ready for HfpFlatten.flatten.
   */
  def toEnvelope(raw: DataFrame,
      topicCol: String = "topic",
      payloadCol: String = "payload",
      receivedAtCol: String = "received_at"): DataFrame =
    raw.select(
      parseTopic(col(topicCol), col(receivedAtCol)),
      parsePayload(col(payloadCol)))

  /**
   * Dead-letter split on the payload's required-field contract: `veh`,
   * `tst`, `tsi` are NOT NULL in the reference schema (init.sql:49-51), and
   * a malformed payload JSON (from_json → null) surfaces as exactly these
   * fields being NULL. The reference instead rejects wrong-schema messages
   * before write (MessageProcessor.java:118) and would crash on a missing
   * `tst` (QueueWriter.java:106); routing to a dead-letter frame keeps the
   * batch alive without silently shipping contract-violating rows.
   *
   * The same split carries the reference's schema check (O2): a topic
   * whose version segment is not `v2` — including a topic too short to
   * have one — is dead-lettered, because [[parseTopic]] reads the v2
   * segment layout only and would land a v1 topic with every later field
   * shifted into the wrong column. `bad` is never NULL, so every row
   * lands on exactly one side.
   *
   * @return (good, deadLetter)
   */
  def splitInvalidPayload(env: DataFrame): (DataFrame, DataFrame) = {
    // empty tst is as contract-violating as NULL: it parses to NULL tst
    // downstream and would ship a row the reference's NOT NULL column
    // rejects (the binary wire path throws on a MISSING trio at decode;
    // an explicitly-empty string arrives here)
    val bad = !(col("topic.topic_version") <=> "v2") ||
      col("payload.veh").isNull || col("payload.tst").isNull ||
      col("payload.tsi").isNull || trim(col("payload.tst")) === ""
    (env.filter(!bad), env.filter(bad))
  }
}
