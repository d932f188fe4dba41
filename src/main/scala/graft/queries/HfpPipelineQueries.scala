package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.operators.HfpFlatten
import graft.sources.{HfpProtobuf, HfpRawIngest}

/**
 * q21 — the HFP raw-ingest → flatten pipeline under the DuckDB oracle gate.
 *
 * This is the engine's differentiating capability: the reference's whole
 * job is topic+payload → 40 typed, null-safe columns
 * (QueueWriter.java:57-137). The fixture rows below are built from one
 * shared Scala constant list, so the Spark input frame and the DuckDB
 * oracle VALUES are generated from the same source of truth — any drift
 * between the two sides is a real engine/oracle semantic difference, never
 * a fixture typo.
 *
 * Branch coverage (FIXTURES.md):
 *  - F1  fully-populated v2 VP row (every parser on its happy path)
 *  - F2  minimal deadrun: all optional topic segments empty → NULL
 *  - F3  malformed-but-lenient: dir "abc", drst 2, oday "2024-13-99",
 *        start "25:99", start_time "xx:yy" → NULL each
 *  - F4  poison tst ("not-a-timestamp") under lenient mode → NULL
 *  - overflow: dir "99999" must be NULL (range guard), not a wrapped short;
 *        post-midnight start "28:30" wraps to 16200 s; oday "2024-02-30"
 *        (shape-valid, calendar-invalid) → NULL
 *  - F5  mode-loss replica: empty transport_mode segment → NULL mode
 *  - F7  duplicate delivery: identical row twice → both land (at-least-once)
 *  - F8  unknown event type "xx" → passes through flatten as "XX" (enum
 *        guards are a separate dead-letter split, HfpFlatten.splitInvalidEnums)
 *  - malformed payload JSON → dead-letter (required payload fields NULL),
 *        excluded from the good-side output on both engines
 *  - v1 topic, and a topic too short to carry a version → dead-letter
 *        (the v2 segment layout is the only one parsed), excluded likewise
 *
 * Timestamps are emitted as absolute epoch BIGINTs (received_at_ms,
 * tst_us) per the registry's cross-engine determinism rules; `long` and
 * `start` are aliased (lng, start_sec) because both are reserved words in
 * one engine or the other (SURVEY §7.4).
 */
object HfpPipelineQueries {

  /** One raw wire record: topic segments (s2..s19 when complete), payload JSON, received_at millis. */
  private[graft] final case class RawFixture(segments: Seq[String], payload: String, receivedAt: Long) {
    def topic: String = "/" + segments.mkString("/")
  }

  /** Raw fixture frame → good-side nested envelope (shared by q21/q41). */
  private[graft] def goodEnvelope(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val raw = fixtures.map(f => (f.topic, f.payload, f.receivedAt))
      .toDF("topic", "payload", "received_at")
    val env = HfpRawIngest.toEnvelope(raw)
    HfpRawIngest.splitInvalidPayload(env)._1
  }

  /** The 40-column flatten + cross-engine output shaping (shared by q21/q41). */
  private def flatSelect(env: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    HfpFlatten.flatten(env, strictTst = false)
      .select(
        unix_millis(col("received_at")).as("received_at_ms"),
        col("topic_prefix"), col("topic_version"), col("journey_type"),
        col("is_ongoing"), col("event_type"), col("mode"),
        col("owner_operator_id"), col("vehicle_number"), col("unique_vehicle_id"),
        col("route_id"), col("direction_id"), col("headsign"),
        col("journey_start_time"), col("next_stop_id"), col("geohash_level"),
        col("topic_latitude"), col("topic_longitude"),
        col("desi"), col("dir"), col("oper"), col("veh"),
        unix_micros(col("tst")).as("tst_us"),
        col("tsi"), col("spd"), col("hdg"), col("lat"),
        col("long").as("lng"), col("acc"), col("dl"), col("odo"),
        // drst as 0/1 int and oday as yyyy-MM-dd string: nullable
        // BOOLEAN/DATE round-trip through pandas with engine-specific
        // null markers (None vs NaN/NaT), breaking the value compare
        // even when semantically equal
        col("drst").cast(IntegerType).as("drst"),
        col("oday").cast(StringType).as("oday"),
        col("jrn"), col("line"),
        col("start").as("start_sec"), col("loc"), col("stop"),
        col("route"), col("occu"))
      .orderBy("received_at_ms", "veh")

  private def seg(version: String, jt: String, tt: String, et: String, mode: String,
      oper: String, veh: String, route: String, dir: String, hs: String, start: String,
      nextStop: String, gl: String, gh: String, g1: String, g2: String, g3: String): Seq[String] =
    Seq("hfp", version, jt, tt, et, mode, oper, veh, route, dir, hs, start, nextStop, gl, gh, g1, g2, g3)

  private[graft] val fixtures: Seq[RawFixture] = {
    val f1 = RawFixture(
      seg("v2", "journey", "ongoing", "vp", "bus", "0022", "00854", "2550", "2",
        "Itakeskus(M)", "08:29", "1362148", "4", "60;24", "28", "65", "06"),
      """{"VP":{"desi":"550","dir":"2","oper":22,"veh":854,"tst":"2024-06-05T08:00:01.412Z","tsi":1717574401,"spd":8.49,"hdg":72,"lat":60.229214,"long":25.007964,"acc":0.63,"dl":-25,"odo":4927.0,"drst":0,"oday":"2024-06-05","jrn":812,"line":261,"start":"08:29","loc":"GPS","stop":1362148,"route":"2550","occu":0}}""",
      1717574401500L)
    val f2 = RawFixture(
      seg("v2", "deadrun", "upcoming", "due", "bus", "0018", "00662", "", "",
        "", "", "", "", "", "", "", ""),
      """{"DUE":{"veh":662,"tst":"2024-06-05T03:10:00.000Z","tsi":1717557000}}""",
      1717557000123L)
    val f3 = RawFixture(
      seg("v2", "journey", "ongoing", "vp", "tram", "0040", "00415", "1007A", "1",
        "Kirurgi", "xx:yy", "1020455", "3", "60;24", "17", "98", "41"),
      """{"VP":{"desi":"7A","dir":"abc","oper":40,"veh":415,"tst":"2024-06-05T08:15:30.000Z","tsi":1717575330,"spd":3.2,"hdg":181,"lat":60.17,"long":24.95,"acc":-0.2,"dl":40,"odo":812.5,"drst":2,"oday":"2024-13-99","jrn":55,"line":31,"start":"25:99","loc":"ODO","stop":1020455,"route":"1007A","occu":17}}""",
      1717575330500L)
    val f4 = RawFixture(
      seg("v2", "journey", "ongoing", "vp", "train", "0090", "06001", "3001K", "2",
        "Helsinki", "12:00", "1000001", "5", "60;24", "19", "89", "45"),
      """{"VP":{"desi":"K","dir":"2","oper":90,"veh":6001,"tst":"not-a-timestamp","tsi":1717588800,"spd":25.0,"hdg":270,"lat":60.4,"long":25.1,"acc":1.1,"dl":0,"odo":15000.0,"drst":1,"oday":"2024-06-05","jrn":901,"line":77,"start":"12:00","loc":"GPS","stop":1000001,"route":"3001K","occu":45}}""",
      1717588800250L)
    val f5 = RawFixture(
      seg("v2", "journey", "ongoing", "pde", "metro", "0050", "00123", "M1", "1",
        "Vuosaari", "28:30", "1541602", "4", "60;25", "21", "51", "08"),
      """{"PDE":{"desi":"M1","dir":"99999","oper":50,"veh":123,"tst":"2024-06-05T04:30:00.001Z","tsi":1717561800,"spd":0.0,"hdg":90,"lat":60.21,"long":25.15,"acc":0.0,"dl":5,"odo":0.0,"drst":0,"oday":"2024-02-30","jrn":12,"line":5,"start":"28:30","loc":"MAN","stop":1541602,"route":"M1","occu":100}}""",
      1717561800900L)
    val f6 = RawFixture(
      seg("v2", "journey", "ongoing", "vp", "", "0018", "00662", "550", "1",
        "Westendinasema", "09:00", "2222212", "4", "60;24", "21", "76", "02"),
      """{"VP":{"desi":"550","dir":"1","oper":18,"veh":662,"tst":"2024-06-05T09:00:05.000Z","tsi":1717578005,"spd":12.0,"hdg":45,"lat":60.21,"long":24.76,"acc":0.5,"dl":-10,"odo":300.0,"drst":0,"oday":"2024-06-05","jrn":100,"line":20,"start":"09:00","loc":"GPS","stop":2222212,"route":"550","occu":30}}""",
      1717578005111L)
    val f7 = RawFixture(
      seg("v2", "signoff", "ongoing", "vjout", "ferry", "0060", "00009", "19", "1",
        "Suomenlinna", "10:30", "1520703", "2", "60;24", "10", "95", "15"),
      """{"VJOUT":{"desi":"19","dir":"1","oper":60,"veh":9,"tst":"2024-06-05T10:30:00.000Z","tsi":1717583400,"spd":4.0,"hdg":120,"lat":60.14,"long":24.98,"acc":0.1,"dl":15,"odo":2100.0,"drst":1,"oday":"2024-06-05","jrn":7,"line":3,"start":"10:30","loc":"NA","stop":1520703,"route":"19","occu":60}}""",
      1717583400777L)
    val f8 = RawFixture(
      seg("v2", "journey", "ongoing", "xx", "bus", "0012", "00345", "600", "2",
        "Lentoasema", "23:59", "1130113", "0", "60;24", "29", "80", "33"),
      """{"XX":{"desi":"600","dir":"2","oper":12,"veh":345,"tst":"2024-06-05T23:59:59.999Z","tsi":1717631999,"spd":7.7,"hdg":359,"lat":60.29,"long":24.8,"acc":-1.5,"dl":120,"odo":9999.9,"drst":0,"oday":"2024-06-05","jrn":64,"line":9,"start":"23:59","loc":"GPS","stop":1130113,"route":"600","occu":88}}""",
      1717631999000L)
    val deadLetter = RawFixture(
      seg("v2", "journey", "ongoing", "vp", "bus", "0001", "00001", "1", "1",
        "Nowhere", "00:00", "1", "0", "60;24", "00", "00", "00"),
      """this is not json{""",
      1717590000000L)
    val v1Topic = RawFixture(
      seg("v1", "journey", "ongoing", "vp", "bus", "0022", "00856", "2550", "2",
        "Itakeskus(M)", "08:29", "1362148", "4", "60;24", "28", "65", "06"),
      """{"VP":{"desi":"550","dir":"2","oper":22,"veh":856,"tst":"2024-06-05T08:00:02.000Z","tsi":1717574402}}""",
      1717574402000L)
    val shortTopic = RawFixture(Seq("hfp"),
      """{"VP":{"desi":"550","dir":"2","oper":22,"veh":857,"tst":"2024-06-05T08:00:03.000Z","tsi":1717574403}}""",
      1717574403000L)
    Seq(f1, f2, f3, f4, f5, f6, f7, f7, f8, deadLetter, v1Topic, shortTopic)
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB VALUES clause generated from the same fixtures the Spark side reads. */
  private def oracleValues: String =
    fixtures.map(f => s"(${sqlLit(f.topic)}, ${sqlLit(f.payload)}, ${f.receivedAt})")
      .mkString(",\n        ")

  /** DuckDB restatement of parseTimeOfDay (parsers.scala): "HH:mm" → seconds-since-midnight. */
  private def sqlTimeOfDay(c: String): String =
    s"""CASE WHEN regexp_matches($c, '^\\d{1,2}:\\d{2}$$')
            AND try_cast(split_part($c, ':', 2) AS INT) < 60
       THEN (try_cast(split_part($c, ':', 1) AS INT) * 3600
             + try_cast(split_part($c, ':', 2) AS INT) * 60) % 86400 END"""

  /** DuckDB restatement of tryShort: shape guard + range guard + narrow. */
  private def sqlTryShort(c: String): String =
    s"""CASE WHEN regexp_matches($c, '^[+-]?\\d{1,18}$$')
            AND try_cast($c AS BIGINT) BETWEEN -32768 AND 32767
       THEN CAST(try_cast($c AS BIGINT) AS SMALLINT) END"""

  /** Shared CTE prefix (raw VALUES → topic segments → payload fields);
    * q21/q41 append the flat select directly, q44 wraps it for the
    * bounding-box predicate. */
  private val pipelineCtes: String = s"""
        WITH raw(topic, payload, received_at) AS (VALUES
        $oracleValues
        ),
        seg AS (
          SELECT received_at, payload, string_split(topic, '/') AS t FROM raw
        ),
        ex AS (
          SELECT received_at,
            nullif(t[2], '')  AS s2,  nullif(t[3], '')  AS s3,
            nullif(t[4], '')  AS s4,  nullif(t[5], '')  AS s5,
            nullif(t[6], '')  AS s6,  nullif(t[7], '')  AS s7,
            nullif(t[8], '')  AS s8,  nullif(t[9], '')  AS s9,
            nullif(t[10], '') AS s10, nullif(t[11], '') AS s11,
            nullif(t[12], '') AS s12, nullif(t[13], '') AS s13,
            nullif(t[14], '') AS s14, nullif(t[15], '') AS s15,
            nullif(t[16], '') AS s16, nullif(t[17], '') AS s17,
            nullif(t[18], '') AS s18, nullif(t[19], '') AS s19,
            CASE WHEN json_valid(payload)
                 THEN json_extract(payload, '$$.' || json_keys(payload)[1]) END AS body
          FROM seg
        ),
        fields AS (
          SELECT received_at, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s12,
            s13, s14, s15, s16, s17, s18, s19,
            json_extract_string(body, '$$.desi')  AS p_desi,
            json_extract_string(body, '$$.dir')   AS p_dir,
            json_extract_string(body, '$$.oper')  AS p_oper,
            json_extract_string(body, '$$.veh')   AS p_veh,
            json_extract_string(body, '$$.tst')   AS p_tst,
            json_extract_string(body, '$$.tsi')   AS p_tsi,
            json_extract_string(body, '$$.spd')   AS p_spd,
            json_extract_string(body, '$$.hdg')   AS p_hdg,
            json_extract_string(body, '$$.lat')   AS p_lat,
            json_extract_string(body, '$$.long')  AS p_long,
            json_extract_string(body, '$$.acc')   AS p_acc,
            json_extract_string(body, '$$.dl')    AS p_dl,
            json_extract_string(body, '$$.odo')   AS p_odo,
            json_extract_string(body, '$$.drst')  AS p_drst,
            json_extract_string(body, '$$.oday')  AS p_oday,
            json_extract_string(body, '$$.jrn')   AS p_jrn,
            json_extract_string(body, '$$.line')  AS p_line,
            json_extract_string(body, '$$.start') AS p_start,
            json_extract_string(body, '$$.loc')   AS p_loc,
            json_extract_string(body, '$$.stop')  AS p_stop,
            json_extract_string(body, '$$.route') AS p_route,
            json_extract_string(body, '$$.occu')  AS p_occu
          FROM ex
        )"""

  /** The 40-column flat select over the CTEs (no ORDER BY — callers add
    * their own, so q44 can wrap it as a subquery). */
  private val flatSelectSql: String = s"""
        SELECT
          received_at AS received_at_ms,
          '/' || s2 || '/' AS topic_prefix,
          s3 AS topic_version,
          s4 AS journey_type,
          (s5 = 'ongoing') AS is_ongoing,
          upper(s6) AS event_type,
          s7 AS mode,
          CAST(try_cast(s8 AS INT) AS SMALLINT) AS owner_operator_id,
          try_cast(s9 AS INT) AS vehicle_number,
          CAST(try_cast(s8 AS INT) AS VARCHAR) || '/' ||
            CAST(try_cast(s9 AS INT) AS VARCHAR) AS unique_vehicle_id,
          s10 AS route_id,
          CAST(try_cast(s11 AS INT) AS SMALLINT) AS direction_id,
          s12 AS headsign,
          ${sqlTimeOfDay("s13")} AS journey_start_time,
          s14 AS next_stop_id,
          CAST(try_cast(s15 AS INT) AS SMALLINT) AS geohash_level,
          try_cast(split_part(s16, ';', 1) || '.'
            || coalesce(substr(s17, 1, 1), '') || coalesce(substr(s18, 1, 1), '')
            || coalesce(substr(s19, 1, 1), '') AS DOUBLE) AS topic_latitude,
          try_cast(split_part(s16, ';', 2) || '.'
            || coalesce(substr(s17, 2, 1), '') || coalesce(substr(s18, 2, 1), '')
            || coalesce(substr(s19, 2, 1), '') AS DOUBLE) AS topic_longitude,
          p_desi AS desi,
          ${sqlTryShort("p_dir")} AS dir,
          CAST(try_cast(p_oper AS INT) AS SMALLINT) AS oper,
          try_cast(p_veh AS INT) AS veh,
          epoch_us(try_cast(p_tst AS TIMESTAMPTZ)) AS tst_us,
          try_cast(p_tsi AS BIGINT) AS tsi,
          try_cast(p_spd AS DOUBLE) AS spd,
          CAST(try_cast(p_hdg AS INT) AS SMALLINT) AS hdg,
          try_cast(p_lat AS DOUBLE) AS lat,
          try_cast(p_long AS DOUBLE) AS lng,
          try_cast(p_acc AS DOUBLE) AS acc,
          try_cast(p_dl AS INT) AS dl,
          try_cast(p_odo AS DOUBLE) AS odo,
          CASE lower(trim(p_drst)) WHEN '1' THEN 1 WHEN 'true' THEN 1
            WHEN '0' THEN 0 WHEN 'false' THEN 0 END AS drst,
          CAST(CASE WHEN regexp_matches(p_oday, '^\\d{4}-\\d{2}-\\d{2}$$')
               THEN try_cast(p_oday AS DATE) END AS VARCHAR) AS oday,
          try_cast(p_jrn AS INT) AS jrn,
          CAST(try_cast(p_line AS INT) AS SMALLINT) AS line,
          ${sqlTimeOfDay("p_start")} AS start_sec,
          p_loc AS loc,
          try_cast(p_stop AS INT) AS stop,
          p_route AS route,
          CAST(try_cast(p_occu AS INT) AS SMALLINT) AS occu
        FROM fields
        WHERE s3 = 'v2'
          AND p_veh IS NOT NULL AND p_tst IS NOT NULL AND p_tsi IS NOT NULL"""

  private val pipelineOracle: String =
    s"$pipelineCtes $flatSelectSql ORDER BY received_at_ms, veh"

  /** Enum-domain fixtures for q38: one in-domain row, one all-NULL-enums
    * deadrun (nullable enums are VALID — init.sql:32-34), and one
    * out-of-domain row per guarded column. */
  private val enumFixtures: Seq[RawFixture] = {
    def pl(et: String, veh: Int, tsi: Long, loc: String): String = {
      val locField = if (loc == null) "" else s""","loc":"$loc""""
      s"""{"$et":{"veh":$veh,"tst":"2024-06-05T08:00:00.000Z","tsi":$tsi$locField}}"""
    }
    Seq(
      RawFixture(seg("v2", "journey", "ongoing", "vp", "bus", "0022", "00001", "2550", "2",
        "A", "08:00", "1", "4", "60;24", "28", "65", "06"), pl("VP", 1, 1717574400L, "GPS"), 1717574400001L),
      RawFixture(seg("v2", "deadrun", "upcoming", "", "", "0022", "00002", "", "",
        "", "", "", "", "", "", "", ""), pl("DUE", 2, 1717574401L, null), 1717574400002L),
      RawFixture(seg("v2", "ghost", "ongoing", "vp", "bus", "0022", "00003", "2550", "2",
        "A", "08:00", "1", "4", "60;24", "28", "65", "06"), pl("VP", 3, 1717574402L, "GPS"), 1717574400003L),
      RawFixture(seg("v2", "journey", "ongoing", "zz", "bus", "0022", "00004", "2550", "2",
        "A", "08:00", "1", "4", "60;24", "28", "65", "06"), pl("ZZ", 4, 1717574403L, "GPS"), 1717574400004L),
      RawFixture(seg("v2", "journey", "ongoing", "vp", "hovercraft", "0022", "00005", "2550", "2",
        "A", "08:00", "1", "4", "60;24", "28", "65", "06"), pl("VP", 5, 1717574404L, "GPS"), 1717574400005L),
      RawFixture(seg("v2", "journey", "ongoing", "vp", "bus", "0022", "00006", "2550", "2",
        "A", "08:00", "1", "4", "60;24", "28", "65", "06"), pl("VP", 6, 1717574405L, "XYZ"), 1717574400006L))
  }

  val all: Map[String, GraftQuery] = Map(
    "q21_hfp_pipeline" -> GraftQuery(
      build = (s, _) => flatSelect(goodEnvelope(s)),
      oracle = Some(pipelineOracle)),

    // ------------------------------------------------------------------
    // q38 — enum dead-letter split (HfpFlatten.splitInvalidEnums): rows
    // whose enum-ish columns fall outside the DDL domains
    // (run/init.sql:21-24) route to a dead-letter side instead of
    // poisoning the batch — the reference instead ships the raw value and
    // lets PostgreSQL's `?::ENUM` cast reject it, rolling back the WHOLE
    // batch (QueueWriter.java:45-46,146). NULL enums are valid (the DDL
    // columns are nullable). Oracle: same generated VALUES with IN-list
    // CASE over domains generated from the same HfpModel constants.
    // ------------------------------------------------------------------
    "q38_enum_dead_letter" -> GraftQuery(
      build = (s, _) => {
        import s.implicits._
        val raw = enumFixtures.map(f => (f.topic, f.payload, f.receivedAt))
          .toDF("topic", "payload", "received_at")
        val env = HfpRawIngest.toEnvelope(raw)
        val (good, _) = HfpRawIngest.splitInvalidPayload(env)
        val flat = HfpFlatten.flatten(good, strictTst = false)
        val (ok, dead) = HfpFlatten.splitInvalidEnums(flat)
        def pick(df: org.apache.spark.sql.DataFrame, side: String) = df.select(
          unix_millis(col("received_at")).as("received_at_ms"), col("veh"),
          col("journey_type"), col("event_type"), col("mode"), col("loc"),
          lit(side).as("side"))
        pick(ok, "ok").unionAll(pick(dead, "dead"))
          .orderBy("received_at_ms", "veh")
      },
      oracle = Some {
        def inList(vals: Seq[String]) = vals.map(v => s"'$v'").mkString(", ")
        val values = enumFixtures
          .map(f => s"(${sqlLit(f.topic)}, ${sqlLit(f.payload)}, ${f.receivedAt})")
          .mkString(",\n        ")
        s"""
        WITH raw(topic, payload, received_at) AS (VALUES
        $values
        ),
        seg AS (SELECT received_at, payload, string_split(topic, '/') AS t FROM raw),
        f AS (SELECT received_at,
            nullif(t[4], '') AS journey_type,
            upper(nullif(t[6], '')) AS event_type,
            nullif(t[7], '') AS mode,
            json_extract_string(json_extract(payload, '$$.' || json_keys(payload)[1]), '$$.loc') AS loc,
            try_cast(json_extract_string(json_extract(payload, '$$.' || json_keys(payload)[1]), '$$.veh') AS INT) AS veh
          FROM seg),
        flagged AS (SELECT *,
            (journey_type IS NOT NULL AND journey_type NOT IN (${inList(graft.model.HfpModel.JourneyTypes)}))
            OR (event_type IS NOT NULL AND event_type NOT IN (${inList(graft.model.HfpModel.EventTypes)}))
            OR (mode IS NOT NULL AND mode NOT IN (${inList(graft.model.HfpModel.TransportModes)}))
            OR (loc IS NOT NULL AND loc NOT IN (${inList(graft.model.HfpModel.LocationQualityMethods)})) AS bad
          FROM f)
        SELECT received_at AS received_at_ms, veh, journey_type, event_type,
          mode, loc, CASE WHEN bad THEN 'dead' ELSE 'ok' END AS side
        FROM flagged ORDER BY received_at_ms, veh"""
      }),

    // ------------------------------------------------------------------
    // q41 — the same pipeline over the PROTOBUF wire path: the good-side
    // envelope is encoded to Hfp.Data wire bytes (standing in for the
    // upstream producer, reference MessageProcessor.java:119) and decoded
    // back by HfpProtobuf before the shared flatten. The oracle is the
    // SAME SQL as q21: a hash match proves the protobuf round-trip is
    // byte-exact on every fixture branch (nulls, doubles, negative ints,
    // multi-byte varints).
    // ------------------------------------------------------------------
    "q41_hfp_protobuf_pipeline" -> GraftQuery(
      build = (s, _) => {
        import s.implicits._
        val wire = HfpProtobuf.asEnvelopes(goodEnvelope(s))
          .map(HfpProtobuf.encode)
        flatSelect(HfpProtobuf.decodeDataFrame(wire))
      },
      oracle = Some(pipelineOracle)),

    // ------------------------------------------------------------------
    // q44 — spatial bounding-box query over the landed vehicles relation:
    // the workload the reference's lat/long B-tree indexes imply
    // (run/init.sql:83-84; SURVEY §1.4 maps them to parquet min/max
    // stats + predicate pushdown). The flattened fixture rows are landed
    // to parquet first and read back, so the range predicates reach the
    // SCAN as PushedFilters (asserted by PlanAuditSpec) — row groups
    // wholly outside the box are skipped by footer stats alone, the
    // Spark equivalent of the B-tree/BRIN index walk. At 100 TB the same
    // plan prunes whole files when the landing is written
    // sortWithinPartitions(lat) or geo-bucketed.
    // ------------------------------------------------------------------
    "q44_bbox_vehicles" -> GraftQuery(
      build = (s, _) => {
        // landed ONCE per process (Landings): every timed Bench rep after
        // the first reads parquet only, so the q44 number measures the
        // pruned scan, not flatten+write (VERDICT r4 #7)
        val landing = Landings.landedPath("q44_landing") { dir =>
          HfpFlatten.flatten(goodEnvelope(s), strictTst = false)
            .write.mode("overwrite").parquet(dir)
        }
        s.read.parquet(landing)
          .filter(col("lat") >= 60.15 && col("lat") <= 60.25
            && col("long") >= 24.9 && col("long") <= 25.05)
          .select(col("veh"), unix_micros(col("tst")).as("tst_us"),
            col("lat"), col("long").as("lng"), col("spd"))
          .orderBy("veh")
      },
      oracle = Some(s"""
        $pipelineCtes, flat AS ($flatSelectSql)
        SELECT veh, tst_us, lat, lng, spd FROM flat
        WHERE lat >= 60.15 AND lat <= 60.25 AND lng >= 24.9 AND lng <= 25.05
        ORDER BY veh"""))
  )
}
