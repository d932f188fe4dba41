package graft.sources

import java.nio.file.Files

import graft.SparkSuite
import graft.model.HfpModel
import graft.operators.HfpFlatten
import graft.queries.HfpPipelineQueries

/**
 * Batch file-format coverage (SURVEY §2.2 scans row): the 40-column
 * vehicles relation round-trips through parquet, ORC, AND csv with the
 * hand-declared schema — csv carries no types, so the explicit
 * `vehiclesSchema` must reconstruct timestamps, dates, booleans and
 * shorts exactly. (JSON is covered as the streaming wire format in
 * StreamPipelineSpec.)
 *
 * Avro (round-8 probe): NOT coverable in this environment —
 * /opt/spark/jars ships only the avro core/ipc/mapred libraries, not
 * the spark-avro_2.13 datasource module, so `.format("avro")` fails
 * with DATA_SOURCE_NOT_FOUND and no round-trip test is possible
 * offline. On a cluster with spark-avro on the classpath the same
 * vehiclesSchema round-trip pattern applies unchanged (Avro carries
 * its own schema, so it slots in beside the ORC test, not the csv
 * one).
 */
class FileFormatsSpec extends SparkSuite {

  test("vehicles relation round-trips through ORC (the other columnar at-rest format)") {
    val flat = HfpFlatten.flatten(HfpPipelineQueries.goodEnvelope(spark),
      strictTst = false)
    val want = flat.orderBy("received_at", "veh").collect().toSeq
    val orc = Files.createTempDirectory("veh_orc_").toString
    flat.write.mode("overwrite").orc(orc)
    val back = spark.read.orc(orc).orderBy("received_at", "veh").collect().toSeq
    assert(back === want)
    // names + types survive exactly (ORC, like every file reader,
    // reports all columns nullable — nullability is not round-trippable)
    assert(spark.read.orc(orc).schema.fields.map(f => (f.name, f.dataType)).toSeq
      === flat.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("vehicles relation round-trips through parquet and schema'd csv") {
    val flat = HfpFlatten.flatten(HfpPipelineQueries.goodEnvelope(spark),
      strictTst = false)
    val want = flat.orderBy("received_at", "veh").collect().toSeq

    val pq = Files.createTempDirectory("veh_pq_").toString
    flat.write.mode("overwrite").parquet(pq)
    val backPq = spark.read.parquet(pq).orderBy("received_at", "veh").collect().toSeq
    assert(backPq === want)

    val csv = Files.createTempDirectory("veh_csv_").toString
    flat.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(csv)
    val backCsv = spark.read
      .schema(HfpModel.vehiclesSchema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(csv)
      .orderBy("received_at", "veh").collect().toSeq
    assert(backCsv === want)
    assert(spark.read.option("header", "true").csv(csv).columns.length === 40)
  }

  test("malformed file rows dead-letter instead of poisoning the read " +
      "(PERMISSIVE corrupt-record capture; DROPMALFORMED; FAILFAST)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // the reference's discipline for broker messages (invalid payload →
    // dead-letter, pipeline keeps running) applied to its file-source
    // twin: a landing directory where a producer wrote two broken lines
    val dir = Files.createTempDirectory("veh_badjson_").toString
    val lines = Seq(
      """{"veh": 1, "spd": 10.5}""",
      """{"veh": 2 "spd": 1.0}""", // missing comma — unparseable
      """{"veh": 3, "spd": 7.25}""",
      """not json at all""")
    Files.write(java.nio.file.Paths.get(dir, "part-000.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("veh", LongType), StructField("spd", DoubleType),
      StructField("_corrupt_record", StringType)))

    // PERMISSIVE + corrupt-record column = split good rows from the
    // dead-letter stream in ONE pass, both sides preserved
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    val good = permissive.filter(col("_corrupt_record").isNull)
    val dead = permissive.filter(col("_corrupt_record").isNotNull)
    assert(good.count() === 2)
    assert(good.orderBy("veh").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // the dead letters carry the RAW text for replay/forensics
    assert(dead.count() === 2)
    assert(dead.collect().map(_.getAs[String]("_corrupt_record")).toSet ===
      Set("""{"veh": 2 "spd": 1.0}""", "not json at all"))

    // DROPMALFORMED: silent-drop variant (counts only)
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() === 2)

    // FAILFAST: corrupt input is an ERROR for pipelines that must halt
    val failing = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException] { failing.collect() }
  }

  test("avro data source: round-trips when the spark-avro module is " +
      "deployed; its documented absence here otherwise") {
    // /opt/spark/jars ships avro-core (avro/avro-ipc/avro-mapred) and
    // spark-sql even CONTAINS the o.a.s.sql.avro classes — but the
    // DataSourceRegister service registration lives in the separate
    // org.apache.spark:spark-avro module, which is absent and
    // unfetchable offline, so `format("avro")` cannot bind (a
    // class-presence probe is the WRONG signal; only the lookup tells
    // the truth). Environment-adaptive: if a deployment adds the
    // module, the round-trip runs for real; here the absence is pinned
    // loudly instead of leaving the question open.
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val dir = java.nio.file.Files
      .createTempDirectory("avro_rt").toString + "/data"
    val wrote =
      try { df.write.format("avro").save(dir); true }
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          assert(e.getMessage.toLowerCase.contains("avro"), e.getMessage)
          false
      }
    if (wrote) {
      val back = spark.read.format("avro").load(dir)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(back.toSeq == Seq((1L, "a"), (2L, "b")))
    }
  }
}
