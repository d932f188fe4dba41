package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, AsofQueries, CurationQueries, DedupQueries, EventTimeQueries, GraftQuery, HfpPipelineQueries, MultimodalQueries, RelationalQueries, RetrievalQueries, TextQueries, TpchQueries, VectorQueries, WarehouseQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Session configs every entry point needs. */
  private val sessionConfs: Seq[(String, String)] = Seq(
    // null-on-error parse semantics (reference safeParse*, SURVEY §1.3)
    "spark.sql.ansi.enabled" -> "false",
    // the TIMESTAMP_NTZ branch of Tables.events (and every
    // unix_millis(cast(...)) pattern) interprets naive wall times in the
    // session timezone; the oracle's epoch_us treats the same stored
    // value as UTC, so a non-UTC driver session would shift every
    // event-time query. Pin it here, not just in Verify/Bench/specs.
    "spark.sql.session.timeZone" -> "UTC",
    // round-7-era events.parquet carried nanosecond timestamps; the
    // round-8 regeneration is microseconds. Tables.events normalizes
    // either to epoch-nanos long (this conf covers the nanos branch).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Apply [[sessionConfs]] and register the native engine functions
    * available from SQL text (graft_dot, …) on an existing session. */
  def applySessionDefaults(spark: SparkSession): Unit = {
    sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.functions.GraftFunctions.register(spark)
  }

  /** The local session of the `main` tools (Verify, Bench, ProfileOne,
    * PlanDump): `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`) with one
    * shuffle partition per core, AQE on, no UI, WARN logging and the
    * session defaults. `extra` confs apply last, so they can override. */
  def localSession(defaultCpus: String,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val spark = (sessionConfs ++ extra)
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    applySessionDefaults(spark)
    spark
  }

  /** Full registry: every implemented operator from SURVEY.md §2. */
  def registry: Map[String, GraftQuery] =
    RelationalQueries.all ++ HfpPipelineQueries.all ++ DedupQueries.all ++
      VectorQueries.all ++ TextQueries.all ++ EventTimeQueries.all ++
      AsofQueries.all ++ MultimodalQueries.all ++ WarehouseQueries.all ++
      RetrievalQueries.all ++ AnalyticsQueries.all ++ TpchQueries.all ++
      CurationQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    applySessionDefaults(spark)
    registry("q04_join_star").build(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) =>
        applySessionDefaults(s)
        q.build(s, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (name, q) if q.oracle.isDefined =>
      name -> q.oracle.get.trim.replaceAll("\n\\s*", " ")
    }

  /** Headline subset benchmarked per-round (Bench.scala). */
  def headlineQueries: Seq[String] =
    registry.collect { case (name, q) if q.headline => name }.toSeq.sorted
}
