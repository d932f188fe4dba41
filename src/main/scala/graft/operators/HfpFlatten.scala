package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.parsers._
import graft.model.HfpModel._

/**
 * The projection/flatten operator (reference O6+O7+O8, SURVEY.md §2.1):
 * nested `{topic, payload}` envelope → flat 40-column `vehicles` relation,
 * exact names/order/types of the reference INSERT list
 * (QueueWriter.java:36-48, binding loop 57-137) and DDL (run/init.sql:26-68).
 *
 * One single `select` of 40 codegen'd column expressions — Catalyst prunes
 * unused source fields and fuses the whole projection into one
 * WholeStageCodegen stage; at scale this runs at scan speed with zero
 * shuffles.
 */
object HfpFlatten {

  /** All 40 output columns as named expressions over the nested envelope. */
  def vehicleColumns(strictTst: Boolean = true): Seq[Column] = {
    def t(n: String): Column = col(s"topic.$n")
    def p(n: String): Column = col(s"payload.$n")
    val tstCol = if (strictTst) strictTimestamp(p("tst")) else tryTimestamp(p("tst"))
    Seq(
      epochMillisToTimestamp(t("received_at")).as("received_at"),
      t("topic_prefix").as("topic_prefix"),
      t("topic_version").as("topic_version"),
      t("journey_type").as("journey_type"),
      // enum → boolean projection (ref: QueueWriter.java:66)
      (t("temporal_type") === lit("ongoing")).as("is_ongoing"),
      t("event_type").as("event_type"),
      t("transport_mode").as("mode"),
      t("operator_id").cast(ShortType).as("owner_operator_id"),
      t("vehicle_number").as("vehicle_number"),
      t("unique_vehicle_id").as("unique_vehicle_id"),
      t("route_id").as("route_id"),
      t("direction_id").cast(ShortType).as("direction_id"),
      t("headsign").as("headsign"),
      parseTimeOfDay(t("start_time")).as("journey_start_time"),
      t("next_stop").as("next_stop_id"),
      t("geohash_level").cast(ShortType).as("geohash_level"),
      t("latitude").as("topic_latitude"),
      t("longitude").as("topic_longitude"),
      p("desi").as("desi"),
      tryShort(p("dir")).as("dir"),               // string → int, NULL on failure
      p("oper").cast(ShortType).as("oper"),
      p("veh").as("veh"),
      tstCol.as("tst"),                           // strict by default (ref crash parity)
      p("tsi").as("tsi"),
      p("spd").as("spd"),
      p("hdg").cast(ShortType).as("hdg"),
      p("lat").as("lat"),
      p("long").as("long"),
      p("acc").as("acc"),
      p("dl").as("dl"),
      p("odo").as("odo"),
      tryBool(p("drst")).as("drst"),
      tryDate(p("oday")).as("oday"),
      p("jrn").as("jrn"),
      p("line").cast(ShortType).as("line"),
      parseTimeOfDay(p("start")).as("start"),
      p("loc").as("loc"),
      p("stop").as("stop"),
      p("route").as("route"),
      p("occu").cast(ShortType).as("occu")
    )
  }

  /**
   * Nested envelope frame → flat `vehicles` frame.
   *
   * @param strictTst true replicates the reference's hard failure on a
   *                  malformed `tst` (QueueWriter.java:106); false gives the
   *                  lenient NULL-on-error variant for dead-letter routing.
   */
  def flatten(envelope: DataFrame, strictTst: Boolean = true): DataFrame =
    envelope.select(vehicleColumns(strictTst): _*)

  /**
   * Enum pre-validation split (SURVEY §7.4): rows whose enum-ish columns all
   * fall inside their domains (run/init.sql:21-24) vs a dead-letter frame.
   * The reference instead lets PostgreSQL reject the value and rolls back
   * the whole batch (QueueWriter.java:45-46,146) — a poison-pill behavior we
   * deliberately improve on while documenting the difference.
   */
  def splitInvalidEnums(vehicles: DataFrame): (DataFrame, DataFrame) = {
    val bad =
      invalidEnum(col("journey_type"), JourneyTypes) ||
      invalidEnum(col("event_type"), EventTypes) ||
      invalidEnum(col("mode"), TransportModes) ||
      invalidEnum(col("loc"), LocationQualityMethods)
    (vehicles.filter(!bad), vehicles.filter(bad))
  }
}
