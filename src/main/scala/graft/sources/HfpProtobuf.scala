package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.model.{HfpEnvelope, HfpPayload, HfpTopic}

/**
 * Protobuf wire path for the HFP envelope — decode parity with the
 * reference's actual input format (`Hfp.Data.parseFrom(message.getData())`,
 * reference MessageProcessor.java:119). The reference gets its generated
 * classes from `fi.hsl:transitdata-common` (pom.xml:30-34), whose .proto
 * file is not part of the snapshot; this module therefore defines its own
 * descriptor over the SAME field inventory (SURVEY §1.2: 18 topic fields +
 * 22 payload fields), implemented directly against the public protobuf
 * wire format (varint / 64-bit / length-delimited; encoding spec at
 * protobuf.dev). Swapping in the upstream descriptor is a field-number
 * remap in [[TopicFields]]/[[PayloadFields]], nothing else.
 *
 * Wire shape:
 * {{{
 *   message Data    { Topic topic = 1; Payload payload = 2; }
 *   message Topic   { int64 received_at = 1; string topic_prefix = 2; ... }
 *   message Payload { string desi = 1; string dir = 2; ... }
 * }}}
 * Optional fields are simply absent from the wire (proto3 presence);
 * unknown field numbers are skipped by wire type — the standard
 * forward-compatibility contract, covered by spec.
 *
 * The byte-level decode is genuine per-record imperative work (the same
 * codec-boundary situation as [[graft.operators.Multimodal.MediaCodec]]),
 * so it runs in a typed `mapPartitions`: narrow, batch-shaped,
 * encoder-typed, no shuffle. Everything after the envelope is the same
 * expression pipeline as the JSON path (HfpFlatten) — the two wire paths
 * converge on one plan.
 */
object HfpProtobuf {

  // wire types (protobuf encoding spec)
  private val WtVarint = 0
  private val WtFixed64 = 1
  private val WtLen = 2
  private val WtFixed32 = 5

  /** Field numbers for Data. */
  object DataFields { val Topic = 1; val Payload = 2 }

  /** Field numbers for Topic, in SURVEY §1.2 inventory order. */
  object TopicFields {
    val ReceivedAt = 1; val TopicPrefix = 2; val TopicVersion = 3
    val JourneyType = 4; val TemporalType = 5; val EventType = 6
    val TransportMode = 7; val OperatorId = 8; val VehicleNumber = 9
    val UniqueVehicleId = 10; val RouteId = 11; val DirectionId = 12
    val Headsign = 13; val StartTime = 14; val NextStop = 15
    val GeohashLevel = 16; val Latitude = 17; val Longitude = 18
  }

  /** Field numbers for Payload, in SURVEY §1.2 inventory order. */
  object PayloadFields {
    val Desi = 1; val Dir = 2; val Oper = 3; val Veh = 4; val Tst = 5
    val Tsi = 6; val Spd = 7; val Hdg = 8; val Lat = 9; val Long = 10
    val Acc = 11; val Dl = 12; val Odo = 13; val Drst = 14; val Oday = 15
    val Jrn = 16; val Line = 17; val Start = 18; val Loc = 19; val Stop = 20
    val Route = 21; val Occu = 22
  }

  // -------------------------------------------------------------------
  // Encoder (test/fixture side — stands in for the upstream producer)
  // -------------------------------------------------------------------

  private final class Writer {
    private val out = new java.io.ByteArrayOutputStream(256)
    def bytes: Array[Byte] = out.toByteArray
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def tag(field: Int, wt: Int): Unit = varint((field.toLong << 3) | wt)
    def int64(field: Int, v: Long): Unit = { tag(field, WtVarint); varint(v) }
    def int32(field: Int, v: Int): Unit = int64(field, v.toLong) // negative → 10-byte varint per spec
    def double(field: Int, v: Double): Unit = {
      tag(field, WtFixed64)
      var bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
    }
    def string(field: Int, v: String): Unit = {
      val b = v.getBytes(StandardCharsets.UTF_8)
      tag(field, WtLen); varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def message(field: Int, b: Array[Byte]): Unit = {
      tag(field, WtLen); varint(b.length.toLong); out.write(b, 0, b.length)
    }
  }

  def encodeTopic(t: HfpTopic): Array[Byte] = {
    import TopicFields._
    val w = new Writer
    w.int64(ReceivedAt, t.received_at)
    w.string(TopicPrefix, t.topic_prefix)
    w.string(TopicVersion, t.topic_version)
    w.string(JourneyType, t.journey_type)
    w.string(TemporalType, t.temporal_type)
    t.event_type.foreach(w.string(EventType, _))
    t.transport_mode.foreach(w.string(TransportMode, _))
    w.int32(OperatorId, t.operator_id)
    w.int32(VehicleNumber, t.vehicle_number)
    w.string(UniqueVehicleId, t.unique_vehicle_id)
    t.route_id.foreach(w.string(RouteId, _))
    t.direction_id.foreach(w.int32(DirectionId, _))
    t.headsign.foreach(w.string(Headsign, _))
    t.start_time.foreach(w.string(StartTime, _))
    t.next_stop.foreach(w.string(NextStop, _))
    t.geohash_level.foreach(w.int32(GeohashLevel, _))
    t.latitude.foreach(w.double(Latitude, _))
    t.longitude.foreach(w.double(Longitude, _))
    w.bytes
  }

  def encodePayload(p: HfpPayload): Array[Byte] = {
    import PayloadFields._
    val w = new Writer
    p.desi.foreach(w.string(Desi, _))
    p.dir.foreach(w.string(Dir, _))
    p.oper.foreach(w.int32(Oper, _))
    w.int32(Veh, p.veh)
    w.string(Tst, p.tst)
    w.int64(Tsi, p.tsi)
    p.spd.foreach(w.double(Spd, _))
    p.hdg.foreach(w.int32(Hdg, _))
    p.lat.foreach(w.double(Lat, _))
    p.lng.foreach(w.double(Long, _))
    p.acc.foreach(w.double(Acc, _))
    p.dl.foreach(w.int32(Dl, _))
    p.odo.foreach(w.double(Odo, _))
    p.drst.foreach(w.string(Drst, _))
    p.oday.foreach(w.string(Oday, _))
    p.jrn.foreach(w.int32(Jrn, _))
    p.line.foreach(w.int32(Line, _))
    p.start.foreach(w.string(Start, _))
    p.loc.foreach(w.string(Loc, _))
    p.stop.foreach(w.int32(Stop, _))
    p.route.foreach(w.string(Route, _))
    p.occu.foreach(w.int32(Occu, _))
    w.bytes
  }

  def encode(e: HfpEnvelope): Array[Byte] = {
    val w = new Writer
    w.message(DataFields.Topic, encodeTopic(e.topic))
    w.message(DataFields.Payload, encodePayload(e.payload))
    w.bytes
  }

  // -------------------------------------------------------------------
  // Decoder (the engine-side wire path)
  // -------------------------------------------------------------------

  private final class Reader(buf: Array[Byte], start: Int, end: Int) {
    private var pos = start
    def hasNext: Boolean = pos < end
    /** Every read is bounded by the ENCLOSING message's end — a length
      * prefix pointing past it is malformed, never a licence to read the
      * next sibling field's bytes. */
    private def bound(n: Int): Unit =
      // n > end - pos, NOT pos + n > end: the addition overflows Int for
      // lengths near Int.MaxValue and a wrapped negative sum would pass
      if (n > end - pos) throw new IllegalArgumentException(
        s"truncated field: need $n bytes at $pos, message ends at $end")
    def varint(): Long = {
      var shift = 0; var result = 0L
      while (true) {
        bound(1)
        val b = buf(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
        if (shift >= 64) throw new IllegalArgumentException("varint too long")
      }
      result // unreachable
    }
    def fixed64(): Long = {
      bound(8)
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def lenDelimited(): (Int, Int) = {
      // check the FULL 64-bit varint before narrowing: a length like
      // 2^32+5 would otherwise truncate to 5, pass every bounds check and
      // silently mis-decode the record instead of dead-lettering it
      val len64 = varint()
      if (len64 < 0 || len64 > Int.MaxValue)
        throw new IllegalArgumentException(s"bad field length $len64")
      val len = len64.toInt
      bound(len)
      val s = pos; pos += len; (s, s + len)
    }
    def string(): String = {
      val (s, e) = lenDelimited()
      new String(buf, s, e - s, StandardCharsets.UTF_8)
    }
    /** Skip a field of the given wire type (unknown-field tolerance). */
    def skip(wt: Int): Unit = wt match {
      case WtVarint => varint(); ()
      case WtFixed64 => bound(8); pos += 8
      case WtLen => lenDelimited(); () // advances past the payload
      case WtFixed32 => bound(4); pos += 4
      case other => throw new IllegalArgumentException(s"unsupported wire type $other")
    }
    /** Iterate fields: calls f(fieldNumber, wireType, reader). */
    def fields(f: (Int, Int) => Unit): Unit =
      while (hasNext) {
        val t = varint()
        f((t >>> 3).toInt, (t & 7).toInt)
      }
    /** A KNOWN field read with the wrong wire type is a malformed record
      * (it would silently misalign every later field) — throw so the
      * codec's dead-letter contract applies, instead of decoding garbage. */
    def checked[A](wt: Int, expected: Int, field: Int)(read: => A): A = {
      if (wt != expected) throw new IllegalArgumentException(
        s"field $field has wire type $wt, expected $expected")
      read
    }
  }

  def decodeTopic(buf: Array[Byte], s: Int, e: Int): HfpTopic = {
    import TopicFields._
    var receivedAt = 0L; var prefix = ""; var version = ""; var jt = ""
    var tt = ""; var et: Option[String] = None; var tm: Option[String] = None
    var operId = 0; var vehNum = 0; var uvid = ""
    // presence mask for the schema's non-nullable fields: proto3 wire
    // records omit default values, so a missing required field would
    // otherwise decode to 0/"" and masquerade as a real value
    var seen = 0
    var route: Option[String] = None; var dir: Option[Int] = None
    var hs: Option[String] = None; var st: Option[String] = None
    var ns: Option[String] = None; var gl: Option[Int] = None
    var lat: Option[Double] = None; var lon: Option[Double] = None
    val r = new Reader(buf, s, e)
    r.fields { (fld, wt) =>
      def vint(): Long = r.checked(wt, WtVarint, fld)(r.varint())
      def str(): String = r.checked(wt, WtLen, fld)(r.string())
      def dbl(): Double = r.checked(wt, WtFixed64, fld)(
        java.lang.Double.longBitsToDouble(r.fixed64()))
      fld match {
        case ReceivedAt => receivedAt = vint(); seen |= 1
        case TopicPrefix => prefix = str(); seen |= 2
        case TopicVersion => version = str(); seen |= 4
        case JourneyType => jt = str(); seen |= 8
        case TemporalType => tt = str(); seen |= 16
        case EventType => et = Some(str())
        case TransportMode => tm = Some(str())
        case OperatorId => operId = vint().toInt; seen |= 32
        case VehicleNumber => vehNum = vint().toInt; seen |= 64
        case UniqueVehicleId => uvid = str(); seen |= 128
        case RouteId => route = Some(str())
        case DirectionId => dir = Some(vint().toInt)
        case Headsign => hs = Some(str())
        case StartTime => st = Some(str())
        case NextStop => ns = Some(str())
        case GeohashLevel => gl = Some(vint().toInt)
        case Latitude => lat = Some(dbl())
        case Longitude => lon = Some(dbl())
        case _ => r.skip(wt)
      }
    }
    if (seen != 255) throw new IllegalArgumentException(
      s"missing required topic field(s), presence mask $seen of 255")
    HfpTopic(receivedAt, prefix, version, jt, tt, et, tm, operId, vehNum, uvid,
      route, dir, hs, st, ns, gl, lat, lon)
  }

  def decodePayload(buf: Array[Byte], s: Int, e: Int): HfpPayload = {
    import PayloadFields._
    var desi: Option[String] = None; var dir: Option[String] = None
    var oper: Option[Int] = None; var veh = 0; var tst = ""; var tsi = 0L
    // presence of the NOT NULL trio (init.sql:49-51): proto3 encoders
    // that skip default values must not smuggle ""/0/0 past the
    // required-field contract as if they were real readings
    var seen = 0
    var spd: Option[Double] = None; var hdg: Option[Int] = None
    var lat: Option[Double] = None; var lng: Option[Double] = None
    var acc: Option[Double] = None; var dl: Option[Int] = None
    var odo: Option[Double] = None; var drst: Option[String] = None
    var oday: Option[String] = None; var jrn: Option[Int] = None
    var line: Option[Int] = None; var start: Option[String] = None
    var loc: Option[String] = None; var stop: Option[Int] = None
    var route: Option[String] = None; var occu: Option[Int] = None
    val r = new Reader(buf, s, e)
    r.fields { (fld, wt) =>
      def vint(): Long = r.checked(wt, WtVarint, fld)(r.varint())
      def str(): String = r.checked(wt, WtLen, fld)(r.string())
      def dbl(): Double = r.checked(wt, WtFixed64, fld)(
        java.lang.Double.longBitsToDouble(r.fixed64()))
      fld match {
        case Desi => desi = Some(str())
        case Dir => dir = Some(str())
        case Oper => oper = Some(vint().toInt)
        case Veh => veh = vint().toInt; seen |= 1
        case Tst => tst = str(); seen |= 2
        case Tsi => tsi = vint(); seen |= 4
        case Spd => spd = Some(dbl())
        case Hdg => hdg = Some(vint().toInt)
        case Lat => lat = Some(dbl())
        case Long => lng = Some(dbl())
        case Acc => acc = Some(dbl())
        case Dl => dl = Some(vint().toInt)
        case Odo => odo = Some(dbl())
        case Drst => drst = Some(str())
        case Oday => oday = Some(str())
        case Jrn => jrn = Some(vint().toInt)
        case Line => line = Some(vint().toInt)
        case Start => start = Some(str())
        case Loc => loc = Some(str())
        case Stop => stop = Some(vint().toInt)
        case Route => route = Some(str())
        case Occu => occu = Some(vint().toInt)
        case _ => r.skip(wt)
      }
    }
    if (seen != 7) throw new IllegalArgumentException(
      s"missing required payload field(s) of veh/tst/tsi, presence mask $seen of 7")
    HfpPayload(desi, dir, oper, veh, tst, tsi, spd, hdg, lat, lng, acc, dl,
      odo, drst, oday, jrn, line, start, loc, stop, route, occu)
  }

  /** One wire record → envelope (throws on malformed bytes — route
    * through [[decodeDataFrame]]'s dead-letter split for lenient mode). */
  def decode(bytes: Array[Byte]): HfpEnvelope = {
    var topic: HfpTopic = null
    var payload: HfpPayload = null
    val r = new Reader(bytes, 0, bytes.length)
    r.fields { (fld, wt) =>
      fld match {
        case DataFields.Topic =>
          val (s, e) = r.checked(wt, 2, fld)(r.lenDelimited())
          topic = decodeTopic(bytes, s, e)
        case DataFields.Payload =>
          val (s, e) = r.checked(wt, 2, fld)(r.lenDelimited())
          payload = decodePayload(bytes, s, e)
        case _ => r.skip(wt)
      }
    }
    require(topic != null && payload != null, "missing topic or payload submessage")
    HfpEnvelope(topic, payload)
  }

  /** Typed decode stage: binary wire records → envelopes. Narrow
    * (mapPartitions, no shuffle); malformed records are dropped here,
    * uncounted — the reference's warn-and-skip on an unparsable message
    * (MessageProcessor.java:121-127) without its warning. No caller
    * counts the drop yet; only the query's `numInputRows` still sees
    * the records. */
  def decodeEnvelopes(wire: Dataset[Array[Byte]]): Dataset[HfpEnvelope] = {
    import wire.sparkSession.implicits._
    wire.mapPartitions(_.flatMap { b =>
      // IllegalArgumentException is the codec's one documented malformed-
      // record signal (Reader throws it for every violation). Catching
      // broader RuntimeExceptions would silently count a decoder BUG as
      // a malformed feed — 100% drop with zero errors.
      try Iterator.single(decode(b))
      catch { case _: IllegalArgumentException => Iterator.empty }
    })
  }

  /** Case-class payload field name for an envelope column name: `long`
    * is a Java keyword the Spark encoder rejects, so the typed side calls
    * it `lng` (HfpModel doc). */
  private def typedName(col: String): String = if (col == "long") "lng" else col

  private val payloadCols = graft.model.HfpModel.payloadSchema.fieldNames.toSeq

  /** Wire bytes → nested envelope DataFrame with the exact schema the
    * JSON path produces (HfpRawIngest.toEnvelope) — both wire paths
    * converge on the same HfpFlatten plan. */
  def decodeDataFrame(wire: Dataset[Array[Byte]]): DataFrame = {
    import org.apache.spark.sql.functions.struct
    decodeEnvelopes(wire).toDF().select(
      col("topic"),
      struct(payloadCols.map(n => col(s"payload.${typedName(n)}").as(n)): _*)
        .as("payload"))
  }

  /** Envelope DataFrame (JSON-path schema) → typed envelopes, for feeding
    * [[encode]]. */
  def asEnvelopes(env: DataFrame): Dataset[HfpEnvelope] = {
    import org.apache.spark.sql.functions.struct
    import env.sparkSession.implicits._
    env.select(
      col("topic"),
      struct(payloadCols.map(n => col(s"payload.$n").as(typedName(n))): _*)
        .as("payload"))
      .as[HfpEnvelope]
  }
}
