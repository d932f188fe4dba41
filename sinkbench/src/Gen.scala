package sinkbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/**
 * Seeded HFP input generator. Everything the program sees is written here
 * from a seed, and every expectation the checks compare against is computed
 * from the same record list, never from the program's output.
 *
 * A record is one vehicle observation. Its `kind` says what the wire bytes
 * carry and so what the sink must do with it: land it, dead-letter it, or
 * (protobuf only) drop it as undecodable.
 */
object Kind {
  val Good = 0
  val BadJson = 1       // payload text cut mid-object: from_json gives null
  val NoTst = 2         // payload lacks tst: dead on JSON, undecodable on protobuf
  val EmptyTst = 3      // tst is "": dead-lettered on both wires
  val Truncated = 4     // protobuf frame cut mid-field: undecodable
  val WrongWireType = 5 // protobuf tsi sent as fixed64: undecodable

  /** What the pipeline must do with a record of this kind on this wire. */
  def fate(kind: Int, protobuf: Boolean): String = kind match {
    case Good => "landed"
    case EmptyTst => "dead"
    case BadJson | NoTst if !protobuf => "dead"
    case _ => "undecodable"
  }
}

final case class Rec(
    id: Int, kind: Int, receivedAt: Long, oper: Int, vehNum: Int,
    routeId: String, dirId: Int, headsign: String, startTime: String,
    nextStop: String, geoDigits: String,
    desi: Option[String], spd: Option[Double], hdg: Option[Int],
    lat: Option[Double], lng: Option[Double], acc: Option[Double],
    dl: Option[Int], odo: Option[Double], drst: Option[Int],
    jrn: Option[Int], line: Option[Int], loc: Option[String],
    stop: Option[Int], route: Option[String], occu: Option[Int],
    tstMillis: Long, tsi: Long) {
  def uvid: String = s"$oper/$vehNum"
  def hour: String = Gen.HourFmt.format(Instant.ofEpochMilli(receivedAt))
  def tst: String = Gen.TstFmt.format(Instant.ofEpochMilli(tstMillis))
}

/** Record mix of one input set; shares are per mille of records. */
final case class Mix(deadPerMille: Int, undecodablePerMille: Int)

object Gen {
  val TstFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  val HourFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd-HH").withZone(ZoneOffset.UTC)

  /** 2024-06-05T06:00:00Z: backlog records spread over `Hours` hours from here. */
  val BaseMillis = 1717567200000L
  val Hours = 6
  val Vehicles = 400
  val Opers: Array[Int] = Array(6, 12, 17, 18, 22, 30, 40, 47)
  private val Routes = Array("2550", "1069", "4560", "1500", "2194", "3001", "9701")
  private val Headsigns = Array("Itakeskus(M)", "Kamppi", "Pasila", "Vuosaari", "Tapiola")
  private val Locs = Array("GPS", "ODO", "MAN", "NA")

  /** Draws records `0 until n`; `receivedAt(i)` stamps record i (a backlog
    * spreads them over hours, the live generator uses due times). */
  def records(seed: Long, n: Int, mix: Mix, protobuf: Boolean,
      receivedAt: (Int, SplittableRandom) => Long): Array[Rec] = {
    // the seed is mixed first: SplittableRandom(s) and SplittableRandom(s +
    // its increment) give one stream a draw apart, so seeds s and s + 1
    // would give nearly the same records
    val rng = new SplittableRandom(new SplittableRandom(seed).nextLong())
    Array.tabulate(n) { id =>
      val roll = rng.nextInt(1000)
      val kind =
        if (roll < mix.deadPerMille) {
          if (protobuf) Kind.EmptyTst
          else Array(Kind.BadJson, Kind.NoTst, Kind.EmptyTst)(rng.nextInt(3))
        } else if (protobuf && roll < mix.deadPerMille + mix.undecodablePerMille)
          Array(Kind.NoTst, Kind.Truncated, Kind.WrongWireType)(rng.nextInt(3))
        else Kind.Good
      val v = rng.nextInt(Vehicles)
      def opt[A](pctPresent: Int)(a: => A): Option[A] =
        if (rng.nextInt(100) < pctPresent) Some(a) else None
      def round(x: Double, places: Int): Double = {
        val f = math.pow(10, places); math.rint(x * f) / f
      }
      val ra = receivedAt(id, rng)
      val route = Routes(v % Routes.length)
      val hh = 5 + v % 18
      Rec(id, kind, ra, Opers(v % Opers.length), 100 + v,
        route, 1 + v % 2, Headsigns(v % Headsigns.length),
        f"$hh%02d:${(v * 7) % 60}%02d", (1000000 + v * 37).toString,
        f"${rng.nextInt(100)}%02d${rng.nextInt(100)}%02d${rng.nextInt(100)}%02d",
        desi = opt(97)(route.drop(1)),
        spd = opt(95)(round(rng.nextDouble() * 25, 2)),
        hdg = opt(95)(rng.nextInt(360)),
        lat = opt(98)(round(60.1 + rng.nextDouble() * 0.2, 6)),
        lng = opt(98)(round(24.8 + rng.nextDouble() * 0.4, 6)),
        acc = opt(90)(round(rng.nextDouble() * 2 - 1, 2)),
        dl = opt(92)(rng.nextInt(601) - 300),
        odo = opt(90)(round(rng.nextDouble() * 30000, 1)),
        drst = opt(90)(rng.nextInt(2)),
        jrn = opt(95)(1 + rng.nextInt(999)),
        line = opt(95)(1 + rng.nextInt(999)),
        loc = opt(85)(Locs(rng.nextInt(Locs.length))),
        stop = opt(80)(1000000 + rng.nextInt(100000)),
        route = opt(90)(route),
        occu = opt(70)(if (rng.nextInt(10) == 0) 100 else 0),
        tstMillis = ra - rng.nextInt(3000),
        tsi = 1700000000L + id)
    }
  }

  /** Backlog stamps: uniform over `Hours` hours from [[BaseMillis]]. */
  val backlogStamp: (Int, SplittableRandom) => Long =
    (_, rng) => BaseMillis + rng.nextLong(Hours * 3600000L)

  // ------------------------------------------------------------------
  // JSON-lines text wire: {"topic": <MQTT topic>, "payload": <JSON text>,
  // "received_at": <epoch ms>} — the SourceFactory.wireSchema shape.
  // ------------------------------------------------------------------

  def topicString(r: Rec): String =
    f"/hfp/v2/journey/ongoing/vp/bus/${r.oper}%04d/${r.vehNum}%05d/${r.routeId}/" +
      s"${r.dirId}/${r.headsign}/${r.startTime}/${r.nextStop}/4/60;24/" +
      s"${r.geoDigits.substring(0, 2)}/${r.geoDigits.substring(2, 4)}/${r.geoDigits.substring(4, 6)}"

  def payloadJson(r: Rec): String = {
    val b = new StringBuilder("{\"VP\":{")
    var first = true
    def put(k: String, v: String): Unit = {
      if (!first) b.append(',')
      first = false
      b.append('"').append(k).append("\":").append(v)
    }
    def str(k: String, v: String): Unit = put(k, "\"" + v + "\"")
    r.desi.foreach(str("desi", _))
    str("dir", r.dirId.toString)
    put("oper", r.oper.toString)
    put("veh", r.vehNum.toString)
    r.kind match {
      case Kind.NoTst =>
      case Kind.EmptyTst => str("tst", "")
      case _ => str("tst", r.tst)
    }
    put("tsi", r.tsi.toString)
    r.spd.foreach(v => put("spd", v.toString))
    r.hdg.foreach(v => put("hdg", v.toString))
    r.lat.foreach(v => put("lat", v.toString))
    r.lng.foreach(v => put("long", v.toString))
    r.acc.foreach(v => put("acc", v.toString))
    r.dl.foreach(v => put("dl", v.toString))
    r.odo.foreach(v => put("odo", v.toString))
    r.drst.foreach(v => put("drst", v.toString))
    str("oday", "2024-06-05")
    r.jrn.foreach(v => put("jrn", v.toString))
    r.line.foreach(v => put("line", v.toString))
    str("start", r.startTime)
    r.loc.foreach(str("loc", _))
    r.stop.foreach(v => put("stop", v.toString))
    r.route.foreach(str("route", _))
    r.occu.foreach(v => put("occu", v.toString))
    b.append("}}")
    val s = b.toString
    if (r.kind == Kind.BadJson) s.substring(0, s.length / 2) else s
  }

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def jsonLine(r: Rec): String =
    s"""{"topic":${jsonString(topicString(r))},"payload":${jsonString(payloadJson(r))},"received_at":${r.receivedAt}}"""

  // ------------------------------------------------------------------
  // Protobuf wire: Hfp.Data { Topic topic = 1; Payload payload = 2; }
  // with the field numbers documented in graft.sources.HfpProtobuf.
  // Written from that layout, independently of the program's encoder.
  // ------------------------------------------------------------------

  private final class Pb {
    val out = new ByteArrayOutputStream(320)
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def key(f: Int, wt: Int): Unit = varint((f.toLong << 3) | wt)
    def int(f: Int, v: Long): Unit = { key(f, 0); varint(v) }
    def fixed64(f: Int, bits: Long): Unit = {
      key(f, 1)
      var b = bits; var i = 0
      while (i < 8) { out.write((b & 0xff).toInt); b >>>= 8; i += 1 }
    }
    def dbl(f: Int, v: Double): Unit = fixed64(f, java.lang.Double.doubleToLongBits(v))
    def bytes(f: Int, b: Array[Byte]): Unit = { key(f, 2); varint(b.length); out.write(b) }
    def str(f: Int, s: String): Unit = bytes(f, s.getBytes(UTF_8))
  }

  def protobuf(r: Rec): Array[Byte] = {
    val t = new Pb
    t.int(1, r.receivedAt); t.str(2, "/hfp/"); t.str(3, "v2")
    t.str(4, "journey"); t.str(5, "ongoing"); t.str(6, "VP"); t.str(7, "bus")
    t.int(8, r.oper); t.int(9, r.vehNum); t.str(10, r.uvid)
    t.str(11, r.routeId); t.int(12, r.dirId); t.str(13, r.headsign)
    t.str(14, r.startTime); t.str(15, r.nextStop); t.int(16, 4)
    t.dbl(17, geoDegrees(60, r.geoDigits, 0)); t.dbl(18, geoDegrees(24, r.geoDigits, 1))
    val p = new Pb
    r.desi.foreach(p.str(1, _)); p.str(2, r.dirId.toString); p.int(3, r.oper)
    p.int(4, r.vehNum)
    r.kind match {
      case Kind.NoTst =>
      case Kind.EmptyTst => p.str(5, "")
      case _ => p.str(5, r.tst)
    }
    if (r.kind == Kind.WrongWireType) p.fixed64(6, r.tsi) else p.int(6, r.tsi)
    r.spd.foreach(p.dbl(7, _)); r.hdg.foreach(v => p.int(8, v))
    r.lat.foreach(p.dbl(9, _)); r.lng.foreach(p.dbl(10, _))
    r.acc.foreach(p.dbl(11, _))
    r.dl.foreach(v => p.int(12, v.toLong)) // negative int32 → 10-byte varint
    r.odo.foreach(p.dbl(13, _)); r.drst.foreach(v => p.str(14, v.toString))
    p.str(15, "2024-06-05"); r.jrn.foreach(v => p.int(16, v))
    r.line.foreach(v => p.int(17, v)); p.str(18, r.startTime)
    r.loc.foreach(p.str(19, _)); r.stop.foreach(v => p.int(20, v))
    r.route.foreach(p.str(21, _)); r.occu.foreach(v => p.int(22, v))
    val d = new Pb
    d.bytes(1, t.out.toByteArray); d.bytes(2, p.out.toByteArray)
    val all = d.out.toByteArray
    // cut inside the payload submessage: its length prefix then points
    // past the end of the frame
    if (r.kind == Kind.Truncated) java.util.Arrays.copyOf(all, all.length - 7) else all
  }

  /** The topic's geohash tail as the JSON path decodes it: integer degrees,
    * then one decimal digit from each of the three two-digit segments. */
  def geoDegrees(whole: Int, digits: String, which: Int): Double =
    s"$whole.${digits(which)}${digits(2 + which)}${digits(4 + which)}".toDouble

  // ------------------------------------------------------------------
  // Files. Names are fixed and contents depend only on the records, so
  // one seed gives byte-identical input directories.
  // ------------------------------------------------------------------

  /** Writes `recs` round-robin into `files` JSON-lines files under `dir`. */
  def writeJson(dir: Path, recs: Array[Rec], files: Int): Unit = {
    Files.createDirectories(dir)
    (0 until files).foreach { f =>
      val out = new BufferedOutputStream(
        new FileOutputStream(dir.resolve(f"part-$f%03d.json").toFile), 1 << 16)
      try {
        var i = f
        while (i < recs.length) {
          out.write(jsonLine(recs(i)).getBytes(UTF_8)); out.write('\n')
          i += files
        }
      } finally out.close()
    }
  }

  /** Writes one JSON-lines file atomically: a file stream source never
    * lists a half-written file. */
  def writeJsonFileAtomic(dir: Path, staging: Path, name: String, recs: Seq[Rec]): Unit = {
    val tmp = staging.resolve(name)
    val b = new StringBuilder
    recs.foreach(r => b.append(jsonLine(r)).append('\n'))
    Files.write(tmp, b.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Writes `recs` round-robin into `files` parquet files of one
    * `value: binary` column (SourceFactory.binaryWireSchema). */
  def writeProtobuf(dir: Path, recs: Array[Rec], files: Int): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    Files.createDirectories(dir)
    val schema = MessageTypeParser.parseMessageType(
      "message spark_schema { required binary value; }")
    val groups = new SimpleGroupFactory(schema)
    val conf = new Configuration()
    (0 until files).foreach { f =>
      val path = new org.apache.hadoop.fs.Path(dir.resolve(f"part-$f%03d.parquet").toUri)
      val w = ExampleParquetWriter.builder(path).withConf(conf).withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try {
        var i = f
        while (i < recs.length) {
          w.write(groups.newGroup().append("value", Binary.fromConstantByteArray(protobuf(recs(i)))))
          i += files
        }
      } finally w.close()
    }
    // Hadoop's local file system leaves .crc siblings; the source ignores
    // dot-files, but drop them so the directory holds only the inputs
    Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(".")).foreach(Files.delete)
  }
}
