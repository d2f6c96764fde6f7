package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant

/** Seeded input generator. Everything the pipeline reads comes from
  * here; the pipeline never sees the seed or the expectations.
  *
  * The schema SHAPE is fixed (seed-independent) so plan-shape counts
  * repeat exactly across seeds; the seed drives timestamps, payload
  * bytes, topic order, reject placement and the forecast/GPS values.
  *
  * Decode expectations are written down here independently of
  * `graft.sources.CanSchema`: each field's byte position and scale is
  * stated literally next to the JSON slot list that should produce it,
  * including the reference quirks the schema exercises (Q1 units
  * ordinal, Q3 over-counted bitfield size, Q5 mab20 rewrite).
  */
object Gen {

  /** How one decoded field reads its raw value out of the payload. */
  sealed trait Raw
  final case class ByteAt(off: Int) extends Raw
  final case class WordLE(off: Int) extends Raw
  final case class BitOf(off: Int, bit: Int) extends Raw

  final case class Field(name: String, raw: Raw, scale: Double)

  final case class Topic(module: String, sig: Int, name: String, id: Int,
                         slotsJson: String, fields: Vector[Field],
                         /** payload bytes a frame must carry (Q3 size) */
                         declaredSize: Int) {
    def columns: Vector[String] = fields.map(f => s"${module}__${name}__${f.name}")
  }

  private def u8(n: String, u: String) =
    s"""{"name": "$n", "type": "uint8_t", "units": "$u"}"""
  private def u16(n: String, u: String) =
    s"""{"name": "$n", "type": "uint16_t", "units": "$u"}"""
  private def bit(n: String) =
    s"""{"name": "$n", "type": "bitfield", "units": ""}"""
  private def slots(xs: String*) =
    (xs ++ Seq.fill(8 - xs.size)("null")).mkString("[", ", ", "]")

  /** Topic layouts. Every layout decodes SIGNATURE from byte 0. */
  private def analog(m: String, s: Int, n: String, id: Int) = Topic(m, s, n, id,
    slots(u8("SIGNATURE", ""), u8("V", "%"), u8("I", "A/10")),
    Vector(Field("SIGNATURE", ByteAt(0), 1.0), Field("V", ByteAt(1), 1.0 / 255),
      Field("I", ByteAt(2), 0.1)), 3)
  /** u16 pair collapses to one field; Q1 makes T read the `_H` slot's
    * units ("C/100" → ×0.01). */
  private def word(m: String, s: Int, n: String, id: Int) = Topic(m, s, n, id,
    slots(u8("SIGNATURE", ""), u16("X_L", "V/100"), u16("X_H", "C/100"), u8("T", "")),
    Vector(Field("SIGNATURE", ByteAt(0), 1.0), Field("X", WordLE(1), 0.01),
      Field("T", ByteAt(3), 0.01)), 4)
  /** Two packed bitfields share byte 1, but Q3 declares 3 bytes, so only
    * 3-byte frames decode. */
  private def flags(m: String, s: Int, n: String, id: Int) = Topic(m, s, n, id,
    slots(u8("SIGNATURE", ""), bit("F1"), bit("F2")),
    Vector(Field("SIGNATURE", ByteAt(0), 1.0), Field("F1", BitOf(1, 0), 1.0),
      Field("F2", BitOf(1, 1), 1.0)), 3)
  private def quad(m: String, s: Int, n: String, id: Int) = Topic(m, s, n, id,
    slots(u8("SIGNATURE", ""), u8("A", ""), u8("B", "%"), u8("C", "")),
    Vector(Field("SIGNATURE", ByteAt(0), 1.0), Field("A", ByteAt(1), 1.0),
      Field("B", ByteAt(2), 1.0 / 255), Field("C", ByteAt(3), 1.0)), 4)

  final case class Schema(topics: Vector[Topic], mab: Boolean) {
    def json: String = {
      val mods = topics.groupBy(t => (t.module, t.sig)).toVector.sortBy(_._1._2)
      mods.map { case ((m, s), ts) =>
        val tj = ts.sortBy(_.id).map(t =>
          s"""{"name": "${t.name}", "description": "", "id": ${t.id}, "bytes": ${t.slotsJson}}""")
        s"""{"name": "$m", "description": "", "signature": $s, "topics": [${tj.mkString(", ")}]}"""
      }.mkString("{\"version\": \"perfbench\", \"modules\": [", ",\n", "]}")
    }
    val columns: Vector[String] = topics.flatMap(_.columns)
    val colIndex: Map[String, Int] = columns.zipWithIndex.toMap
    val regular: Vector[Topic] = topics.filterNot(t => mab && (t.id == 64 || t.id == 65))
  }

  private val layouts = Vector[(String, Int, String, Int) => Topic](analog, word, flags)

  /** 2020-shaped: 136 topics, 408 fields (wide decode path), with the
    * MAB19-style module the mab20 workaround rewrites. */
  lazy val wideSchema: Schema = {
    val regular = (0 until 134).map { i =>
      val sig = 1 + i / 8
      val mk = if (i == 0) quad _ else layouts(i % 3)
      mk(f"MOD$sig%02d", sig, f"T$i%03d", 0x100 + i)
    }
    val mab = Vector(
      Topic("MAB19", 230, "STATE", 64,
        slots(u8("SIGNATURE", ""), u8("STATE", ""), u8("ERROR", "")),
        Vector(Field("SIGNATURE", ByteAt(0), 1.0), Field("STATE", ByteAt(1), 1.0),
          Field("ERROR", ByteAt(2), 1.0)), 3),
      Topic("MAB19", 230, "PUMPS", 65,
        slots(u8("SIGNATURE", ""), u8("PUMPS", "")),
        Vector(Field("SIGNATURE", ByteAt(0), 1.0), Field("PUMPS", ByteAt(1), 1.0)), 2))
    val s = Schema(regular.toVector ++ mab, mab = true)
    require(s.topics.size == 136 && s.columns.size == 408, "wide schema shape")
    s
  }

  /** 2022-shaped: 20 topics, 60 fields (narrow decode path). */
  lazy val narrowSchema: Schema = {
    val s = Schema((0 until 20).map { i =>
      val sig = 1 + i / 4
      layouts(i % 3)(f"MIC$sig%02d", sig, f"N$i%02d", 0x200 + i)
    }.toVector, mab = false)
    require(s.columns.size == 60, "narrow schema shape")
    s
  }

  /** What the parse stage must produce for one input file. */
  final class Expect(val ncols: Int) {
    var rows = 0L                 // wide rows = decodable distinct timestamps
    var longRows = 0L             // decoded (frame, field) pairs
    var valueSum = 0.0            // sum over every decoded field value
    val sums = new Array[Double](ncols)
    var minUs = Long.MaxValue
    var maxUs = Long.MinValue
    def add(o: Expect): Unit = {
      rows += o.rows; longRows += o.longRows; valueSum += o.valueSum
      for (i <- 0 until ncols) sums(i) += o.sums(i)
      minUs = math.min(minUs, o.minUs); maxUs = math.max(maxUs, o.maxUs)
    }
  }

  final case class LogFile(path: Path, lines: Long, bytes: Long, expect: Expect)

  private def hex2(b: Int) = f"${b & 0xff}%02x"

  private def rawValue(payload: Array[Int], r: Raw): Int = r match {
    case ByteAt(o) => payload(o)
    case WordLE(o) => payload(o) + 256 * payload(o + 1)
    case BitOf(o, b) => (payload(o) >> b) & 1
  }

  /** Writes one candump log. Each tick is one timestamp carrying
    * `framesPerTick` decodable frames of distinct topics (one wide row);
    * reject frames and junk lines get timestamps of their own so they
    * add no row. Timestamps strictly increase, so the Q2 crop keeps
    * everything. `stepUs` is the tick spacing in raw µs. */
  def writeLog(path: Path, schema: Schema, rnd: java.util.Random,
               startUs: Long, ticks: Int, framesPerTick: Int, stepUs: Long,
               offsetUs: Long, rejectShare: Double): LogFile =
    writeSegments(path, schema, rnd, Seq((startUs, ticks)), framesPerTick,
      stepUs, offsetUs, rejectShare)

  /** [[writeLog]] over several (startUs, ticks) segments in time order. */
  def writeSegments(path: Path, schema: Schema, rnd: java.util.Random,
                    segments: Seq[(Long, Int)], framesPerTick: Int, stepUs: Long,
                    offsetUs: Long, rejectShare: Double): LogFile = {
    val e = new Expect(schema.columns.size)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.US_ASCII), 1 << 16)
    var t = 0L
    var lines = 0L
    def stamp(us: Long) = f"(${us / 1000000}%010d.${us % 1000000}%06d) can0 "
    def emit(s: String): Unit = { w.write(s); w.write('\n'); lines += 1 }
    def frame(us: Long, id: Int, p: Array[Int]) =
      stamp(us) + f"$id%03x#" + p.map(hex2).mkString
    try segments.foreach { case (startUs, ticks) =>
      require(startUs > t, "segments must be in time order")
      t = startUs
      var k = 0
      while (k < ticks) {
        // rejects and junk between ticks, on their own timestamps
        if (rnd.nextDouble() < rejectShare) {
          t += 1 + rnd.nextInt(3)
          rnd.nextInt(4) match {
            case 0 => // unknown topic: no module claims it
              emit(frame(t, 0x7f0 + rnd.nextInt(15), Array.fill(4)(rnd.nextInt(256))))
            case 1 => // short payload: known topic, one byte under its Q3 size
              val tp = schema.regular(rnd.nextInt(schema.regular.size))
              val p = Array.fill(tp.declaredSize - 1)(rnd.nextInt(256))
              p(0) = tp.sig
              emit(frame(t, tp.id, p))
            case 2 => emit(stamp(t) + "7ff#GARBAGEZZ") // regex rejects the line
            case _ => emit("# logger restarted")
          }
        }
        t += stepUs
        val us = t + offsetUs
        val picked = scala.collection.mutable.LinkedHashSet.empty[Topic]
        while (picked.size < framesPerTick) {
          val trap = schema.mab && rnd.nextInt(50) == 0
          picked += (if (trap) schema.topics(schema.topics.size - 1 - rnd.nextInt(2))
                     else schema.regular(rnd.nextInt(schema.regular.size)))
        }
        picked.foreach { tp =>
          val (wire, decoded) =
            if (schema.mab && tp.id == 65) {
              // Q5 trap: 8 bytes on the wire, truncated to 2 by the workaround
              val p = Array.fill(8)(rnd.nextInt(256)); p(0) = 230
              (p, p.take(2))
            } else if (schema.mab && tp.id == 64) {
              // Q5 trap: byte 0 is not 230; the workaround forces the signature
              val p = Array.fill(3)(rnd.nextInt(256)); p(0) = 0x42
              (p, p)
            } else {
              val p = Array.fill(tp.declaredSize)(rnd.nextInt(256)); p(0) = tp.sig
              (p, p)
            }
          emit(frame(t, tp.id, wire))
          tp.fields.zip(tp.columns).foreach { case (f, c) =>
            val v = rawValue(decoded, f.raw) * f.scale
            e.sums(schema.colIndex(c)) += v
            e.valueSum += v
            e.longRows += 1
          }
        }
        e.rows += 1
        e.minUs = math.min(e.minUs, us); e.maxUs = math.max(e.maxUs, us)
        k += 1
      }
    } finally w.close()
    LogFile(path, lines, Files.size(path), e)
  }

  def writeSchema(path: Path, schema: Schema): Unit =
    Files.write(path, schema.json.getBytes(StandardCharsets.UTF_8))

  /** Solcast historical export at 5-min periods over [from, to). */
  def writeSolcast(path: Path, rnd: java.util.Random, fromUs: Long, toUs: Long): Long = {
    val sb = new StringBuilder("PeriodStart,PeriodEnd,Period,Dni,Ghi,Dhi,Airmass,AlbedoDaily\n")
    var t = fromUs / 300000000L * 300000000L
    var n = 0L
    while (t < toUs) {
      val s = Instant.ofEpochSecond(t / 1000000L)
      val e = s.plusSeconds(300)
      sb.append(s"$s,$e,PT5M,${rnd.nextInt(900)},${rnd.nextInt(700)},${rnd.nextInt(200)}," +
        f"${1 + rnd.nextDouble()}%.3f,0.${10 + rnd.nextInt(10)}\n")
      t += 300000000L; n += 1
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    n
  }

  /** GPX track: one point every `stepS` seconds over each [from, to]. */
  def writeGpx(path: Path, rnd: java.util.Random, spans: Seq[(Long, Long)],
               stepS: Int, lat0: Double, lon0: Double): Long = {
    val sb = new StringBuilder(
      "<?xml version=\"1.0\"?>\n<gpx version=\"1.1\" xmlns=\"http://www.topografix.com/GPX/1/1\">\n<trk><trkseg>\n")
    var lat = lat0; var lon = lon0; var n = 0L
    spans.foreach { case (from, to) =>
      var t = from / 1000000L
      while (t <= to / 1000000L) {
        lat += (rnd.nextDouble() - 0.5) * 1e-4
        lon += (rnd.nextDouble() - 0.5) * 1e-4
        sb.append(f"""<trkpt lat="$lat%.7f" lon="$lon%.7f"><ele>${rnd.nextInt(5)}</ele>""" +
          s"<time>${Instant.ofEpochSecond(t)}</time></trkpt>\n")
        t += stepS; n += 1
      }
    }
    sb.append("</trkseg></trk></gpx>\n")
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    n
  }

  def epochUs(iso: String): Long = {
    val i = Instant.parse(iso); i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}
