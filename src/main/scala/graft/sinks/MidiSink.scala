package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.Scalars

/** MIDI sink (K4 in SURVEY.md §2.1; reference
  * /root/reference/runner/MIDIFeatureWriter.cpp:66-181): features become
  * notes where value[0] is the pitch — converted from Hz when the output's
  * unit is "Hz" (`:99-101,124-126`) — value[1] (if present, in 0..1) the
  * velocity (default 100, `:131-135`), and transforms map to channels
  * (≤16, `:108-116`). [[toNotes]] is the distributed projection;
  * [[docFiles]] encodes real format-0 .mid files, one per doc, in the
  * tasks that [[Output.filePerKey]] writes them from.
  */
object MidiSink {

  /** Ticks per quarter note and default tempo (µs per quarter) for the
    * SMF encoding: 120 BPM, 480 tpq -> 1 tick = 500000000/480 ns. */
  val TicksPerQuarter = 480
  val TempoUsPerQuarter = 500000L
  private def ticksOf(ns: Long): Long = ns * TicksPerQuarter / 500000000L

  /** One doc's notes (tsNs, durationNs|null, channel, pitch, velocity)
    * -> a format-0 Standard MIDI File byte array. Durationless notes get
    * 250 ms. */
  def encodeSmf(notes: Seq[(Long, Option[Long], Int, Int, Int)]): Array[Byte] = {
    val evts = notes.flatMap { case (ts, dur, ch, pitch, vel) =>
      val p = math.max(0, math.min(127, pitch))
      val v = math.max(1, math.min(127, vel))
      val on = (ticksOf(ts), 0x90 | (ch & 0xF), p, v)
      val off = (ticksOf(ts + dur.getOrElse(250000000L)), 0x80 | (ch & 0xF), p, 64)
      Seq(on, off)
    } // note-offs sort before note-ons at the same tick (0x8n < 0x9n):
      // no zero-length stuck notes when adjacent notes share a pitch
      .sortBy(e => (e._1, e._2, e._3))
    val body = new java.io.ByteArrayOutputStream()
    def varLen(v0: Long): Unit = { // SMF variable-length quantity
      var buf = v0 & 0x7F
      var v = v0 >> 7
      while (v > 0) { buf = (buf << 8) | ((v & 0x7F) | 0x80); v >>= 7 }
      var more = true
      while (more) {
        body.write((buf & 0xFF).toInt)
        if ((buf & 0x80) != 0) buf >>= 8 else more = false
      }
    }
    // tempo meta at tick 0
    varLen(0); body.write(0xFF); body.write(0x51); body.write(0x03)
    body.write(((TempoUsPerQuarter >> 16) & 0xFF).toInt)
    body.write(((TempoUsPerQuarter >> 8) & 0xFF).toInt)
    body.write((TempoUsPerQuarter & 0xFF).toInt)
    var at = 0L
    evts.foreach { case (tick, status, d1, d2) =>
      varLen(tick - at); at = tick
      body.write(status); body.write(d1); body.write(d2)
    }
    varLen(0); body.write(0xFF); body.write(0x2F); body.write(0x00) // EOT
    val track = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def be16(v: Int): Unit = { out.write(v >> 8); out.write(v & 0xFF) }
    def be32(v: Int): Unit = { be16(v >>> 16); be16(v & 0xFFFF) }
    out.write("MThd".getBytes); be32(6); be16(0); be16(1); be16(TicksPerQuarter)
    out.write("MTrk".getBytes); be32(track.length); out.write(track)
    out.toByteArray
  }

  /** One (key, name, body) row per doc for [[Output.filePerKey]]: the
    * doc's notes from a [[toNotes]] table encoded as `<doc>.mid` inside
    * the task. */
  def docFiles(notes: DataFrame): DataFrame = {
    val spark = notes.sparkSession
    import spark.implicits._
    notes.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("ts"), col("duration"), col("channel"),
        col("pitch"), col("velocity")))).as("ns"))
      .map { r =>
        val doc = r.getString(0)
        val ns = r.getSeq[Row](1).map { n =>
          (n.getLong(0), Option(n.get(1)).map(_.asInstanceOf[Long]),
            n.getInt(2), n.getInt(3), n.getInt(4))
        }
        (s"doc $doc", s"$doc.mid", encodeSmf(ns.toSeq))
      }.toDF("key", "name", "body")
  }

  /** features: (doc_id, transform_id, ts, duration, values, label) ->
    * (doc_id, transform_id, channel, ts, duration, pitch, velocity). */
  def toNotes(features: DataFrame, unitIsHz: Boolean): DataFrame = {
    val raw = element_at(col("values"), 1).cast("double")
    val pitch =
      if (unitIsHz) Scalars.hzToMidi(raw)
      else round(raw).cast("int")
    // velocity: value[1] in 0..1 scaled to 0..127; default 100 like typical
    // note-on handling when absent
    val velocity = when(size(col("values")) >= 2,
      round(element_at(col("values"), 2).cast("double") * 127).cast("int"))
      .otherwise(lit(100))
    // channel: DENSE index per transform in sorted order (reference: one
    // channel per transform, up to 16, MIDIFeatureWriter.cpp:108-116).
    // Round 1 hashed the id mod 16, which collides distinct transforms
    // onto one channel (~p=1/16 per pair) — with real .mid encoding a
    // collision lets one transform's note-off cut the other's note.
    // >16 transforms FAILS LOUDLY: silently wrapping i % 16 reintroduces
    // exactly that collision. The distinct-collect is bounded by the
    // transform count; the assignment is a broadcast-join lookup (O(1)
    // expression depth), not a folded when-chain.
    val ids = features.select(col("transform_id").cast("string"))
      .distinct().orderBy("transform_id").collect().map(_.getString(0))
    require(ids.length <= 16,
      s"MIDI has 16 channels; got ${ids.length} distinct transforms — " +
        "split the batch into <= 16 transforms per .mid output")
    val spark = features.sparkSession
    val chanTable = spark.createDataFrame(
      ids.zipWithIndex.toSeq).toDF("__tid", "channel")
    features.where(size(col("values")) >= 1)
      .join(broadcast(chanTable),
        col("transform_id").cast("string") === col("__tid"))
      .select(col("doc_id"), col("transform_id"), col("channel"),
        col("ts"), col("duration"), pitch.as("pitch"), velocity.as("velocity"))
  }
}
