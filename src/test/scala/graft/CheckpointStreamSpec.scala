package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.engine.Checkpoint
import graft.operators.Multimodal
import graft.streaming.StreamOps

class CheckpointStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("checkpointed run is resumable: completed buckets skipped, counters kept") {
    val dir = Files.createTempDirectory("graftckpt").toString
    val data = spark.range(100).toDF("id")
      .withColumn("doc_id", format_string("d%03d", $"id"))
    def build(b: Int) =
      data.where(Checkpoint.bucketOf("doc_id", 4) === b)

    // first run: pretend to crash after 2 buckets
    var built = 0
    intercept[RuntimeException] {
      Checkpoint.runBuckets(spark, dir, 4, Map("job" -> "test")) { b =>
        built += 1
        if (built == 3) throw new RuntimeException("simulated crash")
        build(b)
      }
    }
    assert(Checkpoint.manifest(dir).size == 2)

    // resume: only the remaining buckets run
    var resumed = 0
    val res = Checkpoint.runBuckets(spark, dir, 4, Map("job" -> "test")) { b =>
      resumed += 1; build(b)
    }
    assert(resumed == 2)
    assert(res.count(_.skipped) == 2)
    // all rows present exactly once
    val rows = spark.read.parquet(s"$dir/data")
    assert(rows.count() == 100)
    assert(rows.select("doc_id").distinct().count() == 100)
    // lineage + counters present
    val manifest = Checkpoint.manifest(dir)
    assert(manifest.size == 4)
    assert(manifest.forall(_.contains("\"job\": \"test\"")))
    assert(manifest.forall(_.contains("\"rows\"")))
  }

  test("streaming gap sessionization closes sessions on gap and on flush") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(mem.toDS(), gapUs = 1000000L) // 1 s gap
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ev(u: Long, tMs: Long, v: Double) =
      StreamOps.Event(u, new java.sql.Timestamp(tMs), v)
    // user 1: two sessions separated by a 5s gap, delivered across batches.
    // times start above 0: rows at/below the watermark (initially 0) are
    // dropped by the stateful operator. Session bounds are epoch MICROS.
    val B = 100000L
    mem.addData(ev(1, B, 1.0), ev(1, B + 500, 2.0))
    q.processAllAvailable()
    mem.addData(ev(1, B + 6000, 3.0)) // gap > 1s -> closes session 1
    q.processAllAvailable()
    val out = spark.table("sessions").as[StreamOps.SessionOut].collect()
    assert(out.length == 1)
    assert(out.head.session_start == B * 1000 &&
      out.head.session_end == (B + 500) * 1000)
    assert(out.head.n_events == 2 && out.head.sum_value == 3.0)
    // event-time timeout flush (the getRemainingFeatures analog): advance
    // the watermark past user 1's gap via another user's events
    mem.addData(ev(2, B + 20000, 1.0))
    q.processAllAvailable() // watermark -> B+20000 ms at batch end
    mem.addData(ev(2, B + 21000, 1.0))
    q.processAllAvailable() // timers (B+7s < B+20s) fire this batch
    val out2 = spark.table("sessions").as[StreamOps.SessionOut].collect()
    q.stop()
    assert(out2.exists(s => s.user_id == 1 &&
      s.session_start == (B + 6000) * 1000 &&
      s.n_events == 1 && s.sum_value == 3.0))
  }

  test("sub-millisecond event times: micros() is exact, not ms-truncated") {
    val t = new java.sql.Timestamp(1704067798778L) // ms part .778
    t.setNanos(778549000) // full fractional second: .778549
    assert(StreamOps.micros(t) == 1704067798778549L)
  }

  test("streaming as-of join carries the latest feature across batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamOps.Tagged]
    val q = StreamOps.asofStream(mem.toDS())
      .writeStream.format("memory").queryName("asofstream")
      .outputMode("append").start()
    // batch 1: feature@10, query@5 (before any feature -> no match),
    // query@10 (same-ts feature visible: inclusive as-of), query@15
    mem.addData(
      StreamOps.Tagged(1, 10, 0, 100.0),
      StreamOps.Tagged(1, 5, 1, 0), StreamOps.Tagged(1, 10, 1, 0),
      StreamOps.Tagged(1, 15, 1, 0))
    q.processAllAvailable()
    // batch 2: no new feature for user 1 -> the carry answers; then a
    // newer feature@30 takes over for query@35
    mem.addData(
      StreamOps.Tagged(1, 20, 1, 0),
      StreamOps.Tagged(1, 30, 0, 200.0), StreamOps.Tagged(1, 35, 1, 0))
    q.processAllAvailable()
    val out = spark.table("asofstream").as[StreamOps.AsOfOut]
      .collect().map(o => o.ts -> ((o.matched_ts, o.feature_value))).toMap
    q.stop()
    assert(out(5L) == ((None, None)))                  // zero leakage
    assert(out(10L) == ((Some(10L), Some(100.0))))     // inclusive <=
    assert(out(15L) == ((Some(10L), Some(100.0))))
    assert(out(20L) == ((Some(10L), Some(100.0))))     // cross-batch carry
    assert(out(35L) == ((Some(30L), Some(200.0))))
  }

  test("streaming as-of: a late, older feature does not regress the carry") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamOps.Tagged]
    val q = StreamOps.asofStream(mem.toDS())
      .writeStream.format("memory").queryName("asoflate")
      .outputMode("append").start()
    mem.addData(StreamOps.Tagged(1, 30, 0, 200.0))
    q.processAllAvailable()
    // batch 2 delivers an OLDER feature (ts=10) then a query at ts=40 —
    // the batch join's answer for ts=40 is the ts=30 feature
    mem.addData(StreamOps.Tagged(1, 10, 0, 100.0), StreamOps.Tagged(1, 40, 1, 0))
    q.processAllAvailable()
    val out = spark.table("asoflate").as[StreamOps.AsOfOut]
      .collect().map(o => o.ts -> ((o.matched_ts, o.feature_value))).toMap
    q.stop()
    assert(out(40L) == ((Some(30L), Some(200.0))))
  }

  test("streaming windowed agg produces windows under watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    val df = mem.toDS().toDF()
      .withColumn("event_type", lit("x"))
    val agg = StreamOps.windowedAgg(df, "10 seconds", "10 seconds", "1 minute")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()
    mem.addData(
      StreamOps.Event(1, new java.sql.Timestamp(1000), 1.0),
      StreamOps.Event(1, new java.sql.Timestamp(2000), 2.0),
      StreamOps.Event(2, new java.sql.Timestamp(15000), 5.0))
    q.processAllAvailable()
    val rows = spark.table("winagg").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("n")).sum == 3)
  }

  test("REAL PPM codec: header grammar, comments, round trip, loud failures") {
    val px = Array.tabulate(2 * 3 * 3)(i => (i * 11 % 256).toByte)
    // hand-built header with a comment line and multi-space separators —
    // the grammar a real P6 file can use
    val withComment = ("P6\n# a comment\n2  3\n255\n".getBytes("US-ASCII") ++ px)
    val (w, h, mx, got) = Multimodal.parsePpm(withComment)
    assert((w, h, mx) == (2, 3, 255))
    assert(got.toSeq == px.toSeq)
    // encoder output round-trips through the parser
    val (w2, h2, _, got2) = Multimodal.parsePpm(Multimodal.encodePpm(2, 3, px))
    assert((w2, h2) == (2, 3) && got2.toSeq == px.toSeq)
    // loud failures: bad magic, truncated pixels
    assertThrows[IllegalArgumentException] {
      Multimodal.parsePpm("P5\n1 1\n255\n0".getBytes) }
    assertThrows[IllegalArgumentException] {
      Multimodal.parsePpm("P6\n4 4\n255\n".getBytes ++ Array[Byte](1, 2, 3)) }
    // adversarial header whose w*h*3 wraps Int32 (1431655766*3 = 2 after
    // wrap) must fail LOUDLY, not return a silently bogus 2-pixel image
    assertThrows[IllegalArgumentException] {
      Multimodal.parsePpm(
        "P6\n1431655766 1\n255\n".getBytes ++ Array[Byte](1, 2)) }
    // distributed decode over the batched path
    val media = Seq(Multimodal.MediaRow(7L, "image",
      Multimodal.encodePpm(2, 3, px), 2, 3)).toDS()
    val dec = Multimodal.decodePpm(media).collect().head
    assert(dec.id == 7L && dec.width == 2 && dec.height == 3 &&
      dec.pixels.toSeq == px.toSeq)
  }

  test("REAL WAV codec: RIFF walk, unknown chunk skip, round trip, failures") {
    val samples = Array.tabulate(25)(i => ((i * 2731 - 9000) % 32768).toShort)
    val wav = Multimodal.encodeWavPcm16(8000, 1, samples)
    val (ch, rate, bits, got) = Multimodal.parseWavPcm16(wav)
    assert((ch, rate, bits) == (1, 8000, 16))
    assert(got.toSeq == samples.toSeq)
    // an unknown chunk (odd size -> word-aligned skip) between fmt and data
    val junk = Array[Byte](9, 9, 9) // 3 bytes, needs 1 pad byte
    val withJunk = java.nio.ByteBuffer
      .allocate(wav.length + 8 + junk.length + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    withJunk.put(wav, 0, 36) // RIFF..fmt chunk end
    withJunk.put("LIST".getBytes("US-ASCII")).putInt(junk.length)
      .put(junk).put(0.toByte)
    withJunk.put(wav, 36, wav.length - 36) // data chunk
    val arr = withJunk.array()
    // fix RIFF size field
    val riffSize = arr.length - 8
    arr(4) = (riffSize & 0xff).toByte; arr(5) = ((riffSize >> 8) & 0xff).toByte
    arr(6) = ((riffSize >> 16) & 0xff).toByte; arr(7) = ((riffSize >> 24) & 0xff).toByte
    val (_, _, _, got2) = Multimodal.parseWavPcm16(arr)
    assert(got2.toSeq == samples.toSeq, "unknown chunk not skipped cleanly")
    // loud failures: not RIFF, truncated chunk
    assertThrows[IllegalArgumentException] {
      Multimodal.parseWavPcm16("nope".getBytes) }
    assertThrows[IllegalArgumentException] {
      Multimodal.parseWavPcm16(java.util.Arrays.copyOfRange(wav, 0, 40)) }
    // adversarial data-chunk size near Int.MaxValue: i+8+size wraps
    // negative — must hit the bounds require, not a ~2GB allocation
    val evil = wav.clone()
    val evilSize = 2147483640
    evil(40) = (evilSize & 0xff).toByte
    evil(41) = ((evilSize >> 8) & 0xff).toByte
    evil(42) = ((evilSize >> 16) & 0xff).toByte
    evil(43) = ((evilSize >> 24) & 0xff).toByte
    assertThrows[IllegalArgumentException] {
      Multimodal.parseWavPcm16(evil) }
    // distributed decode
    val media = Seq(Multimodal.MediaRow(3L, "audio", wav, 0, 0)).toDS()
    val dec = Multimodal.decodeWav(media).collect().head
    assert(dec.id == 3L && dec.sample_rate == 8000 &&
      dec.samples.toSeq == samples.toSeq)
  }
}
