package graft.operators

import org.apache.spark.sql.{Dataset, Encoders}

/** Multimodal column plumbing: image/audio payloads as opaque `binary`
  * columns with typed metadata, decoded by batched per-partition stages
  * (the Scala analog of the mapInPandas batch shape: the decoder sees an
  * Iterator of rows per partition so it can amortize codec setup).
  *
  * The codecs are REAL and dependency-free — [[parsePpm]]/[[decodePpm]]
  * (binary PPM images) and [[parseWavPcm16]]/[[decodeWav]] (16-bit PCM
  * WAV audio) — and drive oracle gates q51/q52 on true container bytes.
  */
object Multimodal {

  /** (id, modality, payload bytes, declared metadata). */
  case class MediaRow(id: Long, modality: String, payload: Array[Byte],
      width: Int, height: Int)

  // Trivial formats, so no external codec library is needed. The parsers
  // cover header sniffing, the whitespace/comment grammar (PPM) and
  // chunked RIFF walking (WAV); malformed input fails loudly.

  /** A decoded P6 image. */
  case class PpmImage(id: Long, width: Int, height: Int, maxval: Int,
      pixels: Array[Byte])

  /** REAL binary-PPM (P6) parse: "P6" magic, whitespace/#-comment
    * header grammar, width/height/maxval tokens, then width·height·3
    * raw RGB bytes. */
  def parsePpm(payload: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    require(payload.length >= 2 && payload(0) == 'P' && payload(1) == '6',
      "not a P6 PPM payload (bad magic)")
    var i = 2
    def skipSpaceAndComments(): Unit = {
      var going = true
      while (going && i < payload.length) {
        val c = payload(i).toChar
        if (c.isWhitespace) i += 1
        else if (c == '#') { while (i < payload.length && payload(i) != '\n') i += 1 }
        else going = false
      }
    }
    def token(): Int = {
      skipSpaceAndComments()
      val start = i
      while (i < payload.length && !payload(i).toChar.isWhitespace) i += 1
      require(i > start, s"truncated PPM header at byte $start")
      new String(payload, start, i - start, "US-ASCII").toInt
    }
    val w = token(); val h = token(); val maxval = token()
    require(w > 0 && h > 0, s"bad PPM dimensions ${w}x$h")
    require(maxval > 0 && maxval < 65536, s"bad PPM maxval $maxval")
    require(maxval < 256, "16-bit-per-channel PPM not supported")
    i += 1 // single whitespace after maxval, per spec
    // LONG arithmetic: a crafted header like "1431655766 1" makes
    // w*h*3 wrap Int past the truncation check and return silently
    // bogus pixels — the loud-failure contract demands the overflow
    // be caught, not wrapped
    val need = w.toLong * h * 3L
    require(payload.length.toLong - i >= need,
      s"PPM pixel data truncated: need $need bytes, have ${payload.length - i}")
    (w, h, maxval, java.util.Arrays.copyOfRange(payload, i, i + need.toInt))
  }

  /** Distributed P6 decode: batched per partition. */
  def decodePpm(media: Dataset[MediaRow]): Dataset[PpmImage] = {
    implicit val enc = Encoders.product[PpmImage]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, mx, px) = parsePpm(r.payload)
        PpmImage(r.id, w, h, mx, px)
      }
    }
  }

  /** Encode RGB bytes as binary PPM — fixture generator for tests and
    * the oracle gate (true container bytes, not fakes). */
  def encodePpm(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height * 3)
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, pixels.length)
    out
  }

  /** Decoded 16-bit PCM audio. */
  case class WavAudio(id: Long, channels: Int, sample_rate: Int,
      bits_per_sample: Int, samples: Array[Short])

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** REAL RIFF/WAVE parse: walks chunks ("fmt " then "data", unknown
    * chunks skipped by their declared size, word-aligned), requires
    * PCM (format tag 1) 16-bit, returns (channels, sampleRate, bits,
    * interleaved samples). */
  def parseWavPcm16(payload: Array[Byte]): (Int, Int, Int, Array[Short]) = {
    require(payload.length >= 12 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "WAVE",
      "not a RIFF/WAVE payload")
    var i = 12
    var channels = -1; var rate = -1; var bits = -1
    var samples: Array[Short] = null
    while (i + 8 <= payload.length && (samples == null || channels < 0)) {
      val tag = new String(payload, i, 4, "US-ASCII")
      val size = le32(payload, i + 4)
      // LONG bounds: a declared size near Int.MaxValue wraps i+8+size
      // negative, passing the check and then OOMing on the sample
      // allocation or reading out of bounds
      require(size >= 0 && i.toLong + 8L + size <= payload.length,
        s"WAV chunk '$tag' overruns the payload")
      tag match {
        case "fmt " =>
          require(size >= 16, "fmt chunk too small")
          val fmtTag = le16(payload, i + 8)
          require(fmtTag == 1, s"not PCM (fmt tag $fmtTag)")
          channels = le16(payload, i + 10)
          rate = le32(payload, i + 12)
          bits = le16(payload, i + 22)
          require(bits == 16, s"only 16-bit PCM supported, got $bits")
        case "data" =>
          require(channels > 0, "data chunk before fmt chunk")
          val n = size / 2
          samples = new Array[Short](n)
          var j = 0
          while (j < n) {
            samples(j) = le16(payload, i + 8 + 2 * j).toShort
            j += 1
          }
        case _ => // skip unknown chunk
      }
      i += 8 + size + (size & 1) // RIFF chunks are word-aligned
    }
    require(samples != null, "no data chunk found")
    (channels, rate, bits, samples)
  }

  /** Distributed WAV decode: batched per partition. */
  def decodeWav(media: Dataset[MediaRow]): Dataset[WavAudio] = {
    implicit val enc = Encoders.product[WavAudio]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (ch, rate, bits, s) = parseWavPcm16(r.payload)
        WavAudio(r.id, ch, rate, bits, s)
      }
    }
  }

  /** Encode 16-bit PCM mono/interleaved samples as a WAV file —
    * fixture generator (true RIFF bytes). */
  def encodeWavPcm16(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(out.putShort)
    out.array()
  }
}
