package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-
  * sample stages (build brief §multimodal).
  *
  * The Spark-side plumbing — schema, partition sizing, batch shape, typed
  * stages — is real and tested. Round 10 promotes the codec past the
  * all-fake stub: `RealCodec` parses five REAL container formats in pure
  * JVM (no new deps) — 24-bpp BMP (BITMAPINFOHEADER), 8-bit PNG (zlib
  * INFLATE via java.util.zip, all five scanline filters reversed,
  * per-chunk CRC32 verification), binary PPM (P6), PCM WAV (RIFF), and
  * uncompressed 24-bpp AVI (RIFF chunk walk: avih + strl headers,
  * per-frame '00db' DIB chunks) — computing width/height/frame-count/
  * mean-intensity from the actual encoded bytes; `syntheticMedia` EMITS
  * real BMP, PNG (DEFLATE-compressed), WAV and AVI containers (pixels/
  * samples derived from document text, so the fixture stays
  * deterministic). `FakeCodec` remains only as the declared fallback for
  * bytes no parser claims. Swapping in a full decoder (javacv, a JNI codec,
  * …) changes no plan shape: `mapPartitions` keeps the decode
  * columnar-batch-friendly and amortizes per-partition codec
  * initialization, the Scala analogue of `mapInPandas` batching.
  *
  * Scale notes: media blobs dominate row size, so
  * `spark.sql.files.maxPartitionBytes` governs decode parallelism, and
  * derived features should be written WITHOUT the content column (column
  * pruning keeps the blob out of downstream scans entirely).
  */
object Multimodal {

  /** One media row: content is opaque bytes + routing metadata. */
  case class MediaRow(media_id: Long, media_type: String, content: Array[Byte],
                      source: String)

  /** Decoded per-item features (fake but deterministic). */
  case class MediaFeatures(media_id: Long, media_type: String, width: Int,
                           height: Int, n_frames: Int, mean_intensity: Double)

  /** Deterministic fake codec — STUB standing in for a real decoder.
    * Derives "decoded" properties purely from the bytes so every stage
    * downstream is testable and reproducible. */
  object FakeCodec {
    def decode(row: MediaRow): MediaFeatures = {
      val bytes = row.content
      def byteAt(i: Int): Int = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff
      val width = 16 + byteAt(0) * 4
      val height = 16 + byteAt(1) * 4
      val frames = row.media_type match {
        case "video" => 1 + byteAt(2) % 64
        case "audio" => 1 + byteAt(2) % 16
        case _ => 1
      }
      val mean = if (bytes.isEmpty) 0.0 else bytes.map(_ & 0xff).sum.toDouble / bytes.length
      MediaFeatures(row.media_id, row.media_type, width, height, frames, mean)
    }
  }

  /** REAL pure-JVM container codecs (round 10): byte-exact encoders and
    * decoders for 24-bpp BMP, 8-bit PNG (real zlib DEFLATE/INFLATE +
    * CRC32 chunk verification), binary PPM (P6), 8/16-bit PCM WAV and
    * uncompressed 24-bpp AVI. The decoders parse the actual headers
    * (magic, dimensions, sample layout, data offset) and compute mean
    * intensity over the real payload bytes — a malformed container
    * throws, which the decode stage surfaces per row rather than
    * faking. */
  object RealCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** 24-bpp bottom-up BMP with BITMAPINFOHEADER; `pixel(x, y)` is a
      * grayscale value written to all three channels. */
    def encodeBmp(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
      val rowSize = (width * 3 + 3) / 4 * 4
      val dataSize = rowSize * height
      val b = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
        .putInt(0).putInt(54) // reserved, pixel-data offset
      b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
        .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var y = height - 1
      while (y >= 0) { // bottom-up row order
        var x = 0
        while (x < width) {
          val v = (pixel(x, y) & 0xff).toByte
          b.put(v).put(v).put(v)
          x += 1
        }
        var p = width * 3
        while (p < rowSize) { b.put(0.toByte); p += 1 }
        y -= 1
      }
      b.array()
    }

    /** (width, height, mean over pixel channel bytes, padding excluded). */
    def decodeBmp(bytes: Array[Byte]): (Int, Int, Double) = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 54 && b.get(0) == 'B' && b.get(1) == 'M', "not a BMP")
      val dataOffset = b.getInt(10)
      val width = b.getInt(18)
      val height = math.abs(b.getInt(22)) // negative = top-down; size only
      require(b.getShort(28) == 24, s"only 24-bpp BMP supported, got ${b.getShort(28)}")
      val rowSize = (width * 3 + 3) / 4 * 4
      var sum = 0L
      var y = 0
      while (y < height) {
        var i = dataOffset + y * rowSize
        val end = i + width * 3
        while (i < end) { sum += (bytes(i) & 0xff); i += 1 }
        y += 1
      }
      val n = width.toLong * height * 3
      (width, height, if (n == 0) 0.0 else sum.toDouble / n)
    }

    /** Binary PPM: "P6 <w> <h> <max>\n" header then RGB triples. */
    def encodePpm(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
      val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + width * height * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      var i = header.length
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val v = (pixel(x, y) & 0xff).toByte
          out(i) = v; out(i + 1) = v; out(i + 2) = v
          i += 3; x += 1
        }
        y += 1
      }
      out
    }

    def decodePpm(bytes: Array[Byte]): (Int, Int, Double) = {
      require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6', "not a P6 PPM")
      var i = 2
      def nextInt(): Int = {
        while (i < bytes.length &&
          (Character.isWhitespace(bytes(i)) || bytes(i) == '#')) {
          if (bytes(i) == '#') while (i < bytes.length && bytes(i) != '\n') i += 1
          else i += 1
        }
        var v = 0
        while (i < bytes.length && !Character.isWhitespace(bytes(i))) {
          v = v * 10 + (bytes(i) - '0'); i += 1
        }
        v
      }
      val width = nextInt(); val height = nextInt(); nextInt() // maxval
      i += 1 // single whitespace after maxval
      var sum = 0L
      val end = math.min(bytes.length, i + width * height * 3)
      val start = i
      while (i < end) { sum += (bytes(i) & 0xff); i += 1 }
      val n = end - start
      (width, height, if (n == 0) 0.0 else sum.toDouble / n)
    }

    /** Uncompressed 24-bpp AVI (RIFF 'AVI '): LIST hdrl (avih + LIST strl
      * with a 'vids'/'DIB ' strh and a BITMAPINFOHEADER strf) followed by
      * LIST movi holding one '00db' chunk per frame (bottom-up DIB rows,
      * 4-byte-aligned — the same pixel layout as the BMP encoder).
      * `pixel(x, y, f)` is a grayscale value for frame f. */
    def encodeAvi(width: Int, height: Int, nFrames: Int,
                  pixel: (Int, Int, Int) => Int): Array[Byte] = {
      val rowSize = (width * 3 + 3) / 4 * 4
      val frameSize = rowSize * height
      val strlSize = 4 + (8 + 56) + (8 + 40)        // "strl" + strh + strf
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize)  // "hdrl" + avih + LIST strl
      val moviSize = 4 + nFrames * (8 + frameSize)  // "movi" + 00db chunks
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
      val b = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
      def fourcc(s: String): Unit = { b.put(s.getBytes("US-ASCII")); () }
      fourcc("RIFF"); b.putInt(riffSize); fourcc("AVI ")
      fourcc("LIST"); b.putInt(hdrlSize); fourcc("hdrl")
      fourcc("avih"); b.putInt(56)
      b.putInt(40000)                  // dwMicroSecPerFrame (25 fps)
        .putInt(frameSize * 25).putInt(0).putInt(0)
        .putInt(nFrames).putInt(0).putInt(1).putInt(frameSize)
        .putInt(width).putInt(height).putInt(0).putInt(0).putInt(0).putInt(0)
      fourcc("LIST"); b.putInt(strlSize); fourcc("strl")
      fourcc("strh"); b.putInt(56)
      fourcc("vids"); fourcc("DIB ")
      b.putInt(0).putInt(0).putInt(0)  // flags, prio/lang, initial frames
        .putInt(1).putInt(25)          // scale/rate = 25 fps
        .putInt(0).putInt(nFrames)     // start, length (frames)
        .putInt(frameSize).putInt(-1).putInt(0)
        .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort)
      fourcc("strf"); b.putInt(40)
      b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
        .putInt(0).putInt(frameSize).putInt(0).putInt(0).putInt(0).putInt(0)
      fourcc("LIST"); b.putInt(moviSize); fourcc("movi")
      var f = 0
      while (f < nFrames) {
        fourcc("00db"); b.putInt(frameSize)
        var y = height - 1
        while (y >= 0) { // bottom-up row order, like BMP
          var x = 0
          while (x < width) {
            val v = (pixel(x, y, f) & 0xff).toByte
            b.put(v).put(v).put(v)
            x += 1
          }
          var p = width * 3
          while (p < rowSize) { b.put(0.toByte); p += 1 }
          y -= 1
        }
        f += 1
      }
      b.array()
    }

    /** (width, height, frames, mean over movi payload bytes). Frames are
      * COUNTED from the movi chunk walk and must agree with the avih
      * header's dwTotalFrames — a truncated or padded container fails the
      * parse rather than returning header fiction. */
    def decodeAvi(bytes: Array[Byte]): (Int, Int, Int, Double) = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 12 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "AVI ", "not an AVI")
      var width = -1; var height = -1; var headerFrames = -1
      var moviFrames = 0; var sum = 0L; var n = 0L
      def walk(start: Int, end: Int): Unit = {
        var i = start
        while (i + 8 <= end) {
          val id = new String(bytes, i, 4, "US-ASCII")
          val len = b.getInt(i + 4)
          require(len >= 0 && i + 8 + len <= end, s"chunk $id overruns container")
          if (id == "LIST") walk(i + 12, i + 8 + len) // skip the list type
          else if (id == "avih") {
            require(len >= 40, "avih too short")
            headerFrames = b.getInt(i + 8 + 16)
            width = b.getInt(i + 8 + 32)
            height = b.getInt(i + 8 + 36)
          } else if (id == "00db" || id == "00dc") {
            moviFrames += 1
            var j = i + 8
            val stop = i + 8 + len
            while (j < stop) { sum += (bytes(j) & 0xff); j += 1 }
            n += len
          }
          i += 8 + len + (len & 1) // chunks are word-aligned
        }
      }
      walk(12, bytes.length)
      require(width > 0 && height > 0 && headerFrames >= 0, "AVI without avih header")
      require(moviFrames == headerFrames,
        s"avih claims $headerFrames frames, movi holds $moviFrames")
      (width, height, moviFrames, if (n == 0) 0.0 else sum.toDouble / n)
    }

    /** 8-bit grayscale PNG with REAL zlib compression (java.util.zip
      * Deflater) and per-chunk CRC32s. The encoder cycles through all
      * five PNG scanline filters (None/Sub/Up/Average/Paeth, row mod 5)
      * so a round-trip exercises every unfilter path, not just the
      * trivial one. */
    def encodePng(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
      import java.util.zip.{CRC32, Deflater}
      val raw = new Array[Byte](height * (1 + width))
      var y = 0
      while (y < height) {
        val rowOff = y * (1 + width)
        val filter = y % 5
        raw(rowOff) = filter.toByte
        var x = 0
        while (x < width) {
          val cur = pixel(x, y) & 0xff
          val left = if (x > 0) pixel(x - 1, y) & 0xff else 0
          val up = if (y > 0) pixel(x, y - 1) & 0xff else 0
          val ul = if (x > 0 && y > 0) pixel(x - 1, y - 1) & 0xff else 0
          val enc = filter match {
            case 0 => cur
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - (left + up) / 2
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
              cur - pred
          }
          raw(rowOff + 1 + x) = (enc & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val d = new Deflater()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      var zLen = 0
      while (!d.finished()) {
        val n = d.deflate(buf, zLen, buf.length - zLen)
        zLen += n
        if (zLen == buf.length && !d.finished())
          throw new IllegalStateException("deflate buffer undersized")
      }
      d.end()
      val out = java.nio.ByteBuffer.allocate(8 + 25 + (12 + zLen) + 12)
      out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
      def chunk(typ: String, data: Array[Byte]): Unit = {
        out.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
        val crc = new CRC32()
        crc.update(typ.getBytes("US-ASCII")); crc.update(data)
        out.putInt(crc.getValue.toInt); ()
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(width).putInt(height)
        .put(8.toByte).put(0.toByte)  // bit depth 8, grayscale
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      chunk("IHDR", ihdr)
      chunk("IDAT", java.util.Arrays.copyOf(buf, zLen))
      chunk("IEND", Array.emptyByteArray)
      out.array()
    }

    /** (width, height, mean over reconstructed pixel bytes). Verifies
      * the signature, every chunk CRC, and the IEND terminator; inflates
      * the concatenated IDAT stream with java.util.zip.Inflater and
      * reverses whichever of the five filters each scanline used. 8-bit
      * grayscale (colortype 0) and 8-bit truecolor (colortype 2). */
    def decodePng(bytes: Array[Byte]): (Int, Int, Double) = {
      val (w, h, _, recon) = pngRecon(bytes)
      var sum = 0L
      var j = 0
      while (j < recon.length) { sum += (recon(j) & 0xff); j += 1 }
      (w, h, if (recon.isEmpty) 0.0 else sum.toDouble / recon.length)
    }

    /** Full PNG reconstruction: (width, height, channels, unfiltered
      * interleaved channel bytes) — the pixel grid `resizeMedia` needs. */
    private[operators] def pngRecon(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
      import java.util.zip.{CRC32, Inflater}
      require(bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G', "not a PNG")
      val b = java.nio.ByteBuffer.wrap(bytes)
      var i = 8
      var width = -1; var height = -1; var channels = -1
      val idat = new java.io.ByteArrayOutputStream()
      var sawEnd = false
      while (i + 8 <= bytes.length && !sawEnd) {
        val len = b.getInt(i)
        val typ = new String(bytes, i + 4, 4, "US-ASCII")
        require(len >= 0 && i + 12 + len <= bytes.length, s"chunk $typ overruns container")
        val crc = new CRC32()
        crc.update(bytes, i + 4, 4 + len)
        require(crc.getValue.toInt == b.getInt(i + 8 + len), s"chunk $typ CRC mismatch")
        typ match {
          case "IHDR" =>
            width = b.getInt(i + 8); height = b.getInt(i + 12)
            val depth = bytes(i + 16) & 0xff
            val color = bytes(i + 17) & 0xff
            require(depth == 8, s"only 8-bit PNG supported, got depth $depth")
            channels = color match {
              case 0 => 1
              case 2 => 3
              case c => throw new IllegalArgumentException(
                s"only grayscale/truecolor PNG supported, got colortype $c")
            }
          case "IDAT" => idat.write(bytes, i + 8, len)
          case "IEND" => sawEnd = true
          case _ => () // ancillary chunks skipped (CRC still verified)
        }
        i += 12 + len
      }
      require(width > 0 && height > 0 && channels > 0, "PNG without IHDR")
      require(sawEnd, "PNG without IEND")
      val stride = width * channels
      val raw = new Array[Byte](height * (1 + stride))
      val inf = new Inflater()
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        require(n > 0 || inf.finished(), "truncated IDAT stream")
        got += n
      }
      inf.end()
      require(got == raw.length, s"IDAT inflates to $got bytes, expected ${raw.length}")
      // reverse the per-scanline filter in place (recon rows hold pixels)
      val recon = new Array[Byte](height * stride)
      var y = 0
      while (y < height) {
        val filter = raw(y * (1 + stride)) & 0xff
        var x = 0
        while (x < stride) {
          val v = raw(y * (1 + stride) + 1 + x) & 0xff
          val left = if (x >= channels) recon(y * stride + x - channels) & 0xff else 0
          val up = if (y > 0) recon((y - 1) * stride + x) & 0xff else 0
          val ul = if (x >= channels && y > 0) recon((y - 1) * stride + x - channels) & 0xff else 0
          val rec = filter match {
            case 0 => v
            case 1 => v + left
            case 2 => v + up
            case 3 => v + (left + up) / 2
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              v + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
            case f => throw new IllegalArgumentException(s"unknown PNG filter $f")
          }
          recon(y * stride + x) = (rec & 0xff).toByte
          x += 1
        }
        y += 1
      }
      (width, height, channels, recon)
    }

    /** Mono/stereo PCM WAV; samples(i) are 8-bit unsigned values. */
    def encodeWav(sampleRate: Int, samples: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(44 + samples.length).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1) // PCM
        .putShort(1).putInt(sampleRate).putInt(sampleRate) // mono, 8-bit
        .putShort(1).putShort(8)
      b.put("data".getBytes("US-ASCII")).putInt(samples.length).put(samples)
      b.array()
    }

    /** (channels, bitsPerSample, frameCount, mean over sample bytes). */
    def decodeWav(bytes: Array[Byte]): (Int, Int, Int, Double) = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 44 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a WAV")
      val channels = b.getShort(22).toInt
      val bits = b.getShort(34).toInt
      // chunk walk from offset 12 to the data chunk (fmt may not be last)
      var i = 12
      var dataOff = -1
      var dataLen = 0
      while (i + 8 <= bytes.length && dataOff < 0) {
        val id = new String(bytes, i, 4, "US-ASCII")
        val len = b.getInt(i + 4)
        // same guard as decodeWavSamples: a negative len makes the walk
        // non-advancing (infinite loop inside an executor task) — THROW,
        // which error-as-value callers catch like any hostile input
        require(len >= 0 && i + 8 + len <= bytes.length, s"chunk $id overruns container")
        if (id == "data") { dataOff = i + 8; dataLen = len }
        else i += 8 + len + (len & 1) // chunks are word-aligned
      }
      require(dataOff >= 0, "WAV without data chunk")
      val blockAlign = channels * (bits / 8)
      val frames = if (blockAlign == 0) 0 else dataLen / blockAlign
      var sum = 0L
      var j = dataOff
      val end = math.min(bytes.length, dataOff + dataLen)
      while (j < end) { sum += (bytes(j) & 0xff); j += 1 }
      (channels, bits, frames, if (end == dataOff) 0.0 else sum.toDouble / (end - dataOff))
    }

    /** PCM sample array of a mono WAV this codec reads, NORMALIZED to
      * the 8-bit unsigned scale: 8-bit PCM yields the raw unsigned byte;
      * 16-bit PCM yields s/256 + 128 — the exact inverse of
      * [[encodeWav16]]'s (v − 128)·256 mapping, so a 16-bit transcode
      * decodes to the IDENTICAL sample array (every container byte
      * differs; the perceptual hash cannot tell — the audio analogue of
      * the image transcode planted duplicate). */
    def decodeWavSamples(bytes: Array[Byte]): Array[Int] = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 44 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a WAV")
      val channels = b.getShort(22).toInt
      val bits = b.getShort(34).toInt
      require(channels == 1, s"mono PCM only, got $channels channels")
      require(bits == 8 || bits == 16, s"8- or 16-bit PCM only, got $bits")
      var i = 12
      var dataOff = -1
      var dataLen = 0
      while (i + 8 <= bytes.length && dataOff < 0) {
        val id = new String(bytes, i, 4, "US-ASCII")
        val len = b.getInt(i + 4)
        // negative/overrunning lengths must THROW, not wedge the walk
        // (a negative len makes i += 8 + len non-advancing — an infinite
        // loop inside an executor task; cf. decodeAviFramePixels)
        require(len >= 0 && i + 8 + len <= bytes.length, s"chunk $id overruns container")
        if (id == "data") { dataOff = i + 8; dataLen = len }
        else i += 8 + len + (len & 1)
      }
      require(dataOff >= 0 && dataOff + dataLen <= bytes.length, "WAV without data chunk")
      if (bits == 8) {
        val out = new Array[Int](dataLen)
        var j = 0
        while (j < dataLen) { out(j) = bytes(dataOff + j) & 0xff; j += 1 }
        out
      } else {
        val out = new Array[Int](dataLen / 2)
        var j = 0
        while (j < out.length) { out(j) = b.getShort(dataOff + 2 * j) / 256 + 128; j += 1 }
        out
      }
    }

    /** 16-bit mono PCM encode of samples on the 8-bit unsigned scale
      * (sample v → signed (v − 128)·256, the standard 8→16-bit PCM
      * widening). The planted-duplicate generator of the audio
      * perceptual-hash receipts: no byte of the container survives the
      * re-encode, yet [[decodeWavSamples]] round-trips the samples
      * exactly. */
    def encodeWav16(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
      val b = ByteBuffer.allocate(44 + samples.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length * 2)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1) // PCM
        .putShort(1).putInt(sampleRate).putInt(sampleRate * 2)  // mono, 16-bit
        .putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(samples.length * 2)
      var j = 0
      while (j < samples.length) {
        b.putShort((((samples(j) & 0xff) - 128) * 256).toShort); j += 1
      }
      b.array()
    }

    /** Per-frame grayscale pixel grids of an AVI this codec reads:
      * (width, height, nFrames, frames), frames(f) row-major TOP-DOWN
      * (the 00db payload is bottom-up 24-bpp like BMP; channels
      * average). The frame-level decode behind [[Multimodal.vHash64]]
      * and [[resizeAvi]]. */
    def decodeAviFramePixels(bytes: Array[Byte]): (Int, Int, Int, Array[Array[Int]]) = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 12 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "AVI ", "not an AVI")
      var width = -1; var height = -1; var headerFrames = -1
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      def walk(start: Int, end: Int): Unit = {
        var i = start
        while (i + 8 <= end) {
          val id = new String(bytes, i, 4, "US-ASCII")
          val len = b.getInt(i + 4)
          require(len >= 0 && i + 8 + len <= end, s"chunk $id overruns container")
          if (id == "LIST") walk(i + 12, i + 8 + len)
          else if (id == "avih") {
            require(len >= 40, "avih too short")
            headerFrames = b.getInt(i + 8 + 16)
            width = b.getInt(i + 8 + 32)
            height = b.getInt(i + 8 + 36)
          } else if (id == "00db" || id == "00dc") {
            require(width > 0 && height > 0, "frame chunk before avih header")
            val rowSize = (width * 3 + 3) / 4 * 4
            require(len >= rowSize * height, "frame chunk shorter than one frame")
            val px = new Array[Int](width * height)
            var y = 0
            while (y < height) {
              val src = i + 8 + (height - 1 - y) * rowSize // bottom-up rows
              var x = 0
              while (x < width) {
                val o = src + x * 3
                px(y * width + x) =
                  ((bytes(o) & 0xff) + (bytes(o + 1) & 0xff) + (bytes(o + 2) & 0xff)) / 3
                x += 1
              }
              y += 1
            }
            frames += px
          }
          i += 8 + len + (len & 1)
        }
      }
      walk(12, bytes.length)
      require(width > 0 && height > 0 && headerFrames >= 0, "AVI without avih header")
      require(frames.length == headerFrames,
        s"avih claims $headerFrames frames, movi holds ${frames.length}")
      (width, height, frames.length, frames.toArray)
    }

    /** REAL video resize: every frame decoded, nearest-neighbor
      * resampled to (tw, th), re-encoded as AVI — the video analogue of
      * [[resizeImage]]. Resizing to a multiple of the 9×8 vHash sample
      * lattice (e.g. 18×16) is vHash-invariant frame-wise by the same
      * floor-arithmetic identity as the image dHash. */
    def resizeAvi(bytes: Array[Byte], tw: Int, th: Int): Array[Byte] = {
      val (w, h, n, frames) = decodeAviFramePixels(bytes)
      encodeAvi(tw, th, n,
        (x, y, f) => frames(f)((y * h / th) * w + (x * w / tw)))
    }

    /** Sniff the container magic and decode for real (RIFF containers
      * dispatch on the form type at offset 8: WAVE vs 'AVI '); bytes no
      * parser claims fall through to the declared deterministic stub.
      * Feature mapping: images → (width, height, 1 frame); WAV audio →
      * width = channels, height = bitsPerSample, n_frames = PCM frame
      * count; AVI video → (width, height, frame count). */
    def decode(row: MediaRow): MediaFeatures = {
      val bs = row.content
      if (bs.length >= 2 && bs(0) == 'B' && bs(1) == 'M') {
        val (w, h, mean) = decodeBmp(bs)
        MediaFeatures(row.media_id, row.media_type, w, h, 1, mean)
      } else if (bs.length >= 4 && (bs(0) & 0xff) == 0x89 &&
          bs(1) == 'P' && bs(2) == 'N' && bs(3) == 'G') {
        val (w, h, mean) = decodePng(bs)
        MediaFeatures(row.media_id, row.media_type, w, h, 1, mean)
      } else if (bs.length >= 2 && bs(0) == 'P' && bs(1) == '6') {
        val (w, h, mean) = decodePpm(bs)
        MediaFeatures(row.media_id, row.media_type, w, h, 1, mean)
      } else if (bs.length >= 12 && new String(bs, 0, 4, "US-ASCII") == "RIFF" &&
          new String(bs, 8, 4, "US-ASCII") == "AVI ") {
        val (w, h, frames, mean) = decodeAvi(bs)
        MediaFeatures(row.media_id, row.media_type, w, h, frames, mean)
      } else if (bs.length >= 4 && new String(bs, 0, 4, "US-ASCII") == "RIFF") {
        val (ch, bits, frames, mean) = decodeWav(bs)
        MediaFeatures(row.media_id, row.media_type, ch, bits, frames, mean)
      } else FakeCodec.decode(row)
    }

    /** Grayscale pixel grid (row-major, one int per pixel) of any image
      * container this codec reads; truecolor channels average. */
    def decodePixels(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
      if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') {
        val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        val dataOffset = b.getInt(10)
        val width = b.getInt(18)
        val height = math.abs(b.getInt(22))
        require(b.getShort(28) == 24, "only 24-bpp BMP supported")
        val rowSize = (width * 3 + 3) / 4 * 4
        val px = new Array[Int](width * height)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val i = dataOffset + (height - 1 - y) * rowSize + x * 3 // bottom-up
            px(y * width + x) =
              ((bytes(i) & 0xff) + (bytes(i + 1) & 0xff) + (bytes(i + 2) & 0xff)) / 3
            x += 1
          }
          y += 1
        }
        (width, height, px)
      } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 &&
          bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') {
        val (w, h, ch, recon) = pngRecon(bytes)
        val px = new Array[Int](w * h)
        var i = 0
        while (i < px.length) {
          var s = 0
          var c = 0
          while (c < ch) { s += (recon(i * ch + c) & 0xff); c += 1 }
          px(i) = s / ch
          i += 1
        }
        (w, h, px)
      } else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') {
        // reuse the header walk, then read triples
        val (w, h, _) = decodePpm(bytes)
        val start = bytes.length - w * h * 3
        require(start >= 0, "truncated PPM payload")
        val px = new Array[Int](w * h)
        var i = 0
        while (i < px.length) {
          val j = start + i * 3
          px(i) = ((bytes(j) & 0xff) + (bytes(j + 1) & 0xff) + (bytes(j + 2) & 0xff)) / 3
          i += 1
        }
        (w, h, px)
      } else throw new IllegalArgumentException("not an image container this codec reads")
    }

    /** REAL resize (round 10): decode the pixel grid, nearest-neighbor
      * resample to (tw, th), re-encode in the same container family —
      * BMP→BMP, PNG→PNG, PPM→PPM. Non-image bytes pass through
      * untouched (audio/video resize is a different operation). */
    def resizeImage(row: MediaRow, tw: Int, th: Int): MediaRow = {
      val bs = row.content
      val isBmp = bs.length >= 2 && bs(0) == 'B' && bs(1) == 'M'
      val isPng = bs.length >= 4 && (bs(0) & 0xff) == 0x89 &&
        bs(1) == 'P' && bs(2) == 'N' && bs(3) == 'G'
      val isPpm = bs.length >= 2 && bs(0) == 'P' && bs(1) == '6'
      if (!isBmp && !isPng && !isPpm) row
      else {
        val (w, h, px) = decodePixels(bs)
        def sample(x: Int, y: Int): Int = px((y * h / th) * w + (x * w / tw))
        val out =
          if (isBmp) encodeBmp(tw, th, sample)
          else if (isPng) encodePng(tw, th, sample)
          else encodePpm(tw, th, sample)
        row.copy(content = out)
      }
    }
  }

  /** True iff the bytes carry a container magic `decodePixels` reads
    * (BMP / PNG / binary PPM) — the image-row predicate of the
    * perceptual-hash family. */
  def isImage(bs: Array[Byte]): Boolean =
    (bs.length >= 2 && bs(0) == 'B' && bs(1) == 'M') ||
      (bs.length >= 4 && (bs(0) & 0xff) == 0x89 &&
        bs(1) == 'P' && bs(2) == 'N' && bs(3) == 'G') ||
      (bs.length >= 2 && bs(0) == 'P' && bs(1) == '6')

  /** 64-bit difference hash (dHash — the standard perceptual image hash:
    * downsample, then threshold on the horizontal gradient sign) of any
    * image container this codec reads. The grayscale pixel grid is
    * nearest-neighbor sampled on a 9×8 lattice (sample (gx, gy) =
    * pixel(gx·w DIV 9, gy·h DIV 8) — the same floor arithmetic as
    * `resizeImage`, so an integer-lattice resize is dHash-INVARIANT by
    * construction), and bit gy·8+gx is set iff the right neighbor is
    * strictly brighter than the left. Container-independent: BMP↔PNG↔PPM
    * transcodes of the same pixels hash identically (the codecs are
    * grayscale-lossless), which is exactly what byte-exact dedup (q35)
    * cannot see. Near-duplicate pixels ⇒ near Hamming distance, so the
    * SimHash combination-banding machinery applies unchanged. */
  def dHash64(bytes: Array[Byte]): Long = {
    val (w, h, px) = RealCodec.decodePixels(bytes)
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      val row = (gy * h / 8) * w
      var gx = 0
      while (gx < 8) {
        if (px(row + (gx + 1) * w / 9) > px(row + gx * w / 9))
          hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** (media_id, phash) frame of a media table's image rows — per-partition
    * batch decode like `decodeFeatures` (codec init amortized; the blob
    * never leaves the scan stage: what shuffles downstream is one long per
    * image). Non-image rows are skipped, not failed: a mixed media table
    * routes audio/video to their own feature stages. */
  def phashFeatures(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.collect {
      case r if isImage(r.content) => (r.media_id, dHash64(r.content))
    }).toDF("media_id", "phash")
  }

  /** Perceptual near-duplicate image pairs over a (id, phash) signature
    * frame: the 64-bit dHashes are combination-banded with the EXACT text
    * SimHash machinery (8×8-bit chunks, every C(8,5) intact subset a
    * bucket — pigeonhole-complete for hamming ≤ 3; min-combo single
    * emission; `TextDedup.DefaultMaxBucketSize` caps degenerate buckets —
    * flat/monochrome images all hash near 0 and are this family's
    * boilerplate cluster). Keys-only exchange: (combo, ckey, id, sim)
    * longs, never pixels or blobs. Output: (id_a, id_b, hamming).
    * Verified end-to-end by the q210 DuckDB replay (dHash → banding →
    * cap → hamming, all integer arithmetic). */
  /** The vhash family's banding point (round 16): 3-of-8 combos — the
    * SAME C(8,3) = C(8,5) = 56-combo fan-out as the default point, with
    * 24-bit keys and pigeonhole completeness for hamming ≤ 5. The video
    * hash samples ONE pixel per lattice cell per ≤5 frames, so ±2 noise
    * flips ~4–5 % of bits per pair — the ham-≤3 radius measured recall
    * 0.72 (round-15 verdict #6); ham ≤ 5 at exact completeness measures
    * 0.81/0.83 at the two gate SFs (BASELINE.md round-16 table; majority/
    * median/trimmed per-frame statistics all measured at-or-below the
    * summed-lattice hash, so the hash stays and the radius moves).
    * Interpolated into the q214 DuckDB text — move BOTH together. */
  val VhashIntact = 3
  val VhashMaxHamming = 5

  def phashPairs(features: DataFrame, hashCol: String = "phash",
                 maxHamming: Int = TextDedup.SimhashMaxHamming,
                 intact: Int = TextDedup.SimhashIntact): DataFrame = {
    require(maxHamming <= TextDedup.SimhashChunks - intact,
      s"${TextDedup.SimhashChunks} chunks with $intact intact only guarantee " +
        s"hamming <= ${TextDedup.SimhashChunks - intact}")
    val chunkBits = 64 / TextDedup.SimhashChunks
    val sigs = features.select(col("media_id"), col(hashCol).cast("long").as("__sim"))
    TextDedup.simhashEmitPairs(
      TextDedup.simhashComboKeys(sigs, chunkBits, intact), chunkBits, maxHamming, intact)
  }

  /** Incremental perceptual near-dup: pairs between an EXISTING
    * (id, hash) signature frame and an INCOMING one — the daily-crawl
    * shape for the media family (an arriving re-encode/resize of a
    * stored asset pairs with its original without re-banding the
    * corpus). Works over any of the three modality hashes (dHash64 /
    * aHash64 / vHash64 — pass the hash column). Pair set equals
    * `phashPairs` on the concatenated frame restricted to cross pairs
    * under the callers' id-offset convention (the q217 oracle); a
    * streaming incoming side (q218) caps corpus-side occupancy only —
    * the rule `TextDedup.crossBucketPairs` derives from its input. */
  def phashCrossPairs(existing: DataFrame, incoming: DataFrame,
                      hashCol: String = "phash"): DataFrame = {
    val chunkBits = 64 / TextDedup.SimhashChunks
    // cut the (id, sig) frame before the combo explode: each side is
    // referenced twice downstream (occupancy aggregate + join side of
    // simhashCrossEmitPairs) and the upstream here is the full perceptual
    // pipeline (decode -> resize -> dHash), the family's dominant cost —
    // the q82 N-references rule at the same sig-level placement as
    // portableSimhashChunkKeys(cutSigs). Streaming sides (q218's
    // per-trigger batch) cannot be checkpointed and are referenced once.
    def keys(df: DataFrame) = {
      val sigs0 = df.select(col("media_id"), col(hashCol).cast("long").as("__sim"))
      val sigs = if (df.isStreaming) sigs0 else Checkpoints.cut(sigs0, eager = false)
      TextDedup.simhashComboKeys(sigs, chunkBits)
    }
    TextDedup.simhashCrossEmitPairs(keys(existing), keys(incoming), chunkBits)
  }

  /** Hamming TOP-K similarity search over a 64-bit perceptual-hash
    * corpus (multi-index hashing — Norouzi & Punjani & Fleet 2012,
    * "Fast Search in Hamming Space with Multi-Index Hashing"): the hash
    * splits into `chunks` disjoint 64/chunks-bit substrings indexed
    * separately; candidates = corpus rows sharing AT LEAST ONE chunk
    * (position AND value) with the query. By pigeonhole every corpus
    * row within hamming ≤ chunks − 1 shares a chunk, so the returned
    * top-k is EXACTLY "the k nearest within that radius" — the regime a
    * near-dup search runs in; farther rows are out of contract. Ranked
    * by exact hamming with (hamming, id) tie-break — fully
    * deterministic, so the pipeline hash-checks (q219). Size `chunks`
    * with [[recommendedHammingChunks]]: a FIXED chunk count makes
    * posting lists grow linearly with n and the candidate volume
    * quadratically (measured 18.5× wall at 10× under m=8 before the
    * rule; m=4 at that n restores linear candidates).
    *
    * Scale shape: the chunk index is a keys-only (chunk, value, id)
    * exchange — hashes join back AFTER the candidate pairs form; the
    * per-(chunk, value) corpus posting list is capped at
    * `TextDedup.DefaultMaxBucketSize` (a degenerate value — monochrome
    * images all hashing alike — otherwise multiplies every query landing
    * on it; the cap is mirrored in the q219 replay, so drops agree
    * cross-engine). Output: (query_id, media_id, hamming, rank ≤ k). */
  /** MIH substring-count rule (Norouzi et al. 2012 §search cost): with
    * m chunks of 64/m bits over n items, expected posting-list length is
    * n/2^(64/m) — the paper's optimum is m ≈ 64/log₂(n), which keeps
    * lists O(1) as n grows (a FIXED m makes them grow linearly with n
    * and the candidate volume quadratically — measured: q219 at 10×
    * went 18.5× wall under fixed m=8 before this rule). The exactness
    * radius is the price: pigeonhole guarantees the top-k only within
    * hamming ≤ m − 1, so scale narrows the exact radius (64-bit
    * near-dup search wants small radii anyway — the q210 banding covers
    * radius-3 pair generation at any scale). Clamped to the divisors of
    * 64 in [2, 8]: the largest m with 2^(64/m) ≥ n·targetOccupancy⁻¹…
    * concretely the largest divisor ≤ 64/log₂(n), floor 2. */
  def recommendedHammingChunks(n: Long): Int = {
    require(n > 0)
    val rule = 64.0 / math.max(1.0, math.log(math.max(2L, n).toDouble) / math.log(2.0))
    Seq(8, 4, 2).find(_ <= rule).getOrElse(2)
  }

  def phashTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                chunks: Int = TextDedup.SimhashChunks): DataFrame = {
    val (idCol, hashCol, queryIdCol) = ("media_id", "phash", "query_id")
    require(64 % chunks == 0 && chunks >= 2,
      s"chunk count $chunks must divide 64 (radius = chunks - 1)")
    val chunkBits = 64 / chunks
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    def chunkKeys(df: DataFrame, id: String): DataFrame =
      df.select(col(id),
        posexplode(array((0 until chunks).map(c =>
          shiftrightunsigned(col(hashCol).cast("long"), chunkBits * c).bitwiseAND(lit(mask))): _*))
          .as(Seq("__c", "__v")))
    val corpusKeys = chunkKeys(corpus, idCol)
    val eligible = corpusKeys.groupBy("__c", "__v")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= TextDedup.DefaultMaxBucketSize)
      .select("__c", "__v")
    val cand = chunkKeys(queries, queryIdCol)
      .join(corpusKeys.join(eligible, Seq("__c", "__v"))
        .select(col("__c"), col("__v"), col(idCol)), Seq("__c", "__v"))
      .select(col(queryIdCol), col(idCol))
      .distinct()
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("hamming"), col(idCol))
    cand
      .join(corpus.select(col(idCol), col(hashCol).cast("long").as("__ch")), Seq(idCol))
      .join(queries.select(col(queryIdCol), col(hashCol).cast("long").as("__qh")), Seq(queryIdCol))
      .withColumn("hamming",
        expr("bit_count(__ch ^ __qh)").cast("long"))
      // the search RADIUS is the exactness bound: sharing a chunk is
      // necessary for hamming ≤ chunks−1 but not sufficient —
      // unfiltered, ranks past the true neighbors would be
      // chunk-coincidence artifacts (found) competing with unseen
      // equally-near rows (not found). Restricting to the radius makes
      // the result exactly "the k nearest within hamming ≤ chunks−1",
      // fully deterministic.
      .filter(col("hamming") <= chunks - 1)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("hamming"), col("rank"))
  }

  /** Occupancy audit for the phash combo buckets: (combo, ckey, n) —
    * DriftGuardSpec's margin probe for the q209/q210 fixture (cf.
    * `TextDedup.portableSimhashBucketSizes`). */
  def phashBucketSizes(features: DataFrame, hashCol: String = "phash",
                       intact: Int = TextDedup.SimhashIntact): DataFrame =
    TextDedup.simhashComboKeys(
        features.select(col("media_id"), col(hashCol).cast("long").as("__sim")),
        64 / TextDedup.SimhashChunks, intact)
      .groupBy(col("__combo").as("combo"), col("__ckey").as("ckey"))
      .agg(count(lit(1)).as("n"))

  /** True iff the bytes carry a RIFF/WAVE magic — the audio-row
    * predicate of the perceptual-hash family. */
  def isAudio(bs: Array[Byte]): Boolean =
    bs.length >= 12 && bs(0) == 'R' && bs(1) == 'I' && bs(2) == 'F' && bs(3) == 'F' &&
      bs(8) == 'W' && bs(9) == 'A' && bs(10) == 'V' && bs(11) == 'E'

  /** True iff the bytes carry a RIFF/'AVI ' magic — the video-row
    * predicate of the perceptual-hash family. */
  def isVideo(bs: Array[Byte]): Boolean =
    bs.length >= 12 && bs(0) == 'R' && bs(1) == 'I' && bs(2) == 'F' && bs(3) == 'F' &&
      bs(8) == 'A' && bs(9) == 'V' && bs(10) == 'I' && bs(11) == ' '

  /** 64-bit audio perceptual hash (aHash64 — the dHash idea applied to
    * the PCM envelope): the sample stream (normalized to the 8-bit
    * scale, `RealCodec.decodeWavSamples`) splits into 65 windows on the
    * floor lattice [k·n/65, (k+1)·n/65); bit k is set iff window k+1's
    * sample SUM strictly exceeds window k's. Sums — not means — make the
    * hash exactly invariant under the re-encodings the normalization
    * inverts (the 8↔16-bit PCM transcode: every sum scales back to the
    * identical integer), while byte-exact dedup (q35) sees a completely
    * different container. Similar audio ⇒ near Hamming distance, so the
    * SimHash combination-banding machinery applies unchanged. Needs at
    * least 65 samples (shorter streams have empty lattice windows — the
    * q211 entries filter on byte length, mirrored in the oracle CTE). */
  def aHash64(bytes: Array[Byte]): Long =
    aHash64Samples(RealCodec.decodeWavSamples(bytes))

  /** [[aHash64]] over already-decoded samples — the scan-stage hot loop
    * (`ahashFeatures`) decodes each blob ONCE and hashes the array. */
  def aHash64Samples(s: Array[Int]): Long = {
    val n = s.length
    require(n >= 65, s"aHash64 needs >= 65 samples, got $n")
    val sums = new Array[Long](65)
    var k = 0
    while (k < 65) {
      // window bounds in Long: k·n overflows Int past ~33.5M samples
      // (~70 min at 8 kHz), silently corrupting the floor lattice
      var i = (k.toLong * n / 65).toInt
      val end = ((k + 1).toLong * n / 65).toInt
      var acc = 0L
      while (i < end) { acc += s(i); i += 1 }
      sums(k) = acc
      k += 1
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (sums(b + 1) > sums(b)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** 64-bit video perceptual hash (vHash64): every frame is sampled on
    * the SAME 9×8 integer lattice as the image dHash, the samples are
    * SUMMED across frames, and bit gy·8+gx is set iff the right sum
    * strictly exceeds the left — a horizontal-gradient hash of the
    * temporally-integrated frame. Per-frame integer-lattice resizes
    * (18×16 = 2× the lattice) are invariant by the dHash floor identity
    * applied frame-wise, and sums (not means) keep frame-count-preserving
    * re-encodes exact. Frame SAMPLING (dropping frames) changes the sums
    * by design — a cut video is a different video. */
  def vHash64(bytes: Array[Byte]): Long = {
    val (w, h, _, frames) = RealCodec.decodeAviFramePixels(bytes)
    val sums = new Array[Long](72) // gy*9 + gx, gx in 0..8
    var f = 0
    while (f < frames.length) {
      val px = frames(f)
      var gy = 0
      while (gy < 8) {
        val row = (gy * h / 8) * w
        var gx = 0
        while (gx < 9) {
          sums(gy * 9 + gx) += px(row + gx * w / 9)
          gx += 1
        }
        gy += 1
      }
      f += 1
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      val gx = b % 8
      val gy = b / 8
      if (sums(gy * 9 + gx + 1) > sums(gy * 9 + gx)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** (media_id, ahash) frame of a media table's audio rows with ≥ 65
    * PCM samples — per-partition batch decode like `phashFeatures`; the
    * blob never leaves the scan stage, one long per row shuffles. */
  def ahashFeatures(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      // decode ONCE per row (the guard + hash sharing one decode): the
      // collect-guard form paid the full blob decode twice per row
      if (!isAudio(r.content)) Iterator.empty
      else {
        val samples = RealCodec.decodeWavSamples(r.content)
        if (samples.length >= 65) Iterator((r.media_id, aHash64Samples(samples)))
        else Iterator.empty
      }
    }).toDF("media_id", "ahash")
  }

  /** (media_id, vhash) frame of a media table's video rows — cf.
    * `phashFeatures`/`ahashFeatures`. */
  def vhashFeatures(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.collect {
      case r if isVideo(r.content) => (r.media_id, vHash64(r.content))
    }).toDF("media_id", "vhash")
  }

  /** 8→16-bit PCM transcode of a media table's audio rows (non-audio
    * rows pass through) — the planted-duplicate stage of the q213
    * receipt. */
  def transcodeWav16(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      if (isAudio(r.content))
        r.copy(content = RealCodec.encodeWav16(8000, RealCodec.decodeWavSamples(r.content)))
      else r
    })
  }

  /** Content-level video resize (non-video rows pass through) — the
    * planted-duplicate stage of the q214 receipt (18×16 per frame =
    * vHash-invariant). */
  def resizeVideo(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      if (isVideo(r.content)) r.copy(content = RealCodec.resizeAvi(r.content, w, h))
      else r
    })
  }

  /** Re-encode an image row's pixels in the named container family
    * ("bmp" / "png" / "ppm") — pixel-preserving for the grayscale grids
    * this codec reads. The planted-duplicate generator of the perceptual
    * dedup receipts: a transcode changes every byte of the container
    * (defeating q35's byte-exact dedup) while `dHash64` is invariant. */
  def transcode(row: MediaRow, family: String): MediaRow = {
    val (w, h, px) = RealCodec.decodePixels(row.content)
    def p(x: Int, y: Int): Int = px(y * w + x)
    val out = family match {
      case "bmp" => RealCodec.encodeBmp(w, h, p)
      case "png" => RealCodec.encodePng(w, h, p)
      case "ppm" => RealCodec.encodePpm(w, h, p)
      case f => throw new IllegalArgumentException(s"unknown image family $f")
    }
    row.copy(content = out)
  }

  /** Synthesize a deterministic media table from the documents table —
    * the testdata carrier. Round 10: image rows carry a REAL 24-bpp BMP
    * and audio rows a REAL PCM WAV (pixels/samples derived from the
    * document text bytes, dimensions from doc_id — deterministic);
    * video rows keep opaque text bytes for the declared FakeCodec stub. */
  def syntheticMedia(spark: SparkSession, docsDir: String): Dataset[MediaRow] = {
    graft.Tables.register(spark, docsDir)
    syntheticMediaRows(spark.table("documents"))
  }

  /** The synthetic-media construction over ANY (doc_id, text, source)
    * frame — factored out (round 14) so the STREAMING media entries can
    * build arriving MediaRows per micro-batch (all stateless: select +
    * typed mapPartitions work on streaming Datasets). */
  def syntheticMediaRows(docs: org.apache.spark.sql.DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col("doc_id").as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("content"),
        col("source"))
      .as[MediaRow]
      .mapPartitions(_.map { r =>
        val text = r.content
        def px(x: Int, y: Int): Int =
          if (text.isEmpty) 0 else text((x + y * 7) % text.length) & 0xff
        r.media_type match {
          case "image" =>
            val w = 4 + (r.media_id % 13).toInt
            val h = 3 + (r.media_id % 7).toInt
            // alternate container formats: uncompressed BMP and
            // zlib-compressed PNG (both REAL; dispatch is by magic)
            if (r.media_id % 2 == 0) r.copy(content = RealCodec.encodeBmp(w, h, px))
            else r.copy(content = RealCodec.encodePng(w, h, px))
          case "audio" =>
            r.copy(content = RealCodec.encodeWav(8000, text))
          case _ =>
            val w = 4 + (r.media_id % 9).toInt
            val h = 3 + (r.media_id % 5).toInt
            val frames = 2 + (r.media_id % 4).toInt
            r.copy(content = RealCodec.encodeAvi(w, h, frames,
              (x, y, f) => px(x + f, y)))
        }
      })
  }

  /** Decode stage: per-partition batch decode (codec init once per
    * partition — the mapInPandas-batch analogue in Scala). Dispatches on
    * the container magic: BMP/PNG/PPM/WAV/AVI parse for real (RealCodec);
    * falls through to the declared deterministic stub. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real codecs initialize libraries here, once per partition
      it.map(RealCodec.decode)
    }
  }

  /** Content-level resize stage (round 10, REAL): every image container
    * is decoded, nearest-neighbor resampled and re-encoded in its own
    * family per partition; non-image rows pass through. Derived frames
    * should still drop `content` before any wide downstream join. */
  def resizeMedia(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(RealCodec.resizeImage(_, w, h)))
  }
}
