package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "hello world"), (2L, "a"), (3L, "x" * 1000))
    .toDF("doc_id", "text")

  test("binary payload column carries UTF-8 bytes") {
    val bin = Multimodal.withBinaryPayload(docs, "doc_id", "text")
    val r = bin.filter($"id" === 1).select(octet_length($"payload")).first().getInt(0)
    assert(r == 11)
  }

  test("mapPartitions decode and columnar meta agree (stub decode is the seam)") {
    val bin = Multimodal.withBinaryPayload(docs, "doc_id", "text")
    val viaPartitions = Multimodal.decodeMeta(spark, bin)
      .collect().map(m => (m.id, m.byteLen, m.width, m.height, m.format)).toSet
    val viaColumns = Multimodal.metaColumns(bin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    assert(viaPartitions == viaColumns)
    assert(viaPartitions.exists(_._1 == 3L))
    val big = viaPartitions.find(_._1 == 3L).get
    assert(big._2 == 1000 && big._3 == 64 + (1000 % 512))
  }

  test("byte-histogram features: normalized, deterministic, ANN-composable") {
    val bin = Multimodal.withBinaryPayload(docs, "doc_id", "text")
    val feats = Multimodal.byteHistogram(spark, bin, bins = 16)
    val rows = feats.collect().map(f => f.id -> f.embedding).toMap
    assert(rows.values.forall(_.length == 16))
    // histogram of a non-empty payload sums to 1
    assert(math.abs(rows(1L).sum - 1f) < 1e-5)
    // identical payloads → identical features
    val dup = Multimodal.byteHistogram(spark,
      Multimodal.withBinaryPayload(docs, "doc_id", "text"), bins = 16)
      .collect().map(f => f.id -> f.embedding.toSeq).toMap
    assert(dup(1L) == rows(1L).toSeq)
    // the features column feeds the similarity operators directly:
    // binary → features → exact top-k is the full multimodal loop
    val topk = graft.operators.Similarity.bruteForceTopK(
      feats.toDF().withColumnRenamed("id", "vec_id"),
      feats.toDF().withColumnRenamed("id", "vec_id").filter($"vec_id" === 1), k = 2)
    assert(topk.count() == 2)
  }

  // --- real container-header sniffing (no codec library) ----------------

  /** Minimal structurally-valid JPEG: SOI, APP0 (JFIF), SOF0 with the
    * given geometry, SOS, EOI. Dimensions live only in SOF0 — parsing
    * them proves the marker walk, not a lucky offset.
    */
  private def jpegBytes(w: Int, h: Int, comps: Int): Array[Byte] = {
    def u16(v: Int) = Array[Byte](((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val app0 = Array[Byte](0xFF.toByte, 0xE0.toByte) ++ u16(16) ++
      "JFIF\u0000".getBytes("ASCII") ++ Array[Byte](1, 2, 0) ++
      u16(72) ++ u16(72) ++ Array[Byte](0, 0)
    val sofPayload = Array[Byte](8) ++ u16(h) ++ u16(w) ++ Array[Byte](comps.toByte) ++
      Array.fill(comps * 3)(1: Byte)
    val sof = Array[Byte](0xFF.toByte, 0xC0.toByte) ++ u16(2 + sofPayload.length) ++ sofPayload
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++ app0 ++ sof ++
      Array[Byte](0xFF.toByte, 0xDA.toByte, 0, 4, 1, 0) ++
      Array[Byte](0xFF.toByte, 0xD9.toByte)
  }

  private def pngBytes(w: Int, h: Int, colorType: Int): Array[Byte] = {
    def u32(v: Int) = Array[Byte]((v >>> 24).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      u32(13) ++ "IHDR".getBytes("ASCII") ++ u32(w) ++ u32(h) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0) ++ u32(0)
  }

  private def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("ASCII") ++
      Array[Byte]((w & 0xFF).toByte, ((w >> 8) & 0xFF).toByte,
        (h & 0xFF).toByte, ((h >> 8) & 0xFF).toByte, 0, 0, 0)

  test("sniffMeta extracts real JPEG/PNG/GIF geometry from container headers") {
    val j = Multimodal.sniffMeta(1L, jpegBytes(w = 1920, h = 1080, comps = 3))
    assert((j.format, j.width, j.height, j.channels) == (("jpeg", 1920, 1080, 3)))
    val p = Multimodal.sniffMeta(2L, pngBytes(w = 640, h = 480, colorType = 6))
    assert((p.format, p.width, p.height, p.channels) == (("png", 640, 480, 4)))
    val g = Multimodal.sniffMeta(3L, gifBytes(w = 320, h = 200))
    assert((g.format, g.width, g.height) == (("gif", 320, 200)))
    // grayscale JPEG, 1 component
    val gray = Multimodal.sniffMeta(4L, jpegBytes(w = 8, h = 8, comps = 1))
    assert(gray.channels == 1)
  }

  test("sniffMeta round-trips randomized valid containers (generative)") {
    // random geometry, random APPn preamble segments, any valid SOFn
    // marker (baseline/extended/progressive/lossless/differential) —
    // the parse must come from the marker walk, not fixed offsets
    val rnd = new scala.util.Random(1234)
    val sofMarkers = Seq(0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
    def u16(v: Int) = Array[Byte](((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    for (_ <- 1 to 150) {
      val (w, h) = (1 + rnd.nextInt(65535), 1 + rnd.nextInt(65535))
      val comps = 1 + rnd.nextInt(4)
      val preamble = (0 until rnd.nextInt(4)).flatMap { _ =>
        val body = Array.fill(rnd.nextInt(32))(rnd.nextInt(256).toByte)
        Array(0xFF.toByte, (0xE0 + rnd.nextInt(16)).toByte) ++
          u16(2 + body.length) ++ body
      }.toArray
      val sofPayload = Array[Byte](8) ++ u16(h) ++ u16(w) ++
        Array[Byte](comps.toByte) ++ Array.fill(comps * 3)(1: Byte)
      val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ preamble ++
        Array(0xFF.toByte, sofMarkers(rnd.nextInt(sofMarkers.size)).toByte) ++
        u16(2 + sofPayload.length) ++ sofPayload ++
        Array[Byte](0xFF.toByte, 0xD9.toByte)
      val m = Multimodal.sniffMeta(1L, jpeg)
      assert((m.width, m.height, m.channels, m.format) == ((w, h, comps, "jpeg")))
      val p = Multimodal.sniffMeta(2L, pngBytes(w, h, colorType = 2))
      assert((p.width, p.height, p.format) == ((w, h, "png")))
      if (w <= 0xFFFF && h <= 0xFFFF) {
        val g = Multimodal.sniffMeta(3L, gifBytes(w, h))
        assert((g.width, g.height) == ((w, h)))
      }
    }
    // WAV/MP4 generative round-trip for the AV sniffing
    for (_ <- 1 to 100) {
      val ch = 1 + rnd.nextInt(8); val rate = 8000 + rnd.nextInt(40000)
      val bits = Seq(8, 16, 24, 32)(rnd.nextInt(4))
      val secs = 1
      val dataLen = rate * ch * (bits / 8) * secs
      val a = Multimodal.sniffAv(1L, wavBytes(ch, rate, bits, dataLen))
      assert((a.channels, a.sampleRate, a.bitsPerSample, a.durationMs) ==
        ((ch, rate, bits, secs * 1000L)))
      val ts = 1 + rnd.nextInt(1000000); val dur = rnd.nextInt(1 << 30)
      val v = Multimodal.sniffAv(2L, mp4Bytes(ts, dur, v1 = rnd.nextBoolean()))
      assert(v.durationMs == dur.toLong * 1000L / ts)
    }
  }

  test("sniffMeta quarantines malformed payloads instead of throwing") {
    // truncated JPEG (SOI only), SOS-before-SOF, garbage, empty
    assert(Multimodal.sniffMeta(1L, Array[Byte](0xFF.toByte, 0xD8.toByte)).width == -1)
    val sosFirst = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xDA.toByte, 0, 4, 1, 0)
    assert(Multimodal.sniffMeta(2L, sosFirst).width == -1)
    val garbage = Multimodal.sniffMeta(3L, "not an image at all".getBytes("UTF-8"))
    assert(garbage.format == "unknown" && garbage.width == -1)
    assert(Multimodal.sniffMeta(4L, Array.empty[Byte]).format == "unknown")
    // fuzz: NO byte array may throw — a poison blob at 100 TB must
    // quarantine (width = -1 is filterable), never kill the stage
    val rnd = new scala.util.Random(42)
    for (n <- 0 to 200) {
      val bytes = Array.fill(n)(rnd.nextInt(256).toByte)
      val m = Multimodal.sniffMeta(n.toLong, bytes)
      assert(m.byteLen == n)
      // force plausible-prefix fuzz too: JPEG SOI + random tail
      val jf = Multimodal.sniffMeta(n.toLong,
        Array[Byte](0xFF.toByte, 0xD8.toByte) ++ bytes)
      assert(jf.format == "jpeg")
    }
  }

  private def wavBytes(channels: Int, rate: Int, bits: Int, dataLen: Int): Array[Byte] = {
    def u16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def u32(v: Int) = u16(v & 0xFFFF) ++ u16(v >>> 16)
    val fmt = "fmt ".getBytes("ASCII") ++ u32(16) ++ u16(1) ++ u16(channels) ++
      u32(rate) ++ u32(rate * channels * bits / 8) ++ u16(channels * bits / 8) ++ u16(bits)
    val data = "data".getBytes("ASCII") ++ u32(dataLen) ++ Array.fill(dataLen)(0: Byte)
    "RIFF".getBytes("ASCII") ++ u32(4 + fmt.length + data.length) ++
      "WAVE".getBytes("ASCII") ++ fmt ++ data
  }

  private def mp4Bytes(timescale: Int, duration: Int, v1: Boolean): Array[Byte] = {
    def u32(v: Long) = Array[Byte]((v >>> 24).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val ftyp = u32(16) ++ "ftyp".getBytes("ASCII") ++ "isom".getBytes("ASCII") ++ u32(0)
    val mvhdPayload =
      if (v1) Array[Byte](1, 0, 0, 0) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u32(timescale) ++ u32(0) ++ u32(duration)
      else Array[Byte](0, 0, 0, 0) ++ u32(0) ++ u32(0) ++ u32(timescale) ++ u32(duration)
    val mvhd = u32(8 + mvhdPayload.length) ++ "mvhd".getBytes("ASCII") ++ mvhdPayload
    val moov = u32(8 + mvhd.length) ++ "moov".getBytes("ASCII") ++ mvhd
    ftyp ++ moov
  }

  private def bmpBytes(w: Int, h: Int, bpp: Int): Array[Byte] = {
    def u16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def u32(v: Int) = u16(v & 0xFFFF) ++ u16(v >>> 16)
    "BM".getBytes("ASCII") ++ u32(54) ++ u32(0) ++ u32(54) ++ // file header
      u32(40) ++ u32(w) ++ u32(h) ++ u16(1) ++ u16(bpp) ++ u32(0) ++ u32(0)
  }

  private def webpVp8Bytes(w: Int, h: Int): Array[Byte] = {
    def u16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def u32(v: Int) = u16(v & 0xFFFF) ++ u16(v >>> 16)
    val payload = Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A) ++ u16(w) ++ u16(h)
    "RIFF".getBytes("ASCII") ++ u32(4 + 8 + payload.length) ++
      "WEBP".getBytes("ASCII") ++ "VP8 ".getBytes("ASCII") ++
      u32(payload.length) ++ payload
  }

  private def webpVp8lBytes(w: Int, h: Int): Array[Byte] = {
    def u16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def u32(v: Int) = u16(v & 0xFFFF) ++ u16(v >>> 16)
    val bits = (w - 1).toLong | ((h - 1).toLong << 14)
    val payload = Array[Byte](0x2F) ++ (0 to 3).map(i => ((bits >> (8 * i)) & 0xFF).toByte)
    "RIFF".getBytes("ASCII") ++ u32(4 + 8 + payload.length) ++
      "WEBP".getBytes("ASCII") ++ "VP8L".getBytes("ASCII") ++
      u32(payload.length) ++ payload.toArray
  }

  private def tiffBytes(w: Int, h: Int, spp: Int, littleEndian: Boolean): Array[Byte] = {
    def u16(v: Int) =
      if (littleEndian) Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      else Array[Byte](((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def u32(v: Int) =
      if (littleEndian) u16(v & 0xFFFF) ++ u16(v >>> 16) else u16(v >>> 16) ++ u16(v & 0xFFFF)
    def entry(tag: Int, typ: Int, value: Int): Array[Byte] = {
      val v = if (typ == 3) u16(value) ++ u16(0) else u32(value)
      u16(tag) ++ u16(typ) ++ u32(1) ++ v
    }
    val header = (if (littleEndian) "II" else "MM").getBytes("ASCII") ++ u16(42) ++ u32(8)
    header ++ u16(3) ++
      entry(0x0100, 4, w) ++ entry(0x0101, 3, h) ++ entry(0x0115, 3, spp) ++ u32(0)
  }

  private def flacBytes(rate: Int, channels: Int, bits: Int, samples: Long): Array[Byte] = {
    val info = new Array[Byte](34)
    info(10) = ((rate >> 12) & 0xFF).toByte
    info(11) = ((rate >> 4) & 0xFF).toByte
    info(12) = (((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)).toByte
    info(13) = ((((bits - 1) & 0xF) << 4) | ((samples >> 32) & 0xF).toInt).toByte
    for (i <- 0 until 4) info(14 + i) = ((samples >> (8 * (3 - i))) & 0xFF).toByte
    "fLaC".getBytes("ASCII") ++ Array[Byte](0x80.toByte, 0, 0, 34) ++ info
  }

  private def mp3Bytes(mpeg1: Boolean, rateIdx: Int, mono: Boolean, id3: Boolean): Array[Byte] = {
    val h1 = (0xE0 | (if (mpeg1) 0x18 else 0x10) | 0x02).toByte // sync + version + layer III
    val h2 = ((rateIdx & 0x3) << 2).toByte
    val h3 = (if (mono) 0xC0 else 0x00).toByte
    val frame = Array[Byte](0xFF.toByte, h1, h2, h3)
    if (id3)
      "ID3".getBytes("ASCII") ++ Array[Byte](4, 0, 0, 0, 0, 0, 5) ++
        Array.fill(5)(0: Byte) ++ frame
    else frame
  }

  test("sniffMeta covers BMP, WebP (lossy+lossless), and TIFF (both endians)") {
    val bm = Multimodal.sniffMeta(1L, bmpBytes(800, 600, 24))
    assert((bm.format, bm.width, bm.height, bm.channels) == (("bmp", 800, 600, 3)))
    val wp = Multimodal.sniffMeta(2L, webpVp8Bytes(1024, 768))
    assert((wp.format, wp.width, wp.height, wp.channels) == (("webp", 1024, 768, 3)))
    val wl = Multimodal.sniffMeta(3L, webpVp8lBytes(320, 240))
    assert((wl.format, wl.width, wl.height) == (("webp", 320, 240)))
    val tl = Multimodal.sniffMeta(4L, tiffBytes(2048, 1536, 3, littleEndian = true))
    assert((tl.format, tl.width, tl.height, tl.channels) == (("tiff", 2048, 1536, 3)))
    val tb = Multimodal.sniffMeta(5L, tiffBytes(640, 400, 1, littleEndian = false))
    assert((tb.format, tb.width, tb.height, tb.channels) == (("tiff", 640, 400, 1)))
  }

  test("sniffAv covers FLAC, MP3 (with and without ID3v2), and Ogg detection") {
    val f = Multimodal.sniffAv(1L, flacBytes(rate = 44100, channels = 2, bits = 16, samples = 44100L * 3))
    assert((f.format, f.sampleRate, f.channels, f.bitsPerSample, f.durationMs) ==
      (("flac", 44100, 2, 16, 3000L)))
    val m = Multimodal.sniffAv(2L, mp3Bytes(mpeg1 = true, rateIdx = 0, mono = false, id3 = false))
    assert((m.format, m.sampleRate, m.channels) == (("mp3", 44100, 2)))
    val m2 = Multimodal.sniffAv(3L, mp3Bytes(mpeg1 = false, rateIdx = 1, mono = true, id3 = true))
    assert((m2.format, m2.sampleRate, m2.channels) == (("mp3", 24000, 1)))
    val o = Multimodal.sniffAv(4L, "OggS".getBytes("ASCII") ++ Array.fill(20)(0: Byte))
    assert(o.format == "ogg")
    // fuzz the new prefixes: BMP/TIFF/FLAC/ID3 magic + random tails never throw
    val rnd = new scala.util.Random(99)
    for (n <- 0 to 120) {
      val tail = Array.fill(n)(rnd.nextInt(256).toByte)
      for (pre <- Seq("BM", "II*\u0000", "MM\u0000*", "fLaC", "ID3", "OggS",
          "RIFF\u0000\u0000\u0000\u0000WEBP")) {
        val bytes = pre.getBytes("ISO-8859-1") ++ tail
        assert(Multimodal.sniffMeta(n.toLong, bytes).byteLen == bytes.length)
        assert(Multimodal.sniffAv(n.toLong, bytes).byteLen == bytes.length)
      }
    }
  }

  test("sniffAv extracts WAV sample geometry and MP4 duration from headers") {
    // 1 s of 16-bit stereo at 44.1 kHz = 176 400 data bytes
    val w = Multimodal.sniffAv(1L, wavBytes(channels = 2, rate = 44100, bits = 16, dataLen = 176400))
    assert((w.format, w.channels, w.sampleRate, w.bitsPerSample, w.durationMs) ==
      (("wav", 2, 44100, 16, 1000L)))
    val m0 = Multimodal.sniffAv(2L, mp4Bytes(timescale = 600, duration = 1800, v1 = false))
    assert((m0.format, m0.durationMs) == (("mp4", 3000L)))
    val m1 = Multimodal.sniffAv(3L, mp4Bytes(timescale = 1000, duration = 42000, v1 = true))
    assert((m1.format, m1.durationMs) == (("mp4", 42000L)))
    val g = Multimodal.sniffAv(4L, "definitely not audio".getBytes("UTF-8"))
    assert(g.format == "unknown" && g.durationMs == -1L)
    // fuzz: same no-throw contract as sniffMeta, including plausible prefixes
    val rnd = new scala.util.Random(7)
    for (n <- 0 to 200) {
      val bytes = Array.fill(n)(rnd.nextInt(256).toByte)
      assert(Multimodal.sniffAv(n.toLong, bytes).byteLen == n)
      val riff = Multimodal.sniffAv(n.toLong,
        "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("ASCII") ++ bytes)
      assert(riff.format == "wav")
      // 'ftyp' at offset 4 routes into the MP4 box walk — the one
      // plausible-prefix family the fuzz gate previously never hit
      val ftyp = Multimodal.sniffAv(n.toLong,
        Array.fill(4)(0: Byte) ++ "ftyp".getBytes("ASCII") ++ bytes)
      assert(ftyp.byteLen == 8 + n)
    }
    // directed overflow probes: u32 size/length fields at or past 2^31
    // must not wrap the cursor negative (the r11-advised Int-truncation
    // bugs). Box size 0xFFFFFFFF right after a valid ftyp; WAV chunk
    // length 2^31.
    val hugeBox = Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("ASCII") ++
      Array.fill(4)(0: Byte) ++
      Array(0xFF, 0xFF, 0xFF, 0xFF).map(_.toByte) ++ "free".getBytes("ASCII") ++
      Array.fill(16)(0: Byte)
    assert(Multimodal.sniffAv(90L, hugeBox).format == "mp4")
    val hugeChunk = "RIFF".getBytes("ASCII") ++ Array.fill(4)(0: Byte) ++
      "WAVEjunk".getBytes("ASCII") ++ Array(0x00, 0x00, 0x00, 0x80).map(_.toByte) ++
      Array.fill(16)(0: Byte)
    assert(Multimodal.sniffAv(91L, hugeChunk).format == "wav")
  }

  test("decodePixels decodes a real PNG's pixels through the mapPartitions plumbing") {
    // Encode REAL images with the JDK's own writers, then decode them
    // back through the partition-wise plumbing: geometry, channels, and
    // a raster-derived stat (mean luma of a constant-gray image is that
    // gray) prove the pixels were truly decoded, not header-sniffed.
    def encoded(fmt: String, w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JDK writer for $fmt")
      out.toByteArray
    }
    val blobs = Seq(
      (1L, encoded("png", 80, 40, 100)),
      (2L, encoded("gif", 16, 16, 200)),
      (3L, encoded("bmp", 33, 7, 0)),
      (4L, encoded("jpg", 64, 64, 128)),
      (5L, "not an image at all".getBytes("UTF-8")))
      .toDF("id", "payload").repartition(2)
    val px = Multimodal.decodePixels(spark, blobs).collect().map(p => p.id -> p).toMap
    val p1 = px(1L)
    assert(p1.decoded && p1.width == 80 && p1.height == 40 && p1.channels == 3)
    assert(math.abs(p1.meanLuma - 100.0) < 1.0, s"png luma ${p1.meanLuma}")
    assert(px(2L).decoded && px(2L).width == 16 && math.abs(px(2L).meanLuma - 200.0) < 1.0)
    assert(px(3L).decoded && px(3L).width == 33 && px(3L).height == 7 && px(3L).meanLuma < 1.0)
    // JPEG is lossy: constant-gray survives within a few luma units
    assert(px(4L).decoded && px(4L).width == 64 && math.abs(px(4L).meanLuma - 128.0) < 4.0)
    val q = px(5L)
    assert(!q.decoded && q.width == -1 && q.meanLuma == -1.0, "garbage must quarantine")
    // the sniffers stay the fast path: the same real PNG's header parses
    assert(Multimodal.sniffMeta(1L, encoded("png", 80, 40, 100)).width == 80)
    // quarantine contract under fuzz, same as the sniffers
    val rnd = new scala.util.Random(11)
    for (n <- 0 to 40) {
      val junk = Seq((n.toLong, Array.fill(n)(rnd.nextInt(256).toByte))).toDF("id", "payload")
      assert(!Multimodal.decodePixels(spark, junk).first().decoded)
    }
  }

  test("syntheticImages → decodePixels: EXACT deterministic luma/geometry (q206 gate)") {
    // The q206 fixture is lossless by construction (png/gif/bmp solid
    // gray), so the decoded raster stats are exactly predictable from
    // the id: width 16+id%16, height 8+id%8, meanLuma (id*37)%256.
    val ids = (0L until 30L).toDF("doc_id")
    val imgs = Multimodal.syntheticImages(spark, ids, "doc_id")
    assert(imgs.count() == 30)
    val px = Multimodal.decodePixels(spark, imgs.select(col("id"), col("payload")))
      .collect().map(p => p.id -> p).toMap
    (0L until 30L).foreach { id =>
      val p = px(id)
      assert(p.decoded, s"id $id not decoded")
      assert(p.width == 16 + (id % 16).toInt && p.height == 8 + (id % 8).toInt,
        s"id $id geometry ${p.width}x${p.height}")
      val expLuma = ((id * 37) % 256).toDouble
      assert(math.abs(p.meanLuma - expLuma) < 1e-6,
        s"id $id luma ${p.meanLuma}, expected $expLuma")
    }
    // the q206 aggregate itself: 3 format rows, everything decoded
    val stats = graft.Queries.pixelStats(spark, sf0001).collect()
    assert(stats.length == 3)
    assert(stats.map(_.getString(0)).sorted.toSeq == Seq("bmp", "gif", "png"))
    stats.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"format ${r.getString(0)}: ${r.getLong(1) - r.getLong(2)} rows failed decode")
    }
  }

  test("decodeAvMeta streams partition-wise like the image path") {
    val blobs = Seq(
      (1L, wavBytes(1, 8000, 8, 8000)), (2L, mp4Bytes(90000, 90000, v1 = false)),
      (3L, "noise".getBytes("UTF-8")))
      .toDF("id", "payload").repartition(2)
    val metas = Multimodal.decodeAvMeta(spark, blobs).collect().map(m => m.id -> m).toMap
    assert(metas(1L).durationMs == 1000L && metas(1L).sampleRate == 8000)
    assert(metas(2L).format == "mp4" && metas(2L).durationMs == 1000L)
    assert(metas(3L).format == "unknown")
  }

  test("decodeSniffedMeta streams partition-wise over a DataFrame of blobs") {
    val blobs = Seq(
      (1L, jpegBytes(256, 128, 3)), (2L, pngBytes(32, 64, 2)),
      (3L, gifBytes(10, 20)), (4L, "plain text".getBytes("UTF-8")))
      .toDF("id", "payload").repartition(3)
    val metas = Multimodal.decodeSniffedMeta(spark, blobs)
      .collect().map(m => m.id -> m).toMap
    assert(metas(1L).width == 256 && metas(1L).height == 128)
    assert(metas(2L).width == 32 && metas(2L).height == 64 && metas(2L).channels == 3)
    assert(metas(3L).width == 10 && metas(3L).height == 20)
    assert(metas(4L).format == "unknown" && metas(4L).width == -1)
  }
}
