package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata.
  *
  * The Spark-side architecture is real and tested — schema, partition-wise
  * batch decode shape, deterministic outputs. Decode happens at three
  * depths: container-header metadata for 11 formats via pure byte
  * arithmetic ([[sniffMeta]]/[[sniffAv]] — always real), full PIXEL
  * decode for the formats whose readers ship in the JDK
  * ([[decodePixels]] via `javax.imageio`: PNG/GIF/BMP/JPEG/WBMP — real
  * rasters, no external library), and a deterministic STUB
  * ([[fakeDecode]]) marking the seam where codecs the sandbox lacks
  * (WebP/TIFF pixels, audio/video samples) would plug in — JNI/ffmpeg in
  * Scala or `mapInPandas` + PIL in Python. All three share the same
  * `mapPartitions` plumbing — per-partition decoder init, batched
  * iteration, typed output — which is the shape that scales: decode is
  * embarrassingly parallel, no shuffle, and the binary column never
  * leaves the executor that read it.
  */
object Multimodal {

  case class MediaMeta(id: Long, byteLen: Int, width: Int, height: Int,
                       channels: Int, format: String)

  /** Attach a binary payload column (UTF-8 bytes of a string column here;
    * in production this is the raw image/audio blob column from parquet).
    */
  def withBinaryPayload(df: DataFrame, idCol: String, srcCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(srcCol).cast("binary").as("payload"))

  /** STUB decoder — deterministic fake metadata derived from the bytes,
    * marking the seam for codecs the sandbox lacks (WebP/TIFF pixels,
    * audio/video samples — ffmpeg JNI territory). For JDK-supported
    * image formats the REAL pixel path is [[decodePixels]]; for
    * container metadata the real path is [[sniffMeta]]/[[sniffAv]].
    */
  private[multimodal] def fakeDecode(id: Long, bytes: Array[Byte]): MediaMeta = {
    val len = bytes.length
    val w = 64 + (len % 512)
    val h = 64 + ((len / 7) % 512)
    val fmt = if (len % 2 == 0) "png" else "jpeg"
    MediaMeta(id, len, w, h, 3, fmt)
  }

  /** Partition-wise batch decode: one decoder per partition, streamed
    * iterator (never materializes the partition), typed Dataset out.
    */
  def decodeMeta(spark: SparkSession, binDf: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    binDf.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // production: initialize the native decoder once per partition here
        it.map { case (id, bytes) => fakeDecode(id, bytes) }
      }
  }

  case class PixelMeta(id: Long, byteLen: Int, width: Int, height: Int,
                       channels: Int, decoded: Boolean, meanLuma: Double)

  /** REAL pixel decode via `javax.imageio` — no external codec library:
    * the JDK ships PNG/GIF/BMP/JPEG/WBMP readers, so for those formats
    * the raster itself (not just container headers) is decodable inside
    * the sandbox. This closes the decode seam [[decodeMeta]] documents:
    * [[fakeDecode]] remains only for formats the JRE lacks (WebP, TIFF
    * without the TwelveMonkeys plugin, all audio/video — their METADATA
    * is still real via [[sniffMeta]]/[[sniffAv]]).
    *
    * Scale shape is identical to the stub path: per-partition decode,
    * scan-local, no shuffle; `ImageIO.setUseCache(false)` once per
    * partition so executors never spill decode scratch to temp files.
    * `meanLuma` (Rec. 601 luma, averaged over a ≤64×64 sample grid so a
    * gigapixel blob costs bounded work) is computed from the actual
    * decoded raster — the kind of content statistic a real filter
    * pipeline derives, and proof the pixels were truly decoded.
    * Malformed/unsupported payloads quarantine as `decoded=false` with
    * -1 geometry — never throw (same contract as the sniffers).
    */
  def decodePixels(spark: SparkSession, binDf: DataFrame): Dataset[PixelMeta] = {
    import spark.implicits._
    binDf.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            if (img == null)
              PixelMeta(id, bytes.length, -1, -1, -1, decoded = false, -1.0)
            else {
              val (w, h) = (img.getWidth, img.getHeight)
              val (sx, sy) = (math.max(1, w / 64), math.max(1, h / 64))
              var sum = 0.0; var n = 0; var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sum += 0.299 * ((rgb >> 16) & 0xFF) +
                    0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
                  n += 1; x += sx
                }
                y += sy
              }
              PixelMeta(id, bytes.length, w, h,
                img.getColorModel.getNumComponents, decoded = true,
                if (n > 0) sum / n else -1.0)
            }
          } catch { case scala.util.control.NonFatal(_) =>
            PixelMeta(id, bytes.length, -1, -1, -1, decoded = false, -1.0)
          }
        }
      }
  }

  /** REAL container-header metadata decode — no codec library needed.
    * JPEG/PNG/GIF dimensions and channel counts live in the container
    * headers as plain big/little-endian integers, so format sniffing and
    * geometry extraction are pure byte arithmetic:
    *
    *  - PNG: 8-byte signature, then the IHDR chunk is mandated first —
    *    width/height are the two big-endian u32s at offsets 16/20, and
    *    the color type at 25 determines channels (spec: RFC 2083 §4.1.1).
    *  - GIF: "GIF87a"/"GIF89a", logical-screen width/height as
    *    little-endian u16 at offsets 6/8.
    *  - JPEG: walk the FF-marker stream from SOI; any frame-header
    *    marker SOFn (0xC0–0xCF minus DHT 0xC4 / JPG 0xC8 / DAC 0xCC)
    *    carries u16 height/width at segment offsets 3/5 and the
    *    component count (channels) at 7. Standalone markers (RSTn, TEM)
    *    have no length field; every other segment starts with its u16
    *    length, so the walk is O(#segments), not O(bytes).
    *
    * Defensive by construction: any malformed/truncated/garbage payload
    * yields (-1, -1, -1, format-or-"unknown") instead of throwing — at
    * 100 TB a poison blob must quarantine (filterable `width = -1`), not
    * kill the stage. Fuzz-gated in MultimodalSpec (random byte arrays
    * never throw). Pixel DECODE (the DCT/inflate) remains behind the
    * [[decodeMeta]] seam — that part is genuinely codec-bound; metadata
    * extraction is not, and this replaces the stub for it.
    */
  private[multimodal] def sniffMeta(id: Long, b: Array[Byte]): MediaMeta = {
    @inline def u8(i: Int): Int = b(i) & 0xFF
    @inline def u16be(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    @inline def fourccAt(i: Int): String = new String(b, i, 4, "ASCII")
    val len = b.length
    if (len >= 26 && u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4E &&
        u8(3) == 0x47 && u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A &&
        u8(7) == 0x0A && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val w = (u8(16) << 24) | (u8(17) << 16) | (u8(18) << 8) | u8(19)
      val h = (u8(20) << 24) | (u8(21) << 16) | (u8(22) << 8) | u8(23)
      val channels = u8(25) match {
        case 0 => 1 case 2 => 3 case 3 => 1 case 4 => 2 case 6 => 4 case _ => -1
      }
      if (w > 0 && h > 0) MediaMeta(id, len, w, h, channels, "png")
      else MediaMeta(id, len, -1, -1, -1, "png")
    } else if (len >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      MediaMeta(id, len, u8(6) | (u8(7) << 8), u8(8) | (u8(9) << 8), 3, "gif")
    } else if (len >= 30 && b(0) == 'B' && b(1) == 'M') {
      // BMP: BITMAPINFOHEADER geometry — s32le width @18, s32le height
      // @22 (negative = top-down; magnitude is the geometry), u16le
      // bits-per-pixel @28
      def s32le(i: Int): Int =
        u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      val w = s32le(18); val h = math.abs(s32le(22))
      val bpp = u8(28) | (u8(29) << 8)
      val channels = if (bpp >= 8) bpp / 8 else 1
      if (w > 0 && h > 0) MediaMeta(id, len, w, h, channels, "bmp")
      else MediaMeta(id, len, -1, -1, -1, "bmp")
    } else if (len >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      // WebP: first chunk after the RIFF header decides the variant.
      // VP8 (lossy): 3-byte frame tag, 0x9D012A sync, then 14-bit u16le
      // width/height. VP8L (lossless): 0x2F signature, then 14+14 bits
      // of width-1/height-1 packed little-endian. VP8X (extended):
      // flags byte (bit 4 = alpha), 3 reserved, then u24le canvas
      // width-1 / height-1.
      @inline def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      @inline def u24le(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)
      if (len >= 20) {
        val cc = fourccAt(12)
        if (cc == "VP8 " && len >= 30 && u8(23) == 0x9D && u8(24) == 0x01 && u8(25) == 0x2A)
          MediaMeta(id, len, u16le(26) & 0x3FFF, u16le(28) & 0x3FFF, 3, "webp")
        else if (cc == "VP8L" && len >= 25 && u8(20) == 0x2F) {
          val bits = u24le(21).toLong | (u8(24).toLong << 24)
          MediaMeta(id, len, ((bits & 0x3FFF) + 1).toInt,
            (((bits >> 14) & 0x3FFF) + 1).toInt, -1, "webp")
        } else if (cc == "VP8X" && len >= 30) {
          val channels = if ((u8(20) & 0x10) != 0) 4 else 3
          MediaMeta(id, len, u24le(24) + 1, u24le(27) + 1, channels, "webp")
        } else MediaMeta(id, len, -1, -1, -1, "webp")
      } else MediaMeta(id, len, -1, -1, -1, "webp")
    } else if (len >= 8 &&
        ((b(0) == 'I' && b(1) == 'I' && u8(2) == 42 && u8(3) == 0) ||
         (b(0) == 'M' && b(1) == 'M' && u8(2) == 0 && u8(3) == 42))) {
      // TIFF: endian-tagged IFD walk — ImageWidth (0x0100) /
      // ImageLength (0x0101) / SamplesPerPixel (0x0115) entries; SHORT
      // and LONG values of count 1 inline in the 4-byte value field
      // (SHORT in the leading 2 bytes under either endian's layout).
      val le = b(0) == 'I'
      @inline def rd16(i: Int): Int =
        if (le) u8(i) | (u8(i + 1) << 8) else (u8(i) << 8) | u8(i + 1)
      @inline def rd32(i: Int): Long =
        if (le) rd16(i).toLong | (rd16(i + 2).toLong << 16)
        else (rd16(i).toLong << 16) | rd16(i + 2).toLong
      val ifd = rd32(4)
      if (ifd < 8 || ifd + 2 > len) MediaMeta(id, len, -1, -1, -1, "tiff")
      else {
        val n = rd16(ifd.toInt)
        var w = -1; var h = -1; var spp = -1
        var e = 0
        while (e < n && ifd.toInt + 2 + 12 * (e + 1) <= len) {
          val off = ifd.toInt + 2 + 12 * e
          val tag = rd16(off); val typ = rd16(off + 2); val cnt = rd32(off + 4)
          if (cnt == 1L && (typ == 3 || typ == 4)) {
            val v = (if (typ == 3) rd16(off + 8) else rd32(off + 8)).toInt
            if (tag == 0x0100) w = v
            else if (tag == 0x0101) h = v
            else if (tag == 0x0115) spp = v
          }
          e += 1
        }
        if (w > 0 && h > 0) MediaMeta(id, len, w, h, if (spp > 0) spp else 1, "tiff")
        else MediaMeta(id, len, -1, -1, -1, "tiff")
      }
    } else if (len >= 2 && u8(0) == 0xFF && u8(1) == 0xD8) {
      var i = 2
      var out: MediaMeta = null
      while (out == null && i + 1 < len) {
        if (u8(i) != 0xFF) i += 1 // fill bytes / resync
        else {
          val m = u8(i + 1)
          if (m == 0xFF) i += 1 // marker padding
          else if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i += 2 // standalone
          else if (m == 0xD9 || m == 0xDA) { // EOI / SOS before any SOF
            out = MediaMeta(id, len, -1, -1, -1, "jpeg")
          } else if (i + 3 < len) {
            val segLen = u16be(i + 2)
            val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
            if (isSof && segLen >= 8 && i + 9 < len) {
              out = MediaMeta(id, len, u16be(i + 7), u16be(i + 5), u8(i + 9), "jpeg")
            } else if (segLen < 2) { // malformed length: cannot advance
              out = MediaMeta(id, len, -1, -1, -1, "jpeg")
            } else i += 2 + segLen
          } else out = MediaMeta(id, len, -1, -1, -1, "jpeg")
        }
      }
      if (out == null) MediaMeta(id, len, -1, -1, -1, "jpeg") else out
    } else MediaMeta(id, len, -1, -1, -1, "unknown")
  }

  /** [[sniffMeta]] with the same partition-wise streamed shape as
    * [[decodeMeta]] — the production metadata path for real media blobs.
    */
  def decodeSniffedMeta(spark: SparkSession, binDf: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    binDf.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => sniffMeta(id, bytes) })
  }

  /** Audio/video stream metadata, from container headers like
    * [[sniffMeta]] — sample geometry for audio, timescale/duration for
    * video. `durationMs = -1` when the container carries no duration.
    */
  case class AvMeta(id: Long, byteLen: Int, format: String, channels: Int,
                    sampleRate: Int, bitsPerSample: Int, durationMs: Long)

  private def avUnknown(id: Long, len: Int, fmt: String = "unknown") =
    AvMeta(id, len, fmt, -1, -1, -1, -1L)

  /** 11-bit MPEG audio frame sync with a valid (non-reserved) layer. */
  @inline private def isMp3Sync(b: Array[Byte], i: Int): Boolean =
    i + 1 < b.length && (b(i) & 0xFF) == 0xFF && (b(i + 1) & 0xE0) == 0xE0 &&
      ((b(i + 1) >> 1) & 0x3) != 0

  /** WAV (RIFF) + MP4 (ISO BMFF) metadata — pure byte arithmetic:
    *
    *  - WAV: "RIFF"<u32le size>"WAVE", then a chunk walk; the "fmt "
    *    chunk carries channels/sampleRate/bitsPerSample (little-endian),
    *    the "data" chunk length + that geometry gives the duration.
    *  - MP4: a box walk ([u32be size][4cc], size 1 = u64 largesize) to
    *    `moov`, then its child `mvhd` — timescale and duration at
    *    version-dependent offsets (v0: u32 each after 4+4+4 header
    *    fields; v1: u64 times, u32 timescale).
    *
    * Same quarantine contract as [[sniffMeta]]: malformed input yields
    * -1 fields, never an exception (shared fuzz gate in the spec).
    */
  private[multimodal] def sniffAv(id: Long, b: Array[Byte]): AvMeta = {
    @inline def u8(i: Int): Int = b(i) & 0xFF
    @inline def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def u32le(i: Int): Long = u16le(i).toLong | (u16le(i + 2).toLong << 16)
    @inline def u32be(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    @inline def fourcc(i: Int): String = new String(b, i, 4, "ASCII")
    val len = b.length
    if (len >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      var i = 12
      var channels, rate, bits = -1
      var dataLen = -1L
      while (i + 8 <= len && (channels < 0 || dataLen < 0)) {
        val ck = fourcc(i); val ckLen = u32le(i + 4)
        if (ck == "fmt " && ckLen >= 16 && i + 8 + 16 <= len) {
          channels = u16le(i + 10); rate = u32le(i + 12).toInt; bits = u16le(i + 22)
        } else if (ck == "data") dataLen = ckLen
        // chunks are word-aligned: odd lengths carry a pad byte. Guard
        // against Int overflow of the cursor advance (ckLen near len on
        // a GiB-scale blob would wrap i negative → out-of-bounds read)
        if (ckLen < 0 || ckLen > len - i - 8) i = len
        else i += 8 + ckLen.toInt + (ckLen.toInt & 1)
      }
      val durMs =
        if (channels > 0 && rate > 0 && bits > 0 && dataLen >= 0)
          dataLen * 1000L / (rate.toLong * channels * (bits / 8).max(1))
        else -1L
      AvMeta(id, len, "wav", channels, rate, bits, durMs)
    } else if (len >= 22 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
      // FLAC: the STREAMINFO block is mandated first (4-byte magic,
      // 4-byte block header, 34-byte payload). Sample rate is 20 bits at
      // payload offset 10, then 3 bits channels-1, 5 bits bps-1, 36 bits
      // total samples — duration = samples / rate.
      val rate = (u8(18) << 12) | (u8(19) << 4) | (u8(20) >> 4)
      val channels = ((u8(20) >> 1) & 0x7) + 1
      val bits = (((u8(20) & 1) << 4) | (u8(21) >> 4)) + 1
      val totalSamples =
        if (len >= 26) ((u8(21) & 0x0F).toLong << 32) | u32be(22) else -1L
      val durMs =
        if (rate > 0 && totalSamples > 0) totalSamples * 1000L / rate else -1L
      if (rate > 0) AvMeta(id, len, "flac", channels, rate, bits, durMs)
      else avUnknown(id, len, "flac")
    } else if (len >= 4 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') {
      // Ogg container: stream geometry lives in the codec's own header
      // packet (Vorbis/Opus), not the container — format detection only.
      avUnknown(id, len, "ogg")
    } else if (len >= 4 && (isMp3Sync(b, 0) ||
        (b(0) == 'I' && b(1) == 'D' && b(2) == '3'))) {
      // MP3: skip an ID3v2 tag if present (syncsafe 28-bit size at
      // offset 6), then parse the first MPEG audio frame header:
      // version/layer bits select the sample-rate table, channel mode
      // bits 6-7 of byte 3 (3 = mono). Duration needs the whole frame
      // stream (VBR), so it stays -1 here.
      val start =
        if (b(0) == 'I') {
          if (len >= 10)
            10 + ((u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9))
          else len
        } else 0
      if (start + 4 <= len && isMp3Sync(b, start)) {
        val verBits = (u8(start + 1) >> 3) & 0x3   // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        val rateIdx = (u8(start + 2) >> 2) & 0x3
        val base = Array(44100, 48000, 32000)
        val rate =
          if (rateIdx == 3) -1
          else verBits match {
            case 3 => base(rateIdx)
            case 2 => base(rateIdx) / 2
            case 0 => base(rateIdx) / 4
            case _ => -1
          }
        val channels = if (((u8(start + 3) >> 6) & 0x3) == 3) 1 else 2
        if (rate > 0) AvMeta(id, len, "mp3", channels, rate, -1, -1L)
        else avUnknown(id, len, "mp3")
      } else avUnknown(id, len, "mp3")
    } else if (len >= 12 && fourcc(4) == "ftyp") {
      // top-level box walk to moov, then child walk to mvhd
      def findBox(name: String, from: Int, to: Int): Int = {
        var i = from
        while (i + 8 <= to) {
          val size = u32be(i)
          if (fourcc(i + 4) == name) return i
          if (size < 8) return -1 // size 0/1 (to-eof / largesize): bail conservatively
          // a u32 size field can reach 2^32-1: naive `i += size.toInt`
          // wraps negative past 2^31 and the next u32be(i) throws. A box
          // claiming more bytes than remain also means no further
          // sibling can start inside the window — bail, don't advance
          if (size > to - i) return -1
          i += size.toInt
        }
        -1
      }
      val moov = findBox("moov", 0, len)
      if (moov < 0) avUnknown(id, len, "mp4")
      else {
        val moovEnd = math.min(len.toLong, moov + u32be(moov)).toInt
        val mvhd = findBox("mvhd", moov + 8, moovEnd)
        if (mvhd < 0 || mvhd + 12 > len) avUnknown(id, len, "mp4")
        else {
          val ver = u8(mvhd + 8)
          val (timescale, duration) =
            if (ver == 1 && mvhd + 40 <= len)
              (u32be(mvhd + 28),
                (u32be(mvhd + 32) << 32) | u32be(mvhd + 36))
            else if (ver == 0 && mvhd + 28 <= len)
              (u32be(mvhd + 20), u32be(mvhd + 24))
            else (-1L, -1L)
          val durMs = if (timescale > 0 && duration >= 0) duration * 1000L / timescale else -1L
          AvMeta(id, len, "mp4", -1, -1, -1, durMs)
        }
      }
    } else avUnknown(id, len)
  }

  /** [[sniffAv]] with the partition-wise streamed decode shape. */
  def decodeAvMeta(spark: SparkSession, binDf: DataFrame): Dataset[AvMeta] = {
    import spark.implicits._
    binDf.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => sniffAv(id, bytes) })
  }

  /** Columnar metadata variant (no mapPartitions): byte length and the same
    * deterministic derivations as pure expressions — stays in codegen and
    * is oracle-checkable. Production keeps cheap fields columnar like this
    * and reserves the decode path for fields that need the codec.
    */
  def metaColumns(binDf: DataFrame): DataFrame =
    binDf.select(
      col("id"),
      octet_length(col("payload")).cast("int").as("byte_len"),
      (lit(64) + octet_length(col("payload")) % 512).cast("int").as("width"),
      (lit(64) + floor(octet_length(col("payload")) / 7).cast("int") % 512).cast("int").as("height"),
      when(octet_length(col("payload")) % 2 === 0, "png").otherwise("jpeg").as("format"))

  case class MediaFeatures(id: Long, embedding: Array[Float])

  /** Feature extraction over the binary payload: a normalized byte-value
    * histogram — NOT a stub; a real, codec-free content feature (the same
    * shape a CLIP/audio embedding would have). Output column is named
    * `embedding` so it feeds [[graft.operators.Similarity]] directly:
    * binary → features → dedup/ANN is the full multimodal pipeline loop.
    * Same partition-wise seam as [[decodeMeta]]: swap the histogram for a
    * model forward pass without touching the plumbing.
    */
  def byteHistogram(spark: SparkSession, binDf: DataFrame, bins: Int = 16): Dataset[MediaFeatures] = {
    import spark.implicits._
    binDf.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // production: load the feature model once per partition here
        it.map { case (id, bytes) =>
          val h = new Array[Float](bins)
          var i = 0
          while (i < bytes.length) {
            h(((bytes(i) & 0xFF) * bins) / 256) += 1f
            i += 1
          }
          val n = math.max(bytes.length, 1).toFloat
          var j = 0
          while (j < bins) { h(j) /= n; j += 1 }
          MediaFeatures(id, h)
        }
      }
  }

  /** Deterministic raster fixtures, generated DISTRIBUTED — one encode
    * per row inside `mapPartitions`, the exact write shape of a real
    * image-ingest stage (swap the synthetic `BufferedImage` for bytes
    * read off object storage and nothing else changes). Formats
    * round-robin over the JDK-writable lossless codecs (png/gif/bmp) by
    * `id % 3`; each image is a solid gray w×h raster with
    * `w = 16 + id%16`, `h = 8 + id%8`, gray level `(id*37) % 256` — so
    * the decoded geometry and Rec.601 meanLuma are EXACTLY predictable
    * (luma of gray g is g: 0.299g+0.587g+0.114g), which is what the
    * q206 pixel-stats spec gates on. Scan-local, no shuffle; payload
    * size is bounded (≤31×15 px), so the fixture scales linearly with
    * the corpus like any per-row transform.
    */
  def syntheticImages(spark: SparkSession, docs: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val fmts = Array("png", "gif", "bmp")
        it.map { id =>
          val fmt = fmts((id % 3).toInt)
          val w = 16 + (id % 16).toInt
          val h = 8 + (id % 8).toInt
          val g = ((id * 37) % 256).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, fmt, out)
          (id, fmt, out.toByteArray)
        }
      }.toDF("id", "fmt", "payload")
  }
}
