package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque binary
  * columns with typed metadata, batched feature extraction, and frame
  * sampling. (Beyond the reference repo — required by the engine brief
  * for LLM data pipelines.)
  *
  * The Spark-side plumbing here — schema, batch shape, partition-wise
  * processing, deterministic outputs — is real and tested. The actual
  * byte decoding is STUBBED (`fakeDecode`): this container ships no
  * image/audio codecs, so the stub derives deterministic pseudo
  * metadata/features from the bytes themselves. Swapping in a real
  * decoder (javacv, a JNI codec, or a Python worker via a Pandas UDF
  * on PySpark) only replaces the function body — every plan shape
  * stays identical.
  */
object Media {

  /** Typed metadata carried alongside every media blob. */
  val metadataSchema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("n_bytes", LongType, nullable = false)))

  /** Real container-header parsing for the common image formats —
    * width/height live in the first bytes (PNG IHDR, GIF logical
    * screen, JPEG SOFn, BMP info header) and need no codec, so THIS
    * part of "decode" is genuinely implemented; only pixel decoding
    * stays stubbed. Pure function, runs executor-side.
    */
  def parseImageDims(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes == null) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (bytes.length >= 24 && u8(0) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
      Some(("png", be32(16), be32(20))) // signature(8) + len(4) + "IHDR"(4) + w + h
    else if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
      Some(("gif", le16(6), le16(8)))
    else if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M')
      // biHeight is SIGNED: negative means top-down row order, the
      // magnitude is still the pixel height
      Some(("bmp", le32(18), math.abs(le32(22))))
    else if (bytes.length >= 25 && bytes(0) == 'R' && bytes(1) == 'I' &&
             bytes(2) == 'F' && bytes(3) == 'F' && bytes(8) == 'W' &&
             bytes(9) == 'E' && bytes(10) == 'B' && bytes(11) == 'P') {
      // WebP (r18): the majority format of a modern web crawl. RIFF
      // container; dims live in the first payload chunk's header for
      // all three profiles — VP8 (lossy: 3-byte frame tag, 9D 01 2A
      // sync, 14-bit LE dims), VP8L (lossless: 0x2F signature, 14+14
      // bits packed LE, stored minus one), VP8X (extended: 24-bit LE
      // canvas dims minus one). DIMS-ONLY: the JDK ships no VP8
      // decoder, so pixel work (perceptual hashing) cannot include
      // webp — [[imageFormatProfile]] counts that hole per format
      // instead of letting it hide in "undecodable survives".
      val chunk = new String(bytes, 12, 4, java.nio.charset.StandardCharsets.US_ASCII)
      def le24(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)
      chunk match {
        case "VP8 " if bytes.length >= 30 &&
            u8(23) == 0x9D && u8(24) == 0x01 && u8(25) == 0x2A =>
          Some(("webp", le16(26) & 0x3FFF, le16(28) & 0x3FFF))
        case "VP8L" if bytes.length >= 25 && u8(20) == 0x2F =>
          val b = le32(21)
          Some(("webp", (b & 0x3FFF) + 1, ((b >> 14) & 0x3FFF) + 1))
        case "VP8X" if bytes.length >= 30 =>
          Some(("webp", le24(24) + 1, le24(27) + 1))
        case _ => None
      }
    }
    else if (bytes.length >= 16 && bytes(4) == 'f' && bytes(5) == 't' &&
             bytes(6) == 'y' && bytes(7) == 'p' && {
               def brandAt(i: Int) = new String(bytes, i, 4,
                 java.nio.charset.StandardCharsets.US_ASCII)
               def avifBrand(b: String) = b == "avif" || b == "avis"
               // major brand avif/avis, OR avif/avis among the
               // COMPATIBLE brands (ftyp layout: size(4) 'ftyp'(4)
               // major(4) minor(4) compat(4×n)) — real-world encoders
               // commonly stamp major 'mif1' with avif only in the
               // compatible list (ADVICE r19); scan stays inside both
               // the declared ftyp box and the buffer
               avifBrand(brandAt(8)) || {
                 val ftypEnd = math.min(math.max(be32(0), 0), bytes.length)
                 (16 to ftypEnd - 4 by 4).exists(i => avifBrand(brandAt(i)))
               }
             }) {
      // AVIF (r19): the other modern-crawl format beside WebP. ISO-BMFF
      // like MP4, so the same bounded Long walk with hostile-size
      // guards as [[parseMp4Meta]]: dims live in the item-property
      // chain meta (FullBox, children at +12) → iprp → ipco → ispe
      // (FullBox: 4 version/flags + width/height be32). SCOPE: the
      // FIRST ispe is taken as the primary item's — the dominant
      // encoder convention (alpha/thumbnail properties follow it), but
      // not a guarantee; files whose ipma associates properties
      // differently (e.g. an alpha item's ispe listed first) read that
      // item's dims instead. Full ipma item→property resolution is out
      // of scope here (ADVICE r19 — noted, affects only dim accuracy
      // on unconventional encoders, never survival decisions).
      // DIMS-ONLY like webp — no JDK AV1 decoder, so
      // [[imageFormatProfile]] counts the pixel-decode hole per format.
      def tag(i: Int) = new String(bytes, i, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      def be32L(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
        (u8(i + 2).toLong << 8) | u8(i + 3).toLong
      def be64(i: Int): Long = (be32L(i) << 32) | be32L(i + 4)
      def walk(from: Long, end: Long, want: String): Option[(Long, Long)] = {
        var i = from
        while (i + 8 <= end) {
          val size = be32L(i.toInt)
          val box = tag(i.toInt + 4)
          // size 1 = 64-bit extended size; size 0 = box runs to EOF;
          // realSize comparisons subtract so a near-Long.MaxValue
          // extended size cannot wrap an additive guard
          val realSize =
            if (size == 1L && i + 16 <= end) be64(i.toInt + 8)
            else if (size == 0L) end - i
            else size
          if (realSize < 8L || realSize > end - i) return None // corrupt
          if (box == want) return Some((i, realSize))
          i += realSize
        }
        None
      }
      val n = bytes.length.toLong
      for {
        (meta, metaSize) <- walk(0L, n, "meta") if metaSize >= 12L
        (iprp, iprpSize) <- walk(meta + 12L, meta + metaSize, "iprp")
        (ipco, ipcoSize) <- walk(iprp + 8L, iprp + iprpSize, "ipco")
        (ispe, ispeSize) <- walk(ipco + 8L, ipco + ipcoSize, "ispe")
        if ispeSize >= 20L && ispe + 20L <= n
        w = be32(ispe.toInt + 12) if w >= 0 // reject sign-wrapped dims
        h = be32(ispe.toInt + 16) if h >= 0
      } yield ("avif", w, h)
    }
    else if (bytes.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      // JPEG: walk marker segments to the first frame header (SOFn)
      var i = 2
      while (i + 9 < bytes.length) {
        if (u8(i) != 0xFF) return None
        // 0xFF fill bytes between segments are standard-legal padding:
        // skip the run, then the next non-0xFF byte is the marker
        while (i + 9 < bytes.length && u8(i + 1) == 0xFF) i += 1
        val marker = u8(i + 1)
        if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD9)) i += 2 // standalone
        else {
          if (marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC)
            return Some(("jpeg", be16(i + 7), be16(i + 5))) // SOFn: len(2) prec(1) h(2) w(2)
          i += 2 + be16(i + 2)
        }
      }
      None
    } else None
  }

  final case class ImageDims(format: String, width: Int, height: Int)
  private val dimsUdf = udf((b: Array[Byte]) =>
    parseImageDims(b).map { case (f, w, h) => ImageDims(f, w, h) }.orNull)

  /** Per-row container dims as columns (`format`, `width`, `height`,
    * null when unparseable) — the public face of [[parseImageDims]]
    * for profiling queries; one map-side byte walk, no decode.
    */
  def imageDims(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("__dims", dimsUdf(col(binCol)))
      .withColumn("format", col("__dims.format"))
      .withColumn("width", col("__dims.width"))
      .withColumn("height", col("__dims.height"))
      .drop("__dims")

  /** EXIF orientation tag (1–8) from a JPEG's APP1 segment; 1
    * (upright) for non-JPEG bytes, absent/truncated/unparseable EXIF,
    * or out-of-range values — never a throw (the same hostile-input
    * posture as every byte walker here). The marker walk stops at SOS
    * (EXIF precedes the entropy-coded scan by spec); the TIFF IFD walk
    * honors both byte orders and stays inside the declared segment.
    * A phone photo saved rotated-with-EXIF carries its rotation ONLY
    * here — [[dHash]]/[[aHash]] normalize through it so tagged and
    * baked-in rotations of the same picture pair up.
    */
  def exifOrientation(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length < 4) return 1
    def u8(i: Int) = bytes(i) & 0xFF
    if (u8(0) != 0xFF || u8(1) != 0xD8) return 1
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    var i = 2
    while (i + 4 <= bytes.length) {
      if (u8(i) != 0xFF) return 1
      while (i + 4 <= bytes.length && u8(i + 1) == 0xFF) i += 1
      if (i + 4 > bytes.length) return 1
      val marker = u8(i + 1)
      if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD9)) i += 2
      else if (marker == 0xDA) return 1 // SOS — no EXIF past the scan
      else {
        val segLen = be16(i + 2)
        if (segLen < 2 || i + 2 + segLen > bytes.length) return 1
        if (marker == 0xE1 && segLen >= 2 + 6 + 8 &&
            u8(i + 4) == 'E' && u8(i + 5) == 'x' && u8(i + 6) == 'i' &&
            u8(i + 7) == 'f' && u8(i + 8) == 0 && u8(i + 9) == 0) {
          val t = i + 10 // TIFF header
          val end = i + 2 + segLen
          val le = u8(t) == 'I' && u8(t + 1) == 'I'
          val be = u8(t) == 'M' && u8(t + 1) == 'M'
          if (!le && !be) return 1
          def r16(j: Int) =
            if (le) u8(j) | (u8(j + 1) << 8) else (u8(j) << 8) | u8(j + 1)
          def r32(j: Int): Long =
            if (le) u8(j).toLong | (u8(j + 1).toLong << 8) |
              (u8(j + 2).toLong << 16) | (u8(j + 3).toLong << 24)
            else (u8(j).toLong << 24) | (u8(j + 1).toLong << 16) |
              (u8(j + 2).toLong << 8) | u8(j + 3).toLong
          if (r16(t + 2) != 42) return 1
          val ifdOff = r32(t + 4)
          if (ifdOff < 8L || ifdOff > Int.MaxValue.toLong ||
              t + ifdOff + 2L > end) return 1
          val ifd = t + ifdOff.toInt
          val count = r16(ifd)
          var e = 0
          while (e < count && ifd + 2 + e * 12 + 12 <= end) {
            val ep = ifd + 2 + e * 12
            // orientation: tag 0x0112, type SHORT (3), count 1; the
            // value sits inline in the 4-byte value field
            if (r16(ep) == 0x0112 && r16(ep + 2) == 3 && r32(ep + 4) == 1L) {
              val v = r16(ep + 8)
              return if (v >= 1 && v <= 8) v else 1
            }
            e += 1
          }
          return 1
        }
        i += 2 + segLen
      }
    }
    1
  }

  /** Real RIFF/WAVE container parsing: channel count, sample rate and
    * bit depth come from the `fmt ` chunk, duration from the `data`
    * chunk size over the declared byte rate — a chunk walk over raw
    * bytes, no codec involved (like [[parseImageDims]], this is the
    * honestly-implementable part of audio "decode"; sample decoding
    * stays stubbed). Chunks are word-aligned per the RIFF spec, so odd
    * sizes skip a pad byte.
    */
  def parseWavMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (bytes == null || bytes.length < 44) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int) = new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var channels, sampleRate, bits = -1
    var byteRate = -1L
    var dataSize = -1L
    var i = 12
    var walking = true
    while (walking && i + 8 <= bytes.length && (dataSize < 0 || byteRate < 0)) {
      val id = tag(i)
      val size = le32(i + 4)
      if (id == "fmt " && i + 8 + 16 <= bytes.length) {
        channels = le16(i + 10)
        sampleRate = le32(i + 12).toInt
        byteRate = le32(i + 16)
        bits = le16(i + 22)
      } else if (id == "data") dataSize = size
      // advance in Long: a hostile/corrupt 32-bit size would otherwise
      // wrap the Int arithmetic to zero (infinite loop) or negative
      // (index crash); a chunk claiming to run past the buffer ends the
      // walk — whatever was parsed so far decides the result
      val next = i.toLong + 8L + size + (size % 2) // word alignment pad
      if (next <= i || next > bytes.length.toLong) walking = false
      else i = next.toInt
    }
    if (channels <= 0 || byteRate <= 0 || dataSize < 0) None
    else Some((channels, sampleRate, bits, dataSize * 1000L / byteRate))
  }

  final case class AudioMeta(channels: Int, sample_rate: Int, bits: Int, duration_ms: Long)
  private val wavUdf = udf((b: Array[Byte]) =>
    parseWavMeta(b).map { case (c, r, s, d) => AudioMeta(c, r, s, d) }.orNull)

  // MPEG audio frame-header tables (ISO/IEC 11172-3 / 13818-3):
  // bitrate kbps by [version group][layer][index], sample rate by
  // [version][index]. Index 0 ("free") and 15 are invalid.
  private val mp3BitrateV1 = Map( // MPEG1: layer -> table
    1 -> Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    2 -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    3 -> Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
  private val mp3BitrateV2 = Map( // MPEG2/2.5
    1 -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    2 -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    3 -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
  private val mp3SampleRate = Map( // version bits -> rates
    3 -> Array(44100, 48000, 32000), // MPEG1
    2 -> Array(22050, 24000, 16000), // MPEG2
    0 -> Array(11025, 12000, 8000))  // MPEG2.5

  /** Real MPEG audio (MP3) frame-header parsing: version/layer,
    * bitrate, sample rate and channel mode from the first frame
    * header's bit fields, skipping a leading ID3v2 tag (syncsafe
    * size). Duration is the CBR estimate (audio bytes x 8 / bitrate) —
    * exact for constant-bitrate files, approximate for VBR (a full
    * VBR walk needs every frame header; out of scope like sample
    * decode). Output: (channels, sample_rate, bitrate_kbps, duration_ms).
    */
  def parseMp3Meta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (bytes == null || bytes.length < 4) return None
    def u8(i: Int) = bytes(i) & 0xFF
    // ID3v2 header: "ID3" ver(2) flags(1) syncsafe-size(4)
    val off =
      if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
        val size = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
        10L + size
      } else 0L
    if (off + 4 > bytes.length) return None
    val i = off.toInt
    if (u8(i) != 0xFF || (u8(i + 1) & 0xE0) != 0xE0) return None
    val versionBits = (u8(i + 1) >> 3) & 3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1 (1 reserved)
    val layerBits = (u8(i + 1) >> 1) & 3   // 1=III, 2=II, 3=I (0 reserved)
    if (versionBits == 1 || layerBits == 0) return None
    val layer = 4 - layerBits // 1=Layer I ... 3=Layer III
    val bitrateIdx = (u8(i + 2) >> 4) & 0xF
    val srIdx = (u8(i + 2) >> 2) & 3
    if (bitrateIdx == 0 || bitrateIdx == 15 || srIdx == 3) return None
    val table = if (versionBits == 3) mp3BitrateV1 else mp3BitrateV2
    val kbps = table(layer)(bitrateIdx)
    val sampleRate = mp3SampleRate(versionBits)(srIdx)
    val channels = if (((u8(i + 3) >> 6) & 3) == 3) 1 else 2
    val audioBytes = bytes.length.toLong - off
    Some((channels, sampleRate, kbps, audioBytes * 8L / kbps))
  }

  // reuses AudioMeta; the `bits` slot carries the bitrate in kbps for
  // MPEG audio (frame headers declare no PCM bit depth)
  private val mp3Udf = udf((b: Array[Byte]) =>
    parseMp3Meta(b).map { case (c, r, k, d) => AudioMeta(c, r, k, d) }.orNull)

  /** Real ISO-BMFF (MP4/MOV) container parsing: walk the top-level
    * boxes to `moov`, then its children to `mvhd`, and read timescale
    * + duration (version 0: 32-bit fields, version 1: 64-bit).
    * Duration_ms is exact from the header — no codec involved (frame
    * decode stays stubbed, like pixels and audio samples). The walk
    * advances in Long with the same hostile-size guards as the RIFF
    * walk. Output: duration_ms.
    */
  def parseMp4Meta(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length < 16) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
      (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int) = new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // an MP4 opens with an ftyp (or styp) box
    if (tag(4) != "ftyp" && tag(4) != "styp") return None
    // returns (box offset, real box size). realSize comparisons subtract
    // instead of adding: a 64-bit extended size near Long.MaxValue would
    // wrap `i + realSize` negative and bypass an additive guard
    def walk(from: Long, end: Long, want: String): Option[(Long, Long)] = {
      var i = from
      while (i + 8 <= end) {
        val size = be32(i.toInt)
        val box = tag(i.toInt + 4)
        // size 1 = 64-bit extended size; size 0 = box runs to EOF
        val realSize =
          if (size == 1L && i + 16 <= end) be64(i.toInt + 8)
          else if (size == 0L) end - i
          else size
        if (realSize < 8L || realSize > end - i) return None // corrupt
        if (box == want) return Some((i, realSize))
        i += realSize
      }
      None
    }
    val n = bytes.length.toLong
    walk(0L, n, "moov").flatMap { case (moov, moovSize) =>
      // the walk's realSize handles extended/to-EOF moov sizes too —
      // re-reading the raw 32-bit field would break those forms
      walk(moov + 8L, moov + moovSize, "mvhd").flatMap { case (mvhd, mvhdSize) =>
        val p = mvhd.toInt + 8
        val version = u8(p)
        // field reads stay INSIDE the declared mvhd box (a short box
        // followed by siblings must not parse the sibling's bytes):
        // v1 body = 4 ver/flags + 8+8 times + 4 timescale + 8 duration,
        // v0 body = 4 + 4+4 + 4 + 4
        val (timescale, duration) =
          if (version == 1 && mvhdSize >= 8 + 32 && mvhd + 8 + 32 <= n)
            (be32(p + 20), be64(p + 24))
          else if (version == 0 && mvhdSize >= 8 + 20 && mvhd + 8 + 20 <= n)
            (be32(p + 12), be32(p + 16))
          else return None
        // ISO-BMFF all-ones duration = "unknown": v0's 0xFFFFFFFF would
        // otherwise read as a huge positive value; v1's 64-bit all-ones
        // is -1 and also lands in the < 0 reject. Unknown falls back to
        // the deterministic stub, same as an unparseable box.
        val unknownDuration = version == 0 && duration == 0xFFFFFFFFL
        // duration*1000 must not overflow (v1 durations are 64-bit)
        if (unknownDuration || timescale <= 0L || duration < 0L ||
            duration > Long.MaxValue / 1000L) None
        else Some(duration * 1000L / timescale)
      }
    }
  }

  private val mp4Udf = udf((b: Array[Byte]) => parseMp4Meta(b))

  /** Attach a media metadata struct to a binary column. Image
    * width/height come from REAL header parsing ([[parseImageDims]]),
    * audio duration from REAL RIFF/WAVE or MPEG frame-header parsing
    * ([[parseWavMeta]], [[parseMp3Meta]]), video duration from REAL
    * ISO-BMFF mvhd parsing ([[parseMp4Meta]]) when the blob carries a
    * known magic number; unrecognized bytes fall back to the
    * deterministic stub pseudo-values (this container ships no codecs
    * to do better).
    */
  def withMetadata(df: DataFrame, binCol: String, mime: String,
                   metaCol: String = "media_meta"): DataFrame = {
    val bytes = col(binCol)
    val n = length(bytes).cast("long")
    val isImage = lit(mime).startsWith("image")
    val isAudio = lit(mime).startsWith("audio")
    val parsed = dimsUdf(bytes)
    val wav = wavUdf(bytes)
    val mp3 = mp3Udf(bytes)
    df.withColumn(metaCol, struct(
      lit(mime).as("mime"),
      when(isImage, coalesce(parsed.getField("width"),
        (pmod(n, lit(1024L)) + 1L).cast("int"))).otherwise(lit(null).cast("int")).as("width"),
      when(isImage, coalesce(parsed.getField("height"),
        (pmod(n, lit(768L)) + 1L).cast("int"))).otherwise(lit(null).cast("int")).as("height"),
      when(isAudio, coalesce(wav.getField("duration_ms"),
          mp3.getField("duration_ms"), n * 8L))
        .when(!isImage, coalesce(mp4Udf(bytes), n * 8L))
        .otherwise(lit(null).cast("long")).as("duration_ms"),
      n.as("n_bytes")))
  }

  /** Fixed-width feature vectors per blob, as a native codegen'd
    * expression ([[graft.plans.MediaFeaturesF]]) — the multimodal path
    * stays inside whole-stage codegen (no RDD scan node, no Row
    * boxing), and pruning/pushdown still reach the source. STUB
    * features: `dim` deterministic floats from a rolling byte hash. A
    * REAL encoder (model weights, codec init, batched inference) would
    * instead slot in here as a `mapInPandas`/`mapPartitions` stage
    * with this same (media_id, features) contract — only this one
    * stage changes shape; the rest of the pipeline plan is identical.
    */
  def extractFeatures(df: DataFrame, binCol: String, idCol: String,
                      dim: Int = 16): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      call_function("graft_media_features", col(binCol), lit(dim)).as("features"))

  /** Frame sampling plan for video blobs: emit `n` evenly spaced
    * frame offsets per row (a real impl decodes those frames; the
    * explode shape — one row per sampled frame — is the real part).
    */
  def sampleFrames(df: DataFrame, metaCol: String, n: Int): DataFrame =
    df.withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("frame_offset_ms",
        (col("frame_idx") * col(s"$metaCol.duration_ms") / lit(n)).cast("long"))

  /** REAL image resize (r19 — completes the brief's multimodal
    * plumbing set: decode / feature-extract / RESIZE / frame-sample):
    * decode with the JDK's own codecs, remap to exactly
    * `width`×`height` by EXPLICIT nearest-neighbor index arithmetic —
    * source pixel (x·w/ow, y·h/oh), integer floor, the same
    * deterministic-raster policy as [[grayGrid]] (never Graphics2D
    * scaling, whose interpolation is implementation detail) — and
    * re-encode as PNG (lossless, JDK-native). None for
    * null/undecodable bytes (the family's quarantine contract).
    * Orientation is NOT normalized: resize is a pixel op; pair it
    * with [[exifOrientation]]-aware consumers like the hashes do.
    */
  def resizeImage(bytes: Array[Byte], width: Int, height: Int,
                  algo: String = "nearest"): Option[Array[Byte]] = {
    require(width >= 1 && height >= 1,
      s"resize dims must be >= 1, got ${width}x$height")
    decodeImage(bytes).map(resizeWith(_, width, height, algo))
  }

  private def resizeWith(img: java.awt.image.BufferedImage,
                         width: Int, height: Int, algo: String): Array[Byte] =
    algo.toLowerCase match {
      case "nearest" => resizeDecoded(img, width, height)
      case "area"    => resizeDecodedArea(img, width, height)
      case other => throw new IllegalArgumentException(
        s"Unsupported resize algo: $other (nearest | area)")
    }

  private def resizeDecoded(img: java.awt.image.BufferedImage,
                            width: Int, height: Int): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val srcRow = new Array[Int](w)
    val dstRow = new Array[Int](width)
    var y = 0
    while (y < height) {
      val sy = (y.toLong * h / height).toInt
      img.getRGB(0, sy, w, 1, srcRow, 0, w)
      var x = 0
      while (x < width) {
        dstRow(x) = srcRow((x.toLong * w / width).toInt)
        x += 1
      }
      out.setRGB(0, y, width, 1, dstRow, 0, width)
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", baos)
    baos.toByteArray
  }

  /** Exact integer AREA-AVERAGE (box-filter) resize (r20 — the
    * anti-aliased training-thumbnail variant beside nearest-neighbor,
    * which by construction DROPS source pixels on downscale): target
    * cell (tx, ty) averages each RGB channel over the source block
    * [tx·w/tw, (tx+1)·w/tw) × [ty·h/th, (ty+1)·h/th) — the exact
    * [[grayGrid]] partition policy (every source pixel contributes to
    * exactly one cell when downscaling; degenerate blocks on upscale
    * widen to one pixel, which makes area == nearest there, spec-
    * pinned). Channel mean is rounded HALF-UP in pure integer
    * arithmetic — floor((2·sum + n) / (2·n)) — so a 2×-downscale of
    * known pixels is closed-form replayable (spec-pinned), never a
    * float-rounding coin flip. Deterministic raster, same contract as
    * [[resizeDecoded]]: never Graphics2D interpolation.
    */
  private def resizeDecodedArea(img: java.awt.image.BufferedImage,
                                width: Int, height: Int): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val srcRow = new Array[Int](w)
    val dstRow = new Array[Int](width)
    val sumR = new Array[Long](width)
    val sumG = new Array[Long](width)
    val sumB = new Array[Long](width)
    var ty = 0
    while (ty < height) {
      val y0 = (ty.toLong * h / height).toInt
      val y1 = math.max(y0 + 1, ((ty + 1).toLong * h / height).toInt)
      java.util.Arrays.fill(sumR, 0L)
      java.util.Arrays.fill(sumG, 0L)
      java.util.Arrays.fill(sumB, 0L)
      var sy = y0
      while (sy < y1) {
        img.getRGB(0, sy, w, 1, srcRow, 0, w)
        var tx = 0
        while (tx < width) {
          val x0 = (tx.toLong * w / width).toInt
          val x1 = math.max(x0 + 1, ((tx + 1).toLong * w / width).toInt)
          var sx = x0
          while (sx < x1) {
            val rgb = srcRow(sx)
            sumR(tx) += (rgb >> 16) & 0xFF
            sumG(tx) += (rgb >> 8) & 0xFF
            sumB(tx) += rgb & 0xFF
            sx += 1
          }
          tx += 1
        }
        sy += 1
      }
      var tx = 0
      while (tx < width) {
        val x0 = (tx.toLong * w / width).toInt
        val x1 = math.max(x0 + 1, ((tx + 1).toLong * w / width).toInt)
        val n = (x1 - x0).toLong * (y1 - y0)
        def mean(s: Long): Int = ((2 * s + n) / (2 * n)).toInt // half-up
        dstRow(tx) = (mean(sumR(tx)) << 16) | (mean(sumG(tx)) << 8) |
          mean(sumB(tx))
        tx += 1
      }
      out.setRGB(0, ty, width, 1, dstRow, 0, width)
      ty += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", baos)
    baos.toByteArray
  }

  /** Closed-form "resize longest side to `box`, preserve aspect"
    * output dims — pure integer arithmetic (floor division, never
    * below 1), so a planted-input oracle can replay the exact dims in
    * SQL. Square inputs (and ties) pin the WIDTH to the box.
    */
  def fitDims(w: Int, h: Int, box: Int): (Int, Int) = {
    require(w >= 1 && h >= 1 && box >= 1,
      s"fitDims needs positive dims, got ${w}x$h box=$box")
    if (w >= h) (box, math.max(1, (h.toLong * box / w).toInt))
    else (math.max(1, (w.toLong * box / h).toInt), box)
  }

  /** [[resizeImage]] to the [[fitDims]] box (the training-pipeline
    * "normalize longest side to S" shape).
    */
  def resizeImageFit(bytes: Array[Byte], box: Int,
                     algo: String = "nearest"): Option[Array[Byte]] =
    decodeImage(bytes).map { img =>
      val (ow, oh) = fitDims(img.getWidth, img.getHeight, box)
      resizeWith(img, ow, oh, algo)
    }

  private val resizeUdf = udf((b: Array[Byte], w: Int, h: Int, algo: String) =>
    resizeImage(b, w, h, algo))
  private val resizeFitUdf = udf((b: Array[Byte], box: Int, algo: String) =>
    resizeImageFit(b, box, algo))

  /** Column forms of [[resizeImage]] / [[resizeImageFit]] for
    * per-row target dims in registered queries.
    */
  def resizeCol(bytes: Column, width: Column, height: Column,
                algo: String = "nearest"): Column =
    resizeUdf(bytes, width.cast("int"), height.cast("int"), lit(algo))
  def resizeFitCol(bytes: Column, box: Column,
                   algo: String = "nearest"): Column =
    resizeFitUdf(bytes, box.cast("int"), lit(algo))

  /** Per-row exact resize: appends `resized` (PNG bytes, null for
    * undecodable inputs). One map-side decode+remap+encode pass, no
    * shuffle — pixels never leave the task. `algo` picks the raster
    * policy: `nearest` (index remap) or `area` (integer box-filter —
    * the anti-aliased downscale).
    */
  def resizeImages(df: DataFrame, binCol: String,
                   width: Int, height: Int,
                   algo: String = "nearest"): DataFrame =
    df.withColumn("resized",
      resizeUdf(col(binCol), lit(width), lit(height), lit(algo)))

  // ---- perceptual image hashing (REAL pixel decode, r17) --------------
  //
  // The JDK itself ships PNG/JPEG/GIF/BMP decoders (javax.imageio) —
  // no external jars — so pixel-level work on those formats is
  // honestly implementable in this container. dHash/aHash below are
  // the standard perceptual fingerprints (difference hash / average
  // hash over a grayscale box-filter downsample): 64-bit signatures
  // that survive re-encoding, quality changes, and small resizes,
  // which byte-level hashes by construction cannot.

  // never spool decode buffers to temp files on executors; reads are
  // pure in-memory. Initialized once per JVM, thread-safe (each
  // ImageIO.read call constructs its own reader).
  private lazy val imageIoReady: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  // ---- pluggable decoders (r20) --------------------------------------
  //
  // The honest scope note since r17: this sandbox's JVM ships no
  // VP8/AV1/MPEG decoders, so WebP/AVIF/MP3/AAC/OGG/FLAC are
  // dims/format-only and the coverage profiles COUNT that hole. A
  // cluster that does carry codec jars should not have to touch the
  // signature machinery to close it — these hooks are the
  // [[graft.sources.VersionedTable.CommitLocker]] precedent applied to
  // pixels/samples: ONE process-global extension point, consulted only
  // AFTER the JDK codecs decline, so default behavior is bit-identical
  // with no hook registered. Everything downstream (perceptual hashes,
  // near-dup screens, resize, the format profiles' n_decodable column)
  // flows through [[decodeImage]]/[[decodePcm]] and therefore picks up
  // hook coverage automatically — the profiles then REPORT the widened
  // coverage, spec-pinned.
  //
  // Contract: hooks must be DETERMINISTIC (same bytes → same pixels/
  // samples — the signatures they feed are stored in histories) and
  // thread-safe; exceptions are swallowed to the undecodable path (a
  // bad blob must never kill a task). Registration is per-JVM: on a
  // real cluster register from executor-side init (a SparkPlugin or
  // static initializer in the codec jar), not from a closure — the
  // hook function itself is never serialized.

  private val imageDecoderHook = new java.util.concurrent.atomic.AtomicReference[
    Array[Byte] => Option[java.awt.image.BufferedImage]](null)
  private val audioDecoderHook = new java.util.concurrent.atomic.AtomicReference[
    Array[Byte] => Option[(Float, Int, Array[Double])]](null)

  /** Register a fallback pixel decoder (tried only when the JDK's own
    * codecs return nothing). Pass the decoder's output as a
    * BufferedImage; zero-area results are discarded.
    */
  def setImageDecoder(hook: Array[Byte] => Option[java.awt.image.BufferedImage]): Unit =
    imageDecoderHook.set(hook)
  def clearImageDecoder(): Unit = imageDecoderHook.set(null)

  /** Register a fallback audio decoder (tried only when the JDK's own
    * readers decline): bytes → (sampleRateHz, channels, normalized
    * interleaved samples in [-1, 1]).
    */
  def setAudioDecoder(hook: Array[Byte] => Option[(Float, Int, Array[Double])]): Unit =
    audioDecoderHook.set(hook)
  def clearAudioDecoder(): Unit = audioDecoderHook.set(null)

  private val videoFrameDecoderHook = new java.util.concurrent.atomic.AtomicReference[
    (Array[Byte], Long) => Option[java.awt.image.BufferedImage]](null)

  /** Register a video FRAME decoder: (containerBytes, offsetMs) → the
    * decoded frame nearest that timestamp. Unlike the image/audio
    * hooks there is no JDK path to fall back FROM — the JVM ships no
    * video codecs at all — so with no hook registered every frame is
    * honestly undecodable ([[videoFrameSignatures]] emits null
    * signatures, never fabricated ones). The offsets handed to the
    * hook are keyframe-aligned ([[parseMp4Keyframes]]), so a real
    * decoder pays one cheap seek per frame, never a GOP decode.
    */
  def setVideoFrameDecoder(
      hook: (Array[Byte], Long) => Option[java.awt.image.BufferedImage]): Unit =
    videoFrameDecoderHook.set(hook)
  def clearVideoFrameDecoder(): Unit = videoFrameDecoderHook.set(null)

  /** Decode one video frame via the registered [[setVideoFrameDecoder]]
    * hook. None for null/empty input, no hook, a declining hook, a
    * throwing hook (a bad blob must never kill a task), or a zero-area
    * result — the same contract as [[decodeImage]].
    */
  def decodeVideoFrame(bytes: Array[Byte], offsetMs: Long)
      : Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.length == 0) return None
    Option(videoFrameDecoderHook.get()).flatMap { hook =>
      try hook(bytes, offsetMs).filter(img => img.getWidth > 0 && img.getHeight > 0)
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Decode an image blob with the JDK's own codecs (PNG/JPEG/GIF/BMP
    * and whatever else the JVM registers), falling back to a
    * registered [[setImageDecoder]] hook for formats the JDK lacks.
    * None for null, undecodable, or zero-area inputs. Executor-side,
    * headless-safe (image READING never touches the AWT toolkit).
    */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.length == 0) return None
    imageIoReady
    val jdk =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        .filter(img => img.getWidth > 0 && img.getHeight > 0)
      catch { case _: java.io.IOException | _: RuntimeException => None }
      // RuntimeException: the JDK decoders throw IllegalArgument /
      // ArrayIndexOutOfBounds on some corrupt streams — a bad blob must
      // score as "not an image", never kill the task
    jdk.orElse {
      Option(imageDecoderHook.get()).flatMap { hook =>
        try hook(bytes).filter(img => img.getWidth > 0 && img.getHeight > 0)
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Row-major `gw`×`gh` grid of mean luminances (BT.601 integer
    * weights) — a deterministic BOX-FILTER downsample computed
    * directly from the raster, NOT Graphics2D scaling (whose
    * interpolation is implementation-detail). Cell (cx, cy) averages
    * the pixel block [cx·w/gw, (cx+1)·w/gw) × [cy·h/gh, (cy+1)·h/gh)
    * (exact partition of the image when w ≥ gw and h ≥ gh; degenerate
    * tiny images widen each block to at least one pixel, so cells may
    * then overlap but never read out of bounds).
    */
  private[graft] def grayGrid(img: java.awt.image.BufferedImage,
                              gw: Int, gh: Int): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Double](gw * gh)
    val rowBuf = new Array[Int](w)
    var cy = 0
    while (cy < gh) {
      val y0 = cy * h / gh
      val y1 = math.max(y0 + 1, (cy + 1) * h / gh)
      var cx = 0
      while (cx < gw) {
        val x0 = cx * w / gw
        val x1 = math.max(x0 + 1, (cx + 1) * w / gw)
        var sum = 0L
        var y = y0
        while (y < y1) {
          img.getRGB(x0, y, x1 - x0, 1, rowBuf, 0, w)
          var i = 0
          val n = x1 - x0
          while (i < n) {
            val rgb = rowBuf(i)
            sum += 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
              114L * (rgb & 0xFF)
            i += 1
          }
          y += 1
        }
        out(cy * gw + cx) = sum.toDouble / (1000.0 * (x1 - x0) * (y1 - y0))
        cx += 1
      }
      cy += 1
    }
    out
  }

  /** [[grayGrid]] of the UPRIGHT image under an EXIF orientation
    * (r18): the grid is computed over virtual upright coordinates,
    * each pixel read index-mapped into the stored raster — a pure
    * coordinate transform, no re-decode, no interpolation, and
    * EXACTLY the grid a physically rotated/flipped copy would produce
    * (spec-pinned for all 8 orientations). Orientation 1 (and any
    * out-of-range value) is the plain [[grayGrid]], so untagged
    * images hash exactly as before. Non-identity orientations read
    * the full ARGB raster once (one extra W·H int buffer beside the
    * BufferedImage the decode already materialized).
    */
  private[graft] def grayGridOriented(img: java.awt.image.BufferedImage,
                                      gw: Int, gh: Int,
                                      orientation: Int): Array[Double] = {
    if (orientation <= 1 || orientation > 8) return grayGrid(img, gw, gh)
    val ws = img.getWidth
    val hs = img.getHeight
    val transposed = orientation >= 5
    val wu = if (transposed) hs else ws
    val hu = if (transposed) ws else hs
    val raster = img.getRGB(0, 0, ws, hs, null, 0, ws)
    // upright(x, y) = stored(xs, ys) per the EXIF display transforms
    @inline def storedIdx(x: Int, y: Int): Int = {
      val xs = orientation match {
        case 2 | 3 => ws - 1 - x
        case 4     => x
        case 5 | 6 => y
        case _     => ws - 1 - y // 7, 8
      }
      val ys = orientation match {
        case 2     => y
        case 3 | 4 => hs - 1 - y
        case 5     => x
        case 6 | 7 => hs - 1 - x
        case _     => x // 8
      }
      ys * ws + xs
    }
    val out = new Array[Double](gw * gh)
    var cy = 0
    while (cy < gh) {
      val y0 = cy * hu / gh
      val y1 = math.max(y0 + 1, (cy + 1) * hu / gh)
      var cx = 0
      while (cx < gw) {
        val x0 = cx * wu / gw
        val x1 = math.max(x0 + 1, (cx + 1) * wu / gw)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = raster(storedIdx(x, y))
            sum += 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
              114L * (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        out(cy * gw + cx) = sum.toDouble / (1000.0 * (x1 - x0) * (y1 - y0))
        cx += 1
      }
      cy += 1
    }
    out
  }

  /** 64-bit dHash: 9×8 luminance grid; bit (row·8 + i) is set when
    * cell (i, row) < cell (i+1, row) — each bit is a horizontal
    * brightness GRADIENT, so the signature is invariant to global
    * brightness/contrast shifts and robust to re-encoding artifacts
    * (a JPEG must perturb two adjacent cell MEANS past their
    * difference to flip a bit). EXIF-orientation-normalized (r18): the
    * grid is the UPRIGHT image's, so a rotation-tagged copy pairs at
    * hamming 0 with its baked-in-rotation original; orientation-1
    * images hash exactly as before. None for undecodable input. Known
    * limitation, inherent to dHash: flat/constant images all hash to
    * 0 and pair with each other — run exact dedup first.
    */
  def dHash(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).map(dHashImage(_, exifOrientation(bytes)))

  /** [[dHash]] over an already-decoded raster (r20 — shared by the
    * byte path and [[videoFrameSignatures]], so a hook-decoded video
    * frame lands in the SAME signature space as a still image).
    */
  private[graft] def dHashImage(img: java.awt.image.BufferedImage,
                                orient: Int): Long = {
    val g = grayGridOriented(img, 9, 8, orient)
    var sig = 0L
    var row = 0
    while (row < 8) {
      var i = 0
      while (i < 8) {
        if (g(row * 9 + i) < g(row * 9 + i + 1)) sig |= 1L << (row * 8 + i)
        i += 1
      }
      row += 1
    }
    sig
  }

  /** 64-bit aHash: 8×8 luminance grid; bit k set when cell k exceeds
    * the grid mean. Cruder than [[dHash]] (sensitive to global
    * brightness) but the standard second opinion. EXIF-normalized
    * like [[dHash]].
    */
  def aHash(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).map(aHashImage(_, exifOrientation(bytes)))

  private[graft] def aHashImage(img: java.awt.image.BufferedImage,
                                orient: Int): Long = {
    val g = grayGridOriented(img, 8, 8, orient)
    val mean = g.sum / 64.0
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (g(k) > mean) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** 64-bit pHash (DCT perceptual hash, r18 — the industry-standard
    * third opinion beside [[dHash]]/[[aHash]]): 32×32 upright
    * luminance grid → 2D DCT-II (StrictMath cosines, bit-identical
    * across platforms) → the top-left 8×8 low-frequency block, bit k
    * set when coefficient k exceeds the MEDIAN of the 64 (medianing
    * rather than meaning keeps the dominant DC term from swamping the
    * threshold — the standard construction). Low-frequency energy
    * survives blur, resize, and recompression better than dHash's
    * adjacent-cell gradients, at the cost of one small DCT per image.
    * EXIF-orientation-normalized like the other hashes.
    */
  // the 8×32 DCT basis depends on nothing per-image — built once, not
  // per row inside the UDF (256 StrictMath.cos calls per image otherwise)
  private val pHashCosTab = Array.tabulate(8, 32)((u, x) =>
    StrictMath.cos(StrictMath.PI * (2 * x + 1) * u / 64.0))

  def pHash(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).map(pHashImage(_, exifOrientation(bytes)))

  private[graft] def pHashImage(img: java.awt.image.BufferedImage,
                                orient: Int): Long = {
    val g = grayGridOriented(img, 32, 32, orient)
    // separable DCT-II, keeping only the first 8 frequencies per axis:
    // rows first (freq u × row y), then columns
    val cosTab = pHashCosTab
    val rows = Array.ofDim[Double](32, 8) // [y][u]
    var y = 0
    while (y < 32) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 32) { s += g(y * 32 + x) * cosTab(u)(x); x += 1 }
        rows(y)(u) = s
        u += 1
      }
      y += 1
    }
    val coef = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 32) { s += rows(yy)(u) * cosTab(v)(yy); yy += 1 }
        coef(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    val sorted = coef.clone().sorted
    val median = (sorted(31) + sorted(32)) / 2.0
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (coef(k) > median) sig |= 1L << k
      k += 1
    }
    sig
  }

  // decode is a library call over opaque bytes — not expressible as a
  // built-in Column; same precedent as the container parsers above
  private val dHashUdf = udf((b: Array[Byte]) => dHash(b))
  private val aHashUdf = udf((b: Array[Byte]) => aHash(b))
  private val pHashUdf = udf((b: Array[Byte]) => pHash(b))

  /** Per-row perceptual signature frame (idCol, __sig) — the image
    * analog of [[graft.llm.Dedup.simhashSignatures]]. One map-side
    * decode pass; undecodable blobs get a null signature (dropped
    * pre-banding by the pair stage).
    */
  def imageSignatures(df: DataFrame, idCol: String, binCol: String,
                      algo: String = "dhash"): DataFrame = {
    val hash = algo.toLowerCase match {
      case "dhash" => dHashUdf(col(binCol))
      case "ahash" => aHashUdf(col(binCol))
      case "phash" => pHashUdf(col(binCol))
      case other => throw new IllegalArgumentException(
        s"unknown perceptual hash '$other' (dhash | ahash | phash)")
    }
    df.select(col(idCol), hash.as("__sig"))
  }

  private val formatCoverageUdf = udf((b: Array[Byte]) => {
    val dims = parseImageDims(b)
    (dims.map(_._1).getOrElse("unknown"), dims.isDefined,
      decodeImage(b).isDefined)
  })

  /** Per-format image coverage profile (r18) — makes the
    * perceptual-dedup coverage hole VISIBLE instead of letting it
    * hide inside "undecodable survives": for each detected container
    * format (or "unknown"), the blob count, how many carry parseable
    * header dims, and how many the JVM can actually PIXEL-decode —
    * only those participate in [[dHash]]/[[aHash]] screening. On a
    * modern crawl the headline row is webp: dims parse (the r18 RIFF
    * extension) but the JDK ships no VP8 decoder, so n_decodable stays
    * 0 and a user SEES that the near-dup screen does not cover their
    * majority format. One map-side pass + one small hash aggregation.
    * Output: (format, n, n_dims, n_decodable).
    */
  def imageFormatProfile(df: DataFrame, binCol: String): DataFrame =
    df.select(formatCoverageUdf(col(binCol)).as("__c"))
      .select(col("__c._1").as("format"),
        col("__c._2").as("__has_dims"), col("__c._3").as("__dec"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__has_dims"), 1L).otherwise(0L)).as("n_dims"),
        sum(when(col("__dec"), 1L).otherwise(0L)).as("n_decodable"))

  /** Image near-duplicate pairs: decode → perceptual 64-bit signature
    * ([[dHash]] / [[aHash]]) → the signature-agnostic pigeonhole
    * banding of [[graft.llm.Dedup.hammingPairs]]. THE multimodal
    * training-data dedup operator: re-encoded/recompressed copies of
    * the same picture land within a small hamming budget while byte
    * hashes see unrelated blobs.
    *
    * Scale shape: the decode is one map-side pass (no shuffle); pairs
    * come only from band-bucket groups (shuffle O(n × (maxHamming+1))
    * signature rows — 8-byte signatures, NOT image bytes: nothing
    * after the signature pass ever carries pixels). Bucket occupancy
    * is capped like every other candidate generator here.
    * Output: (id_a, id_b, hamming).
    */
  def imageNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxHamming: Int = 6, maxBucketSize: Int = 10000,
                   algo: String = "dhash"): DataFrame =
    graft.llm.Dedup.hammingPairs(imageSignatures(df, idCol, binCol, algo),
      idCol, "__sig", maxHamming, maxBucketSize)

  /** Screen NEW images against a STORED perceptual-signature history
    * table — the crawl-ingest dedup shape for images, the exact
    * analog of the text pipeline's minhash history screen: the
    * history side is an [[imageSignatures]] table appended per
    * accepted batch (8-byte signatures + ids; history pixels are
    * NEVER re-decoded), the new batch decodes once map-side, and a
    * batch image is dropped iff some history signature sits within
    * `maxHamming` ([[graft.llm.Dedup.hammingAgainstHistory]]'s exact
    * pigeonhole-banded contract — re-encoded/recompressed copies of
    * an already-ingested picture are caught, byte hashes would not).
    * Undecodable/null blobs always survive (null signature — route
    * them to a quarantine screen instead). Output: surviving batch
    * rows, columns unchanged.
    */
  def imageAgainstHistory(df: DataFrame, idCol: String, binCol: String,
                          historySigs: DataFrame, maxHamming: Int = 6,
                          maxBucketSize: Int = 10000,
                          algo: String = "dhash"): DataFrame =
    graft.llm.Dedup.hammingAgainstHistory(df,
      imageSignatures(df, idCol, binCol, algo), historySigs, idCol,
      "__sig", maxHamming, maxBucketSize)

  // ---- audio sample screens (REAL PCM decode, r17) ---------------------
  //
  // javax.sound.sampled ships WAV/AIFF/AU parsing and PCM decoding in
  // the JDK — the speech-training-data quality screens (clipping,
  // silence, level) are honestly implementable here, like the image
  // path above.

  /** Decode an audio blob to normalized PCM samples in [-1, 1]
    * (interleaved channel order) plus its format. Handles the PCM
    * encodings the JDK parses natively (signed 8/16/24/32-bit, either
    * endianness, unsigned 8-bit); µ-law/a-law convert through the
    * JDK's own PCM_SIGNED 16-bit converter. None for null/undecodable
    * bytes or unsupported encodings — a bad blob scores as "not
    * audio", never kills the task.
    */
  def decodePcm(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Double])] = {
    if (bytes == null || bytes.length == 0) return None
    // RIFF/WAV integer-PCM fast path first: AudioSystem's provider
    // lookup (JDK13Services.getProviders) is a synchronized static, so
    // every getAudioInputStream call in the JVM serializes on one lock
    // — measured r20-opt: a 32-way fan-out of the audio family decoded
    // no faster than 1-way. The direct parser is lock-free (decode
    // scales with cores) and skips the per-call stream/provider
    // machinery; it accepts ONLY inputs where it provably matches the
    // JDK reader byte-for-byte (spec-pinned identity) and declines
    // everything else to the unchanged AudioSystem path below.
    wavPcmFastPath(bytes) match {
      case Some((fmt, data)) => return Some((fmt, pcmToDoubles(fmt, data)))
      case None => ()
    }
    // hopeless-magic pre-screen: when the registered AudioFileReader
    // providers are EXACTLY the JDK's own (gate below — any third-party
    // SPI codec jar disables this), a blob that starts with none of
    // their container magics (RIFF/FORM/.snd/MThd) cannot possibly
    // decode — skip the synchronized provider dispatch and go straight
    // to the hook, exactly where the AudioSystem path would land after
    // throwing. Keeps non-audio / compressed-audio blobs (4/5 of the
    // format-profile corpus) off the global lock.
    if (jdkOnlyAudioProviders && !hasJdkAudioMagic(bytes))
      return hookDecode(bytes)
    decodePcmViaAudioSystem(bytes)
  }

  /** True iff the leading bytes carry a container magic some JDK-shipped
    * AudioFileReader accepts: RIFF (Wave/WaveFloat/WaveExtensible),
    * FORM (Aiff), .snd (Au), MThd (SoftMidi).
    */
  private def hasJdkAudioMagic(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && {
      val m = new String(bytes, 0, 4, java.nio.charset.StandardCharsets.US_ASCII)
      m == "RIFF" || m == "FORM" || m == ".snd" || m == "MThd"
    }

  // Exact-set gate for the pre-screen: every registered AudioFileReader
  // must be one of the six the JDK ships (whose magics hasJdkAudioMagic
  // enumerates). An unknown provider — a codec jar on the classpath, or
  // a future JDK addition — turns the pre-screen off and every blob
  // takes the full AudioSystem dispatch as before.
  private lazy val jdkOnlyAudioProviders: Boolean =
    try {
      import scala.jdk.CollectionConverters._
      val known = Set("AiffFileReader", "AuFileReader", "SoftMidiAudioFileReader",
        "WaveFileReader", "WaveFloatFileReader", "WaveExtensibleFileReader")
        .map("com.sun.media.sound." + _)
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala
        .forall(r => known.contains(r.getClass.getName))
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The registered [[setAudioDecoder]] hook's decode, synthesized into
    * the same (AudioFormat, samples) shape — factored from the
    * AudioSystem path's catch so the pre-screen lands in the identical
    * fallback.
    */
  private def hookDecode(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Double])] =
    Option(audioDecoderHook.get()).flatMap { hook =>
      try hook(bytes).collect { case (rate, ch, samples)
          if rate > 0 && ch > 0 && samples != null =>
        (new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          rate, 16, ch, ch * 2, rate, false), samples)
      }
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Normalize raw PCM bytes to doubles in [-1, 1] using exactly the
    * fields [[decodePcm]] has always read from the JDK's AudioFormat
    * (bits, endianness, signedness) — shared by the fast path and the
    * AudioSystem path so their outputs are identical by construction.
    */
  private def pcmToDoubles(fmt: javax.sound.sampled.AudioFormat,
                           data: Array[Byte]): Array[Double] = {
    val bits = fmt.getSampleSizeInBits
    val bytesPer = (bits + 7) / 8
    val n = data.length / bytesPer
    val out = new Array[Double](n)
    val big = fmt.isBigEndian
    val signed =
      fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
    val full = 1L << (bits - 1) // 32768 for 16-bit
    var i = 0
    while (i < n) {
      val off = i * bytesPer
      var raw = 0L
      var k = 0
      while (k < bytesPer) {
        val b = data(off + (if (big) k else bytesPer - 1 - k)) & 0xFFL
        raw = (raw << 8) | b
        k += 1
      }
      val v =
        if (signed) { // sign-extend from `bits`
          val shifted = raw << (64 - bits)
          (shifted >> (64 - bits)).toDouble
        } else raw.toDouble - full // unsigned: midpoint at `full`
      out(i) = v / full
      i += 1
    }
    out
  }

  /** Direct RIFF/WAVE parse for integer PCM (format tag 1) — the
    * lock-free fast path under [[decodePcm]]. Returns the AudioFormat
    * the JDK's WAV reader would construct plus the whole-frame data
    * bytes, or None for ANYTHING it cannot prove it reads identically
    * to the JDK (non-PCM tags, truncated or length-lying containers,
    * odd-length chunks whose pad semantics are reader-specific,
    * non-byte-aligned sample sizes, inconsistent block alignment) —
    * those fall through to AudioSystem unchanged. Spec-pinned
    * bit-identical to [[decodePcmViaAudioSystem]] on every accepted
    * input.
    */
  private[graft] def wavPcmFastPath(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Byte])] = {
    import javax.sound.sampled.AudioFormat
    if (bytes == null || bytes.length < 44) return None
    def tag(i: Int) =
      new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u16(i: Int): Int = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
    def u32(i: Int): Long =
      (bytes(i) & 0xFFL) | ((bytes(i + 1) & 0xFFL) << 8) |
        ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    // the declared RIFF payload length bounds the chunk walk exactly as
    // the JDK reader's does — a container whose chunks spill past it is
    // the JDK's call, not ours
    val limit = math.min(bytes.length.toLong, 8L + u32(4))
    var pos = 12L
    var fmtSeen = false
    var channels = 0
    var rate = 0L
    var bits = 0
    while (pos + 8 <= limit) {
      val name = tag(pos.toInt)
      val len = u32(pos.toInt + 4)
      val body = pos + 8
      if (name == "fmt ") {
        if (len < 16 || body + 16 > limit) return None
        val fmtTag = u16(body.toInt)
        if (fmtTag != 1) return None // PCM only; float/ulaw/alaw/extensible -> JDK
        channels = u16(body.toInt + 2)
        rate = u32(body.toInt + 4)
        val blockAlign = u16(body.toInt + 12)
        bits = u16(body.toInt + 14)
        if (channels <= 0 || rate <= 0 || rate > Int.MaxValue ||
            bits < 8 || bits > 32 || bits % 8 != 0 ||
            blockAlign != (bits / 8) * channels) return None
        fmtSeen = true
      } else if (name == "data") {
        if (!fmtSeen) return None
        if (body + len > limit) return None // truncated: the JDK decides
        val frameSize = (bits / 8) * channels
        val nBytes = (len / frameSize) * frameSize // whole frames only
        if (nBytes > Int.MaxValue - 8) return None
        val enc = if (bits == 8) AudioFormat.Encoding.PCM_UNSIGNED
          else AudioFormat.Encoding.PCM_SIGNED
        val fmt = new AudioFormat(enc, rate.toFloat, bits, channels,
          frameSize, rate.toFloat, false)
        return Some((fmt, java.util.Arrays.copyOfRange(
          bytes, body.toInt, (body + nBytes).toInt)))
      }
      // an odd-length chunk's pad byte is reader-specific — decline
      if (len % 2 != 0) return None
      pos = body + len
    }
    None
  }

  /** The pre-r21 [[decodePcm]] body, verbatim: JDK AudioSystem parse +
    * decode (WAV/AIFF/AU; µ-law/a-law via the JDK converter), hook
    * fallback for everything else. Kept as the fast path's fallback AND
    * as the bit-identity reference the fast-path spec compares against.
    */
  private[graft] def decodePcmViaAudioSystem(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Double])] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    if (bytes == null || bytes.length == 0) return None
    try {
      var ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      var fmt = ais.getFormat
      val enc = fmt.getEncoding
      if (enc != AudioFormat.Encoding.PCM_SIGNED &&
          enc != AudioFormat.Encoding.PCM_UNSIGNED) {
        // µ-law / a-law: let the JDK expand to linear 16-bit
        val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          fmt.getSampleRate, 16, fmt.getChannels, fmt.getChannels * 2,
          fmt.getSampleRate, false)
        ais = AudioSystem.getAudioInputStream(target, ais)
        fmt = ais.getFormat
      }
      val data = ais.readAllBytes()
      Some((fmt, pcmToDoubles(fmt, data)))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException |
           _: IllegalArgumentException | _: java.io.IOException =>
        // the JDK declined — a registered [[setAudioDecoder]] hook may
        // cover the format (MP3/AAC/OGG/FLAC on a cluster with codec
        // jars); its samples flow into the SAME signature machinery.
        // The synthesized descriptor carries the hook's rate/channels
        // with a nominal 16-bit sample size (the samples are already
        // normalized doubles; nothing downstream reads the bit depth
        // except as bookkeeping).
        hookDecode(bytes)
    }
  }

  /** The speech-data quality screen over one decoded blob:
    * n_samples / sample_rate / channels / duration_ms plus
    *  - rms: sqrt(mean(x²)) over all normalized samples,
    *  - peak: max |x|,
    *  - clip_ratio: fraction of samples at |x| ≥ `clipThreshold`
    *    (digital clipping sits at full scale),
    *  - silence_frac: fraction of 10 ms windows whose window RMS is
    *    below `silenceRms` (windowed, not per-sample — a zero crossing
    *    is not silence).
    */
  final case class AudioScreen(n_samples: Long, sample_rate: Int,
                               channels: Int, duration_ms: Long,
                               rms: Double, peak: Double,
                               clip_ratio: Double, silence_frac: Double)

  def audioScreenOf(bytes: Array[Byte], clipThreshold: Double = 0.999,
                    silenceRms: Double = 0.01): Option[AudioScreen] =
    decodePcm(bytes).map { case (fmt, x) =>
      val n = x.length
      var sumsq = 0.0
      var peak = 0.0
      var clipped = 0L
      var i = 0
      while (i < n) {
        val a = math.abs(x(i))
        sumsq += x(i) * x(i)
        if (a > peak) peak = a
        if (a >= clipThreshold) clipped += 1
        i += 1
      }
      val win = math.max(1, (fmt.getSampleRate / 100.0).toInt) * fmt.getChannels
      var silent = 0L
      var windows = 0L
      var w = 0
      while (w < n) {
        val end = math.min(w + win, n)
        var s = 0.0
        var j = w
        while (j < end) { s += x(j) * x(j); j += 1 }
        if (math.sqrt(s / (end - w)) < silenceRms) silent += 1
        windows += 1
        w = end
      }
      val frames = n / math.max(1, fmt.getChannels)
      AudioScreen(
        n_samples = n,
        sample_rate = fmt.getSampleRate.toInt,
        channels = fmt.getChannels,
        duration_ms = frames * 1000L / math.max(1, fmt.getSampleRate.toInt),
        rms = if (n == 0) 0.0 else math.sqrt(sumsq / n),
        peak = peak,
        clip_ratio = if (n == 0) 0.0 else clipped.toDouble / n,
        silence_frac = if (windows == 0) 0.0 else silent.toDouble / windows)
    }

  private val audioScreenUdf = udf((b: Array[Byte]) => audioScreenOf(b))

  /** Per-row audio quality screen: (idCol, screen-struct columns) —
    * one map-side decode pass, no shuffle; undecodable blobs yield
    * null stats (filter or quarantine downstream).
    */
  def audioScreen(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(col(idCol), audioScreenUdf(col(binCol)).as("__a"))
      .select(col(idCol), col("__a.*"))

  /** Audio container format from magic bytes (r19) — the audio analog
    * of [[parseImageDims]]'s format detection, feeding
    * [[audioFormatProfile]]: WAV (RIFF/WAVE), AIFF/AIFC (FORM), AU
    * (.snd), FLAC (fLaC), OGG (OggS), and the MPEG sync family behind
    * an optional ID3v2 tag — ADTS AAC (layer bits 00) vs MPEG audio
    * "mp3" (layers I–III). None for null/short/unrecognized bytes.
    * Pure byte peek, never a throw; detection says nothing about
    * decodability (the JDK decodes only WAV/AIFF/AU PCM).
    */
  def detectAudioFormat(bytes: Array[Byte]): Option[String] = {
    if (bytes == null || bytes.length < 4) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def tag(i: Int) =
      new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE") Some("wav")
    else if (bytes.length >= 12 && tag(0) == "FORM" &&
             (tag(8) == "AIFF" || tag(8) == "AIFC")) Some("aiff")
    else if (tag(0) == ".snd") Some("au")
    else if (tag(0) == "fLaC") Some("flac")
    else if (tag(0) == "OggS") Some("ogg")
    else {
      // MPEG-family frame sync, optionally behind an ID3v2 tag
      // (syncsafe size — the same skip parseMp3Meta does)
      val off =
        if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
            bytes(2) == '3')
          10L + ((u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9))
        else 0L
      if (off + 2 > bytes.length) None
      else {
        val i = off.toInt
        // ADTS: FF F1/F9 (12-bit sync + MPEG id bit, layer 00)
        if (u8(i) == 0xFF && (u8(i + 1) & 0xF6) == 0xF0) Some("aac")
        else if (u8(i) == 0xFF && (u8(i + 1) & 0xE0) == 0xE0 &&
                 ((u8(i + 1) >> 1) & 3) != 0) Some("mp3")
        else None
      }
    }
  }

  private val audioCoverageUdf = udf((b: Array[Byte]) => {
    val fmt = detectAudioFormat(b)
    (fmt.getOrElse("unknown"),
      parseWavMeta(b).isDefined || parseMp3Meta(b).isDefined,
      decodePcm(b).isDefined)
  })

  /** Per-format AUDIO coverage profile (r19) — the audio counterpart
    * of [[imageFormatProfile]], closing the same visibility gap: a
    * compressed-audio blob (MP3/OGG/AAC/FLAC) silently falls to
    * "undecodable survives" in [[audioHash]]/[[audioScreen]] screening,
    * and without this report that hole hides. Per detected format (or
    * "unknown"): blob count, how many yield HEADER-ONLY metadata
    * through the repo's container parsers ([[parseWavMeta]] /
    * [[parseMp3Meta]] duration-without-decode; AIFF/AU expose metadata
    * only through the decode path today), and how many the JDK can
    * PCM-decode — only those participate in perceptual dedup. One
    * map-side pass + one small hash aggregation.
    * Output: (format, n, n_meta, n_decodable).
    */
  def audioFormatProfile(df: DataFrame, binCol: String): DataFrame =
    df.select(audioCoverageUdf(col(binCol)).as("__c"))
      .select(col("__c._1").as("format"),
        col("__c._2").as("__has_meta"), col("__c._3").as("__dec"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__has_meta"), 1L).otherwise(0L)).as("n_meta"),
        sum(when(col("__dec"), 1L).otherwise(0L)).as("n_decodable"))

  /** 64-bit audio envelope signature (r18) — the [[dHash]] idea on the
    * time axis, completing the perceptual-dedup coverage across
    * modalities (images had dHash/aHash; audio had only exact byte
    * hashes): decode to PCM, mean |amplitude| over 65 equal time
    * windows, bit i set when window i+1 is LOUDER than window i. The
    * differential form makes it exactly GAIN-invariant (a re-mastered
    * / volume-normalized copy of the same recording scales every
    * window mean by the same positive factor and keeps every bit) and
    * robust to re-encoding; trims/pads shift the window grid and
    * diverge — run exact dedup first, like every signature here.
    * None for undecodable or empty-PCM blobs. Known limitation,
    * inherent to the differential form: constant-envelope audio
    * (pure silence, steady tones) hashes to 0 and pairs together —
    * the flat-image caveat of [[dHash]], same mitigation.
    */
  def audioHash(bytes: Array[Byte]): Option[Long] =
    decodePcm(bytes).filter(_._2.nonEmpty).map { case (_, x) =>
      val w = 65
      val n = x.length
      val env = new Array[Double](w)
      var i = 0
      while (i < w) {
        val s0 = (i.toLong * n / w).toInt
        val s1 = math.max(s0 + 1, ((i + 1).toLong * n / w).toInt)
        var sum = 0.0
        var j = s0
        while (j < s1) { sum += math.abs(x(j)); j += 1 }
        env(i) = sum / (s1 - s0)
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (env(b) < env(b + 1)) sig |= 1L << b
        b += 1
      }
      sig
    }

  private val audioHashUdf = udf((b: Array[Byte]) => audioHash(b))

  /** Per-row audio signature frame (idCol, __sig) — the audio analog
    * of [[imageSignatures]]. One map-side decode pass; undecodable
    * blobs get a null signature.
    */
  def audioSignatures(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(col(idCol), audioHashUdf(col(binCol)).as("__sig"))

  /** Audio near-duplicate pairs: decode → envelope signature →
    * the signature-agnostic pigeonhole banding ([[graft.llm.Dedup
    * .hammingPairs]]). Re-gained/re-encoded copies of the same
    * recording pair at small hamming while byte hashes see unrelated
    * blobs. Output: (id_a, id_b, hamming).
    */
  def audioNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxHamming: Int = 4, maxBucketSize: Int = 10000): DataFrame =
    graft.llm.Dedup.hammingPairs(audioSignatures(df, idCol, binCol),
      idCol, "__sig", maxHamming, maxBucketSize)

  /** Screen NEW audio against a STORED envelope-signature history
    * table — the crawl-ingest dedup shape for audio, riding the same
    * [[graft.llm.Dedup.hammingAgainstHistory]] core as images and
    * simhash text (history samples are NEVER re-decoded; 8-byte
    * signatures only). Undecodable/null blobs always survive.
    */
  def audioAgainstHistory(df: DataFrame, idCol: String, binCol: String,
                          historySigs: DataFrame, maxHamming: Int = 4,
                          maxBucketSize: Int = 10000): DataFrame =
    graft.llm.Dedup.hammingAgainstHistory(df,
      audioSignatures(df, idCol, binCol), historySigs, idCol,
      "__sig", maxHamming, maxBucketSize)

  /** A deterministic mono 16-bit PCM WAV: `nLoud` samples alternating
    * ±`amp` (raw 16-bit units) followed by `nTotal - nLoud` zeros, at
    * `rate` Hz. Every screen stat is CLOSED-FORM in (amp, nLoud,
    * nTotal): rms = |amp|/32768·sqrt(nLoud/nTotal) with every
    * intermediate exactly representable (amp²·2⁻³⁰ and its partial
    * sums are dyadic), peak = amp/32768, clip_ratio = nLoud/nTotal
    * when amp/32768 ≥ 0.999 else 0, silence_frac = zero-window
    * fraction — which is what lets the registered audio query carry a
    * real DuckDB oracle through a byte-level codec path.
    */
  def syntheticWav(amp: Int, nLoud: Int = 400, nTotal: Int = 800,
                   rate: Int = 8000): Array[Byte] = {
    require(amp >= 0 && amp <= 32767 && nLoud <= nTotal)
    val dataSize = nTotal * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nTotal) {
      bb.putShort(if (i >= nLoud) 0
        else if (i % 2 == 0) amp.toShort else (-amp).toShort)
      i += 1
    }
    bb.array()
  }

  private val syntheticWavUdf = udf((amp: Int) => syntheticWav(amp))

  /** Column form of [[syntheticWav]] (default shape) for registered
    * queries.
    */
  def syntheticWavCol(amp: Column): Column = syntheticWavUdf(amp.cast("int"))

  /** A deterministic mono 16-bit PCM WAV with a seed-derived ENVELOPE
    * pattern (r18, the audio analog of [[syntheticPng]]'s random
    * blocks): 65 windows of `samplesPerWindow` samples, window w
    * alternating ±(gain·h_w) where h_w = 1 + (mix64(mix64(seed) ^ w) & 0x7F).
    * With gain ≤ 255 every sample stays ≤ 32640 (in 16-bit range),
    * every normalized value is dyadic, windows divide the sample count
    * exactly, and each window mean is gain·h_w/2^15 EXACTLY — so
    * [[audioHash]]'s bits equal the pure h_w < h_{w+1} comparisons and
    * two gains of the same seed produce BIT-IDENTICAL signatures (the
    * planted-oracle construction: byte hashes see distinct blobs, the
    * envelope signature pairs re-gained copies).
    */
  def syntheticWavPattern(seed: Long, gain: Int,
                          samplesPerWindow: Int = 64,
                          rate: Int = 8000): Array[Byte] = {
    require(gain >= 1 && gain <= 255, s"gain in [1,255], got $gain")
    val windows = 65
    val nTotal = windows * samplesPerWindow
    val dataSize = nTotal * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var w = 0
    while (w < windows) {
      val h = 1 + (mix64(mix64(seed) ^ w.toLong) & 0x7F).toInt
      val a = gain * h
      var i = 0
      while (i < samplesPerWindow) {
        bb.putShort(if (i % 2 == 0) a.toShort else (-a).toShort)
        i += 1
      }
      w += 1
    }
    bb.array()
  }

  private val syntheticWavPatternUdf = udf((seed: Long, gain: Int) =>
    syntheticWavPattern(seed, gain))

  /** Column form of [[syntheticWavPattern]] for registered queries. */
  def syntheticWavPatternCol(seed: Column, gain: Column): Column =
    syntheticWavPatternUdf(seed.cast("long"), gain.cast("int"))

  // ---- deterministic synthetic images (datagen for queries/specs) -----

  // SplitMix64 finalizer (public-domain constant mix) — deterministic
  // across JVMs, unlike java.util.Random streams behind Graphics2D
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A deterministic 36×32 grayscale-block PNG derived from `seed`:
    * 9×8 blocks of 4×4 pixels, block (i, j) at gray level
    * mix64(seed, i, j) & 0xFF, each block's level shifted by
    * `jitter` (clamped to [0, 255]). Properties the planted queries
    * and specs rely on: equal (seed, jitter) → byte-identical PNG;
    * equal seed with small jitter delta → small dHash hamming (each
    * hash bit compares adjacent block means ~47 gray levels apart in
    * expectation); distinct seeds → independent block patterns, so
    * 64-bit signature collisions are ~2⁻⁶⁴. Encoded with the JDK PNG
    * writer (lossless, so the planted byte-identity claim holds).
    */
  def syntheticPng(seed: Long, jitter: Int = 0): Array[Byte] = {
    imageIoReady
    val img = new java.awt.image.BufferedImage(36, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 9) {
        val base = (mix64(mix64(seed) ^ (i.toLong << 32) ^ j.toLong) & 0xFF).toInt
        val g = math.min(255, math.max(0, base + jitter))
        val rgb = (g << 16) | (g << 8) | g
        var y = j * 4
        while (y < j * 4 + 4) {
          var x = i * 4
          while (x < i * 4 + 4) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        i += 1
      }
      j += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  private val syntheticPngUdf = udf((seed: Long, jitter: Int) =>
    syntheticPng(seed, jitter))

  /** Column form of [[syntheticPng]] for registered queries. */
  def syntheticPngCol(seed: Column, jitter: Column): Column =
    syntheticPngUdf(seed.cast("long"), jitter.cast("int"))

  /** Minimal VALID WebP container bytes with closed-form dims — all
    * three profiles (`"vp8"` lossy frame header, `"vp8l"` lossless,
    * `"vp8x"` extended canvas). Headers only, no encoded pixels:
    * exactly the dims-only surface [[parseImageDims]] reads, making
    * the webp path oracle-checkable without a codec (the same
    * builder-as-oracle pattern as [[syntheticWav]]/[[syntheticMp4]]).
    * Dims clamp to each profile's field width (14 bits for VP8/VP8L,
    * 24 for VP8X).
    */
  def syntheticWebp(width: Int, height: Int, kind: String = "vp8l"): Array[Byte] = {
    def le16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le24(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val payload = kind.toLowerCase match {
      case "vp8" =>
        val w = math.max(1, math.min(width, 0x3FFF))
        val h = math.max(1, math.min(height, 0x3FFF))
        "VP8 ".getBytes ++ le32(10) ++
          Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A) ++ le16(w) ++ le16(h)
      case "vp8l" =>
        val w = math.max(1, math.min(width, 0x4000))
        val h = math.max(1, math.min(height, 0x4000))
        val bits = (w - 1) | ((h - 1) << 14)
        "VP8L".getBytes ++ le32(5) ++ Array[Byte](0x2F) ++ le32(bits)
      case "vp8x" =>
        val w = math.max(1, math.min(width, 1 << 24))
        val h = math.max(1, math.min(height, 1 << 24))
        "VP8X".getBytes ++ le32(10) ++ le32(0) ++ le24(w - 1) ++ le24(h - 1)
      case other => throw new IllegalArgumentException(
        s"unknown webp profile '$other' (vp8 | vp8l | vp8x)")
    }
    "RIFF".getBytes ++ le32(4 + payload.length) ++ "WEBP".getBytes ++ payload
  }

  private val syntheticWebpUdf = udf((w: Int, h: Int, kind: String) =>
    syntheticWebp(w, h, kind))

  /** Column form of [[syntheticWebp]] for registered queries. */
  def syntheticWebpCol(width: Column, height: Column, kind: Column): Column =
    syntheticWebpUdf(width.cast("int"), height.cast("int"), kind)

  /** Minimal VALID AVIF container bytes with closed-form dims (r19):
    * ftyp(avif) + meta(FullBox){ iprp { ipco { ispe(w,h) } } } —
    * exactly the header chain [[parseImageDims]]'s ISO-BMFF walk
    * reads, no encoded AV1 payload (the builder-as-oracle pattern of
    * [[syntheticWebp]]). Dims clamp to the non-negative Int range the
    * parser accepts.
    */
  def syntheticAvif(width: Int, height: Int): Array[Byte] = {
    def be32(v: Int) = Array[Byte](((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(tag: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ tag.getBytes("US-ASCII") ++ body
    val w = math.max(1, width)
    val h = math.max(1, height)
    val ispe = box("ispe", be32(0) ++ be32(w) ++ be32(h)) // FullBox v0
    val meta = box("meta", be32(0) ++ box("iprp", box("ipco", ispe)))
    val ftyp = box("ftyp",
      "avif".getBytes("US-ASCII") ++ be32(0) ++
        "avifmif1".getBytes("US-ASCII")) // major, minor, compatible
    ftyp ++ meta
  }

  private val syntheticAvifUdf = udf((w: Int, h: Int) => syntheticAvif(w, h))

  /** Column form of [[syntheticAvif]] for registered queries. */
  def syntheticAvifCol(width: Column, height: Column): Column =
    syntheticAvifUdf(width.cast("int"), height.cast("int"))

  // ---- ISO-BMFF track-level metadata (video stream inventory, r17) ----

  /** One media track of an ISO-BMFF (MP4/MOV) container, from the
    * REAL box walk — ref cloud_connector.py's opaque-blob handling
    * upgraded with the stream inventory a video training pipeline
    * filters on BEFORE any decode: handler kind from `hdlr`
    * ("vide"/"soun"/...), codec fourcc from the first `stsd` sample
    * entry ("avc1"/"hvc1"/"mp4a"/...), presentation dims from `tkhd`
    * (16.16 fixed point, integer part), per-track duration/language
    * from `mdhd`. `duration_ms` is None when the box declares the
    * all-ones "unknown" value or the timescale is unusable.
    */
  final case class Mp4Track(track_id: Long, handler: String, codec: String,
                            width: Int, height: Int,
                            duration_ms: Option[Long], lang: String)

  /** Walk moov → trak* → { tkhd, mdia { mdhd, hdlr, minf { stbl
    * { stsd }}}} and emit one [[Mp4Track]] per trak that carries a
    * parseable tkhd + mdhd + hdlr. Same hostile-input posture as
    * [[parseMp4Meta]]: Long cursor arithmetic, subtractive size
    * guards (a 64-bit extended size near Long.MaxValue must not wrap
    * an additive bound check), every field read bounded by ITS box's
    * declared extent, and a corrupt child size abandons that level
    * with whatever parsed cleanly before it — never a throw
    * (StreamsMediaSpec drives every truncation prefix of a valid
    * file). Codec falls back to "" and language to "und" when their
    * boxes are absent — both are optional per the spec's minimum.
    */
  def parseMp4Tracks(bytes: Array[Byte]): Seq[Mp4Track] = {
    if (bytes == null || bytes.length < 16) return Nil
    def u8(i: Long) = bytes(i.toInt) & 0xFF
    def be32(i: Long): Long = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
      (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Long): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Long) =
      new String(bytes, i.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag(4) != "ftyp" && tag(4) != "styp") return Nil
    val n = bytes.length.toLong
    // direct children of [from, end): (tag, offset, realSize); a
    // corrupt size ends the level, keeping earlier siblings
    def children(from: Long, end: Long): Seq[(String, Long, Long)] = {
      val out = Seq.newBuilder[(String, Long, Long)]
      var i = from
      while (i + 8 <= end) {
        val size = be32(i)
        val realSize =
          if (size == 1L && i + 16 <= end) be64(i + 8)
          else if (size == 0L) end - i
          else size
        if (realSize < 8L || realSize > end - i) return out.result()
        out += ((tag(i + 4), i, realSize))
        i += realSize
      }
      out.result()
    }
    def kid(cs: Seq[(String, Long, Long)], want: String) = cs.find(_._1 == want)
    def fixed16(i: Long): Int = (be32(i) >>> 16).toInt

    children(0L, n).filter(_._1 == "moov").take(1).flatMap {
      case (_, moov, moovSize) =>
        children(moov + 8, moov + moovSize).filter(_._1 == "trak").flatMap {
          case (_, trak, trakSize) =>
            val kids = children(trak + 8, trak + trakSize)
            val mdiaKids = kid(kids, "mdia").toSeq.flatMap {
              case (_, b, sz) => children(b + 8, b + sz)
            }
            // tkhd: (track_id, width, height) — dims are 16.16 fixed.
            // sz < 9 first: a header-only box (declared size 8) ending
            // exactly at the buffer end puts p == bytes.length, so the
            // version byte itself must be size-guarded before reading.
            val tk = kid(kids, "tkhd").flatMap { case (_, b, sz) =>
              val p = b + 8
              if (sz < 9) None
              else u8(p) match {
                case 1 if sz >= 8 + 96 =>
                  Some((be32(p + 20), fixed16(p + 88), fixed16(p + 92)))
                case 0 if sz >= 8 + 84 =>
                  Some((be32(p + 12), fixed16(p + 76), fixed16(p + 80)))
                case _ => None
              }
            }
            // mdhd: (timescale, duration | -1 = unknown, language)
            val md = kid(mdiaKids, "mdhd").flatMap { case (_, b, sz) =>
              val p = b + 8
              // version byte is only addressable when the box extends
              // past its 8-byte header (see tkhd note above)
              if (sz < 9) None
              else {
              val v = u8(p)
              val fields =
                if (v == 1 && sz >= 8 + 36)
                  Some((be32(p + 20), be64(p + 24), (u8(p + 32) << 8) | u8(p + 33)))
                else if (v == 0 && sz >= 8 + 24)
                  Some((be32(p + 12), be32(p + 16), (u8(p + 20) << 8) | u8(p + 21)))
                else None
              fields.map { case (ts, rawDur, packedLang) =>
                val unknown = (v == 0 && rawDur == 0xFFFFFFFFL) || rawDur < 0L
                val lang =
                  if (packedLang == 0) "und"
                  else new String(Array(
                    (((packedLang >> 10) & 0x1F) + 0x60).toChar,
                    (((packedLang >> 5) & 0x1F) + 0x60).toChar,
                    ((packedLang & 0x1F) + 0x60).toChar))
                (ts, if (unknown) -1L else rawDur, lang)
              }
              }
            }
            val handler = kid(mdiaKids, "hdlr").collect {
              case (_, b, sz) if sz >= 8 + 12 => tag(b + 8 + 8)
            }
            // stsd: first sample entry's format fourcc, via minf/stbl
            val codec = (for {
              (_, minf, minfSz) <- kid(mdiaKids, "minf")
              (_, stbl, stblSz) <- kid(children(minf + 8, minf + minfSz), "stbl")
              (_, stsd, stsdSz) <- kid(children(stbl + 8, stbl + stblSz), "stsd")
              if stsdSz >= 8 + 16 && be32(stsd + 16) >= 8L
            } yield tag(stsd + 20)).getOrElse("")
            for {
              (tid, w, h) <- tk
              (ts, dur, lang) <- md
              hd <- handler
            } yield Mp4Track(tid, hd, codec, w, h,
              if (dur < 0L || ts <= 0L || dur > Long.MaxValue / 1000L) None
              else Some(dur * 1000L / ts), lang)
        }
    }
  }

  /** Keyframe (sync-sample) timestamps in ms of the FIRST video track,
    * from the REAL sample tables: `stts` (time-to-sample run lengths)
    * gives each sample's start time, `stss` (sync-sample numbers)
    * marks the keyframes; an ABSENT stss means every sample is sync
    * (the ISO-BMFF default). This is the decode-free frame-sampling
    * plan a video pipeline actually wants: seeking to a keyframe is
    * cheap, seeking between keyframes decodes the whole GOP. More
    * than `cap` keyframes subsample evenly (deterministic index
    * arithmetic) so one hostile/huge container cannot balloon a row.
    * Empty when the container has no video track or no sample tables.
    */
  def parseMp4Keyframes(bytes: Array[Byte], cap: Int = 10000): Seq[Long] = {
    if (bytes == null || bytes.length < 16 || cap <= 0) return Nil
    def u8(i: Long) = bytes(i.toInt) & 0xFF
    def be32(i: Long): Long = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
      (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Long): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Long) =
      new String(bytes, i.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag(4) != "ftyp" && tag(4) != "styp") return Nil
    val n = bytes.length.toLong
    def children(from: Long, end: Long): Seq[(String, Long, Long)] = {
      val out = Seq.newBuilder[(String, Long, Long)]
      var i = from
      while (i + 8 <= end) {
        val size = be32(i)
        val realSize =
          if (size == 1L && i + 16 <= end) be64(i + 8)
          else if (size == 0L) end - i
          else size
        if (realSize < 8L || realSize > end - i) return out.result()
        out += ((tag(i + 4), i, realSize))
        i += realSize
      }
      out.result()
    }
    def kid(cs: Seq[(String, Long, Long)], want: String) = cs.find(_._1 == want)
    val videoStbl = children(0L, n).filter(_._1 == "moov").take(1).flatMap {
      case (_, moov, moovSize) =>
        children(moov + 8, moov + moovSize).filter(_._1 == "trak").flatMap {
          case (_, trak, trakSize) =>
            val mdiaKids = kid(children(trak + 8, trak + trakSize), "mdia")
              .toSeq.flatMap { case (_, b, sz) => children(b + 8, b + sz) }
            val isVideo = kid(mdiaKids, "hdlr").exists {
              case (_, b, sz) => sz >= 8 + 12 && tag(b + 16) == "vide"
            }
            val ts = kid(mdiaKids, "mdhd").flatMap { case (_, b, sz) =>
              val p = b + 8
              // size-8 mdhd ending at the buffer end: the version byte
              // is out of bounds, so guard sz before reading it
              if (sz < 9) None
              else u8(p) match {
                case 1 if sz >= 8 + 36 => Some(be32(p + 20))
                case 0 if sz >= 8 + 24 => Some(be32(p + 12))
                case _ => None
              }
            }
            if (!isVideo) Nil
            else for {
              timescale <- ts.toSeq if timescale > 0
              (_, minf, minfSz) <- kid(mdiaKids, "minf").toSeq
              (_, stbl, stblSz) <- kid(children(minf + 8, minf + minfSz), "stbl").toSeq
            } yield (stbl, stblSz, timescale)
        }
    }
    videoStbl.headOption.toSeq.flatMap { case (stbl, stblSz, timescale) =>
      val stblKids = children(stbl + 8, stbl + stblSz)
      // stts: (count, delta) runs → each sample's start time; bound
      // the walk by the declared box extent AND a total-samples cap
      // (a hostile count field must not allocate)
      val starts = kid(stblKids, "stts").toSeq.flatMap { case (_, b, sz) =>
        val p = b + 12 // header + verflags
        if (sz < 8 + 8) Nil
        else {
          val entries = be32(b + 8 + 4)
          val buf = Seq.newBuilder[Long]
          var t = 0L
          var e = 0L
          var produced = 0L
          val maxSamples = 1L << 22 // 4M sample STARTS walked at most
          var off = p + 4
          while (e < entries && off + 8 <= b + sz && produced < maxSamples) {
            val count = be32(off)
            val delta = be32(off + 4)
            var k = 0L
            while (k < count && produced < maxSamples) {
              buf += t
              t += delta
              k += 1
              produced += 1
            }
            e += 1
            off += 8
          }
          buf.result()
        }
      }
      if (starts.isEmpty) Nil
      else {
        // stss: 1-based sync sample numbers; absent → all samples sync
        val sync = kid(stblKids, "stss") match {
          case Some((_, b, sz)) if sz >= 8 + 8 =>
            val entries = be32(b + 8 + 4)
            val out = Seq.newBuilder[Int]
            var e = 0L
            var off = b + 16
            while (e < entries && off + 4 <= b + sz) {
              val s = be32(off)
              if (s >= 1 && s <= starts.length) out += (s - 1).toInt
              e += 1
              off += 4
            }
            out.result()
          case _ => starts.indices
        }
        val offs = sync.map(i => starts(i) * 1000L / timescale)
        if (offs.length <= cap) offs
        else (0 until cap).map(k => offs((k.toLong * offs.length / cap).toInt))
      }
    }
  }

  private val keyframesUdf = udf((b: Array[Byte]) => parseMp4Keyframes(b))

  /** Keyframe-aligned frame-sampling plan: up to `n` REAL sync-sample
    * timestamps per video ([[parseMp4Keyframes]]), evenly subsampled
    * when the container holds more — one row per sampled frame
    * (idCol, frame_idx, frame_offset_ms). Rows whose container yields
    * no keyframes emit nothing (screen them first with
    * [[videoStreamScreen]]); contrast [[sampleFrames]], which spaces
    * offsets blindly over the mvhd duration when no sample tables are
    * available. The decode of the sampled frames stays out of scope
    * (no video codecs in the JDK) — this is the plan stage a real
    * decoder slots under.
    */
  def sampleKeyframes(df: DataFrame, idCol: String, binCol: String,
                      n: Int): DataFrame = {
    require(n >= 1, "n >= 1")
    val kf = keyframesUdf(col(binCol))
    df.select(col(idCol), kf.as("__kf"))
      .filter(size(col("__kf")) > 0)
      .withColumn("__m", least(size(col("__kf")), lit(n)))
      .withColumn("frame_idx", explode(sequence(lit(0), col("__m") - 1)))
      .withColumn("frame_offset_ms",
        element_at(col("__kf"),
          (col("frame_idx").cast("long") * size(col("__kf")) / col("__m"))
            .cast("int") + 1))
      .select(col(idCol), col("frame_idx"), col("frame_offset_ms"))
  }

  /** Per-row frame plan for [[videoFrameSignatures]]: the blob is
    * walked ONCE per video — keyframe plan, then one hook decode +
    * hash per sampled frame — and only (idx, offsetMs, sig) leaves
    * the call, so pixels and container bytes never fan out across the
    * exploded rows. Subsample arithmetic matches [[sampleKeyframes]]
    * exactly (spec-pinned).
    */
  private def frameSignaturesFor(b: Array[Byte], n: Int, algo: String)
      : Seq[(Int, Long, Option[Long])] = {
    val kf = parseMp4Keyframes(b)
    if (kf.isEmpty) Nil
    else {
      val m = math.min(kf.length, n)
      (0 until m).map { k =>
        val off = kf((k.toLong * kf.length / m).toInt)
        val sig = decodeVideoFrame(b, off).map { img =>
          algo match {
            case "dhash" => dHashImage(img, 1)
            case "ahash" => aHashImage(img, 1)
            case _       => pHashImage(img, 1)
          }
        }
        (k, off, sig)
      }
    }
  }

  /** Keyframe-aligned perceptual FRAME signatures (r20): the
    * [[sampleKeyframes]] plan with the pixels filled in through the
    * [[setVideoFrameDecoder]] hook — one output row per sampled frame
    * (idCol, frame_idx, frame_offset_ms, __sig). The signature is the
    * SAME 64-bit dhash/ahash/phash the still-image family stores
    * (no EXIF on video frames, so orientation is 1), so frame rows
    * feed the existing banding/near-dup/history machinery unchanged —
    * group by __sig bands keyed on (id, frame_idx) and a cluster with
    * codec jars gets video near-dup without new signature code. With
    * no hook registered __sig is null on every row (the honest
    * coverage contract — the plan columns still flow, so the query
    * stays useful as a decode-free frame inventory). One map-side
    * pass; a video's bytes are traversed once, never duplicated
    * across its frame rows.
    */
  def videoFrameSignatures(df: DataFrame, idCol: String, binCol: String,
                           n: Int, algo: String = "dhash"): DataFrame = {
    require(n >= 1, "n >= 1")
    val a = algo.toLowerCase
    require(a == "dhash" || a == "ahash" || a == "phash",
      s"unknown perceptual hash '$algo' (dhash | ahash | phash)")
    val u = udf((b: Array[Byte]) => frameSignaturesFor(b, n, a))
    df.select(col(idCol), explode(u(col(binCol))).as("__f"))
      .select(col(idCol), col("__f._1").as("frame_idx"),
        col("__f._2").as("frame_offset_ms"), col("__f._3").as("__sig"))
  }

  private val tracksUdf = udf((b: Array[Byte]) => parseMp4Tracks(b))

  /** Per-track stream inventory: one output row per parsed track —
    * (idCol, track_id, handler, codec, width, height, duration_ms,
    * lang). Map-side header walk, no decode, no shuffle; blobs with
    * no parseable track emit nothing (pair with
    * [[videoStreamScreen]]'s n_tracks = 0 to quarantine those).
    */
  def videoTracks(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(col(idCol), explode(tracksUdf(col(binCol))).as("__t"))
      .select(col(idCol), col("__t.*"))

  /** Per-blob pre-decode screen — the filter a 100 TB video corpus
    * runs BEFORE paying any frame decode: one map-side header walk
    * per blob, then higher-order array functions (exists / filter /
    * transform / array_max — all codegen'd) over the bounded track
    * list. Output: n_tracks, has_video, has_audio, the main (widest)
    * video track's width/height/codec, container duration_ms (mvhd,
    * [[parseMp4Meta]]), and `ok` = has_video ∧ width ≥ minWidth ∧
    * height ≥ minHeight.
    */
  def videoStreamScreen(df: DataFrame, idCol: String, binCol: String,
                        minWidth: Int = 0, minHeight: Int = 0): DataFrame = {
    val ts = tracksUdf(col(binCol))
    val vids = filter(ts, t => t.getField("handler") === "vide")
    val widest = array_max(transform(vids, t =>
      struct(t.getField("width").as("width"),
        t.getField("height").as("height"),
        t.getField("codec").as("codec"))))
    df.select(
      col(idCol),
      size(ts).as("n_tracks"),
      exists(ts, t => t.getField("handler") === "vide").as("has_video"),
      exists(ts, t => t.getField("handler") === "soun").as("has_audio"),
      widest.getField("width").as("vid_width"),
      widest.getField("height").as("vid_height"),
      widest.getField("codec").as("vid_codec"),
      mp4Udf(col(binCol)).as("duration_ms"))
      .withColumn("ok",
        coalesce(col("has_video") &&
          col("vid_width") >= minWidth && col("vid_height") >= minHeight,
          lit(false)))
  }

  // ---- deterministic synthetic MP4s (datagen for queries/specs) -------

  private def bmffBox(tag4: String, body: Array[Byte]*): Array[Byte] = {
    val len = 8 + body.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(len)
    bb.putInt(len).put(tag4.getBytes("US-ASCII"))
    body.foreach(bb.put)
    bb.array()
  }

  private def langPack(lang: String): Int = {
    require(lang.length == 3, "ISO-639-2 code")
    ((lang(0) - 0x60) << 10) | ((lang(1) - 0x60) << 5) | (lang(2) - 0x60)
  }

  /** A minimal VALID ISO-BMFF container: ftyp + moov { mvhd, one
    * video trak (tkhd dims, hdlr vide, stsd `videoCodec`, mdhd lang
    * "und"), optionally one audio trak (hdlr soun, stsd `audioCodec`,
    * lang "eng") } — no mdat (header screens never read samples).
    * Every parsed field is CLOSED-FORM in the arguments, which is
    * what lets the registered video query carry a real DuckDB oracle
    * through the byte-level box walk (the [[syntheticWav]] precedent).
    * `v1` emits version-1 (64-bit time) mvhd/tkhd/mdhd boxes so both
    * parser branches stay covered.
    */
  def syntheticMp4(width: Int, height: Int, durMs: Long,
                   withAudio: Boolean, videoCodec: String = "avc1",
                   audioCodec: String = "mp4a",
                   frames: Int = 0, gop: Int = 0,
                   v1: Boolean = false): Array[Byte] = {
    val timescale = 1000 // 1 unit = 1 ms, so durations pass through
    def full(tag4: String, version: Int, body: Array[Byte]): Array[Byte] = {
      val vf = java.nio.ByteBuffer.allocate(4).putInt(version << 24).array()
      bmffBox(tag4, vf, body)
    }
    def mvhd: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(if (v1) 108 else 96)
      if (v1) bb.putLong(0L).putLong(0L).putInt(timescale).putLong(durMs)
      else bb.putInt(0).putInt(0).putInt(timescale).putInt(durMs.toInt)
      bb.putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
        .putLong(0L) // reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(bb.putInt) // identity matrix
      (1 to 6).foreach(_ => bb.putInt(0)) // pre_defined
      bb.putInt(3) // next_track_ID
      full("mvhd", if (v1) 1 else 0, bb.array())
    }
    def tkhd(trackId: Int, w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(if (v1) 92 else 80)
      if (v1) bb.putLong(0L).putLong(0L).putInt(trackId).putInt(0).putLong(durMs)
      else bb.putInt(0).putInt(0).putInt(trackId).putInt(0).putInt(durMs.toInt)
      bb.putLong(0L).putShort(0).putShort(0).putShort(0).putShort(0)
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(bb.putInt)
      bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed
      full("tkhd", if (v1) 1 else 0, bb.array())
    }
    def mdhd(lang: String): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(if (v1) 32 else 20)
      if (v1) bb.putLong(0L).putLong(0L).putInt(timescale).putLong(durMs)
      else bb.putInt(0).putInt(0).putInt(timescale).putInt(durMs.toInt)
      bb.putShort(langPack(lang).toShort).putShort(0)
      full("mdhd", if (v1) 1 else 0, bb.array())
    }
    def hdlr(kind: String): Array[Byte] =
      full("hdlr", 0, java.nio.ByteBuffer.allocate(21)
        .putInt(0).put(kind.getBytes("US-ASCII")).putInt(0).putInt(0)
        .putInt(0).put(0.toByte).array())
    def stsd(fourcc: String): Array[Byte] = {
      // one minimal 16-byte sample entry: size + fourcc + 6 reserved
      // + data_reference_index
      val entry = java.nio.ByteBuffer.allocate(16)
        .putInt(16).put(fourcc.getBytes("US-ASCII"))
        .putInt(0).putShort(0).putShort(1).array()
      full("stsd", 0,
        java.nio.ByteBuffer.allocate(4).putInt(1).array() ++ entry)
    }
    // sample tables (video trak only, when frames > 0): one uniform
    // stts run of `frames` samples at delta = durMs/frames timescale
    // units, and — when gop > 0 — an stss marking samples 1, 1+gop, …
    // as sync (gop = 0 omits stss: every sample is sync per the spec)
    def stts: Array[Byte] = {
      val delta = (durMs / math.max(1, frames)).toInt
      full("stts", 0, java.nio.ByteBuffer.allocate(12)
        .putInt(1).putInt(frames).putInt(delta).array())
    }
    def stss: Array[Byte] = {
      val syncs = (1 to frames by gop).toArray
      val bb = java.nio.ByteBuffer.allocate(4 + 4 * syncs.length).putInt(syncs.length)
      syncs.foreach(bb.putInt)
      full("stss", 0, bb.array())
    }
    def trak(trackId: Int, w: Int, h: Int, kind: String, fourcc: String,
             lang: String, tables: Seq[Array[Byte]]): Array[Byte] =
      bmffBox("trak", tkhd(trackId, w, h),
        bmffBox("mdia", mdhd(lang), hdlr(kind),
          bmffBox("minf", bmffBox("stbl", (stsd(fourcc) +: tables): _*))))
    val ftyp = bmffBox("ftyp",
      "isom".getBytes("US-ASCII"), Array[Byte](0, 0, 0, 0))
    val videoTables =
      if (frames <= 0) Nil
      else if (gop > 0) Seq(stts, stss)
      else Seq(stts)
    val traks = trak(1, width, height, "vide", videoCodec, "und", videoTables) +:
      (if (withAudio) Seq(trak(2, 0, 0, "soun", audioCodec, "eng", Nil)) else Nil)
    ftyp ++ bmffBox("moov", (mvhd +: traks): _*)
  }

  private val syntheticMp4Udf = udf(
    (w: Int, h: Int, durMs: Long, withAudio: Boolean, codec: String) =>
      syntheticMp4(w, h, durMs, withAudio, codec))

  /** Column form of [[syntheticMp4]] for registered queries. */
  def syntheticMp4Col(width: Column, height: Column, durMs: Column,
                      withAudio: Column, videoCodec: Column): Column =
    syntheticMp4Udf(width.cast("int"), height.cast("int"),
      durMs.cast("long"), withAudio.cast("boolean"), videoCodec)

  private val syntheticMp4FramesUdf = udf(
    (w: Int, h: Int, durMs: Long, frames: Int, gop: Int) =>
      syntheticMp4(w, h, durMs, withAudio = false,
        frames = frames, gop = gop))

  /** Column form of [[syntheticMp4]] with sample tables (video-only
    * container) for registered queries.
    */
  def syntheticMp4FramesCol(width: Column, height: Column, durMs: Column,
                            frames: Column, gop: Column): Column =
    syntheticMp4FramesUdf(width.cast("int"), height.cast("int"),
      durMs.cast("long"), frames.cast("int"), gop.cast("int"))
}
