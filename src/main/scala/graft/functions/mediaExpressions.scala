package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `image_dims(bytes)`: container-format sniff + dimensions from the
  * HEADER BYTES ONLY — PNG (IHDR), GIF87a/89a (logical screen), BMP
  * (BITMAPINFOHEADER), JPEG (first SOF0/1/2/3/5/6/7/9/10/11/13/14/15
  * marker scan), WEBP (RIFF container: VP8 lossy frame tag / VP8L
  * lossless signature / VP8X canvas), TIFF (II/MM byte order + bounded
  * IFD walk for tags 256/257), and ISOBMFF — AVIF/HEIC/HEIF via the
  * `ftyp` brand list + a bounded box walk to the `ispe` pixel dims
  * (largest wins when thumbnails/aux images carry their own).
  * At 100 TB this is the point: a corpus
  * triage pass ("what formats, what resolutions, what's junk") must
  * not DECODE every payload — it reads ≤ a few dozen bytes per row
  * where [[graft.ops.Multimodal.ImageIoDecoder]] reads them all. The
  * same container-magic dispatch discipline as the workbook readers
  * (`sources/OrderedScan.scala`). Unrecognized, truncated or
  * non-image payloads return ("unknown", -1, -1) — a triage scan must
  * never kill the task on junk bytes. Returns struct(format STRING,
  * width INT, height INT); dimensions are what the header CLAIMS
  * (hostile headers lie — pair with a decode stage before trusting
  * them downstream).
  *
  * Codegen: native `doGenCode` (whole-stage codegen emits one static
  * call into the branch-free sniffer — no interpreted `eval` chain,
  * no ScalaUDF row boxing), keeping the repo's "no CodegenFallback on
  * hot paths" contract. */
case class ImageDimsExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    ImageDimsExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ImageDimsExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "image_dims"
}

object ImageDimsExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le24(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): InternalRow = {
    val (f, w, h) = sniff(b)
    InternalRow(UTF8String.fromString(f), w, h)
  }

  /** (format, width, height); ("unknown", -1, -1) when unrecognized. */
  def sniff(b: Array[Byte]): (String, Int, Int) = {
    if (b == null) return ("unknown", -1, -1)
    // PNG: 8-byte signature, IHDR is always the first chunk
    if (b.length >= 24 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && u8(b, 4) == 0x0d && u8(b, 5) == 0x0a &&
        u8(b, 6) == 0x1a && u8(b, 7) == 0x0a)
      return ("png", be32(b, 16), be32(b, 20))
    // GIF87a/89a: logical screen descriptor, little-endian u16
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return ("gif", le16(b, 6), le16(b, 8))
    // BMP: BITMAPINFOHEADER; height may be negative (top-down rows)
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
      return ("bmp", le32(b, 18), math.abs(le32(b, 22)))
    // WEBP: RIFF container, first payload chunk carries the dims —
    // VP8 (lossy: 3-byte frame tag, 9D 01 2A sync, 14-bit dims),
    // VP8L (lossless: 2F signature, 14-bit dims packed LE), or
    // VP8X (extended: 24-bit canvas size minus one)
    if (b.length >= 16 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P') {
      if (b.length >= 30 && b(12) == 'V' && b(13) == 'P' && b(14) == '8' &&
          b(15) == ' ' && u8(b, 23) == 0x9d && u8(b, 24) == 0x01 &&
          u8(b, 25) == 0x2a)
        return ("webp", le16(b, 26) & 0x3fff, le16(b, 28) & 0x3fff)
      if (b.length >= 25 && b(12) == 'V' && b(13) == 'P' && b(14) == '8' &&
          b(15) == 'L' && u8(b, 20) == 0x2f) {
        val bits = le32(b, 21)
        return ("webp", (bits & 0x3fff) + 1, ((bits >>> 14) & 0x3fff) + 1)
      }
      if (b.length >= 30 && b(12) == 'V' && b(13) == 'P' && b(14) == '8' &&
          b(15) == 'X')
        return ("webp", le24(b, 24) + 1, le24(b, 27) + 1)
      return ("unknown", -1, -1)
    }
    // TIFF: II (LE) / MM (BE) byte order + magic 42, then a BOUNDED
    // IFD walk for ImageWidth(256)/ImageLength(257); only inline
    // SHORT/LONG values count — dims behind an out-of-buffer offset
    // stay unknown (a header triage never chases file offsets)
    if (b.length >= 8 &&
        ((b(0) == 'I' && b(1) == 'I' && u8(b, 2) == 0x2a && u8(b, 3) == 0) ||
         (b(0) == 'M' && b(1) == 'M' && u8(b, 2) == 0 && u8(b, 3) == 0x2a))) {
      val le = b(0) == 'I'
      def r16(i: Int): Int = if (le) le16(b, i) else be16(b, i)
      def r32(i: Int): Int = if (le) le32(b, i) else be32(b, i)
      val ifd = r32(4)
      // `ifd + 2 <= b.length` wraps for ifd near Int.MaxValue; the
      // subtraction form cannot overflow (b.length >= 8 here)
      if (ifd >= 8 && ifd <= b.length - 2) {
        val n = r16(ifd)
        var w = -1; var h = -1; var k = 0
        while (k < n && ifd + 2 + 12 * (k + 1) <= b.length) {
          val e = ifd + 2 + 12 * k
          val tag = r16(e); val typ = r16(e + 2); val cnt = r32(e + 4)
          if (cnt == 1 && (typ == 3 || typ == 4)) {
            // value left-justified in the 4-byte field for both orders
            val v = if (typ == 3) r16(e + 8) else r32(e + 8)
            if (tag == 256) w = v else if (tag == 257) h = v
          }
          k += 1
        }
        if (w > 0 && h > 0) return ("tiff", w, h)
      }
      return ("unknown", -1, -1)
    }
    // ISOBMFF (AVIF / HEIC / HEIF): a top-level `ftyp` box, brands
    // deciding the format, then a bounded box walk meta → iprp →
    // ipco → ispe for the claimed pixel dims
    if (b.length >= 16 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
        b(7) == 'p')
      return isobmff(b)
    // JPEG: scan segments for the first SOF marker
    if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return ("unknown", -1, -1)
        var j = i
        while (j < b.length && u8(b, j) == 0xff) j += 1 // fill bytes
        if (j >= b.length) return ("unknown", -1, -1)
        val m = u8(b, j)
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (j + 8 < b.length) return ("jpeg", be16(b, j + 6), be16(b, j + 4))
          return ("unknown", -1, -1)
        }
        if (m == 0xd9 || m == 0xda) return ("unknown", -1, -1) // EOI/SOS before SOF
        if (j + 2 >= b.length) return ("unknown", -1, -1)
        val len = be16(b, j + 1)
        if (len < 2) return ("unknown", -1, -1)
        i = j + 1 + len
      }
      return ("unknown", -1, -1)
    }
    ("unknown", -1, -1)
  }

  /** ISOBMFF triage (AVIF/HEIC/HEIF): the `ftyp` brand list names the
    * format; dims come from the `ispe` property boxes under
    * meta → iprp → ipco. When several `ispe` exist (thumbnails, alpha
    * aux images), the LARGEST area is reported — the primary item in
    * practice; full `ipma` association resolution is a decode concern,
    * not a triage one. Box sizes 0 (to-end) and 1 (64-bit largesize,
    * accepted only when it fits the buffer) handled; the walk is
    * bounded (≤64 children per level, fixed depth), never chases
    * offsets past the buffer. A recognized brand without a readable
    * `ispe` reports (format, -1, -1). */
  private def isobmff(b: Array[Byte]): (String, Int, Int) = {
    val L = b.length
    val ftypSize = be32(b, 0)
    if (ftypSize < 16 || ftypSize > L) return ("unknown", -1, -1)
    var isAvif = false; var isHeic = false; var isHeif = false
    var i = 8
    while (i + 4 <= ftypSize) {
      if (i != 12) { // offset 12 is minor_version, not a brand
        be32(b, i) match {
          case 0x61766966 | 0x61766973 => isAvif = true // avif avis
          case 0x68656963 | 0x68656978 | 0x68657663 => isHeic = true // heic heix hevc
          case 0x6d696631 | 0x6d736631 | 0x68656966 => isHeif = true // mif1 msf1 heif
          case _ => ()
        }
      }
      i += 4
    }
    if (!isAvif && !isHeic && !isHeif) return ("unknown", -1, -1)
    val fmt = if (isAvif) "avif" else if (isHeic) "heic" else "heif"
    var bestArea = -1L; var bw = -1; var bh = -1
    // one box level: invoke f(fourcc, payloadStart, boxEnd) per child
    def children(start: Int, end: Int, f: (Int, Int, Int) => Unit): Unit = {
      var p = start
      var guard = 0
      while (p + 8 <= end && guard < 64) {
        guard += 1
        var size = be32(b, p).toLong & 0xffffffffL
        var hdr = 8
        if (size == 1) {
          if (p + 16 > end) return
          if (be32(b, p + 8) != 0) return // >4 GiB cannot fit the buffer
          size = be32(b, p + 12).toLong & 0xffffffffL
          hdr = 16
        } else if (size == 0) size = (end - p).toLong
        if (size < hdr || size > end - p) return
        f(be32(b, p + 4), p + hdr, p + size.toInt)
        p += size.toInt
      }
    }
    children(0, L, (t1, s1, e1) =>
      if (t1 == 0x6d657461 && e1 - s1 >= 4) // meta (FullBox)
        children(s1 + 4, e1, (t2, s2, e2) =>
          if (t2 == 0x69707270) // iprp
            children(s2, e2, (t3, s3, e3) =>
              if (t3 == 0x6970636f) // ipco
                children(s3, e3, (t4, s4, e4) =>
                  if (t4 == 0x69737065 && e4 - s4 >= 12) { // ispe (FullBox)
                    val w = be32(b, s4 + 4); val h = be32(b, s4 + 8)
                    if (w > 0 && h > 0 && w.toLong * h > bestArea) {
                      bestArea = w.toLong * h; bw = w; bh = h
                    }
                  }))))
    (fmt, bw, bh)
  }
}

/** `audio_meta(bytes)`: [[ImageDimsExpression]]'s audio sibling —
  * container format + CLAIMED stream parameters from the header bytes
  * only. WAV (RIFF/WAVE + bounded chunk walk to `fmt `: channels,
  * sample rate, bits per sample), FLAC (fLaC + the mandatory
  * first-block STREAMINFO bit-packed fields), and MP3 (first frame
  * header after an optional ID3v2 envelope: version/layer validity,
  * sample-rate table, mono/stereo mode; bits_per_sample is −1 —
  * lossy streams have none). Junk, truncated or non-audio payloads →
  * ("unknown", -1, -1, -1); same never-kill-the-task triage
  * discipline as `image_dims`, same native `doGenCode`. Returns
  * struct(format STRING, channels INT, sample_rate INT,
  * bits_per_sample INT). */
case class AudioMetaExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    AudioMetaExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AudioMetaExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "audio_meta"
}

object AudioMetaExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): InternalRow = {
    val (f, ch, rate, bits) = sniff(b)
    InternalRow(UTF8String.fromString(f), ch, rate, bits)
  }

  /** (format, channels, sample_rate, bits_per_sample);
    * ("unknown", -1, -1, -1) when unrecognized. */
  def sniff(b: Array[Byte]): (String, Int, Int, Int) = {
    if (b == null) return ("unknown", -1, -1, -1)
    // WAV: RIFF/WAVE + even-padded chunk walk to the `fmt ` chunk
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E') {
      var p = 12
      while (p + 8 <= b.length) {
        val sz = le32(b, p + 4)
        if (sz < 0) return ("unknown", -1, -1, -1)
        if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' &&
            b(p + 3) == ' ') {
          if (sz >= 16 && p + 8 + 16 <= b.length) {
            val ch = le16(b, p + 10)
            val rate = le32(b, p + 12)
            val bits = le16(b, p + 22)
            if (ch > 0 && rate > 0 && bits > 0) return ("wav", ch, rate, bits)
          }
          return ("unknown", -1, -1, -1)
        }
        // a hostile sz near Int.MaxValue would wrap `p + 8 + sz`
        // negative and alias back into the buffer — compare against the
        // remaining bytes instead of advancing, so adversarial length
        // fields triage to unknown, never throw
        if (sz > b.length - p - 8) return ("unknown", -1, -1, -1)
        p += 8 + sz + (sz & 1)
      }
      return ("unknown", -1, -1, -1)
    }
    // FLAC: fLaC magic; STREAMINFO is the mandatory FIRST metadata
    // block (type 0) — sample rate 20 bits, channels-1 3 bits,
    // bits-per-sample-1 5 bits, packed big-endian from byte 18
    if (b.length >= 22 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
        b(3) == 'C' && (u8(b, 4) & 0x7f) == 0) {
      val rate = (u8(b, 18) << 12) | (u8(b, 19) << 4) | (u8(b, 20) >>> 4)
      val ch = ((u8(b, 20) >>> 1) & 0x7) + 1
      val bits = (((u8(b, 20) & 1) << 4) | (u8(b, 21) >>> 4)) + 1
      if (rate > 0) return ("flac", ch, rate, bits)
      return ("unknown", -1, -1, -1)
    }
    // MP3: first frame header, optionally behind an ID3v2 tag whose
    // syncsafe length we skip (never scan the whole payload — triage
    // reads a bounded prefix). Frame sync = 11 set bits; version/layer/
    // sample-rate-index reserved values → unknown.
    var off = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
      off = 10 + (((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f))
    if (off >= 0 && b.length >= off + 4 && u8(b, off) == 0xff &&
        (u8(b, off + 1) & 0xe0) == 0xe0) {
      val ver = (u8(b, off + 1) >>> 3) & 3   // 0=MPEG2.5, 2=MPEG2, 3=MPEG1
      val layer = (u8(b, off + 1) >>> 1) & 3 // 0 reserved
      val srIdx = (u8(b, off + 2) >>> 2) & 3 // 3 reserved
      if (ver != 1 && layer != 0 && srIdx != 3) {
        val rate = (ver, srIdx) match {
          case (3, 0) => 44100; case (3, 1) => 48000; case (3, 2) => 32000
          case (2, 0) => 22050; case (2, 1) => 24000; case (2, 2) => 16000
          case (_, 0) => 11025; case (_, 1) => 12000; case _ => 8000
        }
        val ch = if ((u8(b, off + 3) >>> 6) == 3) 1 else 2
        return ("mp3", ch, rate, -1)
      }
      return ("unknown", -1, -1, -1)
    }
    ("unknown", -1, -1, -1)
  }
}

/** `video_meta(bytes)`: the video sibling of [[ImageDimsExpression]] /
  * [[AudioMetaExpression]] — container format + CLAIMED track
  * dimensions from the header bytes only, covering the two containers
  * a modern crawl actually carries:
  *
  *  - MP4/ISO-BMFF (ISO 14496-12): bounded top-level box walk (32-bit
  *    and 64-bit `largesize` boxes, size-0 extends-to-EOF) to
  *    `moov` → `trak` → `tkhd`, whose version-0/version-1 layouts put
  *    the 16.16 fixed-point presentation width/height at payload
  *    offset 76 / 88. Detection keys on the mandatory leading `ftyp`.
  *  - WebM / Matroska (EBML, RFC 8794): vint-ID walk through
  *    EBML-header → DocType, then Segment → Tracks → TrackEntry →
  *    Video → PixelWidth/PixelHeight; unknown-size elements (all value
  *    bits set — common on live-remuxed Segments) extend to the end of
  *    the sniffed prefix. DocType "webm" → webm, "matroska" (or
  *    absent — the spec default) → mkv.
  *
  * All offset arithmetic runs in Long so hostile 32-bit box sizes /
  * 56-bit vint sizes triage to ("unknown", −1, −1) instead of wrapping
  * into an ArrayIndexOutOfBounds — the same never-kill-the-task
  * discipline as the image/audio walks, same native `doGenCode`.
  * Dimensions are what the header CLAIMS. Returns
  * struct(format STRING, width INT, height INT). */
case class VideoMetaExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    VideoMetaExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VideoMetaExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "video_meta"
}

object VideoMetaExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def be32u(b: Array[Byte], i: Int): Long = be32(b, i) & 0xffffffffL
  private def be64(b: Array[Byte], i: Int): Long =
    (be32u(b, i) << 32) | be32u(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int): Int = be32(b, i)

  private val Moov = 0x6d6f6f76 // "moov"
  private val Trak = 0x7472616b // "trak"
  private val Tkhd = 0x746b6864 // "tkhd"

  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): InternalRow = {
    val (f, w, h) = sniff(b)
    InternalRow(UTF8String.fromString(f), w, h)
  }

  /** First child box of type `typ` in [from, to); (payloadStart,
    * boxEnd) or null. Long arithmetic throughout: a hostile size field
    * (32-bit 0xFFFFFFF0, or a 64-bit largesize) must compare, not
    * wrap. */
  private def findBox(b: Array[Byte], from: Long, to: Long, typ: Int): (Long, Long) = {
    var p = from
    while (p + 8 <= to) {
      var sz = be32u(b, p.toInt)
      var hdr = 8L
      if (sz == 1L) { // 64-bit largesize follows the type
        if (p + 16 > to) return null
        sz = be64(b, (p + 8).toInt); hdr = 16L
      } else if (sz == 0L) sz = to - p // box extends to EOF
      if (sz < hdr || sz > to - p) return null // malformed / truncated
      if (fourcc(b, (p + 4).toInt) == typ) return (p + hdr, p + sz)
      p += sz
    }
    null
  }

  /** EBML vint at `p`: (value, byteLength) or null. `keepMarker` for
    * element IDs (stored with the length-marker bit, matching the
    * spec's ID constants); cleared for sizes. */
  private def vint(b: Array[Byte], p: Long, end: Long, keepMarker: Boolean): (Long, Int) = {
    if (p >= end) return null
    val first = u8(b, p.toInt)
    if (first == 0) return null // length > 8: triage never chases those
    val n = java.lang.Integer.numberOfLeadingZeros(first) - 23
    if (p + n > end) return null
    var v: Long = if (keepMarker) first.toLong
      else (first & ((1 << (8 - n)) - 1)).toLong
    var i = 1
    while (i < n) { v = (v << 8) | u8(b, (p + i).toInt); i += 1 }
    (v, n)
  }

  /** First child element with ID `want` in [from, to); (contentStart,
    * contentEnd) or null. An unknown-size element (all value bits set)
    * extends to `to` when it IS the wanted one and ends the walk
    * otherwise (its extent is undecidable without schema knowledge —
    * a bounded triage stops there). Walk capped at 64 siblings. */
  private def findEbml(b: Array[Byte], from: Long, to: Long, want: Long): (Long, Long) = {
    var p = from
    var guard = 0
    while (p < to && guard < 64) {
      guard += 1
      val id = vint(b, p, to, keepMarker = true)
      if (id == null) return null
      val sz = vint(b, p + id._2, to, keepMarker = false)
      if (sz == null) return null
      val cs = p + id._2 + sz._2
      val unknownSz = sz._1 == (1L << (7 * sz._2)) - 1
      val ce = if (unknownSz) to else cs + sz._1
      if (ce < cs || ce > to) return null // hostile size: triage out
      if (id._1 == want) return (cs, ce)
      if (unknownSz) return null
      p = ce
    }
    null
  }

  /** Unsigned big-endian integer element content; -1 when absent,
    * empty, oversized, or out of Int range. */
  private def ebmlUint(b: Array[Byte], bounds: (Long, Long)): Int = {
    if (bounds == null) return -1
    val n = bounds._2 - bounds._1
    if (n < 1 || n > 8) return -1
    var v = 0L
    var i = bounds._1
    while (i < bounds._2) { v = (v << 8) | u8(b, i.toInt); i += 1 }
    if (v > 0 && v <= Int.MaxValue) v.toInt else -1
  }

  /** (format, width, height); ("unknown", -1, -1) when unrecognized. */
  def sniff(b: Array[Byte]): (String, Int, Int) = {
    if (b == null) return ("unknown", -1, -1)
    val len = b.length.toLong
    // ISO-BMFF: the mandatory ftyp leads; walk to moov/trak/tkhd
    if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
        b(7) == 'p') {
      val moov = findBox(b, 0L, len, Moov)
      if (moov == null) return ("unknown", -1, -1)
      val trak = findBox(b, moov._1, moov._2, Trak)
      if (trak == null) return ("unknown", -1, -1)
      val tkhd = findBox(b, trak._1, trak._2, Tkhd)
      if (tkhd == null) return ("unknown", -1, -1)
      val q = tkhd._1
      if (q >= tkhd._2) return ("unknown", -1, -1)
      // v0: 4 (ver/flags) + 20 (times/id/reserved/duration) + 16
      // (reserved/layer/group/volume/reserved) + 36 (matrix) = 76;
      // v1 widens the three time fields to 64-bit: + 12
      val off = if (u8(b, q.toInt) == 1) 88L else 76L
      if (q + off + 8 <= tkhd._2) {
        val w = be32(b, (q + off).toInt) >>> 16 // 16.16 fixed-point
        val h = be32(b, (q + off + 4).toInt) >>> 16
        if (w > 0 && h > 0) return ("mp4", w, h)
      }
      return ("unknown", -1, -1)
    }
    // EBML (WebM/Matroska): 0x1A45DFA3 header magic
    if (b.length >= 4 && u8(b, 0) == 0x1a && u8(b, 1) == 0x45 &&
        u8(b, 2) == 0xdf && u8(b, 3) == 0xa3) {
      val hdr = findEbml(b, 0L, len, 0x1a45dfa3L)
      if (hdr == null) return ("unknown", -1, -1)
      val docType = {
        val dt = findEbml(b, hdr._1, hdr._2, 0x4282L)
        if (dt == null) null
        else new String(b, dt._1.toInt, (dt._2 - dt._1).toInt, "US-ASCII")
      }
      val fmt = docType match {
        case "webm"            => "webm"
        case "matroska" | null => "mkv" // spec default DocType
        case _                 => return ("unknown", -1, -1)
      }
      val seg = findEbml(b, hdr._2, len, 0x18538067L)
      if (seg == null) return ("unknown", -1, -1)
      val tracks = findEbml(b, seg._1, seg._2, 0x1654ae6bL)
      if (tracks == null) return ("unknown", -1, -1)
      val entry = findEbml(b, tracks._1, tracks._2, 0xaeL)
      if (entry == null) return ("unknown", -1, -1)
      val video = findEbml(b, entry._1, entry._2, 0xe0L)
      if (video == null) return ("unknown", -1, -1)
      val w = ebmlUint(b, findEbml(b, video._1, video._2, 0xb0L))
      val h = ebmlUint(b, findEbml(b, video._1, video._2, 0xbaL))
      if (w > 0 && h > 0) return (fmt, w, h)
      return ("unknown", -1, -1)
    }
    ("unknown", -1, -1)
  }
}

/** `dhash64(bytes)`: perceptual difference-hash over raster images —
  * uncompressed 24-bit BMP (direct pixel reads), PNG (streaming
  * RFC 2083 decode: zlib inflate + the five filter types, sequential
  * AND Adam7 interlaced, [[PngLuma]]), JPEG (ITU T.81 Huffman decode,
  * luma DC coefficients = the ⅛-scale thumbnail — baseline,
  * multi-scan sequential AND progressive SOF2, [[JpegDcLuma]]), GIF
  * (first-frame LZW decode, [[GifLuma]]), and WebP VP8L lossless
  * ([[WebpLuma]]). All five
  * sample the same 9×8 nearest-neighbor luma grid — for BMP that is
  * 72 pixel reads per image REGARDLESS of size; for the compressed
  * formats the decode is linear in true pixel count and CAPPED
  * ([[PngLuma.MaxPixels]] / [[WebpLuma.MaxPixelsVp8l]]) so one
  * crafted header can't buy unbounded
  * work — takes integer Rec.601 luma per sample, and packs
  * bit(r, c) = lum(r, c) < lum(r, c+1) into a 64-bit key (bit index
  * r·8+c). The standard public dHash construction (difference hash,
  * as popularized by Krawetz): near-identical images land within a few
  * Hamming bits, which [[graft.ops.Dedup.hashNearDups]] turns into a
  * banded join. A BMP, a PNG and a blockwise-constant baseline JPEG of
  * the same pixels hash IDENTICALLY (spec-pinned), so cross-format
  * near-dups pair up. NULL for anything else — junk, truncation,
  * hostile headers, unsupported variants (lossy-VP8 WebP, arithmetic
  * JPEG) — never an exception. All offset arithmetic in Long
  * (crawl-scale lesson: 32-bit offset math overflows on multi-GB
  * claimed sizes). */
case class DHash64Expression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    DHash64Expression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("dh")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long $boxed = graft.functions.DHash64Expression.evalRow($c);
      if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.longValue(); }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "dhash64"
}

object DHash64Expression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Pack a 72-sample luma grid (8 rows × 9 cols row-major) into the
    * 64-bit difference hash: bit(r,c) = lum(r,c) < lum(r,c+1). */
  def packGrid(g: Array[Int]): java.lang.Long = {
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (g(r * 9 + c) < g(r * 9 + c + 1)) hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    java.lang.Long.valueOf(hash)
  }

  /** Codegen entry point: one static call per row; null = not a
    * decodable BMP/PNG/baseline-JPEG (or pixel data out of bounds). */
  def evalRow(b: Array[Byte]): java.lang.Long = {
    if (b == null) return null
    // PNG: signature dispatch, streaming decode to the sample grid
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G') {
      val g = PngLuma.sampleGrid(b)
      return if (g == null) null else packGrid(g)
    }
    // baseline JPEG: DC-thumbnail decode to the sample grid
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      val g = JpegDcLuma.sampleGrid(b)
      return if (g == null) null else packGrid(g)
    }
    // GIF: LZW decode of the first frame to the sample grid
    if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') {
      val g = GifLuma.sampleGrid(b)
      return if (g == null) null else packGrid(g)
    }
    // WebP: VP8L lossless decode (lossy VP8 is the documented null)
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P') {
      val g = WebpLuma.sampleGrid(b)
      return if (g == null) null else packGrid(g)
    }
    // TIFF: uncompressed strips are random access — 72 direct reads
    if (b.length >= 8 && ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 &&
        b(3) == 0) || (b(0) == 'M' && b(1) == 'M' && b(2) == 0 &&
        b(3) == 42))) {
      val g = TiffLuma.sampleGrid(b)
      return if (g == null) null else packGrid(g)
    }
    if (b.length < 54) return null
    if (b(0) != 'B' || b(1) != 'M') return null
    val off = le32(b, 10)
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val bpp = le16(b, 28)
    val comp = le32(b, 30)
    // hRaw == Int.MinValue survives the != 0 gate but math.abs keeps it
    // negative (two's complement); reject it explicitly or the pixel
    // loop walks negative rows
    if (w < 1 || hRaw == 0 || hRaw == Int.MinValue || bpp != 24 || comp != 0)
      return null
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    val stride = ((w.toLong * 3L + 3L) / 4L) * 4L
    // division form: `off + stride * h > b.length` overflows Long for
    // w,h both near 2^31 (stride*h ~ 1.4e19), silently skipping the
    // guard and truncating pixel offsets to garbage Ints. stride >= 4
    // here so the division is safe and exact enough (flooring only
    // ADMITS h values whose full product still fits the buffer).
    if (off < 54 || h.toLong > (b.length - off) / stride) return null
    var hash = 0L
    var r = 0
    while (r < 8) {
      val y = if (h == 1) 0 else ((h - 1).toLong * r / 7L).toInt
      val row = if (topDown) y else h - 1 - y
      var prev = 0
      var c = 0
      while (c <= 8) {
        val x = if (w == 1) 0 else ((w - 1).toLong * c / 8L).toInt
        val p = (off.toLong + row * stride + x * 3L).toInt
        val lum = (u8(b, p + 2) * 299 + u8(b, p + 1) * 587 + u8(b, p) * 114) / 1000
        if (c > 0 && prev < lum) hash |= 1L << (r * 8 + (c - 1))
        prev = lum
        c += 1
      }
      r += 1
    }
    java.lang.Long.valueOf(hash)
  }
}

/** `dhash64_oriented(bytes)`: [[DHash64Expression]] normalized by the
  * EXIF orientation tag — the hash of the image AS DISPLAYED. A phone
  * camera stores the sensor raster and sets tag 274; the same photo
  * re-saved by an editor is stored upright with no tag. Under the
  * plain dHash those two land ≫3 Hamming bits apart and never pair;
  * here the tag-274 transform is applied to the 72-sample grid BEFORE
  * hashing (grid-cell index mapping — zero pixel work), so rotated /
  * mirrored duplicates collide exactly. JPEG-only by construction
  * (EXIF travels in JPEG APP1 here); other formats hash as
  * [[DHash64Expression]]. Missing or garbage orientation values mean
  * "as stored", matching every renderer's fallback. */
case class DHash64OrientedExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    DHash64OrientedExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("dho")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long $boxed = graft.functions.DHash64OrientedExpression.evalRow($c);
      if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.longValue(); }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "dhash64_oriented"
}

object DHash64OrientedExpression {
  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): java.lang.Long = {
    if (b == null) return null
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      val o = ExifMetaExpression.scan(b)._2 // -1 when absent
      val g = JpegDcLuma.sampleGrid(b, o)
      return if (g == null) null else DHash64Expression.packGrid(g)
    }
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P') {
      // VP8X containers carry EXIF chunks — same normalization
      val g = WebpLuma.sampleGrid(b, WebpLuma.exifOrientation(b))
      return if (g == null) null else DHash64Expression.packGrid(g)
    }
    if (b.length >= 45 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G') {
      // PNG Third Edition's eXIf chunk — same normalization
      val g = PngLuma.sampleGrid(b, ExifMetaExpression.scan(b)._2)
      return if (g == null) null else DHash64Expression.packGrid(g)
    }
    if (b.length >= 8 && ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 &&
        b(3) == 0) || (b(0) == 'M' && b(1) == 'M' && b(2) == 0 &&
        b(3) == 42))) {
      // TIFF carries tag 274 natively in IFD0 (exif_meta's bare-TIFF path)
      val g = TiffLuma.sampleGrid(b, ExifMetaExpression.scan(b)._2)
      return if (g == null) null else DHash64Expression.packGrid(g)
    }
    DHash64Expression.evalRow(b) // no EXIF channel in GIF/BMP
  }
}

/** `audio_pcm_stats(bytes)`: EXACT integer signal statistics over real
  * 16-bit PCM WAV bytes — the audio sibling of [[DHash64Expression]]'s
  * real-pixel scope (PCM is the one mainstream audio encoding readable
  * without a codec). Walks the RIFF chunks to `fmt ` (must be
  * format 1, 16-bit) and `data`, then measures the FIRST `maxFrames`
  * frames only — bounded work per record regardless of file length,
  * the corpus-triage discipline ([[AudioMetaExpression]] reads
  * headers; this reads a bounded sample window). Emits exact integers
  * (no float RMS — `sum_sq`/`n_measured` lets the caller derive any
  * loudness measure while staying engine-portable): (sample_rate,
  * channels, n_frames, n_measured frames, sum_sq, peak, clipped
  * full-scale sample count). NULL for anything not a well-formed
  * 16-bit PCM WAV — hostile bytes are data, never an exception; all
  * chunk arithmetic guards the wrap-around cases the round-13 fuzz
  * taught. */
case class AudioPcmStatsExpression(child: Expression, maxFrames: Int)
    extends UnaryExpression {
  require(maxFrames > 0, s"audio_pcm_stats: maxFrames=$maxFrames")
  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("n_measured", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("clipped", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    AudioPcmStatsExpression.evalRow(input.asInstanceOf[Array[Byte]], maxFrames)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("pcm")
    nullSafeCodeGen(ctx, ev, c => s"""
      InternalRow $r = graft.functions.AudioPcmStatsExpression.evalRow($c, $maxFrames);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "audio_pcm_stats"
}

object AudioPcmStatsExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def s16(b: Array[Byte], i: Int): Int = (le16(b, i) << 16) >> 16
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Codegen entry point; null = not a 16-bit PCM WAV. */
  def evalRow(b: Array[Byte], maxFrames: Int): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var rate = -1; var ch = -1; var bits = -1; var fmtCode = -1
    var dataOff = -1; var dataLen = -1L
    while (p + 8 <= b.length && (rate < 0 || dataOff < 0)) {
      val sz = le32(b, p + 4)
      if (sz < 0 || sz > b.length - p - 8) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        if (sz < 16) return null
        fmtCode = le16(b, p + 8)
        ch = le16(b, p + 10)
        rate = le32(b, p + 12)
        bits = le16(b, p + 22)
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
          b(p + 3) == 'a') {
        dataOff = p + 8
        dataLen = sz.toLong
      }
      p += 8 + sz + (sz & 1)
    }
    if (fmtCode != 1 || bits != 16 || ch <= 0 || rate <= 0 || dataOff < 0)
      return null
    val blockAlign = ch.toLong * 2L
    val nFrames = dataLen / blockAlign
    val m = math.min(nFrames, maxFrames.toLong).toInt
    var sumSq = 0L
    var peak = 0
    var clipped = 0
    var i = 0
    val nSamples = m * ch
    while (i < nSamples) {
      val s = s16(b, dataOff + i * 2)
      sumSq += s.toLong * s
      val a = math.abs(s)
      if (a > peak) peak = a
      if (s == 32767 || s == -32768) clipped += 1
      i += 1
    }
    InternalRow(rate, ch, nFrames, m, sumSq, peak, clipped)
  }
}

/** `audio_fingerprint(bytes, maxFrames)`: a 61-bit ENERGY-DELTA
  * fingerprint over PCM WAV audio — the audio analogue of the image
  * dHash, built so the SAME RECORDING survives the transcodes a crawl
  * actually carries. The signal is folded to one channel (per-frame
  * channel SUM — a uniform scale, see below), split into 32
  * equal-TIME windows, and each window's integer energy Σs² is
  * compared to its neighbours: bits 0–30 are adjacent-window deltas
  * (`e_w ≻ e_{w+1}`), bits 31–60 skip-one deltas (`e_w ≻ e_{w+2}`,
  * a coarser envelope that keeps Hamming distance meaningful when one
  * window boundary lands differently). Every comparison is
  * CROSS-MULTIPLIED against the window frame counts
  * (`e_a·n_b > e_b·n_a`) so the fingerprint is invariant under the
  * three transcode axes, exactly:
  *  - bit depth: 8-bit unsigned PCM decodes as `(u−128)·256`, the
  *    16-bit quantization ladder — same energies, same bits;
  *  - channel layout: a mono source duplicated to stereo doubles the
  *    channel sum, scaling every window energy by 4 uniformly —
  *    cross-multiplied comparisons are scale-free;
  *  - sample rate: equal-TIME windows mean a resampled copy scales
  *    every window's energy AND count together.
  * Fingerprints feed the same banded near-dup join as the image
  * hashes ([[graft.ops.Dedup.hashNearDups]]) — map-only here, one
  * banded equi-join there, never an all-pairs comparison. Junk,
  * truncated, compressed (non-PCM fmt), 24/32-bit, or >8-channel
  * payloads → NULL, never a throw. Bounds: `maxFrames ≤ 2^18` keeps
  * every cross-product under 2^62 (n ≤ 2^13 per window, channel sum
  * ≤ 2^18, so e·n ≤ 2^13·2^36·2^13). */
case class AudioFingerprintExpression(child: Expression, maxFrames: Int)
    extends UnaryExpression {
  require(maxFrames >= 32 && maxFrames <= (1 << 18),
    s"audio_fingerprint: maxFrames must be in [32, 262144], got $maxFrames")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    AudioFingerprintExpression.evalLong(input.asInstanceOf[Array[Byte]], maxFrames)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("afp")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long $boxed = graft.functions.AudioFingerprintExpression.evalLong($c, $maxFrames);
      if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.longValue(); }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "audio_fingerprint"
}

object AudioFingerprintExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def s16(b: Array[Byte], i: Int): Int = (le16(b, i) << 16) >> 16
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private final val Windows = 32

  /** Codegen entry point; null = not an 8/16-bit PCM WAV. */
  def evalLong(b: Array[Byte], maxFrames: Int): java.lang.Long = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var rate = -1; var ch = -1; var bits = -1; var fmtCode = -1
    var dataOff = -1; var dataLen = -1L
    while (p + 8 <= b.length && (rate < 0 || dataOff < 0)) {
      val sz = le32(b, p + 4)
      if (sz < 0 || sz > b.length - p - 8) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        if (sz < 16) return null
        fmtCode = le16(b, p + 8)
        ch = le16(b, p + 10)
        rate = le32(b, p + 12)
        bits = le16(b, p + 22)
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
          b(p + 3) == 'a') {
        dataOff = p + 8
        dataLen = sz.toLong
      }
      p += 8 + sz + (sz & 1)
    }
    if (fmtCode != 1 || (bits != 8 && bits != 16) || ch <= 0 || ch > 8 ||
        rate <= 0 || dataOff < 0) return null
    val bytesPer = bits / 8
    val blockAlign = ch * bytesPer
    val nFrames = dataLen / blockAlign
    if (nFrames <= 0) return null
    val m = math.min(nFrames, maxFrames.toLong).toInt
    val e = new Array[Long](Windows)
    val n = new Array[Int](Windows)
    var j = 0
    while (j < m) {
      var s = 0
      var k = 0
      val base = dataOff + j * blockAlign
      while (k < ch) {
        val off = base + k * bytesPer
        s += (if (bits == 16) s16(b, off) else (u8(b, off) - 128) << 8)
        k += 1
      }
      val w = (j.toLong * Windows / m).toInt
      e(w) += s.toLong * s
      n(w) += 1
      j += 1
    }
    var fp = 0L
    var w = 0
    while (w < Windows - 1) {
      if (e(w) * n(w + 1) > e(w + 1) * n(w)) fp |= 1L << w
      w += 1
    }
    w = 0
    while (w < Windows - 2) {
      if (e(w) * n(w + 2) > e(w + 2) * n(w)) fp |= 1L << (31 + w)
      w += 1
    }
    java.lang.Long.valueOf(fp)
  }
}

/** `tiff_strip_gps(bytes)`: GPS-PII redaction for BARE TIFF files —
  * the one container the APP1-splice family cannot serve, because a
  * TIFF's EXIF directory IS its pixel directory: removing bytes would
  * shift every absolute offset (strip offsets, value pointers) in
  * the file. So the redaction is IN-PLACE: the tag-34853 GPS-IFD
  * pointer entry is retagged as padding (tag 0xEA1C, type UNDEFINED,
  * count/value 0 — readers skip it) and the GPS IFD it pointed at is
  * ZEROED wholesale (entry table + next-IFD pointer), so the
  * coordinates are gone from the bytes, not merely unreachable.
  * Pixels, orientation, and every other tag are byte-identical — the
  * p385 gate pins the oriented hash through the redaction.
  * Unparseable input returned unchanged (the strip family's
  * contract); GPS-less files pass through by reference. */
case class TiffStripGpsExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override protected def nullSafeEval(input: Any): Any =
    TiffStripGpsExpression.evalBytes(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TiffStripGpsExpression.evalBytes($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "tiff_strip_gps"
}

object TiffStripGpsExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  def evalBytes(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 8) return b
    val le =
      if (b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) true
      else if (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42) false
      else return b
    def u16(i: Int): Int =
      if (le) u8(b, i) | (u8(b, i + 1) << 8) else (u8(b, i) << 8) | u8(b, i + 1)
    def u32(i: Int): Long =
      if (le) (u16(i) | (u16(i + 2).toLong << 16)) & 0xffffffffL
      else ((u16(i).toLong << 16) | u16(i + 2)) & 0xffffffffL
    val ifd0 = u32(4)
    if (ifd0 < 8 || ifd0 + 2 > b.length) return b
    val ifd = ifd0.toInt
    val n = u16(ifd)
    if (n < 1 || n > 512 || ifd + 2 + n * 12 > b.length) return b
    var gpsEntry = -1
    var gpsOff = -1L
    var i = 0
    while (i < n && gpsEntry < 0) {
      val e = ifd + 2 + i * 12
      if (u16(e) == 34853) {
        gpsEntry = e
        val typ = u16(e + 2)
        gpsOff = if (typ == 3) u16(e + 8) else u32(e + 8)
      }
      i += 1
    }
    if (gpsEntry < 0) return b // no GPS channel: pass through
    val out = b.clone()
    def w16(i: Int, v: Int): Unit =
      if (le) { out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte }
      else { out(i) = (v >>> 8).toByte; out(i + 1) = v.toByte }
    // zero the pointed-at GPS IFD (entry table + next-IFD pointer),
    // bounded by the buffer — the coordinates leave the bytes
    if (gpsOff >= 8 && gpsOff + 2 <= b.length) {
      val g = gpsOff.toInt
      val n2 = u16(g)
      if (n2 <= 512) {
        val end = math.min(b.length.toLong, gpsOff + 2 + n2 * 12 + 4).toInt
        java.util.Arrays.fill(out, g, end, 0.toByte)
      }
    }
    // retag the pointer entry as padding: readers skip, triage clears
    w16(gpsEntry, 0xea1c)
    w16(gpsEntry + 2, 7) // UNDEFINED
    out(gpsEntry + 4) = 0; out(gpsEntry + 5) = 0
    out(gpsEntry + 6) = 0; out(gpsEntry + 7) = 0
    out(gpsEntry + 8) = 0; out(gpsEntry + 9) = 0
    out(gpsEntry + 10) = 0; out(gpsEntry + 11) = 0
    out
  }
}

/** `audio_meta_gov(bytes)`: audio METADATA governance triage — the
  * audio mirror of [[ExifMetaExpression]]. Audio files carry PII in
  * their tag channels the way images carry it in EXIF: ID3v2 frames
  * (artist/comment/GEOB geotags), ID3v1 trailers, WAV `LIST`/`INFO`
  * chunks, FLAC `VORBIS_COMMENT` blocks. This reads container magic
  * and walks ONLY the framing (sizes and block types — tag payloads
  * are never parsed: a triage reads envelopes, not contents),
  * reporting what is present and how many bytes it occupies — the
  * pre-redaction census a corpus governance pass needs. Junk or
  * truncated framing → ("unknown", 0, 0, 0, 0); never a throw.
  * Returns struct(container STRING, has_id3v2 INT, has_id3v1 INT,
  * has_comment INT, meta_bytes INT). */
case class AudioMetaGovExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("container", StringType, nullable = false),
    StructField("has_id3v2", IntegerType, nullable = false),
    StructField("has_id3v1", IntegerType, nullable = false),
    StructField("has_comment", IntegerType, nullable = false),
    StructField("meta_bytes", IntegerType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any =
    AudioMetaGovExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AudioMetaGovExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "audio_meta_gov"
}

object AudioMetaGovExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private val Unknown = InternalRow(UTF8String.fromString("unknown"), 0, 0, 0, 0)

  /** (id3v2 envelope length incl. optional footer, or 0). */
  private[functions] def id3v2Len(b: Array[Byte]): Int = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3') return 0
    // syncsafe 28-bit size; reject set high bits (corrupt framing)
    if ((u8(b, 6) | u8(b, 7) | u8(b, 8) | u8(b, 9)) >= 0x80) return 0
    val size = (u8(b, 6) << 21) | (u8(b, 7) << 14) | (u8(b, 8) << 7) | u8(b, 9)
    val footer = if ((u8(b, 5) & 0x10) != 0) 10 else 0
    val total = 10 + size + footer
    if (total > b.length) 0 else total
  }

  /** True when the file ends with an ID3v1 "TAG" trailer. */
  private[functions] def hasId3v1(b: Array[Byte]): Boolean =
    b.length >= 128 && b(b.length - 128) == 'T' &&
      b(b.length - 127) == 'A' && b(b.length - 126) == 'G'

  def evalRow(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return Unknown
    // WAV: walk chunks, count LIST/INFO envelopes
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E') {
      var p = 12
      var comment = 0
      var meta = 0
      while (p + 8 <= b.length) {
        val sz = le32(b, p + 4)
        if (sz < 0 || sz > b.length - p - 8) return Unknown
        if (b(p) == 'L' && b(p + 1) == 'I' && b(p + 2) == 'S' &&
            b(p + 3) == 'T' && sz >= 4 && b(p + 8) == 'I' &&
            b(p + 9) == 'N' && b(p + 10) == 'F' && b(p + 11) == 'O') {
          comment = 1
          meta += 8 + sz + (sz & 1)
        }
        p += 8 + sz + (sz & 1)
      }
      return InternalRow(UTF8String.fromString("wav"), 0, 0, comment, meta)
    }
    // FLAC: metadata block walk, count VORBIS_COMMENT blocks
    if (b.length >= 8 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
        b(3) == 'C') {
      var p = 4
      var comment = 0
      var meta = 0
      var last = false
      while (!last && p + 4 <= b.length) {
        val h = u8(b, p)
        last = (h & 0x80) != 0
        val typ = h & 0x7f
        val len = (u8(b, p + 1) << 16) | (u8(b, p + 2) << 8) | u8(b, p + 3)
        if (len > b.length - p - 4) return Unknown
        if (typ == 4) { comment = 1; meta += 4 + len }
        p += 4 + len
      }
      return InternalRow(UTF8String.fromString("flac"), 0, 0, comment, meta)
    }
    // MP3: leading ID3v2 envelope and/or a frame sync; trailing ID3v1
    val v2 = id3v2Len(b)
    val syncAt = v2
    val isMp3 = v2 > 0 ||
      (b.length >= 2 && u8(b, 0) == 0xff && (u8(b, 1) & 0xe0) == 0xe0)
    if (isMp3 && (v2 == 0 || (syncAt + 2 <= b.length &&
        u8(b, syncAt) == 0xff && (u8(b, syncAt + 1) & 0xe0) == 0xe0))) {
      val v1 = hasId3v1(b)
      val meta = v2 + (if (v1) 128 else 0)
      return InternalRow(UTF8String.fromString("mp3"),
        if (v2 > 0) 1 else 0, if (v1) 1 else 0, 0, meta)
    }
    Unknown
  }
}

/** `audio_strip_meta(bytes)`: audio metadata REDACTION — the audio
  * mirror of [[StripExifExpression]], dispatching on container magic:
  * MP3 ID3v2 envelopes (header + syncsafe payload + optional footer)
  * and ID3v1 trailers spliced off, WAV `LIST`/`INFO` chunks removed
  * with the RIFF size rewritten, FLAC `VORBIS_COMMENT` blocks removed
  * with the last-metadata-block flag repaired on the new final block.
  * The AUDIO STREAM is byte-identical — only tag envelopes move, so
  * fingerprints and PCM stats are unchanged (the p378 gate pins
  * exactly that). Unparseable input is returned UNCHANGED (the strip
  * family's contract: never corrupt what you cannot parse). */
case class AudioStripMetaExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override protected def nullSafeEval(input: Any): Any =
    AudioStripMetaExpression.evalBytes(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AudioStripMetaExpression.evalBytes($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "audio_strip_meta"
}

object AudioStripMetaExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  def evalBytes(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4) return b
    // WAV: rebuild without LIST/INFO chunks, rewrite the RIFF size
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E') {
      var p = 12
      val keep = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var dropped = 0
      while (p + 8 <= b.length) {
        val sz = le32(b, p + 4)
        if (sz < 0 || sz > b.length - p - 8) return b // unparseable: unchanged
        val span = 8 + sz + (sz & 1)
        val isInfo = b(p) == 'L' && b(p + 1) == 'I' && b(p + 2) == 'S' &&
          b(p + 3) == 'T' && sz >= 4 && b(p + 8) == 'I' && b(p + 9) == 'N' &&
          b(p + 10) == 'F' && b(p + 11) == 'O'
        if (isInfo) dropped += span else keep += ((p, span))
        p += span
      }
      if (dropped == 0) return b
      val out = new Array[Byte](b.length - dropped)
      System.arraycopy(b, 0, out, 0, 12)
      var q = 12
      keep.foreach { case (off, span) =>
        System.arraycopy(b, off, out, q, span); q += span
      }
      val riffLen = out.length - 8
      out(4) = riffLen.toByte; out(5) = (riffLen >>> 8).toByte
      out(6) = (riffLen >>> 16).toByte; out(7) = (riffLen >>> 24).toByte
      return out
    }
    // FLAC: rebuild without VORBIS_COMMENT blocks, repair the last flag
    if (b.length >= 8 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
        b(3) == 'C') {
      var p = 4
      val keep = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var dropped = 0
      var last = false
      while (!last && p + 4 <= b.length) {
        val h = u8(b, p)
        last = (h & 0x80) != 0
        val typ = h & 0x7f
        val len = (u8(b, p + 1) << 16) | (u8(b, p + 2) << 8) | u8(b, p + 3)
        if (len > b.length - p - 4) return b
        if (typ == 4) dropped += 4 + len else keep += ((p, 4 + len))
        p += 4 + len
      }
      if (dropped == 0) return b
      if (keep.isEmpty) return b // a comment-only stream has no valid strip
      val audioFrom = p // frames (if any) follow the metadata table
      val out = new Array[Byte](b.length - dropped)
      System.arraycopy(b, 0, out, 0, 4)
      var q = 4
      var lastQ = -1
      keep.foreach { case (off, span) =>
        System.arraycopy(b, off, out, q, span); lastQ = q; q += span
      }
      // every kept header's last-flag clears except the new final block
      keep.indices.foreach { i =>
        val at = 4 + keep.take(i).map(_._2).sum
        out(at) = (out(at) & 0x7f).toByte
      }
      out(lastQ) = (out(lastQ) | 0x80).toByte
      System.arraycopy(b, audioFrom, out, q, b.length - audioFrom)
      return out
    }
    // MP3: splice the ID3v2 envelope and the ID3v1 trailer
    val v2 = AudioMetaGovExpression.id3v2Len(b)
    val hasSync = v2 + 2 <= b.length && u8(b, v2) == 0xff &&
      (u8(b, v2 + 1) & 0xe0) == 0xe0
    if ((v2 > 0 || (b.length >= 2 && u8(b, 0) == 0xff &&
        (u8(b, 1) & 0xe0) == 0xe0)) && hasSync) {
      val v1 = AudioMetaGovExpression.hasId3v1(b)
      val end = b.length - (if (v1) 128 else 0)
      if (v2 == 0 && !v1) return b
      if (end <= v2) return b
      return java.util.Arrays.copyOfRange(b, v2, end)
    }
    b
  }
}

/** `wav_resample(bytes, outRate)`: REAL PCM sample-rate conversion —
  * the "resize" rung of the audio pipeline (the byte-domain
  * `Multimodal.resample` stub stays for non-audio kinds; this one
  * understands frames). Parses the WAV (8/16-bit PCM, up to 8
  * channels), maps every output frame to its nearest source frame
  * (`src = ⌊j·inRate/outRate⌋` — exact duplication for integer
  * upsampling, exact decimation for integer downsampling), and emits
  * a CANONICAL 44-byte-header WAV at the new rate with bit depth and
  * channel layout preserved. Composes with
  * [[AudioFingerprintExpression]]: integer-ratio resamples of a
  * recording fingerprint IDENTICALLY (the invariance p369/p376 pin).
  * Output length is capped (a 1 kHz→384 kHz blowup cannot allocate
  * unbounded memory); non-PCM/hostile bytes → NULL. */
case class WavResampleExpression(child: Expression, outRate: Int)
    extends UnaryExpression {
  require(outRate >= 1000 && outRate <= 384000,
    s"wav_resample: outRate must be in [1000, 384000], got $outRate")
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    WavResampleExpression.evalBytes(input.asInstanceOf[Array[Byte]], outRate)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("rs")
    nullSafeCodeGen(ctx, ev, c => s"""
      byte[] $out = graft.functions.WavResampleExpression.evalBytes($c, $outRate);
      if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "wav_resample"
}

object WavResampleExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Output-frame ceiling: bounds the allocation a hostile low-rate
    * header could otherwise inflate (4M frames ≈ 64 MB stereo-16). */
  val MaxOutFrames: Long = 1L << 22

  /** Codegen entry point; null = not an 8/16-bit PCM WAV. */
  def evalBytes(b: Array[Byte], outRate: Int): Array[Byte] = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var rate = -1; var ch = -1; var bits = -1; var fmtCode = -1
    var dataOff = -1; var dataLen = -1L
    while (p + 8 <= b.length && (rate < 0 || dataOff < 0)) {
      val sz = le32(b, p + 4)
      if (sz < 0 || sz > b.length - p - 8) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        if (sz < 16) return null
        fmtCode = le16(b, p + 8)
        ch = le16(b, p + 10)
        rate = le32(b, p + 12)
        bits = le16(b, p + 22)
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
          b(p + 3) == 'a') {
        dataOff = p + 8
        dataLen = sz.toLong
      }
      p += 8 + sz + (sz & 1)
    }
    if (fmtCode != 1 || (bits != 8 && bits != 16) || ch <= 0 || ch > 8 ||
        rate <= 0 || dataOff < 0) return null
    val blockAlign = ch * (bits / 8)
    val inFrames = dataLen / blockAlign
    if (inFrames <= 0) return null
    val outFrames = inFrames * outRate / rate
    if (outFrames < 1 || outFrames > MaxOutFrames) return null
    val nOut = outFrames.toInt
    val outLen = nOut * blockAlign
    val out = new Array[Byte](44 + outLen)
    def w16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    def w32(i: Int, v: Int): Unit = { w16(i, v & 0xffff); w16(i + 2, v >>> 16) }
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    w32(4, 36 + outLen)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    w32(16, 16); w16(20, 1); w16(22, ch); w32(24, outRate)
    w32(28, outRate * blockAlign); w16(32, blockAlign); w16(34, bits)
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    w32(40, outLen)
    var j = 0
    while (j < nOut) {
      val src = (j.toLong * rate / outRate).toInt
      System.arraycopy(b, dataOff + src * blockAlign,
        out, 44 + j * blockAlign, blockAlign)
      j += 1
    }
    out
  }
}

/** `video_frame_hashes(bytes, maxFrames)`: per-frame perceptual
  * hashes for animated media — the FRAME-SAMPLE rung of the video
  * pipeline made real. Decodes an animated GIF frame by frame
  * ([[GifFrames]]: LZW + rect compositing + GCE transparency), hashes
  * each composited frame with the same 64-bit dHash the still-image
  * path uses, and returns the hash SEQUENCE — the unit video dedup,
  * scene sampling, and frame-level curation all key on. Map-only and
  * bounded: frame count is capped by `maxFrames` (a hostile
  * million-frame file spends nothing past the cap), pixel work by
  * [[PngLuma.MaxPixels]] from the header. Non-GIF containers (MP4,
  * WebM — entropy-coded video needs a real codec) and hostile bytes
  * → NULL, the same documented-null contract the raster decoders use
  * for out-of-scope codecs. */
case class VideoFrameHashesExpression(child: Expression, maxFrames: Int)
    extends UnaryExpression {
  require(maxFrames >= 1 && maxFrames <= 1024,
    s"video_frame_hashes: maxFrames must be in [1, 1024], got $maxFrames")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    VideoFrameHashesExpression.evalArray(input.asInstanceOf[Array[Byte]], maxFrames)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.freshName("fh")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.util.ArrayData $arr =
        graft.functions.VideoFrameHashesExpression.evalArray($c, $maxFrames);
      if ($arr == null) { ${ev.isNull} = true; } else { ${ev.value} = $arr; }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "video_frame_hashes"
}

object VideoFrameHashesExpression {
  /** Codegen entry point; null = not a decodable animated GIF or
    * (VP8L-coded) animated WebP — the two containers produce the SAME
    * hash sequence for the same frames, so cross-container video
    * dedup needs no per-format handling downstream. */
  def evalArray(b: Array[Byte], maxFrames: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (b == null || b.length < 12) return null
    val grids =
      if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
        GifFrames.frameGrids(b, maxFrames)
      else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P')
        WebpFrames.frameGrids(b, maxFrames)
      else null
    if (grids == null) return null
    val hashes = new Array[Long](grids.length)
    var i = 0
    while (i < grids.length) {
      hashes(i) = DHash64Expression.packGrid(grids(i)).longValue()
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(hashes)
  }
}

/** `exif_meta(bytes)`: EXIF privacy triage from the header bytes — a
  * multimodal crawl's GOVERNANCE scan. Walks a JPEG's segment table to
  * the first APP1 `Exif\0\0` payload (or takes a bare TIFF buffer) and
  * reads IFD0 with the same bounded-walk discipline as
  * [[ImageDimsExpression]]'s TIFF path: `orientation` (tag 274 —
  * needed to hash rotated near-dups consistently downstream) and
  * `has_gps` (tag 34853, the GPS-IFD pointer — embedded GPS
  * coordinates are PII, and a training-data pipeline must FLAG them
  * before any image ships). Presence only — the GPS IFD itself is
  * never chased (a triage reads pointers, not payloads). Junk,
  * truncated or EXIF-less payloads → (0, −1, 0); never a throw.
  * Returns struct(has_exif INT, orientation INT, has_gps INT). */
case class ExifMetaExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("has_exif", IntegerType, nullable = false),
    StructField("orientation", IntegerType, nullable = false),
    StructField("has_gps", IntegerType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any =
    ExifMetaExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExifMetaExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "exif_meta"
}

object ExifMetaExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): InternalRow = {
    val (e, o, g) = scan(b)
    InternalRow(e, o, g)
  }

  /** (has_exif, orientation, has_gps); (0, -1, 0) when absent. */
  def scan(b: Array[Byte]): (Int, Int, Int) = {
    if (b == null || b.length < 8) return (0, -1, 0)
    // bare TIFF buffer: parse directly
    if ((b(0) == 'I' && b(1) == 'I' && u8(b, 2) == 0x2a && u8(b, 3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && u8(b, 2) == 0 && u8(b, 3) == 0x2a))
      return tiffIfd0(b, 0, b.length)
    // WebP container: chunk walk to the EXIF chunk (VP8X extended
    // files carry EXIF/XMP as RIFF chunks after the image data)
    if (b.length >= 20 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P')
      return webpExif(b)
    // PNG: chunk walk to the eXIf chunk (PNG Third Edition), which
    // carries the same bare TIFF as a JPEG APP1
    if (b.length >= 45 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && u8(b, 4) == 0x0d && u8(b, 5) == 0x0a &&
        u8(b, 6) == 0x1a && u8(b, 7) == 0x0a)
      return pngExif(b)
    if (!(u8(b, 0) == 0xff && u8(b, 1) == 0xd8)) return (0, -1, 0)
    var p = 2
    while (p + 3 < b.length) {
      if (u8(b, p) != 0xff) return (0, -1, 0)
      while (p < b.length && u8(b, p) == 0xff) p += 1
      if (p >= b.length) return (0, -1, 0)
      val m = u8(b, p); p += 1
      if (m == 0xd9 || m == 0xda) return (0, -1, 0) // EOI / scan data
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        // standalone marker: no length
      } else {
        if (p + 2 > b.length) return (0, -1, 0)
        val len = be16(b, p)
        if (len < 2 || len > b.length - p) return (0, -1, 0)
        if (m == 0xe1 && len >= 2 + 6 + 8 &&
            b(p + 2) == 'E' && b(p + 3) == 'x' && b(p + 4) == 'i' &&
            b(p + 5) == 'f' && b(p + 6) == 0 && b(p + 7) == 0)
          return tiffIfd0(b, p + 8, p + len)
        p += len
      }
    }
    (0, -1, 0)
  }

  /** The WebP arm of [[scan]]: RIFF chunk walk to fourcc `EXIF`,
    * optional `Exif\0\0` prefix skipped (both layouts occur in the
    * wild), then the same bounded TIFF IFD0 read. */
  private def webpExif(b: Array[Byte]): (Int, Int, Int) = {
    var p = 12
    while (p + 8 <= b.length) {
      val sz = (u8(b, p + 4) | (u8(b, p + 5) << 8) | (u8(b, p + 6) << 16) |
        (u8(b, p + 7).toLong << 24)) & 0xffffffffL
      if (sz > b.length - p - 8) return (0, -1, 0)
      if (b(p) == 'E' && b(p + 1) == 'X' && b(p + 2) == 'I' && b(p + 3) == 'F') {
        var base = p + 8
        val end = base + sz.toInt
        if (end - base >= 6 && b(base) == 'E' && b(base + 1) == 'x' &&
            b(base + 2) == 'i' && b(base + 3) == 'f' && b(base + 4) == 0 &&
            b(base + 5) == 0) base += 6
        return tiffIfd0(b, base, end)
      }
      p += 8 + sz.toInt + (sz.toInt & 1)
    }
    (0, -1, 0)
  }

  /** The PNG arm of [[scan]]: chunk walk to `eXIf`, whose payload is
    * the bare TIFF; stops at IEND. */
  private def pngExif(b: Array[Byte]): (Int, Int, Int) = {
    var p = 8
    while (p + 8 <= b.length) {
      val len = (be16(b, p) << 16) | be16(b, p + 2)
      if (len < 0 || len > b.length - p - 12) return (0, -1, 0)
      if (b(p + 4) == 'e' && b(p + 5) == 'X' && b(p + 6) == 'I' &&
          b(p + 7) == 'f')
        return tiffIfd0(b, p + 8, p + 8 + len)
      if (b(p + 4) == 'I' && b(p + 5) == 'E' && b(p + 6) == 'N' &&
          b(p + 7) == 'D') return (0, -1, 0)
      p += 12 + len
    }
    (0, -1, 0)
  }

  /** Bounded IFD0 read of the TIFF at [base, end): orientation (274)
    * and the GPS-IFD pointer's presence (34853). */
  private def tiffIfd0(b: Array[Byte], base: Int, end: Int): (Int, Int, Int) = {
    if (base + 8 > end) return (0, -1, 0)
    val le =
      if (b(base) == 'I' && b(base + 1) == 'I' && u8(b, base + 2) == 0x2a &&
        u8(b, base + 3) == 0) true
      else if (b(base) == 'M' && b(base + 1) == 'M' && u8(b, base + 2) == 0 &&
        u8(b, base + 3) == 0x2a) false
      else return (0, -1, 0)
    def r16(i: Int): Int =
      if (le) u8(b, i) | (u8(b, i + 1) << 8) else (u8(b, i) << 8) | u8(b, i + 1)
    def r32(i: Int): Long =
      if (le) (r16(i) | (r16(i + 2).toLong << 16)) & 0xffffffffL
      else ((r16(i).toLong << 16) | r16(i + 2)) & 0xffffffffL
    val ifdOff = r32(base + 4)
    // subtraction form: a hostile 32-bit offset must compare, not wrap
    if (ifdOff < 8 || ifdOff > (end - base - 2).toLong) return (0, -1, 0)
    val ifd = base + ifdOff.toInt
    val n = r16(ifd)
    var orientation = -1
    var gps = 0
    var k = 0
    while (k < n && ifd + 2 + 12 * (k + 1) <= end) {
      val e = ifd + 2 + 12 * k
      val tag = r16(e); val typ = r16(e + 2); val cnt = r32(e + 4)
      if (tag == 274 && typ == 3 && cnt == 1L) orientation = r16(e + 8)
      else if (tag == 34853) gps = 1
      k += 1
    }
    (1, orientation, gps)
  }
}

/** `jpeg_strip_exif(bytes)`: the REDACTION half of [[ExifMetaExpression]]
  * — remove every APP1 `Exif\0\0` segment from a JPEG, leaving pixels
  * byte-identical (spec-pinned: the stripped file's dhash64 equals the
  * original's). The standard crawl-pipeline privacy move: EXIF carries
  * GPS coordinates, timestamps and serial numbers a training corpus
  * must not ship. Non-JPEG / junk / structurally malformed input
  * returns UNCHANGED — a redaction pass must never corrupt what it
  * cannot parse. Map-only byte surgery; the walk stops at SOS and
  * copies the entropy stream verbatim (EXIF only legally precedes
  * it). */
case class JpegStripExifExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override protected def nullSafeEval(input: Any): Any =
    JpegStripExifExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.JpegStripExifExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "jpeg_strip_exif"
}

object JpegStripExifExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4) return b
    if (!(u8(b, 0) == 0xff && u8(b, 1) == 0xd8)) return b
    // first pass: locate the EXIF APP1 spans (marker byte .. segment end)
    var spans: List[(Int, Int)] = Nil
    var p = 2
    var walking = true
    while (walking && p + 1 < b.length) {
      if (u8(b, p) != 0xff) return b // malformed: hands off
      val mStart = p
      while (p < b.length && u8(b, p) == 0xff) p += 1
      if (p >= b.length) return b
      val m = u8(b, p); p += 1
      if (m == 0xda || m == 0xd9) {
        walking = false // entropy stream / EOI onward copies verbatim
      } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        // standalone
      } else {
        if (p + 2 > b.length) return b
        val len = be16(b, p)
        if (len < 2 || len > b.length - p) return b
        if (m == 0xe1 && len >= 8 &&
            b(p + 2) == 'E' && b(p + 3) == 'x' && b(p + 4) == 'i' &&
            b(p + 5) == 'f' && b(p + 6) == 0 && b(p + 7) == 0)
          spans = (mStart, p + len) :: spans
        p += len
      }
    }
    if (spans.isEmpty) return b
    val drop = spans.map { case (s, e) => e - s }.sum
    val out = new Array[Byte](b.length - drop)
    var src = 0
    var dst = 0
    spans.reverse.foreach { case (s, e) =>
      System.arraycopy(b, src, out, dst, s - src)
      dst += s - src
      src = e
    }
    System.arraycopy(b, src, out, dst, b.length - src)
    out
  }
}

/** `webp_strip_exif(bytes)`: [[JpegStripExifExpression]]'s WebP
  * sibling — remove every `EXIF` chunk from the RIFF container, clear
  * the VP8X header's EXIF flag, and rewrite the RIFF length; the image
  * chunks are untouched (spec-pinned: the stripped file's dhash64
  * equals the original's). Non-WebP / junk / structurally malformed
  * input returns UNCHANGED — a redaction pass must never corrupt what
  * it cannot parse. Map-only byte surgery. */
case class WebpStripExifExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override protected def nullSafeEval(input: Any): Any =
    WebpStripExifExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WebpStripExifExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "webp_strip_exif"
}

object WebpStripExifExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 20) return b
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P')) return b
    // first pass: EXIF chunk spans (header .. padded end) + the VP8X
    // payload offset (to clear its EXIF flag in the copy)
    var spans: List[(Int, Int)] = Nil
    var vp8x = -1
    var p = 12
    while (p + 8 <= b.length) {
      val sz = (u8(b, p + 4) | (u8(b, p + 5) << 8) | (u8(b, p + 6) << 16) |
        (u8(b, p + 7).toLong << 24)) & 0xffffffffL
      if (sz > b.length - p - 8) return b // malformed: hands off
      val next = p + 8 + sz.toInt + (sz.toInt & 1)
      if (b(p) == 'E' && b(p + 1) == 'X' && b(p + 2) == 'I' && b(p + 3) == 'F')
        spans = (p, math.min(next, b.length)) :: spans
      else if (b(p) == 'V' && b(p + 1) == 'P' && b(p + 2) == '8' &&
          b(p + 3) == 'X' && sz >= 1) vp8x = p + 8
      p = next
    }
    if (spans.isEmpty) return b
    val drop = spans.map { case (s, e) => e - s }.sum
    val out = new Array[Byte](b.length - drop)
    var src = 0
    var dst = 0
    spans.reverse.foreach { case (s, e) =>
      System.arraycopy(b, src, out, dst, s - src)
      dst += s - src
      src = e
    }
    System.arraycopy(b, src, out, dst, b.length - src)
    // RIFF length: bytes after the 8-byte RIFF header
    val riffLen = out.length - 8
    out(4) = riffLen.toByte; out(5) = (riffLen >>> 8).toByte
    out(6) = (riffLen >>> 16).toByte; out(7) = (riffLen >>> 24).toByte
    // VP8X EXIF flag off (the chunk precedes EXIF, so its copy offset
    // is unchanged — spans are all at or after the first EXIF chunk,
    // and VP8X is the FIRST chunk in any well-formed extended file)
    if (vp8x >= 0 && vp8x < out.length &&
        out(vp8x - 8) == 'V' && out(vp8x - 5) == 'X')
      out(vp8x) = (out(vp8x) & ~0x08).toByte
    out
  }
}

/** `png_strip_exif(bytes)`: [[JpegStripExifExpression]]'s PNG sibling
  * — remove every `eXIf` chunk (PNG Third Edition) from the chunk
  * table; the image chunks are untouched (spec-pinned: the stripped
  * file's dhash64 equals the original's — PNG chunks are
  * self-describing, so no header rewrite is needed). Non-PNG / junk /
  * structurally malformed input returns UNCHANGED. Map-only byte
  * surgery. */
case class PngStripExifExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override protected def nullSafeEval(input: Any): Any =
    PngStripExifExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PngStripExifExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "png_strip_exif"
}

object PngStripExifExpression {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 45) return b
    if (!(u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        u8(b, 4) == 0x0d && u8(b, 5) == 0x0a && u8(b, 6) == 0x1a &&
        u8(b, 7) == 0x0a)) return b
    var spans: List[(Int, Int)] = Nil
    var p = 8
    var walking = true
    while (walking && p + 8 <= b.length) {
      val len = (be16(b, p) << 16) | be16(b, p + 2)
      if (len < 0 || len > b.length - p - 12) return b // malformed: hands off
      if (b(p + 4) == 'e' && b(p + 5) == 'X' && b(p + 6) == 'I' &&
          b(p + 7) == 'f')
        spans = (p, p + 12 + len) :: spans
      if (b(p + 4) == 'I' && b(p + 5) == 'E' && b(p + 6) == 'N' &&
          b(p + 7) == 'D') walking = false
      p += 12 + len
    }
    if (spans.isEmpty) return b
    val drop = spans.map { case (s, e) => e - s }.sum
    val out = new Array[Byte](b.length - drop)
    var src = 0
    var dst = 0
    spans.reverse.foreach { case (s, e) =>
      System.arraycopy(b, src, out, dst, s - src)
      dst += s - src
      src = e
    }
    System.arraycopy(b, src, out, dst, b.length - src)
    out
  }
}

/** `strip_exif(bytes)`: container-dispatching redaction — routes on
  * the magic bytes to [[JpegStripExifExpression]],
  * [[WebpStripExifExpression]] or [[PngStripExifExpression]]; any
  * other payload returns UNCHANGED. The one-call shape a mixed-format
  * crawl column wants: triage → `strip_exif` → re-verify, without
  * splitting the frame by format first. */
case class StripExifExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override protected def nullSafeEval(input: Any): Any =
    StripExifExpression.evalRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.StripExifExpression.evalRow($c);")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "strip_exif"
}

object StripExifExpression {
  /** Codegen entry point: one static call per row. */
  def evalRow(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4) return b
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      return JpegStripExifExpression.evalRow(b)
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
      return WebpStripExifExpression.evalRow(b)
    if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      return PngStripExifExpression.evalRow(b)
    b
  }
}

object MediaFunctions {
  def image_dims(c: Column): Column = column(ImageDimsExpression(expression(c)))
  def audio_meta(c: Column): Column = column(AudioMetaExpression(expression(c)))
  def video_meta(c: Column): Column = column(VideoMetaExpression(expression(c)))
  def dhash64(c: Column): Column = column(DHash64Expression(expression(c)))
  def dhash64_oriented(c: Column): Column =
    column(DHash64OrientedExpression(expression(c)))
  def exif_meta(c: Column): Column = column(ExifMetaExpression(expression(c)))
  def jpeg_strip_exif(c: Column): Column =
    column(JpegStripExifExpression(expression(c)))
  def webp_strip_exif(c: Column): Column =
    column(WebpStripExifExpression(expression(c)))
  def png_strip_exif(c: Column): Column =
    column(PngStripExifExpression(expression(c)))
  def strip_exif(c: Column): Column =
    column(StripExifExpression(expression(c)))
  def audio_pcm_stats(c: Column, maxFrames: Int = 4096): Column =
    column(AudioPcmStatsExpression(expression(c), maxFrames))
  def audio_fingerprint(c: Column, maxFrames: Int = 65536): Column =
    column(AudioFingerprintExpression(expression(c), maxFrames))
  def video_frame_hashes(c: Column, maxFrames: Int = 32): Column =
    column(VideoFrameHashesExpression(expression(c), maxFrames))
  def wav_resample(c: Column, outRate: Int): Column =
    column(WavResampleExpression(expression(c), outRate))
  def audio_meta_gov(c: Column): Column =
    column(AudioMetaGovExpression(expression(c)))
  def tiff_strip_gps(c: Column): Column =
    column(TiffStripGpsExpression(expression(c)))
  def audio_strip_meta(c: Column): Column =
    column(AudioStripMetaExpression(expression(c)))
}
