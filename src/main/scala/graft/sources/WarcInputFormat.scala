package graft.sources

import java.io.{ByteArrayOutputStream, BufferedInputStream, InputStream}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{BytesWritable, NullWritable}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, GzipCodec}
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import scala.util.control.NonFatal

/** LOSSLESS splittable WARC (ISO 28500) input — the "custom InputFormat
  * that walks Content-Length from each split boundary" upgrade that
  * [[Warc]]'s text-split path documents as its drop-in alternative.
  *
  * Why it exists: the `lineSep` reader splits on the inter-record byte
  * sequence, so a payload that EMBEDS that sequence false-splits (the
  * committed fixture's pathological record) — detectable via
  * `length_ok`, but the record itself is unrecoverable on that path.
  * This format never splits on content: within a split it walks the
  * record grammar exactly — version line, headers to the blank line,
  * `Content-Length` payload octets, trailing CRLF CRLF — so embedded
  * boundary bytes are just payload.
  *
  * Distribution contract (the standard Hadoop text-input convention):
  * a record belongs to the split holding its FIRST byte; a reader whose
  * split starts mid-file scans forward to the next `WARC/1.` magic and
  * validates it by parsing headers (a candidate without a well-formed
  * header block + Content-Length is skipped and the scan resumes), then
  * walks records until the current record's start crosses the split
  * end — no gap, and no overlap EXCEPT one adversarial corner: a
  * payload that embeds a COMPLETE, header-valid WARC record right at a
  * split boundary validates as a resync candidate and is emitted twice
  * (once inside its carrier, once standalone) — distinguishing that
  * from a genuine record start is undecidable from the boundary alone,
  * and the risk is confined to split boundaries (one per ~128 MB)
  * instead of every record.
  *
  * `.warc.gz` splits at GZIP MEMBER boundaries (RFC 1952 members
  * concatenate; CommonCrawl's production layout is one record per
  * member exactly so crawls stay splittable): a reader whose split
  * starts mid-file scans the COMPRESSED stream for the `1f 8b 08`
  * member magic and validates a candidate by inflating its first
  * content bytes to the `WARC/1.` record magic. Ownership is by the
  * compressed offset of the owning CLAIM POINT — a member whose
  * content begins exactly at a record start; members that fail that
  * test (a single-stream gzip, or members chopped mid-record) are
  * never claimed by a later split and flow transparently into the
  * reader already inside them, so a single-member `.warc.gz`
  * degrades to whole-file with no data loss. The same
  * payload-embeds-a-valid-record duplicate corner as the uncompressed
  * resync applies (here the payload must also embed a valid gzip
  * member). Non-gzip codecs stay whole-file (not splittable).
  *
  * Emits one `BytesWritable` per record: the header block (version
  * line dropped), the blank-line CRLF, then the RAW payload octets —
  * exactly the `_rec` shape [[Warc.records]]' column parser consumes.
  * Truncated tails (EOF inside a payload) emit short, surfacing as
  * `length_ok = false` downstream rather than dying. */
class WarcInputFormat extends FileInputFormat[NullWritable, BytesWritable] {
  override protected def isSplitable(ctx: JobContext, file: Path): Boolean = {
    val codec = new CompressionCodecFactory(ctx.getConfiguration).getCodec(file)
    codec == null || codec.isInstanceOf[GzipCodec]
  }
  override def createRecordReader(
      split: InputSplit,
      ctx: TaskAttemptContext): RecordReader[NullWritable, BytesWritable] =
    new WarcRecordReader
}

/** Decompressed view over CONCATENATED gzip members (RFC 1952) that
  * exposes the two facts member-granular split ownership needs:
  * the COMPRESSED offset of the member owning the next byte
  * ([[nextByteMemberStart]]) and whether the next byte is a member's
  * first content byte ([[atMemberContentStart]]). Bytes flow
  * continuously across members (a record chopped across members reads
  * whole); headers with FEXTRA/FNAME/FCOMMENT/FHCRC parse per the RFC;
  * a corrupt member or garbage tail reads as EOF (the record walker
  * surfaces the cut as a short record, `length_ok = false`). Does its
  * own raw buffering — wrapping it in a BufferedInputStream would
  * let read-ahead advance member accounting past the bytes actually
  * delivered. */
private[sources] final class GzipMemberStream(
    raw: InputStream, firstMemberStart: Long) extends InputStream {
  private val inf = new java.util.zip.Inflater(true)
  private val cbuf = new Array[Byte](1 << 16)
  private var cOff = 0
  private var cLen = 0
  private var rawPos = firstMemberStart // offset just past cbuf's last byte
  private var rawEof = false
  private var eof = false
  private var curMemberStart = -1L
  private var delivered = 0L // content bytes delivered from current member
  private val one = new Array[Byte](1)

  parseHeader()

  private def fillRaw(): Unit = {
    if (rawEof) return
    cOff = 0
    cLen = 0
    val n = raw.read(cbuf)
    if (n < 0) rawEof = true else { cLen = n; rawPos += n }
  }

  private def nextRawByte(): Int = {
    if (cOff == cLen) fillRaw()
    if (cOff == cLen) -1
    else { val b = cbuf(cOff) & 0xff; cOff += 1; b }
  }

  /** Parse a member header at the current raw position; on success the
    * inflater is reset and [[curMemberStart]] points at the header's
    * first byte. Clean EOF or anything malformed ⇒ terminal EOF. */
  private def parseHeader(): Unit = {
    // absolute offset of the next unread byte (header start, if any)
    if (cOff == cLen) fillRaw()
    val hs = rawPos - cLen + cOff
    val b0 = nextRawByte()
    if (b0 < 0) { eof = true; return }
    val b1 = nextRawByte()
    val b2 = nextRawByte()
    if (b0 != 0x1f || b1 != 0x8b || b2 != 0x08) { eof = true; return }
    val flg = nextRawByte()
    var i = 0
    while (i < 6) { if (nextRawByte() < 0) { eof = true; return }; i += 1 }
    if ((flg & 4) != 0) { // FEXTRA: le16 length + payload
      val l0 = nextRawByte(); val l1 = nextRawByte()
      if (l0 < 0 || l1 < 0) { eof = true; return }
      var k = l0 | (l1 << 8)
      while (k > 0) { if (nextRawByte() < 0) { eof = true; return }; k -= 1 }
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated
      var b = nextRawByte()
      while (b > 0) b = nextRawByte()
      if (b < 0) { eof = true; return }
    }
    if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
      var b = nextRawByte()
      while (b > 0) b = nextRawByte()
      if (b < 0) { eof = true; return }
    }
    if ((flg & 2) != 0) { // FHCRC
      if (nextRawByte() < 0 || nextRawByte() < 0) { eof = true; return }
    }
    if (flg < 0) { eof = true; return }
    inf.reset()
    curMemberStart = hs
    delivered = 0L
  }

  /** Consume the finished member's 8-byte trailer and parse the next
    * header (or reach terminal EOF). */
  private def advanceMember(): Unit = {
    cOff = cLen - inf.getRemaining // hand unconsumed input back to cbuf
    var i = 0
    while (i < 8) { if (nextRawByte() < 0) { eof = true; return }; i += 1 }
    parseHeader()
  }

  private def resolveBoundary(): Unit =
    if (!eof && inf.finished()) advanceMember()

  /** Compressed offset of the member the next delivered byte belongs
    * to; stays at the last member once the stream ends. */
  def nextByteMemberStart: Long = { resolveBoundary(); curMemberStart }

  /** True iff the next delivered byte is the FIRST content byte of a
    * member — the claim-point test for split ownership. */
  def atMemberContentStart: Boolean = {
    resolveBoundary()
    !eof && delivered == 0L
  }

  override def read(): Int = {
    val n = read(one, 0, 1)
    if (n <= 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    while (true) {
      if (eof) return -1
      if (inf.finished()) advanceMember()
      else {
        if (inf.needsInput()) {
          if (cOff == cLen) fillRaw()
          if (cOff == cLen) { eof = true; return -1 } // truncated member
          inf.setInput(cbuf, cOff, cLen - cOff)
          cOff = cLen // handed to the inflater; reclaimed via getRemaining
        }
        val n =
          try inf.inflate(b, off, len)
          catch { case _: java.util.zip.DataFormatException =>
            eof = true; return -1 } // corrupt member: cut surfaces downstream
        if (n > 0) { delivered += n; return n }
      }
    }
    -1 // unreachable
  }

  override def close(): Unit = { inf.end(); raw.close() }
}

class WarcRecordReader extends RecordReader[NullWritable, BytesWritable] {
  private val Magic = "WARC/1.".getBytes("US-ASCII")
  private val MaxHeaderBytes = 1 << 16
  // a hostile Content-Length must not allocate the heap: records past
  // this are skipped via resync (crawl WARCs cap records ~1 GiB; this
  // reader is for header+payload records that fit a task comfortably)
  private val MaxRecordBytes = (1L << 30) - 16

  private var in: InputStream = _
  private var gz: GzipMemberStream = null // non-null ⇔ member-split gzip mode
  private var pos = 0L // absolute (uncompressed-stream) offset
  private var start = 0L
  private var end = 0L
  private var done = false
  private var afterMagic = false // resync already consumed the magic
  private var claimPoint = 0L // gzip mode: compressed offset of the owning member
  private val value = new BytesWritable()
  // ≤4-byte pushback for the record-trailer peek (gzip member
  // accounting forbids mark/reset buffering above the stream)
  private val pb = new Array[Byte](4)
  private var pbOff = 0
  private var pbLen = 0

  override def initialize(genericSplit: InputSplit, ctx: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    val conf = ctx.getConfiguration
    val path = split.getPath
    val fs = path.getFileSystem(conf)
    val raw = fs.open(path)
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    if (codec == null) {
      start = split.getStart
      end = start + split.getLength
      raw.seek(start)
      in = new BufferedInputStream(raw, 1 << 16)
      pos = start
      if (start > 0) syncToMagic()
    } else if (codec.isInstanceOf[GzipCodec]) {
      // member-granular split: own the members whose CLAIM POINT
      // (validated member start) lies in [start, end)
      start = split.getStart
      end = start + split.getLength
      pos = 0L
      if (start == 0L) {
        gz = new GzipMemberStream(raw, 0L)
        claimPoint = 0L
        in = gz
      } else {
        val c = scanForClaimPoint(fs, path, start, end)
        if (c < 0) { done = true; raw.close() }
        else {
          raw.seek(c)
          gz = new GzipMemberStream(raw, c)
          claimPoint = c
          in = gz
        }
      }
    } else {
      // other codecs: isSplitable said no — one split, whole file
      start = 0L
      end = Long.MaxValue
      in = new BufferedInputStream(codec.createInputStream(raw), 1 << 16)
      pos = 0L
    }
  }

  /** Scan the COMPRESSED stream over [from, until) for the first gzip
    * member whose content inflates to the `WARC/1.` record magic — the
    * claim point this split starts at; -1 when the range holds none
    * (the split's members, if any, belong to an earlier claim point). */
  private def scanForClaimPoint(
      fs: org.apache.hadoop.fs.FileSystem,
      path: Path,
      from: Long,
      until: Long): Long = {
    val scan = fs.open(path)
    try {
      scan.seek(from)
      val buf = new BufferedInputStream(scan, 1 << 16)
      var off = from
      var m = 0
      val GzMagic = Array(0x1f, 0x8b, 0x08)
      while (off - m < until) { // candidate start = off - m
        val b = buf.read()
        if (b < 0) return -1L
        off += 1
        if (b == GzMagic(m)) {
          m += 1
          if (m == 3) {
            val cand = off - 3
            if (cand >= from && cand < until && validMemberAt(fs, path, cand))
              return cand
            m = 0
          }
        } else m = if (b == GzMagic(0)) 1 else 0
      }
      -1L
    } finally scan.close()
  }

  /** True iff a gzip member starting at `at` inflates to content whose
    * first bytes are the `WARC/1.` record magic. */
  private def validMemberAt(
      fs: org.apache.hadoop.fs.FileSystem, path: Path, at: Long): Boolean = {
    val probe = fs.open(path)
    try {
      probe.seek(at)
      val g = new GzipMemberStream(probe, at)
      val head = new Array[Byte](Magic.length)
      var k = 0
      var r = 0
      while (k < head.length && { r = g.read(head, k, head.length - k); r > 0 })
        k += r
      k == head.length && java.util.Arrays.equals(head, Magic)
    } catch { case NonFatal(_) => false } finally probe.close()
  }

  private def pushBack(bytes: Array[Byte], n: Int): Unit = {
    System.arraycopy(bytes, 0, pb, 0, n)
    pbOff = 0
    pbLen = n
  }

  private def read1(): Int =
    if (pbOff < pbLen) { val b = pb(pbOff) & 0xff; pbOff += 1; pos += 1; b }
    else { val b = in.read(); if (b >= 0) pos += 1; b }

  private def readBulk(dst: Array[Byte], off: Int, len: Int): Int =
    if (pbOff < pbLen) {
      val n = math.min(len, pbLen - pbOff)
      System.arraycopy(pb, pbOff, dst, off, n)
      pbOff += n
      n
    } else in.read(dst, off, len)

  /** Scan forward to just past the next `WARC/1.` occurrence. */
  private def syncToMagic(): Unit = {
    var m = 0
    while (true) {
      val b = read1()
      if (b < 0) { done = true; return }
      if (b == Magic(m)) {
        m += 1
        if (m == Magic.length) { afterMagic = true; return }
      } else m = if (b == Magic(0)) 1 else 0
    }
  }

  /** One CRLF-terminated line, CRLF stripped, byte-transparent
    * (ISO-8859-1); null on EOF — OR on a >64 KiB CRLF-free run, which
    * sets [[overlong]] so callers can tell the two apart. Conflating
    * them (the pre-round-15 behavior) made a hostile payload region
    * after a split resync — `WARC/1.` followed by 64 KiB with no
    * CRLF — read as end-of-split and silently DROP every remaining
    * record, contradicting the lossless contract; callers now resync
    * past the hostile region instead. An overlong run can hide no real
    * record start: a genuine boundary is CRLF CRLF + magic, and the
    * aborted region contains no CRLF by construction, so skipping to
    * the next magic loses nothing. */
  private var overlong = false
  private def readLine(): String = {
    overlong = false
    val out = new ByteArrayOutputStream(128)
    var prev = -1
    while (out.size() < MaxHeaderBytes) {
      val b = read1()
      if (b < 0) return null
      if (prev == '\r' && b == '\n') {
        val a = out.toByteArray
        return new String(a, 0, a.length - 1, "ISO-8859-1")
      }
      out.write(b)
      prev = b
    }
    overlong = true
    null
  }

  override def nextKeyValue(): Boolean = {
    while (!done) {
      // gzip member mode: a member whose content begins exactly at a
      // record start is a CLAIM POINT — the ownership measure a
      // resyncing reader recomputes from a cold scan; unclaimed
      // members (chopped mid-record / single-stream) stay with the
      // reader already inside them
      if (gz != null && pbOff >= pbLen && gz.atMemberContentStart)
        claimPoint = gz.nextByteMemberStart
      val recStart =
        if (gz != null) claimPoint
        else if (afterMagic) pos - Magic.length
        else pos
      // ownership: first byte of the record decides the split
      if (recStart >= end) return false
      if (afterMagic) {
        afterMagic = false
        // consume the rest of the version line ("0"/"1"); anything
        // longer is payload that happened to contain the magic — resync
        val rest = readLine()
        if (rest == null) {
          if (overlong) syncToMagic() else { done = true; return false }
        }
        else if (rest.length > 8) { syncToMagic(); () }
        else if (!parseOne()) () else return true
      } else {
        val vline = readLine()
        if (vline == null) {
          if (overlong) syncToMagic() else { done = true; return false }
        }
        else if (vline.isEmpty) () // stray blank between records: skip
        else if (!vline.startsWith("WARC/1.")) syncToMagic()
        else if (parseOne()) return true
      }
    }
    false
  }

  /** Headers + Content-Length payload from the current position (just
    * past the version line). True when `value` holds a record; false
    * to make the caller resync/continue. */
  private def parseOne(): Boolean = {
    val hdr = new ByteArrayOutputStream(512)
    var contentLength = -1L
    var line = readLine()
    while (line != null && line.nonEmpty) {
      hdr.write(line.getBytes("ISO-8859-1"), 0, line.length)
      hdr.write('\r'); hdr.write('\n')
      val ci = line.indexOf(':')
      if (ci > 0 && line.substring(0, ci).trim.equalsIgnoreCase("Content-Length"))
        contentLength =
          try line.substring(ci + 1).trim.toLong
          catch { case _: NumberFormatException => -1L }
      line = readLine()
    }
    if (line == null) { // truncated header block — or a hostile
      // CRLF-free run masquerading as one: resync and keep the split
      if (overlong) { syncToMagic(); return false }
      done = true; return false
    }
    if (contentLength < 0 || contentLength > MaxRecordBytes) {
      syncToMagic() // malformed or hostile length: skip this candidate
      return false
    }
    hdr.write('\r'); hdr.write('\n') // the header/payload blank line
    val payload = new Array[Byte](contentLength.toInt)
    var off = 0
    var eof = false
    while (off < payload.length && !eof) {
      val n = readBulk(payload, off, payload.length - off)
      if (n < 0) eof = true
      else { off += n; pos += n }
    }
    if (eof) done = true // truncated tail: emit short, then stop
    else {
      // consume the trailing CRLF CRLF when present; push anything
      // else back (the next loop pass resyncs on it)
      val t = new Array[Byte](4)
      var k = 0
      var b = 0
      while (k < 4 && { b = read1(); b >= 0 }) { t(k) = b.toByte; k += 1 }
      if (!(k == 4 && t(0) == '\r' && t(1) == '\n' && t(2) == '\r' && t(3) == '\n')) {
        pushBack(t, k)
        pos -= k
      }
    }
    val h = hdr.toByteArray
    val rec = new Array[Byte](h.length + off)
    System.arraycopy(h, 0, rec, 0, h.length)
    System.arraycopy(payload, 0, rec, h.length, off)
    value.set(rec, 0, rec.length)
    true
  }

  override def getCurrentKey: NullWritable = NullWritable.get()
  override def getCurrentValue: BytesWritable = value
  override def getProgress: Float =
    if (end <= start || end == Long.MaxValue) 0f
    else if (gz != null)
      math.min(1f, (claimPoint - start).toFloat / (end - start))
    else math.min(1f, (pos - start).toFloat / (end - start))
  override def close(): Unit = if (in != null) in.close()
}
