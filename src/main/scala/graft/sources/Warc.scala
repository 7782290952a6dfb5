package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** WARC (ISO 28500) ingestion — the container CommonCrawl-scale web
  * corpora actually arrive in, read DISTRIBUTED: `spark.read.text` with
  * the inter-record sequence as a custom `lineSep` splits records at
  * input-split granularity (Hadoop's custom-delimiter line reader), so
  * a 100 TB crawl fans out by HDFS block with no driver-side pass.
  * Everything after the split is map-only column work.
  *
  * Implemented from the PUBLIC ISO 28500 / WARC 1.0 specification: a
  * record is `WARC/1.0 CRLF headers CRLF CRLF payload CRLF CRLF`, so
  * the byte sequence BETWEEN records is exactly
  * `\r\n\r\nWARC/1.0\r\n`. A payload that embeds that full sequence
  * (possible — payloads are arbitrary bytes) false-splits; the
  * `length_ok` column (octet length of the recovered payload vs the
  * record's own Content-Length header) makes every such record — and
  * any truncated tail — VISIBLE instead of silently wrong, which is the
  * honest contract a text-splitter can offer. (The lossless alternative
  * is a custom InputFormat that walks Content-Length from each split
  * boundary; same schema, drop-in.) Non-UTF-8 payload bytes pass
  * through Spark's replacement-char decoding — binary payloads (images)
  * belong to the multimodal binary path, not this text reader.
  *
  * [[responses]] composes the standard curation chain one step further:
  * response records carry an HTTP message as payload, so the body is
  * everything after the first blank line — feed it to
  * [[graft.ops.TextAnalysis.htmlText]] and the WARC → HTML → text
  * pipeline is three map-only stages end to end. */
object Warc {

  private val Boundary = "\r\n\r\nWARC/1.0\r\n"

  private def header(name: String) =
    nullif(regexp_extract(col("_hdrs"), "(?mi)^" + name + ":\\s*([^\\r\\n]*)", 1),
      lit(""))

  /** Every record as (warc_type, record_id, target_uri, warc_date,
    * content_type, content_length, payload, length_ok). Header names
    * are matched case-insensitively (the spec allows any case). */
  def records(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("lineSep", Boundary).text(path)
    parse(raw
      // the file's first record has no preceding boundary — normalize
      .select(regexp_replace(col("value"), "\\A(?:WARC/1\\.0\\r\\n)", "").as("_rec"))
      .where(length(trim(col("_rec"))) > 0)
      // the final record keeps the file-terminating CRLF CRLF — fold it
      // into the boundary rather than the payload
      .select(regexp_replace(col("_rec"), "(?:\\r\\n\\r\\n)\\z", "").as("_rec")))
  }

  /** Raw (header-string, payload-bytes) record halves from the
    * lossless reader — the shared seam every lossless variant builds
    * on. The byte-level split at the first CRLF CRLF replicates
    * [[parse]]'s regex split WITHOUT decoding the payload, so binary
    * members survive byte-for-byte (Spark 4's SQL `decode` is strict —
    * MALFORMED_CHARACTER_CODING kills the task on the first binary
    * payload; found by the split-resync fuzz). Headers are
    * ISO-8859-1-decoded (byte-transparent; the spec's header charset
    * is ASCII-compatible). */
  private[sources] case class RawWarcRec(_hdrs: String, payload: Array[Byte])

  private def rawRecords(
      spark: SparkSession,
      path: String,
      maxSplitBytes: Option[Long]): org.apache.spark.sql.Dataset[RawWarcRec] = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    maxSplitBytes.foreach(b =>
      conf.setLong("mapreduce.input.fileinputformat.split.maxsize", b))
    val rdd = spark.sparkContext.newAPIHadoopFile(
        path, classOf[WarcInputFormat],
        classOf[org.apache.hadoop.io.NullWritable],
        classOf[org.apache.hadoop.io.BytesWritable], conf)
      .map { r =>
        val b = r._2.copyBytes()
        var i = 0
        var cut = -1
        while (cut < 0 && i + 3 < b.length) {
          if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
            cut = i
          i += 1
        }
        if (cut < 0) RawWarcRec(new String(b, "ISO-8859-1"), Array.emptyByteArray)
        else RawWarcRec(new String(b, 0, cut, "ISO-8859-1"),
          java.util.Arrays.copyOfRange(b, cut + 4, b.length))
      }
    spark.createDataset(rdd)(
      org.apache.spark.sql.Encoders.product[RawWarcRec])
  }

  /** [[records]] over the LOSSLESS splittable reader
    * ([[WarcInputFormat]] — walks Content-Length from each split
    * boundary instead of text-splitting on the inter-record sequence).
    * Text-path schema plus one column: a payload embedding the
    * boundary bytes parses whole here (`length_ok = true`) where the
    * text path false-splits it, `length_ok` compares the RAW byte
    * count against Content-Length BEFORE any decoding (the text path
    * can only measure the replacement-decoded payload, so a latin-1
    * page fails its check; here it passes), and the appended
    * `decode_lossy` flag marks payloads whose UTF-8 decode needed
    * replacement characters — non-UTF-8 pages stay distinguishable
    * from genuinely truncated or false-split records instead of being
    * silently conflated with them. `maxSplitBytes` forces smaller
    * input splits (tests; tuning against small files) — production
    * leaves it None and splits at block size. */
  def recordsLossless(
      spark: SparkSession,
      path: String,
      maxSplitBytes: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val decoded = rawRecords(spark, path, maxSplitBytes)
      .map { r =>
        val (text, lossy) = decodeWith(r.payload,
          java.nio.charset.StandardCharsets.UTF_8)
        (r._hdrs, text, r.payload.length.toLong, lossy)
      }
      .toDF("_hdrs", "payload", "_raw_len", "_lossy")
    parseCols(decoded,
        lengthOk = col("content_length").isNotNull &&
          col("_raw_len") === col("content_length"),
        extra = Seq(col("_raw_len"), col("_lossy")))
      .withColumn("decode_lossy", col("_lossy"))
      .drop("_raw_len", "_lossy")
  }

  /** Every record with its RAW payload bytes (`BinaryType`) — the
    * bridge from crawl ingestion to the multimodal triage family
    * ([[graft.ops.Multimodal.imageHeaderScan]]/audio/video run
    * directly on this `payload`). Same columns as [[records]] with
    * `payload: binary`; `length_ok` is the raw octet count vs
    * Content-Length — exact for every member, text or binary. */
  def recordsBinary(
      spark: SparkSession,
      path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    parseCols(rawRecords(spark, path, maxSplitBytes).toDF(),
      lengthOk = col("content_length").isNotNull &&
        octet_length(col("payload")) === col("content_length"))

  /** UTF-8/charset decode with the REPLACE policy plus a lossy flag:
    * the common all-valid case pays one strict pass; only malformed
    * payloads decode twice. */
  private def decodeWith(
      bytes: Array[Byte],
      cs: java.nio.charset.Charset): (String, Boolean) =
    try {
      val dec = cs.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      (dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString, false)
    } catch {
      case _: java.nio.charset.CharacterCodingException =>
        (new String(bytes, cs), true)
    }

  /** Shared column parser over `_rec` = header block + CRLF CRLF +
    * payload (version line already stripped by the reader). */
  private def parse(recs: DataFrame): DataFrame =
    parseCols(recs
        .select(
          // headers end at the first blank line; payload is the rest
          regexp_extract(col("_rec"), "(?s)\\A(.*?)\\r\\n\\r\\n", 1).as("_hdrs"),
          regexp_replace(col("_rec"), "(?s)\\A.*?\\r\\n\\r\\n", "").as("payload")),
      lengthOk = col("content_length").isNotNull &&
        octet_length(col("payload")) === col("content_length"))

  /** Shared header-column projection over a frame carrying `_hdrs` +
    * `payload` (string OR binary): the WARC header fields, the payload,
    * any `extra` passthrough columns, then `length_ok` per the
    * caller's policy (the text path can only measure the decoded
    * payload; the lossless/binary paths measure raw octets). */
  private def parseCols(
      df: DataFrame,
      lengthOk: Column,
      extra: Seq[Column] = Nil): DataFrame =
    df.select(Seq(
        lower(header("WARC-Type")).as("warc_type"),
        header("WARC-Record-ID").as("record_id"),
        header("WARC-Target-URI").as("target_uri"),
        header("WARC-Date").as("warc_date"),
        header("Content-Type").as("content_type"),
        header("Content-Length").cast("long").as("content_length"),
        col("payload")) ++ extra: _*)
      .withColumn("length_ok", lengthOk)

  /** Response records reduced to their HTTP BODY (everything after the
    * HTTP message's first blank line) — the input the HTML→text step
    * consumes. Records that failed length validation are excluded: a
    * false-split payload is not a trustworthy document. */
  def responses(spark: SparkSession, path: String): DataFrame =
    records(spark, path)
      .where(col("warc_type") === "response" && col("length_ok"))
      .select(col("record_id"), col("target_uri"), col("warc_date"),
        regexp_replace(col("payload"), "(?s)\\A.*?\\r\\n\\r\\n", "").as("body"))

  /** [[responses]] plus the HTTP-message triage columns a crawl
    * curation pass filters on BEFORE extracting text: `http_status`
    * (from the status line; NULL when the payload is not an HTTP
    * message), `mime_type` (Content-Type up to any ';', lowercased)
    * and `charset` (the Content-Type charset parameter, lowercased) —
    * the standard keep-gate is `http_status = 200 AND mime_type LIKE
    * 'text/%'`. Header names match case-insensitively; all map-only
    * regexp work over the KB-sized HTTP head, fused into the scan.
    * CAVEAT (text path): `length_ok` can only measure the
    * replacement-DECODED payload, so any non-UTF-8 byte (a latin-1
    * page) inflates to U+FFFD and fails the check — such pages are
    * excluded here; [[httpResponsesLossless]] measures raw octets and
    * decodes per the declared charset, keeping them. */
  def httpResponses(spark: SparkSession, path: String): DataFrame = {
    val head = regexp_extract(col("payload"), "(?s)\\A(.*?)\\r\\n\\r\\n", 1)
    val ctype = nullif(lower(regexp_extract(head,
      "(?mi)^Content-Type:\\s*([^\\r\\n]*)", 1)), lit(""))
    records(spark, path)
      .where(col("warc_type") === "response" && col("length_ok"))
      .select(col("record_id"), col("target_uri"), col("warc_date"),
        nullif(regexp_extract(col("payload"),
          "\\AHTTP/[0-9.]+\\s+(\\d{3})", 1), lit("")).cast("int")
          .as("http_status"),
        nullif(trim(regexp_extract(ctype, "\\A([^;]*)", 1)), lit(""))
          .as("mime_type"),
        nullif(regexp_extract(ctype, "charset=\"?([^\"';\\s]+)", 1), lit(""))
          .as("charset"),
        regexp_replace(col("payload"), "(?s)\\A.*?\\r\\n\\r\\n", "").as("body"))
  }

  /** [[httpResponses]] over the LOSSLESS binary reader with PER-RECORD
    * charset decoding: the HTTP head splits off at the byte level, the
    * `charset` parameter it declares picks the decoder for the body
    * (replacement policy; unknown/absent charset falls back to UTF-8),
    * and `decode_lossy` marks bodies that still needed replacement.
    * This is the path where a latin-1/windows-1252 page — which the
    * text path's octet check necessarily rejects — survives with its
    * text intact: `length_ok` here is raw octets vs Content-Length,
    * decided BEFORE any decoding. Charset handling is genuinely
    * per-record imperative work, so it runs in the typed map; all
    * header/status parsing stays in codegen'd column work. */
  def httpResponsesLossless(
      spark: SparkSession,
      path: String,
      maxSplitBytes: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val CsRe = java.util.regex.Pattern.compile(
      "(?mi)^Content-Type:[^\\r\\n]*?charset=\"?([^\"';\\s]+)",
      java.util.regex.Pattern.MULTILINE)
    val split = rawRecords(spark, path, maxSplitBytes)
      .map { r =>
        val p = r.payload
        var i = 0
        var cut = -1
        while (cut < 0 && i + 3 < p.length) {
          if (p(i) == '\r' && p(i + 1) == '\n' && p(i + 2) == '\r' && p(i + 3) == '\n')
            cut = i
          i += 1
        }
        val head =
          if (cut < 0) "" else new String(p, 0, cut, "ISO-8859-1")
        val bodyBytes =
          if (cut < 0) Array.emptyByteArray
          else java.util.Arrays.copyOfRange(p, cut + 4, p.length)
        val m = CsRe.matcher(head)
        val csName =
          if (m.find()) m.group(1).toLowerCase(java.util.Locale.ROOT) else null
        val cs =
          try {
            if (csName == null) java.nio.charset.StandardCharsets.UTF_8
            else java.nio.charset.Charset.forName(csName)
          } catch {
            case NonFatal(_) => java.nio.charset.StandardCharsets.UTF_8
          }
        val (body, lossy) = decodeWith(bodyBytes, cs)
        (r._hdrs, head, body, csName, lossy, p.length.toLong)
      }
      .toDF("_hdrs", "_head", "body", "charset", "decode_lossy", "_raw_len")
    split
      .where(lower(regexp_extract(col("_hdrs"),
        "(?mi)^WARC-Type:\\s*([^\\r\\n]*)", 1)) === "response")
      .where(regexp_extract(col("_hdrs"),
        "(?mi)^Content-Length:\\s*([^\\r\\n]*)", 1).cast("long") === col("_raw_len"))
      .select(
        header("WARC-Record-ID").as("record_id"),
        header("WARC-Target-URI").as("target_uri"),
        header("WARC-Date").as("warc_date"),
        nullif(regexp_extract(col("_head"),
          "\\AHTTP/[0-9.]+\\s+(\\d{3})", 1), lit("")).cast("int")
          .as("http_status"),
        nullif(trim(regexp_extract(lower(regexp_extract(col("_head"),
          "(?mi)^Content-Type:\\s*([^\\r\\n]*)", 1)), "\\A([^;]*)", 1)),
          lit("")).as("mime_type"),
        col("charset"), col("body"), col("decode_lossy"))
  }
}
