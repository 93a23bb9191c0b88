package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.WarcCodec

/** Crawl-archive ingestion — the stage every LLM text pipeline starts
  * with: `.warc.gz` member decode (RFC 1952 over the hand-rolled
  * DEFLATE), WARC record parse (ISO 28500), HTTP response parse, and
  * rough HTML→text extraction, as Spark operators over
  * [[graft.sources.WarcCodec]].
  *
  * Oracle device (q230/q231): the corpus is GENERATIVE — every document
  * becomes a real multi-member `.warc.gz` byte stream
  * ([[synthWarcGz]]: warcinfo + request + optional 301 + the 200
  * text/html response, one gzip member per record, levels 0–9, FNAME /
  * FHCRC / FCOMMENT / FEXTRA header fields all exercised), and the
  * DuckDB twin regenerates the EXTRACTED TEXT arithmetically from the
  * same integer formulas. The Spark side can only reach that text
  * through the real decode chain (inflate → CRC32/ISIZE → WARC framing
  * → HTTP envelope → comment/script/style removal → quote-aware tag
  * strip → entity decode → whitespace collapse), and the gate compares
  * `md5(text)` cross-engine — any drift anywhere in the chain (a
  * mis-skipped gzip header field, a tag scanner that ends at the `>`
  * inside `data-trap="a>b"`, an undecoded `&amp;`, a surviving
  * EXCLUDEDSCRIPT token) flips the hash. Same family as the image
  * codec gates (q203/q218/q228), applied to the crawl wire.
  *
  * Scale shape: decode is map-only over documents (one scan, zero
  * shuffles before the final ordering; q231 adds one map-side-combined
  * host aggregate). At 100 TB the unit of parallelism is the archive
  * FILE (members are not block-splittable — see [[WarcCodec]] scaladoc),
  * which is exactly how Common Crawl shards: ~1 GiB archives, one task
  * each, [[readWarcArchives]] keys on `binaryFile` rows.
  */
object Crawl {

  // ---------------------------------------------- generative corpus

  private[graft] def host(docId: Long): String = s"h${docId % 53}.example.com"
  private def path(docId: Long): String = s"/p/${(docId * 47) % 1009}"
  private def url(docId: Long): String = s"https://${host(docId)}${path(docId)}"
  private def titleTxt(docId: Long): String =
    s"Doc $docId :: crawl ${docId % 53}"

  /** Token i as it appears in the EXTRACTED text: every 7th token (at
    * i%7==3) carries a decoded `&amp;`, every 11th (at i%11==5, when
    * not already an entity token) decoded numeric+hex references —
    * precedence is the %7 arm first, restated identically in the twin. */
  private def tokenWire(docId: Long, i: Int): String =
    if (i % 7 == 3) s"x&amp;${(docId + i) % 10}"
    else if (i % 11 == 5) s"&#65;&#x42;${(docId * 2 + i) % 10}"
    else s"w${(docId * 61 + i * 29) % 9973}"

  /** The page body tokens, separated by formula-varied RAW whitespace
    * (newline+indent / space / tab by i mod 3) the extractor must
    * collapse to single spaces. */
  private def tokensWire(docId: Long, nt: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nt) {
      if (i > 0) sb.append((i % 3) match {
        case 0 => "\n  "
        case 1 => " "
        case _ => "\t"
      })
      sb.append(tokenWire(docId, i))
      i += 1
    }
    sb.toString
  }

  /** The synthetic page: DOCTYPE, head (meta/title/style/script —
    * style+script carry EXCLUDED decoy text that must be dropped with
    * their elements, the script contains a raw `<` that would survive a
    * naive tag-strip-without-element-removal), a body tag whose
    * attribute value contains `>` (the quoted-attribute trap), an HTML
    * comment decoy, the title repeated as `<h1>`, and the token
    * paragraph. Extracted text is exactly
    * `title + ' ' + title + ' ' + tokens.join(' ')`. */
  private[graft] def synthHtml(docId: Long, nt: Int): String = {
    val t = titleTxt(docId)
    s"""<!DOCTYPE html>
       |<html>
       |<head>
       |<meta charset="utf-8">
       |<title>$t</title>
       |<style>.s${docId % 5} { color: #fff; } EXCLUDEDSTYLE</style>
       |<script type="text/javascript">var q = "EXCLUDEDSCRIPT"; if (1 < 2) { q = q + "$docId"; }</script>
       |</head>
       |<body class="c${docId % 7}" data-trap="a>b">
       |<!-- EXCLUDEDCOMMENT $docId -->
       |<h1>$t</h1>
       |<p id="t${docId % 3}">
       |${tokensWire(docId, nt)}
       |</p>
       |</body>
       |</html>""".stripMargin
  }

  private def httpResponse200(html: Array[Byte]): Array[Byte] = {
    val head = "HTTP/1.1 200 OK\r\n" +
      "Server: graft/1.0\r\n" +
      "Content-Type: text/html; charset=UTF-8\r\n" +
      s"Content-Length: ${html.length}\r\n\r\n"
    val out = new java.io.ByteArrayOutputStream(head.length + html.length)
    out.write(head.getBytes("US-ASCII"))
    out.write(html)
    out.toByteArray
  }

  private def httpResponse301(docId: Long): Array[Byte] =
    ("HTTP/1.1 301 Moved Permanently\r\n" +
      s"Location: https://${host(docId)}/old${path(docId)}\r\n" +
      "Content-Length: 0\r\n\r\n").getBytes("US-ASCII")

  private def httpRequest(docId: Long): Array[Byte] =
    (s"GET ${path(docId)} HTTP/1.1\r\n" +
      s"Host: ${host(docId)}\r\n" +
      "User-Agent: graftbot/1.0 (+https://example.com/bot)\r\n" +
      "Accept: text/html\r\n\r\n").getBytes("US-ASCII")

  /** Zero-pad in Locale.ROOT — the `f` interpolator's `%02d` localizes
    * digits under digit-localizing default locales. */
  private def pad2(n: Long): String =
    String.format(java.util.Locale.ROOT, "%02d", java.lang.Long.valueOf(n))

  private def warcDate(docId: Long): String =
    s"2026-01-${pad2((docId % 28) + 1)}T00:00:00Z"

  private def record(docId: Long, seq: Int, warcType: String,
      contentType: String, block: Array[Byte],
      targetUri: Option[String]): Array[Byte] =
    WarcCodec.writeRecord(warcType,
      Seq("WARC-Record-ID" -> s"<urn:graft:$docId:$seq>",
        "WARC-Date" -> warcDate(docId),
        "Content-Type" -> contentType) ++
        targetUri.map("WARC-Target-URI" -> _),
      block)

  /** One document's `.warc.gz`: 3 records (4 when docId%4==0 — a 301
    * response precedes the 200), each in its OWN gzip member (the
    * Common Crawl layout), member compression level (docId+seq)%10 so
    * stored/fixed/dynamic DEFLATE blocks all occur, and the optional
    * gzip header fields spread across members so every header-walk arm
    * runs on real wires. */
  private[graft] def synthWarcGz(docId: Long, nChars: Long): Array[Byte] = {
    val nt = (nChars % 37 + 5).toInt
    val html = synthHtml(docId, nt).getBytes("UTF-8")
    val u = url(docId)
    val info = record(docId, 0, "warcinfo", "application/warc-fields",
      "software: graft-warc/13\r\nformat: WARC File Format 1.0\r\n"
        .getBytes("US-ASCII"), None)
    val req = record(docId, 1, "request",
      "application/http; msgtype=request", httpRequest(docId), Some(u))
    val redirect =
      if (docId % 4 == 0)
        Some(record(docId, 2, "response",
          "application/http; msgtype=response", httpResponse301(docId),
          Some(u)))
      else None
    val resp = record(docId, 3, "response",
      "application/http; msgtype=response", httpResponse200(html), Some(u))
    def lvl(seq: Int): Int = ((docId + seq) % 10).toInt
    val out = new java.io.ByteArrayOutputStream(html.length + 1024)
    out.write(WarcCodec.gzipMember(info, lvl(0), fname = Some("rec.warc")))
    out.write(WarcCodec.gzipMember(req, lvl(1), fhcrc = true))
    redirect.foreach(r =>
      out.write(WarcCodec.gzipMember(r, lvl(2), fcomment = Some("redirect"))))
    out.write(WarcCodec.gzipMember(resp, lvl(3),
      fextra = if (docId % 2 == 0) Some(Array[Byte](1, 2, 3, 4)) else None))
    out.toByteArray
  }

  // ---------------------------------------------- operators

  final case class CrawlDoc(doc_id: Long, url: String, status: Long,
      n_records: Long, title: String, text: String)

  /** Decode the whole generative archive corpus: one documents scan,
    * map-only (the decode chain runs per row inside one narrow
    * mapPartitions — no shuffle until the consumer aggregates/orders). */
  private[graft] def parsedDocs(spark: SparkSession,
      dir: String): Dataset[CrawlDoc] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        val pages = recs.filter(_.warcType == "response")
          .map(r => (r, WarcCodec.parseHttpResponse(r.block)))
          .filter { case (_, h) => h.status == 200 &&
            h.header("Content-Type").exists(_.startsWith("text/html")) }
        require(pages.size == 1,
          s"doc $id: expected exactly one 200 text/html response record")
        val (rec, http) = pages.head
        val html = new String(http.body,
          java.nio.charset.StandardCharsets.UTF_8)
        CrawlDoc(id,
          rec.header("WARC-Target-URI").getOrElse(""),
          http.status.toLong, recs.size.toLong,
          WarcCodec.htmlTitle(html), WarcCodec.htmlText(html))
      })
  }

  /** q230: WARC ingest — per-document parsed fields plus the extracted
    * text's md5/length/token count (the text itself stays out of the
    * result; the hash is the gate). */
  def warcIngest(spark: SparkSession, dir: String): DataFrame =
    parsedDocs(spark, dir).toDF()
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")

  /** q231: host-grain crawl stats — the decode feeding a
    * map-side-combined aggregate (the post-ingest shape: group the
    * extracted corpus by registrable host, count pages/tokens/chars and
    * redirect-carrying captures). */
  def crawlHostStats(spark: SparkSession, dir: String): DataFrame =
    parsedDocs(spark, dir).toDF()
      .select(
        regexp_extract(col("url"), "^https://([^/]+)/", 1).as("host"),
        length(col("text")).cast("long").as("chars"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        (col("n_records") === 4).cast("long").as("redir"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("sum_tokens"),
        sum("chars").as("sum_chars"),
        sum("redir").as("n_redirects"))
      .orderBy("host")

  // ---------------------------------------------- charset handling

  /** q233's corpus: one-response archives whose pages rotate through
    * UTF-8 / ISO-8859-1 / Windows-1252 by doc_id mod 3, each carrying
    * charset-revealing tokens (é / ñ / em-dash) that decode to
    * DIFFERENT codepoints than a wrong-charset read would produce —
    * an as-UTF-8 parse of the latin-1 é byte is a decode error, and an
    * as-latin-1 parse of the cp1252 em-dash byte lands on the C1
    * control U+0097, so either mistake flips `md5(text)`. */
  private def charsetName(docId: Long): String = (docId % 3) match {
    case 0 => "utf-8"
    case 1 => "iso-8859-1"
    case _ => "windows-1252"
  }

  private def charsetToken(docId: Long, i: Int): String = {
    val k = (docId + i) % 10
    (docId % 3) match {
      case 0 => s"é$k" // é — two bytes in UTF-8
      case 1 => s"ñ$k" // ñ — single byte 0xF1 in latin-1
      case _ => s"—$k" // em-dash — single byte 0x97 in cp1252
    }
  }

  private[graft] def synthCharsetWarcGz(docId: Long,
      nChars: Long): Array[Byte] = {
    val nt = (nChars % 29 + 4).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < nt) {
      if (i > 0) sb.append(if (i % 2 == 0) "\n " else " ")
      sb.append(
        if (i % 5 == 2) charsetToken(docId, i)
        else s"m${(docId * 37 + i * 13) % 9973}")
      i += 1
    }
    val html =
      s"""<html><head><title>Charset $docId</title></head>
         |<body><p>
         |${sb.toString}
         |</p></body></html>""".stripMargin
    val cs = java.nio.charset.Charset.forName(charsetName(docId))
    val body = html.getBytes(cs)
    // vary the header spelling so the parameter parse is exercised
    val ctParam = (docId % 3) match {
      case 0 => "charset=UTF-8"
      case 1 => "charset=\"ISO-8859-1\""
      case _ => "CHARSET=Windows-1252"
    }
    val head = "HTTP/1.1 200 OK\r\n" +
      s"Content-Type: text/html; $ctParam\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    val block = new java.io.ByteArrayOutputStream(head.length + body.length)
    block.write(head.getBytes("US-ASCII"))
    block.write(body)
    val rec = record(docId, 0, "response",
      "application/http; msgtype=response", block.toByteArray,
      Some(url(docId)))
    WarcCodec.gzipMember(rec, ((docId % 9) + 1).toInt)
  }

  final case class CharsetDoc(doc_id: Long, charset: String, title: String,
      text: String)

  /** q233: charset-aware page decode — the [[warcIngest]] chain with the
    * body decoded through the Content-Type charset parameter instead of
    * assumed UTF-8. `md5(text)` is again the gate: the twin emits the
    * expected codepoints via `chr()`, so a wrong-charset decode (the
    * classic crawl bug) cannot hash-match. */
  def charsetPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthCharsetWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        require(recs.length == 1 && recs.head.warcType == "response",
          s"doc $id: expected the single response record")
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        val ct = http.header("Content-Type").getOrElse("")
        val cs = WarcCodec.charsetOf(ct)
        val html = new String(http.body, cs)
        CharsetDoc(id, cs.name().toLowerCase(java.util.Locale.ROOT),
          WarcCodec.htmlTitle(html), WarcCodec.htmlText(html))
      }).toDF()
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  /** q257's corpus: the SAME page text on four TRANSPORT arms — the
    * text law is arm-independent, so the oracle restates it once and
    * every wire variation must be invisible. Arms on docId%4:
    * (0) UTF-8, truthful header, no BOM — the q233 control;
    * (1) UTF-16LE with BOM under a LYING `charset=iso-8859-1` header —
    * a header-trusting reader decodes NUL-riddled mojibake;
    * (2) UTF-16BE with BOM and NO charset parameter — the UTF-8
    * default would mangle every wide char;
    * (3) UTF-8 with BOM under a lying `charset=windows-1252` header —
    * the BOM must be both honored AND consumed (a cp1252 read leaks
    * "ï»¿" into the title). Every token carries é so each arm's
    * decode is load-bearing. */
  private def bomToken(docId: Long, i: Int): String =
    if (i % 3 == 1) s"é${(docId + i) % 10}"
    else s"v${(docId * 89 + i * 19) % 9973}"

  private[graft] def synthBomWarcGz(docId: Long,
      nChars: Long): Array[Byte] = {
    val nt = (nChars % 21 + 4).toInt
    val toks = (0 until nt).map(bomToken(docId, _)).mkString(" ")
    val html =
      s"""<html><head><title>Bom $docId</title></head>
         |<body><p>
         |$toks
         |</p></body></html>""".stripMargin
    import java.nio.charset.StandardCharsets._
    val (ctParam, body) = (docId % 4) match {
      case 0 => ("; charset=UTF-8", html.getBytes(UTF_8))
      case 1 =>
        val b = html.getBytes(UTF_16LE)
        val out = new Array[Byte](b.length + 2)
        out(0) = 0xff.toByte; out(1) = 0xfe.toByte
        System.arraycopy(b, 0, out, 2, b.length)
        ("; charset=iso-8859-1", out) // lying header; BOM wins
      case 2 =>
        val b = html.getBytes(UTF_16BE)
        val out = new Array[Byte](b.length + 2)
        out(0) = 0xfe.toByte; out(1) = 0xff.toByte
        System.arraycopy(b, 0, out, 2, b.length)
        ("", out) // no charset param; BOM beats the UTF-8 default
      case _ =>
        val b = html.getBytes(UTF_8)
        val out = new Array[Byte](b.length + 3)
        out(0) = 0xef.toByte; out(1) = 0xbb.toByte; out(2) = 0xbf.toByte
        System.arraycopy(b, 0, out, 3, b.length)
        ("; charset=windows-1252", out) // lying header; BOM wins
    }
    val head = "HTTP/1.1 200 OK\r\n" +
      s"Content-Type: text/html$ctParam\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    val block = new java.io.ByteArrayOutputStream(head.length + body.length)
    block.write(head.getBytes("US-ASCII"))
    block.write(body)
    val rec = record(docId, 0, "response",
      "application/http; msgtype=response", block.toByteArray,
      Some(url(docId)))
    WarcCodec.gzipMember(rec, ((docId % 9) + 1).toInt)
  }

  /** q257: BOM-precedence page decode — the HTML5 sniffing rule the
    * charset-param chain (q233) still lacked: a byte-order mark
    * outranks the transport header, which REAL servers get wrong
    * constantly (the classic: UTF-16 content behind a latin-1
    * header). The corpus serves the SAME text law over four transport
    * arms (two lying headers, one absent parameter, one control), so
    * the single arithmetic twin gates all of them: a header-trusting
    * decode, a BOM left in the text, or a wrong endianness each flip
    * `md5(text)` or the pinned `bom` column. Map-only — the q233
    * class. */
  def bomCharsetPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthBomWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        require(recs.length == 1 && recs.head.warcType == "response",
          s"doc $id: expected the single response record")
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        val ct = http.header("Content-Type").getOrElse("")
        val bom = WarcCodec.sniffBom(http.body).map(_._1).getOrElse("none")
        val html = WarcCodec.decodeHtml(http.body, ct)
        (id, bom, WarcCodec.htmlTitle(html), WarcCodec.htmlText(html))
      }).toDF("doc_id", "bom", "title", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  /** q258's corpus: the SAME page on two HTTP framings — a
    * `Content-Length` body (control) and a `Transfer-Encoding:
    * chunked` capture whose chunk sizes walk a docId-keyed formula
    * (1..900 bytes, so single-byte chunks, mid-token splits, and
    * whole-body chunks all occur across the corpus), with chunk
    * extensions planted on every third chunk (MUST-ignore) and a
    * trailer field on docId%3==0 (part of the message — surfaced and
    * pinned). A reader that passes the raw wire through as body
    * leaves hex size lines inside the text and flips the hash. */
  private def chunkToken(docId: Long, i: Int): String =
    if (i % 3 == 2) s"é${(docId + i) % 10}"
    else s"c${(docId * 101 + i * 23) % 9973}"

  private[graft] def synthChunkedWarcGz(docId: Long,
      nChars: Long): Array[Byte] = {
    val nt = (nChars % 19 + 4).toInt
    val toks = (0 until nt).map(chunkToken(docId, _)).mkString(" ")
    val html =
      s"""<html><head><title>Chunk $docId</title></head>
         |<body><p>
         |$toks
         |</p></body></html>""".stripMargin
    val body = html.getBytes("UTF-8")
    val trailer =
      if (docId % 3 == 0) Some(s"X-Trail: t${docId % 97}") else None
    val (framing, wire) =
      if (docId % 2 == 0)
        (s"Content-Length: ${body.length}", body)
      else {
        val out = new java.io.ByteArrayOutputStream(body.length + 64)
        def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
        var p = 0
        var k = 0
        while (p < body.length) {
          val size = math.min(body.length - p,
            ((docId * 13 + k * 17) % 900 + 1).toInt)
          val ext = if (k % 3 == 1) ";planted=ext" else ""
          w(java.lang.Long.toHexString(size.toLong) + ext + "\r\n")
          out.write(body, p, size)
          w("\r\n")
          p += size
          k += 1
        }
        w("0\r\n")
        trailer.foreach(t => w(t + "\r\n"))
        w("\r\n")
        ("Transfer-Encoding: chunked", out.toByteArray)
      }
    val head = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=UTF-8\r\n" +
      s"$framing\r\n" +
      (if (docId % 2 == 0) trailer.map(_ + "\r\n").getOrElse("") else "") +
      "\r\n"
    val block = new java.io.ByteArrayOutputStream(head.length + wire.length)
    block.write(head.getBytes("US-ASCII"))
    block.write(wire)
    val rec = record(docId, 0, "response",
      "application/http; msgtype=response", block.toByteArray,
      Some(url(docId)))
    WarcCodec.gzipMember(rec, ((docId % 9) + 1).toInt)
  }

  /** q258: chunked transfer-coding decode — WARC stores the RAW wire,
    * and a large share of real captures are chunked; a reader that
    * skips dechunking leaves `1a3\r\n` framing lines inside the
    * extracted text (silent corruption that survives every downstream
    * gate). One text law over both framings: the twin never mentions
    * chunks, so a framing leak, a dropped byte at a chunk seam, an
    * honored-instead-of-ignored extension, or a lost trailer each
    * flip `md5(text)` or the pinned `trailer` column. Map-only — the
    * q233 class. */
  def chunkedPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthChunkedWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        require(recs.length == 1 && recs.head.warcType == "response",
          s"doc $id: expected the single response record")
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        val ct = http.header("Content-Type").getOrElse("")
        val html = WarcCodec.decodeHtml(http.body, ct)
        val framing = if (id % 2 == 0) "content-length" else "chunked"
        val trail = http.header("X-Trail").getOrElse("none")
        (id, framing, trail, WarcCodec.htmlText(html))
      }).toDF("doc_id", "framing", "trailer", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------- robots frontier gate

  /** q234's per-host robots.txt, formula-generated: a decoy group
    * (`otherbot`: disallow all), the governing `graftbot` group — a
    * Disallow prefix `/p/<d>` with a LONGER Allow `/p/<d><e>` carved
    * out of it (d = host%10, e = host%7), so RFC 9309 longest-match
    * precedence decides every URL — and a `*` group that disallows all
    * of `/p/`: a parser that falls back to the wildcard group (or picks
    * the decoy) blocks everything and cannot match. Mixed field case,
    * comments, a Sitemap line and Crawl-delay exercise parse
    * tolerance on the gated path. */
  private[graft] def robotsText(h: Long): String = {
    val d = h % 10
    val e = h % 7
    s"""# robots for ${host(h)}
       |User-agent: otherbot
       |Disallow: /
       |
       |USER-AGENT: graftbot
       |Allow: /p/$d$e
       |Disallow: /p/$d
       |Crawl-delay: ${h % 7 + 1}
       |Sitemap: https://${host(h)}/sitemap.xml
       |
       |User-agent: *
       |Disallow: /p/
       |""".stripMargin
  }

  /** Host-count ceiling for the BROADCAST form of the frontier gate.
    * Robots state is host-bounded, not corpus-bounded — but "bounded"
    * has a number: a real web frontier has 10⁷–10⁸ registrable hosts at
    * ~1 KB of parsed rules each, i.e. a 10–100 GB broadcast that no
    * executor should hold. Below this ceiling (~100 MB of rules) the
    * broadcast form wins (zero shuffles, pure map-side verdicts); above
    * it the JOINED form is the scale-safe shape: rules as a TABLE,
    * hash-partitioned alongside the URL stream on `host`
    * ([[robotsGateJoined]]). [[robotsGate]] dispatches on the domain's
    * host cardinality; q234 gates the small-domain fast path and q239
    * gates the joined form against the SAME oracle. */
  val ROBOTS_BROADCAST_MAX_HOSTS: Long = 100000L

  /** The demo domain's registrable-host cardinality (hosts 0–52 by the
    * [[host]] formula) — the default argument of [[robotsGate]]'s
    * dispatch, NOT a constant folded into it: callers with a bigger
    * rule store pass their own count and the dispatch actually flips
    * (RobotsSpec drives both branches through the one call site). */
  val DEMO_HOST_COUNT: Long = 53L

  /** One precompiled per-host rule: the post-group-selection relation
    * the joined gate materializes as a table. */
  final case class RobotsRule(allow: Boolean, pattern: String)

  private def parsedRuleSets(): Map[String, graft.sources.RobotsTxt.Rules] =
    (0L until DEMO_HOST_COUNT)
      .map(h => host(h) -> graft.sources.RobotsTxt.parse(robotsText(h)))
      .toMap

  /** q234: the crawl-frontier gate — every corpus URL judged against
    * its host's robots.txt as `graftbot`. Dispatches on the RULE
    * STORE's host cardinality, passed by the caller (the frontier
    * knows how many hosts its robots fetch loop has seen; the demo
    * domain's count is the default): at ≤
    * [[ROBOTS_BROADCAST_MAX_HOSTS]] hosts the parsed rule sets
    * broadcast ([[robotsGateBroadcast]]); past the ceiling the rules
    * ride a host-keyed table join ([[robotsGateJoined]]) — same
    * decision algebra ([[graft.sources.RobotsTxt.decide]]), same
    * oracle. Both branches are reachable through THIS call site
    * (RobotsSpec drives each); q234 gates the broadcast path and q239
    * the joined form against the same oracle. */
  def robotsGate(spark: SparkSession, dir: String,
      hostCount: Long = DEMO_HOST_COUNT): DataFrame =
    if (hostCount <= ROBOTS_BROADCAST_MAX_HOSTS)
      robotsGateBroadcast(spark, dir)
    else robotsGateJoined(spark, dir)

  /** The small-domain fast path: rule sets built driver-side, BROADCAST
    * to the fetch fleet, applied map-side (one documents scan reading
    * one column; zero shuffles before the ordering). Correct ONLY below
    * [[ROBOTS_BROADCAST_MAX_HOSTS]] — see the ceiling's scaladoc. */
  private[graft] def robotsGateBroadcast(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(parsedRuleSets())
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val hst = host(id)
        val pth = path(id)
        (id, hst, pth, bc.value(hst).allowed("graftbot", pth))
      }).toDF("doc_id", "host", "path", "allowed")
      .orderBy("doc_id")
  }

  /** The per-host effective-rule TABLE for `agent`: group selection and
    * merging run once per host at build time
    * ([[graft.sources.RobotsTxt.Rules.effectiveRules]]); the relation is
    * one row per host with the resolved rule array — the store a real
    * frontier maintains from its robots fetch loop. Demo-scale it is
    * built from the 53-host formula; the SHAPE (host-keyed rows, rules
    * as data) is what the joined gate needs. */
  private[graft] def robotsRulesDf(spark: SparkSession,
      agent: String): DataFrame = {
    import spark.implicits._
    (0L until DEMO_HOST_COUNT).map { h =>
      (host(h), graft.sources.RobotsTxt.parse(robotsText(h))
        .effectiveRules(agent)
        .map(r => RobotsRule(r.allow, r.pattern)))
    }.toDF("host", "rules")
  }

  /** q239: the beyond-broadcast form of the frontier gate — the URL
    * stream and the rule table meet in a host-keyed SORT-MERGE join
    * (hinted: the joined form EXISTS for the regime where the rules
    * side cannot broadcast, so its plan is pinned to that regime's
    * shape), and the verdict is map-side [[graft.sources.RobotsTxt
    * .decide]] over the row's rule array — one row per URL in and out,
    * no fan-out, no re-aggregation. A host absent from the rule table
    * is allowed (no governing group). Same oracle as q234: the two
    * forms share the decision algebra, so the driver gate proves them
    * interchangeable. */
  def robotsGateJoined(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, host(id), path(id))))
      .toDF("doc_id", "host", "path")
    urls.join(robotsRulesDf(spark, "graftbot").hint("merge"),
        Seq("host"), "left")
      .select(col("doc_id"), col("host"), col("path"), col("rules"))
      .as[(Long, String, String, Seq[RobotsRule])]
      .mapPartitions(_.map { case (id, hst, pth, rs) =>
        val rules =
          if (rs == null) Vector.empty[graft.sources.RobotsTxt.Rule]
          else rs.map(r =>
            graft.sources.RobotsTxt.Rule(r.allow, r.pattern)).toVector
        (id, hst, pth, graft.sources.RobotsTxt.decide(rules, pth))
      }).toDF("doc_id", "host", "path", "allowed")
      .orderBy("doc_id")
  }

  // ---------------------------------------------- sitemap discovery (r14)

  /** Entries in host `h`'s child sitemap `c` (0 or 1): 3–7 each, so
    * every wire trap arm below fires on some (h, c, k). */
  private[graft] def sitemapUrlCount(h: Long, c: Int): Int =
    if (c == 0) (h % 4 + 4).toInt else ((h * 3) % 5 + 3).toInt

  /** Path number of entry (h, c, k). Within a host the raw offsets
    * `c*501 + k*17` (k ≤ 6) are distinct values < 1009, and adding
    * `h*31` shifts them all by the same amount mod 1009 — so every
    * entry of a host has a DISTINCT path, which is what makes the
    * frontier's (host, path) grain and the politeness rank total. */
  private[graft] def sitemapPathNum(h: Long, c: Int, k: Int): Long =
    (h * 31 + c * 501 + k * 17) % 1009

  private def sitemapLastmod(h: Long, c: Int, k: Int): String = {
    val mm = h % 9 + 1
    val dd = (k * 3 + c) % 28 + 1
    val base = s"2026-${pad2(mm)}-${pad2(dd)}"
    if (k % 3 == 1) base + s"T${pad2((h + k) % 24)}:00:00+00:00"
    else base
  }

  /** One `<url>` entry as it appears ON THE WIRE — each arm targets one
    * parser pass: k%5==4 carries a query string whose `&` is
    * entity-encoded (`&amp;` must decode); k%7==6 wraps the loc in
    * CDATA (content taken literally, no entity pass); even k pads the
    * loc with whitespace the parser must trim; k%4==2 omits
    * `<priority>`; k%6==3 adds `<changefreq>`; k%5==2 injects a
    * self-closing extension element; k%7==5 injects a NESTED extension
    * (`image:image`) whose inner `<image:loc>` must be skipped whole —
    * an extension-blind parser would take the decoy loc — placed
    * BEFORE the entry's own loc. */
  private def sitemapUrlWire(h: Long, c: Int, k: Int): String = {
    val m = sitemapPathNum(h, c, k)
    val plain = s"https://${host(h)}/p/$m"
    val locTxt =
      if (k % 5 == 4) s"$plain?x=$k&amp;y=${h % 10}"
      else plain
    val locElem =
      if (k % 7 == 6) s"<loc><![CDATA[$plain]]></loc>"
      else if (k % 2 == 0) s"<loc>\n      $locTxt </loc>"
      else s"<loc>$locTxt</loc>"
    val ext =
      if (k % 7 == 5)
        s"<image:image><image:loc>https://${host(h)}/decoy.png</image:loc>" +
          s"<image:caption>d$k</image:caption></image:image>"
      else if (k % 5 == 2) "<mobile:mobile/>"
      else ""
    val lastmod = s"<lastmod>${sitemapLastmod(h, c, k)}</lastmod>"
    val prio =
      if (k % 4 == 2) ""
      else s"<priority>0.${(h + 2 * k + c) % 10}</priority>"
    val freq =
      if (k % 6 == 3)
        s"<changefreq>${if ((h + k) % 2 == 0) "daily" else "weekly"}</changefreq>"
      else ""
    val fields =
      if (k % 7 == 5) ext + locElem + lastmod + freq + prio
      else locElem + ext + lastmod + freq + prio
    s"  <url>$fields</url>"
  }

  /** Child sitemap `c` of host `h` as wire bytes: c=0 uses the default
    * namespace, c=1 the PREFIXED form (`<sm:urlset>`/`<sm:url>` — local
    * -name matching is load-bearing), plus an attribute value holding a
    * raw `>` (the quoted-attribute trap), comments between entries, and
    * an XML declaration. */
  private[graft] def sitemapChildWire(h: Long, c: Int): String = {
    val n = sitemapUrlCount(h, c)
    val entries = (0 until n).map(k => sitemapUrlWire(h, c, k))
    val body = entries.mkString("\n  <!-- e -->\n")
    if (c == 0)
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9" data-trap="a>b">
         |$body
         |</urlset>""".stripMargin
    else
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<!-- prefixed form -->
         |<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">
         |${body.replace("<url>", "<sm:url>").replace("</url>", "</sm:url>")
             .replace("<loc>", "<sm:loc>").replace("</loc>", "</sm:loc>")
             .replace("<lastmod>", "<sm:lastmod>")
             .replace("</lastmod>", "</sm:lastmod>")
             .replace("<priority>", "<sm:priority>")
             .replace("</priority>", "</sm:priority>")
             .replace("<changefreq>", "<sm:changefreq>")
             .replace("</changefreq>", "</sm:changefreq>")}
         |</sm:urlset>""".stripMargin
  }

  /** Host `h`'s root sitemap index: two child sitemaps (one loc padded
    * with whitespace, one bare), a comment decoy, lastmod on the first
    * child only. */
  private[graft] def sitemapIndexWire(h: Long): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
       |  <sitemap><loc> https://${host(h)}/sitemap-0.xml </loc><lastmod>2026-0${h % 9 + 1}-01</lastmod></sitemap>
       |  <!-- decoy -->
       |  <sitemap><loc>https://${host(h)}/sitemap-1.xml</loc></sitemap>
       |</sitemapindex>""".stripMargin

  /** Whether host `h` serves document `which` (-1 = the index, 0/1 =
    * child c) gzipped. A third of hosts gzip EVERYTHING
    * (content-encoding transport — loc names unchanged, so the
    * discovery oracles are byte-identical to the plain era); another
    * third gzip only child 1, the mixed-within-host case. */
  private[graft] def sitemapGzipped(h: Long, which: Int): Boolean =
    h % 3 == 1 || (h % 3 == 2 && which == 1)

  private def gzipBytes(xml: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    bos.toByteArray
  }

  /** Simulated fetch of a sitemap URL on host `h` — the PARSED child
    * locs drive it (a mis-extracted loc fails here loudly), standing in
    * for the HTTP GET a real frontier issues. Returns WIRE BYTES:
    * gzipped for the [[sitemapGzipped]] share (real-world sitemaps are
    * predominantly compressed), plain UTF-8 XML otherwise — consumers
    * go through [[graft.sources.Sitemaps.parseWire]], which sniffs the
    * magic. */
  private[graft] def fetchSitemap(h: Long, loc: String): Array[Byte] = {
    val base = s"https://${host(h)}/"
    require(loc.startsWith(base), s"sitemap loc $loc is off-host for ${host(h)}")
    val name = loc.substring(base.length)
    val (xml, which) =
      if (name == "sitemap.xml") (sitemapIndexWire(h), -1)
      else if (name.startsWith("sitemap-") && name.endsWith(".xml")) {
        val c = name.substring(8, name.length - 4).toInt
        require(c == 0 || c == 1, s"unknown child sitemap $name")
        (sitemapChildWire(h, c), c)
      } else sys.error(s"unknown sitemap url $loc")
    if (sitemapGzipped(h, which)) gzipBytes(xml)
    else xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** q240: sitemap URL discovery — each corpus host's `sitemap.xml`
    * (a sitemapindex) fetched and parsed, its child urlsets fetched BY
    * THE PARSED LOCS and parsed in turn, one row per discovered URL
    * entry with the protocol's optional metadata.
    *
    * Oracle device: the wires are generative
    * ([[sitemapIndexWire]]/[[sitemapChildWire]] — namespace-prefixed
    * and default-namespace forms, CDATA and entity-encoded locs,
    * whitespace padding, comment decoys, nested extension elements
    * carrying DECOY `<image:loc>`s, omitted optional fields) and the
    * twin regenerates the extracted entries arithmetically from
    * (h, c, k), never mentioning XML — any drift in the scanner
    * (entity pass, CDATA literal, local-name matching, extension
    * skipping, trim) flips rows.
    *
    * Scale shape: discovery is a flatMap over the HOSTS relation (one
    * bounded control-plane document per host, parsed map-side, entries
    * emitted as rows — never a driver-side collection); one distinct
    * shuffle derives hosts from the corpus, the final ordering is the
    * verify wrapper. */
  def sitemapDiscover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    corpusHosts(spark, dir).mapPartitions(_.flatMap { h =>
      discoverHost(h, Seq(s"https://${host(h)}/sitemap.xml"))
    }).toDF("host", "sitemap", "loc", "lastmod", "changefreq", "priority")
      .orderBy("host", "loc")
  }

  private def corpusHosts(spark: SparkSession, dir: String)
      : Dataset[Long] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select((col("doc_id") % 53).as("h")).distinct().as[Long]
  }

  /** Walk one host's sitemap roots: a root may be a urlset directly or
    * a sitemapindex whose children are fetched BY THE PARSED LOCS —
    * both shapes the protocol allows. */
  private def discoverHost(h: Long, roots: Seq[String]): Iterator[
      (String, String, String, Option[String], Option[String],
        Option[Double])] =
    roots.iterator.flatMap { root =>
      val doc = graft.sources.Sitemaps.parseWire(fetchSitemap(h, root))
      if (doc.kind == "urlset")
        doc.entries.iterator.map { e =>
          (host(h), root, e.loc, e.lastmod, e.changefreq, e.priority)
        }
      else
        doc.entries.iterator.flatMap { child =>
          val cd = graft.sources.Sitemaps.parseWire(fetchSitemap(h, child.loc))
          require(cd.kind == "urlset",
            s"host $h: ${child.loc} is not a urlset")
          cd.entries.iterator.map { e =>
            (host(h), child.loc, e.loc, e.lastmod, e.changefreq, e.priority)
          }
        }
    }

  /** q247: discovery STARTING FROM robots.txt — the entry point a real
    * frontier actually has: each host's `Sitemap:` lines (surfaced by
    * [[graft.sources.RobotsTxt]]; file-scoped per the protocol, never
    * group-scoped) name the roots, and the walk proceeds exactly as
    * [[sitemapDiscover]]. Gated by q240's ORACLE STRING (the q41/q112
    * device): the two entry points must be indistinguishable — a
    * Sitemap line mis-parsed, group-swallowed, or dropped loses that
    * host's rows and flips the shared hash. */
  def sitemapDiscoverViaRobots(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    corpusHosts(spark, dir).mapPartitions(_.flatMap { h =>
      val roots = graft.sources.RobotsTxt.parse(robotsText(h)).sitemaps
      require(roots.nonEmpty, s"host $h: robots.txt declares no sitemap")
      discoverHost(h, roots)
    }).toDF("host", "sitemap", "loc", "lastmod", "changefreq", "priority")
      .orderBy("host", "loc")
  }

  /** q250: sitemap REWRITE — the emit side of discovery (a host, or a
    * mirror, republishing its sitemaps): every child urlset's parsed
    * entries are written back through [[graft.sources.Sitemaps.write]]
    * (entity re-encoding the decoded `&` of the query arm, optional
    * fields preserved-or-omitted, one-decimal priorities) and
    * re-parsed; the gate reuses q240's ORACLE STRING, so the
    * write→parse round trip must be invisible to the discovered
    * entries — the q244 emit-law device on the discovery layer. */
  def sitemapRewrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    corpusHosts(spark, dir).mapPartitions(_.flatMap { h =>
      val idx = graft.sources.Sitemaps.parseWire(
        fetchSitemap(h, s"https://${host(h)}/sitemap.xml"))
      idx.entries.iterator.flatMap { child =>
        val doc = graft.sources.Sitemaps.parseWire(fetchSitemap(h, child.loc))
        val rewritten = graft.sources.Sitemaps.parse(
          graft.sources.Sitemaps.write("urlset", doc.entries))
        require(rewritten.kind == "urlset", s"host $h: rewrite drifted")
        rewritten.entries.iterator.map { e =>
          (host(h), child.loc, e.loc, e.lastmod, e.changefreq, e.priority)
        }
      }
    }).toDF("host", "sitemap", "loc", "lastmod", "changefreq", "priority")
      .orderBy("host", "loc")
  }

  /** Per-host fetch budget of one politeness wave: a real fleet fetches
    * at most this many URLs from one host per scheduling round. */
  val PER_HOST_FETCH_BUDGET: Int = 4

  /** q241: crawl-frontier construction — the composition the whole
    * crawl surface exists for. Discovered sitemap URLs
    * ([[sitemapDiscover]], query strings stripped to the path grain)
    * MINUS the seen-before set (the corpus's already-captured URLs —
    * the CDX law's population) INTERSECT robots-allowed
    * ([[graft.sources.RobotsTxt.decide]] as `graftbot`, broadcast form
    * — 53 hosts is far below [[ROBOTS_BROADCAST_MAX_HOSTS]]), then
    * scheduled into per-host politeness WAVES: rank within host by
    * (priority DESC, path) — an omitted priority ranks at the
    * protocol's documented default 0.5 — and wave =
    * (rank−1) / [[PER_HOST_FETCH_BUDGET]].
    *
    * Scale shape: discovery is map-side per host; the seen set is the
    * corpus-shaped side of the anti-join, shuffled on (host, path)
    * with the sitemap-shaped candidates (AQE broadcasts the measured-
    * small side at demo scale); the robots verdict is a broadcast
    * map-side filter; the politeness window is partitioned by host and
    * bounded by the host's SITEMAP size, never the corpus. The twin
    * restates discovery arithmetically, the subtraction as NOT EXISTS,
    * the gate as the q234 prefix algebra, and the wave as the same
    * window — rank totality is guaranteed by per-host path
    * distinctness ([[sitemapPathNum]]). */
  def crawlFrontier(spark: SparkSession, dir: String): DataFrame =
    frontierRows(spark, dir).orderBy("host", "wave", "path")

  /** The frontier relation without the verify ordering — shared by
    * q241 and the q245 schedule. */
  private def frontierRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val disc = sitemapDiscover(spark, dir)
      .withColumn("path",
        substring_index(expr("substring(loc, 9 + length(host))"), "?", 1))
      .select(col("host"), col("path"), col("priority"))
    val seen = Tables.documents(spark, dir)
      .select((col("doc_id") % 53).as("h"), col("doc_id"))
      .withColumn("host", concat(lit("h"), col("h"), lit(".example.com")))
      .withColumn("path",
        concat(lit("/p/"), (col("doc_id") * 47) % 1009))
      .select("host", "path").distinct()
    val fresh = disc.join(seen, Seq("host", "path"), "left_anti")
    val bc = spark.sparkContext.broadcast(parsedRuleSets())
    val allowed = fresh
      .as[(String, String, Option[Double])]
      .mapPartitions(_.flatMap { case (hst, pth, prio) =>
        if (bc.value(hst).allowed("graftbot", pth)) Iterator((hst, pth, prio))
        else Iterator.empty
      }).toDF("host", "path", "priority")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host")
      .orderBy(coalesce(col("priority"), lit(0.5)).desc, col("path"))
    allowed.withColumn("wave",
      ((row_number().over(w) - 1) / PER_HOST_FETCH_BUDGET).cast("long"))
  }

  /** Fallback politeness delay when a host declares no Crawl-delay —
    * part of the schedule's contract (restated in the twin). */
  val DEFAULT_CRAWL_DELAY_S: Long = 2L

  /** q245: the frontier SCHEDULE — the q241 waves turned into fetch
    * times: each host's `Crawl-delay` (a de-facto robots extension the
    * parser now surfaces; the corpus varies it per host) paces that
    * host's waves, `fetch_at_s = wave × delay` with
    * [[DEFAULT_CRAWL_DELAY_S]] when undeclared. The delay map is the
    * same broadcast control-plane state as the gate's rules — one more
    * map-side column, zero extra shuffles over q241. */
  def frontierSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      parsedRuleSets().map { case (h, r) => h -> r.crawlDelay("graftbot") })
    frontierRows(spark, dir)
      .as[(String, String, Option[Double], Long)]
      .mapPartitions(_.map { case (hst, pth, prio, wave) =>
        val delay = bc.value(hst).map(_.toLong)
          .getOrElse(DEFAULT_CRAWL_DELAY_S)
        (hst, pth, prio, wave, wave * delay)
      }).toDF("host", "path", "priority", "wave", "fetch_at_s")
      .orderBy("host", "wave", "path")
  }

  /** q246: recrawl-due — the frontier's other half. q241 fetches URLs
    * never captured; this re-fetches STALE ones: for every discovered
    * URL that HAS been captured, compare the sitemap `<lastmod>`
    * against the capture's `WARC-Date` (read through the real archive
    * decode — gzip → WARC envelope → header) and mark it due when the
    * host published a strictly newer date. Dates compare as ISO-8601
    * DATE strings (the first 10 chars — lexicographic order IS date
    * order for this form; a same-day touch is NOT due), and a URL
    * captured more than once is governed by its LATEST capture.
    *
    * Scale shape: the capture-date read is the map-only decode chain;
    * the latest-capture reduction is a map-side-combined aggregate on
    * (host, path); the sitemap side joins it host/path-keyed (AQE
    * broadcasts the measured-small discovery side at demo scale). */
  def recrawlDue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val disc = sitemapDiscover(spark, dir)
      .withColumn("path",
        substring_index(expr("substring(loc, 9 + length(host))"), "?", 1))
      .withColumn("lastmod_date", substring(col("lastmod"), 1, 10))
      .select("host", "path", "lastmod_date")
    val caps = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        val resp = recs.find(r => r.warcType == "response" &&
          WarcCodec.parseHttpResponse(r.block).status == 200)
          .getOrElse(sys.error(s"doc $id: no 200 capture"))
        val date = resp.header("WARC-Date")
          .getOrElse(sys.error(s"doc $id: no WARC-Date")).take(10)
        (host(id), path(id), date)
      }).toDF("host", "path", "cap")
    val last = caps.groupBy("host", "path")
      .agg(max("cap").as("last_capture"))
    disc.join(last, Seq("host", "path"))
      .withColumn("due", col("lastmod_date") > col("last_capture"))
      .select("host", "path", "last_capture", "lastmod_date", "due")
      .orderBy("host", "path")
  }

  // --------------------------------- frontier at host skew (r15)

  /** Candidate-row count per host above which the politeness window
    * takes the decomposed (salted) path — the q125 device's measured
    * dispatch, applied to a WINDOW instead of a join. */
  val HOT_HOST_THRESHOLD: Long = 1000L

  /** Planted hot-host multiplier: every corpus doc contributes this
    * many candidates to the one hot host, so the hot host carries
    * ~[[HOT_HOST_FANOUT]]·|docs| rows while a cold host carries
    * ~|docs|/53 — the Zipf head a real frontier faces (one host =
    * millions of URLs). */
  val HOT_HOST_FANOUT: Int = 20

  /** The q253 candidate relation: one cold candidate per doc on its
    * formula host plus [[HOT_HOST_FANOUT]] candidates on the single
    * hot host. Paths embed doc_id (distinct within host ⇒ the
    * politeness rank is total); priorities are one-decimal doubles
    * from integer arithmetic (bit-identical cross-engine). */
  private[graft] def skewedCandidates(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val cold = Iterator.single(
          (host(id), s"/q/$id", ((id * 7) % 11).toDouble / 10.0))
        val hot = (0 until HOT_HOST_FANOUT).iterator.map(j =>
          ("hot0.example.com", s"/z/$id/$j",
            (((id + j) % 11).toDouble / 10.0)))
        cold ++ hot
      }).toDF("host", "path", "priority")
  }

  /** q253: the politeness window at HOST-SKEW scale — q241's wave
    * assignment under a planted Zipf head. A single
    * `Window.partitionBy(host)` puts the hot host's millions of rows
    * on ONE task; this operator splits two-path on MEASURED host
    * cardinalities (the q125/q61 device):
    *
    *  - cold hosts keep the plain per-host window (their sort stays
    *    exactly as small as before — no full re-sort of the cold
    *    side rides the hot path's plan);
    *  - hot hosts decompose the rank over the window's LEADING sort
    *    key: `priority` has a bounded one-decimal domain (11 values),
    *    so `rank = offset(host, priority) + rank within (host,
    *    priority)` — the inner window partitions by (host, priority),
    *    spreading the hot host |domain|× wider, and the offset
    *    relation (one row per (host, priority) — tiny) cumulates with
    *    a window over the AGGREGATED counts and broadcasts back. The
    *    q61 salted-aggregation shape, with the leading sort key as
    *    the salt (exactness needs order-aligned salting, which a hash
    *    salt cannot give a rank).
    *
    * Same wave law as q241; the twin computes the plain window — the
    * decomposition must be EXACTLY rank-equal (paths are distinct
    * within host, so no tie nondeterminism). */
  def frontierSkewedWaves(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cand = skewedCandidates(spark, dir)
    // measured dispatch input: the hot set is data-derived, bounded
    // by the host domain (a frontier has few Zipf-head hosts)
    val hotHosts = cand.groupBy("host").count()
      .filter(col("count") > HOT_HOST_THRESHOLD)
      .select("host").as[String].collect().toSeq
    val isHot = col("host").isin(hotHosts: _*)
    val wCold = org.apache.spark.sql.expressions.Window
      .partitionBy("host")
      .orderBy(col("priority").desc, col("path"))
    val coldRanked = cand.filter(!isHot)
      .withColumn("rn", row_number().over(wCold).cast("long"))
    val hot = cand.filter(isHot)
    val wSub = org.apache.spark.sql.expressions.Window
      .partitionBy("host", "priority").orderBy("path")
    val subRanked = hot.withColumn("sub_rn",
      row_number().over(wSub).cast("long"))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(col("priority").desc)
    val offsets = hot.groupBy("host", "priority")
      .agg(count(lit(1)).as("n"))
      .withColumn("off", (sum("n").over(wOff) - col("n")).cast("long"))
      .select("host", "priority", "off")
    val hotRanked = subRanked
      .join(broadcast(offsets), Seq("host", "priority"))
      .withColumn("rn", col("off") + col("sub_rn"))
      .select("host", "path", "priority", "rn")
    coldRanked.select("host", "path", "priority", "rn")
      .unionByName(hotRanked)
      .withColumn("wave",
        ((col("rn") - 1) / PER_HOST_FETCH_BUDGET).cast("long"))
      .select("host", "path", "priority", "wave")
      .orderBy("host", "wave", "path")
  }

  // ---------------------------------------------- crawl → curation

  /** q235's corpus: the q230 archive machinery with ENGLISH-ISH tokens —
    * a per-doc stopword cadence (every ((doc%5)+3)rd token is one of
    * [[TextOps.STOPWORDS]]) so the downstream quality gates are
    * load-bearing: cadence 3 lands above MAX_STOP_RATIO
    * (stopword_heavy), cadence 7 between the en threshold and the cap
    * (kept), and short docs trip MIN_TOKENS. One gzip member, one 200
    * text/html response record. */
  private def enToken(docId: Long, i: Int): String =
    if (docId % 11 != 0 && i % ((docId % 5) + 3) == 1)
      TextOps.STOPWORDS(((docId + i) % 8).toInt)
    else s"v${(docId * 53 + i * 19) % 9973}" // doc%11==0: no stopwords → non_en

  /** Round 14: the page carries nav/footer/sidebar CHROME and the
    * payload paragraph sits in `<article>` — [[crawlCuration]] now
    * extracts via [[WarcCodec.mainContent]], which must DROP the chrome
    * (ancestry rule) and keep the article payload (main-container
    * override) for the q235 gate to stay green: the twin's text law is
    * unchanged (`Page <id> <toks>`), so surviving chrome or a lost
    * payload flips every hash. The old `<title>` source of the `Page
    * <id>` prefix moved INSIDE the article (head text is not main
    * content). */
  private[graft] def synthEnWarcGz(docId: Long, nChars: Long): Array[Byte] = {
    val nt = (nChars % 37 + 5).toInt
    val toks = (0 until nt).map(enToken(docId, _))
    val html =
      s"""<html><head><title>Page $docId</title></head>
         |<body>
         |<header><nav><a href="/">Home ${docId % 5}</a>
         |<a href="/about">About</a> <a href="/contact">Contact</a></nav></header>
         |<aside><p>SIDEBAR $docId subscribe now for updates and offers
         |every week</p></aside>
         |<article><p>
         |Page $docId ${toks.mkString(" ")}
         |</p></article>
         |<footer>© graft $docId privacy terms contact imprint</footer>
         |</body></html>""".stripMargin
    val body = html.getBytes("UTF-8")
    val head = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=UTF-8\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    val block = new java.io.ByteArrayOutputStream(head.length + body.length)
    block.write(head.getBytes("US-ASCII"))
    block.write(body)
    val rec = record(docId, 0, "response",
      "application/http; msgtype=response", block.toByteArray,
      Some(url(docId)))
    WarcCodec.gzipMember(rec, ((docId % 9) + 1).toInt)
  }

  /** q235: the END-TO-END crawl curation story — wire bytes through the
    * full decode chain into [[TextOps.langQualityOf]]'s quality gates
    * and the per-verdict corpus accounting. The twin rebuilds the
    * extracted text arithmetically and applies the SAME SQL text
    * algebra (split/stopword-filter/thresholds), so both the decode
    * chain and the gate composition are under one hash. */
  def crawlCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthEnWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        val html = new String(http.body,
          java.nio.charset.StandardCharsets.UTF_8)
        (id, "web", WarcCodec.mainContent(html))
      }).toDF("doc_id", "lang", "text")
    TextOps.langQualityOf(docs)
      .withColumn("verdict",
        when(col("n_tokens") < TextOps.MIN_TOKENS, "short")
          .when(col("stop_ratio") > TextOps.MAX_STOP_RATIO, "stopword_heavy")
          .when(col("predicted_lang") =!= "en", "non_en")
          .otherwise("kept"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("verdict")
  }

  // ------------------------------------- main-content extraction (r14)

  /** q237's block token — para p ∈ {0,1}, token i. */
  private def blockToken(docId: Long, p: Int, i: Int): String =
    s"m${(docId * 43 + p * 29 + i * 7) % 9973}"

  /** q237's chrome-laden page. Five candidate block families, each
    * targeting one arm of the [[WarcCodec.mainContent]] LAW:
    * header/nav + footer (chrome-tag drop), a LONG sidebar paragraph
    * (ancestry beats length), a link-farm div outside any nav (density
    * drop), a sub-minimum paragraph (length drop), and two plain
    * paragraphs whose keep/drop the law itself decides — paragraph 0
    * carries one link token (its density check is live), paragraph 1
    * none. The paragraphs are deliberately NOT in `<article>`, so their
    * length/density arithmetic is load-bearing; the twin replays the
    * identical integer law over the regenerated block strings. */
  private[graft] def synthChromeHtml(docId: Long, nt: Int): String = {
    val n0 = nt / 2 + 3
    val n1 = (nt + 1) / 2 + 3
    def para(p: Int, n: Int, linkAt: Int): String =
      (0 until n).map { i =>
        val t = blockToken(docId, p, i)
        if (i == linkAt) s"""<a href="/l$p">$t</a>""" else t
      }.mkString(" ")
    s"""<!DOCTYPE html>
       |<html>
       |<head><title>Chrome $docId</title>
       |<style>.x { color: red } CHROMESTYLE</style></head>
       |<body>
       |<header><h1>Site ${docId % 7}</h1>
       |<nav><a href="/">Home</a> <a href="/a">About</a>
       |<a href="/c">Contact</a></nav></header>
       |<aside><p>PROMO $docId subscribe now for weekly updates special
       |offers and breaking news delivered to you</p></aside>
       |<div><a href="/x">x${docId % 10}</a> <a href="/y">y${(docId + 1) % 10}</a>
       |<a href="/z">z${(docId + 2) % 10}</a></div>
       |<p>shorty</p>
       |<p>${para(0, n0, 1)}</p>
       |<p>${para(1, n1, -1)}</p>
       |<footer>© example $docId all rights reserved privacy terms</footer>
       |</body>
       |</html>""".stripMargin
  }

  /** q238-style archive wrap for the q237 corpus: one 200 text/html
    * response record per doc. */
  private[graft] def synthChromeWarcGz(docId: Long,
      nChars: Long): Array[Byte] = {
    val nt = (nChars % 37 + 5).toInt
    val body = synthChromeHtml(docId, nt).getBytes("UTF-8")
    val head = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=UTF-8\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    val block = new java.io.ByteArrayOutputStream(head.length + body.length)
    block.write(head.getBytes("US-ASCII"))
    block.write(body)
    val rec = record(docId, 0, "response",
      "application/http; msgtype=response", block.toByteArray,
      Some(url(docId)))
    WarcCodec.gzipMember(rec, ((docId % 9) + 1).toInt)
  }

  /** q237: MAIN-CONTENT extraction through the crawl wire — the decode
    * chain into [[WarcCodec.mainContent]]'s block classifier. The twin
    * regenerates the two candidate paragraphs arithmetically and
    * replays the SAME integer law (len ≥ 25, 3·linkChars < chars) —
    * chrome and link-farm and short blocks never appear in it because
    * the law drops them BY CONSTRUCTION on the Spark side; a classifier
    * that kept the sidebar or lost a paragraph flips `md5(text)` and
    * the kept-block count. */
  def mainContentExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthChromeWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        val text = WarcCodec.mainContent(new String(http.body,
          java.nio.charset.StandardCharsets.UTF_8))
        (id, text)
      }).toDF("doc_id", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens",
        when(length(col("text")) === 0, 0L)
          .otherwise(size(split(col("text"), " ")).cast("long")))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------- PDF + dispatch (r14)

  /** q236 token i as it appears in the EXTRACTED text. PDF-arm
    * precedence: the %9 arms first (2: paren-escape, 5: octal-escape,
    * 7: hex-string), then the %7==4 WinAnsi arm (é), else plain —
    * restated identically in the twin. */
  private def pdfToken(docId: Long, i: Int): String = {
    val k = (docId + i) % 10
    if (i % 9 == 2) s"p($k)"
    else if (i % 9 == 5) s"A$k"
    else if (i % 9 == 7) s"hx$k"
    else if (i % 7 == 4) s"é$k"
    else s"t${(docId * 67 + i * 31) % 9973}"
  }

  /** Token i's WIRE form inside a page's content stream — the show op
    * plus the separator mechanism joining it to its predecessor, chosen
    * by i mod 4 (0: TJ with a −250 kern — the word-break kern law;
    * 1: `Td` reposition; 2: `T*` next line; 3: the `'`/`"`
    * line-advancing shows). The decoded text is always
    * `' ' + pdfToken(i)` — four wire mechanisms, one extraction law. */
  private def pdfShowOp(docId: Long, i: Int): String = {
    val t = pdfToken(docId, i)
    val lit = t
      .replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    val wire =
      if (i % 9 == 5) "\\101" + ((docId + i) % 10) // octal escape for 'A'
      else if (i % 9 == 7) { // hex string with embedded whitespace
        val hex = t.getBytes("windows-1252").map(b => f"$b%02x")
          .mkString(" ")
        return (i % 4) match {
          case 0 => s" [ -250 <$hex> ] TJ"
          case 1 => s" 0 -14 Td <$hex> Tj"
          case 2 => s" T* <$hex> Tj"
          case _ => s" <$hex> '"
        }
      } else lit
    (i % 4) match {
      case 0 => s" [ -250 ($wire) ] TJ"
      case 1 => s" 0 -14 Td ($wire) Tj"
      case 2 => s" T* ($wire) Tj"
      case _ => if (i % 8 == 3) s" ($wire) '" else s" 0 0 ($wire) \""
    }
  }

  /** One page's content stream source: `BT`, font selection, leading
    * position, the token shows, `ET` — plus inert graphics ops the
    * operator machine must skip. Page 1 shows its first token under
    * `/F2` (Courier, ASCII arm) then switches to `/F1` (WinAnsi) —
    * the `Tf` switch is load-bearing. */
  private def pdfPageContent(docId: Long, from: Int, until: Int,
      firstPage: Boolean): String = {
    val sb = new StringBuilder
    sb.append("q 0.9 0 0 0.9 0 0 cm\nBT\n")
    // token 0 (i=0) is always the plain ASCII arm (0%9==0, 0%7==0), so
    // page 1 may show it under /F2 (Courier, no /Encoding); page 2's
    // first token can be any arm and is shown as an escaped literal
    // under /F1 — same decoded text, different wire mechanism
    val first = pdfToken(docId, from)
      .replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    if (firstPage)
      sb.append(s"/F2 10 Tf 14 TL 72 720 Td ($first) Tj\n/F1 12 Tf")
    else
      sb.append(s"/F1 12 Tf 14 TL 72 720 Td ($first) Tj")
    var i = from + 1
    while (i < until) {
      sb.append(pdfShowOp(docId, i))
      if (i % 6 == 0) sb.append("\n")
      i += 1
    }
    sb.append("\nET\nQ\n")
    sb.toString
  }

  /** The q236 PDF: 2 pages when docId is even (the page tree walk and
    * the page-boundary separator are load-bearing), 1 otherwise;
    * `/Length` indirect on docId%5==0 (the single-pass-writer layout);
    * compression level (docId+3)%10 so stored/fixed/dynamic zlib
    * DEFLATE blocks all occur. Since r15 the docId%7==6 share is
    * written in the PDF 1.5+ LAYOUT (xref stream, half with object
    * streams, half predicted) — the oracle is layout-blind, so the
    * modern chain must extract the identical text to keep q236's
    * hash. */
  private[graft] def synthPdf(docId: Long, nt: Int): Array[Byte] = {
    val pages =
      if (docId % 2 == 0 && nt >= 4) {
        val half = nt / 2
        Seq(pdfPageContent(docId, 0, half, firstPage = true),
          pdfPageContent(docId, half, nt, firstPage = false))
      } else Seq(pdfPageContent(docId, 0, nt, firstPage = true))
    if (docId % 7 == 6)
      graft.sources.PdfCodec.encode15(pages,
        level = ((docId + 3) % 10).toInt,
        objStm = docId % 2 == 1, predictor = docId % 4 < 2)
    else
      graft.sources.PdfCodec.encode(pages,
        level = ((docId + 3) % 10).toInt,
        indirectLength = docId % 5 == 0)
  }

  /** q236's HTML arm (docId%3==0): a minimal page whose extracted text
    * is `Web <id> <tokens>`. */
  private[graft] def synthDispatchHtml(docId: Long, nt: Int): String = {
    val toks = (0 until nt)
      .map(i => s"g${(docId * 71 + i * 23) % 9973}").mkString(" ")
    s"""<html><head><title>Web $docId</title></head>
       |<body><p>
       |$toks
       |</p></body></html>""".stripMargin
  }

  /** The per-record extractor DISPATCH — the arm a real crawl ingest
    * needs next to HTML: `application/pdf` through
    * [[graft.sources.PdfCodec.extractText]], `text/html` through the
    * charset-aware HTML chain. Anything else rejects loudly (an ingest
    * should count unsupported types, not silently pass bytes through
    * as text). Returns (fmt, n_pages, text). */
  private[graft] def extractResponse(contentType: String,
      body: Array[Byte]): (String, Long, String) =
    if (contentType.startsWith("application/pdf")) {
      val d = graft.sources.PdfCodec.extractText(body)
      ("pdf", d.nPages.toLong, d.text)
    } else if (contentType.startsWith("text/html")) {
      // BOM-first decode (r15): identical to the charset-param path on
      // BOM-less bodies, so q236's oracle is untouched
      val html = WarcCodec.decodeHtml(body, contentType)
      ("html", 1L, WarcCodec.htmlText(html))
    } else throw new IllegalArgumentException(
      s"no extractor for Content-Type: $contentType")

  /** q236's archive: one 200 response record whose Content-Type rotates
    * the dispatch — text/html on docId%3==0, application/pdf
    * otherwise. */
  private[graft] def synthPdfWarcGz(docId: Long, nChars: Long): Array[Byte] = {
    val nt = (nChars % 33 + 6).toInt
    val (ct, body) =
      if (docId % 3 == 0)
        ("text/html; charset=UTF-8",
          synthDispatchHtml(docId, nt).getBytes("UTF-8"))
      else ("application/pdf", synthPdf(docId, nt))
    val head = "HTTP/1.1 200 OK\r\n" +
      s"Content-Type: $ct\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    val block = new java.io.ByteArrayOutputStream(head.length + body.length)
    block.write(head.getBytes("US-ASCII"))
    block.write(body)
    val rec = record(docId, 0, "response",
      "application/http; msgtype=response", block.toByteArray,
      Some(url(docId)))
    WarcCodec.gzipMember(rec, ((docId % 9) + 1).toInt)
  }

  /** q236: PDF text extraction inside the crawl ingest — wire bytes
    * through gzip → WARC → HTTP → the Content-Type DISPATCH, where the
    * PDF arm runs the full xref → object graph → page tree →
    * FlateDecode(zlib) inflate → text-operator machine and the HTML arm
    * runs the established chain. The twin regenerates both arms' text
    * arithmetically (never mentioning the wire); `md5(text)` is the
    * gate — a defect anywhere in the PDF subset (a mis-parsed xref
    * offset, a wrong escape, an unresolved indirect /Length, a missed
    * TJ kern space, a WinAnsi byte misread) flips it. Map-only decode
    * over one documents scan, like the q230 family. */
  def pdfTextIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val recs = WarcCodec.gunzipMembers(synthPdfWarcGz(id, nc))
          .flatMap(WarcCodec.parseRecords)
        require(recs.length == 1 && recs.head.warcType == "response",
          s"doc $id: expected the single response record")
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        val ct = http.header("Content-Type").getOrElse("")
        val (fmt, nPages, text) = extractResponse(ct, http.body)
        (id, fmt, nPages, text)
      }).toDF("doc_id", "fmt", "n_pages", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  // ------------------------------- PDF 1.5+ layout and forms (r15)

  /** q251 token i: plain or WinAnsi-é arm. The surface under test is
    * the PDF 1.5+ xref MACHINERY (xref streams, object streams,
    * predictors), not the string mechanisms — q236 owns those. */
  private def pdf15Token(docId: Long, i: Int): String =
    if (i % 5 == 3) s"é${(docId + i) % 10}"
    else s"z${(docId * 73 + i * 37) % 9973}"

  private def pdf15PageContent(docId: Long, from: Int,
      until: Int): String = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 11 Tf 14 TL 72 720 Td ")
    var i = from
    while (i < until) {
      val lit = pdf15Token(docId, i).replace("\\", "\\\\")
        .replace("(", "\\(").replace(")", "\\)")
      if (i == from) sb.append(s"($lit) Tj")
      else sb.append(s" 0 -14 Td ($lit) Tj")
      i += 1
    }
    sb.append("\nET\n")
    sb.toString
  }

  /** The q251 PDF: 2 pages when docId is even (the page-tree walk
    * through the NEW xref chain), 1 otherwise; the four modern-layout
    * arms rotate on docId%4 — xref stream alone, + object stream,
    * + object stream + PNG-predicted xref, + predicted xref alone —
    * so every combination of the 1.5+ machinery is on the wire. */
  private[graft] def synthPdf15(docId: Long, nt: Int): Array[Byte] = {
    val pages =
      if (docId % 2 == 0)
        Seq(pdf15PageContent(docId, 0, nt / 2),
          pdf15PageContent(docId, nt / 2, nt))
      else Seq(pdf15PageContent(docId, 0, nt))
    graft.sources.PdfCodec.encode15(pages,
      level = ((docId + 5) % 10).toInt,
      objStm = docId % 4 == 1 || docId % 4 == 2,
      predictor = docId % 4 == 2 || docId % 4 == 3)
  }

  /** q251: PDF 1.5+ text extraction — the modern cross-reference
    * layout the majority of real-world PDFs use: `/Type /XRef` streams
    * (W-typed binary rows, FlateDecode, PNG-Up-predicted on half the
    * corpus) resolving objects INTO `/Type /ObjStm` object streams.
    * The twin regenerates the text arithmetically from (docId, i) and
    * never mentions xref rows or predictors — Spark can only reach
    * these strings through the new bootstrap chain (a mis-typed W
    * column, a wrong type-2 index, an un-predicted row, a mis-parsed
    * ObjStm header all flip `md5(text)`). Map-only decode over one
    * documents scan — the q236 class. */
  def pdfXrefStreamIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val nt = (nc % 29 + 5).toInt
        val d = graft.sources.PdfCodec.extractText(synthPdf15(id, nt))
        (id, d.nPages.toLong, d.text)
      }).toDF("doc_id", "n_pages", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  /** q252 page-body token i (page /F1 = WinAnsi; é on the %4==1 arm —
    * the post-Do é is what proves Do's state restore). */
  private def formPageToken(docId: Long, i: Int): String =
    if (i % 4 == 1) s"é${(docId + i) % 10}"
    else s"b${(docId * 59 + i * 13) % 9973}"

  /** q252 header token (inside /Fm1, whose own resources bind /F9 =
    * Courier — ASCII only by construction). */
  private def formHdrToken(docId: Long, i: Int): String =
    s"f${(docId * 61 + i * 17) % 9973}"

  /** q252 nested-form token (inside /Fm2, whose own resources bind
    * /F1 = WinAnsi — the é is unreachable through /Fm1's map). */
  private def formFtrToken(docId: Long): String =
    s"w${(docId * 3) % 10}é"

  /** The q252 PDF: one page whose text is split around a `/Fm1 Do` —
    * body tokens, the form's header tokens under its OWN `/F9`
    * (unknown to the page map), a nested `/Fm2` token on docId%3==1
    * (under /Fm2's own `/F1`, unknown to /Fm1's map), then the rest of
    * the body WITHOUT a new Tf (the restore proof: é decodes only if
    * Do restored the page's WinAnsi font). */
  private[graft] def synthPdfForms(docId: Long, nt: Int): Array[Byte] = {
    def lit(s: String) = s.replace("\\", "\\\\")
      .replace("(", "\\(").replace(")", "\\)")
    val nb = nt / 2
    val before = (0 until nb).map(i =>
      s"${if (i == 0) "" else " 0 -14 Td "}(${lit(formPageToken(docId, i))}) Tj")
      .mkString
    val after = (nb until nt).map(i =>
      s" 0 -14 Td (${lit(formPageToken(docId, i))}) Tj").mkString
    val page = s"BT\n/F1 12 Tf 14 TL 72 720 Td $before\nET\n/Fm1 Do\nBT$after\nET\n"
    val hdr = (0 until 3).map(i =>
      s"${if (i == 0) "" else " 0 -10 Td "}(${lit(formHdrToken(docId, i))}) Tj")
      .mkString
    val nested = docId % 3 == 1
    val form1 = s"BT\n/F9 9 Tf 10 TL 30 760 Td $hdr\nET\n" +
      (if (nested) "/Fm2 Do\n" else "")
    val form2 =
      if (nested) Some(s"BT\n/F1 8 Tf 30 20 Td (${lit(formFtrToken(docId))}) Tj\nET\n")
      else None
    graft.sources.PdfCodec.encodeForms(Seq(page), form1, form2,
      level = ((docId + 1) % 10).toInt)
  }

  /** q252: Form-XObject text extraction — headers/footers/stamps, the
    * common real-document pattern where text rides `/Subtype /Form`
    * XObjects drawn by `Do`. The extraction order (body, form, nested
    * form, rest of body), the form-boundary separators, the form's OWN
    * resource scoping (two deliberately unresolvable-through-the-
    * wrong-map font names), and Do's state restore are all on the
    * gated path; the twin restates the token list arithmetically.
    * Map-only decode — the q236 class. */
  def pdfFormTextIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val nt = (nc % 27 + 4).toInt
        val d = graft.sources.PdfCodec.extractText(synthPdfForms(id, nt))
        (id, d.nPages.toLong, d.text)
      }).toDF("doc_id", "n_pages", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  /** q254 token i: the three CID-law arms — é (a bfchar single),
    * 𝐀 U+1D400 (the TWO-code-unit bfchar — surrogate pair on the
    * string side, <D835DC00> on the CMap side), and printable ASCII
    * through the shifted bfrange. */
  private def cidToken(docId: Long, i: Int): String =
    if (i % 7 == 2) s"é${(docId + i) % 10}"
    else if (i % 7 == 5) "𝐀" + ((docId + i) % 10)
    else s"k${(docId * 79 + i * 41) % 9973}"

  private def cidPageContent(docId: Long, from: Int,
      until: Int): String = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 11 Tf 14 TL 72 720 Td ")
    var i = from
    while (i < until) {
      val tok = cidToken(docId, i)
      val sep = if (i == from) "" else " 0 -14 Td "
      // three string MECHANISMS for the same CID bytes: hex string,
      // TJ array of hex strings, literal string with octal escapes —
      // the decode arm must be byte-source-agnostic
      val show =
        if (i % 3 == 1) s"[${graft.sources.PdfCodec.type0Hex(tok)}] TJ"
        else if (i % 7 == 5) {
          // the 𝐀 arm as a LITERAL string: raw CID bytes via octal
          val hex = graft.sources.PdfCodec.type0Hex(tok)
          val bytes = hex.substring(1, hex.length - 1).grouped(2)
            .map(h => Integer.parseInt(h, 16)).toSeq
          bytes.map(b => String.format(java.util.Locale.ROOT, "\\%03o",
            java.lang.Integer.valueOf(b))).mkString("(", "", ") Tj")
        } else s"${graft.sources.PdfCodec.type0Hex(tok)} Tj"
      sb.append(sep).append(show)
      i += 1
    }
    sb.append("\nET\n")
    sb.toString
  }

  /** The q254 PDF: 2 pages when docId is even, 1 otherwise; the CMap
    * stream rotates stored/FlateDecode on docId%3. */
  private[graft] def synthPdfType0(docId: Long, nt: Int): Array[Byte] = {
    val pages =
      if (docId % 2 == 0)
        Seq(cidPageContent(docId, 0, nt / 2),
          cidPageContent(docId, nt / 2, nt))
      else Seq(cidPageContent(docId, 0, nt))
    graft.sources.PdfCodec.encodeType0(pages,
      level = ((docId + 7) % 10).toInt, rawCMap = docId % 3 == 0)
  }

  /** q254: Type0/CID text extraction — the composite-font layout CJK
    * documents and subset-embedded fonts ship (`/Identity-H` 2-byte
    * CIDs resolved through a `/ToUnicode` CMap). The corpus writes
    * every token's CIDs through the law's SHIFTED bfrange or its two
    * bfchar singles (one of them a surrogate pair), across three
    * string mechanisms (hex, TJ-array, octal-escaped literal); the
    * twin restates the token text arithmetically and never mentions
    * CIDs or CMaps — a defect in the CMap block parser, the bfrange
    * increment, the UTF-16BE multi-unit decode, or the 2-byte string
    * segmentation flips `md5(text)`. Map-only decode over one
    * documents scan — the q236 class. */
  def pdfCidTextIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val nt = (nc % 25 + 4).toInt
        val d = graft.sources.PdfCodec.extractText(synthPdfType0(id, nt))
        (id, d.nPages.toLong, d.text)
      }).toDF("doc_id", "n_pages", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  /** q255 token i at revision `rev` — the rev term is what makes a
    * stale-generation read visible (every masked object still holds
    * parseable rev-N−1 text; only the chain merge chooses right). */
  private def incrToken(docId: Long, rev: Int, i: Int): String =
    if (i % 5 == 3) s"é${(docId + rev + i) % 10}"
    else s"u${(docId * 83 + rev * 101 + i * 43) % 9973}"

  private def incrPageContent(docId: Long, rev: Int, nt: Int): String = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 11 Tf 14 TL 72 720 Td ")
    var i = 0
    while (i < nt) {
      if (i > 0) sb.append(" 0 -14 Td ")
      sb.append(s"(${incrToken(docId, rev, i)}) Tj")
      i += 1
    }
    sb.append("\nET\n")
    sb.toString
  }

  private val INCR_PAGE2_DICT =
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]" +
      " /Resources << /Font << /F1 3 0 R /F2 4 0 R >> >>" +
      " /Contents 8 0 R >>"

  /** The q255 PDF: an incrementally-saved document, rotating the four
    * update shapes on docId%4 — (0) one classic update replacing the
    * page's content; (1) one classic update APPENDING a page (the
    * rewritten page tree + two new objects land in non-contiguous
    * subsections); (2) TWO chained classic updates re-replacing the
    * same content (chain length 3 — only newest-wins survives); (3) a
    * PDF 1.5 base (object streams + predicted xref) updated by an
    * xref-STREAM section that shadows the ObjStm page dict with a
    * top-level rewrite, points it at a new content object, and FREES
    * the old one (the type-0 row must mask the base's type-1). */
  private[graft] def synthPdfIncr(docId: Long, nt: Int): Array[Byte] = {
    import graft.sources.PdfCodec
    val lvl = ((docId + 2) % 10).toInt
    (docId % 4) match {
      case 0 =>
        val base = PdfCodec.encode(
          Seq(incrPageContent(docId, 0, nt)), lvl)
        PdfCodec.appendUpdate(base, 7,
          Seq(6 -> PdfCodec.UpdStream(incrPageContent(docId, 1, nt), lvl)))
      case 1 =>
        val base = PdfCodec.encode(
          Seq(incrPageContent(docId, 0, nt)), lvl)
        PdfCodec.appendUpdate(base, 9, Seq(
          2 -> PdfCodec.UpdDict(
            "<< /Type /Pages /Kids [5 0 R 7 0 R] /Count 2 >>"),
          7 -> PdfCodec.UpdDict(INCR_PAGE2_DICT),
          8 -> PdfCodec.UpdStream(incrPageContent(docId, 1, nt), lvl)))
      case 2 =>
        val base = PdfCodec.encode(
          Seq(incrPageContent(docId, 0, nt)), lvl)
        val g1 = PdfCodec.appendUpdate(base, 7,
          Seq(6 -> PdfCodec.UpdStream(incrPageContent(docId, 1, nt), lvl)))
        PdfCodec.appendUpdate(g1, 7,
          Seq(6 -> PdfCodec.UpdStream(incrPageContent(docId, 2, nt), lvl)))
      case _ =>
        val base = PdfCodec.encode15(
          Seq(incrPageContent(docId, 0, nt)), lvl,
          objStm = true, predictor = true)
        PdfCodec.appendUpdate(base, 11, Seq(
          5 -> PdfCodec.UpdDict(
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]" +
              " /Resources << /Font << /F1 3 0 R /F2 4 0 R >> >>" +
              " /Contents 9 0 R >>"),
          9 -> PdfCodec.UpdStream(incrPageContent(docId, 1, nt), lvl)),
          freed = Seq(6), xrefStream = Some(10))
    }
  }

  /** q255: incremental-update text extraction — the append-only save
    * layout editors write (`/Prev` chains). Every arm leaves the
    * SUPERSEDED generation's fully-parseable text in the file; the
    * reader only extracts the right tokens by walking the chain
    * newest-section-wins (including a freed row masking a live base
    * object, and a type-1 row shadowing an ObjStm copy), so a chain
    * defect surfaces as rev-0 text and flips `md5(text)`. Map-only
    * decode over one documents scan — the q236 class. */
  def pdfIncrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val nt = (nc % 23 + 4).toInt
        val d = graft.sources.PdfCodec.extractText(synthPdfIncr(id, nt))
        (id, d.nPages.toLong, d.text)
      }).toDF("doc_id", "n_pages", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  // ------------------------------------- CDX record index (r14)

  /** The corpus URL as a Column — the [[url]] formula in expression
    * form, for index/probe relations. */
  private def urlCol(doc: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(lit("https://h"), (doc % 53).cast("string"),
      lit(".example.com/p/"), ((doc * 47) % 1009).cast("string"))

  private[graft] final case class CdxRow(urlkey: String, doc_id: Long,
      seq: Long, offset: Long, length: Long, status: Long)

  /** The CDX sidecar rows of the generative archive corpus: one row per
    * RESPONSE capture — (urlkey, archive id, member seq, member byte
    * span, HTTP status). Built in the same map-only pass that ingest
    * already pays ([[WarcCodec.gunzipMembersWithSpans]] hands the spans
    * out of the decode it was doing anyway) — a CDX build is free at
    * ingest time; only a RETROFIT over existing archives costs a full
    * decode pass. */
  private[graft] def cdxRowsOf(spark: SparkSession,
      dir: String): Dataset[CdxRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        WarcCodec.gunzipMembersWithSpans(synthWarcGz(id, nc))
          .iterator.zipWithIndex.flatMap { case ((payload, off, len), seq) =>
            WarcCodec.parseRecords(payload)
              .filter(_.warcType == "response").map { r =>
                val http = WarcCodec.parseHttpResponse(r.block)
                CdxRow(r.header("WARC-Target-URI").getOrElse(""),
                  id, seq.toLong, off.toLong, len.toLong,
                  http.status.toLong)
              }
          }
      })
  }

  /** q238: the CDX-served URL probe — a URL set answered by index
    * lookup + MEMBER-GRAIN random access instead of decoding whole
    * archives. The index lands urlkey-clustered (probe pushdown prunes
    * files, the term/band/IVF probe-cost law's lexical twin at record
    * grain); the probe set (every capture URL of seed docs
    * doc_id%37==3) semi-joins the index, the matched captures fetch
    * their archive (one documents-row join — the "read the archive
    * file" analog) and decode ONLY the indexed span
    * ([[WarcCodec.gunzipMemberAt]]: wrong offsets fail CRC, never
    * return wrong bytes). The twin states the RESTRICTION of the full
    * decode (the q230 text law joined through URL equality) and never
    * mentions offsets — so a stale span, a missed capture (the 301+200
    * double rows), or a lost multi-capture URL all flip rows. */
  def cdxProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scratch = IndexMaintenance.scratchIndexDir(spark, "cdx")
    cdxRowsOf(spark, dir).toDF()
      .repartition(col("urlkey"))
      .sortWithinPartitions("urlkey")
      .write.parquet(scratch)
    val index = spark.read.parquet(scratch)
    val seeds = Tables.documents(spark, dir)
      .filter(col("doc_id") % 37 === 3)
      .select(urlCol(col("doc_id")).as("urlkey")).distinct()
    // unhinted: AQE broadcasts the measured-small probe set at test
    // scale and falls back to the partitioned join at fleet scale
    val matched = index.join(seeds, Seq("urlkey"), "left_semi")
    val fetched = matched.join(
      Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
      Seq("doc_id"))
    fetched.select(col("urlkey"), col("doc_id"), col("offset"),
        col("length"), col("status"), col("n_chars"))
      .as[(String, Long, Long, Long, Long, Long)]
      .mapPartitions(_.map { case (uk, id, off, len, status, nc) =>
        val member = WarcCodec.gunzipMemberAt(synthWarcGz(id, nc),
          off.toInt, len.toInt)
        val recs = WarcCodec.parseRecords(member)
        require(recs.length == 1 && recs.head.warcType == "response",
          s"span ($id,$off) is not a single response record")
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        require(http.status == status,
          s"span ($id,$off): status ${http.status} != indexed $status")
        val text =
          if (http.status == 200)
            WarcCodec.htmlText(new String(http.body,
              java.nio.charset.StandardCharsets.UTF_8))
          else null
        (uk, id, status, text)
      }).toDF("urlkey", "doc_id", "status", "text")
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("urlkey", "doc_id", "status")
  }

  /** Build a persisted CDX index over REAL `.warc.gz` files: one row
    * per response capture — (urlkey, archive path, member seq, member
    * byte span, status, content type) — landed as `increment=<n>` under
    * the index-family exactly-once contract (a replayed build replaces
    * its own partition), urlkey-sorted within files for probe
    * pushdown. */
  def buildCdxIndex(spark: SparkSession, archiveDir: String,
      indexDir: String, increment: Long = 0L): Unit = {
    import spark.implicits._
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz")
      .load(archiveDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        WarcCodec.gunzipMembersWithSpans(bytes)
          .iterator.zipWithIndex.flatMap { case ((payload, off, len), seq) =>
            WarcCodec.parseRecords(payload)
              .filter(_.warcType == "response").map { r =>
                val http = WarcCodec.parseHttpResponse(r.block)
                (r.header("WARC-Target-URI").getOrElse(""), p,
                  seq.toLong, off.toLong, len.toLong,
                  http.status.toLong,
                  http.header("Content-Type").orNull)
              }
          }
      }
      .toDF("urlkey", "path", "seq", "offset", "length", "status",
        "content_type")
      .withColumn("increment", lit(increment))
      .repartition(col("urlkey"))
      .sortWithinPartitions("urlkey")
    // dynamic even at increment 0: a build replaces only its own increment
    IndexMaintenance.replacePartitions(rows, indexDir, "increment")
  }

  /** Probe a [[buildCdxIndex]] sidecar for a bounded URL set: the
    * lookup pushes `urlkey IN (...)` into the index scan (file-level
    * min/max pruning via the build's urlkey clustering), the matched
    * ARCHIVE paths — a probe-bounded driver set — are loaded
    * explicitly (non-matching archives are never opened, let alone
    * decoded), and each matched member decodes by its indexed byte
    * span. Returns one row per matched capture. WarcSpec pins the
    * restriction equality against a full decode AND that a corrupt
    * non-matching archive cannot fail a probe (the file-pruning
    * proof). */
  def probeCdxRecords(spark: SparkSession, indexDir: String,
      urls: Seq[String]): DataFrame = {
    import spark.implicits._
    val hits = spark.read.parquet(indexDir)
      .filter(col("urlkey").isin(urls: _*))
      .select("urlkey", "path", "seq", "offset", "length", "status",
        "content_type")
      .localCheckpoint() // materialize before the bounded path collect
    val paths = hits.select("path").distinct().as[String].collect()
    if (paths.isEmpty)
      return spark.emptyDataset[(String, String, Long, Long, String, Long)]
        .toDF("urlkey", "path", "seq", "status", "content_type",
          "block_len")
    val archives = spark.read.format("binaryFile")
      .load(paths: _*)
      .select(col("path"), col("content").as("bytes"))
    hits.join(archives, Seq("path"))
      .select(col("urlkey"), col("path"), col("seq"), col("offset"),
        col("length"), col("status"), col("content_type"), col("bytes"))
      .as[(String, String, Long, Long, Long, Long, String, Array[Byte])]
      .mapPartitions(_.map { case (uk, p, seq, off, len, status, ct, bytes) =>
        val member = WarcCodec.gunzipMemberAt(bytes, off.toInt, len.toInt)
        val recs = WarcCodec.parseRecords(member)
        require(recs.length == 1, s"$p span $off: not a single record")
        val http = WarcCodec.parseHttpResponse(recs.head.block)
        require(http.status == status && recs.head
            .header("WARC-Target-URI").contains(uk),
          s"$p span $off: indexed row does not match the decoded record")
        (uk, p, seq, status, ct, recs.head.block.length.toLong)
      }).toDF("urlkey", "path", "seq", "status", "content_type",
        "block_len")
      .orderBy("urlkey", "path", "seq")
  }

  // ------------------------------------------------ WET emission (r14)

  /** One document's WET conversion record as `.warc.wet.gz` member
    * bytes — the Common Crawl convention for distributing EXTRACTED
    * text next to the raw captures: a `WARC-Type: conversion` record
    * whose block is the plain text, `WARC-Refers-To` naming the source
    * capture. The record id carries the doc id (real WET stamps a
    * urn:uuid here; a deterministic urn keeps the round trip
    * twin-restatable). gzip level rotates 0–9 so stored/fixed/dynamic
    * DEFLATE blocks all occur on the emitted wire. */
  private[graft] def wetMember(id: Long, uri: String,
      text: String): Array[Byte] = {
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val rec = WarcCodec.writeRecord("conversion", Seq(
      "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
      "WARC-Refers-To" -> s"<urn:graft:capture:$id>",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "text/plain"), body)
    WarcCodec.gzipMember(rec, level = (id % 10).toInt)
  }

  /** q244: WET round trip — the EMIT side of the crawl surface (the
    * engine could previously only read archives). Each document's
    * extracted text ([[parsedDocs]], the full q230 decode chain) is
    * serialized as a real WET conversion member
    * ([[WarcCodec.writeRecord]] envelope + [[WarcCodec.gzipMember]]
    * framing) and read BACK through the hand-rolled inflate + WARC
    * parse; the gate columns are the q230 text law's, so a defect in
    * either direction — a mis-counted Content-Length, a broken gzip
    * trailer, an envelope the parser can't round-trip — flips
    * `md5(text)` or fails loudly.
    *
    * Scale shape: map-only over documents (decode → emit → re-decode
    * inside one row's computation); the real-file form is
    * [[writeWetArchives]] (shard-grouped files on disk). */
  def wetRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    parsedDocs(spark, dir)
      .mapPartitions(_.map { d =>
        val wire = wetMember(d.doc_id, d.url, d.text)
        val recs = WarcCodec.gunzipMembers(wire)
          .flatMap(WarcCodec.parseRecords)
        require(recs.length == 1 && recs.head.warcType == "conversion",
          s"doc ${d.doc_id}: expected one conversion record")
        val rec = recs.head
        val id = rec.header("WARC-Record-ID")
          .getOrElse(sys.error(s"doc ${d.doc_id}: no record id"))
          .stripPrefix("<urn:graft:doc:").stripSuffix(">").toLong
        require(id == d.doc_id, s"record id $id != doc ${d.doc_id}")
        (id, rec.header("WARC-Target-URI").getOrElse(""),
          new String(rec.block, java.nio.charset.StandardCharsets.UTF_8))
      }).toDF("doc_id", "url", "text")
      .withColumn("text_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("text_md5", md5(col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  /** Docs per emitted WET archive file. */
  val WET_SHARD_MOD: Long = 16L

  /** Real-file WET emission: the corpus's extracted text lands as
    * [[WET_SHARD_MOD]] multi-member `.warc.wet.gz` archives under
    * `outDir` (one gzip member per conversion record, docs ascending
    * within a shard — the Common Crawl layout). WarcSpec reads the
    * files back through [[readWarcArchives]] and pins record counts,
    * types, and text equality. */
  def writeWetArchives(spark: SparkSession, dir: String,
      outDir: String): Unit = {
    import spark.implicits._
    parsedDocs(spark, dir)
      .groupByKey(_.doc_id % WET_SHARD_MOD)
      .mapGroups { (shard, it) =>
        val bos = new java.io.ByteArrayOutputStream()
        it.toArray.sortBy(_.doc_id).foreach { d =>
          bos.write(wetMember(d.doc_id, d.url, d.text))
        }
        (shard, bos.toByteArray)
      }
      .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
        it.foreach { case (shard, bytes) =>
          val p = java.nio.file.Paths.get(outDir,
            "graft-" + String.format(java.util.Locale.ROOT, "%05d",
              java.lang.Long.valueOf(shard)) + ".warc.wet.gz")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, bytes)
        }
      }
  }

  // ------------------------------------------- Avro containers (r14)

  /** Docs per Avro object container file. */
  val AVRO_SHARD_MOD: Long = 16L

  private[graft] def avroTitle(id: Long): String =
    s"Avro $id" + (if (id % 5 == 0) s" é${id % 9}" else "")

  /** q249: Avro OCF round trip — the row-oriented interchange
    * container, hand-rolled ([[graft.sources.AvroCodec]]: the
    * distribution ships avro-core but not the spark-avro source).
    * Documents land as [[AVRO_SHARD_MOD]] container files — embedded
    * JSON schema, zigzag varints, little-endian doubles, UTF-8
    * strings (an é arm exercises multi-byte lengths), 7-row blocks
    * (multi-block files), deflate codec on odd shards and null on
    * even, per-shard sync markers — and parse back through the full
    * header → schema → block → value decode. The twin restates the
    * field formulas and never mentions the wire: a varint defect, a
    * wrong-endian double, a codec mix-up, or a lost block flips rows.
    *
    * Scale shape: the container-file map-side law again (one shard
    * assembly shuffle; write → parse inside one row's computation). */
  def avroRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.AvroCodec
    val fields = Vector(
      AvroCodec.AvroField("doc_id", "long"),
      AvroCodec.AvroField("title", "string"),
      AvroCodec.AvroField("score", "double"),
      AvroCodec.AvroField("flag", "boolean"))
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .groupByKey(_ % AVRO_SHARD_MOD)
      .mapGroups { (shard, it) =>
        val rows = it.toArray.sorted.toIndexedSeq.map { id =>
          Vector[Any](id, avroTitle(id),
            ((id * 7) % 1000).toDouble / 8.0, id % 3 == 0)
        }
        val codec = if (shard % 2 == 1) "deflate" else "null"
        AvroCodec.write(fields, rows, codec, rowsPerBlock = 7,
          seed = shard)
      }
      .flatMap { bytes =>
        val ocf = graft.sources.AvroCodec.read(bytes)
        require(ocf.fields == fields, s"schema drifted: ${ocf.fields}")
        ocf.rows.iterator.map { r =>
          (r(0).asInstanceOf[Long], r(1).asInstanceOf[String],
            r(2).asInstanceOf[Double], r(3).asInstanceOf[Boolean])
        }
      }.toDF("doc_id", "title", "score", "flag")
      .orderBy("doc_id")
  }

  /** Real-file Avro reader: one row per record of every `.avro` under
    * `dirGlob`, schema-checked against the subset, per-FILE
    * parallelism. Values are stringified per field for the dynamic
    * relation (a typed reader would bind a schema first). */
  def readAvroFiles(spark: SparkSession, dirGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro")
      .load(dirGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val ocf = graft.sources.AvroCodec.read(bytes)
        ocf.rows.iterator.zipWithIndex.map { case (r, i) =>
          (p, i.toLong, ocf.fields.map(_.name).zip(r.map(String.valueOf))
            .toMap)
        }
      }.toDF("path", "row", "values")
  }

  // ------------------------------------------- ZIP document dumps (r14)

  /** Docs per ZIP archive — the tar-shard grouping's sibling. */
  val ZIP_SHARD_MOD: Long = 32L

  private[graft] def zipToken(docId: Long, i: Int): String =
    s"z${(docId * 41 + i * 13) % 9973}"

  private[graft] def zipText(docId: Long, nChars: Long): String =
    (0 until (nChars % 27 + 5).toInt).map(zipToken(docId, _)).mkString(" ")

  /** One shard's archive: a member per doc (ascending), stored for
    * doc%4==0 and DEFLATE at level doc%9+1 otherwise (stored / fixed /
    * dynamic blocks all occur on the wire), plus an EOCD comment the
    * locator must scan back over. */
  private[graft] def buildShardZip(docs: Array[(Long, Long)]): Array[Byte] = {
    import graft.sources.ZipCodec
    ZipCodec.write(
      docs.sortBy(_._1).toIndexedSeq.map { case (id, nc) =>
        ZipCodec.ZipMember(s"docs/$id.txt",
          zipText(id, nc).getBytes(java.nio.charset.StandardCharsets.US_ASCII),
          stored = id % 4 == 0, level = (id % 9 + 1).toInt)
      }, comment = "graft document dump")
  }

  /** q243: ZIP document-dump probe — a listing + selective extraction
    * over the container format whose RANDOM ACCESS is native: the
    * central directory (an archive-tail read) lists every member's
    * metadata, and only the SEED docs (doc%31==5) are decoded — by
    * local-header offset, CRC32-checked, through the hand-rolled raw
    * inflate. Output: one row per member with name, method,
    * uncompressed size, and the seed rows' text hash.
    *
    * The twin regenerates names/sizes/hashes arithmetically and never
    * mentions the wire; compressed sizes are deliberately NOT in the
    * gate (they are a property of the compressor, not the data — the
    * q218 PNG lesson). The selective-decode law (non-seed data spans
    * are never touched) is pinned behaviorally in ZipSpec by
    * corrupting a non-seed member's bytes.
    *
    * Scale shape: same map-side file-is-the-row law as the tar shards;
    * one groupByKey assembles the generative archives. */
  def zipArchiveProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ZipCodec
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .groupByKey(_._1 % ZIP_SHARD_MOD)
      .mapGroups { (_, it) => buildShardZip(it.toArray) }
      .flatMap { bytes =>
        ZipCodec.centralDirectory(bytes).iterator.map { e =>
          val id = e.name.stripPrefix("docs/").stripSuffix(".txt").toLong
          val text =
            if (id % 31 == 5)
              new String(ZipCodec.extract(bytes, e),
                java.nio.charset.StandardCharsets.US_ASCII)
            else null
          (e.name, if (e.method == 0) "stored" else "deflate",
            e.usize.toLong, text)
        }
      }.toDF("name", "method", "usize", "text")
      .withColumn("text_md5", md5(col("text"))).drop("text")
      .orderBy("name")
  }

  // ---------------------------------------------- file-based reader

  /** User-facing archive reader: every record of every `.warc.gz` under
    * `dirGlob` as one row (path, record seq within its file, WARC type,
    * target URI, and — for HTTP responses — status and Content-Type).
    * Parallelism is per FILE (`binaryFile` source): gzip members are
    * not block-splittable, so the archive file is the task unit, the
    * same contract Common Crawl's ~1 GiB shards are sized for.
    *
    * `permissive = true` is the 100 TB posture: a corrupt archive (bad
    * CRC, truncated member, broken framing) yields ONE quarantine row
    * (`error` set, everything else null) instead of failing the job —
    * real crawl dumps contain damaged files, and an ingest's contract
    * is skip-and-count, not die. Strict mode (the default) keeps
    * corruption loud for curated stores, and names the failing FILE in
    * the error — at fleet scale an unattributed parse error is
    * undebuggable. WarcSpec drives both modes over real files on
    * disk. */
  def readWarcArchives(spark: SparkSession, dirGlob: String,
      permissive: Boolean = false,
      glob: String = "*.warc.gz"): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dirGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val parsed =
          try Right(WarcCodec.gunzipMembers(bytes)
            .flatMap(WarcCodec.parseRecords))
          catch {
            case e: Exception if permissive => Left(e.getMessage)
            case e: Exception =>
              throw new IllegalArgumentException(s"$p: ${e.getMessage}", e)
          }
        parsed match {
          case Left(err) =>
            Seq((p, None: Option[Long], None: Option[String],
              None: Option[String], None: Option[Long],
              None: Option[String], None: Option[Long],
              Some(Option(err).getOrElse("parse failure").take(200))))
          case Right(recs) =>
            recs.zipWithIndex.map { case (r, i) =>
              // HTTP-level corruption is also skip-and-count in
              // permissive mode (ADVICE r13): a malformed response
              // envelope inside an otherwise-valid archive yields that
              // RECORD's row with null http fields and the error set,
              // never a failed job. Strict mode still names the file.
              val http =
                if (r.warcType != "response") Right(None)
                else try Right(Some(WarcCodec.parseHttpResponse(r.block)))
                catch {
                  case e: Exception if permissive => Left(e.getMessage)
                  case e: Exception =>
                    throw new IllegalArgumentException(
                      s"$p record $i: ${e.getMessage}", e)
                }
              (p, Some(i.toLong), Some(r.warcType),
                r.header("WARC-Target-URI"),
                http.toOption.flatten.map(_.status.toLong),
                http.toOption.flatten.flatMap(_.header("Content-Type")),
                Some(r.block.length.toLong),
                http.left.toOption.map(m =>
                  Option(m).getOrElse("http parse failure").take(200)))
            }
        }
      }
      .toDF("path", "seq", "warc_type", "target_uri", "http_status",
        "content_type", "block_len", "error")
  }
}
