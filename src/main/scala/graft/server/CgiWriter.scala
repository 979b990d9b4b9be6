package graft.server

import java.io.ByteArrayOutputStream
import WebApi.HttpReply

/** CGI/1.1 response writer (RFC 3875 §6): incrementally parses script
  * output — headers, blank-line separator, optional body — into an
  * [[WebApi.HttpReply]], enforcing the four parsed response forms the
  * reference's public door accepts (document, local redirect, client
  * redirect, client redirect with document).
  *
  * Behavior contract from the reference's own documentation and test
  * battery (mods/server/http_public.go:1-60 doc block,
  * http_public_test.go TestCgiBinWriter*):
  *  - header terminator `\r\n\r\n` or `\n\n`, whichever comes FIRST;
  *  - the first non-empty line may be an HTTP-style status line
  *    (`HTTP/1.1 204 ...`) instead of a `Status:` header (documented
  *    compatibility extension);
  *  - duplicate Status / Content-Type / Location headers are rejected;
  *  - a document response requires Content-Type; Status defaults 200;
  *  - Location starting with `/` is a LOCAL redirect (no other headers,
  *    no body; the request is re-dispatched in-process), anything else
  *    a client redirect (302, no Status/Content-Type/protocol headers
  *    unless a document accompanies it with an explicit 3xx Status);
  *  - `text/event-stream` header-only output commits and flushes
  *    immediately (SSE clients must not wait for body bytes);
  *  - every body write flushes; HEAD requests discard the body but
  *    keep headers; empty writes are no-ops;
  *  - a zero-progress sink write is a short write (error);
  *  - Finalize with no output at all → "empty response"; with output
  *    but no separator → "missing header separator".
  *
  * The writer is transport-agnostic: body bytes go through `bodySink`
  * (a function returning bytes-consumed, so tests can model partial and
  * short writes); by default they buffer internally and surface in the
  * finished [[WebApi.HttpReply]]. `flushCount` is observable for the
  * SSE flush contract.
  */
final class CgiWriter(
    method: String = "GET",
    localDispatch: String => HttpReply = loc =>
      throw new CgiWriter.CgiError("router is unavailable for local redirect"),
    bodySink: Option[Array[Byte] => Int] = None) {
  import CgiWriter._

  private val bodyBuf = new ByteArrayOutputStream()
  // pre-separator bytes: amortized-growth buffer + a resumable scan
  // cursor, so a script streaming many small header writes costs
  // O(total) (the reference appends amortized into a slice); capped at
  // MaxHeaderBytes — a large body with no separator fails fast instead
  // of buffering unboundedly.
  private var hbuf = new Array[Byte](256)
  private var hlen = 0
  private var hscan = 0
  private var headerParsed = false
  private var headersApplied = false
  private var bodySeen = false
  private var sawOutput = false
  private var meta: Meta = null

  private var status = 200
  private var contentType = ""
  private var extraHeaders = Vector.empty[(String, String)]
  private var dispatched: Option[HttpReply] = None

  /** flushes observed by the transport (SSE contract is ≥1 on header
    * commit and one more per body write). */
  var flushCount: Int = 0

  private def sinkAll(p: Array[Byte]): Unit = bodySink match {
    case None => bodyBuf.write(p)
    case Some(sink) =>
      var rest = p
      while (rest.nonEmpty) {
        val n = sink(rest)
        if (n <= 0) throw new CgiError("short write")
        rest = rest.drop(n)
      }
  }

  def print(args: Any*): Unit =
    write(args.mkString(" ").getBytes("UTF-8"))
  def println(args: Any*): Unit =
    write((args.mkString(" ") + "\n").getBytes("UTF-8"))
  def printf(fmt: String, args: Any*): Unit =
    write(fmt.format(args: _*).getBytes("UTF-8"))
  /** console.log routing: plain stdout lines, no level prefix
    * (http_public.go CgiBinWriter.Log). */
  def log(level: String, args: Seq[Any]): Unit = println(args: _*)

  def write(p: Array[Byte]): Unit = {
    if (p.isEmpty) return
    sawOutput = true
    if (headerParsed) { writeBody(p); return }
    if (hlen + p.length > hbuf.length) {
      var cap = math.max(hbuf.length * 2, 256)
      while (cap < hlen + p.length) cap *= 2
      hbuf = java.util.Arrays.copyOf(hbuf, cap)
    }
    System.arraycopy(p, 0, hbuf, hlen, p.length)
    hlen += p.length
    val (end, sepLen) = scanHeaderEnd()
    if (end < 0) {
      if (hlen > MaxHeaderBytes) throw new CgiError("missing header separator")
      return
    }
    val bodyStart = end + sepLen
    meta = parseHeaderBlock(new String(hbuf, 0, end, "UTF-8"))
    headerParsed = true
    val buffered = hbuf
    val bufferedLen = hlen
    hbuf = Array.emptyByteArray; hlen = 0; hscan = 0
    if (bodyStart == bufferedLen) {
      // header-only so far: SSE must commit + flush without waiting
      if (isSse(meta.contentType)) {
        applyHeaders(classify(meta, hasBody = false))
        flushCount += 1
      }
    } else writeBody(java.util.Arrays.copyOfRange(buffered, bodyStart, bufferedLen))
  }

  /** Left-to-right scan for the first `\r\n\r\n` / `\n\n` (checking
    * the longer pattern first at each index — equivalent to the
    * first-by-position rule), resuming 3 bytes before where the last
    * scan stopped so repeated writes cost amortized O(total). */
  private def scanHeaderEnd(): (Int, Int) = {
    var j = math.max(0, hscan - 3)
    while (j < hlen - 1) {
      if (hbuf(j) == '\r' && j + 3 < hlen && hbuf(j + 1) == '\n' &&
        hbuf(j + 2) == '\r' && hbuf(j + 3) == '\n') return (j, 4)
      if (hbuf(j) == '\n' && hbuf(j + 1) == '\n') return (j, 2)
      j += 1
    }
    hscan = hlen
    (-1, 0)
  }

  private def writeBody(p: Array[Byte]): Unit = {
    val tpe = classify(meta, hasBody = true)
    if (tpe == LocalRedirect || tpe == ClientRedirect)
      throw new CgiError("redirect response must not include a message body")
    if (!headersApplied) applyHeaders(tpe)
    bodySeen = true
    if (method.equalsIgnoreCase("HEAD")) return
    sinkAll(p)
    flushCount += 1
  }

  private def applyHeaders(tpe: ResponseType): Unit = {
    if (headersApplied) return
    meta.headers.foreach { case (k, v) =>
      // X-Cgi-* extension headers stay server-internal on a bare
      // client redirect
      if (!(tpe == ClientRedirect && k.toLowerCase.startsWith("x-cgi-")))
        extraHeaders :+= (k -> v)
    }
    tpe match {
      case Document =>
        contentType = meta.contentType
        if (meta.hasStatus) status = meta.statusCode
      case ClientRedirect =>
        extraHeaders :+= ("Location" -> meta.location)
        status = 302
      case ClientRedirectWithDocument =>
        extraHeaders :+= ("Location" -> meta.location)
        contentType = meta.contentType
        status = meta.statusCode
      case LocalRedirect =>
        throw new CgiError("unsupported response type")
    }
    headersApplied = true
  }

  /** Finalize: validate the accumulated state and return the reply
    * (or the re-dispatched reply for a local redirect). */
  def finish(): HttpReply = {
    if (!sawOutput) throw new CgiError("empty response")
    if (!headerParsed) throw new CgiError("missing header separator")
    if (meta == null) throw new CgiError("missing response headers")
    if (!bodySeen) {
      val tpe = classify(meta, hasBody = false)
      if (tpe == LocalRedirect) {
        val r = localDispatch(meta.location)
        dispatched = Some(r)
        return r
      }
      applyHeaders(tpe)
    }
    dispatched.getOrElse(
      HttpReply(status, contentType, bodyBuf.toString("UTF-8"),
        collapseHeaders(extraHeaders)))
  }

  /** HttpReply carries a single-valued header Map; a script emitting
    * the same custom header twice combines RFC 7230 §3.2.2-style into
    * one comma-separated value in first-seen order (the reference's
    * http.Header.Add keeps a multi-value list — this is its
    * wire-equivalent single-map form, instead of silently dropping all
    * but the last value). */
  private def collapseHeaders(hs: Vector[(String, String)]): Map[String, String] = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, StringBuilder]
    hs.foreach { case (k, v) =>
      order.get(k) match {
        case Some(sb) => sb.append(", ").append(v)
        case None => order(k) = new StringBuilder(v)
      }
    }
    order.iterator.map { case (k, sb) => k -> sb.toString }.toMap
  }
}

object CgiWriter {
  /** Malformed CGI output — the door replies HTTP 500 with this reason
    * (prefixed "invalid cgi response: " at finalize time, or folded
    * into "engine run error: " when raised by a write mid-script, the
    * reference's split). */
  final class CgiError(msg: String) extends RuntimeException(msg)

  /** Cap on buffered pre-separator bytes — a script that streams a
    * large body without ever emitting the header separator fails fast
    * instead of accumulating it all. */
  val MaxHeaderBytes: Int = 1 << 20

  private[server] sealed trait ResponseType
  private[server] case object Document extends ResponseType
  private[server] case object LocalRedirect extends ResponseType
  private[server] case object ClientRedirect extends ResponseType
  private[server] case object ClientRedirectWithDocument extends ResponseType

  private[server] final case class Meta(
      statusCode: Int, hasStatus: Boolean, contentType: String,
      location: String, headers: Vector[(String, String)])

  private def parseStatusLine(line: String): Option[Int] = {
    val fields = line.split("\\s+").filter(_.nonEmpty)
    if (fields.length < 2 || !fields(0).startsWith("HTTP")) None
    else fields(1).toIntOption
  }

  private def parseStatusHeader(value: String): Int = {
    val fields = value.split("\\s+").filter(_.nonEmpty)
    if (fields.isEmpty) throw new CgiError("empty Status header")
    fields(0).toIntOption.getOrElse(
      throw new CgiError(s"invalid Status header: ${fields(0)}"))
  }

  private[server] def parseHeaderBlock(block: String): Meta = {
    var statusCode = 0
    var hasStatus = false
    var contentType = ""
    var location = ""
    var headers = Vector.empty[(String, String)]
    var firstLine = true
    for (rawLine <- block.replace("\r\n", "\n").split("\n", -1)) {
      val line = rawLine.trim
      if (line.nonEmpty) {
        val statusFromLine = if (firstLine) parseStatusLine(line) else None
        firstLine = false
        statusFromLine match {
          case Some(code) =>
            statusCode = code; hasStatus = true
          case None =>
            val colon = line.indexOf(':')
            if (colon < 0 || line.take(colon).trim.isEmpty)
              throw new CgiError(s"""malformed header line "$line"""")
            val key = line.take(colon).trim
            val value = line.drop(colon + 1).trim
            key.toLowerCase match {
              case "status" =>
                if (hasStatus) throw new CgiError("duplicate Status header")
                statusCode = parseStatusHeader(value); hasStatus = true
              case "content-type" =>
                if (contentType.nonEmpty)
                  throw new CgiError("duplicate Content-Type header")
                contentType = value
              case "location" =>
                if (location.nonEmpty)
                  throw new CgiError("duplicate Location header")
                location = value
              case _ => headers :+= (key -> value)
            }
        }
      }
    }
    Meta(statusCode, hasStatus, contentType, location, headers)
  }

  private[server] def classify(meta: Meta, hasBody: Boolean): ResponseType = {
    if (meta.location.nonEmpty) {
      if (meta.location.startsWith("/")) {
        if (hasBody)
          throw new CgiError("local redirect must not include a message body")
        if (meta.hasStatus || meta.contentType.nonEmpty || meta.headers.nonEmpty)
          throw new CgiError(
            "local redirect must not include headers other than Location")
        LocalRedirect
      } else if (hasBody) {
        if (!meta.hasStatus)
          throw new CgiError("client redirect with document requires Status")
        if (meta.contentType.isEmpty)
          throw new CgiError(
            "client redirect with document requires Content-Type")
        if (meta.statusCode < 300 || meta.statusCode >= 400)
          throw new CgiError(
            "client redirect with document requires a 3xx status")
        ClientRedirectWithDocument
      } else {
        if (meta.hasStatus)
          throw new CgiError(
            "client redirect must not include Status unless a document is returned")
        if (meta.contentType.nonEmpty)
          throw new CgiError(
            "client redirect must not include Content-Type without a document")
        if (!meta.headers.forall(_._1.toLowerCase.startsWith("x-cgi-")))
          throw new CgiError(
            "client redirect must not include protocol headers")
        ClientRedirect
      }
    } else if (meta.contentType.isEmpty)
      throw new CgiError("document response requires Content-Type")
    else Document
  }

  private[server] def isSse(contentType: String): Boolean =
    contentType.trim.toLowerCase.startsWith("text/event-stream")

  /** 500-reason enrichment: append captured script stdout/stderr tails
    * when present (http_public.go appendCgiDiagnostic). */
  def appendDiagnostic(base: String, stdout: String, stderr: String): String = {
    var msg = base
    if (stdout.nonEmpty) msg += s" cgi_stdout=${stdout}"
    if (stderr.nonEmpty) msg += s" cgi_stderr=${stderr}"
    msg
  }

  /** Bounded capture of script output for diagnostics: keeps the first
    * `max` bytes and marks truncation (http_public.go
    * limitedCaptureWriter — writes past the cap report full length). */
  final class LimitedCapture(max: Int) {
    private val sb = new StringBuilder
    private var truncated = false
    def write(s: String): Int = {
      val room = max - sb.length
      if (room >= s.length) sb.append(s)
      else {
        if (room > 0) sb.append(s.substring(0, room))
        truncated = true
      }
      s.length
    }
    override def toString: String =
      if (truncated) sb.toString + "...<truncated>" else sb.toString
  }
}
