package graft.etl

import java.nio.charset.StandardCharsets

/** Full HTTP/1.x message walker over the per-direction reassembled
  * streams — a transcription of the reference stack: the embedded joyent
  * http_parser (capture/thirdparty/http_parser.c, compiled NON-STRICT:
  * Makefile.in:88 passes -DHTTP_PARSER_STRICT=0, so every STRICT_CHECK
  * is a no-op, TOKEN(' ') == ' ', tab/np count as URL chars and
  * NEW_MESSAGE() never enters s_dead) driving the moloch callback layer
  * (capture/parsers/http.c moloch_hp_cb_*).
  *
  * The bug-compatible consequences worth naming (all differential-fuzz
  * pinned by HttpDifferentialFuzzSpec):
  *  - header NAMES accumulate into a 40-byte buffer (HTTPInfo_t
  *    header[2][40], http.c:33) — names truncate at 39 chars, and a
  *    valueless line's name is NOT cleared, so it PREFIXES the next
  *    header's recorded name (the reset happens only when a value had
  *    started, http.c:447-455);
  *  - folded continuation lines (obs-fold) append to the PREVIOUS
  *    header's value with the leading whitespace dropped and no
  *    separator (s_header_value_lws, http_parser.c:1545-1553);
  *  - a line with no colon splits at the first non-token char (the
  *    reference's "ALW MOLOCH: assume missing colon" patch,
  *    http_parser.c:1352-1355);
  *  - Transfer-Encoding is chunked only when the value STARTS with
  *    "chunked" (strict char walk, http_parser.c:1476-1484 — a
  *    "gzip, chunked" list is NOT chunked here);
  *  - Content-Length re-parses per header (LAST one wins), allows
  *    embedded spaces ("1 2" = 12) and errors the direction on any
  *    other non-digit (http_parser.c:1398-1475);
  *  - no F_SKIPBODY ever: moloch's on_headers_complete returns 0
  *    (http.c:700), so HEAD/204/304/1xx responses that carry a
  *    Content-Length have those bytes CONSUMED as a body;
  *  - chunk-size lines tolerate extensions after ';' or ' '
  *    (s_chunk_parameters) but any other non-hex char errors the
  *    direction (HPE_INVALID_CHUNK_SIZE); trailer headers after the
  *    0-chunk run through the SAME header callbacks (names recorded);
  *  - a direction-level parse error stops that direction's parsing for
  *    good (http.c http_parse: len <= 0 clears wParsers), keeping every
  *    field extracted so far;
  *  - the full 26-entry method table (http_parser.h:79-107) parses, and
  *    `if (parser->method)` gates the Host/Cookie/Authorization
  *    promotions — HTTP_DELETE is enum 0, so DELETE requests never
  *    populate hostString (http.c:505-528);
  *  - method index 2 has NO error path (http_parser.c:964-969): any
  *    third byte silently advances, so "GEX / HTTP/1.1" is a GET;
  *  - Content-Length and chunk-size accumulation error the direction on
  *    uint64 wrap or ULLONG_MAX (HPE_INVALID_CONTENT_LENGTH,
  *    http_parser.c:1460-1469/1733-1744) — values up to 2^64-2 parse
  *    and clamp a body read to the remaining bytes (uint64 MIN);
  *  - header bytes (incl. request line and chunk-size lines) budget
  *    against HTTP_MAX_HEADER_SIZE = 80 KiB → HPE_HEADER_OVERFLOW
  *    (http_parser.c:637-643);
  *  - an Upgrade/CONNECT message completes at headers-done and parsing
  *    RESUMES at the start state (moloch's driver loop re-invokes
  *    http_parser_execute with no upgrade gate, http.c:726-740):
  *    pipelined HTTP after a refused upgrade is recorded, tunnel bytes
  *    error the direction.
  *
  * Bodies are de-chunked but NOT content-decoded (a gzip body hashes its
  * gzip bytes, http.c:287-320 feeds on_body to the checksum); md5/sha256
  * emit only at on_message_complete (http.c:394-400).
  */
object HttpParser {

  final case class HttpInfo(
      method: Seq[String], uri: Seq[String], host: Seq[String],
      path: Seq[String], key: Seq[String], value: Seq[String],
      statuscode: Seq[Int], useragent: Seq[String],
      clientVersion: Seq[String], serverVersion: Seq[String],
      requestHeader: Seq[String], responseHeader: Seq[String],
      referer: Seq[String], location: Seq[String],
      cookieKey: Seq[String], cookieValue: Seq[String],
      md5: Seq[String], authUser: Seq[String],
      bodyMagic: Seq[String] = Nil,
      sha256: Seq[String] = Nil,
      // http.requestBody (http.c:307-311): small UTF-8 request bodies
      requestBody: Seq[String] = Nil,
      // parseHTTPHeader{Request,Response}All (http.c:478-492): headers
      // with no field of their own get name → *HeaderField and
      // lowercased value (≤1024) → *HeaderValue
      requestHeaderField: Seq[String] = Nil,
      requestHeaderValue: Seq[String] = Nil,
      responseHeaderField: Seq[String] = Nil,
      responseHeaderValue: Seq[String] = Nil,
      authType: Seq[String] = Nil,
      // configured header field [headers-http-request] authorization →
      // http.request-authorization, raw value
      authorization: Seq[String] = Nil,
      // http:password — a body's first chunk contains password=/passwd=/
      // pass= (http.c:296-302)
      passwordInBody: Boolean = false,
      // X-Forwarded-For, comma-split and parsed as addresses
      // (http.c:131-139 g_strsplit + moloch_field_ip_add_str)
      xffIp: Seq[String] = Nil)

  /** Field-wise union of two parses (an HTTP/1 upgrade that continues
    * as cleartext http2 can yield both).
    */
  def merge(a: HttpInfo, b: HttpInfo): HttpInfo = HttpInfo(
    method = (a.method ++ b.method).distinct,
    uri = (a.uri ++ b.uri).distinct,
    host = (a.host ++ b.host).distinct,
    path = (a.path ++ b.path).distinct,
    key = (a.key ++ b.key).distinct,
    value = (a.value ++ b.value).distinct,
    statuscode = (a.statuscode ++ b.statuscode).distinct,
    useragent = (a.useragent ++ b.useragent).distinct,
    clientVersion = (a.clientVersion ++ b.clientVersion).distinct,
    serverVersion = (a.serverVersion ++ b.serverVersion).distinct,
    requestHeader = (a.requestHeader ++ b.requestHeader).distinct.sorted,
    responseHeader = (a.responseHeader ++ b.responseHeader).distinct.sorted,
    referer = (a.referer ++ b.referer).distinct,
    location = (a.location ++ b.location).distinct,
    cookieKey = (a.cookieKey ++ b.cookieKey).distinct,
    cookieValue = (a.cookieValue ++ b.cookieValue).distinct,
    md5 = (a.md5 ++ b.md5).distinct,
    sha256 = (a.sha256 ++ b.sha256).distinct,
    requestBody = (a.requestBody ++ b.requestBody).distinct,
    authUser = (a.authUser ++ b.authUser).distinct,
    bodyMagic = (a.bodyMagic ++ b.bodyMagic).distinct,
    requestHeaderField = (a.requestHeaderField ++ b.requestHeaderField).distinct.sorted,
    requestHeaderValue = a.requestHeaderValue ++ b.requestHeaderValue,
    responseHeaderField = (a.responseHeaderField ++ b.responseHeaderField).distinct.sorted,
    responseHeaderValue = a.responseHeaderValue ++ b.responseHeaderValue,
    authType = (a.authType ++ b.authType).distinct,
    authorization = (a.authorization ++ b.authorization).distinct,
    passwordInBody = a.passwordInBody || b.passwordInBody,
    xffIp = (a.xffIp ++ b.xffIp).distinct)

  // -----------------------------------------------------------------
  // The http_parser machine (one direction, HTTP_BOTH, non-strict)
  // -----------------------------------------------------------------

  /** method_strings, http_parser.h:79-107 (index = enum http_method;
    * DELETE is 0 — the `if (parser->method)` gate quirk).
    */
  private[etl] val MethodStrings: Array[String] = Array(
    "DELETE", "GET", "HEAD", "POST", "PUT", "CONNECT", "OPTIONS", "TRACE",
    "COPY", "LOCK", "MKCOL", "MOVE", "PROPFIND", "PROPPATCH", "SEARCH",
    "UNLOCK", "REPORT", "MKACTIVITY", "CHECKOUT", "MERGE", "M-SEARCH",
    "NOTIFY", "SUBSCRIBE", "UNSUBSCRIBE", "PATCH", "PURGE")

  /** Callback surface, mirroring http_parser_settings. Spans reference
    * the stream array directly ([from, until)).
    */
  private[etl] trait Events {
    def messageBegin(off: Int): Unit = {}
    /** parser->method is live from the request line on — the header
      * callbacks' `if (parser->method)` gate reads it (http.c:505).
      * Fires when the method token completes; a later request in the
      * same direction overwrites it (and a DELETE sets it back to 0).
      */
    def methodResolved(methodIdx: Int): Unit = {}
    def url(data: Array[Byte], from: Int, until: Int): Unit = {}
    def headerField(data: Array[Byte], from: Int, until: Int): Unit = {}
    def headerValue(data: Array[Byte], from: Int, until: Int): Unit = {}
    /** Fires like moloch_hp_cb_on_headers_complete; bodyOff = offset of
      * the first byte after the header terminator.
      */
    def headersComplete(status: Int, methodIdx: Int, major: Int,
        minor: Int, upgrade: Boolean, isResponse: Boolean,
        bodyOff: Int): Unit = {}
    def body(data: Array[Byte], from: Int, until: Int): Unit = {}
    def messageComplete(endOff: Int): Unit = {}
  }

  // tokens[256] (http_parser.c:145-178); non-strict TOKEN() maps ' '→' '
  private val Tokens: Array[Char] = {
    val t = new Array[Char](256)
    for (c <- 'a' to 'z') { t(c) = c; t(c - 32) = c }
    for (c <- '0' to '9') t(c) = c
    "!#$%&'*+-.^_`|~".foreach(c => t(c) = c)
    t(' ') = ' ' // non-strict extension (http_parser.c:375)
    t
  }

  // normal_url_char (http_parser.c:198-230) with the non-strict T()
  // entries (ht, np) and high-bit bytes allowed (http_parser.c:376)
  private def isUrlChar(ch: Int): Boolean = {
    if ((ch & 0x80) != 0) return true
    if (ch == '\t' || ch == 12) return true
    if (ch <= 32 || ch == 127) return false
    ch != '#' && ch != '?'
  }
  private def isAlpha(ch: Int): Boolean = {
    val c = ch | 0x20; c >= 'a' && c <= 'z'
  }
  private def isNum(ch: Int): Boolean = ch >= '0' && ch <= '9'
  private def isMark(c: Int): Boolean =
    c == '-' || c == '_' || c == '.' || c == '!' || c == '~' || c == '*' ||
      c == '\'' || c == '(' || c == ')'
  private def isUserinfoChar(c: Int): Boolean =
    isAlpha(c) || isNum(c) || isMark(c) || c == '%' || c == ';' ||
      c == ':' || c == '&' || c == '=' || c == '+' || c == '$' || c == ','

  // states (the machine's subset of enum state)
  private object S {
    final val Dead = 0
    final val StartReqOrRes = 1; final val ResOrRespH = 2
    final val ResH = 3; final val ResHT = 4; final val ResHTT = 5
    final val ResHTTP = 6
    final val ResFirstMajor = 7; final val ResMajor = 8
    final val ResFirstMinor = 9; final val ResMinor = 10
    final val ResFirstStatus = 11; final val ResStatus = 12
    final val ResStatusText = 13; final val ResLineAlmostDone = 14
    final val StartReq = 15; final val ReqMethod = 16
    final val ReqSpacesBeforeUrl = 17
    final val ReqSchema = 18; final val ReqSchemaSlash = 19
    final val ReqSchemaSlashSlash = 20
    final val ReqServerStart = 21; final val ReqServer = 22
    final val ReqServerWithAt = 23
    final val ReqPath = 24; final val ReqQueryStringStart = 25
    final val ReqQueryString = 26
    final val ReqFragmentStart = 27; final val ReqFragment = 28
    final val ReqHttpStart = 29; final val ReqHttpH = 30
    final val ReqHttpHT = 31; final val ReqHttpHTT = 32
    final val ReqHttpHTTP = 33
    final val ReqFirstMajor = 34; final val ReqMajor = 35
    final val ReqFirstMinor = 36; final val ReqMinor = 37
    final val ReqLineAlmostDone = 38
    final val HeaderFieldStart = 39; final val HeaderField = 40
    final val HeaderValueStart = 41; final val HeaderValue = 42
    final val HeaderAlmostDone = 43; final val HeaderValueLws = 44
    final val HeadersAlmostDone = 45; final val HeadersDone = 46
    final val BodyIdentity = 47; final val BodyIdentityEof = 48
    final val MessageDone = 49
    final val ChunkSizeStart = 50; final val ChunkSize = 51
    final val ChunkParameters = 52; final val ChunkSizeAlmostDone = 53
    final val ChunkData = 54; final val ChunkDataAlmostDone = 55
    final val ChunkDataDone = 56
  }
  // header_state
  private object H {
    final val General = 0; final val C = 1; final val CO = 2
    final val CON = 3
    final val MatchingConnection = 4; final val MatchingProxyConnection = 5
    final val MatchingContentLength = 6
    final val MatchingTransferEncoding = 7; final val MatchingUpgrade = 8
    final val Connection = 9; final val ContentLength = 10
    final val TransferEncoding = 11; final val Upgrade = 12
    final val MatchingTEChunked = 13; final val MatchingKeepAlive = 14
    final val MatchingClose = 15
    final val TEChunked = 16; final val KeepAlive = 17; final val Close = 18
  }
  private final val FChunked = 1
  private final val FTrailing = 2
  private final val FUpgrade = 4

  /** One-shot http_parser_execute over a full reassembled direction,
    * followed by the EOF call http_save issues (http.c:744-760). A parse
    * error stops the walk exactly where the reference's driver clears
    * wParsers (http.c http_parse, len <= 0).
    */
  private[etl] def walk(data: Array[Byte], ev: Events): Unit = {
    import S._
    var state = StartReqOrRes
    var headerState = H.General
    var index = 0
    var flags = 0
    var contentLength = -1L // ULLONG_MAX sentinel
    var httpMajor = 0; var httpMinor = 0
    var statusCode = 0
    var method = 0
    var isResponseMsg = false
    var dead = false
    // parser->nread: header-byte budget (http_parser.c:637-643) —
    // HPE_HEADER_OVERFLOW past HTTP_MAX_HEADER_SIZE (80 KiB,
    // http_parser.h:54). PARSING_HEADER covers every state up to and
    // INCLUDING the chunk-size-line states (the enum places them before
    // s_headers_done); reset where the C resets (headers done, chunk
    // size done, chunk data done).
    var nread = 0

    var fieldMark = -1; var valueMark = -1
    var urlMark = -1; var bodyMark = -1
    def cbField(endEx: Int): Unit =
      if (fieldMark >= 0) { ev.headerField(data, fieldMark, endEx); fieldMark = -1 }
    def cbValue(endEx: Int): Unit =
      if (valueMark >= 0) { ev.headerValue(data, valueMark, endEx); valueMark = -1 }
    def cbUrl(endEx: Int): Unit =
      if (urlMark >= 0) { ev.url(data, urlMark, endEx); urlMark = -1 }
    def cbBody(endEx: Int): Unit =
      if (bodyMark >= 0) { ev.body(data, bodyMark, endEx); bodyMark = -1 }
    def needsEof(): Boolean = {
      // http_message_needs_eof (http_parser.c:1854-1873); F_SKIPBODY
      // never set (moloch returns 0 from on_headers_complete)
      if (statusCode / 100 == 1 || statusCode == 204 || statusCode == 304)
        return false
      if ((flags & FChunked) != 0 || contentLength != -1L) return false
      true
    }

    var p = 0
    while (p < data.length && !dead) {
      val ch = data(p) & 0xff
      if (state <= HeadersDone ||
        (state >= ChunkSizeStart && state <= ChunkSizeAlmostDone)) {
        nread += 1
        if (nread > 80 * 1024) dead = true
      }
      var redo = true
      while (redo && !dead) {
        redo = false
        (state: @annotation.switch) match {
          case StartReqOrRes =>
            if (ch != '\r' && ch != '\n') {
              flags = 0; contentLength = -1L; isResponseMsg = false
              if (ch == 'H') { state = ResOrRespH; ev.messageBegin(p) }
              else { state = StartReq; redo = true }
            }
          case ResOrRespH =>
            if (ch == 'T') { isResponseMsg = true; state = ResHT }
            else if (ch == 'E') { method = 2; index = 2; state = ReqMethod }
            else dead = true
          // non-strict: the s_res_H..HTTP constant checks are no-ops
          case ResH => state = ResHT
          case ResHT => state = ResHTT
          case ResHTT => state = ResHTTP
          case ResHTTP => state = ResFirstMajor
          case ResFirstMajor =>
            if (isNum(ch)) { httpMajor = ch - '0'; state = ResMajor }
            else dead = true
          case ResMajor =>
            if (ch == '.') state = ResFirstMinor
            else if (isNum(ch)) {
              httpMajor = httpMajor * 10 + (ch - '0')
              if (httpMajor > 999) dead = true
            } else dead = true
          case ResFirstMinor =>
            if (isNum(ch)) { httpMinor = ch - '0'; state = ResMinor }
            else dead = true
          case ResMinor =>
            if (ch == ' ') state = ResFirstStatus
            else if (isNum(ch)) {
              httpMinor = httpMinor * 10 + (ch - '0')
              if (httpMinor > 999) dead = true
            } else dead = true
          case ResFirstStatus =>
            if (isNum(ch)) { statusCode = ch - '0'; state = ResStatus }
            else if (ch != ' ') dead = true
          case ResStatus =>
            if (isNum(ch)) {
              statusCode = statusCode * 10 + (ch - '0')
              if (statusCode > 999) dead = true
            } else if (ch == ' ') state = ResStatusText
            else if (ch == '\r') state = ResLineAlmostDone
            else if (ch == '\n') state = HeaderFieldStart
            else dead = true
          case ResStatusText =>
            if (ch == '\r') state = ResLineAlmostDone
            else if (ch == '\n') state = HeaderFieldStart
          case ResLineAlmostDone =>
            state = HeaderFieldStart // non-strict: any byte stands for LF
          case StartReq =>
            if (ch != '\r' && ch != '\n') {
              flags = 0; contentLength = -1L; isResponseMsg = false
              val m = ch match {
                case 'C' => 5; case 'D' => 0; case 'G' => 1; case 'H' => 2
                case 'L' => 9; case 'M' => 10; case 'N' => 21; case 'O' => 6
                case 'P' => 3; case 'R' => 16; case 'S' => 22; case 'T' => 7
                case 'U' => 15
                case _ => -1
              }
              if (m < 0) dead = true
              else {
                method = m; index = 1; state = ReqMethod
                ev.messageBegin(p)
              }
            }
          case ReqMethod =>
            if (ch == 0) dead = true
            else {
              val matcher = MethodStrings(method)
              if (ch == ' ' && index == matcher.length) {
                state = ReqSpacesBeforeUrl
                ev.methodResolved(method)
              } else if (index < matcher.length &&
                ch.toChar == matcher.charAt(index)) ()
              else if (method == 5) { // CONNECT
                if (index == 1 && ch == 'H') method = 18
                else if (index == 2 && ch == 'P') method = 8
                else dead = true
              } else if (method == 10) { // MKCOL
                if (index == 1 && ch == 'O') method = 11
                else if (index == 1 && ch == 'E') method = 19
                else if (index == 1 && ch == '-') method = 20
                else if (index == 2 && ch == 'A') method = 17
                else dead = true
              } else if (method == 22) { // SUBSCRIBE
                if (index == 1 && ch == 'E') method = 14 else dead = true
              } else if (index == 1 && method == 3) { // POST
                if (ch == 'R') method = 12
                else if (ch == 'U') method = 4
                else if (ch == 'A') method = 24
                else dead = true
              } else if (index == 2) {
                // index==2 only REMAPS PUT+'R'→PURGE and UNLOCK+'S'→
                // UNSUBSCRIBE — the reference has NO error path here
                // (http_parser.c:964-969), so any other byte silently
                // advances: "GEX / HTTP/1.1" parses as a GET request
                if (method == 4 && ch == 'R') method = 25
                else if (method == 15 && ch == 'S') method = 23
              } else if (index == 4 && method == 12 && ch == 'P')
                method = 13
              else dead = true
              if (!dead) index += 1
            }
          case ReqSpacesBeforeUrl =>
            if (ch != ' ') {
              urlMark = p
              val next =
                if (method == 5) parseUrlChar(ReqServerStart, ch)
                else parseUrlChar(ReqSpacesBeforeUrl, ch)
              if (next == Dead) dead = true else state = next
            }
          case ReqSchema | ReqSchemaSlash | ReqSchemaSlashSlash |
              ReqServerStart =>
            if (ch == ' ' || ch == '\r' || ch == '\n') dead = true
            else {
              val next = parseUrlChar(state, ch)
              if (next == Dead) dead = true else state = next
            }
          case ReqServer | ReqServerWithAt | ReqPath |
              ReqQueryStringStart | ReqQueryString | ReqFragmentStart |
              ReqFragment =>
            if (ch == ' ') { state = ReqHttpStart; cbUrl(p) }
            else if (ch == '\r' || ch == '\n') {
              httpMajor = 0; httpMinor = 9
              state = if (ch == '\r') ReqLineAlmostDone else HeaderFieldStart
              cbUrl(p)
            } else {
              val next = parseUrlChar(state, ch)
              if (next == Dead) dead = true else state = next
            }
          case ReqHttpStart =>
            if (ch == 'H') state = ReqHttpH
            else if (ch != ' ') dead = true
          case ReqHttpH => state = ReqHttpHT // non-strict
          case ReqHttpHT => state = ReqHttpHTT
          case ReqHttpHTT => state = ReqHttpHTTP
          case ReqHttpHTTP => state = ReqFirstMajor
          case ReqFirstMajor =>
            if (ch >= '1' && ch <= '9') { httpMajor = ch - '0'; state = ReqMajor }
            else dead = true
          case ReqMajor =>
            if (ch == '.') state = ReqFirstMinor
            else if (isNum(ch)) {
              httpMajor = httpMajor * 10 + (ch - '0')
              if (httpMajor > 999) dead = true
            } else dead = true
          case ReqFirstMinor =>
            if (isNum(ch)) { httpMinor = ch - '0'; state = ReqMinor }
            else dead = true
          case ReqMinor =>
            if (ch == '\r') state = ReqLineAlmostDone
            else if (ch == '\n') state = HeaderFieldStart
            else if (isNum(ch)) {
              httpMinor = httpMinor * 10 + (ch - '0')
              if (httpMinor > 999) dead = true
            } else dead = true
          case ReqLineAlmostDone =>
            if (ch != '\n') dead = true // HPE_LF_EXPECTED (not STRICT-gated)
            else state = HeaderFieldStart
          case HeaderFieldStart =>
            if (ch == '\r') state = HeadersAlmostDone
            else if (ch == '\n') { state = HeadersAlmostDone; redo = true }
            else {
              val c = if (ch < 256) Tokens(ch) else 0.toChar
              if (c == 0) dead = true // HPE_INVALID_HEADER_TOKEN
              else {
                fieldMark = p
                index = 0
                state = HeaderField
                headerState = c match {
                  case 'c' => H.C
                  case 'p' => H.MatchingProxyConnection
                  case 't' => H.MatchingTransferEncoding
                  case 'u' => H.MatchingUpgrade
                  case _   => H.General
                }
              }
            }
          case HeaderField =>
            val c = if (ch < 256) Tokens(ch) else 0.toChar
            if (c != 0) {
              headerState match {
                case H.General => ()
                case H.C =>
                  index += 1
                  headerState = if (c == 'o') H.CO else H.General
                case H.CO =>
                  index += 1
                  headerState = if (c == 'n') H.CON else H.General
                case H.CON =>
                  index += 1
                  headerState = c match {
                    case 'n' => H.MatchingConnection
                    case 't' => H.MatchingContentLength
                    case _   => H.General
                  }
                case H.MatchingConnection =>
                  index += 1
                  val t = "connection"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1) headerState = H.Connection
                case H.MatchingProxyConnection =>
                  index += 1
                  val t = "proxy-connection"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1) headerState = H.Connection
                case H.MatchingContentLength =>
                  index += 1
                  val t = "content-length"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1)
                    headerState = H.ContentLength
                case H.MatchingTransferEncoding =>
                  index += 1
                  val t = "transfer-encoding"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1)
                    headerState = H.TransferEncoding
                case H.MatchingUpgrade =>
                  index += 1
                  val t = "upgrade"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1) headerState = H.Upgrade
                case H.Connection | H.ContentLength | H.TransferEncoding |
                    H.Upgrade =>
                  if (ch != ' ') headerState = H.General
                case _ => ()
              }
            } else if (ch == ':') { state = HeaderValueStart; cbField(p) }
            else if (ch == '\r') { state = HeaderAlmostDone; cbField(p) }
            else if (ch == '\n') { state = HeaderFieldStart; cbField(p) }
            else { // ALW MOLOCH: assume missing colon
              state = HeaderValueStart; cbField(p)
            }
          case HeaderValueStart =>
            if (ch != ' ' && ch != '\t') {
              valueMark = p
              state = HeaderValue
              index = 0
              if (ch == '\r') {
                headerState = H.General
                state = HeaderAlmostDone
                cbValue(p)
              } else if (ch == '\n') {
                state = HeaderFieldStart
                cbValue(p)
              } else {
                val c = (ch | 0x20).toChar
                headerState match {
                  case H.Upgrade =>
                    flags |= FUpgrade; headerState = H.General
                  case H.TransferEncoding =>
                    headerState =
                      if (c == 'c') H.MatchingTEChunked else H.General
                  case H.ContentLength =>
                    if (!isNum(ch)) dead = true // HPE_INVALID_CONTENT_LENGTH
                    else contentLength = (ch - '0').toLong
                  case H.Connection =>
                    headerState =
                      if (c == 'k') H.MatchingKeepAlive
                      else if (c == 'c') H.MatchingClose
                      else H.General
                  case _ => headerState = H.General
                }
              }
            }
          case HeaderValue =>
            if (ch == '\r') { state = HeaderAlmostDone; cbValue(p) }
            else if (ch == '\n') {
              state = HeaderAlmostDone; cbValue(p); redo = true
            } else {
              val c = (ch | 0x20).toChar
              headerState match {
                case H.General => ()
                case H.ContentLength =>
                  if (ch == ' ') ()
                  else if (!isNum(ch)) dead = true
                  else {
                    // uint64 overflow → HPE_INVALID_CONTENT_LENGTH
                    // (http_parser.c:1460-1469: t < old || t == ULLONG_MAX)
                    val t = contentLength * 10 + (ch - '0')
                    if (java.lang.Long.compareUnsigned(t, contentLength) < 0
                      || t == -1L) dead = true
                    else contentLength = t
                  }
                case H.MatchingTEChunked =>
                  index += 1
                  val t = "chunked"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1) headerState = H.TEChunked
                case H.MatchingKeepAlive =>
                  index += 1
                  val t = "keep-alive"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1) headerState = H.KeepAlive
                case H.MatchingClose =>
                  index += 1
                  val t = "close"
                  if (index >= t.length || c != t.charAt(index))
                    headerState = H.General
                  else if (index == t.length - 1) headerState = H.Close
                case H.TEChunked | H.KeepAlive | H.Close =>
                  if (ch != ' ') headerState = H.General
                case _ => headerState = H.General
              }
            }
          case HeaderAlmostDone =>
            // non-strict: the LF check is a no-op — ANY byte advances
            state = HeaderValueLws
            if (headerState == H.TEChunked) flags |= FChunked
          case HeaderValueLws =>
            if (ch == ' ' || ch == '\t') state = HeaderValueStart
            else { state = HeaderFieldStart; redo = true }
          case HeadersAlmostDone =>
            // non-strict LF check no-op
            if ((flags & FTrailing) != 0) {
              // end of a chunked message (trailers done)
              state = StartReqOrRes // NEW_MESSAGE(), non-strict
              ev.messageComplete(p + 1)
            } else {
              // moloch's on_headers_complete always returns 0: no
              // F_SKIPBODY (http.c:700); upgrade set for F_UPGRADE or
              // CONNECT (http_parser.c:1576-1577)
              val up = (flags & FUpgrade) != 0 || method == 5
              state = HeadersDone
              // parser->method and parser->status_code both PERSIST
              // across a direction's messages; the callback layer keys
              // ONLY on status_code == 0 (http.c:557-564), so a
              // response whose status parses to literally 0 records
              // the persisted method (initially 0 = DELETE) + verReq —
              // mutation-fuzz pinned
              ev.headersComplete(statusCode, method,
                httpMajor, httpMinor, up, isResponseMsg, p + 1)
              redo = true
            }
          case HeadersDone =>
            nread = 0 // http_parser.c:1609
            // upgrade = F_UPGRADE || method == HTTP_CONNECT
            // (http_parser.c:1571-1572) — method PERSISTS, so a response
            // in a direction that earlier parsed CONNECT upgrades too
            if ((flags & FUpgrade) != 0 || method == 5) {
              // upgrade/CONNECT: execute returns (p-data)+1 with state
              // already NEW_MESSAGE (http_parser.c:1610-1615), and
              // moloch's driver loop re-invokes execute on the remaining
              // bytes with no upgrade gate (http.c:726-740) — so
              // pipelined HTTP after an Upgrade-header message keeps
              // parsing, while tunnel bytes error out at StartReqOrRes
              // exactly like the reference (direction fields kept).
              ev.messageComplete(p + 1)
              state = StartReqOrRes
            } else if ((flags & FChunked) != 0) state = ChunkSizeStart
            else if (contentLength == 0L) {
              state = StartReqOrRes
              ev.messageComplete(p + 1)
            } else if (contentLength != -1L) state = BodyIdentity
            else if (!isResponseMsg || !needsEof()) {
              state = StartReqOrRes
              ev.messageComplete(p + 1)
            } else state = BodyIdentityEof
          case BodyIdentity =>
            // MIN is uint64 in the reference — a Content-Length ≥ 2^63
            // (legal past the overflow check) must clamp to the
            // remaining bytes, not win a signed comparison
            val rem = (data.length - p).toLong
            val toRead =
              (if (java.lang.Long.compareUnsigned(contentLength, rem) < 0)
                contentLength
              else rem).toInt
            bodyMark = p
            contentLength -= toRead
            p += toRead - 1
            if (contentLength == 0L) {
              cbBody(p + 1)
              state = MessageDone
              redo = true
            }
          case BodyIdentityEof =>
            bodyMark = p
            p = data.length - 1
          case MessageDone =>
            state = StartReqOrRes
            ev.messageComplete(p + 1)
          case ChunkSizeStart =>
            val v = Character.digit(ch, 16)
            if (v == -1) dead = true // HPE_INVALID_CHUNK_SIZE
            else { contentLength = v.toLong; state = ChunkSize }
          case ChunkSize =>
            if (ch == '\r') state = ChunkSizeAlmostDone
            else {
              val v = Character.digit(ch, 16)
              if (v == -1) {
                if (ch == ';' || ch == ' ') state = ChunkParameters
                else dead = true
              } else {
                // uint64 overflow → HPE_INVALID_CONTENT_LENGTH
                // (http_parser.c:1733-1744)
                val t = contentLength * 16 + v
                if (java.lang.Long.compareUnsigned(t, contentLength) < 0 ||
                  t == -1L) dead = true
                else contentLength = t
              }
            }
          case ChunkParameters =>
            if (ch == '\r') state = ChunkSizeAlmostDone
          case ChunkSizeAlmostDone =>
            // non-strict LF no-op
            nread = 0 // http_parser.c:1765
            if (contentLength == 0L) {
              flags |= FTrailing
              state = HeaderFieldStart
            } else state = ChunkData
          case ChunkData =>
            // uint64 MIN, as in BodyIdentity (chunk sizes ≥ 2^63 parse)
            val rem = (data.length - p).toLong
            val toRead =
              (if (java.lang.Long.compareUnsigned(contentLength, rem) < 0)
                contentLength
              else rem).toInt
            bodyMark = p
            contentLength -= toRead
            p += toRead - 1
            if (contentLength == 0L) state = ChunkDataAlmostDone
          case ChunkDataAlmostDone =>
            // non-strict CR no-op
            state = ChunkDataDone
            cbBody(p)
          case ChunkDataDone =>
            // non-strict LF no-op
            nread = 0 // http_parser.c:1810
            state = ChunkSizeStart
          case _ => dead = true
        }
      }
      p += 1
    }
    if (!dead) {
      // leftover marks fire NOADVANCE callbacks (http_parser.c:1838-1846)
      cbField(data.length)
      cbValue(data.length)
      cbUrl(data.length)
      cbBody(data.length)
      // the EOF call (http_save → execute(parser, 0, 0)) completes only
      // an EOF-framed body
      if (state == BodyIdentityEof) ev.messageComplete(data.length)
    }
  }

  /** parse_url_char, non-strict (http_parser.c:420-530, with the second
    * "ALW MOLOCH" patch: a schema char that isn't alpha/':' falls back
    * to path instead of dying).
    */
  private def parseUrlChar(s: Int, ch: Int): Int = {
    import S._
    if (ch == ' ' || ch == '\r' || ch == '\n') return Dead
    s match {
      case ReqSpacesBeforeUrl =>
        if (ch == '/' || ch == '*') ReqPath
        else if (isAlpha(ch)) ReqSchema
        else Dead
      case ReqSchema =>
        if (isAlpha(ch)) s
        else if (ch == ':') ReqSchemaSlash
        else ReqPath // ALW MOLOCH: assume a path, bad client
      case ReqSchemaSlash => if (ch == '/') ReqSchemaSlashSlash else Dead
      case ReqSchemaSlashSlash => if (ch == '/') ReqServerStart else Dead
      case ReqServerWithAt if ch == '@' => Dead
      case ReqServerWithAt | ReqServerStart | ReqServer =>
        if (ch == '/') ReqPath
        else if (ch == '?') ReqQueryStringStart
        else if (ch == '@') ReqServerWithAt
        else if (isUserinfoChar(ch) || ch == '[' || ch == ']') ReqServer
        else Dead
      case ReqPath =>
        if (isUrlChar(ch)) s
        else if (ch == '?') ReqQueryStringStart
        else if (ch == '#') ReqFragmentStart
        else Dead
      case ReqQueryStringStart | ReqQueryString =>
        if (isUrlChar(ch) || ch == '?') ReqQueryString
        else if (ch == '#') ReqFragmentStart
        else Dead
      case ReqFragmentStart =>
        if (isUrlChar(ch) || ch == '?') ReqFragment
        else if (ch == '#') s
        else Dead
      case ReqFragment =>
        if (isUrlChar(ch) || ch == '?' || ch == '#') s
        else Dead
      case _ => Dead
    }
  }

  // -----------------------------------------------------------------
  // Framing collector (display/body endpoints)
  // -----------------------------------------------------------------

  private[etl] final case class Msg(
      isResponse: Boolean, method: String, status: Int, url: String,
      headers: Seq[(String, String)], body: Array[Byte],
      complete: Boolean, start: Int, bodyOff: Int)

  private final class Framing extends Events {
    private val out = Seq.newBuilder[Msg]
    private var start = 0
    private var bodyOff = 0
    private var headersDone = false
    private var status = 0
    private var methodIdx = -1
    private val urlB = new StringBuilder
    private val hdrs = Seq.newBuilder[(String, String)]
    private var name = new StringBuilder
    private var value = new StringBuilder
    private var inVal = false
    private val bodyB = new java.io.ByteArrayOutputStream()
    private var begun = false

    private def flushHdr(): Unit =
      if (inVal) {
        hdrs += ((name.toString, value.toString))
        name = new StringBuilder; value = new StringBuilder; inVal = false
      }
    private def flushMsg(complete: Boolean, endOff: Int): Unit =
      if (begun && headersDone) {
        flushHdr()
        out += Msg(status != 0 || methodIdx < 0,
          if (methodIdx >= 0) MethodStrings(methodIdx) else "",
          status, urlB.toString, hdrs.result(), bodyB.toByteArray,
          complete, start, bodyOff)
        begun = false
      }
    override def messageBegin(off: Int): Unit = {
      flushMsg(complete = false, off) // a new begin implies the previous completed upstream
      begun = true; headersDone = false
      start = off; bodyOff = off
      status = 0; methodIdx = -1
      urlB.setLength(0); hdrs.clear(); bodyB.reset()
      name = new StringBuilder; value = new StringBuilder; inVal = false
    }
    override def url(d: Array[Byte], f: Int, u: Int): Unit =
      urlB.append(new String(d, f, u - f, StandardCharsets.ISO_8859_1))
    override def headerField(d: Array[Byte], f: Int, u: Int): Unit = {
      flushHdr()
      name.append(new String(d, f, u - f, StandardCharsets.ISO_8859_1))
    }
    override def headerValue(d: Array[Byte], f: Int, u: Int): Unit = {
      inVal = true
      value.append(new String(d, f, u - f, StandardCharsets.ISO_8859_1))
    }
    override def headersComplete(st: Int, m: Int, ma: Int, mi: Int,
        up: Boolean, isResp: Boolean, off: Int): Unit = {
      headersDone = true; status = st
      methodIdx = if (isResp) -1 else m
      bodyOff = off
    }
    override def body(d: Array[Byte], f: Int, u: Int): Unit =
      bodyB.write(d, f, u - f)
    override def messageComplete(endOff: Int): Unit =
      flushMsg(complete = true, endOff)
    def result(streamLen: Int): Seq[Msg] = {
      flushMsg(complete = false, streamLen) // truncated tail message
      out.result()
    }
  }

  private[etl] def frame(stream: Array[Byte]): Seq[Msg] = {
    val f = new Framing
    walk(stream, f)
    f.result(stream.length)
  }

  private def md5hex(b: Array[Byte]): String =
    Hex.hex(java.security.MessageDigest.getInstance("MD5").digest(b))

  private def sha256hex(b: Array[Byte]): String =
    Hex.hex(java.security.MessageDigest.getInstance("SHA-256").digest(b))

  /** Strictly-valid UTF-8 text or None (g_utf8_validate gate). */
  private def utf8OrNone(b: Array[Byte]): Option[String] =
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      Some(dec.decode(java.nio.ByteBuffer.wrap(b)).toString)
    } catch { case _: java.nio.charset.CharacterCodingException => None }

  /** Complete message bodies with display names, for the body-download
    * endpoints (viewer/decode.js:319-601 naming): a `filename=` /
    * `name=` on the message's content-disposition/content-type wins,
    * else the owning request URI's last `/?=`-separated component
    * (decode.js:547), else `http<n>`. Bodies are de-chunked but NOT
    * content-decoded — exactly the bytes ITEM-HASH digests
    * (decode.js:766-773). The nth non-interim response pairs with the
    * nth request for URI naming.
    */
  def namedBodies(clientStream: Array[Byte],
      serverStream: Array[Byte]): Seq[(String, Array[Byte])] = {
    val cMsgs = frame(clientStream)
    val reqs = cMsgs.filter(!_.isResponse)
    val resps0 = frame(serverStream).filter(_.isResponse)
    // response-only captures: responses on the CLIENT stream (the same
    // path parse() digests into httpMd5 — a stored hash must resolve
    // here too)
    val resps =
      if (reqs.nonEmpty) resps0
      else resps0 ++ cMsgs.filter(_.isResponse)
    def hdr(m: Msg, name: String): Option[String] =
      m.headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val nameRe = "(?i)(?:filename|name)\\s*=\\s*\"?([^\";]+)".r
    def headerName(m: Msg): Option[String] =
      Seq("Content-Disposition", "Content-Type").flatMap(hdr(m, _))
        .flatMap(v => nameRe.findFirstMatchIn(v).map(_.group(1).trim))
        .find(_.nonEmpty)
    def uriName(i: Int): Option[String] =
      reqs.lift(i).map(_.url)
        .flatMap(_.split("[/?=]").lastOption).filter(_.nonEmpty)
    val finalResps = resps.filter(r => r.status / 100 != 1)
    var n = 0
    val out = Seq.newBuilder[(String, Array[Byte])]
    def add(m: Msg, reqIdx: Int): Unit =
      if (m.complete && m.body.nonEmpty) {
        n += 1
        out += ((headerName(m).orElse(uriName(reqIdx)).getOrElse(s"http$n"),
          m.body))
      }
    reqs.zipWithIndex.foreach { case (m, i) => add(m, i) }
    finalResps.zipWithIndex.foreach { case (m, i) => add(m, i) }
    out.result()
  }

  /** ITEM-HTTP's display split (viewer/decode.js ItemHTTPStream): per
    * message, the raw header block (incl. separator bytes) at its
    * stream offset, then — when a framed body exists — the de-chunked
    * body at the body's offset. The Boolean flags body items. The walker
    * self-detects message types exactly like the HTTP_BOTH parsers it
    * mirrors, so either direction's stream goes in as is.
    */
  def displayItems(stream: Array[Byte]): Seq[(Long, Array[Byte], Boolean)] =
    frame(stream).flatMap { m =>
      val header = (m.start.toLong,
        java.util.Arrays.copyOfRange(stream, m.start,
          math.min(m.bodyOff, stream.length)), false)
      if (m.body.nonEmpty) Seq(header, (m.bodyOff.toLong, m.body, true))
      else Seq(header)
    }

  /** Request-target of each client-direction message, in order (names
    * the HTTP body items, decode.js onHeadersComplete).
    */
  def requestUris(stream: Array[Byte]): Seq[String] =
    frame(stream).filter(m => !m.isResponse && m.url.nonEmpty).map(_.url)

  /** Hex digests of a body as ITEM-HASH computes them. */
  def bodyDigests(b: Array[Byte]): (String, String) = (md5hex(b), sha256hex(b))

  // -----------------------------------------------------------------
  // Field collector (the moloch_hp_cb_* layer, http.c)
  // -----------------------------------------------------------------

  /** Session-level callback state shared by both directions, exactly
    * like HTTPInfo_t (urlString/hostString/cookieString/authString are
    * single GStrings; header[2][40] and the flag bitfields are
    * per-direction).
    */
  private final class FieldSession {
    import scala.collection.mutable.{ArrayBuffer, LinkedHashSet}
    val methodL = LinkedHashSet[String]()
    val statusL = LinkedHashSet[Int]()
    val verReq = LinkedHashSet[String]()
    val verRes = LinkedHashSet[String]()
    val reqHdrNames = LinkedHashSet[String]()
    val respHdrNames = LinkedHashSet[String]()
    val uas = LinkedHashSet[String]()
    val referers = LinkedHashSet[String]()
    val locations = LinkedHashSet[String]()
    val hosts = LinkedHashSet[String]()
    val uris = LinkedHashSet[String]()
    val paths = LinkedHashSet[String]()
    val keys = LinkedHashSet[String]()
    val vals = LinkedHashSet[String]()
    val cookieKeys = LinkedHashSet[String]()
    val cookieVals = LinkedHashSet[String]()
    val md5s = LinkedHashSet[String]()
    val sha256s = LinkedHashSet[String]()
    val reqBodies = LinkedHashSet[String]()
    val magics = LinkedHashSet[String]()
    val authTypes = LinkedHashSet[String]()
    val authUsers = LinkedHashSet[String]()
    val authRaw = LinkedHashSet[String]()
    val xff = LinkedHashSet[String]()
    val reqHdrField = LinkedHashSet[String]()
    val reqHdrValue = ArrayBuffer[String]()
    val respHdrField = LinkedHashSet[String]()
    val respHdrValue = ArrayBuffer[String]()
    var passwordInBody = false
    var sawMessage = false

    var urlString: StringBuilder = null
    var urlWhich = 0
    var hostString: StringBuilder = null
    var cookieString: StringBuilder = null
    var authString: StringBuilder = null
    var proxyAuthString: StringBuilder = null
  }

  // pos values (hstring->uw analogues)
  private final val PosNone = 0
  private final val PosUA = 1; private final val PosHost = 2
  private final val PosReferer = 3; private final val PosXFF = 4
  private final val PosAuth = 5; private final val PosReqAll = 6
  private final val PosLocation = 7; private final val PosRespAll = 8

  /** One direction of the callback layer. `which` 0 = the session src
    * stream, 1 = dst — header attribution keys off urlWhich exactly like
    * http.c (`http->which == http->urlWhich` → request tables).
    */
  private final class FieldDir(sess: FieldSession, which: Int)
      extends Events {
    private val headerBuf = new StringBuilder // char header[40]
    private var inHeader = false
    private var inValue = false
    private var inBody = false
    private var pos = PosNone
    private val valueString = new StringBuilder
    private val md5 = java.security.MessageDigest.getInstance("MD5")
    private val sha = java.security.MessageDigest.getInstance("SHA-256")
    // parser->method persists across messages (only request parses set
    // it); HTTP_DELETE == 0, so the promotions skip DELETE requests too
    private var methodNonzero = false

    override def messageBegin(off: Int): Unit = {
      inHeader = false; inValue = false; inBody = false
      md5.reset(); sha.reset()
    }

    override def methodResolved(methodIdx: Int): Unit =
      methodNonzero = methodIdx != 0

    override def url(d: Array[Byte], f: Int, u: Int): Unit = {
      val s = new String(d, f, u - f, StandardCharsets.ISO_8859_1)
      if (sess.urlString == null) {
        sess.urlString = new StringBuilder(s); sess.urlWhich = which
      } else sess.urlString.append(s)
    }

    override def headerField(d: Array[Byte], f: Int, u: Int): Unit = {
      if (inValue) {
        inValue = false
        headerBuf.setLength(0)
        if (pos != PosNone) addValue()
      }
      if (!inHeader) inHeader = true
      // memcpy into char[40] (http.c:464-470): truncate at 39
      val remaining = 40 - headerBuf.length
      if (remaining > 1) {
        val n = math.min(u - f, remaining - 1)
        headerBuf.append(new String(d, f, n, StandardCharsets.ISO_8859_1))
      }
    }

    override def headerValue(d: Array[Byte], f: Int, u: Int): Unit = {
      val s = new String(d, f, u - f, StandardCharsets.ISO_8859_1)
      if (!inValue) {
        inValue = true
        val lower = headerBuf.toString.toLowerCase(java.util.Locale.ROOT)
        // own-header LOOKUP and the name tags key on urlWhich
        // (http.c:475-479, 496-499); the catch-all *HeaderField adds key
        // on the RAW direction (http.c:484-492 checks which == 0/1)
        pos =
          if (which == sess.urlWhich) lower match {
            case "x-forwarded-for" => PosXFF
            case "user-agent"      => PosUA
            case "host"            => PosHost
            case "referer"         => PosReferer
            case "authorization"   => PosAuth
            case _                 => PosNone
          } else lower match {
            case "location" => PosLocation
            case _          => PosNone
          }
        if (pos == PosNone) {
          if (which == 0) { // parseHTTPHeaderRequestAll
            sess.reqHdrField += lower
            pos = PosReqAll
          } else { // parseHTTPHeaderResponseAll
            sess.respHdrField += lower
            pos = PosRespAll
          }
        }
        if (which == sess.urlWhich) sess.reqHdrNames += lower
        else sess.respHdrNames += lower
      }
      // request side (parser->method truthy, http.c:505-528)
      if (methodNonzero) {
        val name = headerBuf.toString
        if (name.equalsIgnoreCase("host")) {
          if (sess.hostString == null) sess.hostString = new StringBuilder(s)
          else sess.hostString.append(s)
        } else if (name.equalsIgnoreCase("cookie")) {
          if (sess.cookieString == null)
            sess.cookieString = new StringBuilder(s)
          else sess.cookieString.append(s)
        } else if (name.equalsIgnoreCase("authorization")) {
          if (sess.authString == null) sess.authString = new StringBuilder(s)
          else sess.authString.append(s)
        } else if (name.equalsIgnoreCase("proxy-authorization")) {
          if (sess.proxyAuthString == null)
            sess.proxyAuthString = new StringBuilder(s)
          else sess.proxyAuthString.append(s)
        }
      }
      if (pos != PosNone) valueString.append(s)
    }

    /** http_add_value (http.c:407-416) + http_common_add_header_value
      * (http.c:108-156): leading isspace stripped, then per-type add.
      */
    private def addValue(): Unit = {
      val raw = valueString.toString
      val v = raw.dropWhile(c => c == ' ' || c == '\t' || c == '\n' ||
        c == '\r' || c == 11.toChar || c == 12.toChar)
      // moloch_field_string_add has no emptiness gate: a valueless
      // header records an EMPTY string (socks5-reverse golden pins
      // "request-referer": ["", "http://…"])
      pos match {
        case PosUA      => sess.uas += v
        case PosReferer => sess.referers += v
        case PosLocation => sess.locations += v
        // host.http is a lotermfield — the observable value lowercases
        case PosHost => sess.hosts += v.toLowerCase(java.util.Locale.ROOT)
        case PosAuth => sess.authRaw += v
        case PosXFF =>
          v.split(",", -1).foreach(m => parseXffAddr(m.trim).foreach(sess.xff += _))
        case PosReqAll =>
          sess.reqHdrValue +=
            v.take(1024).toLowerCase(java.util.Locale.ROOT)
        case PosRespAll =>
          sess.respHdrValue +=
            v.take(1024).toLowerCase(java.util.Locale.ROOT)
        case _ => ()
      }
      valueString.setLength(0)
      pos = PosNone
    }

    override def headersComplete(status: Int, methodIdx: Int, major: Int,
        minor: Int, upgrade: Boolean, isResp: Boolean,
        bodyOff: Int): Unit = {
      sess.sawMessage = true
      val version = s"$major.$minor"
      // http.c keys ONLY on parser->status_code (http.c:557-564); both
      // status_code and method persist across a direction's messages,
      // so a 0-status response records the persisted method (initially
      // 0 = DELETE) and a request after a response in the same
      // direction records the stale statuscode
      if (status == 0) {
        sess.methodL += MethodStrings(methodIdx)
        sess.verReq += version
      } else {
        sess.statusL += status
        sess.verRes += version
      }
      if (inValue && pos != PosNone) addValue()
      headerBuf.setLength(0)
      if (sess.cookieString != null && sess.cookieString.nonEmpty) {
        parseCookie(sess.cookieString.toString)
        sess.cookieString.setLength(0)
      }
      if (sess.authString != null && sess.authString.nonEmpty) {
        parseAuthorization(sess.authString.toString)
        sess.authString.setLength(0)
      }
      if (sess.proxyAuthString != null && sess.proxyAuthString.nonEmpty) {
        parseAuthorization(sess.proxyAuthString.toString)
        sess.proxyAuthString.setLength(0)
      }
      if (sess.hostString != null)
        sess.hostString = new StringBuilder(
          sess.hostString.toString.toLowerCase(java.util.Locale.ROOT))
      // urlString/hostString assembly (http.c:604-667)
      if (sess.urlString != null && sess.hostString != null) {
        val url = sess.urlString.toString
        val hostS = sess.hostString.toString
        val colon = hostS.indexOf(':')
        sess.hosts += (if (colon >= 0) hostS.substring(0, colon) else hostS)
        parseUrlFields(url)
        val assembled =
          if (url.nonEmpty && url.charAt(0) != '/') {
            val idx = if (hostS.nonEmpty) url.indexOf(hostS) else -1
            if (idx >= 0 && idx <= 8) url else hostS + ";" + url
          } else hostS + url
        sess.uris += assembled.take(4096) // MAX_URL_LENGTH
        sess.urlString = null; sess.hostString = null
      } else if (sess.urlString != null) {
        // reference quirk: without a Host header the url is never
        // path-parsed (parse_url runs only in the host+url branch)
        sess.uris += sess.urlString.toString.take(4096)
        sess.urlString = null
      } else if (sess.hostString != null) {
        val hostS = sess.hostString.toString
        val colon = hostS.indexOf(':')
        sess.hosts += (if (colon >= 0) hostS.substring(0, colon) else hostS)
        sess.hostString = null
      }
    }

    override def body(d: Array[Byte], f: Int, u: Int): Unit = {
      if (!inBody) {
        inBody = true
        // first-chunk gates (http.c:296-320)
        val head = new String(d, f, math.min(u - f, 1 << 20),
          StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
        if (head.contains("password=") || head.contains("passwd=") ||
          head.contains("pass="))
          sess.passwordInBody = true
        Magic.detect(java.util.Arrays.copyOfRange(d, f, u))
          .foreach(sess.magics += _)
        val len = u - f
        if (which == sess.urlWhich && len <= 2000 && len > 0)
          utf8OrNone(java.util.Arrays.copyOfRange(d, f, u))
            .foreach(sess.reqBodies += _)
      }
      md5.update(d, f, u - f)
      sha.update(d, f, u - f)
    }

    override def messageComplete(endOff: Int): Unit =
      if (inBody) {
        sess.md5s += Hex.hex(md5.digest())
        sess.sha256s += Hex.hex(sha.digest())
      }

    /** moloch_http_parse_authorization (http.c:330-380): scheme token
      * lowered; basic → base64 user, digest → username="…".
      */
    private def parseAuthorization(str0: String): Unit = {
      val str = str0.dropWhile(c => c == ' ' || c == '\t' || c == '\n' ||
        c == '\r' || c == 11.toChar || c == 12.toChar)
      val space = str.indexOf(' ')
      if (space < 0) return
      sess.authTypes += str.substring(0, space).toLowerCase(java.util.Locale.ROOT)
      val rest = str.substring(space + 1)
      str.substring(0, space).toLowerCase(java.util.Locale.ROOT) match {
        case "basic" =>
          try {
            val dec = new String(
              java.util.Base64.getDecoder.decode(rest.trim),
              StandardCharsets.ISO_8859_1)
            val u = dec.takeWhile(_ != ':')
            if (u.nonEmpty) sess.authUsers += u
          } catch { case _: IllegalArgumentException => () }
        case "digest" =>
          "username=\"([^\"]*)\"".r.findFirstMatchIn(rest)
            .map(_.group(1)).filter(_.nonEmpty).foreach(sess.authUsers += _)
        case _ => ()
      }
    }

    /** http_common_parse_cookie: ';'-split, '='-split, trimmed. */
    private def parseCookie(s: String): Unit =
      s.split(";").foreach { c =>
        val i = c.indexOf('=')
        if (i > 0) {
          val k = c.substring(0, i).trim
          val v = c.substring(i + 1).trim
          if (k.nonEmpty) sess.cookieKeys += k
          if (v.nonEmpty) sess.cookieVals += v
        }
      }

    /** http_common_parse_url (http.c:198-245): path before '?', then
      * '&'/'=' walk with g_uri_unescape_segment per segment.
      */
    private def parseUrlFields(t: String): Unit = {
      val path = t.takeWhile(_ != '?')
      if (path.nonEmpty) sess.paths += path
      val qi = t.indexOf('?')
      if (qi < 0) return
      val q = t.substring(qi + 1)
      var isKey = true
      var start = 0
      def flush(endEx: Int): Unit =
        if (endEx > start) {
          val seg = unescape(q.substring(start, endEx))
          if (isKey) { if (seg.nonEmpty) sess.keys += seg }
          else if (seg.nonEmpty) sess.vals += seg
        }
      var i = 0
      while (i < q.length) {
        q.charAt(i) match {
          case '&' => flush(i); start = i + 1; isKey = true
          case '=' => flush(i); start = i + 1; isKey = false
          case _   =>
        }
        i += 1
      }
      if (!isKey) flush(q.length) // C flushes the tail only in value state
    }

    /** g_uri_unescape_segment transcription: invalid escapes (incl %00)
      * keep the raw text; '+' is NOT a space.
      */
    private def unescape(s: String): String = {
      if (s.indexOf('%') < 0) return s
      val out = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%') {
          if (i + 2 >= s.length) return s
          val hi = Character.digit(s.charAt(i + 1), 16)
          val lo = Character.digit(s.charAt(i + 2), 16)
          if (hi < 0 || lo < 0 || (hi == 0 && lo == 0)) return s
          out.append(((hi << 4) | lo).toChar)
          i += 3
        } else { out.append(c); i += 1 }
      }
      out.toString
    }
  }

  def parse(clientStream: Array[Byte], serverStream: Array[Byte]): Option[HttpInfo] = {
    val sess = new FieldSession
    walk(clientStream, new FieldDir(sess, 0))
    walk(serverStream, new FieldDir(sess, 1))
    if (!sess.sawMessage && sess.reqHdrNames.isEmpty &&
      sess.respHdrNames.isEmpty && sess.uris.isEmpty) return None
    def d[T](xs: Iterable[T]): Seq[T] = xs.toSeq.distinct
    Some(HttpInfo(
      method = d(sess.methodL),
      uri = d(sess.uris).filter(_.nonEmpty),
      host = d(sess.hosts),
      path = d(sess.paths),
      key = d(sess.keys),
      value = d(sess.vals),
      statuscode = d(sess.statusL),
      useragent = d(sess.uas),
      clientVersion = d(sess.verReq),
      serverVersion = d(sess.verRes),
      requestHeader = d(sess.reqHdrNames).sorted,
      responseHeader = d(sess.respHdrNames).sorted,
      referer = d(sess.referers),
      location = d(sess.locations),
      cookieKey = d(sess.cookieKeys),
      cookieValue = d(sess.cookieVals),
      md5 = d(sess.md5s),
      sha256 = d(sess.sha256s),
      requestBody = d(sess.reqBodies),
      authUser = d(sess.authUsers),
      bodyMagic = d(sess.magics),
      requestHeaderField = d(sess.reqHdrField).sorted,
      requestHeaderValue = sess.reqHdrValue.toSeq.filter(_.nonEmpty),
      responseHeaderField = d(sess.respHdrField).sorted,
      responseHeaderValue = sess.respHdrValue.toSeq.filter(_.nonEmpty),
      authType = d(sess.authTypes),
      authorization = d(sess.authRaw),
      passwordInBody = sess.passwordInBody,
      xffIp = d(sess.xff)))
  }

  /** One XFF list member → canonical address text. The reference parses
    * dotted members with inet_aton (field.c:832-847), which accepts
    * octal/hex octets and partial forms — "10.000.000.03" is 10.0.0.3 —
    * then renders back through the usual v4 writer.
    */
  private def parseXffAddr(s: String): Option[String] = {
    if (s.isEmpty) return None
    if (s.contains(".")) {
      val parts = s.split("\\.", -1)
      if (parts.isEmpty || parts.length > 4 || parts.exists(_.isEmpty))
        return None
      val nums = parts.map { t =>
        try {
          val v =
            if (t.length > 1 && (t.startsWith("0x") || t.startsWith("0X")))
              java.lang.Long.parseLong(t.substring(2), 16)
            else if (t.length > 1 && t.charAt(0) == '0')
              java.lang.Long.parseLong(t, 8)
            else java.lang.Long.parseLong(t)
          if (v < 0) return None else v
        } catch { case _: NumberFormatException => return None }
      }
      // inet_aton: the final part fills the remaining bytes
      val tailBytes = 4 - (nums.length - 1)
      if (nums.init.exists(_ > 255) ||
        nums.last >= (1L << (8 * tailBytes))) return None
      val all = nums.init ++ (tailBytes - 1 to 0 by -1)
        .map(i => (nums.last >> (8 * i)) & 0xff)
      Some(all.mkString("."))
    } else {
      try Option(graft.functions.IpUtil.toBytes(s))
        .map(graft.functions.IpUtil.canonical)
      catch { case _: Exception => None }
    }
  }

  /** Request headers with fields of their own: the three built-ins
    * http.c registers (1031-1033) plus the reference test config's
    * [headers-http-request] referer/authorization.
    */
  private[etl] val ReqOwnHeaders =
    Set("x-forwarded-for", "user-agent", "host", "referer", "authorization")

  /** [headers-http-response] in the test config: location only. */
  private[etl] val RespOwnHeaders = Set("location")
}
