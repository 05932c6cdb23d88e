package graft.fetch

import graft.functions.UrlFns
import graft.model.Model._

/**
 * Event correlation — the reference's central join, `ActionsFromEvents`
 * (/root/reference/worker.go:1022-1094), plus Page→Doc span flattening.
 *
 * Correlation is PER PAGE: all events of a page live in one row's arrays,
 * so at scale this runs inside the fetch `mapPartitions` with ZERO shuffle
 * (the "join" never crosses rows — a deliberate Spark-first design choice;
 * a DataFrame-join formulation of the same semantics is exposed through
 * SparkEntry queries for the oracle).
 *
 * Semantics mirrored exactly (each mapped to its reference loop):
 *  - requests processed in arrival order (worker.go:1026-1050);
 *  - `data:` scheme skipped (worker.go:1032-1034);
 *  - a request whose loader_id matches a PRIOR request_id parents onto that
 *    action AND backfills the parent's response with this request's
 *    redirectResponse — real CDP often emits no standalone responseReceived
 *    for a redirect hop (worker.go:1043-1046);
 *  - response events then OVERWRITE any backfill, last event wins
 *    (worker.go:1052-1059); FIRST error only (1061-1070); last body wins
 *    (1072-1079);
 *  - initiator classification (worker.go:1081-1091): parent WITH a response
 *    of status 300-399 → `redirect`; parent with a non-3xx response → the
 *    event's own kind; parent with NO response, or no parent → `user`.
 */
object Correlate {

  /** "text/"-prefixed bodies only — the reference's default store allowlist
    * (store/store.go:36-38). */
  def mimeAllowed(mime: String): Boolean =
    mime != null && mime.startsWith("text/")

  def actionsFromEvents(fr: FetchResult): Seq[Action] = {
    val reqs = fr.requests.sortBy(_.ts) // arrival order; ts is the virtual clock
      .filter(r => !r.url.startsWith("data:")) // worker.go:1032-1034

    // pass 1 (requests loop, worker.go:1026-1050): indices, parent links,
    // redirectResponse backfill into the parent slot
    val ridToIdx = new java.util.HashMap[String, Int]()
    val parentIdx = new Array[Int](reqs.length)
    val resp = new Array[RespEvent](reqs.length)
    reqs.zipWithIndex.foreach { case (req, idx) =>
      val p =
        if (req.loader_id.nonEmpty && ridToIdx.containsKey(req.loader_id) &&
          req.loader_id != req.request_id) ridToIdx.get(req.loader_id)
        else -1
      parentIdx(idx) = p
      if (p >= 0) resp(p) = req.redirect_resp.orNull // even when None (Go sets nil)
      ridToIdx.put(req.request_id, idx)
    }

    // pass 2 (responses loop, worker.go:1052-1059): events overwrite, last wins
    fr.responses.foreach { r =>
      val idx = ridToIdx.getOrDefault(r.request_id, -1)
      if (idx >= 0) resp(idx) = r
    }
    val errByRid = new java.util.HashMap[String, ErrEvent]()
    fr.errors.foreach(e => errByRid.putIfAbsent(e.request_id, e)) // FIRST error
    val bodyByRid = new java.util.HashMap[String, BodyEvent]()
    fr.bodies.foreach(b => bodyByRid.put(b.request_id, b)) // last body

    // pass 3 (classification loop, worker.go:1081-1091) + assembly
    reqs.zipWithIndex.map { case (req, idx) =>
      val p = parentIdx(idx)
      val r = resp(idx)
      val err = errByRid.get(req.request_id)
      val body = bodyByRid.get(req.request_id)

      val parentResp = if (p >= 0) resp(p) else null
      val initiator =
        if (p >= 0 && parentResp != null) {
          if (parentResp.status >= 300 && parentResp.status < 400) "redirect"
          else req.initiator_kind
        } else "user" // no parent, OR parent without a response

      val (sha, size, mimeDet, bodyText) =
        if (body == null) ("", 0L, "", "")
        else {
          val det = UrlFns.sniffMime(body.body)
          val text =
            if (det.startsWith("text/"))
              new String(body.body, java.nio.charset.StandardCharsets.UTF_8)
            else ""
          (UrlFns.sha256Hex(body.body), body.body.length.toLong, det, text)
        }

      Action(
        idx = idx,
        parent_idx = p,
        request_id = req.request_id,
        url = req.url,
        method = req.method,
        initiator_kind = initiator,
        stack_func = req.stack_func,
        stack_line = req.stack_line,
        stack_col = req.stack_col,
        req_headers = req.headers,
        post_data = req.post_data,
        status = if (r == null) 0 else r.status,
        resp_headers = if (r == null) Map.empty else r.headers,
        mime_browser = if (r == null) "" else r.mime,
        protocol = if (r == null) "" else r.protocol,
        sec_protocol = if (r == null) "" else r.sec_protocol,
        sec_key_exchange = if (r == null) "" else r.sec_key_exchange,
        sec_issuer = if (r == null) "" else r.sec_issuer,
        sec_cipher = if (r == null) "" else r.sec_cipher,
        sec_san_list = if (r == null) Seq.empty else r.sec_san_list,
        sec_subject = if (r == null) "" else r.sec_subject,
        sec_valid_from = if (r == null) 0L else r.sec_valid_from,
        sec_valid_to = if (r == null) 0L else r.sec_valid_to,
        error = if (err == null) "" else err.error,
        body_sha256 = sha,
        body_size = size,
        mime_determined = mimeDet,
        body_text = bodyText)
    }
  }

  /** Assemble a [[Session]]: page error = first action's error
    * (worker.go:640-642); links from the first body-bearing action
    * (tested semantics of worker.go:644-646 + parsing_test.go). */
  def sessionFromFetch(docId: String, fr: FetchResult): Session = {
    val actions = actionsFromEvents(fr)
    val err = actions.headOption.map(_.error).getOrElse("")
    val primaryBody = actions.find(a => a.body_text.nonEmpty)
    val links = primaryBody
      .map(a => Parsing.retrieveLinks(a.url, a.body_text))
      .getOrElse(Seq.empty)
    Session(
      doc_id = docId,
      url = fr.url,
      host = Option(UrlFns.hostOf(fr.url)).getOrElse(""),
      actions = actions,
      console = fr.console,
      screenshots = fr.screenshots,
      error = err,
      links = links,
      navigate_ts = fr.navigate_ts,
      loaded_ts = fr.loaded_ts,
      terminated_ts = fr.terminated_ts,
      resolution_w = 1366,
      resolution_h = 768)
  }

  /** Content-store path for an allowlisted body (content-addressed like
    * store/file.go:89-95: hash-prefixed dir). */
  def bodyRef(sha256: String, mime: String): String =
    if (sha256.nonEmpty && mimeAllowed(mime)) s"bodies/${sha256.substring(0, 2)}/$sha256"
    else ""

  /**
   * Flatten a Session to the interleaved-span Doc (input_hint shape).
   * Span order — the per-row invariant (kind, text, media_ref, order):
   * per action (request arrival order): request → response → body → error
   * spans; then console spans in seq order (store/store.go:185); then media
   * spans by taken order. All payloads render via [[Json]] with sorted keys.
   *
   * One-pass renderer: each span payload is appended into `sb` (reused
   * across rows by the fetch mapPartitions) and materialized exactly once,
   * instead of the combinator form's escape→concat→copy chain per nesting
   * level. Byte-identical to [[docFromSessionSpec]] — property-tested over
   * fixture, chain, and synth fetches plus adversarial escape inputs
   * (FetchCorrelateSpec "hot renderer ≡ combinator spec").
   */
  def docFromSession(s: Session): Doc =
    docFromSession(s, new java.lang.StringBuilder(4096))

  def docFromSession(s: Session, sb: java.lang.StringBuilder): Doc = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    def add(kind: String, mediaRef: String = ""): Unit = {
      spans += Span(kind, sb.toString, mediaRef, spans.length)
      sb.setLength(0)
    }
    sb.setLength(0)
    s.actions.foreach { a =>
      sb.append("{\"idx\":").append(a.idx.toLong)
      sb.append(",\"parent_idx\":").append(a.parent_idx.toLong)
      sb.append(",\"url\":"); Json.strTo(sb, a.url)
      sb.append(",\"method\":"); Json.strTo(sb, a.method)
      sb.append(",\"initiator\":{\"kind\":"); Json.strTo(sb, a.initiator_kind)
      sb.append(",\"func\":"); Json.strTo(sb, a.stack_func)
      sb.append(",\"line\":").append(a.stack_line.toLong)
      sb.append(",\"col\":").append(a.stack_col.toLong)
      sb.append("},\"headers\":"); Json.sortedMapTo(sb, a.req_headers)
      sb.append(",\"post_data\":"); Json.strTo(sb, a.post_data)
      sb.append('}')
      add("request")
      if (a.status > 0) {
        sb.append("{\"idx\":").append(a.idx.toLong)
        sb.append(",\"status\":").append(a.status.toLong)
        sb.append(",\"mime\":"); Json.strTo(sb, a.mime_browser)
        sb.append(",\"protocol\":"); Json.strTo(sb, a.protocol)
        sb.append(",\"headers\":"); Json.sortedMapTo(sb, a.resp_headers)
        if (a.sec_protocol.nonEmpty) {
          sb.append(",\"sec\":{\"protocol\":"); Json.strTo(sb, a.sec_protocol)
          sb.append(",\"key_exchange\":"); Json.strTo(sb, a.sec_key_exchange)
          sb.append(",\"issuer\":"); Json.strTo(sb, a.sec_issuer)
          sb.append(",\"cipher\":"); Json.strTo(sb, a.sec_cipher)
          sb.append(",\"san_list\":[")
          val it = a.sec_san_list.iterator
          var first = true
          while (it.hasNext) {
            if (!first) sb.append(',')
            first = false
            Json.strTo(sb, it.next())
          }
          sb.append("],\"subject\":"); Json.strTo(sb, a.sec_subject)
          sb.append(",\"valid_from\":").append(a.sec_valid_from)
          sb.append(",\"valid_to\":").append(a.sec_valid_to)
          sb.append('}')
        }
        sb.append('}')
        add("response")
      }
      if (a.body_sha256.nonEmpty) {
        sb.append("{\"idx\":").append(a.idx.toLong)
        sb.append(",\"sha256\":"); Json.strTo(sb, a.body_sha256)
        sb.append(",\"size\":").append(a.body_size)
        sb.append(",\"mime_browser\":"); Json.strTo(sb, a.mime_browser)
        sb.append(",\"mime_determined\":"); Json.strTo(sb, a.mime_determined)
        sb.append(",\"text\":"); Json.strTo(sb, a.body_text)
        sb.append('}')
        add("body", bodyRef(a.body_sha256, a.mime_determined))
      }
      if (a.error.nonEmpty) {
        sb.append("{\"idx\":").append(a.idx.toLong)
        sb.append(",\"error\":"); Json.strTo(sb, a.error)
        sb.append('}')
        add("error")
      }
    }
    var ci = 0
    s.console.foreach { c =>
      ci += 1
      sb.append("{\"seq\":").append(ci.toLong)
      sb.append(",\"msg\":"); Json.strTo(sb, c.msg)
      sb.append(",\"line\":").append(c.line.toLong)
      sb.append(",\"col\":").append(c.col.toLong)
      sb.append(",\"func\":"); Json.strTo(sb, c.func)
      sb.append(",\"url\":"); Json.strTo(sb, c.url)
      sb.append('}')
      add("console")
    }
    s.screenshots.foreach { ref =>
      sb.append("{\"kind\":\"png\",\"resolution\":\"")
        .append(s.resolution_w).append('x').append(s.resolution_h)
        .append("\"}")
      add("media", ref)
    }
    Doc(s.doc_id, spans.toSeq)
  }

  /** The combinator-form specification of [[docFromSession]] — retained
    * verbatim as the byte-level reference the hot renderer is
    * property-tested against (same pattern as the column-algebra
    * expression twins). */
  private[graft] def docFromSessionSpec(s: Session): Doc = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    def add(kind: String, text: String, mediaRef: String = ""): Unit =
      spans += Span(kind, text, mediaRef, spans.length)

    s.actions.foreach { a =>
      add("request", Json.obj(
        "idx" -> Json.num(a.idx.toLong),
        "parent_idx" -> Json.num(a.parent_idx.toLong),
        "url" -> Json.str(a.url),
        "method" -> Json.str(a.method),
        "initiator" -> Json.obj(
          "kind" -> Json.str(a.initiator_kind),
          "func" -> Json.str(a.stack_func),
          "line" -> Json.num(a.stack_line.toLong),
          "col" -> Json.num(a.stack_col.toLong)),
        "headers" -> Json.sortedMap(a.req_headers),
        "post_data" -> Json.str(a.post_data)))
      if (a.status > 0) {
        val secFields =
          if (a.sec_protocol.nonEmpty) Seq(
            "sec" -> Json.obj(
              "protocol" -> Json.str(a.sec_protocol),
              "key_exchange" -> Json.str(a.sec_key_exchange),
              "issuer" -> Json.str(a.sec_issuer),
              "cipher" -> Json.str(a.sec_cipher),
              "san_list" -> Json.arr(a.sec_san_list.map(Json.str)),
              "subject" -> Json.str(a.sec_subject),
              "valid_from" -> Json.num(a.sec_valid_from),
              "valid_to" -> Json.num(a.sec_valid_to)))
          else Seq.empty
        add("response", Json.obj(Seq(
          "idx" -> Json.num(a.idx.toLong),
          "status" -> Json.num(a.status.toLong),
          "mime" -> Json.str(a.mime_browser),
          "protocol" -> Json.str(a.protocol),
          "headers" -> Json.sortedMap(a.resp_headers)) ++ secFields: _*))
      }
      if (a.body_sha256.nonEmpty) {
        add("body", Json.obj(
          "idx" -> Json.num(a.idx.toLong),
          "sha256" -> Json.str(a.body_sha256),
          "size" -> Json.num(a.body_size),
          "mime_browser" -> Json.str(a.mime_browser),
          "mime_determined" -> Json.str(a.mime_determined),
          "text" -> Json.str(a.body_text)),
          bodyRef(a.body_sha256, a.mime_determined))
      }
      if (a.error.nonEmpty) {
        add("error", Json.obj(
          "idx" -> Json.num(a.idx.toLong),
          "error" -> Json.str(a.error)))
      }
    }
    s.console.zipWithIndex.foreach { case (c, i) =>
      add("console", Json.obj(
        "seq" -> Json.num((i + 1).toLong),
        "msg" -> Json.str(c.msg),
        "line" -> Json.num(c.line.toLong),
        "col" -> Json.num(c.col.toLong),
        "func" -> Json.str(c.func),
        "url" -> Json.str(c.url)))
    }
    s.screenshots.foreach { ref =>
      add("media", Json.obj(
        "kind" -> Json.str("png"),
        "resolution" -> Json.str(s"${s.resolution_w}x${s.resolution_h}")), ref)
    }
    Doc(s.doc_id, spans.toSeq)
  }
}
