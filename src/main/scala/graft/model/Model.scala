package graft.model

/**
 * Core data model of the engine — the "interleaved span document" shape
 * from BASELINE.json `input_hint`, plus the in-flight crawl types.
 *
 * Reference semantics (cited into /root/reference):
 *  - a kraaler `Page` (kraaler.go:157-170) flattens to one [[Doc]] row,
 *    every CrawlAction / console line / screenshot becoming one ordered
 *    [[Span]] (kind, text, media_ref, offset);
 *  - `CrawlAction` (kraaler.go:178-189) carries a parent pointer for the
 *    redirect chain — serialized here as `parent_idx` inside the span
 *    payload JSON (pointers don't survive a shuffle, indexes do);
 *  - the frontier entry mirrors `url_visits` (store/init.go:220-225) plus
 *    the scheduling keys the north rule demands (host bucket, depth,
 *    discovery time).
 */
object Model {

  /** One interleaved span. `text` is the JSON-rendered payload; `media_ref`
    * is the content-store path ('' if none); `offset` the ordinal within
    * the doc (kraaler orders actions by request arrival, worker.go:1026-1050,
    * console by seq, store/store.go:185). */
  case class Span(kind: String, text: String, media_ref: String, offset: Int)

  /** One crawled page = one row (input_hint table shape). */
  case class Doc(doc_id: String, spans: Seq[Span])

  /** Frontier / priority-queue entry (url_visits, store/init.go:220-225 +
    * north-rule scheduling keys). `last_visit` epoch-millis, 0 = unvisited. */
  case class FrontierEntry(
      url: String,
      host: String,
      host_bucket: Int,
      depth: Int,
      discovered_at: Long,
      last_visit: Long)

  // ---- In-flight fetch event types (CDP analogues, worker.go:658-868) ----

  /** network.requestWillBeSent analogue. `initiator_kind` ∈
    * user|parser|script|redirect|other (kraaler.go:145-155).
    * `redirect_resp` is CDP's redirectResponse: when this request is a
    * redirect hop, it carries the PARENT's response (real CDP often emits
    * no standalone responseReceived for the hop — the reference backfills
    * `parent.Response = sent.RedirectResponse`, worker.go:1043-1046). */
  case class ReqEvent(
      request_id: String,
      loader_id: String,
      url: String,
      method: String,
      headers: Map[String, String],
      post_data: String, // "" = none (nullable pointer in Go)
      initiator_kind: String,
      stack_func: String,
      stack_line: Int,
      stack_col: Int,
      ts: Double,
      redirect_resp: Option[RespEvent] = None)

  /** network.responseReceived analogue (kraaler.go:343-349). */
  case class RespEvent(
      request_id: String,
      status: Int,
      headers: Map[String, String],
      mime: String,
      protocol: String,
      // TLS details, empty strings when plain http (store/init.go:178-188)
      sec_protocol: String,
      sec_key_exchange: String,
      sec_issuer: String,
      sec_cipher: String,
      sec_san_list: Seq[String],
      sec_subject: String,
      sec_valid_from: Long,
      sec_valid_to: Long,
      ts: Double)

  /** loadingFailed analogue; kraaler keeps only the FIRST error per request
    * (worker.go:1061-1070). */
  case class ErrEvent(request_id: String, error: String, ts: Double)

  /** loadingFinished + Network.getResponseBody analogue (worker.go:796-801). */
  case class BodyEvent(request_id: String, body: Array[Byte])

  /** Runtime.consoleAPICalled, type=="log" only (worker.go:896-916). */
  case class ConsoleEvent(
      msg: String,
      line: Int,
      col: Int,
      func: String,
      url: String)

  /** Raw per-URL fetch outcome before correlation (a `Page` pre-assembly,
    * worker.go:604-653). Timestamps are deterministic virtual-clock seconds.
    * `screenshot_bytes` aligns 1:1 with `screenshots` — the PNG payloads a
    * real CDP fetcher captures (worker.go:945-995); the pipeline persists
    * them via [[graft.sources.FileStore]] and only the ref reaches spans. */
  case class FetchResult(
      url: String,
      requests: Seq[ReqEvent],
      responses: Seq[RespEvent],
      errors: Seq[ErrEvent],
      bodies: Seq[BodyEvent],
      console: Seq[ConsoleEvent],
      screenshots: Seq[String], // media refs
      navigate_ts: Double,
      loaded_ts: Double,
      terminated_ts: Double,
      screenshot_bytes: Seq[Array[Byte]] = Seq.empty)

  /** One correlated action (CrawlAction, kraaler.go:178-189).
    * `parent_idx` = index of parent action within the page (-1 = none). */
  case class Action(
      idx: Int,
      parent_idx: Int,
      request_id: String,
      url: String,
      method: String,
      initiator_kind: String,
      stack_func: String,
      stack_line: Int,
      stack_col: Int,
      req_headers: Map[String, String],
      post_data: String,
      status: Int, // 0 = no response
      resp_headers: Map[String, String],
      mime_browser: String,
      protocol: String,
      sec_protocol: String,
      sec_key_exchange: String,
      sec_issuer: String,
      sec_cipher: String,
      sec_san_list: Seq[String],
      sec_subject: String,
      sec_valid_from: Long,
      sec_valid_to: Long,
      error: String, // "" = none
      body_sha256: String,
      body_size: Long,
      mime_determined: String,
      body_text: String) // decoded body when text/*, else ""

  /** Fetch-stage output row = one docs-file row: the Doc plus the
    * scheduling metadata the frontier expansion needs (links, depth,
    * error). The round is the docs partition dir, not a column. */
  case class CrawlOut(
      doc_id: String,
      url: String,
      host: String,
      depth: Int,
      spans: Seq[Span],
      links: Seq[String],
      error: String,
      navigate_ts: Double,
      loaded_ts: Double,
      terminated_ts: Double)

  /** A fully correlated page, pre-Doc (kraaler `Page`, kraaler.go:157-170). */
  case class Session(
      doc_id: String,
      url: String,
      host: String,
      actions: Seq[Action],
      console: Seq[ConsoleEvent],
      screenshots: Seq[String],
      error: String,
      links: Seq[String],
      navigate_ts: Double,
      loaded_ts: Double,
      terminated_ts: Double,
      resolution_w: Int,
      resolution_h: Int)
}
