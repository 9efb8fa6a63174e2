package graft.sources

import graft.sources.http.HttpStoreProvider
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** [[DocumentStore]] over an HTTP document API — the seam carrying a
  * NETWORK store (the reference fronts Elasticsearch; this is that
  * protocol shape reduced to what the pipeline contract needs).
  *
  * Protocol (NDJSON bodies throughout):
  *  - `GET  {base}/scan?slice=i&slices=n[&cursor=c][&since=v]` → one
  *    page of documents, `X-Next-Cursor` header present while more
  *    pages remain — ES's sliced scroll. Every executor slice walks
  *    its own cursor chain INDEPENDENTLY, so the scan is distributed:
  *    the driver never sees a document, and a 1000-executor cluster
  *    reads 1000 slices in parallel. `since`/`until` are the
  *    server-side watermark range filter (docs with since < wm <=
  *    until — ES's range query inside the scroll); the DSv2
  *    connector ([[graft.sources.http.HttpStoreProvider]]) pushes an
  *    extract's bookmark bracket down to `since`/`until`
  *    automatically, and its streaming source brackets each
  *    micro-batch with both.
  *  - `GET  {base}/wm` → the store's current MAX watermark (the
  *    streaming source's latestOffset poll); "none" when empty.
  *  - `POST {base}/bulk` — keyed bulk upsert, LATEST VERSION WINS per
  *    key on the server (ES external versioning); idempotent under
  *    redelivery, so at-least-once transports above the seam are
  *    safe. Every write task posts its rows in `batchSize` chunks —
  *    executor-side, never collected.
  *  - `POST {base}/delete` — keyed bulk delete (NDJSON key documents
  *    carrying the key and `rev`): the server removes a stored doc
  *    only when its revision is <= the delete's, and remembers the
  *    tombstone revision so a late redelivered OLDER upsert cannot
  *    resurrect it — ES external-versioning delete semantics.
  *  - `POST {base}/sync/begin` → epoch token; bulk pushes carry
  *    `X-Sync-Epoch`; `POST {base}/sync/commit` (epoch body) makes the
  *    store equal exactly what the epoch pushed — the reference's full
  *    reindex. Server contract for begin/commit under the client's
  *    transient-5xx retry: both must be IDEMPOTENT per epoch — begin
  *    returns a fresh epoch (a retried begin that reached the server
  *    merely abandons an empty staging index, harmless by the
  *    abandoned-epoch rule), and commit of an already-committed or
  *    unknown epoch must be a no-op success, never a second swap (the
  *    alias-swap analogy: swapping to the same index twice is
  *    idempotent). A server that cannot promise idempotent commit
  *    must return a permanent 4xx on the duplicate, which the client
  *    fails fast on. The epoch is a STAGING INDEX and commit is the ALIAS
  *    SWAP (ES's zero-downtime reindex): scans during an open epoch
  *    serve the live index untouched, the cutover is atomic at
  *    commit, and an abandoned epoch (crash before commit) leaves the
  *    live index exactly as it was — rerunning the sync is the
  *    recovery, no cleanup required.
  *  - `GET/PUT {base}/mapping` — index mapping/settings management
  *    (the reference's put-mapping-before-push step): PUT stores the
  *    mapping document, GET returns it (empty body when unset).
  *    [[ensureMapping]] is the idempotent create-if-absent wrapper a
  *    pipeline calls before its first push.
  *  - `GET  {base}/exists` → "true" | "false".
  *
  * Every scan, bulk and sync push is a read or write of the `graft-http`
  * connector ([[graft.sources.http.HttpStoreProvider]]), and a keyed
  * delete posts through the same wire's row encoder — one decoder and
  * one encoder for the store and the connector.
  *
  * `schema` is explicit: inferring it would force a driver-side read
  * of the first page, and a store's schema is configuration, not
  * data. Its fields are the connector's five scalar types (LONG, INT,
  * DOUBLE, STRING, BOOLEAN), decoded with Spark's JSON-reader
  * semantics (see [[graft.sources.ConnectorProvider]]); a line that
  * is not JSON fails the scan.
  */
final case class HttpDocumentStore(base: String, schema: StructType,
    slices: Int = 8, batchSize: Int = 500,
    headers: Map[String, String] = Map.empty) extends DocumentStore {
  import HttpDocumentStore._

  /** The connector options this store reads and writes through.
    * Configured auth/custom headers ride EVERY request this store
    * makes (scan page, bulk, delete, sync, mapping, exists); the
    * protocol's X-Sync-Epoch wins on collision so auth config can
    * never break the wire format. Values are credentials — never
    * logged, never echoed in errors.
    */
  private def options(hs: Map[String, String] = headers): Map[String, String] =
    Map("base" -> base, "slices" -> slices.toString,
      "batchsize" -> batchSize.toString) ++ Connector.headerOptions(hs)

  override def scan(spark: SparkSession): DataFrame =
    Connector.read(spark, provider, schema, options())

  override def push(updates: DataFrame): Unit =
    Connector.write(updates, provider, options())

  override def delete(keys: DataFrame): Unit =
    Connector.delete(keys, provider, options())

  override def sync(snapshot: DataFrame): Unit = {
    val epoch = request("POST", s"$base/sync/begin", "", headers)
    Connector.write(snapshot, provider, options(headers + ("X-Sync-Epoch" -> epoch)))
    request("POST", s"$base/sync/commit", epoch, headers)
  }

  override def exists(spark: SparkSession): Boolean =
    request("GET", s"$base/exists", "", headers) == "true"

  /** Store the index mapping/settings document (driver-side: a
    * mapping is configuration, pushed once, never data-sized).
    */
  def putMapping(mapping: String): Unit = {
    request("PUT", s"$base/mapping", mapping, headers); ()
  }

  /** The stored mapping, or None when the index has none yet. */
  def getMapping: Option[String] =
    Some(request("GET", s"$base/mapping", "", headers)).filter(_.nonEmpty)

  /** Idempotent create-if-absent: write the mapping only when none is
    * stored — the reference's ensure-index step before the first
    * push. Returns true when this call created it. Never OVERWRITES
    * an existing mapping (a silent remap of a live index is the
    * classic way to corrupt one); changing a mapping is a deliberate
    * [[putMapping]].
    */
  def ensureMapping(mapping: String): Boolean =
    getMapping match {
      case Some(_) => false
      case None => putMapping(mapping); true
    }
}

object HttpDocumentStore {
  private val provider = new HttpStoreProvider

  /** Bounded per-page retry with exponential backoff — the layer
    * BELOW Spark's task retry. Without it, a transient non-200 on
    * page k of a slice kills the task and Spark's retry restarts the
    * slice's whole cursor chain from page 0 — correct only if server
    * cursors are re-enterable from scratch, and O(pages) wasted work
    * either way. A page fetch and a versioned bulk POST are both
    * idempotent (GET; latest-wins per key), so retrying the SINGLE
    * failed exchange in place is always safe. After `attempts`
    * failures the exception propagates and Spark's coarse retry takes
    * over as designed.
    */
  private val retryAttempts = 4
  private val retryBackoffMs = 200L

  /** A non-200 response, typed so the retry loop can tell TRANSIENT
    * (5xx, 429 — server-side hiccups worth waiting out) from
    * PERMANENT (other 4xx — a bad request stays bad; retrying a
    * missing endpoint 4 times with 1.4 s of backoff just delays the
    * real error, and retrying a non-idempotent exchange on a 4xx the
    * server already rejected is actively wrong).
    */
  final case class HttpStatusException(code: Int, msg: String)
      extends RuntimeException(msg) {
    def transient: Boolean = code >= 500 || code == 429
  }

  private[graft] def withRetry[A](what: => String)(f: => A): A = {
    var attempt = 1
    while (true) {
      try return f
      catch {
        case e: HttpStatusException if !e.transient =>
          throw e // permanent 4xx: fail fast, no backoff
        case e @ (_: java.io.IOException | _: HttpStatusException) =>
          if (attempt >= retryAttempts)
            throw new java.io.IOException(
              s"${what}: failed after $retryAttempts attempts", e)
          Thread.sleep(retryBackoffMs << (attempt - 1)) // 200/400/800 ms
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** One HTTP exchange with per-exchange retry (see [[withRetry]]):
    * `read` of the 200 response alongside its body, or None on a 404
    * when `absentOk`. Any other non-200 that survives the retries
    * fails loudly — a partial bulk push must kill the task (Spark
    * retries it), never drop documents silently.
    */
  private[graft] def exchange[A](method: String, url: String, body: String,
      headers: Map[String, String], absentOk: Boolean = false)(
      read: java.net.HttpURLConnection => A): Option[(String, A)] =
    withRetry(s"$method $url") {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setRequestMethod(method)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        // any non-GET body must actually ship — ES's scroll/PIT release
        // are DELETEs WITH a JSON body, and a release whose body never
        // left the client silently leaks server contexts until their
        // keepalive (found by the PIT spec's pits-empty assertion)
        if (method == "POST" || method == "PUT" ||
            (body.nonEmpty && method != "GET")) {
          conn.setDoOutput(true)
          conn.getOutputStream.write(
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        conn.getResponseCode match {
          case 404 if absentOk => None
          case 200 => Some((new String(conn.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8), read(conn)))
          case code => throw HttpStatusException(code, s"$method $url -> HTTP $code")
        }
      } finally conn.disconnect()
    }

  /** One exchange's 200 body (see [[exchange]]). */
  private[graft] def request(method: String, url: String, body: String,
      headers: Map[String, String]): String =
    exchange(method, url, body, headers)(_ => ()).get._1
}
