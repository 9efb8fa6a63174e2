package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.HttpDocumentStore.request
import graft.sources.es.EsStoreProvider
import graft.util.jsonString
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** [[DocumentStore]] speaking the REAL Elasticsearch 7/8 REST wire
  * format — the reference's push_to_es.py talks to an actual ES
  * cluster, and this store lets a deployment point the whole pipeline
  * (EtlPipeline, sync/reindex, mappings) at one with only connection
  * config. Where [[HttpDocumentStore]] carries the engine's OWN
  * reduced protocol (still the right seam for non-ES HTTP stores and
  * the DSv2/streaming connector), this class emits and consumes ES's
  * actual request/response shapes:
  *
  *  - **Bulk upsert** — `POST /_bulk` (`Content-Type:
  *    application/x-ndjson`) with action-and-metadata lines:
  *    `{"index":{"_index":i,"_id":k,"version":v,"version_type":
  *    "external_gte"}}` + source line per doc. External versioning IS
  *    the engine's latest-wins contract: the server keeps the highest
  *    version per key, losers come back as per-item 409s — expected
  *    outcomes of redelivery, not errors. Any other non-2xx item
  *    status fails the task loudly (a partial bulk must never drop
  *    documents silently).
  *  - **Bulk delete** — same `_bulk` body with `delete` actions under
  *    the same external versioning: a stored doc is removed only when
  *    its version <= the delete's, redelivery idempotent. (Real ES
  *    remembers deleted-doc versions for `index.gc_deletes` — 60 s by
  *    default; a deployment relying on very-late stale upserts being
  *    rejected raises that setting, as the reference deployment did.)
  *  - **Sliced scroll scan** — `POST /{index}/_search?scroll=1m` with
  *    `{"slice":{"id":i,"max":n},"size":pageSize,"sort":["_doc"],
  *    "query":...}`, then `POST /_search/scroll` per page, `DELETE
  *    /_search/scroll` at exhaustion. Each Spark partition walks its
  *    own slice's cursor chain executor-side — the driver never sees
  *    a document, and the optional watermark bracket becomes a server-
  *    side `range` query inside the scroll.
  *  - **Zero-downtime reindex** — [[sync]] bulks the snapshot into a
  *    fresh physical index `{alias}-{epoch}` and cuts over with ONE
  *    atomic `POST /_aliases` `{"actions":[{"remove":...},{"add":...}]}`
  *    call: readers serve the old index until the swap, a crash before
  *    the swap leaves the live index untouched (the abandoned staging
  *    index is inert), and rerunning the sync is the recovery.
  *  - **Mappings** — `GET/PUT /{index}/_mapping`; [[ensureMapping]]
  *    is the reference's idempotent ensure-index step.
  *  - **Existence** — `HEAD /{index}` (404 = absent), matching how ES
  *    reports missing indices/aliases.
  *
  * Addressing model (the push_to_es.py deployment pattern): `alias`
  * is the STABLE name readers and writers use; physical indices are
  * `{alias}-{epoch}[-{uniq}]` generations behind it. The first push
  * creates generation 1 and the alias; [[sync]] rolls the generation
  * (and sweeps any orphaned generation a crashed earlier sync left
  * behind). Keys: the document `_id` is the `keyCols` values joined
  * with `":"` after percent-escaping `%`/`:` inside each value — an
  * INJECTIVE join, so distinct key tuples never share an `_id` (a raw
  * join would merge ("a:b","c") with ("a","b:c")); a NULL key fails
  * the task, since a document with no key has no identity under the
  * keyed-merge contract. `versionCol` must be a non-negative integral
  * (ES external versions are unsigned).
  *
  * Every scan, push and sync bulk is a read or write of the `graft-es`
  * connector ([[graft.sources.es.EsStoreProvider]]), and a keyed
  * delete encodes its `_id`/version with the same wire — one decoder
  * and one encoder for the store and the connector. `schema` fields
  * are the connector's five scalar types (LONG, INT, DOUBLE, STRING,
  * BOOLEAN), decoded with Spark's JSON-reader semantics (see
  * [[graft.sources.ConnectorProvider]]).
  *
  * `headers` are merged into EVERY request the store makes (scroll,
  * bulk, mapping, alias, watermark, existence) — the auth seam:
  * `Authorization: ApiKey ...` / basic auth / any custom header a
  * fronting proxy needs. Values are credentials: they ride each
  * request and are never logged or echoed in errors. TLS: an
  * `https://` base goes through the JVM's standard JSSE stack — a
  * cluster with a private CA is deployment config
  * (`-Djavax.net.ssl.trustStore=...`), not code.
  *
  * Reference: MoDevETL push_to_es.py (bulk index with external
  * versioning, ensure-mapping, batch push); extract.py (scroll read).
  */
final case class EsDocumentStore(base: String, alias: String,
    keyCols: Seq[String], versionCol: String, schema: StructType,
    slices: Int = 8, pageSize: Int = 500, batchSize: Int = 500,
    headers: Map[String, String] = Map.empty,
    readMode: String = "scroll")
    extends DocumentStore {
  require(readMode == "scroll" || readMode == "pit",
    s"readMode must be scroll|pit, got '$readMode'")

  import EsDocumentStore._

  /** The connector options this store reads and writes `index` through. */
  private def options(index: String): Map[String, String] =
    Map("base" -> base, "index" -> index, "keycols" -> keyCols.mkString(","),
      "versioncol" -> versionCol, "slices" -> slices.toString,
      "pagesize" -> pageSize.toString, "batchsize" -> batchSize.toString,
      "readmode" -> readMode) ++ Connector.headerOptions(headers)

  override def scan(spark: SparkSession): DataFrame =
    scanSince(spark, None, None)

  /** Scan with an optional server-side watermark bracket on `wmField`
    * (since < wm <= until) — the range-query-inside-scroll that keeps
    * an incremental extract's filter on the server: the bracket is a
    * filter the connector pushes into the scroll body.
    */
  def scanSince(spark: SparkSession, wmField: Option[String],
      since: Option[Long], until: Option[Long] = None): DataFrame = {
    val all = Connector.read(spark, provider, schema,
      options(alias) ++ wmField.map("wmcol" -> _))
    wmField.toSeq.flatMap(f => since.map(col(f) > _) ++ until.map(col(f) <= _))
      .foldLeft(all)(_ where _)
  }

  override def push(updates: DataFrame): Unit =
    Connector.write(updates, provider, options(alias))

  override def delete(keys: DataFrame): Unit =
    Connector.delete(keys, provider, options(alias))

  override def sync(snapshot: DataFrame): Unit = {
    // GC first: a crash in an EARLIER sync between cutover and delete
    // (or a failed post-cutover DELETE) leaves orphan generations that
    // nothing else ever removes — every sync starts by sweeping
    // generation-shaped indices not currently behind the alias
    sweepStaleGenerations()
    // uniquified staging name: millis alone can collide when two
    // syncs race within one tick — the second PUT would 400 and both
    // would then bulk into ONE staging index
    val staging = s"$alias-${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    // carry the live generation's EXPLICIT mapping onto the staging
    // index — without this every reindex silently downgrades pinned
    // field types to whatever dynamic mapping the bulk infers, and
    // ensureMapping never notices (the dynamic mapping is non-empty)
    val createBody = getMapping match {
      case Some(m) => s"""{"mappings":$m}"""
      case None => "{}"
    }
    request("PUT", s"$base/$staging", createBody, headers ++ jsonHeaders)
    Connector.write(snapshot, provider, options(staging))
    // atomic cutover: one _aliases call removes EVERY index currently
    // behind the alias (an earlier partial failure can leave more
    // than one) and adds the staging one — readers never see a
    // half-synced store, and a crash before this line leaves the old
    // generation live (the abandoned staging index is inert and the
    // next sync's sweep collects it)
    val old = resolveAliasAll()
    val actions =
      old.map(o => s"""{"remove":{"index":${jsonString(o)},"alias":${jsonString(alias)}}}""") :+
        s"""{"add":{"index":"$staging","alias":${jsonString(alias)}}}"""
    request("POST", s"$base/_aliases",
      s"""{"actions":[${actions.mkString(",")}]}""", headers ++ jsonHeaders)
    // best-effort: a failure here is NOT a sync failure (the cutover
    // already happened); the orphan is collected by the next sweep
    old.foreach(o =>
      try { request("DELETE", s"$base/$o", "", headers); () }
      catch { case _: Exception => () })
  }

  /** Generation-shaped names this store may own — EXACTLY the shapes
    * this code creates: `{alias}-{n}` (ensureIndex's gen-1 / legacy
    * epoch numbers, <=12 digits) or `{alias}-{millis13+}[-{hex8}]`
    * (sync staging). NEVER a sibling store whose alias merely starts
    * with ours: alias `docs-2`'s gen-1 index `docs-2-1` must not
    * match `docs`'s pattern, so a short numeric epoch may NOT carry a
    * uniquifier suffix (only millis-shaped ones do — `docs-2-1`
    * parses as epoch "2" + suffix "1" under a laxer pattern and
    * would be DELETED).
    */
  private val generationName = java.util.regex.Pattern.compile(
    java.util.regex.Pattern.quote(alias) + "-(\\d{1,12}|(\\d{13,})(-[0-9a-f]{8})?)")

  /** How old a millis-named generation must be before the sweep may
    * collect it — a CONCURRENT sync's in-flight staging index matches
    * the generation pattern and is not yet behind the alias; deleting
    * it mid-bulk would destroy that sync (the very race the staging
    * uniquifier exists to survive). One hour is far beyond any bulk's
    * lifetime and far below the next scheduled run.
    */
  private[sources] val sweepMinAgeMs: Long = 60L * 60 * 1000

  private def sweepStaleGenerations(): Unit = {
    val live = resolveAliasAll().toSet
    val now = System.currentTimeMillis()
    listIndices(s"$alias-*")
      .filter { n =>
        val m = generationName.matcher(n)
        m.matches() && !live.contains(n) &&
          // group 2 = the millis epoch when millis-shaped; absent for
          // gen-1 style names, which are created ALIASED (atomic PUT
          // with alias) and so are only ever unaliased after cutover
          Option(m.group(2)).forall(ms => now - ms.toLong > sweepMinAgeMs)
      }
      .foreach(o =>
        try { request("DELETE", s"$base/$o", "", headers); () }
        catch { case _: Exception => () })
  }

  /** Concrete index names matching an ES wildcard expression — `GET
    * /{expr}` returns one field per matching index (empty object when
    * none match).
    */
  private def listIndices(expr: String): Seq[String] =
    try topLevelNames(request("GET", s"$base/$expr", "", headers))
    catch { case _: Exception => Seq.empty }

  override def exists(spark: SparkSession): Boolean =
    headOk(s"$base/$alias", headers)

  /** PUT the index mapping (creating generation 1 if absent) — the
    * reference's put-mapping-before-push step, driver-side.
    */
  def putMapping(mapping: String): Unit = {
    ensureIndex()
    request("PUT", s"$base/$alias/_mapping", mapping, headers ++ jsonHeaders); ()
  }

  /** The stored mapping, or None when the index doesn't exist or has
    * an empty mapping. ES replies `{"<index>":{"mappings":{...}}}`;
    * this returns the inner mappings document.
    */
  def getMapping: Option[String] =
    if (!headOk(s"$base/$alias", headers)) None
    else {
      val body = request("GET", s"$base/$alias/_mapping", "", headers)
      val root = mapper.readTree(body)
      val inner = root.elements()
      if (!inner.hasNext) None
      else Option(inner.next().get("mappings"))
        .filter(m => m.fieldNames().hasNext)
        .map(_.toString)
    }

  /** Idempotent create-if-absent (never overwrites a live mapping —
    * remapping a live index is a deliberate [[putMapping]]).
    */
  def ensureMapping(mapping: String): Boolean =
    getMapping match {
      case Some(_) => false
      case None => putMapping(mapping); true
    }

  /** Max value of `field` over the store (empty → None) via a
    * server-side max aggregation — the watermark poll.
    */
  def maxWatermark(field: String): Option[Long] =
    EsDocumentStore.maxWatermarkAt(base, alias, field, headers)

  private def ensureIndex(): Unit =
    EsDocumentStore.ensureIndexAt(base, alias, headers)

  /** ALL concrete indices behind the alias — more than one is an
    * abnormal-but-possible state (a partial alias edit by an earlier
    * failed cutover); resolving only the first would leave the rest
    * permanently glued to the alias.
    */
  private def resolveAliasAll(): Seq[String] = {
    if (!headOk(s"$base/$alias", headers)) return Seq.empty
    topLevelNames(request("GET", s"$base/_alias/$alias", "", headers))
  }
}

object EsDocumentStore {
  private val provider = new EsStoreProvider
  private val mapper = new ObjectMapper()
  /** Appended after the configured headers (`headers ++ jsonHeaders`):
    * an auth map must not be able to break a request's content type. */
  private val jsonHeaders = Map("Content-Type" -> "application/json")

  /** Top-level field names of a JSON object body — the shape of both
    * `GET /_alias/{a}` and wildcard index listings. */
  private def topLevelNames(body: String): Seq[String] = {
    val names = mapper.readTree(body).fieldNames()
    val out = Seq.newBuilder[String]
    while (names.hasNext) out += names.next()
    out.result()
  }

  /** Static watermark poll (max aggregation) — shared by the store's
    * instance method and the DSv2 streaming source's latestOffset.
    */
  private[sources] def maxWatermarkAt(base: String, index: String,
      field: String, headers: Map[String, String] = Map.empty): Option[Long] = {
    if (!headOk(s"$base/$index", headers)) return None
    val body = request("POST", s"$base/$index/_search",
      s"""{"size":0,"aggs":{"wm":{"max":{"field":${jsonString(field)}}}}}""",
      headers ++ jsonHeaders)
    Option(mapper.readTree(body).at("/aggregations/wm/value"))
      .filter(v => v.isNumber).map(_.asLong())
  }

  /** Create generation 1 + the alias if the alias resolves to nothing
    * (idempotent; shared by the store and the DSv2 write path). */
  private[sources] def ensureIndexAt(base: String, alias: String,
      headers: Map[String, String]): Unit =
    if (!headOk(s"$base/$alias", headers)) {
      request("PUT", s"$base/$alias-1",
        s"""{"aliases":{${jsonString(alias)}:{}}}""",
        headers ++ jsonHeaders)
      ()
    }

  private[sources] def actionLine(action: String, index: String, id: String,
      version: Long): String = {
    require(version >= 0, s"ES external versions are unsigned; got $version")
    s"""{"$action":{"_index":${jsonString(index)},"_id":${jsonString(id)},""" +
      s""""version":$version,"version_type":"external_gte"}}"""
  }

  /** How long a PER-ITEM transient rejection (429/503 inside an HTTP
    * 200 bulk response — ES's thread-pool pushback shape) is worth
    * retrying before the task dies. Retries resend ONLY the rejected
    * action lines: external versioning makes the resend idempotent,
    * and re-posting the already-accepted items would just burn server
    * write capacity during the very overload the 429 signals.
    */
  private val bulkItemAttempts = 4
  private val bulkItemBackoffMs = 200L

  /** Post `entries` (complete NDJSON action units: an action line,
    * plus its source line for index actions) as one bulk, retrying
    * the transiently-rejected subset with exponential backoff. A
    * permanent per-item failure (e.g. 400 mapper_parsing) throws
    * IMMEDIATELY — a bad document stays bad, and delaying the real
    * error behind backoff helps nobody. Items still 429ing after the
    * attempts fail the task loudly; Spark's coarse retry takes over
    * (idempotent under external versioning).
    */
  private[sources] def bulkWithRetry(base: String,
      headers: Map[String, String], entries: IndexedSeq[String]): Unit = {
    var pending = entries
    var attempt = 1
    while (pending.nonEmpty) {
      val resp = request("POST", s"$base/_bulk", pending.mkString("", "\n", "\n"),
        headers ++ Map("Content-Type" -> "application/x-ndjson"))
      val retry = retryableItems(resp)
      if (retry.isEmpty) return
      if (attempt >= bulkItemAttempts)
        sys.error(s"bulk: ${retry.size} items still transiently rejected " +
          s"(429/503) after $bulkItemAttempts attempts")
      Thread.sleep(bulkItemBackoffMs << (attempt - 1)) // 200/400/800 ms
      pending = retry.map(pending).toIndexedSeq
      attempt += 1
    }
  }

  /** Walk one ES bulk response and return the ORDINALS of items worth
    * retrying. `errors:false` is wholesale success; otherwise per-item
    * statuses decide — 2xx ok, 409 is a version conflict (the
    * latest-wins LOSER under external versioning: an expected outcome
    * of redelivery/stale events, exactly like the parquet sink's
    * dedupLatest dropping the older row), 404 on a delete is a
    * missing key (contractual no-op), and 429/503 is the server's
    * per-item pushback (es_rejected_execution under load) — TRANSIENT,
    * returned for [[bulkWithRetry]]'s backoff loop. Anything else is a
    * real per-document failure and throws immediately — Spark retries
    * the task, and the bulk is idempotent under external versioning.
    */
  private[sources] def retryableItems(body: String): Seq[Int] = {
    val root = mapper.readTree(body)
    if (!root.path("errors").asBoolean(false)) return Seq.empty
    val retry = Seq.newBuilder[Int]
    val it = root.path("items").elements()
    var i = 0
    while (it.hasNext) {
      val item: JsonNode = it.next()
      val op = item.elements().next() // {"index":{...}} or {"delete":{...}}
      val status = op.path("status").asInt(200)
      val isDelete = item.has("delete")
      val ok = (status >= 200 && status < 300) || status == 409 ||
        (isDelete && status == 404)
      if (!ok) {
        if (status == 429 || status == 503) retry += i
        else sys.error(s"bulk item failed: status=$status ${op.path("error")}")
      }
      i += 1
    }
    retry.result()
  }


  /** Existence probe: ONLY 404 means absent. Any other non-200 —
    * including transient 5xx/429 — retries and then fails LOUDLY: an
    * exists() that silently answered false on a server hiccup would
    * make the pipeline treat a populated store as empty (an
    * edge-state scan skipped mid-CRUD-batch loses closure deletes
    * permanently — the exact class of bug the crash-matrix work
    * exists to prevent).
    */
  private def headOk(url: String,
      headers: Map[String, String] = Map.empty): Boolean =
    HttpDocumentStore.exchange("HEAD", url, "", headers, absentOk = true)(_ => ())
      .isDefined

  /** Best-effort release of a server-side scroll context — scroll
    * contexts pin index segments until their keepalive expires, and a
    * default cluster caps them (max_open_scroll_context=500), so an
    * early-terminated read must free its context instead of leaking
    * it for the keepalive window.
    */
  private[sources] def releaseScroll(base: String, scrollId: String,
      headers: Map[String, String] = Map.empty): Unit =
    try {
      request("DELETE", s"$base/_search/scroll",
        s"""{"scroll_id":[${jsonString(scrollId)}]}""", headers ++ jsonHeaders); ()
    } catch { case _: Exception => () }

  /** Best-effort release of a point-in-time context (the PIT analogue
    * of [[releaseScroll]]).
    */
  private[sources] def releasePit(base: String, pitId: String,
      headers: Map[String, String] = Map.empty): Unit =
    try {
      request("DELETE", s"$base/_point_in_time",
        s"""{"id":${jsonString(pitId)}}""", headers ++ jsonHeaders); ()
    } catch { case _: Exception => () }

  /** The body fields both slice walks share: the slice, the page size
    * and the query — the watermark bracket as a `range` (since < wm <=
    * until) when there is one, else `match_all`.
    */
  private def sliceSearch(slice: Int, slices: Int, pageSize: Int,
      wmField: Option[String], since: Option[Long], until: Option[Long]): String = {
    val bounds = since.map(v => s""""gt":$v""").toSeq ++ until.map(v => s""""lte":$v""")
    val query = wmField.filter(_ => bounds.nonEmpty).fold("""{"match_all":{}}""")(f =>
      s"""{"range":{${jsonString(f)}:{${bounds.mkString(",")}}}}""")
    val sliceClause =
      if (slices > 1) s""""slice":{"id":$slice,"max":$slices},""" else ""
    s"""$sliceClause"size":$pageSize,"query":$query"""
  }

  /** Lazy page walk of one slice via ES 8's PIT + `search_after` —
    * the API Elastic recommends over scroll for deep pagination
    * (scroll contexts are heavyweight server state; a PIT is a cheap
    * shared snapshot and the cursor lives CLIENT-side as the last
    * hit's sort values). Semantics match [[scrollSlice]]: consistent
    * snapshot, slice-per-partition, optional server-side watermark
    * range. Sorting is `_shard_doc` (the PIT-native tiebreak);
    * `search_after` carries the previous page's last sort values
    * verbatim, so the walk is stateless on the server between pages.
    * `onPitId` lets a caller with a close() hook release the PIT on
    * early termination.
    */
  private[sources] def pitSlice(base: String, index: String, slice: Int,
      slices: Int, pageSize: Int, wmField: Option[String],
      since: Option[Long], until: Option[Long],
      onPitId: String => Unit = _ => (),
      headers: Map[String, String] = Map.empty): Iterator[String] = {
    val pitId = Option(mapper.readTree(
      request("POST", s"$base/$index/_pit?keep_alive=1m", "",
        headers ++ jsonHeaders)).get("id")).map(_.asText())
      .getOrElse(sys.error(s"PIT open on $index returned no id"))
    onPitId(pitId)
    val search = sliceSearch(slice, slices, pageSize, wmField, since, until)
    // state: Some(None) = first page, Some(Some(sortJson)) = continue
    // after those sort values, None = exhausted
    Iterator.unfold(Some(None): Option[Option[String]]) {
      case None => None
      case Some(after) =>
        val afterClause = after.fold("")(a => s""","search_after":$a""")
        val body = request("POST", s"$base/_search",
          s"""{$search,"pit":{"id":${jsonString(pitId)},"keep_alive":"1m"},""" +
            s""""sort":[{"_shard_doc":"asc"}]$afterClause}""",
          headers ++ jsonHeaders)
        val root = mapper.readTree(body)
        val hits = root.at("/hits/hits")
        if (hits.size() == 0) {
          releasePit(base, pitId, headers)
          Some((Seq.empty[String], None))
        } else {
          val docs = (0 until hits.size()).map(i => hits.get(i).get("_source").toString)
          val lastSort = hits.get(hits.size() - 1).get("sort").toString
          Some((docs, Some(Some(lastSort))))
        }
    }.flatten
  }

  /** Lazy page walk of one scroll slice — executor-side; each `next`
    * fetches at most one page (a downstream `limit` stops early), and
    * the scroll context is released at exhaustion. `onScrollId` fires
    * on every server-assigned scroll id so a caller with a close()
    * hook (the DSv2 reader) can [[releaseScroll]] when it stops
    * early — the iterator itself only reaches its cleanup when fully
    * consumed.
    */
  private[sources] def scrollSlice(base: String, index: String, slice: Int,
      slices: Int, pageSize: Int, wmField: Option[String],
      since: Option[Long], until: Option[Long],
      onScrollId: String => Unit = _ => (),
      headers: Map[String, String] = Map.empty): Iterator[String] = {
    val search = sliceSearch(slice, slices, pageSize, wmField, since, until)
    val first = s"""{$search,"sort":["_doc"]}"""

    // state: Some(None) = initial search, Some(Some(id)) = continue
    // scroll id, None = exhausted
    Iterator.unfold(Some(None): Option[Option[String]]) {
      case None => None
      case Some(cursor) =>
        val body = cursor match {
          case None => request("POST",
            s"$base/$index/_search?scroll=1m", first, headers ++ jsonHeaders)
          case Some(id) => request("POST", s"$base/_search/scroll",
            s"""{"scroll":"1m","scroll_id":${jsonString(id)}}""",
            headers ++ jsonHeaders)
        }
        val root = mapper.readTree(body)
        val scrollId = Option(root.get("_scroll_id")).map(_.asText())
        scrollId.foreach(onScrollId)
        val hits = root.at("/hits/hits")
        val docs = (0 until hits.size()).map(i => hits.get(i).get("_source").toString)
        if (docs.isEmpty) {
          scrollId.foreach(releaseScroll(base, _, headers))
          Some((Seq.empty[String], None))
        } else Some((docs, scrollId.map(id => Some(id))))
    }.flatten
  }
}
