package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import graft.sources.{ConditionalPutCommitIO, DocumentSource, DocumentStore,
  EsDocumentStore, EtlPipeline, ExtractBookmark, HttpDocumentStore,
  JsonLinesStore, LocalEtagStore, ParquetStore, ParquetUpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine as a RUNNABLE, config-driven program — the reference's
  * CLI shape (MoDevETL runs as a settings.json-fed main: source
  * index, destination index, batch knobs; pyLibrary startup parses
  * the file and the loop runs). `graft.Main` takes one JSON config
  * path and executes the selected pipeline:
  *
  * {{{
  * spark-submit --class graft.Main graft.jar etl.json
  * }}}
  *
  * Config document:
  * {{{
  * {
  *   "mode": "closure",            // see below
  *   "source": {"type":"parquet","path":"/data/edges"},
  *   "wmCol": "modified_ts",
  *   "dest": {"type":"parquet","path":"/data/closure",
  *            "keyCols":["ancestor","descendant"],"versionCol":"rev"},
  *   "edgeStore": {...},           // closure-deletes mode only
  *   "bookmark": "/data/closure.wm"
  * }
  * }}}
  *
  * Modes (each one run of the batch loop; schedule externally):
  *  - `"closure"` — the reference's MAIN LOOP ([[EtlPipeline.run]]):
  *    extract edges since the bookmark, patch the stored transitive
  *    closure, push the delta keyed latest-wins, commit.
  *  - `"closure-deletes"` — the full CRUD loop
  *    ([[EtlPipeline.runWithDeletes]]); needs `edgeStore`.
  *  - `"replicate"` — push_to_es.py without the hierarchy step:
  *    incremental extract → keyed latest-wins push of the rows
  *    themselves. Rows must carry the dest's key/version columns.
  *  - `"sync"` — full reindex: the dest becomes exactly the source's
  *    current rows ([[DocumentStore.sync]]; no bookmark involved).
  *  - `"train-tokenizer"` — train a BPE tokenizer on a document
  *    source and persist it as a deployment artifact: `"source"` (any
  *    readable store spec), `"textCol"` (default `text`),
  *    `"numMerges"`, optional `"maxDictWords"` (default 200000), and
  *    `"modelPath"` — the trained (rank, left, right) merge table
  *    lands there via [[graft.sources.ModelStore.saveMerges]];
  *    later jobs load it and `bpe_tokenize` bit-identically.
  *  - `"query"` — the reference's ActiveData-style query endpoint as a
  *    runnable artifact: execute a jx JSON document (`"query"` inline
  *    or `"queryFile"` path) against any configured stores and emit
  *    the result. `"stores": {"<name>": <source spec>}` makes each
  *    store visible to the query's `from` by name (parquet | es |
  *    http | jsonl — the same seam as the ETL modes, credentials
  *    included); `"dir"` optionally points at a testdata-table
  *    directory as the fallback resolver. All jx formats pass
  *    through (`list`/`nested`/`table`/`cube`). Delivery: with
  *    `"output": {"type":"parquet"|"jsonl","path":...}` the result
  *    writes distributed (the 100 TB-result path) and the stdout
  *    line reports `rows` + `output`; without it the rows are
  *    returned ON stdout as `{"format","rows","data":[...]}` —
  *    a driver collect, hard-capped at `"maxReturn"` (default
  *    10000) so an unbounded result fails loudly instead of
  *    OOMing the driver. `"lenient": true` opts into jx
  *    missing-field semantics for reference queries verbatim.
  *  - `"query-stream"` — the same endpoint over an UNBOUNDED source:
  *    `"source"` must be a streaming spec (`parquet-stream` /
  *    `es-stream` / `http-stream`), `"checkpoint"` is required, and
  *    the jx document must have incremental semantics
  *    ([[graft.jx.JxCompiler.queryStream]]'s contract: stateless
  *    select/where passthrough, or aggregation grouped on an
  *    `"eventTime"` calendar bucket under a `"watermarkDelay"`
  *    watermark, default 10 minutes). Results land ONLY in the
  *    required `"output"` file sink (parquet | jsonl, append mode) —
  *    a stream has no bounded stdout delivery. `trigger` picks
  *    drain-and-exit (`availableNow`, default) or a live
  *    `processingTime=...` loop, exactly as the ETL stream modes.
  *  - `"closure-stream"` / `"closure-deletes-stream"` /
  *    `"replicate-stream"` — the same loops as Structured Streaming
  *    ([[EtlPipeline.runStream]] / [[runStreamWithDeletes]] /
  *    [[EtlPipeline.replicateStream]]): `source` must be a STREAMING spec
  *    (`parquet-stream` file source, or `es-stream` / `http-stream`
  *    over the DSv2 connectors), `checkpoint` is required, and
  *    `trigger` picks drain-and-exit (`"availableNow"`, the default —
  *    the scheduled-run shape) or a live `"processingTime=30s"` loop.
  *    (`sync-stream` is rejected by design: sync is a point-in-time
  *    snapshot + atomic cutover, and a stream has no snapshot
  *    boundary — see [[EtlPipeline.replicateStream]].)
  *
  * Top-level `"commitIO"` (optional) selects the parquet sink's
  * manifest-commit strategy: `"rename"` (default — atomic
  * overwrite-rename, correct on HDFS/POSIX) or `"conditional-local"`
  * (etag-conditioned puts via [[graft.sources.LocalEtagStore]]; the
  * seam an S3/GCS/ABFS [[graft.sources.ConditionalObjectStore]]
  * implementation plugs into).
  *
  * Store specs (`source` accepts any of these plus read-only types;
  * `dest`/`edgeStore` need a [[DocumentStore]]):
  *  - `{"type":"parquet","path":...,"keyCols":[...],"versionCol":...,
  *    "numBuckets":64}` — the engine-native bucketed sink (keyCols/
  *    versionCol optional for a plain source read).
  *  - `{"type":"es","base":"http://host:9200","alias":...,
  *    "keyCols":[...],"versionCol":...,"schema":"id BIGINT, ..."}` —
  *    a real Elasticsearch endpoint ([[EsDocumentStore]]).
  *  - `{"type":"http","base":...,"schema":...}` — the engine's own
  *    HTTP store protocol ([[HttpDocumentStore]]).
  *  - `{"type":"jsonl","path":...}` — NDJSON export, source-only.
  *
  * Prints one JSON result line (extracted/pushed/watermark, plus
  * deleted for the closure modes) on success; any failure exits
  * non-zero with the error on stderr — the exit code is the
  * scheduler's signal, same as the reference.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Main <config.json>")
    val cfg = mapper.readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0))),
        java.nio.charset.StandardCharsets.UTF_8))
    // engine-required settings only (util.configure) — no local-
    // harness tuning like the 4 MB scan split, which on a cluster
    // would drown TB-scale scans in task overhead. `sparkConf` in the
    // config passes arbitrary spark.* settings through (note: builder
    // configs override spark-submit --conf, so config-file wins).
    val builder = util.configure(SparkSession.builder()
      .master(opt(cfg, "master").getOrElse("local[*]")))
    val withConf = Option(cfg.get("sparkConf")).filter(_.isObject)
      .map { o =>
        o.properties().asScala.foldLeft(builder)((b, e) =>
          b.config(e.getKey, e.getValue.asText()))
      }.getOrElse(builder)
    val spark = withConf.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = run(spark, cfg)
    println(result)
    // a processingTime stream returns live from run(); the CLI owns it
    spark.streams.active.foreach(_.awaitTermination())
  }

  /** One pipeline run from a parsed config — the testable core of
    * [[main]]. Returns the JSON result line.
    */
  def run(spark: SparkSession, cfg: JsonNode): String = {
    // deployment-level manifest-commit strategy for the parquet sink
    // (top-level "commitIO"): "rename" (default — HDFS/POSIX atomic
    // overwrite-rename) or "conditional-local" (etag-conditioned puts
    // via the in-process LocalEtagStore; on a real object store, an
    // S3/GCS/ABFS ConditionalObjectStore plugs into the same seam).
    // Set before any store is touched — it is process-wide; an ABSENT
    // key restores the rename default (a long-lived JVM must not
    // silently inherit a previous run's strategy).
    ParquetUpsertSink.commitIO = opt(cfg, "commitIO") match {
      case None | Some("rename") => ParquetUpsertSink.RenameCommitIO
      case Some("conditional-local") => new ConditionalPutCommitIO(LocalEtagStore)
      case Some(other) => sys.error(
        s"unknown commitIO '$other' (rename | conditional-local)")
    }
    val mode = req(cfg, "mode")
    // lazy: the stream modes resolve their source via streamSourceOf
    def source = sourceOf(spark, cfg.get("source"))
    def dest = storeOf(cfg.get("dest"))
    def wmCol = req(cfg, "wmCol")
    def bookmark = req(cfg, "bookmark")
    mode match {
      case "closure" =>
        val r = EtlPipeline.run(spark, source.scan(spark), wmCol, dest, bookmark)
        resultJson(r.extracted, r.pushed, r.watermark, Some(r.deleted))
      case "closure-deletes" =>
        val edgeStore = storeOf(cfg.get("edgeStore"))
        val r = EtlPipeline.runWithDeletes(spark, source.scan(spark), wmCol,
          dest, edgeStore, bookmark)
        resultJson(r.extracted, r.pushed, r.watermark, Some(r.deleted))
      case "replicate" =>
        val e = ExtractBookmark.extractSince(source.scan(spark), wmCol, bookmark)
        // pinned: a live source can grow after the extract; an unpinned
        // plan would push rows beyond the counted set and the watermark
        val (batch, n) = util.pin(e.batch)
        if (n > 0) dest.push(batch)
        ExtractBookmark.commit(e, bookmark)
        resultJson(n, n, e.watermark)
      case "sync" =>
        // pinned: one read of the source, counted as the sync wrote it
        val (snapshot, n) = util.pin(source.scan(spark))
        dest.sync(snapshot)
        resultJson(n, n, None)
      case "closure-stream" =>
        val q = startStream(spark, cfg,
          edges => EtlPipeline.runStream(edges, dest))
        s"""{"stream":"closure","stopped":${!q.isActive}}"""
      case "closure-deletes-stream" =>
        val edgeStore = storeOf(cfg.get("edgeStore"))
        val q = startStream(spark, cfg,
          edges => EtlPipeline.runStreamWithDeletes(edges, dest, edgeStore))
        s"""{"stream":"closure-deletes","stopped":${!q.isActive}}"""
      case "replicate-stream" =>
        val q = startStream(spark, cfg,
          rows => EtlPipeline.replicateStream(rows, dest))
        s"""{"stream":"replicate","stopped":${!q.isActive}}"""
      case "train-tokenizer" =>
        // tokenizer training as a deployment step, not a bench harness:
        // one distributed word-count pass compresses the corpus to a
        // capped dict, the merge loop runs driver-side on that
        // model-sized dict (corpus-size-independent after the scan),
        // and the trained merges persist through ModelStore — any later
        // job scores with bpe_tokenize under the LOADED model,
        // bit-identical to the in-session one (MainSpec pins it).
        val docs = source.scan(spark)
        val textCol = opt(cfg, "textCol").getOrElse("text")
        val numMerges = req(cfg, "numMerges").toInt
        val maxDictWords = opt(cfg, "maxDictWords").map(_.toInt).getOrElse(200000)
        val modelPath = req(cfg, "modelPath")
        val dict = {
          import spark.implicits._
          graft.operators.Bpe.wordDict(docs, textCol, maxDictWords)
            .as[(String, Long)].collect().toSeq // model-sized by construction
        }
        val merges = graft.operators.Bpe.trainMerges(dict, numMerges)
        graft.sources.ModelStore.saveMerges(spark, modelPath, merges)
        s"""{"mode":"train-tokenizer","merges":${merges.length},""" +
          s""""dictWords":${dict.length},"model":${util.jsonString(modelPath)}}"""
      case "query" =>
        val qJson = queryJsonOf(cfg)
        // every named store is visible to the query's `from` — parquet,
        // es, http, jsonl, all through the same source seam as the ETL
        // modes (headers/credentials handling included)
        val named = Option(cfg.get("stores")).filter(_.isObject).map { o =>
          o.properties().asScala
            .map(e => e.getKey -> sourceOf(spark, e.getValue).scan(spark)).toMap
        }.getOrElse(Map.empty[String, DataFrame])
        val result = graft.jx.JxCompiler.queryOn(spark,
          opt(cfg, "dir").getOrElse(""), qJson, named,
          lenient = cfg.path("lenient").asBoolean(false))
        Option(cfg.get("output")).filter(_.isObject) match {
          case Some(out) =>
            // large results go to a distributed sink, never the driver
            val path = req(out, "path")
            val n = req(out, "type") match {
              case "parquet" =>
                result.write.mode("overwrite").parquet(path)
                spark.read.parquet(path).count() // footer-metadata count
              case "jsonl" =>
                result.write.mode("overwrite").json(path)
                spark.read.text(path).count() // line count, no re-parse
              case other => sys.error(
                s"unknown query output type '$other' (parquet | jsonl)")
            }
            s"""{"mode":"query","rows":$n,"output":${util.jsonString(path)}}"""
          case None =>
            // stdout is the ActiveData response shape: {"format","data"}.
            // It is a DRIVER COLLECT, so it is capped — a query result
            // beyond maxReturn must name an output sink instead of
            // silently truncating or OOMing the driver.
            val max = opt(cfg, "maxReturn").map(_.toInt).getOrElse(10000)
            val rows = result.limit(max + 1).toJSON.collect()
            require(rows.length <= max,
              s"query returned more than maxReturn=$max rows for stdout " +
                "delivery — set an 'output' sink (parquet | jsonl) for large results")
            val fmt = graft.jx.JxCompiler.parse(qJson).path("format").asText("list")
            s"""{"format":${util.jsonString(fmt)},"rows":${rows.length},"data":[${rows.mkString(",")}]}"""
        }
      case "query-stream" =>
        // the streaming half of the query endpoint: a jx document with
        // incremental semantics ([[graft.jx.JxCompiler.queryStream]]'s
        // contract — stateless select/where, or watermarked
        // event-time-bucketed aggregation) over a STREAMING source
        // spec, delivered to an append-only file sink. A stream has no
        // bounded stdout delivery, so the sink is REQUIRED — the
        // batch mode's maxReturn collect shape does not exist here.
        val qJson = queryJsonOf(cfg)
        val out = cfg.get("output")
        require(out != null && out.isObject,
          "query-stream requires an 'output' sink {type: parquet|jsonl, " +
            "path: ...} — a stream has no bounded stdout delivery")
        val path = req(out, "path")
        val fmt = req(out, "type") match {
          case "parquet" => "parquet"
          case "jsonl" => "json"
          case other => sys.error(
            s"unknown query-stream output type '$other' (parquet | jsonl)")
        }
        val eventTime = opt(cfg, "eventTime").getOrElse("")
        val delay = opt(cfg, "watermarkDelay").getOrElse("10 minutes")
        val q = startStream(spark, cfg, src =>
          graft.jx.JxCompiler.queryStream(src, qJson, eventTime, delay)
            .writeStream.format(fmt).option("path", path)
            .outputMode(opt(cfg, "outputMode").getOrElse("append")))
        s"""{"stream":"query","output":${util.jsonString(path)},"stopped":${!q.isActive}}"""
      case "sync-stream" => sys.error(
        "sync cannot be a stream: sync is a point-in-time snapshot made " +
          "live by one atomic cutover, and an unbounded stream has no " +
          "snapshot boundary — drain with replicate-stream, then run " +
          "batch 'sync' when a consistent snapshot is wanted")
      case other => sys.error(
        s"unknown mode '$other' (closure | closure-deletes | replicate | " +
          "sync | query | query-stream | train-tokenizer | closure-stream | " +
          "closure-deletes-stream | replicate-stream)")
    }
  }

  /** Wire a streaming source spec → the pipeline's DataStreamWriter →
    * a started query. `availableNow` (default) drains what exists and
    * returns after termination — the scheduled-run shape; a
    * `processingTime=...` trigger returns the LIVE query (the caller
    * owns its lifecycle — main() blocks on awaitTermination).
    */
  private def startStream(spark: SparkSession, cfg: JsonNode,
      pipe: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = req(cfg, "checkpoint")
    val trigger = opt(cfg, "trigger").getOrElse("availableNow")
    val src = streamSourceOf(spark, cfg.get("source"))
    val w = pipe(src).option("checkpointLocation", ckpt)
    trigger match {
      case "availableNow" =>
        val q = w.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      case t if t.startsWith("processingTime=") =>
        w.trigger(Trigger.ProcessingTime(t.stripPrefix("processingTime="))).start()
      case other => sys.error(
        s"unknown trigger '$other' (availableNow | processingTime=<interval>)")
    }
  }

  private def streamSourceOf(spark: SparkSession, spec: JsonNode): DataFrame = {
    require(spec != null, "missing streaming source spec")
    req(spec, "type") match {
      case "parquet-stream" =>
        val reader = spark.readStream
        val withSchema = opt(spec, "schema") match {
          case Some(ddl) => reader.schema(StructType.fromDDL(ddl))
          case None =>
            // file streams need a schema; derive it from the existing
            // files once, driver-side (configuration-time, not per batch)
            reader.schema(spark.read.parquet(req(spec, "path")).schema)
        }
        withSchema
          .option("maxFilesPerTrigger",
            opt(spec, "maxFilesPerTrigger").getOrElse("10"))
          .parquet(req(spec, "path"))
      case "es-stream" | "http-stream" =>
        val (format, schema, options) = connectorRead(spec, "index", "wmcol")
        spark.readStream.format(format).schema(schema).options(options).load()
      case other => sys.error(
        s"unknown streaming source type '$other' " +
          "(parquet-stream | es-stream | http-stream)")
    }
  }

  private def sourceOf(spark: SparkSession, spec: JsonNode): DocumentSource =
    req(spec, "type") match {
      case "jsonl" => JsonLinesStore(req(spec, "path"))
      case "parquet" if !spec.has("keyCols") =>
        // plain parquet dir read — no keyed-sink layout assumed
        new DocumentSource {
          override def scan(s: SparkSession): DataFrame =
            s.read.parquet(req(spec, "path"))
        }
      // a remote source reads through its DSv2 connector, the path
      // the stores read through too; with a declared watermark column
      // the extract's `wm > bookmark` predicate pushes down as a
      // server-side range inside the scroll — without one, every
      // incremental run would scroll the ENTIRE remote index
      case "es" | "http" =>
        val (format, schema, options) = connectorRead(spec, "alias", "wmCol")
        new DocumentSource {
          override def scan(s: SparkSession): DataFrame =
            s.read.format(format).schema(schema).options(options).load()
        }
      case _ => storeOf(spec)
    }

  private def storeOf(spec: JsonNode): DocumentStore = {
    require(spec != null, "missing store spec")
    req(spec, "type") match {
      case "parquet" =>
        ParquetStore(req(spec, "path"), strList(spec, "keyCols"),
          req(spec, "versionCol"),
          opt(spec, "numBuckets").map(_.toInt).getOrElse(64))
      case "es" =>
        EsDocumentStore(req(spec, "base"), req(spec, "alias"),
          strList(spec, "keyCols"), req(spec, "versionCol"),
          StructType.fromDDL(req(spec, "schema")),
          slices = opt(spec, "slices").map(_.toInt).getOrElse(8),
          pageSize = opt(spec, "pageSize").map(_.toInt).getOrElse(500),
          batchSize = opt(spec, "batchSize").map(_.toInt).getOrElse(500),
          headers = headersOf(spec),
          readMode = opt(spec, "readMode").getOrElse("scroll"))
      case "http" =>
        HttpDocumentStore(req(spec, "base"),
          StructType.fromDDL(req(spec, "schema")),
          slices = opt(spec, "slices").map(_.toInt).getOrElse(8),
          batchSize = opt(spec, "batchSize").map(_.toInt).getOrElse(500),
          headers = headersOf(spec))
      case other => sys.error(s"unknown store type '$other' (parquet | es | http)")
    }
  }

  /** `"headers": {"Authorization": "ApiKey ...", ...}` on an es/http
    * store spec — merged into every request the store makes. Values
    * are CREDENTIALS: parsed here and handed straight to the store,
    * never logged and never echoed in the result line or errors.
    */
  private def headersOf(spec: JsonNode): Map[String, String] =
    Option(spec.get("headers")).filter(_.isObject).map { o =>
      val out = Map.newBuilder[String, String]
      o.properties().asScala.foreach(e => out += (e.getKey -> e.getValue.asText()))
      out.result()
    }.getOrElse(Map.empty)

  /** An es/http source spec as a DSv2 connector read: format, schema
    * and options, the spec's headers folded into `header.<name>`
    * options so the connector carries them on every exchange. The
    * batch and stream specs name the index and watermark fields
    * differently (`alias`/`wmCol` vs `index`/`wmcol`); the watermark
    * is optional for a batch read.
    */
  private def connectorRead(spec: JsonNode, indexField: String,
      wmField: String): (String, StructType, Map[String, String]) = {
    val es = req(spec, "type").startsWith("es")
    val format =
      if (es) "graft.sources.es.EsStoreProvider"
      else "graft.sources.http.HttpStoreProvider"
    val options = Map("base" -> req(spec, "base"),
        "slices" -> opt(spec, "slices").getOrElse("8")) ++
      opt(spec, wmField).map("wmcol" -> _) ++
      (if (es) Map("index" -> req(spec, indexField),
        "pagesize" -> opt(spec, "pageSize").getOrElse("500"),
        "readmode" -> opt(spec, "readMode").getOrElse("scroll"))
      else Map.empty) ++
      graft.sources.Connector.headerOptions(headersOf(spec))
    (format, StructType.fromDDL(req(spec, "schema")), options)
  }

  /** The jx document for the query endpoints: inline `"query"` object
    * or a `"queryFile"` path.
    */
  private def queryJsonOf(cfg: JsonNode): String =
    if (cfg.hasNonNull("queryFile"))
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(req(cfg, "queryFile"))),
        java.nio.charset.StandardCharsets.UTF_8)
    else {
      require(cfg.hasNonNull("query"),
        "config missing 'query' (inline jx document) or 'queryFile'")
      cfg.get("query").toString
    }

  private def req(n: JsonNode, field: String): String = {
    require(n != null && n.hasNonNull(field), s"config missing '$field'")
    n.get(field).asText()
  }

  private def opt(n: JsonNode, field: String): Option[String] =
    if (n.hasNonNull(field)) Some(n.get(field).asText()) else None

  private def strList(n: JsonNode, field: String): Seq[String] = {
    require(n.hasNonNull(field), s"config missing '$field'")
    val a = n.get(field)
    (0 until a.size()).map(a.get(_).asText())
  }

  private def resultJson(extracted: Long, pushed: Long, wm: Option[Long],
      deleted: Option[Long] = None): String = {
    val del = deleted.fold("")(d => s""","deleted":$d""")
    s"""{"extracted":$extracted,"pushed":$pushed$del,"watermark":${wm.getOrElse("null")}}"""
  }
}
