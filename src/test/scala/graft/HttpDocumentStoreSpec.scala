package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.HttpDocumentStore
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** The HTTP DocumentStore against an in-process mock implementing the
  * scroll/bulk/sync protocol — proof the connector seam carries a
  * NETWORK store: sliced cursor-paged scans (genuinely partitioned),
  * executor-side batched bulk pushes with server-side latest-wins,
  * and epoch-commit full sync that deletes absent keys.
  */
class HttpDocumentStoreSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** Mock ES-shaped server: docs keyed by `id`, versioned by `rev`
    * (latest wins), page size 2 to force multi-page cursor chains.
    */
  private class MockServer(failEveryNth: Int = 0, wmField: String = "") {
    val docs = mutable.Map.empty[Long, (Long, String)] // id -> (rev, json)
    val sinceSeen = mutable.Buffer.empty[Long] // server-side range filters received
    val tombstones = mutable.Map.empty[Long, Long] // id -> delete rev
    // epoch = a STAGING INDEX; commit = the alias swap (scans keep
    // serving `docs` until then)
    val staged = mutable.Map.empty[Long, (Long, String)]
    var epoch: Option[String] = None
    var mapping: String = ""
    var pushed = false
    var scanRequests = 0
    var failures = 0
    // (path, Authorization header) for every served request — auth specs
    val authSeen = mutable.Buffer.empty[(String, Option[String])]
    private val lock = new Object

    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/scan", (x: HttpExchange) => lock.synchronized {
      scanRequests += 1
      // transient-failure injection: every Nth scan request 503s, so
      // the client's per-page retry (not Spark's whole-slice task
      // retry) must absorb it
      if (failEveryNth > 0 && scanRequests % failEveryNth == 0) {
        failures += 1
        x.sendResponseHeaders(503, -1); x.close()
      } else {
      val q = Option(x.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
      val (slice, slices) = (params("slice").toInt, params("slices").toInt)
      val cursor = params.get("cursor").map(_.toInt).getOrElse(0)
      val since = params.get("since").map(_.toLong)
      val until = params.get("until").map(_.toLong)
      since.foreach(sinceSeen += _)
      // server-side watermark range filter (the ES range-in-scroll)
      def wmOf(json: String): Long =
        Option(mapper.readTree(json).get(wmField)).map(_.asLong()).getOrElse(Long.MinValue)
      val mine = docs.toSeq.filter(_._1 % slices == slice)
        .filter { case (_, (_, json)) =>
          // a server without a configured wm field ignores the range
          // (the connector's residual filter still applies it)
          wmField.isEmpty ||
            ((since.isEmpty || wmOf(json) > since.get) &&
              (until.isEmpty || wmOf(json) <= until.get)) }
        .sortBy(_._1)
      val page = mine.slice(cursor, cursor + 2)
      if (cursor + 2 < mine.size)
        x.getResponseHeaders.set("X-Next-Cursor", (cursor + 2).toString)
      respond(x, page.map(_._2._2).mkString("\n"))
      }
    })
    server.createContext("/bulk", (x: HttpExchange) => lock.synchronized {
      pushed = true
      val inEpoch = Option(x.getRequestHeaders.getFirst("X-Sync-Epoch"))
      val target = if (inEpoch.isDefined && inEpoch == epoch) staged else docs
      new String(x.getRequestBody.readAllBytes(), UTF_8)
        .linesIterator.filter(_.nonEmpty).foreach { line =>
          val n = mapper.readTree(line)
          val (id, rev) = (n.get("id").asLong(), n.get("rev").asLong())
          if (!target.get(id).exists(_._1 >= rev) &&
              (target.ne(docs) || !tombstones.get(id).exists(_ >= rev)))
            target(id) = (rev, line)
        }
      respond(x, "ok")
    })
    server.createContext("/delete", (x: HttpExchange) => lock.synchronized {
      new String(x.getRequestBody.readAllBytes(), UTF_8)
        .linesIterator.filter(_.nonEmpty).foreach { line =>
          val n = mapper.readTree(line)
          val (id, rev) = (n.get("id").asLong(), n.get("rev").asLong())
          if (!docs.get(id).exists(_._1 > rev)) {
            docs.remove(id)
            tombstones(id) = math.max(rev, tombstones.getOrElse(id, Long.MinValue))
          }
        }
      respond(x, "ok")
    })
    server.createContext("/sync/begin", (x: HttpExchange) => lock.synchronized {
      epoch = Some(java.util.UUID.randomUUID().toString)
      staged.clear() // a new staging index; any abandoned one is dropped
      respond(x, epoch.get)
    })
    server.createContext("/sync/commit", (x: HttpExchange) => lock.synchronized {
      // the alias swap: the staging index becomes the live one
      docs.clear(); docs ++= staged
      staged.clear(); epoch = None; tombstones.clear()
      respond(x, "ok")
    })
    server.createContext("/wm", (x: HttpExchange) => lock.synchronized {
      val wms = docs.values.map { case (_, json) =>
        Option(mapper.readTree(json).get(wmField)).map(_.asLong())
          .getOrElse(Long.MinValue) }
      respond(x, if (wms.isEmpty) "none" else wms.max.toString)
    })
    server.createContext("/mapping", (x: HttpExchange) => lock.synchronized {
      if (x.getRequestMethod == "PUT")
        mapping = new String(x.getRequestBody.readAllBytes(), UTF_8)
      respond(x, if (x.getRequestMethod == "PUT") "ok" else mapping)
    })
    server.createContext("/exists", (x: HttpExchange) => lock.synchronized {
      respond(x, pushed.toString)
    })
    private def respond(x: HttpExchange, body: String): Unit = {
      authSeen += ((x.getRequestURI.getPath,
        Option(x.getRequestHeaders.getFirst("Authorization"))))
      val b = body.getBytes(UTF_8)
      x.sendResponseHeaders(200, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) x.getResponseBody.write(b)
      x.close()
    }
    server.setExecutor(null)
    server.start()
    val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("rev", LongType)))

  test("push / scan round-trip: sliced multi-page scan, latest-wins, idempotent redelivery") {
    val srv = new MockServer
    try {
      val store = HttpDocumentStore(srv.base, schema, slices = 3, batchSize = 2)
      store.exists(spark) shouldBe false
      store.push((1L to 7L).map(i => (i, s"v$i", 10L)).toDF("id", "v", "rev"))
      store.exists(spark) shouldBe true
      // newer rev wins; redelivering the stale rev is a no-op
      store.push(Seq((3L, "v3b", 20L)).toDF("id", "v", "rev"))
      store.push(Seq((3L, "v3", 10L)).toDF("id", "v", "rev"))
      val got = store.scan(spark)
      got.rdd.getNumPartitions shouldBe 3 // one partition per scan slice
      got.select($"id", $"v").as[(Long, String)].collect().toSet shouldBe
        (1L to 7L).map(i => (i, if (i == 3) "v3b" else s"v$i")).toSet
      // 7 docs over 3 slices at page size 2 → every slice paginates
      srv.scanRequests should be >= 4
    } finally srv.stop()
  }

  test("delete: versioned keyed delete — older loses, tombstone blocks resurrection") {
    val srv = new MockServer
    try {
      val store = HttpDocumentStore(srv.base, schema, slices = 2, batchSize = 10)
      store.push(Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 30L))
        .toDF("id", "v", "rev"))
      // delete 1 at rev 20 (wins over stored 10); delete 3 at rev 20
      // (loses to stored 30 — the newer write survives)
      store.delete(Seq((1L, 20L), (3L, 20L)).toDF("id", "rev"))
      store.scan(spark).select($"id", $"v").as[(Long, String)]
        .collect().toSet shouldBe Set((2L, "b"), (3L, "c"))
      // a late redelivered OLD upsert of key 1 cannot resurrect it
      store.push(Seq((1L, "a", 10L)).toDF("id", "v", "rev"))
      store.scan(spark).select($"id").as[Long].collect().toSet shouldBe Set(2L, 3L)
      // redelivering the delete batch is a no-op
      store.delete(Seq((1L, 20L), (3L, 20L)).toDF("id", "rev"))
      store.scan(spark).select($"id").as[Long].collect().toSet shouldBe Set(2L, 3L)
    } finally srv.stop()
  }

  test("per-page retry absorbs transient scan failures without restarting the slice") {
    val srv = new MockServer(failEveryNth = 3) // every 3rd scan request 503s
    try {
      val store = HttpDocumentStore(srv.base, schema, slices = 2, batchSize = 10)
      store.push((1L to 9L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "rev"))
      store.scan(spark).select($"id").as[Long].collect().toSet shouldBe
        (1L to 9L).toSet
      srv.failures should be >= 1 // the injection actually fired
    } finally srv.stop()
  }

  test("mapping management: put/get round-trip, ensure is create-if-absent only") {
    val srv = new MockServer
    try {
      val store = HttpDocumentStore(srv.base, schema)
      store.getMapping shouldBe None
      store.ensureMapping("""{"properties":{"id":{"type":"long"}}}""") shouldBe true
      store.getMapping shouldBe Some("""{"properties":{"id":{"type":"long"}}}""")
      // ensure never overwrites a live mapping
      store.ensureMapping("""{"properties":{}}""") shouldBe false
      store.getMapping shouldBe Some("""{"properties":{"id":{"type":"long"}}}""")
      // a deliberate remap is putMapping
      store.putMapping("""{"properties":{"v":{"type":"keyword"}}}""")
      store.getMapping shouldBe Some("""{"properties":{"v":{"type":"keyword"}}}""")
    } finally srv.stop()
  }

  private def rawPost(url: String, body: String, headers: Map[String, String] = Map.empty): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(UTF_8))
      conn.getResponseCode shouldBe 200
      new String(conn.getInputStream.readAllBytes(), UTF_8)
    } finally conn.disconnect()
  }

  test("sync is a staged reindex: old index served until the atomic alias swap; abandoned epoch harmless") {
    val srv = new MockServer
    try {
      val store = HttpDocumentStore(srv.base, schema, slices = 2, batchSize = 10)
      store.push(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "rev"))
      // drive the protocol by hand to observe the mid-sync state
      val epoch = rawPost(s"${srv.base}/sync/begin", "")
      rawPost(s"${srv.base}/bulk", """{"id": 9, "v": "staged", "rev": 5}""",
        Map("X-Sync-Epoch" -> epoch))
      // staging is INVISIBLE to scans until commit
      store.scan(spark).select($"id").as[Long].collect().toSet shouldBe Set(1L, 2L)
      // abandon this epoch (crash before commit): begin a NEW sync —
      // the live index is untouched and the stale staging is dropped
      val epoch2 = rawPost(s"${srv.base}/sync/begin", "")
      rawPost(s"${srv.base}/bulk", """{"id": 3, "v": "c", "rev": 7}""",
        Map("X-Sync-Epoch" -> epoch2))
      rawPost(s"${srv.base}/sync/commit", epoch2)
      // after the swap the store equals exactly what epoch2 pushed —
      // no leftover from the abandoned epoch, no pre-sync survivors
      store.scan(spark).select($"id", $"v").as[(Long, String)]
        .collect().toSet shouldBe Set((3L, "c"))
    } finally srv.stop()
  }

  private def dsv2(srv: MockServer, slices: Int = 2) =
    spark.read.format("graft.sources.http.HttpStoreProvider")
      .schema(schema).option("base", srv.base)
      .option("wmcol", "rev").option("slices", slices.toString)
      .load()

  test("DSv2 connector: sliced scan, watermark pushdown lands server-side, pruning in plan") {
    val srv = new MockServer(wmField = "rev")
    try {
      val store = HttpDocumentStore(srv.base, schema)
      store.push((1L to 8L).map(i => (i, s"v$i", i * 10)).toDF("id", "v", "rev"))
      val df = dsv2(srv, slices = 3)
      // full scan: one partition per slice, all rows
      df.rdd.getNumPartitions shouldBe 3
      df.select($"id").as[Long].collect().toSet shouldBe (1L to 8L).toSet
      // wm > 50 pushed: the server receives since=50 and ships only
      // the matching docs; results exact either way (residual filter)
      srv.sinceSeen.clear()
      val got = df.where($"rev" > 50L).select($"id").as[Long].collect().toSet
      got shouldBe Set(6L, 7L, 8L)
      srv.sinceSeen.distinct.toSeq shouldBe Seq(50L)
      // wm >= 60 pushes since=59 (exclusive translation)
      srv.sinceSeen.clear()
      df.where($"rev" >= 60L).select($"id").as[Long].collect().toSet shouldBe
        Set(6L, 7L, 8L)
      srv.sinceSeen.distinct.toSeq shouldBe Seq(59L)
      // the plan carries the pushed filter and the pruned read schema
      val plan = df.where($"rev" > 50L).select($"id")
        .queryExecution.executedPlan.toString
      plan should include("since=50 (pushed)")
      // a non-wm filter is NOT pushed (no since), still answered right
      srv.sinceSeen.clear()
      df.where($"v" === "v3").select($"id").as[Long].collect().toSeq shouldBe Seq(3L)
      srv.sinceSeen shouldBe empty
    } finally srv.stop()
  }

  test("DSv2 connector: a server that ignores `since` still yields exact results") {
    val srv = new MockServer() // no wm field configured: since is ignored
    try {
      HttpDocumentStore(srv.base, schema)
        .push((1L to 5L).map(i => (i, s"v$i", i * 10)).toDF("id", "v", "rev"))
      // the pushed prune does nothing server-side; the residual filter
      // must still produce the exact answer
      dsv2(srv).where($"rev" > 30L).select($"id").as[Long].collect().toSet shouldBe
        Set(4L, 5L)
    } finally srv.stop()
  }

  test("DSv2 connector: the ETL extract's bookmark predicate reaches the server") {
    val srv = new MockServer(wmField = "m")
    try {
      import graft.sources.{EtlPipeline, ParquetStore}
      val edgeSchema = StructType(Seq(
        StructField("child", LongType), StructField("parent", LongType),
        StructField("m", LongType), StructField("id", LongType),
        StructField("rev", LongType)))
      // the edge feed lives in the HTTP store (id-keyed; m = modified)
      val feed = HttpDocumentStore(srv.base, edgeSchema)
      feed.push(Seq((10L, 1L, 100L, 1L, 1L), (11L, 1L, 100L, 2L, 1L),
        (12L, 10L, 150L, 3L, 1L)).toDF("child", "parent", "m", "id", "rev"))
      val src = spark.read.format("graft.sources.http.HttpStoreProvider")
        .schema(edgeSchema).option("base", srv.base)
        .option("wmcol", "m").option("slices", "2").load()
      val base = java.nio.file.Files.createTempDirectory("graft-dsv2-etl").toString
      val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
      val r1 = EtlPipeline.run(spark, src, "m", dest, s"$base/wm")
      r1.extracted shouldBe 3
      // run 2: one later edge; the bookmark filter (m > 150) must
      // arrive at the server as since=150 — delta shipping, not a
      // full re-scan
      feed.push(Seq((13L, 12L, 220L, 4L, 1L)).toDF("child", "parent", "m", "id", "rev"))
      srv.sinceSeen.clear()
      val r2 = EtlPipeline.run(spark, src, "m", dest, s"$base/wm")
      r2.extracted shouldBe 1
      srv.sinceSeen should contain(150L)
      val want = graft.operators.Hierarchy.closure(
        Seq((10L, 1L), (11L, 1L), (12L, 10L), (13L, 12L)).toDF("child", "parent"))
        .as[(Long, Long, Int)].collect().toSet
      dest.scan(spark).select($"ancestor", $"descendant", $"depth")
        .as[(Long, Long, Int)].collect().toSet shouldBe want
    } finally srv.stop()
  }

  test("DSv2 streaming source: each trigger reads the (lastWm, maxWm] bracket exactly once") {
    val srv = new MockServer(wmField = "rev")
    try {
      val store = HttpDocumentStore(srv.base, schema)
      store.push((1L to 4L).map(i => (i, s"v$i", i * 10)).toDF("id", "v", "rev"))
      val stream = spark.readStream
        .format("graft.sources.http.HttpStoreProvider")
        .schema(schema).option("base", srv.base)
        .option("wmcol", "rev").option("slices", "2").load()
      val q = stream.writeStream.format("memory")
        .queryName("http_stream_test").outputMode("append").start()
      try {
        q.processAllAvailable()
        def got = spark.table("http_stream_test")
          .select($"id").as[Long].collect().toSeq
        got.sorted shouldBe (1L to 4L)
        // new docs arrive; the next poll brackets (40, 60] only
        store.push(Seq((5L, "v5", 50L), (6L, "v6", 60L)).toDF("id", "v", "rev"))
        q.processAllAvailable()
        got.sorted shouldBe (1L to 6L)
        // no new docs: the poll sees maxWm == lastOffset, empty batch,
        // and nothing is re-read (exactly-once per row)
        q.processAllAvailable()
        got.sorted shouldBe (1L to 6L)
        got.size shouldBe 6
      } finally q.stop()
    } finally srv.stop()
  }

  test("capstone: the reference's whole loop streaming — HTTP poll → closure patch → keyed push") {
    val srv = new MockServer(wmField = "m")
    try {
      import graft.sources.{EtlPipeline, ParquetStore}
      val edgeSchema = StructType(Seq(
        StructField("child", LongType), StructField("parent", LongType),
        StructField("m", LongType), StructField("id", LongType),
        StructField("rev", LongType)))
      val feed = HttpDocumentStore(srv.base, edgeSchema)
      feed.push(Seq((10L, 1L, 100L, 1L, 1L), (11L, 1L, 100L, 2L, 1L),
        (12L, 10L, 150L, 3L, 1L)).toDF("child", "parent", "m", "id", "rev"))
      val base = java.nio.file.Files.createTempDirectory("graft-live").toString
      val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
      val stream = spark.readStream
        .format("graft.sources.http.HttpStoreProvider")
        .schema(edgeSchema).option("base", srv.base)
        .option("wmcol", "m").option("slices", "2").load()
      val q = EtlPipeline.runStream(stream, dest)
        .option("checkpointLocation", s"$base/ckpt").start()
      try {
        q.processAllAvailable()
        def closure = dest.scan(spark)
          .select($"ancestor", $"descendant", $"depth")
          .as[(Long, Long, Int)].collect().toSet
        closure shouldBe graft.operators.Hierarchy.closure(
          Seq((10L, 1L), (11L, 1L), (12L, 10L)).toDF("child", "parent"))
          .as[(Long, Long, Int)].collect().toSet
        // a later edge lands in the store; the NEXT poll brackets only
        // it (wm > 150 server-side) and the closure patch folds it in
        feed.push(Seq((13L, 12L, 220L, 4L, 1L)).toDF("child", "parent", "m", "id", "rev"))
        q.processAllAvailable()
        closure shouldBe graft.operators.Hierarchy.closure(
          Seq((10L, 1L), (11L, 1L), (12L, 10L), (13L, 12L)).toDF("child", "parent"))
          .as[(Long, Long, Int)].collect().toSet
      } finally q.stop()
    } finally srv.stop()
  }

  test("sync: epoch commit deletes every key the snapshot no longer has") {
    val srv = new MockServer
    try {
      val store = HttpDocumentStore(srv.base, schema, slices = 2, batchSize = 10)
      store.push(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "rev"))
      store.sync(Seq((2L, "b2", 5L), (4L, "d", 5L)).toDF("id", "v", "rev"))
      store.scan(spark).select($"id", $"v").as[(Long, String)]
        .collect().toSet shouldBe Set((2L, "b2"), (4L, "d"))
    } finally srv.stop()
  }

  test("configured auth headers ride every store request and every DSv2 exchange") {
    val m = new MockServer(wmField = "m")
    val wmSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("rev", LongType), StructField("m", LongType)))
    try {
      val auth = "Bearer dG9rZW4tMTIz"
      val s = HttpDocumentStore(m.base, wmSchema, slices = 2, batchSize = 2,
        headers = Map("Authorization" -> auth))
      s.push(Seq((1L, "a", 1L, 1L), (2L, "b", 2L, 2L), (3L, "c", 3L, 3L))
        .toDF("id", "v", "rev", "m"))
      s.exists(spark) shouldBe true
      s.scan(spark).count() shouldBe 3
      s.delete(Seq((3L, 4L)).toDF("id", "rev"))
      s.putMapping("""{"m":1}""")
      s.getMapping shouldBe Some("""{"m":1}""")
      s.sync(Seq((1L, "a", 5L, 5L)).toDF("id", "v", "rev", "m"))
      // the DSv2 batch read + streaming wm poll carry header.* options
      spark.read.format("graft.sources.http.HttpStoreProvider")
        .schema(wmSchema)
        .option("base", m.base).option("wmcol", "m").option("slices", "2")
        .option("header.Authorization", auth)
        .load().where($"m" > 0L).count() shouldBe 1
      val unauthed = m.authSeen.filterNot(_._2.contains(auth))
      withClue(s"requests missing the auth header: $unauthed") {
        unauthed shouldBe empty
      }
      m.authSeen.map(_._1).toSet should contain allOf (
        "/scan", "/bulk", "/delete", "/sync/begin", "/sync/commit",
        "/mapping", "/exists")
    } finally m.stop()
  }

  test("DSv2 batch write posts NDJSON bulks the server merges latest-wins") {
    val m = new MockServer
    try {
      def write(rows: Seq[(Long, String, Long)]): Unit =
        rows.toDF("id", "v", "rev").write
          .format("graft.sources.http.HttpStoreProvider")
          .option("base", m.base).option("batchsize", "2")
          .mode("append").save()
      write(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)))
      write(Seq((2L, "b2", 2L), (2L, "old", 1L)))
      val store = HttpDocumentStore(m.base, schema, slices = 2)
      store.scan(spark).select($"id", $"v").as[(Long, String)].collect().toSet shouldBe
        Set((1L, "a"), (2L, "b2"), (3L, "c"))
    } finally m.stop()
  }

  test("HttpRows.json ∘ parse is the identity, including hostile names and values") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.http.HttpRows
    val om = new ObjectMapper()
    val rnd = new scala.util.Random(7)
    val nonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val hostile = Seq("plain", "with \"quotes\"", "back\\slash", "tab\there",
      "new\nline", "null", "", "percent%colon:", "\u0001ctl")
    val sch = StructType(Seq(
      StructField("a \"quoted\" name", StringType), StructField("n", LongType),
      StructField("i", org.apache.spark.sql.types.IntegerType),
      StructField("d", org.apache.spark.sql.types.DoubleType),
      StructField("b", org.apache.spark.sql.types.BooleanType)))
    (1 to 50).foreach { _ =>
      val row = new GenericInternalRow(Array[Any](
        if (rnd.nextInt(5) == 0) null
        else UTF8String.fromString(hostile(rnd.nextInt(hostile.size))),
        if (rnd.nextInt(5) == 0) null else rnd.nextLong(),
        if (rnd.nextInt(5) == 0) null else rnd.nextInt(),
        if (rnd.nextInt(5) == 0) null
        else if (rnd.nextInt(4) == 0) nonFinite(rnd.nextInt(nonFinite.size))
        else rnd.nextDouble(),
        if (rnd.nextInt(5) == 0) null else rnd.nextBoolean()))
      val back = HttpRows.parse(om.readTree(HttpRows.json(row, sch)), sch)
      (0 until sch.length).foreach { i =>
        withClue(s"field $i: ") {
          back.isNullAt(i) shouldBe row.isNullAt(i)
          // boxed equals: NaN equals NaN there, unlike `==`
          if (!row.isNullAt(i)) assert(back.get(i, sch.fields(i).dataType)
            .equals(row.get(i, sch.fields(i).dataType)),
            s"${back.get(i, sch.fields(i).dataType)} != ${row.get(i, sch.fields(i).dataType)}")
        }
      }
    }
  }

  test("store scan and graft-http read decode mixed-type documents as Spark's JSON reader does") {
    import org.apache.spark.sql.Row
    val srv = new MockServer
    val mixed = StructType.fromDDL(
      "id BIGINT, rev BIGINT, n BIGINT, i INT, b BOOLEAN, d DOUBLE, s STRING")
    val docs = Seq(
      """{"id":1,"rev":1,"n":"abc","i":30000000000,"b":"yes","d":true,"s":12}""",
      """{"id":2,"rev":1,"n":1.5,"i":"7","b":1,"d":"NaN","s":true}""",
      """{"id":3,"rev":1,"n":"12","i":2.0,"b":"true","d":"Infinity","s":{"a":[1,"x"]}}""",
      """{"id":4,"rev":1,"n":9223372036854775807,"i":-2147483648,"b":false,"d":"-Infinity","s":1.5}""",
      """{"id":5,"rev":1,"n":12,"i":7,"b":true,"d":3,"s":"text"}""",
      """{"id":6,"rev":1,"n":99999999999999999999,"i":null,"d":"nope","s":null}""")
    // a mismatched or out-of-range value is NULL; a STRING field keeps
    // non-text values as raw JSON; DOUBLE reads the non-finite strings
    val want = Seq(
      Row(1L, 1L, null, null, null, null, "12"),
      Row(2L, 1L, null, null, null, Double.NaN, "true"),
      Row(3L, 1L, null, null, null, Double.PositiveInfinity, """{"a":[1,"x"]}"""),
      Row(4L, 1L, Long.MaxValue, Int.MinValue, false, Double.NegativeInfinity, "1.5"),
      Row(5L, 1L, 12L, 7, true, 3.0, "text"),
      Row(6L, 1L, null, null, null, null, null))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.collect().sortBy(_.getLong(0)).toSeq
    try {
      rawPost(s"${srv.base}/bulk", docs.mkString("\n"))
      rows(spark.read.schema(mixed).json(docs.toDS())) shouldBe want
      rows(HttpDocumentStore(srv.base, mixed, slices = 2).scan(spark)) shouldBe want
      rows(spark.read.format("graft-http").schema(mixed)
        .option("base", srv.base).option("slices", "3").load()) shouldBe want
    } finally srv.stop()
  }
}
