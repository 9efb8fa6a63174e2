package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The config-driven entrypoint: the reference's settings.json-fed
  * CLI shape, smoke-driven end-to-end against real stores.
  */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def tmp() = Files.createTempDirectory("graft-main").toString

  test("closure mode runs the reference's main loop from one config file") {
    val base = tmp()
    Seq((10L, 1L, 1L), (12L, 10L, 2L), (13L, 12L, 3L))
      .toDF("child", "parent", "m").write.parquet(s"$base/edges")
    val cfg = s"""{
      "mode": "closure",
      "source": {"type": "parquet", "path": "$base/edges"},
      "wmCol": "m",
      "dest": {"type": "parquet", "path": "$base/closure",
               "keyCols": ["ancestor", "descendant"], "versionCol": "rev",
               "numBuckets": 4},
      "bookmark": "$base/wm"
    }"""
    val cfgPath = s"$base/etl.json"
    Files.write(java.nio.file.Paths.get(cfgPath), cfg.getBytes(UTF_8))
    // the REAL entrypoint: file in, pipeline runs (session via getOrCreate)
    Main.main(Array(cfgPath))
    val got = spark.read.parquet(s"$base/closure")
      .select($"ancestor", $"descendant", $"depth")
      .as[(Long, Long, Int)].collect().toSet
    got shouldBe graft.operators.Hierarchy.closure(
      Seq((10L, 1L), (12L, 10L), (13L, 12L)).toDF("child", "parent"))
      .as[(Long, Long, Int)].collect().toSet
    // second run: bookmark committed, nothing new — a no-op
    val r2 = Main.run(spark, mapper.readTree(cfg))
    r2 should include(""""extracted":0""")
  }

  test("replicate mode: incremental extract + keyed latest-wins push") {
    val base = tmp()
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "rev")
      .write.parquet(s"$base/src")
    val cfg = mapper.readTree(s"""{
      "mode": "replicate",
      "source": {"type": "parquet", "path": "$base/src"},
      "wmCol": "rev",
      "dest": {"type": "parquet", "path": "$base/dst",
               "keyCols": ["id"], "versionCol": "rev", "numBuckets": 4},
      "bookmark": "$base/wm"
    }""")
    Main.run(spark, cfg) should include(""""extracted":2""")
    // append a newer revision of key 2 + a new key; only those move
    Seq((2L, "b2", 3L), (3L, "c", 4L)).toDF("id", "v", "rev")
      .write.mode("append").parquet(s"$base/src")
    Main.run(spark, cfg) should include(""""extracted":2""")
    // snapshot-isolated sink tables are read through the sink's
    // reader (manifest-resolved), not a raw recursive parquet read —
    // a raw read would also list grace-retained generations
    graft.sources.ParquetUpsertSink.read(spark, s"$base/dst")
      .select($"id", $"v")
      .as[(Long, String)].collect().toSet shouldBe
      Set((1L, "a"), (2L, "b2"), (3L, "c"))
  }

  test("closure-stream mode: the streaming loop from one config, ES-wire destination") {
    val base = tmp()
    val f = new EsFixture
    try {
      Seq((10L, 1L, 1L), (12L, 10L, 2L)).toDF("child", "parent", "seq")
        .coalesce(1).write.parquet(s"$base/edges")
      val cfg = mapper.readTree(s"""{
        "mode": "closure-stream",
        "source": {"type": "parquet-stream", "path": "$base/edges",
                   "maxFilesPerTrigger": "1"},
        "dest": {"type": "es", "base": "${f.base}", "alias": "docs",
                 "keyCols": ["ancestor", "descendant"], "versionCol": "rev",
                 "schema": "ancestor BIGINT, descendant BIGINT, depth INT, rev BIGINT"},
        "checkpoint": "$base/ckpt"
      }""")
      Main.run(spark, cfg) should include(""""stopped":true""")
      // a second batch of edges lands; the drained checkpoint resumes
      Seq((13L, 12L, 3L)).toDF("child", "parent", "seq")
        .coalesce(1).write.mode("append").parquet(s"$base/edges")
      Main.run(spark, cfg) should include(""""stopped":true""")
      val want = graft.operators.Hierarchy.closure(
        Seq((10L, 1L), (12L, 10L), (13L, 12L)).toDF("child", "parent"))
        .as[(Long, Long, Int)].collect().toSet
      graft.sources.EsDocumentStore(f.base, "docs",
        Seq("ancestor", "descendant"), "rev",
        org.apache.spark.sql.types.StructType.fromDDL(
          "ancestor BIGINT, descendant BIGINT, depth INT, rev BIGINT"))
        .scan(spark).select($"ancestor", $"descendant", $"depth")
        .as[(Long, Long, Int)].collect().toSet shouldBe want
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("capstone: ES-polled stream source -> closure -> ES destination, one config") {
    // the reference's whole deployment shape in one Main invocation:
    // edges live in an ES index, the engine polls them as a stream
    // (max-agg watermark offsets), patches the closure, and pushes
    // the delta into an ES destination — both ends the real wire
    val base = tmp()
    val fSrc = new EsFixture
    val fDst = new EsFixture
    try {
      val edgeSchema = "child BIGINT, parent BIGINT, seq BIGINT"
      val srcStore = graft.sources.EsDocumentStore(fSrc.base, "edges",
        Seq("child", "parent"), "seq",
        org.apache.spark.sql.types.StructType.fromDDL(edgeSchema))
      srcStore.push(Seq((10L, 1L, 1L), (12L, 10L, 2L))
        .toDF("child", "parent", "seq"))
      val cfg = mapper.readTree(s"""{
        "mode": "closure-stream",
        "source": {"type": "es-stream", "base": "${fSrc.base}",
                   "index": "edges", "wmcol": "seq",
                   "schema": "$edgeSchema"},
        "dest": {"type": "es", "base": "${fDst.base}", "alias": "closure",
                 "keyCols": ["ancestor", "descendant"], "versionCol": "rev",
                 "schema": "ancestor BIGINT, descendant BIGINT, depth INT, rev BIGINT"},
        "checkpoint": "$base/ckpt"
      }""")
      Main.run(spark, cfg) should include(""""stopped":true""")
      // more edges arrive in the source index; the next scheduled run
      // resumes from the committed watermark offset
      srcStore.push(Seq((13L, 12L, 3L)).toDF("child", "parent", "seq"))
      Main.run(spark, cfg) should include(""""stopped":true""")
      val want = graft.operators.Hierarchy.closure(
        Seq((10L, 1L), (12L, 10L), (13L, 12L)).toDF("child", "parent"))
        .as[(Long, Long, Int)].collect().toSet
      graft.sources.EsDocumentStore(fDst.base, "closure",
        Seq("ancestor", "descendant"), "rev",
        org.apache.spark.sql.types.StructType.fromDDL(
          "ancestor BIGINT, descendant BIGINT, depth INT, rev BIGINT"))
        .scan(spark).select($"ancestor", $"descendant", $"depth")
        .as[(Long, Long, Int)].collect().toSet shouldBe want
      fSrc.badRequests shouldBe 0
      fDst.badRequests shouldBe 0
    } finally { fSrc.stop(); fDst.stop() }
  }

  test("commitIO config key selects the manifest-commit strategy, bad values are loud") {
    val base = tmp()
    Seq((1L, "a", 1L)).toDF("id", "v", "rev").write.parquet(s"$base/src")
    val prev = graft.sources.ParquetUpsertSink.commitIO
    try {
      val cfg = mapper.readTree(s"""{
        "mode": "replicate",
        "commitIO": "conditional-local",
        "source": {"type": "parquet", "path": "$base/src"},
        "wmCol": "rev",
        "dest": {"type": "parquet", "path": "$base/dst",
                 "keyCols": ["id"], "versionCol": "rev", "numBuckets": 4},
        "bookmark": "$base/wm"
      }""")
      Main.run(spark, cfg) should include(""""extracted":1""")
      graft.sources.ParquetUpsertSink.commitIO shouldBe
        a[graft.sources.ConditionalPutCommitIO]
      graft.sources.ParquetUpsertSink.read(spark, s"$base/dst")
        .select($"id").as[Long].collect().toSet shouldBe Set(1L)
      val ex = intercept[RuntimeException] {
        Main.run(spark, mapper.readTree(
          """{"mode":"replicate","commitIO":"s3-magic",
             "source":{"type":"jsonl","path":"x"},"wmCol":"rev",
             "dest":{"type":"jsonl","path":"y"},"bookmark":"z"}"""))
      }
      ex.getMessage should include("unknown commitIO")
    } finally graft.sources.ParquetUpsertSink.commitIO = prev
  }

  test("sync mode + config validation failures are loud") {
    val base = tmp()
    Seq((1L, "a", 1L)).toDF("id", "v", "rev").write.parquet(s"$base/src")
    val cfg = mapper.readTree(s"""{
      "mode": "sync",
      "source": {"type": "parquet", "path": "$base/src"},
      "dest": {"type": "parquet", "path": "$base/dst",
               "keyCols": ["id"], "versionCol": "rev"}
    }""")
    Main.run(spark, cfg) should include(""""pushed":1""")
    spark.read.parquet(s"$base/dst").count() shouldBe 1L
    val bad = intercept[Exception] {
      Main.run(spark, mapper.readTree("""{"mode":"nope","source":{"type":"jsonl","path":"x"}}"""))
    }
    bad.getMessage should include("unknown mode")
    val missing = intercept[Exception] {
      Main.run(spark, mapper.readTree("""{"source":{"type":"jsonl","path":"x"}}"""))
    }
    missing.getMessage should include("missing 'mode'")
  }

  test("credentials in the config reach the store as headers and never leak into output") {
    val base = tmp()
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "rev")
      .write.parquet(s"$base/src")
    val f = new EsFixture
    try {
      val secret = "ApiKey dG9wLXNlY3JldA=="
      val cfg = mapper.readTree(s"""{
        "mode": "replicate",
        "source": {"type": "parquet", "path": "$base/src"},
        "wmCol": "rev",
        "dest": {"type": "es", "base": "${f.base}", "alias": "docs",
                 "keyCols": ["id"], "versionCol": "rev",
                 "schema": "id BIGINT, v STRING, rev BIGINT",
                 "headers": {"Authorization": "$secret"}},
        "bookmark": "$base/wm"
      }""")
      val out = Main.run(spark, cfg)
      out should include(""""extracted":2""")
      // the credential reached every request the push made...
      val unauthed = f.requestsSeen.filterNot(_._3.contains(secret))
      withClue(s"requests missing the auth header: $unauthed") {
        unauthed shouldBe empty
      }
      f.requestsSeen.map(_._1).toSet should contain("POST")
      // ...and never the result line (the only thing Main prints)
      out should not include "dG9wLXNlY3JldA"
      f.liveDocs.keySet shouldBe Set("1", "2")
    } finally f.stop()
  }

  test("replicate-stream drains the source into a keyed latest-wins dest; sync-stream rejects") {
    val base = tmp()
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "rev")
      .write.parquet(s"$base/src")
    def cfg(mode: String) = mapper.readTree(s"""{
      "mode": "$mode",
      "source": {"type": "parquet-stream", "path": "$base/src"},
      "dest": {"type": "parquet", "path": "$base/dst",
               "keyCols": ["id"], "versionCol": "rev", "numBuckets": 4},
      "checkpoint": "$base/ckpt"
    }""")
    Main.run(spark, cfg("replicate-stream")) should include(""""stream":"replicate"""")
    graft.sources.ParquetUpsertSink.read(spark, s"$base/dst")
      .select($"id", $"v")
      .as[(Long, String)].collect().toSet shouldBe Set((1L, "a"), (2L, "b"))
    // a later run picks up only new files (checkpoint = the bookmark),
    // and a newer revision of key 2 wins in the dest
    Seq((2L, "b2", 3L), (3L, "c", 1L)).toDF("id", "v", "rev")
      .write.mode("append").parquet(s"$base/src")
    Main.run(spark, cfg("replicate-stream"))
    graft.sources.ParquetUpsertSink.read(spark, s"$base/dst")
      .select($"id", $"v").as[(Long, String)].collect().toSet shouldBe
      Set((1L, "a"), (2L, "b2"), (3L, "c"))
    // sync-stream is a documented rejection, not a silent fallback
    val err = intercept[RuntimeException] { Main.run(spark, cfg("sync-stream")) }
    err.getMessage should include("snapshot boundary")
  }

  test("r11 capstone: authenticated PIT-read ES source -> replicate-stream -> authenticated ES dest") {
    val base = tmp()
    val fSrc = new EsFixture
    val fDst = new EsFixture
    try {
      val srcAuth = "ApiKey c3JjLXNpZGU="
      val dstAuth = "ApiKey ZHN0LXNpZGU="
      val seed = graft.sources.EsDocumentStore(fSrc.base, "bugs", Seq("id"),
        "rev", org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, v STRING, rev BIGINT"))
      seed.push(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "rev"))
      fSrc.requestsSeen.clear()
      val cfg = mapper.readTree(s"""{
        "mode": "replicate-stream",
        "source": {"type": "es-stream", "base": "${fSrc.base}",
                   "index": "bugs", "wmcol": "rev",
                   "schema": "id BIGINT, v STRING, rev BIGINT",
                   "readMode": "pit",
                   "headers": {"Authorization": "$srcAuth"}},
        "dest": {"type": "es", "base": "${fDst.base}", "alias": "docs",
                 "keyCols": ["id"], "versionCol": "rev",
                 "schema": "id BIGINT, v STRING, rev BIGINT",
                 "headers": {"Authorization": "$dstAuth"}},
        "checkpoint": "$base/ckpt"
      }""")
      Main.run(spark, cfg) should include(""""stream":"replicate"""")
      fDst.liveDocs.keySet shouldBe Set("1", "2")
      // the source really read via PIT, and EVERY request on both
      // sides carried its own credential
      fSrc.pitSearches should be >= 1
      fSrc.scrollContinuations shouldBe 0
      val srcUnauthed = fSrc.requestsSeen.filterNot(_._3.contains(srcAuth))
      withClue(s"source requests missing auth: $srcUnauthed") {
        srcUnauthed shouldBe empty
      }
      val dstUnauthed = fDst.requestsSeen.filterNot(_._3.contains(dstAuth))
      withClue(s"dest requests missing auth: $dstUnauthed") {
        dstUnauthed shouldBe empty
      }
      // a second run drains nothing new (checkpointed offsets), stays green
      Main.run(spark, cfg) should include(""""stream":"replicate"""")
      fDst.liveDocs.keySet shouldBe Set("1", "2")
      fSrc.badRequests shouldBe 0
      fDst.badRequests shouldBe 0
    } finally { fSrc.stop(); fDst.stop() }
  }

  test("query mode: a jx query file runs against a parquet store; list/table on stdout, sink output, stdout cap") {
    val base = tmp()
    Seq(("click", 10L), ("click", 20L), ("view", 5L), ("view", 95L))
      .toDF("event_type", "value").write.parquet(s"$base/events")
    val qf = s"$base/q.json"
    Files.write(java.nio.file.Paths.get(qf), """{
      "from": "t",
      "groupby": ["event_type"],
      "select": [{"name":"n","aggregate":"count"},
                 {"name":"total","value":"value","aggregate":"sum"}],
      "format": "list"
    }""".getBytes(UTF_8))
    def cfg(extra: String) = mapper.readTree(s"""{
      "mode": "query",
      "queryFile": "$qf",
      "stores": {"t": {"type": "parquet", "path": "$base/events"}}
      $extra
    }""")
    // ActiveData response shape on stdout: {"format","rows","data"}
    val got = mapper.readTree(Main.run(spark, cfg("")))
    got.get("format").asText() shouldBe "list"
    got.get("rows").asInt() shouldBe 2
    val byType = got.get("data").asScala
      .map(r => r.get("event_type").asText() -> r).toMap
    byType("click").get("n").asLong() shouldBe 2L
    byType("click").get("total").asLong() shouldBe 30L
    byType("view").get("total").asLong() shouldBe 100L
    // table transport: one row, header + data arrays, through the CLI
    val tbl = mapper.readTree(Main.run(spark, mapper.readTree(s"""{
      "mode": "query",
      "query": {"from":"t","groupby":["event_type"],
                "select":[{"name":"n","aggregate":"count"}],
                "format":"table"},
      "stores": {"t": {"type": "parquet", "path": "$base/events"}}
    }""")))
    tbl.get("format").asText() shouldBe "table"
    tbl.get("rows").asInt() shouldBe 1
    val header = tbl.get("data").get(0).get("header").asScala.map(_.asText()).toSeq
    header shouldBe Seq("event_type", "n")
    // large results go to a DISTRIBUTED sink, reported not collected
    val sunk = mapper.readTree(Main.run(spark,
      cfg(s""", "output": {"type": "jsonl", "path": "$base/out"}""")))
    sunk.get("rows").asLong() shouldBe 2L
    spark.read.json(s"$base/out").where($"event_type" === "click")
      .select($"total").as[Double].head() shouldBe 30.0
    // stdout delivery is hard-capped: beyond maxReturn fails loudly
    // instead of truncating or OOMing the driver
    intercept[IllegalArgumentException] {
      Main.run(spark, cfg(""", "maxReturn": "1""""))
    }.getMessage should include("maxReturn")
  }

  test("train-tokenizer mode: trains, persists, reloads; bpe_tokenize under the loaded model is bit-identical") {
    val base = tmp()
    Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .write.parquet(s"$base/docs")
    val out = mapper.readTree(Main.run(spark, mapper.readTree(s"""{
      "mode": "train-tokenizer",
      "source": {"type": "parquet", "path": "$base/docs"},
      "numMerges": 30,
      "modelPath": "$base/bpe"
    }""")))
    out.get("merges").asInt() shouldBe 30
    out.get("dictWords").asInt() should be > 0
    // reload: rank order and merge pairs round-trip exactly
    val loaded = graft.sources.ModelStore.loadMerges(spark, s"$base/bpe")
    val inSession = {
      val dict = graft.operators.Bpe
        .wordDict(spark.read.parquet(s"$base/docs"), "text", 200000)
        .as[(String, Long)].collect().toSeq
      graft.operators.Bpe.trainMerges(dict, 30)
    }
    loaded shouldBe inSession
    // the consumer: full token ARRAYS under the loaded model are
    // bit-identical to the in-session model on every document
    val docs = spark.read.parquet(s"$base/docs")
    def toks(m: Seq[(String, String)]) = docs
      .select($"doc_id", graft.functions.bpeTokenize($"text", m).as("t"))
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    toks(loaded) shouldBe toks(inSession)
  }

  test("query-stream mode: a watermarked jx aggregation streams into a parquet sink and resumes from checkpoint") {
    val base = tmp()
    // file 1: two day-1 clicks + the day-2 event that will advance the
    // watermark past day 1 on the NEXT batch
    Seq(("click", "2024-01-01 10:00:00", 10L),
        ("click", "2024-01-01 11:00:00", 20L),
        ("view", "2024-01-02 09:00:00", 5L))
      .toDF("event_type", "ts_s", "value")
      .select($"event_type", $"ts_s".cast("timestamp").as("ts"), $"value")
      .coalesce(1).write.parquet(s"$base/events")
    val cfg = mapper.readTree(s"""{
      "mode": "query-stream",
      "source": {"type": "parquet-stream", "path": "$base/events"},
      "checkpoint": "$base/ckpt",
      "eventTime": "ts",
      "watermarkDelay": "10 minutes",
      "query": {"from": "t",
                "where": {"neq": {"event_type": "bot"}},
                "groupby": [{"name": "day", "value": {"floor": ["ts", "day"]}},
                            "event_type"],
                "select": [{"name": "n", "aggregate": "count"},
                           {"name": "total", "value": "value", "aggregate": "sum"}]},
      "output": {"type": "parquet", "path": "$base/out"}
    }""")
    // run 1 drains file 1: append mode emits nothing yet (the
    // watermark only advances AFTER the batch), but state + offsets
    // are checkpointed
    Main.run(spark, cfg) should include(""""stopped":true""")
    // a later event lands; run 2 resumes FROM THE CHECKPOINT (file 1
    // is not reprocessed), and its batch runs under the persisted
    // watermark (day-2 09:00 - 10min), which closes the day-1 window
    Seq(("view", "2024-01-03 09:00:00", 7L))
      .toDF("event_type", "ts_s", "value")
      .select($"event_type", $"ts_s".cast("timestamp").as("ts"), $"value")
      .coalesce(1).write.mode("append").parquet(s"$base/events")
    Main.run(spark, cfg) should include(""""stopped":true""")
    val got = spark.read.parquet(s"$base/out")
      .select(org.apache.spark.sql.functions.date_format($"day", "yyyy-MM-dd"),
        $"event_type", $"n", $"total")
      .as[(String, String, Long, Double)].collect().toSet
    // day-1 and day-2 rows exactly once each — run 2 resumed from the
    // checkpoint (file 1 NOT reprocessed: each group appears once
    // across both runs), its batch ran under the persisted watermark
    // (closing day 1), and the trailing no-data flush batch advanced
    // the watermark past day 2; the day-3 window is still open
    got shouldBe Set(("2024-01-01", "click", 2L, 30.0),
      ("2024-01-02", "view", 1L, 5.0))
  }

  test("query mode: the same jx endpoint queries a live ES index; cube format covered") {
    val f = new EsFixture
    try {
      val schema = "doc_id BIGINT, k STRING, v BIGINT, rev BIGINT"
      graft.sources.EsDocumentStore(f.base, "docs", Seq("doc_id"), "rev",
        org.apache.spark.sql.types.StructType.fromDDL(schema))
        .push(Seq((1L, "a", 10L, 1L), (2L, "b", 20L, 1L), (3L, "a", 5L, 1L))
          .toDF("doc_id", "k", "v", "rev"))
      val got = mapper.readTree(Main.run(spark, mapper.readTree(s"""{
        "mode": "query",
        "query": {"from":"t","edges":["k"],
                  "select":[{"name":"total","value":"v","aggregate":"sum"}],
                  "format":"cube"},
        "stores": {"t": {"type": "es", "base": "${f.base}", "alias": "docs",
                         "keyCols": ["doc_id"], "versionCol": "rev",
                         "schema": "$schema"}}
      }""")))
      got.get("format").asText() shouldBe "cube"
      val cell = got.get("data").get(0)
      cell.get("domain_k").asScala.map(_.asText()).toSeq shouldBe Seq("a", "b")
      cell.get("total").asScala.map(_.asLong()).toSeq shouldBe Seq(15L, 20L)
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("sync scans an ES source once and reports the rows it synced") {
    val base = tmp()
    val f = new EsFixture
    try {
      val schema = "id BIGINT, v STRING, rev BIGINT"
      graft.sources.EsDocumentStore(f.base, "docs", Seq("id"), "rev",
        org.apache.spark.sql.types.StructType.fromDDL(schema))
        .push(Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("id", "v", "rev"))
      val cfg = mapper.readTree(s"""{
        "mode": "sync",
        "source": {"type": "es", "base": "${f.base}", "alias": "docs",
                   "schema": "$schema"},
        "dest": {"type": "parquet", "path": "$base/dst",
                 "keyCols": ["id"], "versionCol": "rev", "numBuckets": 4}
      }""")
      val before = f.searchRequests
      val out = mapper.readTree(Main.run(spark, cfg))
      val bySync = f.searchRequests - before
      // one standalone scan of the same source, as Main reads it
      val scanned = spark.read.format("graft-es").schema(schema)
        .options(Map("base" -> f.base, "index" -> "docs")).load().count()
      val byScan = f.searchRequests - before - bySync
      scanned shouldBe 3L
      out.get("pushed").asLong shouldBe 3L
      graft.sources.ParquetUpsertSink.read(spark, s"$base/dst").count() shouldBe 3L
      withClue(s"search requests: sync $bySync, one scan $byScan") {
        bySync shouldBe byScan
      }
      f.badRequests shouldBe 0
    } finally f.stop()
  }
}
