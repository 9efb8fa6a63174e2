package graft

import graft.sources.EsDocumentStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The DSv2 connector over the REAL ES wire format: Catalyst-planned
  * sliced scroll scans with watermark range pushdown and column
  * pruning, plus the streaming micro-batch source whose offsets are
  * the max-aggregation watermark — all against the shape-validating
  * ES-7 fixture.
  */
class EsStoreProviderSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("m", LongType)))

  private def store(f: EsFixture) =
    EsDocumentStore(f.base, "docs", Seq("id"), "m", schema,
      slices = 2, pageSize = 2, batchSize = 3)

  private def read(f: EsFixture) = spark.read
    .format("graft.sources.es.EsStoreProvider")
    .schema(schema)
    .option("base", f.base).option("index", "docs")
    .option("wmcol", "m").option("slices", "2").option("pagesize", "2")
    .load()

  test("batch read: sliced scroll scan, watermark range pushed server-side, pruning in plan") {
    val f = new EsFixture
    try {
      store(f).push((1L to 9L).map(i => (i, s"v$i", i)).toDF("id", "v", "m"))
      read(f).select($"id", $"v").as[(Long, String)].collect().toSet shouldBe
        (1L to 9L).map(i => (i, s"v$i")).toSet
      // the extract predicate lands INSIDE the scroll body as a range
      // query — and Spark still re-applies it as residual
      val incr = read(f).where($"m" > 6L)
      incr.select($"id").as[Long].collect().toSet shouldBe Set(7L, 8L, 9L)
      f.rangesSeen.exists(_.contains("\"gt\":6")) shouldBe true
      // pruning: the physical plan reads only the requested columns
      val plan = incr.select($"id").queryExecution.executedPlan.toString
      plan should include("graft-es")
      plan should not include "v#"
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("the ETL extract's bookmark predicate reaches the ES server") {
    import graft.sources.ExtractBookmark
    val f = new EsFixture
    try {
      store(f).push(Seq((1L, "a", 5L), (2L, "b", 9L)).toDF("id", "v", "m"))
      val base = java.nio.file.Files.createTempDirectory("graft-esdsv2").toString
      val bm = s"$base/wm"
      val e1 = ExtractBookmark.extractSince(read(f), "m", bm)
      e1.batch.count() shouldBe 2
      ExtractBookmark.commit(e1, bm)
      store(f).push(Seq((3L, "c", 12L)).toDF("id", "v", "m"))
      val e2 = ExtractBookmark.extractSince(read(f), "m", bm)
      e2.batch.select($"id").as[Long].collect().toSeq shouldBe Seq(3L)
      // the second window's wm > 9 bracket ran server-side
      f.rangesSeen.exists(_.contains("\"gt\":9")) shouldBe true
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("streaming source: each trigger reads the (lastWm, maxWm] bracket exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val f = new EsFixture
    try {
      val s = store(f)
      s.push(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "m"))
      val outDir = java.nio.file.Files.createTempDirectory("graft-esout").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-esckpt").toString
      def drain(): Unit = {
        val q = spark.readStream
          .format("graft.sources.es.EsStoreProvider")
          .schema(schema)
          .option("base", f.base).option("index", "docs")
          .option("wmcol", "m").option("slices", "2").option("pagesize", "2")
          .load()
          .writeStream.format("parquet")
          .option("path", s"$outDir/t").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000); ()
      }
      drain()
      spark.read.parquet(s"$outDir/t").select($"id").as[Long]
        .collect().toSet shouldBe Set(1L, 2L)
      // new docs land; a LATER revision of doc 1 moves it into the next
      // bracket (its wm advanced) — exactly-once per (row, revision)
      s.push(Seq((3L, "c", 3L), (1L, "a2", 4L)).toDF("id", "v", "m"))
      drain()
      val got = spark.read.parquet(s"$outDir/t")
        .select($"id", $"v").as[(Long, String)].collect().toSeq
      got.size shouldBe 4 // 2 first bracket + 2 second; nothing re-read
      got.toSet shouldBe Set((1L, "a"), (2L, "b"), (3L, "c"), (1L, "a2"))
      // an idle drain (no watermark movement) reads nothing
      drain()
      spark.read.parquet(s"$outDir/t").count() shouldBe 4
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("config errors are loud: missing index, missing wmcol for streaming, bad type") {
    val f = new EsFixture
    try {
      an[IllegalArgumentException] should be thrownBy
        spark.read.format("graft.sources.es.EsStoreProvider")
          .schema(schema).option("base", f.base).load()
      an[IllegalArgumentException] should be thrownBy
        spark.read.format("graft.sources.es.EsStoreProvider")
          .schema(StructType(Seq(StructField("a",
            org.apache.spark.sql.types.ArrayType(LongType)))))
          .option("base", f.base).option("index", "docs").load()
    } finally f.stop()
  }

  test("wm >= Long.MinValue is a tautology: no pushdown, no underflow, every row returned") {
    val f = new EsFixture
    try {
      store(f).push(Seq((1L, "a", 5L), (2L, "b", 9L)).toDF("id", "v", "m"))
      // v−1 would wrap to Long.MaxValue and push a range excluding
      // every row — the guard keeps the filter residual-only
      read(f).where($"m" >= Long.MinValue).count() shouldBe 2
      f.rangesSeen.filter(_.contains("9223372036854775807")) shouldBe empty
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("header.* options ride every exchange the connector makes (search, scroll, wm poll)") {
    import org.apache.spark.sql.streaming.Trigger
    val f = new EsFixture
    try {
      val auth = "Basic Z3JhZnQ6aHVudGVyMg=="
      store(f).push((1L to 5L).map(i => (i, s"v$i", i)).toDF("id", "v", "m"))
      f.requestsSeen.clear()
      val authed = spark.read
        .format("graft.sources.es.EsStoreProvider")
        .schema(schema)
        .option("base", f.base).option("index", "docs")
        .option("wmcol", "m").option("slices", "2").option("pagesize", "2")
        .option("header.Authorization", auth)
        .load()
      authed.where($"m" > 2L).count() shouldBe 3
      // streaming too: the watermark poll and the bracketed batch scan
      val outDir = java.nio.file.Files.createTempDirectory("graft-esauth").toString
      val q = spark.readStream
        .format("graft.sources.es.EsStoreProvider")
        .schema(schema)
        .option("base", f.base).option("index", "docs")
        .option("wmcol", "m").option("slices", "2").option("pagesize", "2")
        .option("header.Authorization", auth)
        .load()
        .writeStream.format("parquet")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-esauthc").toString)
        .option("path", s"$outDir/t")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$outDir/t").count() shouldBe 5
      val unauthed = f.requestsSeen.filterNot(_._3.contains(auth))
      withClue(s"requests missing the auth header: $unauthed") {
        unauthed shouldBe empty
      }
      f.requestsSeen.map(r => (r._1, r._2.takeWhile(_ != '?'))).toSet should
        contain allOf (("POST", "/docs/_search"), ("POST", "/_search/scroll"))
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("a jx where-clause over an ES-backed table executes IN ES (the reference's jx-on-ES shape)") {
    val f = new EsFixture
    try {
      store(f).push(Seq((1L, "a", 5L), (2L, "b", 9L), (3L, "c", 12L))
        .toDF("id", "v", "m"))
      // the reference compiles jx {where} into the ES query it sends;
      // here the SAME composition falls out of layering: jx compiles
      // where -> Catalyst filter, the DSv2 provider pushes the range
      // into the scroll body, ES evaluates it
      val out = graft.jx.JxCompiler.queryOn(spark, sfDir,
        """{"from": "bugs", "select": ["id", "v"],
           "where": {"gt": {"m": 8}}, "sort": "id"}""",
        Map("bugs" -> read(f)))
      out.as[(Long, String)].collect().toSeq shouldBe Seq((2L, "b"), (3L, "c"))
      f.rangesSeen.exists(_.contains("\"gt\":8")) shouldBe true
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("DSv2 batch write: df.write bulks latest-wins through the ES wire; config errors loud") {
    val f = new EsFixture
    try {
      def write(rows: Seq[(Long, String, Long)]): Unit =
        rows.toDF("id", "v", "m").write
          .format("graft.sources.es.EsStoreProvider")
          .option("base", f.base).option("index", "docs")
          .option("keycols", "id").option("versioncol", "m")
          .option("batchsize", "2")
          .mode("append").save()
      write(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)))
      // newer wins, stale redelivery absorbed as a 409, new key lands
      write(Seq((2L, "b2", 2L), (2L, "old", 1L), (4L, "d", 1L)))
      read(f).select($"id", $"v").as[(Long, String)].collect().toSet shouldBe
        Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d"))
      f.badRequests shouldBe 0
      // missing keycols / versioncol fail at plan time, loudly
      an[Exception] should be thrownBy
        Seq((9L, "x", 1L)).toDF("id", "v", "m").write
          .format("graft.sources.es.EsStoreProvider")
          .option("base", f.base).option("index", "docs")
          .mode("append").save()
    } finally f.stop()
  }

  test("DSv2 streaming write: micro-batches land latest-wins; full replay is state-idempotent") {
    import org.apache.spark.sql.streaming.Trigger
    val f = new EsFixture
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-essink").toString
      val srcSchema = StructType(Seq(StructField("id", LongType),
        StructField("v", StringType), StructField("m", LongType)))
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "m")
        .write.mode("append").parquet(dir)
      def drain(ckpt: String): Unit = {
        val q = spark.readStream.schema(srcSchema).parquet(dir)
          .writeStream.format("graft.sources.es.EsStoreProvider")
          .option("base", f.base).option("index", "docs")
          .option("keycols", "id").option("versioncol", "m")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val ckpt = java.nio.file.Files.createTempDirectory("graft-essinkc").toString
      drain(ckpt)
      Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "v", "m")
        .write.mode("append").parquet(dir)
      drain(ckpt) // checkpoint resume: only the new file replays
      read(f).select($"id", $"v").as[(Long, String)].collect().toSet shouldBe
        Set((1L, "a"), (2L, "b2"), (3L, "c"))
      // a FRESH checkpoint re-sends EVERYTHING — the at-least-once
      // worst case — and external versioning leaves the state identical
      drain(java.nio.file.Files.createTempDirectory("graft-essinkc2").toString)
      read(f).select($"id", $"v").as[(Long, String)].collect().toSet shouldBe
        Set((1L, "a"), (2L, "b2"), (3L, "c"))
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("short name + readmode=pit: format(\"graft-es\") scans via PIT with range pushdown") {
    val f = new EsFixture
    try {
      store(f).push((1L to 9L).map(i => (i, s"v$i", i)).toDF("id", "v", "m"))
      val df = spark.read.format("graft-es").schema(schema)
        .option("base", f.base).option("index", "docs")
        .option("wmcol", "m").option("slices", "2").option("pagesize", "2")
        .option("readmode", "pit")
        .load()
      df.where($"m" > 6L).select($"id").as[Long].collect().toSet shouldBe
        Set(7L, 8L, 9L)
      f.pitSearches should be >= 1
      f.rangesSeen.exists(_.contains("\"gt\":6")) shouldBe true
      f.pits shouldBe empty
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("streaming read under readmode=pit: brackets drain via PIT searches") {
    import org.apache.spark.sql.streaming.Trigger
    val f = new EsFixture
    try {
      store(f).push(Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L))
        .toDF("id", "v", "m"))
      val outDir = java.nio.file.Files.createTempDirectory("graft-espit-out").toString
      val q = spark.readStream.format("graft-es").schema(schema)
        .option("base", f.base).option("index", "docs")
        .option("wmcol", "m").option("slices", "2").option("pagesize", "2")
        .option("readmode", "pit")
        .load()
        .writeStream.format("parquet")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-espit-ck").toString)
        .option("path", s"$outDir/t")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$outDir/t").count() shouldBe 3
      f.pitSearches should be >= 1
      f.scrollContinuations shouldBe 0 // no scroll fallback
      f.pits shouldBe empty
      f.badRequests shouldBe 0
    } finally f.stop()
  }

  test("non-positive slices/pagesize/batchsize fail at load for both formats, naming the option") {
    // slices=0 used to plan zero partitions: an extract that silently
    // read nothing. Option parsing runs before any request is made,
    // so the base is never contacted.
    val cases = Seq("graft-es" -> "slices", "graft-es" -> "pagesize",
      "graft-es" -> "batchsize", "graft-http" -> "slices", "graft-http" -> "batchsize")
    for ((format, key) <- cases; bad <- Seq("0", "-1", "x")) {
      val e = the[IllegalArgumentException] thrownBy
        spark.read.format(format).schema(schema)
          .option("base", "http://127.0.0.1:1").option("index", "docs")
          .option("wmcol", "m").option(key, bad).load()
      withClue(s"$format $key=$bad: ") {
        e.getMessage should include(s"'$key'")
      }
    }
  }
}
