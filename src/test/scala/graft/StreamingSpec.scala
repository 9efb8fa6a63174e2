package graft

import graft.streaming.StreamOps
import graft.Tables
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions.{max, unix_micros}
import org.apache.spark.sql.streaming.Trigger

/** The streaming side of q42: the same windowedCounts transformation
  * applied through readStream + watermark must agree with the batch
  * application (which the DuckDB oracle verifies) on the same files.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Stage events parquet into a fresh dir (file streams want a dir). */
  private def stageEvents(): String = {
    val tmp = Files.createTempDirectory("graft-stream").toFile
    tmp.deleteOnExit()
    val src = Paths.get(sfDir, "events.parquet")
    if (Files.isDirectory(src)) {
      Files.list(src).forEach { p =>
        Files.copy(p, Paths.get(tmp.getPath, p.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
      }
    } else {
      Files.copy(src, Paths.get(tmp.getPath, "events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    tmp.getPath
  }

  private def eventsSchema =
    spark.read.parquet(Paths.get(sfDir, "events.parquet").toString).schema

  test("streaming windowed counts equal batch windowed counts") {
    val tmp = new java.io.File(stageEvents())
    val src = Paths.get(sfDir, "events.parquet")
    val schema = eventsSchema
    val stream = StreamOps.streamingWindowedCounts(
      StreamOps.readEventStream(spark, tmp.getPath, schema))

    val query = stream.writeStream
      .format("memory")
      .queryName("q42_stream_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val streamed = spark.table("q42_stream_test")
      .select($"win_start", $"event_type", $"n_events", $"total_value")
    val batch = StreamOps.windowedCounts(Tables.events(spark, sfDir))
      .select($"win_start", $"event_type", $"n_events", $"total_value")

    streamed.count() shouldBe batch.count()
    streamed.except(batch).count() shouldBe 0L
    batch.except(streamed).count() shouldBe 0L
  }

  test("streaming rolling active users equals batch q114 on closed observed days") {
    val dir = stageEvents()
    val stream = StreamOps.streamingRollingActive(
      StreamOps.readEventStream(spark, dir, eventsSchema), delay = "10 minutes")
    val query = stream.writeStream
      .format("memory")
      .queryName("q114_stream_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val streamed = spark.table("q114_stream_test")
      .select($"day", $"wau_7d").as[(java.sql.Timestamp, Long)]
      .collect().toMap

    val ev = Tables.events(spark, sfDir)
    val batch = graft.operators.Etl.rollingActiveUsers(ev)
      .select($"day", $"wau_7d").as[(java.sql.Timestamp, Long)]
      .collect().toMap
    // append mode emits CLOSED windows only: day D's trailing window
    // ends at D+1, which must be <= watermark (maxTs - delay); batch
    // emits observed days only — compare on the intersection, and it
    // must be non-trivial
    val maxTs = ev.agg(max($"ts")).head.getTimestamp(0).getTime
    val closed = batch.keySet.filter(d =>
      d.getTime + 7L * 86400000 - 6L * 86400000 <= maxTs - 10 * 60000)
    closed should not be empty
    closed.foreach { d =>
      withClue(s"day $d: ") { streamed.get(d) shouldBe Some(batch(d)) }
    }
    // and redelivery is a no-op: the stateful distinct absorbs it
    // (covered structurally — dropDuplicates keys on (window, user))
  }

  test("streaming dedup drops redelivered events within the watermark") {
    // stage the events file TWICE — an at-least-once source redelivery
    val dir = stageEvents()
    val first = new java.io.File(dir).listFiles().head
    Files.copy(first.toPath,
      Paths.get(dir, "redelivered-" + first.getName),
      StandardCopyOption.REPLACE_EXISTING)

    val stream = StreamOps.streamingDedup(
      StreamOps.readEventStream(spark, dir, eventsSchema))
    val query = stream.writeStream
      .format("memory")
      .queryName("dedup_stream_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val streamed = spark.table("dedup_stream_test")
    val expect = Tables.events(spark, sfDir).select("event_id").distinct().count()
    streamed.select("event_id").distinct().count() shouldBe expect
    streamed.count() shouldBe expect // no duplicate rows survive
  }

  test("stream-stream interval join equals the batch join") {
    val dir = stageEvents()
    val stream = StreamOps.streamingViewPurchaseJoin(
      StreamOps.readEventStream(spark, dir, eventsSchema))
    val query = stream.writeStream
      .format("memory")
      .queryName("join_stream_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val streamed = spark.table("join_stream_test")

    val ev = Tables.events(spark, sfDir)
    val batch = StreamOps.viewPurchaseJoin(
      ev.where($"event_type" === "view"),
      ev.where($"event_type" === "purchase"))

    streamed.count() shouldBe batch.count()
    streamed.except(batch).count() shouldBe 0L
    batch.except(streamed).count() shouldBe 0L
  }

  test("streaming upsert ingest equals one batch upsert, across micro-batches + redelivery") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // stage the events as FOUR files so AvailableNow + maxFilesPerTrigger=1
    // processes four micro-batches, plus a fifth file REDELIVERING 100
    // rows verbatim (at-least-once transport)
    val dir = Files.createTempDirectory("graft-ingest-src").toString
    Tables.events(spark, sfDir).repartition(4).write.mode("append").parquet(dir)
    Tables.events(spark, sfDir).limit(100).write.mode("append").parquet(dir)
    val table = Files.createTempDirectory("graft-ingest-out").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-ingest-ck").toString

    // staged files hold the NORMALIZED events (ts already timestamp),
    // so the stream schema comes from the staged files, not the raw
    // nanosecond source schema
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val query = StreamOps
      .streamingUpsertIngest(stream, table, keyCols = Seq("user_id"), versionCol = "event_id")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val got = graft.sources.ParquetUpsertSink.read(spark, table)
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    // one batch upsert of the whole input = latest event_id per user
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    val want = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    got shouldBe want
  }

  test("streaming decontamination: verbatim eval copies dropped, clean docs admitted, redelivery no-op") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val srcNum = org.apache.spark.sql.functions
      .substring(col("source"), 4, 10).cast("int")
    val train = docs.where(srcNum < 10)
    val eval = docs.where(srcNum >= 10)
    // the frozen eval window store a release publishes once
    val winsDir = Files.createTempDirectory("graft-decon-wins").toString + "/wins"
    graft.operators.Dedup.windowSignatures(eval, n = 8)
      .write.parquet(winsDir)
    // stage the candidate train docs in two files + one redelivery
    val dir = Files.createTempDirectory("graft-decon-src").toString
    train.repartition(2).write.mode("append").parquet(dir)
    train.limit(20).write.mode("append").parquet(dir)
    val table = Files.createTempDirectory("graft-decon-out").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-decon-ck").toString

    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val query = StreamOps
      .streamingDecontaminate(stream, winsDir, table, threshold = 0.5)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val got = graft.sources.ParquetUpsertSink.read(spark, table)
      .select($"doc_id").as[Long].collect().toSet
    // batch equivalent: train minus docs memorizing >= half their windows
    val dropped = graft.operators.Dedup.memorizationRate(eval, train, n = 8)
      .where($"seen_rate" >= 0.5).select($"doc_id").as[Long].collect().toSet
    val want = train.select($"doc_id").as[Long].collect().toSet -- dropped
    got shouldBe want
    dropped should not be empty // the gate corpus does contain leaks
  }

  test("streaming DSIR selection: admitted set \u2261 batch threshold under frozen models, redelivery no-op") {
    import org.apache.spark.sql.functions.{col, substring}
    val docs = Tables.documents(spark, sfDir)
    val srcNum = substring(col("source"), 4, 10).cast("int")
    // frozen side models published once over the full labeled corpus
    val countsDir = Files.createTempDirectory("graft-dsir-counts").toString + "/counts"
    graft.operators.Dsir.bucketCounts(
      graft.operators.Dsir.hashedFeatures(docs, srcNum >= 15, 10000))
      .write.parquet(countsDir)
    val cand = docs.where(srcNum < 15) // the raw pool arrives as a stream
    // threshold at a midpoint between two adjacent batch scores: the
    // gate is non-trivial both ways AND no doc sits within float noise
    // of the boundary (per-doc sums may associate differently per path)
    val scores = graft.operators.Dsir
      .importanceWeightsUnder(cand, spark.read.parquet(countsDir), 10000)
      .select($"doc_id", $"log_w").as[(Long, Double)].collect()
    val sorted = scores.map(_._2).sorted
    // review fix: duplicate scores (the corpus has replicas) can make
    // the two middle values EQUAL, putting docs exactly on the
    // boundary — pick instead the real gap (> 1e-6) nearest the
    // median and split it
    val mid = sorted.length / 2
    val gaps = (1 until sorted.length)
      .map(i => (sorted(i) - sorted(i - 1), i))
      .filter { case (gap, _) => gap > 1e-6 }
    gaps should not be empty // scores genuinely vary on this corpus
    val cut = gaps.minBy { case (_, j) => math.abs(j - mid) }._2
    val minLogW = (sorted(cut) + sorted(cut - 1)) / 2.0
    // stage candidates in two files + one redelivery
    val dir = Files.createTempDirectory("graft-dsir-src").toString
    cand.repartition(2).write.mode("append").parquet(dir)
    cand.limit(20).write.mode("append").parquet(dir)
    val table = Files.createTempDirectory("graft-dsir-out").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-dsir-ck").toString

    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val query = StreamOps
      .streamingDsirSelect(stream, countsDir, table, minLogW)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val got = graft.sources.ParquetUpsertSink.read(spark, table)
      .select($"doc_id").as[Long].collect().toSet
    // batch equivalent: threshold the same frozen-model scores
    val want = scores.filter(_._2 >= minLogW).map(_._1).toSet
    got shouldBe want
    // the gate is non-trivial both ways on the testdata corpus
    want should not be empty
    (cand.select($"doc_id").as[Long].collect().toSet -- want) should not be empty
  }

  test("streaming LM selection: admitted set ≡ batch perplexity threshold under frozen models, redelivery + unscoreable-doc contract") {
    import org.apache.spark.sql.functions.{col, lit, substring}
    val docs = Tables.documents(spark, sfDir)
    val srcNum = substring(col("source"), 4, 10).cast("int")
    // the target LM published once over the labeled slice (q154's model)
    val base = Files.createTempDirectory("graft-lm-models").toString
    graft.operators.Text.lmBigramCounts(docs, srcNum >= 15)
      .write.parquet(base + "/bg")
    graft.operators.Text.lmVocab(docs, srcNum >= 15)
      .write.parquet(base + "/vocab")
    val cand = docs.where(srcNum < 15) // the raw pool arrives as a stream
    val scores = graft.operators.Text.lmPerplexityUnder(cand,
      spark.read.parquet(base + "/bg"), spark.read.parquet(base + "/vocab"))
      .select($"doc_id", $"ppl").as[(Long, Double)].collect()
    // threshold at a real gap near the median: non-trivial both ways,
    // no doc within float noise of the boundary (the DSIR trick)
    val sorted = scores.map(_._2).sorted
    val mid = sorted.length / 2
    val gaps = (1 until sorted.length)
      .map(i => (sorted(i) - sorted(i - 1), i)).filter(_._1 > 1e-6)
    gaps should not be empty
    val cut = gaps.minBy { case (_, j) => math.abs(j - mid) }._2
    val maxPpl = (sorted(cut) + sorted(cut - 1)) / 2.0
    // stage candidates in two files + one redelivery + one UNSCOREABLE
    // doc (a single word has no bigram, hence no score)
    val dir = Files.createTempDirectory("graft-lm-src").toString
    cand.repartition(2).write.mode("append").parquet(dir)
    cand.limit(20).write.mode("append").parquet(dir)
    cand.limit(1).withColumn("doc_id", lit(999999999L))
      .withColumn("text", lit("solo")).write.mode("append").parquet(dir)
    val table = Files.createTempDirectory("graft-lm-out").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-lm-ck").toString
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val query = StreamOps
      .streamingLmSelect(stream, base + "/bg", base + "/vocab", table, maxPpl)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val got = graft.sources.ParquetUpsertSink.read(spark, table)
      .select($"doc_id").as[Long].collect().toSet
    val want = scores.filter(_._2 <= maxPpl).map(_._1).toSet
    got shouldBe want
    // the gate is non-trivial both ways, and the unscoreable doc was
    // NOT admitted (no bigrams → no score → no demonstration of
    // target-likeness)
    want should not be empty
    (cand.select($"doc_id").as[Long].collect().toSet -- want) should not be empty
    got should not contain 999999999L
  }

  test("streaming LM selection freezes the model at construction: a mid-stream republish does not change scoring") {
    import org.apache.spark.sql.functions.{col, lit, substring}
    val docs = Tables.documents(spark, sfDir)
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val base = Files.createTempDirectory("graft-lm-frz").toString
    graft.operators.Text.lmBigramCounts(docs, srcNum >= 15)
      .write.parquet(base + "/bg")
    graft.operators.Text.lmVocab(docs, srcNum >= 15)
      .write.parquet(base + "/vocab")
    // deterministic subset (key-hash filter, not limit())
    val cand = docs.where(srcNum < 15 && $"doc_id" % 20 === 0)
    def scoresUnder(bg: org.apache.spark.sql.DataFrame) =
      graft.operators.Text.lmPerplexityUnder(cand, bg,
        spark.read.parquet(base + "/vocab"))
        .select($"doc_id", $"ppl").as[(Long, Double)].collect()
    val scores = scoresUnder(spark.read.parquet(base + "/bg"))
    val sorted = scores.map(_._2).sorted
    val mid = sorted.length / 2
    val gaps = (1 until sorted.length)
      .map(i => (sorted(i) - sorted(i - 1), i)).filter(_._1 > 1e-6)
    val cut = gaps.minBy { case (_, j) => math.abs(j - mid) }._2
    val maxPpl = (sorted(cut) + sorted(cut - 1)) / 2.0
    val dir = Files.createTempDirectory("graft-lm-frz-src").toString + "/in"
    cand.write.parquet(dir)
    val table = Files.createTempDirectory("graft-lm-frz-out").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-lm-frz-ck").toString
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    // construct the writer (the localCheckpoint freeze happens HERE) …
    val writer = StreamOps
      .streamingLmSelect(stream, base + "/bg", base + "/vocab", table, maxPpl)
    // … then republish a degenerate model before any batch runs: with
    // every count collapsed to 1 the scores — and the admitted set —
    // would change (assert non-vacuously below)
    val sabotaged = spark.read.parquet(base + "/bg")
      .select($"bg", lit(1L).as("cbg"))
      .localCheckpoint() // materialize before overwriting our own input
    sabotaged.write.mode("overwrite").parquet(base + "/bg")
    val wantSabotaged = scoresUnder(sabotaged)
      .filter(_._2 <= maxPpl).map(_._1).toSet
    val query = writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination(120000)
    val got = graft.sources.ParquetUpsertSink.read(spark, table)
      .select($"doc_id").as[Long].collect().toSet
    // admitted set matches the ORIGINAL model's threshold, proving the
    // freeze — and the sabotaged model would have admitted differently
    val want = scores.filter(_._2 <= maxPpl).map(_._1).toSet
    got shouldBe want
    wantSabotaged should not be want
  }

  test("streaming DSIR selection snapshots the side models at construction: a mid-stream republish does not change scoring") {
    import org.apache.spark.sql.functions.{col, substring}
    val docs = Tables.documents(spark, sfDir)
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val countsDir = Files.createTempDirectory("graft-dsir-frz").toString + "/counts"
    graft.operators.Dsir.bucketCounts(
      graft.operators.Dsir.hashedFeatures(docs, srcNum >= 15, 10000))
      .write.parquet(countsDir)
    // deterministic subset (limit() may pick different rows per
    // evaluation; a key-hash filter cannot)
    val cand = docs.where(srcNum < 15 && $"doc_id" % 20 === 0)
    val scores = graft.operators.Dsir
      .importanceWeightsUnder(cand, spark.read.parquet(countsDir), 10000)
      .select($"doc_id", $"log_w").as[(Long, Double)].collect()
    val sorted = scores.map(_._2).sorted
    val mid = sorted.length / 2
    val gaps = (1 until sorted.length)
      .map(i => (sorted(i) - sorted(i - 1), i)).filter(_._1 > 1e-6)
    val cut = gaps.minBy { case (_, j) => math.abs(j - mid) }._2
    val minLogW = (sorted(cut) + sorted(cut - 1)) / 2.0
    val dir = Files.createTempDirectory("graft-dsir-frz-src").toString + "/in"
    cand.write.parquet(dir)
    val table = Files.createTempDirectory("graft-dsir-frz-out").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-dsir-frz-ck").toString
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    // construct the writer (model snapshot happens HERE) …
    val writer = StreamOps.streamingDsirSelect(stream, countsDir, table, minLogW)
    // … then sabotage the published table before any batch runs: an
    // all-target republish would flip every raw doc's score upward
    import org.apache.spark.sql.functions.lit
    spark.read.parquet(countsDir)
      .select($"b", ($"ct" + $"cr").as("ct"), lit(0L).as("cr"))
      .localCheckpoint() // materialize before overwriting our own input
      .write.mode("overwrite").parquet(countsDir)
    val query = writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination(120000)
    val got = graft.sources.ParquetUpsertSink.read(spark, table)
      .select($"doc_id").as[Long].collect().toSet
    // admitted set matches the ORIGINAL model's threshold, proving the
    // snapshot — under the sabotaged model every doc would score higher
    val want = scores.filter(_._2 >= minLogW).map(_._1).toSet
    got shouldBe want
  }

  test("streaming length-drift monitor: self-batch ≡ q156's self-drift, truncation trips the gate") {
    import org.apache.spark.sql.functions.{array_join, col, slice}
    import graft.functions.words
    val docs = Tables.documents(spark, sfDir)
    val base = Files.createTempDirectory("graft-ksdrift").toString
    graft.operators.Text.exportLengthBaseline(docs, base + "/baseline")
    // scenario 1: the stream IS the baseline corpus in one batch —
    // scoring against the external baseline must reproduce q156's
    // self-drift numbers exactly (same grid, same integer products)
    val dir1 = base + "/in1"
    docs.write.parquet(dir1)
    val t1 = base + "/out1"
    val q1 = StreamOps.streamingLengthDrift(
        spark.readStream.schema(spark.read.parquet(dir1).schema).parquet(dir1),
        base + "/baseline", t1, ksThreshold = 0.3)
      .option("checkpointLocation", base + "/ck1")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(120000)
    val got = graft.sources.ParquetUpsertSink.read(spark, t1)
      .select($"source", $"n_docs", $"ks", $"drifted")
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val want = graft.operators.Text.lengthDrift(docs)
      .select($"source", $"n_docs", $"ks")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    got.keySet shouldBe want.keySet
    want.foreach { case (src, (_, n, ks)) =>
      got(src)._2 shouldBe n
      got(src)._3 shouldBe ks // identical arithmetic, exact
      got(src)._4 shouldBe false // a corpus does not drift from itself
    }
    // scenario 2: a truncation regression — every doc cut to its
    // first 2 words — must trip every source's gate within the batch
    val dir2 = base + "/in2"
    docs.withColumn("text", array_join(slice(words(col("text")), 1, 2), " "))
      .write.parquet(dir2)
    val t2 = base + "/out2"
    val q2 = StreamOps.streamingLengthDrift(
        spark.readStream.schema(spark.read.parquet(dir2).schema).parquet(dir2),
        base + "/baseline", t2, ksThreshold = 0.3)
      .option("checkpointLocation", base + "/ck2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val tripped = graft.sources.ParquetUpsertSink.read(spark, t2)
      .select($"source", $"ks", $"drifted")
      .as[(String, Double, Boolean)].collect()
    tripped should not be empty
    tripped.foreach { case (_, ks, drifted) =>
      ks should be > 0.3
      drifted shouldBe true
    }
  }

  test("vocab-novelty ingest: first-batch-wins store, exact rates, redelivery reproduces the verdict") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val docs = Tables.documents(spark, sfDir)
    val base = Files.createTempDirectory("graft-novelty").toString
    val store = base + "/grams"
    val b0 = docs.where($"doc_id" % 3 === 0)
    val b1 = docs.where($"doc_id" % 3 =!= 0)
    def distinctGrams(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.ngrams(df, 3)
        .select(xxhash64(col("shingle")).as("gh")).distinct()
        .as[Long].collect().toSet
    val g0 = distinctGrams(b0)
    val g1 = distinctGrams(b1)
    // batch 0: everything is new
    val v0 = graft.operators.Text.vocabNoveltyIngest(store, b0, 0L)
      .as[(Long, Long, Long, Double)].head()
    v0 shouldBe ((0L, g0.size.toLong, g0.size.toLong, 1.0))
    // batch 1: novelty = grams not already owned by batch 0
    val v1 = graft.operators.Text.vocabNoveltyIngest(store, b1, 1L)
      .as[(Long, Long, Long, Double)].head()
    v1._2 shouldBe g1.size.toLong
    v1._3 shouldBe (g1 -- g0).size.toLong
    // the store now holds exactly the union, each gram owned by its
    // FIRST batch
    val owned = graft.sources.ParquetUpsertSink.read(spark, store)
      .select($"gh", $"first_batch").as[(Long, Long)].collect().toMap
    owned.keySet shouldBe (g0 ++ g1)
    g0.foreach(g => owned(g) shouldBe 0L)
    (g1 -- g0).foreach(g => owned(g) shouldBe 1L)
    // redelivery of batch 1 is a store no-op AND reproduces the
    // original verdict (read from the store, not batch state) — and
    // the monitor runs a BOUNDED number of jobs per batch: gram
    // checkpoint + ONE combined verdict aggregate + the upsert (whose
    // sink runs its own small fixed job set). r17's shape ran the
    // gram table through three separate count actions; this pin
    // keeps the consolidation from regressing.
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actions.incrementAndGet(); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val v1again =
      try {
        val v = graft.operators.Text.vocabNoveltyIngest(store, b1, 1L)
          .as[(Long, Long, Long, Double)].head()
        Thread.sleep(500) // let queued listener events drain
        v
      } finally spark.sparkContext.removeSparkListener(l)
    v1again shouldBe v1
    withClue(s"SQL actions per ingest batch: ${actions.get()}") {
      actions.get() should be <= 5
    }
    // the streaming wrapper lands the same verdicts keyed by batch
    val dir = base + "/in"
    // coalesce(1): one FILE per logical batch, so maxFilesPerTrigger=1
    // delivers exactly the two batches (in either order — the sum
    // assertions below are order-independent)
    b0.coalesce(1).write.mode("append").parquet(dir)
    b1.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.streamingVocabNovelty(stream, base + "/sgrams", base + "/verdicts")
      .option("checkpointLocation", base + "/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val verdicts = graft.sources.ParquetUpsertSink.read(spark, base + "/verdicts")
      .select($"batch_id", $"n_grams", $"new_grams")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    verdicts.map(_._2).sum shouldBe (g0.size + g1.size).toLong // each batch counted once
    verdicts.map(_._3).sum shouldBe (g0 ++ g1).size.toLong // novelty partitions the union
    graft.sources.ParquetUpsertSink.read(spark, base + "/sgrams")
      .count() shouldBe (g0 ++ g1).size.toLong
  }

  test("streaming sinks with a _rev scratch column fail at construction, before any batch runs") {
    val dir = Files.createTempDirectory("graft-rev-src").toString + "/in"
    Tables.documents(spark, sfDir).limit(5)
      .withColumn("_rev", org.apache.spark.sql.functions.lit(1L))
      .write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val out = Files.createTempDirectory("graft-rev-out").toString
    // the four selectors and the near-dedup ingest validate the STATIC
    // stream schema eagerly — the require fires here, not mid-checkpoint
    an[IllegalArgumentException] should be thrownBy
      StreamOps.streamingDecontaminate(stream, out + "/w", out + "/t", 0.5)
    an[IllegalArgumentException] should be thrownBy
      StreamOps.streamingDsirSelect(stream, out + "/c", out + "/t", 0.0)
    an[IllegalArgumentException] should be thrownBy
      StreamOps.streamingBloomDecontaminate(stream, out + "/a", out + "/t")
    an[IllegalArgumentException] should be thrownBy
      StreamOps.streamingLmSelect(stream, out + "/bg", out + "/v", out + "/t", 100.0)
    an[IllegalArgumentException] should be thrownBy
      StreamOps.streamingNearDedupIngest(stream, out + "/d", out + "/s", 0.5)
  }

  test("streaming bloom decontamination: admitted set ≡ exact fingerprint anti-join, redelivery no-op") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val srcNum = org.apache.spark.sql.functions
      .substring(col("source"), 4, 10).cast("int")
    val train = docs.where(srcNum < 10)
    val eval = docs.where(srcNum >= 10)
    // the frozen eval artifacts a release publishes once: exact
    // fingerprint set + the 1-row bloom pre-screen
    val artDir = Files.createTempDirectory("graft-bloomgate-art").toString
    graft.operators.Dedup.exportEvalFingerprints(eval, artDir)
    // stage train docs in two files + one redelivery
    val dir = Files.createTempDirectory("graft-bloomgate-src").toString
    train.repartition(2).write.mode("append").parquet(dir)
    train.limit(20).write.mode("append").parquet(dir)
    val table = Files.createTempDirectory("graft-bloomgate-out").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-bloomgate-ck").toString

    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val query = StreamOps
      .streamingBloomDecontaminate(stream, artDir, table)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val got = graft.sources.ParquetUpsertSink.read(spark, table)
      .select($"doc_id").as[Long].collect().toSet
    // batch equivalent: exact fingerprint anti-join against the eval set
    val evalFps = graft.operators.Dedup.fingerprints(eval)
      .select($"fp").distinct()
    val want = train.join(
        graft.operators.Dedup.fingerprints(train).join(evalFps, "fp"),
        Seq("doc_id"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    got shouldBe want
    // the gate corpus plants cross-boundary near-dup fingerprint hits
    (train.select($"doc_id").as[Long].collect().toSet -- want) should not be empty
  }

  test("streaming transitions match the batch lead-window pairing") {
    val dir = stageEvents()
    // idle timeout far beyond the corpus span: the spec pins exact
    // batch equivalence; the production default (4h) trades chains
    // across idle horizons for bounded state
    val stream = StreamOps.streamingTransitions(
      StreamOps.readEventStream(spark, dir, eventsSchema),
      idleTimeoutMinutes = 365L * 24 * 60)
    val query = stream.writeStream
      .format("memory")
      .queryName("q141_stream_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val streamed = spark.table("q141_stream_test")
      .as[graft.streaming.TransPair].collect()
    // independent batch reference: per-user (ts, event_id)-sorted
    // successor pairs among events the final watermark RELEASED
    // (buffered tail events inside the delay never emit), plain Scala
    val evs = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val wmFinal = evs.map(_._3).max / 1000 - 3600L * 1000
    val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
      es.filter(_._3 / 1000 <= wmFinal)
        .sortBy(e => (e._3, e._2)).toList.sliding(2).collect {
          case List(a, b) => graft.streaming.TransPair(u, a._4, b._4, b._3)
        }
    }.toSeq
    // MULTISET compare — a set would mask multiplicity divergence on
    // duplicate (user, prev, next, ts) pairs
    def counts(xs: Iterable[graft.streaming.TransPair]) =
      xs.groupBy(identity).map { case (k, v) => k -> v.size }
    counts(streamed) shouldBe counts(expected)
    expected.size should be > 0
  }

  test("anomaly moments saturate at the Long-exactness bound instead of wrapping") {
    import graft.streaming.{AnomState, StreamOps}
    // normal fold: moments advance, day leaves the open set
    StreamOps.foldDay(AnomState(2, 10, 60, Map(5L -> 7L), 0), 5, 7) shouldBe
      AnomState(3, 17, 109, Map.empty, 6)
    // Σn bound: a fold pushing Σn past 3e9 freezes the history but
    // still closes the day (frontier advances)
    val f1 = StreamOps.foldDay(AnomState(10, 2999999999L, 1000, Map(9L -> 2L), 0), 9, 2)
    (f1.k, f1.s1, f1.closedThrough, f1.openDays) shouldBe ((10L, 2999999999L, 10L, Map.empty))
    // k·Σn² bound: the verdict's product must stay in Long
    val f2 = StreamOps.foldDay(
      AnomState(4, 100, Long.MaxValue / 5, Map(9L -> 1000000L), 0), 9, 1000000L)
    (f2.k, f2.s2) shouldBe ((4L, Long.MaxValue / 5))
    // a single day too large to square freezes rather than wraps
    StreamOps.foldDay(AnomState(0, 0, 0, Map(9L -> 4000000000L), 0), 9, 4000000000L)
      .k shouldBe 0L
  }

  test("streaming anomaly: expanding-history z per closed day, bit-equal to the batch fold") {
    val dir = stageEvents()
    val stream = StreamOps.streamingAnomaly(
      StreamOps.readEventStream(spark, dir, eventsSchema))
    val query = stream.writeStream
      .format("memory")
      .queryName("q142_stream_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val streamed = spark.table("q142_stream_test")
      .as[graft.streaming.AnomOut].collect().toSet

    // independent reference: per type, days close once the final
    // watermark (global max event ms − 1h delay) passes their end,
    // each scored against the prefix moments with q142's formula —
    // same integer inputs, same JVM double ops, so equality is exact
    val evs = Tables.events(spark, sfDir)
      .select($"event_type", unix_micros($"ts").as("ts_us"))
      .as[(String, Long)].collect()
    val usPerDay = 86400000000L
    val wmFinal = evs.map(_._2).max / 1000 - 3600L * 1000
    val expected = evs.groupBy(_._1).flatMap { case (t, es) =>
      val byDay = es.groupBy(_._2 / usPerDay)
        .map { case (d, xs) => d -> xs.length.toLong }
      var (k, s1, s2) = (0L, 0L, 0L)
      byDay.keys.toSeq.sorted.collect { case d if (d + 1) * 86400000L <= wmFinal =>
        val n = byDay(d)
        val out = if (k >= 2 && k * s2 > s1 * s1) {
          val mean = s1.toDouble / k
          val vr = (s2.toDouble - s1.toDouble * s1 / k) / (k - 1)
          val z = math.round((n - mean) / math.sqrt(vr) * 1e6)
          graft.streaming.AnomOut(t, d, n, Some(z), math.abs(z) >= 3000000L)
        } else graft.streaming.AnomOut(t, d, n, None, false)
        k += 1; s1 += n; s2 += n * n
        out
      }
    }.toSet
    streamed shouldBe expected
    // the corpus closes most days and scores all but the first two
    expected.size should be > 0
    expected.count(_.z_e6.isDefined) should be > 0
  }

  test("streaming sessionization matches batch gap sessions") {
    val dir = stageEvents()
    val stream = StreamOps.streamingSessionize(
      StreamOps.readEventStream(spark, dir, eventsSchema))

    val query = stream.writeStream
      .format("memory")
      .queryName("q24_stream_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val streamed = spark.table("q24_stream_test")
      .as[graft.streaming.SessionOut].collect().toSet

    // Expected sessions, computed independently in plain Scala with the
    // identical (ts, event_id) order and double-accumulation sequence.
    val gapUs = 30L * 60 * 1000000
    val evs = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"value")
      .as[(Long, Long, Long, Double)].collect()
    val expected = evs.groupBy(_._1).flatMap { case (user, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val sessions = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, Long, Double)]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      sorted.foreach { e =>
        if (cur.nonEmpty && e._3 - cur.last._3 > gapUs) {
          sessions += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty
        }
        cur += e
      }
      if (cur.nonEmpty) sessions += cur.toSeq
      sessions.map { s =>
        graft.streaming.SessionOut(user, s.head._3, s.last._3, s.size,
          s.last._3 - s.head._3, s.map(_._4).foldLeft(0.0)(_ + _))
      }
    }.toSet
    val openTails = expected.groupBy(_.user_id)
      .map { case (_, ss) => ss.maxBy(_.sess_start_us) }.toSet

    // every streamed session must be a true session; all closed
    // sessions must have been emitted; the open tails may or may not
    // have flushed depending on whether a timeout batch ran.
    (streamed -- expected) shouldBe empty
    (expected -- openTails -- streamed) shouldBe empty
    streamed.size should be >= (expected.size - openTails.size)
  }

  test("per-row quality gate runs statelessly in a stream and equals batch") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-gate-src").toString
    Tables.documents(spark, sfDir).repartition(2)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = graft.operators.Text.qualityGateRow(stream)
      .writeStream.format("memory").queryName("gate_stream_test")
      .outputMode("append") // stateless select: append needs no watermark
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("gate_stream_test")
      .select(col("doc_id"), col("keep"), col("drop_reasons"))
      .as[(Long, Boolean, String)].collect().toSet
    val batch = graft.operators.Text.qualityGate(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("keep"), col("drop_reasons"))
      .as[(Long, Boolean, String)].collect().toSet
    streamed shouldBe batch
  }

  test("streaming near-dedup ingest: stored docs win, in-batch dups collapse, redelivery is a no-op") {
    import org.apache.spark.sql.functions.col
    def text(tag: Int) = (0 until 20).map(j => s"t${tag}w$j").mkString(" ")
    // batch 1: doc 2 duplicates doc 1; doc 3 distinct
    val b1 = Seq((1L, text(1)), (2L, text(1)), (3L, text(3)))
    // batch 2: doc 4 duplicates STORED doc 1; doc 6 duplicates
    // in-batch doc 5 (admitted: {5})
    val b2 = Seq((4L, text(1)), (5L, text(5)), (6L, text(5)))
    val srcDir = Files.createTempDirectory("graft-neardedup-src").toString
    val docsPath = Files.createTempDirectory("graft-neardedup-docs").toString + "/docs"
    val sigsPath = Files.createTempDirectory("graft-neardedup-sigs").toString + "/sigs"
    def stage(rows: Seq[(Long, String)]): Unit =
      spark.createDataFrame(rows).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def runStream(): Unit = {
      val ckpt = Files.createTempDirectory("graft-neardedup-ck").toString
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = StreamOps
        .streamingNearDedupIngest(stream, docsPath, sigsPath, threshold = 0.5)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    stage(b1); stage(b2)
    runStream()
    def storedDocIds = graft.sources.ParquetUpsertSink.read(spark, docsPath)
      .select(col("doc_id")).as[Long].collect().toSet
    def storedSigIds = graft.sources.ParquetUpsertSink.read(spark, sigsPath)
      .select(col("doc_id")).as[Long].collect().toSet
    storedDocIds shouldBe Set(1L, 3L, 5L)
    storedSigIds shouldBe Set(1L, 3L, 5L)
    // at-least-once transport: redeliver batch 1 verbatim (fresh
    // checkpoint = the stream reprocesses everything) — same stores
    stage(b1)
    runStream()
    storedDocIds shouldBe Set(1L, 3L, 5L)
    storedSigIds shouldBe Set(1L, 3L, 5L)
  }

  test("streaming components ingest ≡ batch connectedComponents across batch splits + redelivery") {
    import org.apache.spark.sql.functions.col
    // batch 1 builds {1,2,3} and {10,11}; batch 2 bridges them via a
    // NEW node 5 (smaller than root 10's members but larger than 1)
    // and opens a fresh component {40,41}
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val b2 = Seq((3L, 5L), (5L, 10L), (40L, 41L))
    val srcDir = Files.createTempDirectory("graft-comps-src").toString
    val compsPath = Files.createTempDirectory("graft-comps").toString + "/comps"
    def stage(rows: Seq[(Long, Long)]): Unit =
      spark.createDataFrame(rows).toDF("d1", "d2")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def runStream(): Unit = {
      val ckpt = Files.createTempDirectory("graft-comps-ck").toString
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = StreamOps.streamingComponentsIngest(stream, compsPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    stage(b1); stage(b2)
    runStream()
    def stored = graft.sources.ParquetUpsertSink.read(spark, compsPath)
      .select(col("node"), col("component")).as[(Long, Long)].collect().toSet
    val batch = graft.operators.Cluster.connectedComponents(
        spark.createDataFrame(b1 ++ b2).toDF("d1", "d2"))
      .as[(Long, Long)].collect().toSet
    stored shouldBe batch
    // redeliver everything on a fresh checkpoint: replayed pairs
    // contract to self-edges, the store is untouched
    stage(b1)
    runStream()
    stored shouldBe batch
  }

  test("streaming cooc-store ingest ≡ one-shot build across batch splits + redelivery") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val docs = Tables.documents(spark, sfDir).localCheckpoint()
    val srcDir = Files.createTempDirectory("graft-cooc-src").toString
    val storeDir = Files.createTempDirectory("graft-cooc-store").toString + "/store"
    // three micro-batches by doc_id mod 3 (maxFilesPerTrigger=1 forces
    // the splits: batch 0 is the day-0 build, 1 and 2 are folds)
    (0 to 2).foreach(i => docs.where($"doc_id" % 3 === i)
      .coalesce(1).write.mode("append").parquet(srcDir))
    def runStream(): Unit = {
      val ckpt = Files.createTempDirectory("graft-cooc-ck").toString
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = StreamOps.streamingCoocIngest(stream, storeDir, maxShingleDf = 1024)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
    }
    runStream()
    val want = graft.operators.Dedup.buildCoocStore(docs, 1024, 0.5, 0.9)
      .cooc.localCheckpoint()
    def stored = graft.operators.Dedup.readCoocStore(spark, storeDir)
    want.count() should be > 0L
    stored.except(want).count() shouldBe 0L
    want.except(stored).count() shouldBe 0L
    // redeliver batch 0 on a fresh checkpoint: already-ingested docs
    // drop out up front, the store is bit-untouched
    docs.where($"doc_id" % 3 === 0).coalesce(1)
      .write.mode("append").parquet(srcDir)
    runStream()
    stored.except(want).count() shouldBe 0L
    want.except(stored).count() shouldBe 0L
  }

  test("streaming additive-KPI ingest: batch-keyed partials, view ≡ batch, replay converges") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Files.createTempDirectory("graft-kpi-src").toString
    val kpiPath = Files.createTempDirectory("graft-kpi").toString + "/kpi"
    // two micro-batches of events (split by id parity)
    val ev = Tables.events(spark, sfDir).limit(2000).localCheckpoint()
    ev.where($"event_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(srcDir)
    ev.where($"event_id" % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(srcDir)
    def runStream(): Unit = {
      val ckpt = Files.createTempDirectory("graft-kpi-ck").toString
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = StreamOps.streamingKpiIngest(stream, kpiPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runStream()
    val want = graft.operators.Etl.dailyCounts(ev)
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    def got = StreamOps.readDailyCounts(spark, kpiPath)
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    got shouldBe want
    // identical-boundary replay (fresh checkpoint, same file order):
    // every batch overwrites its OWN partials — the view is unchanged,
    // where a plain additive merge would have doubled every count
    runStream()
    got shouldBe want
  }

  test("streaming jx aggregation equals the batch jx query on the same data") {
    import graft.jx.JxCompiler
    // the jx dashboard shape over a live stream: filter + calendar
    // bucket + per-type sums; floor(ts, day) compiles to a streaming
    // window() whose start matches batch date_trunc
    val jx = """{"from": "events",
                 "where": {"in": {"event_type": ["click", "view"]}},
                 "groupby": [{"name": "day", "value": {"floor": ["ts", "day"]}},
                             "event_type"],
                 "select": [{"name": "n", "aggregate": "count"},
                            {"name": "total", "value": "value", "aggregate": "sum"}]}"""
    val dir = stageEvents()
    val streamed = JxCompiler.queryStream(
      StreamOps.readEventStream(spark, dir, eventsSchema),
      jx, eventTime = "ts", delay = "1 hour")
    val q = streamed.writeStream
      .format("memory").queryName("jx_stream_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("jx_stream_test")
    val want = JxCompiler.query(spark, sfDir, jx)
    got.columns.toSeq shouldBe want.columns.toSeq
    got.count() shouldBe want.count()
    got.except(want).count() shouldBe 0L
    want.except(got).count() shouldBe 0L
  }

  test("streaming jx: stateless filter/project needs no watermark; batch-only clauses reject") {
    import graft.jx.JxCompiler
    val dir = stageEvents()
    val src = StreamOps.readEventStream(spark, dir, eventsSchema)
    val flat = JxCompiler.queryStream(src,
      """{"from": "events", "where": {"gte": {"value": 90}},
          "select": ["event_id", {"name": "v2", "value": {"mult": ["value", 2]}}]}""")
    flat.isStreaming shouldBe true
    flat.columns.toSeq shouldBe Seq("event_id", "v2")
    for (clause <- Seq(""""edges": ["event_type"]""", """"sort": ["ts"]""",
        """"limit": 5""", """"format": "cube"""")) {
      val e = intercept[IllegalArgumentException] {
        JxCompiler.queryStream(src, s"""{"from": "events", $clause}""")
      }
      e.getMessage should include("streaming")
    }
    val e2 = intercept[IllegalArgumentException] {
      JxCompiler.queryStream(src,
        """{"from": "events", "groupby": ["event_type"],
            "select": [{"name": "u", "value": "user_id", "aggregate": "cardinality"}]}""",
        eventTime = "ts")
    }
    e2.getMessage should include("cardinality")
    // the transport formats reject, but "nested" is a stateless
    // per-row struct assembly — allowed, and the stream stays a stream
    val nested = JxCompiler.queryStream(src,
      """{"from": "events", "where": {"gte": {"value": 90}},
          "select": ["event_id",
                     {"name": "meta.type", "value": "event_type"},
                     {"name": "meta.user", "value": "user_id"}],
          "format": "nested"}""")
    nested.isStreaming shouldBe true
    nested.columns.toSeq shouldBe Seq("event_id", "meta")
    nested.schema("meta").dataType shouldBe a[org.apache.spark.sql.types.StructType]
  }

  test("stateful operators hold under the RocksDB state store (deployment default for large key spaces)") {
    // The default HDFS-backed state store keeps every key in executor
    // heap — fine for the suite, wrong for a 100 TB deployment where
    // dedup/session state is billions of keys. RocksDB spills state
    // to local disk with incremental checkpointing; this re-runs the
    // three state shapes (agg state, dedup state,
    // flatMapGroupsWithState) under it and pins batch-equivalence.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // windowed aggregation state ≡ batch
      val dir1 = stageEvents()
      val q1 = StreamOps.streamingWindowedCounts(
        StreamOps.readEventStream(spark, dir1, eventsSchema))
        .writeStream.format("memory").queryName("rocks_q42")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination(120000)
      val streamed = spark.table("rocks_q42")
        .select($"win_start", $"event_type", $"n_events", $"total_value")
      val batch = StreamOps.windowedCounts(Tables.events(spark, sfDir))
        .select($"win_start", $"event_type", $"n_events", $"total_value")
      streamed.except(batch).count() shouldBe 0L
      batch.except(streamed).count() shouldBe 0L

      // dedup state under redelivery: exact distinct survives
      val dir2 = stageEvents()
      val first = new java.io.File(dir2).listFiles().head
      Files.copy(first.toPath, Paths.get(dir2, "redelivered-" + first.getName),
        StandardCopyOption.REPLACE_EXISTING)
      val q2 = StreamOps.streamingDedup(
        StreamOps.readEventStream(spark, dir2, eventsSchema))
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(120000)
      val expect = Tables.events(spark, sfDir).select("event_id").distinct().count()
      spark.table("rocks_dedup").count() shouldBe expect

      // flatMapGroupsWithState session state: emitted sessions are
      // well-formed and cover the input (closed sessions all flush)
      val dir3 = stageEvents()
      val q3 = StreamOps.streamingSessionize(
        StreamOps.readEventStream(spark, dir3, eventsSchema))
        .writeStream.format("memory").queryName("rocks_sess")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination(120000)
      val sess = spark.table("rocks_sess").as[graft.streaming.SessionOut].collect()
      sess.length should be > 0
      sess.foreach { so =>
        so.sess_end_us should be >= so.sess_start_us
        so.n_events.toLong should be >= 1L
      }

      // transition-chain state: per user, pairs = released − 1
      // (events the final watermark never released stay buffered)
      val dir4 = stageEvents()
      val q4 = StreamOps.streamingTransitions(
        StreamOps.readEventStream(spark, dir4, eventsSchema),
        idleTimeoutMinutes = 365L * 24 * 60)
        .writeStream.format("memory").queryName("rocks_trans")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q4.awaitTermination(120000)
      val evd = Tables.events(spark, sfDir)
        .select($"user_id", unix_micros($"ts").as("ts_us"))
        .as[(Long, Long)].collect()
      val wmF = evd.map(_._2).max / 1000 - 3600L * 1000
      val want = evd.groupBy(_._1).values
        .map(es => math.max(0, es.count(_._2 / 1000 <= wmF) - 1)).sum
      spark.table("rocks_trans").count() shouldBe want.toLong
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming vocab sketches equal the batch sketches byte-for-byte") {
    // theta union is a deterministic function of the key SET, so the
    // stream's final compact sketches must be IDENTICAL to the batch
    // artifact — not merely close — whatever the micro-batch split
    val tmp = Files.createTempDirectory("graft-stream-docs").toFile
    tmp.deleteOnExit()
    val src = Paths.get(sfDir, "documents.parquet")
    if (Files.isDirectory(src)) {
      Files.list(src).forEach { p =>
        Files.copy(p, Paths.get(tmp.getPath, p.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
      }
    } else {
      Files.copy(src, Paths.get(tmp.getPath, "documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val schema = spark.read.parquet(src.toString).schema
    // 2-file splits force multiple micro-batches under AvailableNow
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp.getPath)
    val q = StreamOps.streamingVocabSketches(stream)
      .writeStream.format("memory").queryName("vocab_sk_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("vocab_sk_stream")
      .select($"source", $"sk", $"n_tokens")
      .as[(String, Array[Byte], Long)].collect()
      .map { case (s, b, n) => s -> ((b.toSeq, n)) }.toMap
    val batch = graft.operators.Text
      .sourceVocabSketches(Tables.documents(spark, sfDir))
      .select($"source", $"sk", $"n_tokens")
      .as[(String, Array[Byte], Long)].collect()
      .map { case (s, b, n) => s -> ((b.toSeq, n)) }.toMap
    streamed.keySet shouldBe batch.keySet
    streamed.foreach { case (s, (bytes, n)) =>
      withClue(s"source $s: ") {
        bytes shouldBe batch(s)._1
        n shouldBe batch(s)._2
      }
    }
  }
}
