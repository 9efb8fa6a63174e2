package graft

import graft.operators.Hierarchy
import graft.sources.EtlPipeline

/** End-to-end test of the reference's main loop (extract → patch
  * hierarchy → push → commit) across process "runs", including the
  * crash window between push and commit.
  */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir() = java.nio.file.Files.createTempDirectory("graft-etl").toString

  test("incremental runs converge to the full closure, pushing only deltas") {
    val base = tmpDir()
    val dest = base + "/closure"
    val bm = base + "/wm"

    // run 1: the initial graph (a small tree), modified at t<=150
    val edges1 = Seq((10L, 1L, 100L), (11L, 1L, 100L), (12L, 10L, 150L))
      .toDF("child", "parent", "m")
    val r1 = EtlPipeline.run(spark, edges1, "m", dest, bm, numBuckets = 4)
    r1.extracted shouldBe 3
    r1.watermark shouldBe Some(150L)
    val closure1 = Hierarchy.closure(edges1.select($"child", $"parent"))
      .as[(Long, Long, Int)].collect().toSet
    EtlPipeline.readClosure(spark, dest)
      .as[(Long, Long, Int)].collect().toSet shouldBe closure1

    // run 2: two later edges — one SHORTENS (1,12) from depth 2 to 1,
    // one extends the graph. Only the delta may reach the sink.
    val edges2 = edges1.union(
      Seq((12L, 1L, 200L), (13L, 12L, 220L)).toDF("child", "parent", "m"))
    val r2 = EtlPipeline.run(spark, edges2, "m", dest, bm, numBuckets = 4)
    r2.extracted shouldBe 2
    r2.watermark shouldBe Some(220L)
    val want = Hierarchy.closure(edges2.select($"child", $"parent"))
      .as[(Long, Long, Int)].collect().toSet
    EtlPipeline.readClosure(spark, dest)
      .as[(Long, Long, Int)].collect().toSet shouldBe want
    want should contain((1L, 12L, 1)) // the shortened depth
    r2.pushed shouldBe (want -- closure1).size.toLong // delta-only push

    // run 3: unchanged source → extract empty, nothing pushed
    val r3 = EtlPipeline.run(spark, edges2, "m", dest, bm, numBuckets = 4)
    r3.extracted shouldBe 0
    r3.pushed shouldBe 0
    EtlPipeline.readClosure(spark, dest)
      .as[(Long, Long, Int)].collect().toSet shouldBe want
  }

  test("crash between push and commit: rerun is an exactly-once effect") {
    val base = tmpDir()
    val dest = base + "/closure"
    val bm = base + "/wm"
    val edges1 = Seq((10L, 1L, 100L), (11L, 1L, 100L)).toDF("child", "parent", "m")
    val r1 = EtlPipeline.run(spark, edges1, "m", dest, bm, numBuckets = 4)
    val edges2 = edges1.union(Seq((12L, 10L, 200L)).toDF("child", "parent", "m"))
    val r2 = EtlPipeline.run(spark, edges2, "m", dest, bm, numBuckets = 4)
    r2.pushed should be > 0L
    val settled = EtlPipeline.readClosure(spark, dest)
      .as[(Long, Long, Int)].collect().toSet

    // simulate the crash: run 2's push landed but its commit was lost —
    // rewind the bookmark sidecar to run 1's watermark (through the
    // hadoop FS so its .crc checksum sidecar stays consistent)
    locally {
      val p = new org.apache.hadoop.fs.Path(bm)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(r1.watermark.get.toString.getBytes("UTF-8"))
      finally out.close()
    }
    val rerun = EtlPipeline.run(spark, edges2, "m", dest, bm, numBuckets = 4)
    rerun.extracted shouldBe 1 // the same window re-extracts (at-least-once)
    rerun.pushed shouldBe 0 // ... but the stored closure already has it
    rerun.watermark shouldBe r2.watermark // and the commit completes
    EtlPipeline.readClosure(spark, dest)
      .as[(Long, Long, Int)].collect().toSet shouldBe settled
  }

  test("the loop as a stream: micro-batched edges converge to the batch closure, redelivery no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = tmpDir()
    val srcDir = s"$base/src"
    val dest = s"$base/closure"
    // two micro-batches: the chain grows, then an edge SHORTENS a path
    val b1 = Seq((10L, 1L), (11L, 1L), (12L, 10L)).toDF("child", "parent")
    val b2 = Seq((12L, 1L), (13L, 12L)).toDF("child", "parent")
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    def runStream(): Unit = {
      val ckpt = tmpDir()
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = EtlPipeline.runStream(stream, dest, numBuckets = 4)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runStream()
    val want = Hierarchy.closure(b1.union(b2))
      .as[(Long, Long, Int)].collect().toSet
    EtlPipeline.readClosure(spark, dest)
      .as[(Long, Long, Int)].collect().toSet shouldBe want
    // redeliver everything (fresh checkpoint): stored closure already
    // has every pair at its best depth — the stream is a no-op
    runStream()
    EtlPipeline.readClosure(spark, dest)
      .as[(Long, Long, Int)].collect().toSet shouldBe want
  }

  test("batch runs with adds AND deletes converge, incl. the crash window") {
    import graft.sources.ParquetStore
    val base = tmpDir()
    val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
    val edgeStore = ParquetStore(s"$base/edges", Seq("child", "parent"), "seq", 4)
    val bm = s"$base/wm"
    // run 1: the chain 1←10←12←13 (+ 11←1), seq doubles as watermark
    val ev1 = Seq((10L, 1L, "add", 1L), (11L, 1L, "add", 2L),
      (12L, 10L, "add", 3L), (13L, 12L, "add", 4L))
      .toDF("child", "parent", "op", "seq")
    val r1 = EtlPipeline.runWithDeletes(spark, ev1, "seq", dest, edgeStore, bm)
    r1.extracted shouldBe 4
    r1.watermark shouldBe Some(4L)
    def closureNow() = dest.scan(spark)
      .select($"ancestor", $"descendant", $"depth")
      .as[(Long, Long, Int)].collect().toSet
    closureNow() shouldBe Hierarchy.closure(
      ev1.select($"child", $"parent")).as[(Long, Long, Int)].collect().toSet
    // run 2: DELETE the chain's middle edge, reroute 12 under 11 —
    // stale pairs (10,12) (10,13) must LEAVE the destination store
    val ev2 = ev1.union(Seq((12L, 10L, "delete", 5L), (12L, 11L, "add", 6L))
      .toDF("child", "parent", "op", "seq"))
    val r2 = EtlPipeline.runWithDeletes(spark, ev2, "seq", dest, edgeStore, bm)
    r2.extracted shouldBe 2
    val finalEdges = Seq((10L, 1L), (11L, 1L), (12L, 11L), (13L, 12L))
      .toDF("child", "parent")
    val want = Hierarchy.closure(finalEdges).as[(Long, Long, Int)].collect().toSet
    closureNow() shouldBe want
    // crash window: run 2's effects landed but its commit was lost —
    // rewind the bookmark and rerun; diffs are empty, commit completes
    locally {
      val p = new org.apache.hadoop.fs.Path(bm)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(r1.watermark.get.toString.getBytes("UTF-8"))
      finally out.close()
    }
    val rerun = EtlPipeline.runWithDeletes(spark, ev2, "seq", dest, edgeStore, bm)
    rerun.extracted shouldBe 2 // the window re-extracts (at-least-once)
    rerun.pushed shouldBe 0 // ... but every diff is empty
    rerun.watermark shouldBe r2.watermark
    closureNow() shouldBe want
  }

  test("one batch that deletes AND adds edges keeps every closure pair") {
    import graft.sources.ParquetStore
    val base = tmpDir()
    val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
    val edgeStore = ParquetStore(s"$base/edges", Seq("child", "parent"), "seq", 4)
    val bm = s"$base/wm"
    // two chains: 1←2←3 and 4←5←6
    val ev1 = Seq((2L, 1L, "add", 1L), (3L, 2L, "add", 2L),
      (5L, 4L, "add", 3L), (6L, 5L, "add", 4L))
      .toDF("child", "parent", "op", "seq")
    EtlPipeline.runWithDeletes(spark, ev1, "seq", dest, edgeStore, bm)
    // one run: delete 3→2 and hang 5 under 2. The added edge's parent
    // lies in the delete's re-close scope; the pairs it brings in
    // below that scope — (1, 6, 3) and (2, 6, 2) — must land too
    val ev2 = ev1.union(Seq((3L, 2L, "delete", 5L), (5L, 2L, "add", 6L))
      .toDF("child", "parent", "op", "seq"))
    val r2 = EtlPipeline.runWithDeletes(spark, ev2, "seq", dest, edgeStore, bm)
    r2.extracted shouldBe 2
    val finalEdges = Seq((2L, 1L), (5L, 4L), (6L, 5L), (5L, 2L))
      .toDF("child", "parent")
    val want = Hierarchy.closure(finalEdges).as[(Long, Long, Int)].collect().toSet
    want should contain allOf ((1L, 6L, 3), (2L, 6L, 2))
    dest.scan(spark).select($"ancestor", $"descendant", $"depth")
      .as[(Long, Long, Int)].collect().toSet shouldBe want
  }

  test("crash MID-WRITE (before/after dest effects, before the edge-state push) converges on rerun") {
    // The advisor's window: the run dies after some stores are written
    // but not others. The write order pins the edge state LAST, so a
    // rerun re-derives the identical transition and the latest-wins
    // dest absorbs whatever the dead attempt already applied. Two
    // fault points: dest.push throws (nothing landed), and dest.delete
    // throws (push landed, delete lost).
    import graft.sources.{DocumentStore, ParquetStore}
    final class FailingStore(inner: DocumentStore, failPush: Boolean,
        failDelete: Boolean) extends DocumentStore {
      var armed = true
      override def scan(s: org.apache.spark.sql.SparkSession) = inner.scan(s)
      override def exists(s: org.apache.spark.sql.SparkSession) = inner.exists(s)
      override def sync(snapshot: org.apache.spark.sql.DataFrame): Unit =
        inner.sync(snapshot)
      override def push(updates: org.apache.spark.sql.DataFrame): Unit = {
        if (armed && failPush) { armed = false; sys.error("crash before dest.push") }
        inner.push(updates)
      }
      override def delete(keys: org.apache.spark.sql.DataFrame): Unit = {
        if (armed && failDelete) { armed = false; sys.error("crash before dest.delete") }
        inner.delete(keys)
      }
    }
    for ((failPush, failDelete) <- Seq((true, false), (false, true))) {
      val base = tmpDir()
      val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
      val edgeStore = ParquetStore(s"$base/edges", Seq("child", "parent"), "seq", 4)
      val bm = s"$base/wm"
      val ev1 = Seq((10L, 1L, "add", 1L), (11L, 1L, "add", 2L),
        (12L, 10L, "add", 3L), (13L, 12L, "add", 4L))
        .toDF("child", "parent", "op", "seq")
      EtlPipeline.runWithDeletes(spark, ev1, "seq", dest, edgeStore, bm)
      // run 2 both deletes (middle edge) and adds (reroute) — it needs
      // BOTH dest.push and dest.delete, so each fault point is hit
      val ev2 = ev1.union(Seq((12L, 10L, "delete", 5L), (12L, 11L, "add", 6L))
        .toDF("child", "parent", "op", "seq"))
      val flaky = new FailingStore(dest, failPush, failDelete)
      an[Exception] should be thrownBy
        EtlPipeline.runWithDeletes(spark, ev2, "seq", flaky, edgeStore, bm)
      // the dead attempt must NOT have committed the edge state: the
      // rerun still sees the full transition and completes the patch
      val rerun = EtlPipeline.runWithDeletes(spark, ev2, "seq", dest, edgeStore, bm)
      rerun.extracted shouldBe 2
      val want = Hierarchy.closure(
        Seq((10L, 1L), (11L, 1L), (12L, 11L), (13L, 12L))
          .toDF("child", "parent")).as[(Long, Long, Int)].collect().toSet
      dest.scan(spark).select($"ancestor", $"descendant", $"depth")
        .as[(Long, Long, Int)].collect().toSet shouldBe want
      // and a further rerun of the same window is a pure no-op
      locally {
        val p = new org.apache.hadoop.fs.Path(bm)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(p, true)
        try out.write("4".getBytes("UTF-8")) finally out.close()
      }
      val again = EtlPipeline.runWithDeletes(spark, ev2, "seq", dest, edgeStore, bm)
      again.pushed shouldBe 0
      dest.scan(spark).select($"ancestor", $"descendant", $"depth")
        .as[(Long, Long, Int)].collect().toSet shouldBe want
    }
  }

  test("stale cross-batch events lose the latest-wins merge AND never patch the closure") {
    import graft.sources.ParquetStore
    val base = tmpDir()
    val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
    val edgeStore = ParquetStore(s"$base/edges", Seq("child", "parent"), "seq", 4)
    val bm = s"$base/wm"
    // arrival watermark `m` (what the bookmark windows on) is SEPARATE
    // from the per-edge revision `seq` — late arrivals have new m but
    // stale seq. Run 1 establishes edges AND a tombstone: (12,10) was
    // added at seq 3 then deleted at seq 5.
    val ev1 = Seq((10L, 1L, "add", 1L, 1L), (11L, 1L, "add", 2L, 2L),
      (12L, 10L, "add", 3L, 3L), (12L, 10L, "delete", 5L, 5L))
      .toDF("child", "parent", "op", "seq", "m")
    EtlPipeline.runWithDeletes(spark, ev1, "m", dest, edgeStore, bm)
    // run 2 delivers LATE-ARRIVING STALE events: an add of the dead
    // edge (seq 4 < tombstone 5) and a delete of a live edge (seq 0 <
    // stored add seq 2) — both must lose the latest-wins merge and
    // leave the closure untouched
    val ev2 = ev1.union(Seq((12L, 10L, "add", 4L, 6L), (11L, 1L, "delete", 0L, 7L))
      .toDF("child", "parent", "op", "seq", "m"))
    val r2 = EtlPipeline.runWithDeletes(spark, ev2, "m", dest, edgeStore, bm)
    r2.extracted shouldBe 2
    r2.pushed shouldBe 0
    val want = Hierarchy.closure(
      Seq((10L, 1L), (11L, 1L)).toDF("child", "parent"))
      .as[(Long, Long, Int)].collect().toSet
    dest.scan(spark).select($"ancestor", $"descendant", $"depth")
      .as[(Long, Long, Int)].collect().toSet shouldBe want
    // and the edge store still shows the tombstone and the live edge
    edgeStore.scan(spark).select($"child", $"parent", $"op", $"seq")
      .as[(Long, Long, String, Long)].collect().toSet shouldBe Set(
      (10L, 1L, "add", 1L), (11L, 1L, "add", 2L), (12L, 10L, "delete", 5L))
  }

  test("streaming adds AND deletes converge to the batch closure of the final edge set") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.ParquetStore
    val base = tmpDir()
    val srcDir = s"$base/src"
    val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
    val edgeStore = ParquetStore(s"$base/edges", Seq("child", "parent"), "seq", 4)
    // b1: a chain 1←10←12←13 plus 11←1; b2: DELETE the chain's middle
    // edge and reroute 12 under 11 — pairs (1,12) (1,13) (10,12)
    // (10,13) must all be invalidated/recomputed; b3: RE-ADD the
    // deleted edge after its tombstone, plus an add+delete of the same
    // edge within one batch (net: never exists)
    val b1 = Seq((10L, 1L, "add", 1L), (11L, 1L, "add", 2L),
      (12L, 10L, "add", 3L), (13L, 12L, "add", 4L))
      .toDF("child", "parent", "op", "seq")
    val b2 = Seq((12L, 10L, "delete", 5L), (12L, 11L, "add", 6L))
      .toDF("child", "parent", "op", "seq")
    val b3 = Seq((12L, 10L, "add", 7L), (14L, 13L, "add", 8L),
      (14L, 13L, "delete", 9L)).toDF("child", "parent", "op", "seq")
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    b3.coalesce(1).write.mode("append").parquet(srcDir)
    def runStream(): Unit = {
      val ckpt = tmpDir()
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = EtlPipeline.runStreamWithDeletes(stream, dest, edgeStore)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runStream()
    // final edge set after all events, latest seq per edge winning
    val finalEdges = Seq((10L, 1L), (11L, 1L), (12L, 11L), (13L, 12L),
      (12L, 10L)).toDF("child", "parent")
    val want = Hierarchy.closure(finalEdges).as[(Long, Long, Int)].collect().toSet
    dest.scan(spark).select($"ancestor", $"descendant", $"depth")
      .as[(Long, Long, Int)].collect().toSet shouldBe want
    // redeliver everything (fresh checkpoint): edge state already
    // reflects every event — closure untouched, no stale resurrection
    runStream()
    dest.scan(spark).select($"ancestor", $"descendant", $"depth")
      .as[(Long, Long, Int)].collect().toSet shouldBe want
  }

  test("scd2 as-of picks each key's containing interval, crafted and at corpus scale") {
    import graft.operators.Etl
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // crafted: key 1 has three revisions; as-of between rev 2 and 3
    // must return exactly rev 2; key 2's single open interval matches
    // any later instant; key 3 starts after the probe — absent
    val evs = Seq(
      (1L, 100L, "a", ts(100)), (1L, 101L, "b", ts(200)), (1L, 102L, "c", ts(300)),
      (2L, 200L, "x", ts(50)), (3L, 300L, "y", ts(999)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val asOf = Etl.scd2AsOf(Etl.scd2History(evs), ts(250))
      .select($"user_id", $"event_id", $"is_current")
      .as[(Long, Long, Boolean)].collect().toSet
    asOf shouldBe Set((1L, 101L, false), (2L, 200L, true))
    // maintained history answers as-of identically to the recomputed one
    val all = graft.Tables.events(spark, sfDir)
    val probe = ts(all.agg(org.apache.spark.sql.functions
      .min(org.apache.spark.sql.functions.unix_timestamp(col("ts"))))
      .head().getLong(0) + 3600)
    def part(r: Int) = all.where(col("event_id") % 2 === r)
    val maintained = Etl.scd2Append(Etl.scd2History(part(0)), part(1))
    Etl.scd2AsOf(maintained, probe).collect().toSet shouldBe
      Etl.scd2AsOf(Etl.scd2History(all), probe).collect().toSet
  }

  test("incremental daily-KPI maintenance equals the full recompute") {
    import graft.operators.Etl
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.events(spark, sfDir)
    // nightly split: ~80% base, ~20% late-arriving delta
    val base = ev.where(col("event_id") % 5 =!= 0)
    val delta = ev.where(col("event_id") % 5 === 0)
    val stored = Etl.dailyCounts(base) // what a pipeline persists
    val merged = Etl.kpiIncrement(stored, delta)
    val full = Etl.dailyCounts(ev)
    merged.as[(java.sql.Timestamp, String, Long)].collect().toSet shouldBe
      full.as[(java.sql.Timestamp, String, Long)].collect().toSet
    // the decorated view over the maintained base equals q112 exactly
    // (Row equality is by value; schemas match by construction)
    Etl.kpiDecorate(merged).collect().toSet shouldBe
      Etl.kpiDaily(ev).collect().toSet
    // and a second increment of ALREADY-FOLDED data is NOT a no-op by
    // design (counts are additive, not idempotent) — the caller's
    // exactly-once contract lives in the extract bookmark, same as
    // every additive store; pin the behavior so nobody assumes
    // redelivery safety here
    Etl.kpiIncrement(merged, delta)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) shouldBe
      (ev.count() + delta.count())
  }

  test("incremental SCD2 maintenance equals the full recompute, out-of-order + redelivered") {
    import graft.operators.Etl
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.events(spark, sfDir)
    // three nightly batches split by event_id mod 3 — NOT time-ordered,
    // so appends must close and reopen intervals mid-history
    def part(r: Int) = ev.where(col("event_id") % 3 === r)
    val h1 = Etl.scd2Append(Etl.scd2History(part(0)), part(1)).localCheckpoint()
    val h2 = Etl.scd2Append(h1, part(2)).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from").cast("long"), col("valid_to").cast("long"),
        col("is_current"))
      .collect().toSet
    val full = rows(Etl.scd2History(ev))
    rows(h2) shouldBe full
    // at-least-once transport: re-appending an already-folded batch is
    // a no-op (revision dedup by (user_id, event_id)) — unlike the
    // additive KPI base, the SCD2 fold IS redelivery-safe
    rows(Etl.scd2Append(h2, part(1))) shouldBe full
    // an empty delta touches no keys and passes the history through
    rows(Etl.scd2Append(h2, part(1).limit(0))) shouldBe full
  }

  test("bucketed interval join equals the naive θ-join, boundaries end-exclusive") {
    import org.apache.spark.sql.functions._
    import graft.operators.Etl
    import graft.Tables
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val orders = Seq(
      (1L, t("1995-01-01 00:00:00")), // window [Jan 1, Jan 8)
      (2L, t("1995-01-05 00:00:00")), // overlaps order 1's window
      (3L, t("1996-06-01 00:00:00"))  // catches nothing
    ).toDF("o_orderkey", "o_orderdate")
    val li = Seq(
      (t("1995-01-01 00:00:00"), 10.0),  // == w_start of 1: included
      (t("1995-01-07 23:59:59"), 20.0),  // inside 1 and 2
      (t("1995-01-08 00:00:00"), 40.0),  // == w_end of 1: excluded; inside 2
      (t("1995-01-11 23:59:59"), 80.0),  // inside 2 only
      (t("1995-03-01 00:00:00"), 160.0)  // inside nothing
    ).toDF("l_shipdate", "l_extendedprice")

    val out = Etl.windowedShipStats(orders, li, windowDays = 7)
      .as[(Long, Long, Long)].collect()
      .map { case (k, n, c) => k -> ((n, c)) }.toMap
    out shouldBe Map(1L -> ((2L, 3000L)), 2L -> ((3L, 14000L)))

    // ≡ the naive range θ-join on the same frames (the plan Spark
    // would pick natively — correct, just not scalable)
    val naive = orders.join(li,
        li("l_shipdate") >= orders("o_orderdate") &&
          li("l_shipdate") < orders("o_orderdate") + expr("INTERVAL 7 DAYS"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"),
        round(sum($"l_extendedprice") * 100).cast("long").as("c"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, n, c) => k -> ((n, c)) }.toMap
    naive shouldBe out

    // and on corpus data: the rewrite is pair-for-pair the θ-join
    val o = Tables.orders(spark, sfDir).where($"o_orderkey" % 97 === 0)
    val l = Tables.lineitem(spark, sfDir)
    val a = Etl.windowedShipStats(o, l, windowDays = 7)
      .as[(Long, Long, Long)].collect().toSet
    val b = o.join(l, l("l_shipdate") >= o("o_orderdate") &&
        l("l_shipdate") < o("o_orderdate") + expr("INTERVAL 7 DAYS"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"),
        round(sum($"l_extendedprice") * 100).cast("long").as("c"))
      .as[(Long, Long, Long)].collect().toSet
    a shouldBe b
    a.size should be > 0
  }

  test("gap-fill: dense per-key spine, forward-fill carries the last observation") {
    import graft.operators.Etl
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 09:00:00"), 6.0),
      (1L, t("2024-01-01 17:00:00"), 4.0),   // same day sums to 10.00
      (1L, t("2024-01-04 12:00:00"), 20.0),  // Jan 2-3 are gaps
      (2L, t("2024-01-02 00:00:00"), 7.5)    // single-day span
    ).toDF("user_id", "ts", "value")
    val out = Etl.gapFillDaily(ev)
      .as[(Long, java.sql.Timestamp, Long, Boolean)].collect()
      .map(r => (r._1, r._2.toLocalDateTime.toLocalDate.toString) -> ((r._3, r._4)))
      .toMap
    out shouldBe Map(
      (1L, "2024-01-01") -> ((1000L, false)),
      (1L, "2024-01-02") -> ((1000L, true)),  // carried forward
      (1L, "2024-01-03") -> ((1000L, true)),
      (1L, "2024-01-04") -> ((2000L, false)),
      (2L, "2024-01-02") -> ((750L, false)))
  }

  test("sweep-line concurrency equals the naive per-day census, step-exact") {
    import org.apache.spark.sql.functions._
    import graft.operators.Etl
    import graft.Tables
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val orders = Seq(
      (t("1995-01-01 00:00:00"), 1.00),  // open Jan 1-7
      (t("1995-01-03 00:00:00"), 2.00),  // open Jan 3-9
      (t("1995-01-20 00:00:00"), 4.00)   // disjoint: count falls to 0 between
    ).toDF("o_orderdate", "o_totalprice")
    val out = Etl.openWindowsPerDay(orders, windowDays = 7)
      .as[(java.sql.Timestamp, Long, Long)].collect()
      .map(r => r._1.toLocalDateTime.toLocalDate.toString -> ((r._2, r._3))).toMap
    out("1995-01-01") shouldBe ((1L, 100L))
    out("1995-01-03") shouldBe ((2L, 300L))   // both open
    out("1995-01-07") shouldBe ((2L, 300L))   // last day of order 1
    out("1995-01-08") shouldBe ((1L, 200L))   // order 1 expired
    out("1995-01-10") shouldBe ((0L, 0L))     // gap between bursts
    out("1995-01-19") shouldBe ((0L, 0L))
    out("1995-01-20") shouldBe ((1L, 400L))
    out("1995-01-26") shouldBe ((1L, 400L))   // spine ends at max start + 6
    out.size shouldBe 26
    // ≡ the naive census on corpus data (spine × range predicate)
    val o = Tables.orders(spark, sfDir)
    val sweep = Etl.openWindowsPerDay(o, windowDays = 7)
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    val d0 = o.select(to_date($"o_orderdate").as("d"),
      round($"o_totalprice" * 100).cast("long").as("cents"))
    val spine = d0.agg(min($"d").as("lo"), date_add(max($"d"), 6).as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("INTERVAL 1 DAY"))).as("day"))
    val naive = spine.join(d0,
        d0("d") <= spine("day") && spine("day") < date_add(d0("d"), 7), "left")
      .groupBy($"day")
      .agg(count($"d").as("n"), coalesce(sum($"cents"), lit(0L)).as("c"))
      .select($"day".cast("timestamp"), $"n", $"c")
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    sweep shouldBe naive
  }

  test("transition matrix counts successors per key in (ts, event_id) order") {
    import graft.operators.Etl
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 10L, t("2024-01-01 10:00:00"), "A"),
      (1L, 11L, t("2024-01-01 11:00:00"), "B"),
      (1L, 12L, t("2024-01-01 11:00:00"), "B"),  // same-ts: event_id breaks tie
      (2L, 20L, t("2024-01-01 09:00:00"), "B"),
      (2L, 21L, t("2024-01-01 09:30:00"), "A")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Etl.transitionMatrix(ev)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    out shouldBe Map(
      ("A", "B") -> ((1L, 1000000L)),
      ("B", "B") -> ((1L, 500000L)),
      ("B", "A") -> ((1L, 500000L)))
  }

  test("daily anomaly flags: planted spike crosses 3σ, baseline days do not, singleton series excluded") {
    import graft.operators.Etl
    // one point's z against k samples is bounded by (k−1)/√k — at
    // k = 10 a lone spike can never reach 3σ (2.85 max), so the
    // planted series uses 20 days: 19 at 5/day, one at 500
    val rows = (0 until 20).flatMap { day =>
      val cnt = if (day == 19) 500 else 5
      (0 until cnt).map { i =>
        (1L, day * 1000L + i,
          java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"),
          "A", 1.0)
      }
    } ++ Seq(
      (2L, 999999L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "B", 1.0),
      // constant-count series: variance exactly 0 → z = 0/0 = NaN,
      // which the two engines cast differently — must be excluded
      (3L, 999997L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "C", 1.0),
      (3L, 999998L, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), "C", 1.0))
    val ev = rows.toDF("user_id", "event_id", "ts", "event_type", "value")
    val out = Etl.dailyAnomalies(ev)
      .as[(String, java.sql.Timestamp, Long, Long, Boolean)].collect()
    out.map(_._1).toSet shouldBe Set("A") // k=1 and zero-variance series excluded
    out.length shouldBe 20
    val (anom, base) = out.partition(_._5)
    anom.map(_._2.toLocalDateTime.getDayOfMonth) shouldBe Array(20)
    base.length shouldBe 19
    // z of the spike replays the exact-moment formula
    val (k, s1, s2) = (20.0, 595.0, 250475.0)
    val mean = s1 / k
    val variance = (s2 - s1 * s1 / k) / (k - 1)
    anom.head._4 shouldBe math.round((500 - mean) / math.sqrt(variance) * 1e6)
  }

  test("forward as-of: first match at-or-after inside tolerance, none beyond, same-instant counts") {
    import org.apache.spark.sql.functions._
    import graft.operators.Etl
    import graft.Tables
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val hourUs = 3600L * 1000000
    val ev = Seq(
      (1L, 10L, t("2024-01-01 10:00:00"), "view"),
      (1L, 11L, t("2024-01-01 12:00:00"), "purchase"),  // 2h later: first
      (1L, 12L, t("2024-01-01 13:00:00"), "purchase"),  // second: ignored
      (2L, 20L, t("2024-01-01 10:00:00"), "view"),
      (2L, 21L, t("2024-01-01 10:00:00"), "purchase"),  // same instant: counts
      (3L, 30L, t("2024-01-01 10:00:00"), "view"),
      (3L, 31L, t("2024-01-01 17:00:00"), "purchase"),  // 7h: beyond tolerance
      (4L, 40L, t("2024-01-01 10:00:00"), "purchase"),  // before the view: ignored
      (4L, 41L, t("2024-01-01 11:00:00"), "view")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Etl.forwardAsof(ev, "view", "purchase", 6 * hourUs)
      .as[(Long, Long, Long)].collect().toSet
    out shouldBe Set((10L, 11L, 2 * hourUs), (20L, 21L, 0L))

    // corpus: ≡ the naive keyed range join + rank-1
    val e = Tables.events(spark, sfDir)
    val got = Etl.forwardAsof(e, "view", "purchase", 6 * hourUs)
      .as[(Long, Long, Long)].collect().toSet
    val v = e.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), unix_micros($"ts").as("vts"))
    val p = e.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), unix_micros($"ts").as("pts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"view_id").orderBy($"pts", $"purchase_id")
    val naive = v.join(p, Seq("user_id"))
      .where($"pts" >= $"vts" && $"pts" < $"vts" + 6 * hourUs)
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"view_id", $"purchase_id", ($"pts" - $"vts").as("gap_us"))
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe naive
    got.size should be > 0
  }

  test("gap-fill on corpus events: spine dense over each span, fills match last prior day") {
    import org.apache.spark.sql.functions._
    import graft.operators.Etl
    import graft.Tables
    val out = Etl.gapFillDaily(Tables.events(spark, sfDir)).cache()
    // spine density: per user, row count == span length in days
    val bad = out.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        (datediff(max($"day"), min($"day")) + 1).as("span"))
      .where($"n" =!= $"span")
    bad.count() shouldBe 0L
    // no nulls ever surface (first spine day is an observed day)
    out.where($"filled_cents".isNull).count() shouldBe 0L
    // gap rows exist in this corpus and every gap value equals the
    // previous day's filled value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    val chk = out.withColumn("prev", lag($"filled_cents", 1).over(w))
    chk.where($"is_gap").count() should be > 0L
    chk.where($"is_gap" && $"filled_cents" =!= $"prev").count() shouldBe 0L
    out.unpersist()
    ()
  }
}
