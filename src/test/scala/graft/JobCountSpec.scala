package graft

import graft.operators.Hierarchy
import graft.sources.{EtlPipeline, ParquetStore, ParquetUpsertSink}

/** Spark jobs started by the ETL loop's eager drivers. Every
  * intermediate they branch on is pinned and counted in its
  * checkpoint's own job (`util.pin`); a `count()` or `head(1)` probe
  * creeping back in raises these numbers.
  */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  test("one runWithDeletes delta run (deletes and adds) starts a bounded number of jobs") {
    val base = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
    val edgeStore = ParquetStore(s"$base/edges", Seq("child", "parent"), "seq", 4)
    val bm = s"$base/wm"
    val ev1 = Seq((10L, 1L, "add", 1L), (11L, 1L, "add", 2L),
      (12L, 10L, "add", 3L), (13L, 12L, "add", 4L))
      .toDF("child", "parent", "op", "seq")
    EtlPipeline.runWithDeletes(spark, ev1, "seq", dest, edgeStore, bm)
    val ev2 = ev1.union(Seq((12L, 10L, "delete", 5L), (12L, 11L, "add", 6L))
      .toDF("child", "parent", "op", "seq"))
    val run = JobProbe(spark)(
      EtlPipeline.runWithDeletes(spark, ev2, "seq", dest, edgeStore, bm))
    run.value.extracted shouldBe 2
    dest.scan(spark).select($"ancestor", $"descendant", $"depth")
      .as[(Long, Long, Int)].collect().toSet shouldBe
      Hierarchy.closure(Seq((10L, 1L), (11L, 1L), (12L, 11L), (13L, 12L))
        .toDF("child", "parent")).as[(Long, Long, Int)].collect().toSet
    info(s"delta run jobs: ${run.jobs}")
    // 41 observed (63 with seven jobs per fold round and the removal's
    // two diffs pinned apart; 90 with a scoped delete re-close, a
    // re-pinned relation per fold round and two whole-closure diffs);
    // the slack absorbs AQE's run-to-run stage variation
    run.jobs should be <= 48
  }

  test("a one-edge add and its delete cost the same beside a 64-chain and a 512-chain closure") {
    import org.apache.spark.sql.functions.lit
    /** (add run, delete run, stored pairs before the add) beside an n-chain */
    def besideChain(n: Long) = {
      val base = java.nio.file.Files.createTempDirectory("graft-jobs-size").toString
      val dest = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
      val edgeStore = ParquetStore(s"$base/edges", Seq("child", "parent"), "seq", 4)
      val chain = (1L until n).map(i => (i, i - 1)).toDF("child", "parent")
      dest.push(Hierarchy.closure(chain).withColumn("rev", lit(0L)))
      edgeStore.push(chain.withColumn("op", lit("add")).withColumn("seq", lit(0L)))
      val add = Seq((100001L, 100000L, "add", 1L)).toDF("child", "parent", "op", "seq")
      val del = add.union(Seq((100001L, 100000L, "delete", 2L)).toDF("child", "parent", "op", "seq"))
      val stored = n * (n - 1) / 2
      val a = JobProbe(spark)(EtlPipeline.runWithDeletes(spark, add, "seq", dest, edgeStore, s"$base/wm"))
      val d = JobProbe(spark)(EtlPipeline.runWithDeletes(spark, del, "seq", dest, edgeStore, s"$base/wm"))
      (a.value.pushed, d.value.deleted) shouldBe ((1L, 1L))
      dest.scan(spark).count() shouldBe stored
      (a, d, stored)
    }
    val (smallAdd, smallDel, smallStored) = besideChain(64)
    val (largeAdd, largeDel, largeStored) = besideChain(512)
    info(s"add jobs ${smallAdd.jobs} / ${largeAdd.jobs}, delete jobs ${smallDel.jobs} / ${largeDel.jobs}")
    info(s"checkpoint rows beside 64: add ${smallAdd.checkpointRows}, delete ${smallDel.checkpointRows}")
    info(s"checkpoint rows beside 512: add ${largeAdd.checkpointRows}, delete ${largeDel.checkpointRows}")
    largeAdd.jobs shouldBe smallAdd.jobs
    largeDel.jobs shouldBe smallDel.jobs
    // the one store-sized checkpoint is the stored closure's read
    def besideStore(rows: Seq[Long], store: Long) = {
      rows.count(_ == store) shouldBe 1
      rows.filterNot(_ == store)
    }
    besideStore(largeAdd.checkpointRows, largeStored) shouldBe
      besideStore(smallAdd.checkpointRows, smallStored)
    besideStore(largeDel.checkpointRows, largeStored + 1) shouldBe
      besideStore(smallDel.checkpointRows, smallStored + 1)
  }

  /** `closurePatch` over a pinned stored closure: the probe covers
    * the store's read and pin, as the ETL loop's patch does.
    */
  private def probePatch(store: ParquetStore, added: Seq[(Long, Long)],
      removed: Seq[(Long, Long)] = Nil) = {
    val add = added.toDF("child", "parent")
    val rm = Option.when(removed.nonEmpty)(removed.toDF("child", "parent"))
    JobProbe(spark) {
      val (existing, _) = util.pin(store.scan(spark).select($"ancestor", $"descendant", $"depth"))
      val p = Hierarchy.closurePatch(existing, add, rm)
      (existing, p)
    }
  }

  private def storedClosure(edges: Seq[(Long, Long)]): ParquetStore = {
    import org.apache.spark.sql.functions.lit
    val base = java.nio.file.Files.createTempDirectory("graft-jobs-patch").toString
    val store = ParquetStore(s"$base/closure", Seq("ancestor", "descendant"), "rev", 4)
    store.push(Hierarchy.closure(edges.toDF("child", "parent")).withColumn("rev", lit(0L)))
    store
  }

  private def patched(r: JobProbe.Run[(org.apache.spark.sql.DataFrame, Hierarchy.ClosurePatch)]) =
    r.value._2.applyTo(r.value._1).as[(Long, Long, Int)].collect().toSet

  private def closureOf(edges: Seq[(Long, Long)]) =
    Hierarchy.closure(edges.toDF("child", "parent")).as[(Long, Long, Int)].collect().toSet

  test("a one-edge add under the root of a 64-chain and a 512-chain shuffles the same records") {
    // the new leaf's ancestor is the root of the whole chain: a round
    // that reads the root's stored subtree would grow with the chain
    def underRoot(n: Long) = {
      val chain = (1L until n).map(i => (i, i - 1))
      val run = probePatch(storedClosure(chain), Seq((100000L, 0L)))
      run.value._2.upserts.as[(Long, Long, Int)].collect().toSet shouldBe Set((0L, 100000L, 1))
      run.value._2.nDeletes shouldBe 0L
      (run, n * (n - 1) / 2)
    }
    val (small, smallStored) = underRoot(64)
    val (large, largeStored) = underRoot(512)
    info(s"jobs ${small.jobs} / ${large.jobs}, shuffle records ${small.shuffleRecords} / ${large.shuffleRecords}")
    info(s"checkpoint rows: ${small.checkpointRows} / ${large.checkpointRows}")
    large.jobs shouldBe small.jobs
    large.shuffleRecords shouldBe small.shuffleRecords
    small.checkpointRows.count(_ == smallStored) shouldBe 1
    large.checkpointRows.count(_ == largeStored) shouldBe 1
    large.checkpointRows.filterNot(_ == largeStored) shouldBe
      small.checkpointRows.filterNot(_ == smallStored)
  }

  test("closurePatch starts a bounded number of jobs over several fold rounds, adds and removals") {
    // three 12-chains; the adds join them end to end, so the new pairs
    // need several rounds of composition
    val chains = Seq(0L, 100L, 200L).flatMap(b => (1L until 12L).map(i => (b + i, b + i - 1)))
    val store = storedClosure(chains)
    val links = Seq((100L, 11L), (200L, 111L))
    val add = probePatch(store, links)
    patched(add) shouldBe closureOf(chains ++ links)
    // the probe pins the store once; every other pin is a fold round
    val addRounds = add.checkpointRows.size - 1
    info(s"add: ${add.jobs} jobs, $addRounds fold rounds")
    addRounds should be >= 3
    // removing a mid-chain edge re-derives its ancestors' pairs: the
    // region, its stored pairs and the patch are pinned beside the
    // fold's rounds
    val cut = Seq((106L, 105L))
    val del = probePatch(store, Nil, cut)
    patched(del) shouldBe closureOf(chains.filterNot(cut.contains))
    val delRounds = del.checkpointRows.size - 4
    info(s"removal: ${del.jobs} jobs, $delRounds fold rounds")
    delRounds should be >= 3
    // 21 and 24 observed: a round is 5 jobs over a base and 3 without,
    // and the removal's diffs are one aggregate (33 and 48 with seven
    // jobs per round, one round more per fold, the store under every
    // removal round and two diffs pinned apart)
    add.jobs should be <= 23
    del.jobs should be <= 26
  }

  test("Hierarchy.closure on a 64-node chain starts a bounded number of jobs") {
    val chain = (1L to 63L).map(i => (i, i - 1)).toDF("child", "parent")
    val run = JobProbe(spark)(Hierarchy.closure(chain))
    run.value.count() shouldBe 63L * 64 / 2
    info(s"closure jobs: ${run.jobs}")
    run.jobs should be <= 29 // 27 observed; 41 with a count() per round
  }

  test("connectedComponents tests its fixpoint in each round's checkpoint job") {
    // a 40-node chain and a 21-node star: several rounds to converge
    val pairs = ((1L until 40L).map(i => (i, i + 1)) ++
      (101L to 120L).map(i => (100L, i))).toDF("d1", "d2")
    val run = JobProbe(spark)(graft.operators.Cluster.connectedComponents(pairs))
    run.value.as[(Long, Long)].collect().toMap shouldBe
      ((1L to 40L).map(_ -> 1L) ++ (100L to 120L).map(_ -> 100L)).toMap
    info(s"components jobs: ${run.jobs}, checkpoints: ${run.checkpointRows.size}")
    // every SQL execution is a round's pin: the edge count and content
    // hash ride the checkpoint's own job, not an aggregate after it
    run.details.size shouldBe run.checkpointRows.size
    run.jobs should be <= 32 // 30 observed; 46 with an aggregate after each pin
  }

  test("a first near-dedup batch plans no band join against the absent store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobs-ingest").toString
    def text(tag: Int) = (0 until 20).map(j => s"t${tag}w$j").mkString(" ")
    val docs = Seq((1L, text(1)), (2L, text(1)), (3L, text(3))).toDF("doc_id", "text")
    val run = JobProbe(spark)(
      graft.operators.Cluster.nearDedupIngest(docs, s"$tmp/docs", s"$tmp/sigs", 0.5))
    run.value shouldBe 2L
    info(s"first-batch ingest jobs: ${run.jobs}")
    run.jobs should be <= 20 // 19 observed; 22 with a band join against an empty store
  }

  test("an AvailableNow stream over two micro-batches starts a bounded number of jobs, gate and closure loop") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
    val base = java.nio.file.Files.createTempDirectory("graft-jobs-stream").toString
    /** `batches` staged one file each, read one file per trigger */
    def stream(name: String, batches: DataFrame*): DataFrame = {
      batches.foreach(_.coalesce(1).write.mode("append").parquet(s"$base/$name"))
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/$name")
    }
    def drain(name: String, w: DataStreamWriter[Row]) = JobProbe(spark) {
      val q = w.option("checkpointLocation", s"$base/$name-ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.recentProgress.count(_.numInputRows > 0)
    }
    def text(tag: Int) = (0 until 12).map(j => s"t${tag}w$j").mkString(" ")
    graft.operators.Dedup.windowSignatures(Seq((100L, text(1))).toDF("doc_id", "text"))
      .write.parquet(s"$base/wins")
    val docs = stream("docs", Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text"),
      Seq((3L, text(3)), (4L, "short")).toDF("doc_id", "text"))
    val gate = drain("gate",
      graft.streaming.StreamOps.streamingDecontaminate(docs, s"$base/wins", s"$base/clean", 0.5))
    gate.value shouldBe 2
    ParquetUpsertSink.read(spark, s"$base/clean").select($"doc_id").as[Long]
      .collect().toSet shouldBe Set(2L, 3L, 4L)
    val edges = stream("edges", Seq((10L, 1L), (11L, 1L), (12L, 10L)).toDF("child", "parent"),
      Seq((12L, 1L), (13L, 12L)).toDF("child", "parent"))
    val loop = drain("loop", EtlPipeline.runStream(edges, s"$base/closure", numBuckets = 4))
    loop.value shouldBe 2
    info(s"two-batch stream jobs: gate ${gate.jobs}, closure loop ${loop.jobs}")
    // 27 and 31 observed, as with one hand-rolled foreachBatch per
    // sink: the micro-batch adapter and the gate combinator add no job
    gate.jobs should be <= 27
    loop.jobs should be <= 31
  }

  /** A 2,000-row table over 8 buckets, ids 1..2000 at rev 1. */
  private def sinkTable(): String = {
    val path = java.nio.file.Files.createTempDirectory("graft-jobs-sink").toString + "/t"
    ParquetUpsertSink.upsert((1L to 2000L).map(i => (i, 1L, s"p$i"))
      .toDF("id", "rev", "payload"), path, Seq("id"), "rev", numBuckets = 8)
    path
  }

  private def ids(path: String): Set[Long] =
    ParquetUpsertSink.read(spark, path).select($"id").as[Long].collect().toSet

  test("an upsert into a bucketed table starts at most 4 jobs") {
    val path = sinkTable()
    val (updates, _) = util.pin((1L to 60L).map(i => (i * 40, 2L, s"u$i"))
      .toDF("id", "rev", "payload"))
    val run = JobProbe(spark)(ParquetUpsertSink.upsert(updates, path, Seq("id"), "rev"))
    ParquetUpsertSink.read(spark, path).where($"rev" === 2L).count() shouldBe 60L
    ids(path).size shouldBe 2010
    info(s"upsert jobs: ${run.jobs}")
    // 4 observed; 5 with a key shuffle for the dedup and a bucket
    // shuffle for the write, 6 with a touched-bucket collect as well
    run.jobs should be <= 4
  }

  test("a delete from a bucketed table starts at most 6 jobs") {
    val path = sinkTable()
    val keys = (1L to 10L).map(i => (i * 100, 5L)).toDF("id", "rev")
    val run = JobProbe(spark)(ParquetUpsertSink.delete(keys, path, Seq("id"), "rev"))
    ids(path) shouldBe (1L to 2000L).toSet -- (1L to 10L).map(_ * 100)
    info(s"delete jobs: ${run.jobs}")
    run.jobs should be <= 6 // 11 with two bucket collects and two checkpoints
  }

  test("a sync starts no more jobs than its change detection and one rewrite need") {
    val path = sinkTable()
    val same = (1L to 2000L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload")
    val noop = JobProbe(spark)(ParquetUpsertSink.sync(same, path, Seq("id"), "rev"))
    val drop = JobProbe(spark)(ParquetUpsertSink.sync(same.where($"id" % 7 =!= 0),
      path, Seq("id"), "rev"))
    ids(path) shouldBe (1L to 2000L).filter(_ % 7 != 0).toSet
    info(s"sync jobs: unchanged ${noop.jobs}, dropping rows ${drop.jobs}")
    noop.jobs should be <= 6
    drop.jobs should be <= 8
  }

  test("a delete against a path with no table is a no-op that starts no job") {
    val path = java.nio.file.Files.createTempDirectory("graft-jobs-none").toString + "/t"
    val keys = Seq((1L, 5L)).toDF("id", "rev")
    val run = JobProbe(spark)(ParquetUpsertSink.delete(keys, path, Seq("id"), "rev"))
    run.jobs shouldBe 0
    ParquetUpsertSink.tableExists(spark, path) shouldBe false
  }
}
