package graft

import graft.sources.ParquetUpsertSink
import java.nio.file.Files

/** Keyed upsert sink: initial load, then a second push with newer
  * revisions for some keys and brand-new keys — latest revision must
  * win, untouched keys must survive, and no key may duplicate.
  */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  test("latest-revision-wins merge over two pushes") {
    val dir = Files.createTempDirectory("graft-upsert").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"

    val push1 = Seq(
      (1L, 1L, "a-v1"), (2L, 1L, "b-v1"), (3L, 2L, "c-v2"),
      (3L, 1L, "c-v1") // same batch carries two revisions of key 3
    ).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(push1, path, Seq("id"), "rev", numBuckets = 8)

    val got1 = ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet
    got1 shouldBe Set((1L, 1L, "a-v1"), (2L, 1L, "b-v1"), (3L, 2L, "c-v2"))

    val push2 = Seq(
      (2L, 2L, "b-v2"),  // newer revision of existing key
      (2L, 0L, "b-v0"),  // stale revision: must lose to what's stored? no — loses to v2 in-batch
      (4L, 1L, "d-v1")   // new key
    ).toDF("id", "rev", "payload")
    // deliberately WRONG numBuckets: the table's stored bucket count
    // (8, from push1) must win or keys silently duplicate
    ParquetUpsertSink.upsert(push2, path, Seq("id"), "rev", numBuckets = 32)

    val got2 = ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet
    got2 shouldBe Set(
      (1L, 1L, "a-v1"), (2L, 2L, "b-v2"), (3L, 2L, "c-v2"), (4L, 1L, "d-v1"))
  }

  test("merge rewrites only the buckets containing updated keys") {
    val dir = Files.createTempDirectory("graft-upsert3").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"

    // spread keys across many buckets, then update ONE key
    val push1 = (1L to 64L).map(i => (i, 1L, s"v1-$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(push1, path, Seq("id"), "rev", numBuckets = 16)

    def bucketFiles(): Map[String, Long] = {
      val files = scala.collection.mutable.Map.empty[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          files(f.getPath) = f.lastModified()
      walk(new java.io.File(path))
      files.toMap
    }
    val before = bucketFiles()

    Thread.sleep(1100) // mtime granularity
    ParquetUpsertSink.upsert(
      Seq((7L, 2L, "v2-7")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev", numBuckets = 16)
    val after = bucketFiles()

    // the single updated key lives in one bucket: every OTHER bucket's
    // files must be byte-identical (same path, same mtime)
    val untouched = before.keys.filterNot(_.contains(bucketOf(7L, 16)))
    untouched.foreach { f =>
      withClue(s"$f was rewritten: ") { after(f) shouldBe before(f) }
    }
    // and the table contents are correct
    ParquetUpsertSink.read(spark, path).where($"id" === 7L)
      .as[(Long, Long, String)].collect().toSeq shouldBe Seq((7L, 2L, "v2-7"))
  }

  private def bucketOf(id: Long, n: Int): String = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val b = Seq(id).toDF("id")
      .select(pmod(hash($"id"), lit(n)).cast("int")).head().getInt(0)
    s"__bucket=$b"
  }

  test("stale update loses to the already-stored newer revision") {
    val dir = Files.createTempDirectory("graft-upsert2").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"

    ParquetUpsertSink.upsert(
      Seq((1L, 5L, "v5")).toDF("id", "rev", "payload"), path, Seq("id"), "rev")
    ParquetUpsertSink.upsert(
      Seq((1L, 3L, "v3")).toDF("id", "rev", "payload"), path, Seq("id"), "rev")

    ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSeq shouldBe Seq((1L, 5L, "v5"))
  }

  test("sync makes the table equal the snapshot: deletes stale keys, prunes clean buckets") {
    val dir = Files.createTempDirectory("graft-sync").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"

    val load = (1L to 64L).map(i => (i, 1L, s"v1-$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(load, path, Seq("id"), "rev", numBuckets = 16)

    def files(): Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet")) m(f.getPath) = f.lastModified()
      walk(new java.io.File(path))
      m.toMap
    }
    val before = files()
    Thread.sleep(1100)

    // snapshot: key 7 updated, key 9 deleted, key 100 inserted, rest as-is
    val snap = ((1L to 64L).filterNot(_ == 9L).map(i =>
        (i, if (i == 7L) 2L else 1L, if (i == 7L) "v2-7" else s"v1-$i"))
      :+ (100L, 1L, "v1-100")).toDF("id", "rev", "payload")
    ParquetUpsertSink.sync(snap, path, Seq("id"), "rev")

    val got = ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet
    got shouldBe snap.as[(Long, Long, String)].collect().toSet

    // buckets untouched by the three drifting keys keep their files
    val after = files()
    val drifted = Seq(bucketOf(7L, 16), bucketOf(9L, 16), bucketOf(100L, 16))
    before.keys.filterNot(f => drifted.exists(f.contains)).foreach { f =>
      withClue(s"$f was rewritten: ") { after(f) shouldBe before(f) }
    }

    // an identical re-sync rewrites nothing at all
    Thread.sleep(1100)
    ParquetUpsertSink.sync(snap, path, Seq("id"), "rev")
    files() shouldBe after
  }

  test("sync deletes a bucket whose every key vanished") {
    val dir = Files.createTempDirectory("graft-sync2").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    // 20 keys over two buckets; then a snapshot keeping only key 1 —
    // the other bucket loses its every key and must disappear
    val a = (1L to 20L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(a, path, Seq("id"), "rev", numBuckets = 2)
    val keep = Seq((1L, 1L, "p1")).toDF("id", "rev", "payload")
    ParquetUpsertSink.sync(keep, path, Seq("id"), "rev")
    ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSeq shouldBe Seq((1L, 1L, "p1"))
    // the emptied bucket left the manifest (invisible to every reader);
    // its directory lingers for in-flight readers until vacuum
    val keptBucket = bucketOf(1L, 2).stripPrefix("__bucket=").toInt
    ParquetUpsertSink.liveDataDirs(spark, path).keySet shouldBe Set(keptBucket)
    val other = if (keptBucket == 0) "__bucket=1" else "__bucket=0"
    ParquetUpsertSink.vacuum(spark, path)
    new java.io.File(path, other).exists() shouldBe false
  }

  test("delete removes keys version-guarded, prunes to touched buckets, drops emptied dirs") {
    val dir = Files.createTempDirectory("graft-del").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val a = (1L to 20L).map(i => (i, 10L, s"p$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(a, path, Seq("id"), "rev", numBuckets = 4)

    // an untouched bucket's file must not be rewritten by the delete
    def files(): Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet")) m(f.getPath) = f.lastModified()
      walk(new java.io.File(path)); m.toMap
    }
    val before = files()

    // key 3 deleted at newer rev (wins); key 5's delete is STALE (loses)
    ParquetUpsertSink.delete(Seq((3L, 20L), (5L, 5L)).toDF("id", "rev"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.read(spark, path).select($"id").as[Long].collect().toSet shouldBe
      ((1L to 20L).toSet - 3L)
    val after = files()
    val touchedDirs = Set(bucketOf(3L, 4), bucketOf(5L, 4))
    before.filter { case (p, _) => !touchedDirs.exists(p.contains) }
      .foreach { case (p, ts) => after(p) shouldBe ts }

    // redelivering the same delete batch is a no-op
    ParquetUpsertSink.delete(Seq((3L, 20L), (5L, 5L)).toDF("id", "rev"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.read(spark, path).count() shouldBe 19L

    // delete every remaining key: table dir (and sidecar) must vanish
    ParquetUpsertSink.delete((1L to 20L).map(i => (i, 99L)).toDF("id", "rev"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.tableExists(spark, path) shouldBe false
    // and the table is reusable from scratch after full emptying
    ParquetUpsertSink.upsert(Seq((1L, 1L, "x")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev", numBuckets = 4)
    ParquetUpsertSink.read(spark, path).count() shouldBe 1L
  }

  test("additive schema evolution: new columns merge with nulls, omitted fields null out") {
    val dir = Files.createTempDirectory("graft-evolve").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    // v1 schema: (id, rev, payload) spread over several buckets
    val v1 = (1L to 8L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(v1, path, Seq("id"), "rev", numBuckets = 4)
    // v2 push adds a `lang` column but touches only keys 1 and 9 —
    // untouched buckets keep the old on-disk schema
    val v2 = Seq((1L, 2L, "p1b", "en"), (9L, 2L, "p9", "de"))
      .toDF("id", "rev", "payload", "lang")
    ParquetUpsertSink.upsert(v2, path, Seq("id"), "rev")
    val got = ParquetUpsertSink.read(spark, path)
    got.columns.toSet shouldBe Set("id", "rev", "payload", "lang")
    val byId = got.select($"id", $"payload", $"lang")
      .as[(Long, String, Option[String])].collect().map(r => r._1 -> r).toMap
    byId(1L) shouldBe (1L, "p1b", Some("en"))
    byId(9L) shouldBe (9L, "p9", Some("de"))
    (2L to 8L).foreach(i => byId(i) shouldBe (i, s"p$i", None))
    // whole-document replace: a later push OMITTING payload nulls it
    // for the pushed key only
    val v3 = Seq((2L, 3L, "fr")).toDF("id", "rev", "lang")
    ParquetUpsertSink.upsert(v3, path, Seq("id"), "rev")
    val after = ParquetUpsertSink.read(spark, path)
      .select($"id", $"payload", $"lang")
      .as[(Long, Option[String], Option[String])].collect()
      .map(r => r._1 -> r).toMap
    after(2L) shouldBe (2L, None, Some("fr"))
    after(3L) shouldBe (3L, Some("p3"), None)
    after.size shouldBe 9
  }

  test("differential fuzz: random upsert/delete/sync sequences match a reference model") {
    differentialFuzz("graft-fuzz")
  }

  test("differential fuzz matrix under the conditional-put CommitIO") {
    // the whole mutation matrix again, committed through
    // etag-conditioned puts — semantics must be byte-identical to the
    // rename path (the CommitIO changes durability, never results)
    val prev = ParquetUpsertSink.commitIO
    ParquetUpsertSink.commitIO =
      new graft.sources.ConditionalPutCommitIO(graft.sources.LocalEtagStore)
    try differentialFuzz("graft-cfuzz")
    finally ParquetUpsertSink.commitIO = prev
  }

  private def differentialFuzz(tag: String): Unit = {
    // The sink is the engine's most state-critical component: every
    // pipeline's exactly-once story reduces to its latest-wins /
    // versioned-delete / snapshot-sync contract. Interpret random op
    // sequences twice — through the parquet sink and through a
    // ~15-line driver-side reference model of the documented
    // semantics — and require identical tables after every op.
    // Small key space forces collisions; revs strictly increase per
    // op so latest-wins is unambiguous.
    sealed trait Op
    case class Up(rows: Seq[(Long, String)]) extends Op
    case class Del(keys: Seq[Long]) extends Op
    case class Sync(rows: Seq[(Long, String)]) extends Op

    val rnd = new scala.util.Random(11)
    def someKeys() = (0 until 1 + rnd.nextInt(5)).map(_ => rnd.nextInt(10).toLong).distinct
    def genOp(): Op = rnd.nextInt(4) match {
      case 0 => Del(someKeys())
      case 3 => Sync(someKeys().map(k => k -> s"s${rnd.nextInt(100)}"))
      case _ => Up(someKeys().map(k => k -> s"p${rnd.nextInt(100)}"))
    }

    (1 to 6).foreach { seqIdx =>
      val dir = Files.createTempDirectory(s"$tag$seqIdx").toFile
      dir.deleteOnExit()
      val path = dir.getPath + "/table"
      var model = Map.empty[Long, (Long, String)] // key -> (rev, payload)
      var rev = 0L
      val ops = (1 to 6).map(_ => genOp())
      ops.foreach { op =>
        rev += 1
        op match {
          case Up(rows) =>
            ParquetUpsertSink.upsert(
              rows.map { case (k, p) => (k, rev, p) }.toDF("id", "rev", "payload"),
              path, Seq("id"), "rev", numBuckets = 4)
            rows.foreach { case (k, p) =>
              if (!model.get(k).exists(_._1 >= rev)) model += k -> (rev, p)
            }
          case Del(keys) =>
            ParquetUpsertSink.delete(
              keys.map(k => (k, rev)).toDF("id", "rev"), path, Seq("id"), "rev")
            keys.foreach { k =>
              if (model.get(k).exists(_._1 <= rev)) model -= k
            }
          case Sync(rows) =>
            ParquetUpsertSink.sync(
              rows.map { case (k, p) => (k, rev, p) }.toDF("id", "rev", "payload"),
              path, Seq("id"), "rev", numBuckets = 4)
            model = rows.map { case (k, p) => k -> (rev, p) }.toMap
        }
        val got =
          if (ParquetUpsertSink.tableExists(spark, path))
            ParquetUpsertSink.read(spark, path)
              .as[(Long, Long, String)].collect().toSet
          else Set.empty[(Long, Long, String)]
        val want = model.map { case (k, (r, p)) => (k, r, p) }.toSet
        withClue(s"seq $seqIdx after $op (history ${ops.mkString(", ")}): ") {
          got shouldBe want
        }
      }
    }
  }

  test("merges keep exactly one data file per bucket (no small-files drift)") {
    val dir = Files.createTempDirectory("graft-compact").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    // wide first write, then two merges spread over many shuffle
    // partitions — without the clustering repartition each merge
    // would drop one file per task into every touched bucket dir
    val a = (1L to 400L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload")
      .repartition(8)
    ParquetUpsertSink.upsert(a, path, Seq("id"), "rev", numBuckets = 4)
    val b = (1L to 200L).map(i => (i, 2L, s"q$i")).toDF("id", "rev", "payload")
      .repartition(8)
    ParquetUpsertSink.upsert(b, path, Seq("id"), "rev")
    ParquetUpsertSink.upsert(b, path, Seq("id"), "rev")
    val liveDirs = ParquetUpsertSink.liveDataDirs(spark, path)
    liveDirs.size shouldBe 4
    liveDirs.foreach { case (b, dir) =>
      val dataFiles = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      withClue(s"bucket $b ($dir): ") { dataFiles.length shouldBe 1 }
    }
    // and the merge result is still correct
    ParquetUpsertSink.read(spark, path).count() shouldBe 400L
  }

  test("single-writer lock: a concurrent second writer fails loudly, never corrupts") {
    val dir = Files.createTempDirectory("graft-lock").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val rows = Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(rows, path, Seq("id"), "rev", numBuckets = 4)
    // a successful mutation releases its lock: the next one proceeds
    ParquetUpsertSink.upsert(Seq((3L, 1L, "c")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.read(spark, path).count() shouldBe 3L

    // simulate a writer HOLDING the lock (as a concurrent merge, or a
    // crashed one, would): every mutation must refuse — before
    // touching any data — with the holder's identity in the error
    val lock = new org.apache.hadoop.fs.Path(path, "_graft_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.write("pid=9999 host=other-writer".getBytes("UTF-8")); out.close()
    val before = ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet
    val e1 = intercept[RuntimeException] {
      ParquetUpsertSink.upsert(Seq((4L, 1L, "d")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev")
    }
    e1.getMessage should include("locked by another writer")
    e1.getMessage should include("other-writer")
    an[RuntimeException] should be thrownBy
      ParquetUpsertSink.sync(rows, path, Seq("id"), "rev")
    an[RuntimeException] should be thrownBy
      ParquetUpsertSink.delete(Seq((1L, 9L)).toDF("id", "rev"), path, Seq("id"), "rev")
    // nothing was written while locked out
    ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet shouldBe before

    // operator override for a dead holder: forceUnlock, then writes flow
    ParquetUpsertSink.forceUnlock(spark, path) shouldBe true
    ParquetUpsertSink.forceUnlock(spark, path) shouldBe false // idempotent
    ParquetUpsertSink.upsert(Seq((4L, 1L, "d")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.read(spark, path).count() shouldBe 4L

    // emptying the WHOLE table via delete must not rip out the table
    // root from under the held lock (that would let two successors
    // acquire simultaneously): after the delete the table reads as
    // absent, NO lock file lingers, and a fresh upsert just works
    ParquetUpsertSink.delete(
      Seq((1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L)).toDF("id", "rev"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.tableExists(spark, path) shouldBe false
    val fs2 = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.exists(lock) shouldBe false // released normally, not leaked
    ParquetUpsertSink.upsert(Seq((5L, 1L, "e")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet shouldBe Set((5L, 1L, "e"))
  }

  test("snapshot isolation: a reader resolved before a mutation sees the OLD complete table") {
    val dir = Files.createTempDirectory("graft-snap").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val v1 = (1L to 20L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(v1, path, Seq("id"), "rev", numBuckets = 4)

    // resolve the manifest NOW: this DataFrame is pinned to generation 0
    val pinned = ParquetUpsertSink.read(spark, path)

    // a full-footprint mutation commits underneath the pinned reader
    val v2 = (1L to 20L).map(i => (i, 2L, s"q$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(v2, path, Seq("id"), "rev")

    // the pinned reader still materializes the complete OLD table —
    // not the new one, and never a mix of generations
    pinned.as[(Long, Long, String)].collect().toSet shouldBe
      (1L to 20L).map(i => (i, 1L, s"p$i")).toSet
    // a fresh resolve sees the complete NEW table
    ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet shouldBe
      (1L to 20L).map(i => (i, 2L, s"q$i")).toSet
  }

  test("sync and delete under a pinned reader: old-or-new, never a mix") {
    val dir = Files.createTempDirectory("graft-snap2").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val v1 = (1L to 20L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(v1, path, Seq("id"), "rev", numBuckets = 4)
    val pinned = ParquetUpsertSink.read(spark, path)

    // a sync that shrinks the table to 3 keys (emptying some buckets)
    val snap = Seq(1L, 2L, 3L).map(i => (i, 2L, s"s$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.sync(snap, path, Seq("id"), "rev")
    pinned.count() shouldBe 20L // old snapshot intact
    ParquetUpsertSink.read(spark, path).count() shouldBe 3L

    // then a delete under ANOTHER pinned reader
    val pinned2 = ParquetUpsertSink.read(spark, path)
    ParquetUpsertSink.delete(Seq((1L, 9L)).toDF("id", "rev"), path, Seq("id"), "rev")
    pinned2.as[(Long, Long, String)].collect().toSet shouldBe
      Set((1L, 2L, "s1"), (2L, 2L, "s2"), (3L, 2L, "s3"))
    ParquetUpsertSink.read(spark, path)
      .select($"id").as[Long].collect().toSet shouldBe Set(2L, 3L)
  }

  test("uncommitted generations are invisible; vacuum reclaims them and grace dirs") {
    val dir = Files.createTempDirectory("graft-vac").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val v1 = (1L to 8L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(v1, path, Seq("id"), "rev", numBuckets = 2)

    // simulate a writer that crashed AFTER writing data but BEFORE the
    // manifest swap: a stray generation directory with real parquet
    Seq((99L, 9L, "ghost")).toDF("id", "rev", "payload")
      .write.parquet(s"$path/__bucket=0/__gen=999")
    ParquetUpsertSink.read(spark, path)
      .select($"id").as[Long].collect().toSet shouldBe (1L to 8L).toSet

    // two more mutations: each bucket accrues a grace generation
    ParquetUpsertSink.upsert(
      (1L to 8L).map(i => (i, 2L, s"q$i")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev")
    ParquetUpsertSink.upsert(
      (1L to 8L).map(i => (i, 3L, s"r$i")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev")

    def genDirs(): Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) {
          if (f.getName.startsWith("__gen=")) out += f.getParentFile.getName + "/" + f.getName
          f.listFiles().foreach(walk)
        }
      walk(new java.io.File(path)); out.toSet
    }
    // live + one grace generation per bucket, plus the orphan
    val before = genDirs()
    before.size should be > 2

    val removed = ParquetUpsertSink.vacuum(spark, path)
    removed should be > 0
    val live = ParquetUpsertSink.liveDataDirs(spark, path)
    genDirs() shouldBe live.map { case (b, d) =>
      s"__bucket=$b/" + d.split("/").last
    }.toSet
    // the table is untouched by vacuum
    ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet shouldBe
      (1L to 8L).map(i => (i, 3L, s"r$i")).toSet
  }

  test("a pre-generation-layout table fails loudly instead of being silently shadowed") {
    val dir = Files.createTempDirectory("graft-legacy").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    // the OLD layout: parquet directly under __bucket=b/, a
    // _graft_buckets sidecar, no manifest — a real table to its era's
    // reader, "no table" to a naive manifest check
    Seq((1L, 1L, "old")).toDF("id", "rev", "payload")
      .write.parquet(s"$path/__bucket=0")
    val ex = intercept[IllegalArgumentException] {
      ParquetUpsertSink.upsert(
        Seq((2L, 1L, "new")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
    }
    ex.getMessage should include("pre-generation-layout")
    // nothing was committed: the path still reads as no sink table
    ParquetUpsertSink.tableExists(spark, path) shouldBe false

    // a crashed FIRST write (orphan __gen dirs, no manifest) is the
    // LEGITIMATE manifest-less state and must stay writable
    val dir2 = Files.createTempDirectory("graft-crash1st").toFile
    dir2.deleteOnExit()
    val path2 = dir2.getPath + "/table"
    Seq((9L, 1L, "ghost")).toDF("id", "rev", "payload")
      .write.parquet(s"$path2/__bucket=0/__gen=0")
    ParquetUpsertSink.upsert(
      Seq((1L, 1L, "real")).toDF("id", "rev", "payload"),
      path2, Seq("id"), "rev", numBuckets = 2)
    ParquetUpsertSink.read(spark, path2)
      .select($"id").as[Long].collect().toSet shouldBe Set(1L)
  }

  test("a plain parquet directory (no __bucket layout) fails loudly instead of being shadowed") {
    val dir = Files.createTempDirectory("graft-plain").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    // an ordinary spark.write.parquet table: part files at the root
    Seq((1L, 1L, "old")).toDF("id", "rev", "payload").write.parquet(path)
    val ex = intercept[IllegalArgumentException] {
      ParquetUpsertSink.upsert(
        Seq((2L, 1L, "new")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
    }
    ex.getMessage should include("foreign data")
    // nothing committed; the original table is byte-untouched
    ParquetUpsertSink.tableExists(spark, path) shouldBe false
    spark.read.parquet(path).as[(Long, Long, String)].collect().toSet shouldBe
      Set((1L, 1L, "old"))
    // same for a foreign PARTITIONED table (hive-style dirs at root)
    val dir2 = Files.createTempDirectory("graft-plainpart").toFile
    dir2.deleteOnExit()
    val path2 = dir2.getPath + "/table"
    Seq((1L, "a", 1L, "old")).toDF("id", "day", "rev", "payload")
      .write.partitionBy("day").parquet(path2)
    intercept[IllegalArgumentException] {
      ParquetUpsertSink.upsert(
        Seq((2L, 1L, "new")).toDF("id", "rev", "payload"),
        path2, Seq("id"), "rev", numBuckets = 2)
    }.getMessage should include("foreign data")
  }

  test("a CommitIO that cannot atomically publish fails the mutation loudly, readers untouched") {
    val dir = Files.createTempDirectory("graft-commitio").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    ParquetUpsertSink.upsert(
      (1L to 4L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev", numBuckets = 2)
    val before = ParquetUpsertSink.read(spark, path)
      .as[(Long, Long, String)].collect().toSet
    // a store without atomic overwrite-rename (the S3 hazard class)
    // must surface as a loud commit failure, never a silent swap
    val prev = ParquetUpsertSink.commitIO
    ParquetUpsertSink.commitIO = new ParquetUpsertSink.CommitIO {
      def publish(conf: org.apache.hadoop.conf.Configuration,
          dst: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit =
        throw new java.io.IOException(
          "atomic overwrite-rename not supported on this store")
    }
    try {
      val ex = intercept[java.io.IOException] {
        ParquetUpsertSink.upsert(
          Seq((1L, 2L, "v2")).toDF("id", "rev", "payload"),
          path, Seq("id"), "rev", numBuckets = 2)
      }
      ex.getMessage should include("not supported")
      // the previous manifest is still live: readers see the old
      // complete table, not a mix, not the failed mutation
      ParquetUpsertSink.read(spark, path)
        .as[(Long, Long, String)].collect().toSet shouldBe before
    } finally ParquetUpsertSink.commitIO = prev
    // and with the default IO restored the same mutation commits
    ParquetUpsertSink.upsert(
      Seq((1L, 2L, "v2")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev", numBuckets = 2)
    ParquetUpsertSink.read(spark, path).where($"id" === 1L)
      .select($"payload").as[String].head() shouldBe "v2"
  }

  test("conditional-put CommitIO: a split-brain loser fails loudly, the winner's manifest intact") {
    import graft.sources.{ConditionalPutCommitIO, LocalEtagStore}
    val dir = Files.createTempDirectory("graft-condrace").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val conf = spark.sparkContext.hadoopConfiguration
    val manifest = new org.apache.hadoop.fs.Path(path, "_graft_manifest")
    val prev = ParquetUpsertSink.commitIO
    ParquetUpsertSink.commitIO = new ConditionalPutCommitIO(LocalEtagStore)
    try {
      ParquetUpsertSink.upsert(
        (1L to 4L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
      // split-brain replay: writer B resolves the live manifest (its
      // begin records the etag) — then writer A commits first. B's
      // later publish is conditioned on the tag B OBSERVED, which is
      // now stale — the put must be rejected, loudly.
      val loserIO = new ConditionalPutCommitIO(LocalEtagStore)
      loserIO.begin(conf, manifest) // B reads table state here
      ParquetUpsertSink.upsert( // A wins the race
        Seq((2L, 2L, "winner")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
      val winnerState = ParquetUpsertSink.read(spark, path)
        .as[(Long, Long, String)].collect().toSet
      val ex = intercept[java.util.ConcurrentModificationException] {
        loserIO.publish(conf, manifest, "0 99\n1 99".getBytes("UTF-8"))
      }
      ex.getMessage should include("lost a commit race")
      // the winner's manifest (and so the table) is byte-for-byte intact
      ParquetUpsertSink.read(spark, path)
        .as[(Long, Long, String)].collect().toSet shouldBe winnerState
      winnerState.find(_._1 == 2L).map(_._3) shouldBe Some("winner")
      // and a retract conditioned on the same stale observation is
      // rejected identically (the empty-table path cannot clobber)
      loserIO.begin(conf, manifest)
      ParquetUpsertSink.upsert(
        Seq((3L, 3L, "w2")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
      intercept[java.util.ConcurrentModificationException] {
        loserIO.retract(conf, manifest)
      }
      ParquetUpsertSink.read(spark, path).where($"id" === 3L)
        .select($"payload").as[String].head() shouldBe "w2"
    } finally ParquetUpsertSink.commitIO = prev
  }

  test("generation ids are unique per attempt: two writers off one manifest never share a data directory") {
    // the split-brain DATA guard: if two attempts computed the same
    // generation from the same manifest snapshot, the loser's
    // dynamic-partition overwrite would replace the winner's committed
    // files BEFORE its conditional publish fails
    val manifest = Map(0 -> 5L, 1 -> 7L)
    val gens = (1 to 1000).map(_ => ParquetUpsertSink.nextGen(manifest))
    gens.toSet.size shouldBe 1000 // all distinct
    gens.foreach(_ should be > 7L) // and above every committed gen
    // Long-horizon regression: once epoch-ms crosses 2^41 (Sept 2039) an
    // unmasked `millis << 22` sets the sign bit, the nonce goes negative,
    // and math.max silently degrades to the shared manifest floor —
    // re-enabling the split-brain hazard. The 41-bit mask keeps the
    // nonce positive for any timestamp.
    val y2040 = 2200000000000L // > 2^41 ≈ 2.199e12
    ParquetUpsertSink.genNonce(y2040, 0) should be > 0L
    ParquetUpsertSink.genNonce(Long.MaxValue, (1 << 22) - 1) should be > 0L
    ParquetUpsertSink.genNonce(System.currentTimeMillis(), 7) should be > 0L
  }

  test("split-brain end-to-end: a paused loser mutation fails loudly; the winner's manifest AND data survive") {
    import graft.sources.{ConditionalPutCommitIO, LocalEtagStore}
    val dir = Files.createTempDirectory("graft-condfull").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val prev = ParquetUpsertSink.commitIO
    val reached = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    // writer A's IO: conditional semantics, but publish PAUSES at the
    // commit point so a second writer can slip past (the operator
    // force-unlocks a live-but-slow holder — the documented hazard)
    val pausing = new ParquetUpsertSink.CommitIO {
      val inner = new ConditionalPutCommitIO(LocalEtagStore)
      override def begin(conf: org.apache.hadoop.conf.Configuration,
          dst: org.apache.hadoop.fs.Path): Unit = inner.begin(conf, dst)
      def publish(conf: org.apache.hadoop.conf.Configuration,
          dst: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit = {
        reached.countDown()
        gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
        inner.publish(conf, dst, body)
      }
      override def retract(conf: org.apache.hadoop.conf.Configuration,
          dst: org.apache.hadoop.fs.Path): Unit = inner.retract(conf, dst)
    }
    try {
      ParquetUpsertSink.commitIO = new ConditionalPutCommitIO(LocalEtagStore)
      ParquetUpsertSink.upsert(
        (1L to 4L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
      ParquetUpsertSink.commitIO = pausing
      val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val tA = new Thread(() =>
        try ParquetUpsertSink.upsert(
          Seq((2L, 2L, "loser")).toDF("id", "rev", "payload"),
          path, Seq("id"), "rev", numBuckets = 2)
        catch { case e: Throwable => aErr.set(e) })
      tA.start()
      reached.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      // A has written its generation data and sits at the commit.
      // Split brain: the operator force-unlocks and writer B runs a
      // FULL mutation to completion under its own conditional IO.
      ParquetUpsertSink.commitIO = new ConditionalPutCommitIO(LocalEtagStore)
      ParquetUpsertSink.forceUnlock(spark, path)
      ParquetUpsertSink.upsert(
        Seq((2L, 3L, "winner")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
      val winnerState = ParquetUpsertSink.read(spark, path)
        .as[(Long, Long, String)].collect().toSet
      winnerState.find(_._1 == 2L).map(_._3) shouldBe Some("winner")
      // release A: its conditional publish must LOSE, loudly …
      gate.countDown()
      tA.join(60000)
      aErr.get() shouldBe a[java.util.ConcurrentModificationException]
      // … and the winner's manifest AND data are byte-for-byte intact
      // (A's generation directory is an invisible orphan — unique
      // generation ids mean it can never be B's directory)
      ParquetUpsertSink.read(spark, path)
        .as[(Long, Long, String)].collect().toSet shouldBe winnerState
    } finally ParquetUpsertSink.commitIO = prev
  }

  test("conditional-put CommitIO: publish without begin is a wiring bug and throws") {
    import graft.sources.{ConditionalPutCommitIO, LocalEtagStore}
    val io = new ConditionalPutCommitIO(LocalEtagStore)
    val dir = Files.createTempDirectory("graft-condnobegin").toFile
    dir.deleteOnExit()
    val p = new org.apache.hadoop.fs.Path(dir.getPath, "_graft_manifest")
    val ex = intercept[IllegalArgumentException] {
      io.publish(spark.sparkContext.hadoopConfiguration, p, "0 0".getBytes)
    }
    ex.getMessage should include("without a begin")
  }

  test("conditional-put CommitIO: a delete that empties the table retracts conditionally and the table re-creates") {
    import graft.sources.{ConditionalPutCommitIO, LocalEtagStore}
    val dir = Files.createTempDirectory("graft-condretract").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val prev = ParquetUpsertSink.commitIO
    ParquetUpsertSink.commitIO = new ConditionalPutCommitIO(LocalEtagStore)
    try {
      ParquetUpsertSink.upsert(
        Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
      ParquetUpsertSink.delete(
        Seq((1L, 2L), (2L, 2L)).toDF("id", "rev"), path, Seq("id"), "rev")
      ParquetUpsertSink.tableExists(spark, path) shouldBe false
      // the store's tag registry agrees the object is gone, so a fresh
      // first write commits with an If-None-Match-style precondition
      ParquetUpsertSink.upsert(
        Seq((5L, 1L, "fresh")).toDF("id", "rev", "payload"),
        path, Seq("id"), "rev", numBuckets = 2)
      ParquetUpsertSink.read(spark, path)
        .as[(Long, Long, String)].collect().toSet shouldBe Set((5L, 1L, "fresh"))
    } finally ParquetUpsertSink.commitIO = prev
  }

  test("vacuum reclaims a crashed writer's job-staging debris at the table root") {
    val dir = Files.createTempDirectory("graft-staging").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    ParquetUpsertSink.upsert(
      (1L to 4L).map(i => (i, 1L, s"p$i")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev", numBuckets = 2)
    // a writer killed mid-write leaves Spark's staging dir behind
    val staging = new java.io.File(s"$path/.spark-staging-deadbeef")
    staging.mkdirs()
    new java.io.File(staging, "part-00000.parquet").createNewFile()
    ParquetUpsertSink.vacuum(spark, path) should be >= 1
    staging.exists() shouldBe false
    // live data untouched
    ParquetUpsertSink.read(spark, path).count() shouldBe 4L
  }

  test("an upsert evaluates an unpinned input once") {
    val dir = Files.createTempDirectory("graft-once").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    ParquetUpsertSink.upsert((1L to 100L).map(i => (i, 1L, s"p$i"))
      .toDF("id", "rev", "payload"), path, Seq("id"), "rev", numBuckets = 8)
    // a computed frame that counts every row it produces
    val evals = spark.sparkContext.longAccumulator("upsert-input-evals")
    val updates = (61L to 120L).toDS().map { i => evals.add(1); (i, 2L, s"u$i") }
      .toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(updates, path, Seq("id"), "rev")
    evals.value shouldBe 60L
    val got = ParquetUpsertSink.read(spark, path).as[(Long, Long, String)].collect()
    got.length shouldBe 120
    got.filter(_._2 == 2L).map(_._1).toSet shouldBe (61L to 120L).toSet
  }

  test("an empty input commits nothing: no table is created and no generation changes") {
    val dir = Files.createTempDirectory("graft-empty").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val empty = Seq.empty[(Long, Long, String)].toDF("id", "rev", "payload")
    ParquetUpsertSink.upsert(empty, path, Seq("id"), "rev", numBuckets = 4)
    ParquetUpsertSink.sync(empty, path, Seq("id"), "rev", numBuckets = 4)
    ParquetUpsertSink.tableExists(spark, path) shouldBe false
    ParquetUpsertSink.upsert(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "rev", "payload"),
      path, Seq("id"), "rev", numBuckets = 4)
    val dirs = ParquetUpsertSink.liveDataDirs(spark, path)
    ParquetUpsertSink.upsert(empty, path, Seq("id"), "rev")
    ParquetUpsertSink.delete(empty.select($"id", $"rev"), path, Seq("id"), "rev")
    ParquetUpsertSink.liveDataDirs(spark, path) shouldBe dirs
  }

  test("a mutation that writes nothing leaves no table directory behind") {
    val dir = Files.createTempDirectory("graft-noroot").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/table"
    val root = new java.io.File(path)
    ParquetUpsertSink.delete(Seq((1L, 5L)).toDF("id", "rev"), path, Seq("id"), "rev")
    root.exists() shouldBe false
    ParquetUpsertSink.upsert(Seq.empty[(Long, Long, String)].toDF("id", "rev", "payload"),
      path, Seq("id"), "rev", numBuckets = 4)
    root.exists() shouldBe false
    // a root that was there before the mutation stays
    root.mkdirs()
    ParquetUpsertSink.delete(Seq((1L, 5L)).toDF("id", "rev"), path, Seq("id"), "rev")
    root.isDirectory shouldBe true
  }
}
