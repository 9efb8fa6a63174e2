package graft.sources

import graft.util.pin
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed batch-upsert sink over partitioned parquet — the Spark
  * re-expression of the reference's destination push (MoDevETL
  * `push_to_es.py`: bulk-push batches keyed by record id, newest
  * revision wins on collision).
  *
  * Layout (snapshot-isolated): the table is partitioned by
  * `__bucket = pmod(hash(keys), n)` and, inside each bucket, by a
  * monotonically increasing generation `__gen=G`. [[upsert]],
  * [[delete]] and [[sync]] are one mutation protocol (see [[mutate]])
  * that differs only in which buckets it rewrites and with what rows.
  * A mutation never rewrites a live file: it reads its input once,
  * writes the new rows of the touched buckets into FRESH `__gen`
  * directories, then commits by atomically swapping the
  * `_graft_manifest` pointer file at the table root
  * (hadoop `FileContext.rename(OVERWRITE)` — one atomic metadata op
  * on HDFS/local, NOT on S3-class object stores: there, install a
  * conditional-put [[ParquetUpsertSink.CommitIO]] — see
  * [[ParquetUpsertSink.RenameCommitIO]]'s atomicity note).
  * The manifest maps every live bucket to its current generation;
  * readers resolve the manifest and list ONLY the referenced leaf
  * directories. A reader therefore sees the table as of one manifest —
  * the old complete table or the new complete table, never a mix, and
  * never a half-written generation (uncommitted `__gen` dirs are not
  * in any manifest). At 100 TB that makes merge cost proportional to
  * the update footprint AND gives readers snapshot isolation without a
  * transactional table format.
  *
  * Retention: each mutation keeps the immediately superseded
  * generation of every bucket it rewrote (so a reader that resolved
  * the previous manifest can finish its scan) and deletes that
  * bucket's older generations. Pruning touches ONLY the buckets the
  * mutation rewrote — commit metadata cost stays proportional to the
  * update footprint, so a bucket's grace generation lingers until its
  * next rewrite (bounded at one extra generation per bucket, and an
  * even longer safety window for readers). A reader is thus safe
  * concurrent with AT LEAST one subsequent mutation; [[vacuum]]
  * removes all unreferenced generations when the operator knows no
  * reader is in flight. A writer that crashes before the manifest
  * swap leaves orphan `__gen` dirs (and possibly Spark job-staging
  * debris) that no reader ever sees; generation ids are unique per
  * ATTEMPT (see [[nextGen]] — the split-brain data guard), so a
  * retry writes a fresh directory and vacuum collects the orphans,
  * staging debris included.
  *
  * SINGLE WRITER per table: a merge is a non-atomic read-modify-write
  * of the touched buckets, so concurrent upserts into the same path
  * can lose updates. Structured Streaming satisfies this per query
  * (foreachBatch batches are serial) — the streaming writers
  * ([[graft.streaming.StreamOps.streamingUpsertIngest]],
  * streamingNearDedupIngest, [[EtlPipeline.runStream]]) are safe as
  * ONE query per store; do not point two queries at one table.
  *
  * SCHEMA EVOLUTION (additive): a push may carry columns the stored
  * table lacks (they appear, null for rows that never carried them)
  * or omit stored columns (the pushed rows hold null there — an
  * upsert replaces the WHOLE document per key, ES bulk semantics, so
  * an omitted field is an absent field, not "keep the old value").
  * Untouched buckets keep their old on-disk schema; reads merge
  * per-file schemas (see [[readRaw]]). A RENAME is therefore two
  * columns, not detected — deliberate: silently matching renamed
  * columns is how keyed stores corrupt.
  */
object ParquetUpsertSink {

  private val bucketCol = "__bucket"
  private val genCol = "__gen"
  private val manifestName = "_graft_manifest"

  /** Merge `updates` into the keyed table at `path`, newest `versionCol`
    * winning per key (ties broken by the remaining sort stability of
    * a single row_number pass — callers should make versions unique
    * per key, e.g. a revision counter or event timestamp).
    *
    * The bucket count is a TABLE property, not a call property: the
    * first write records `numBuckets` in a `_graft_buckets` sidecar
    * and every later merge uses the stored value — a mismatched
    * caller value would route existing keys to different buckets,
    * skip them during pruning, and silently duplicate keys.
    */
  def upsert(updates: DataFrame, path: String, keyCols: Seq[String],
      versionCol: String, numBuckets: Int = 64): Unit =
    mutate(updates, path, keyCols, Some(numBuckets)) { (live, in, inBuckets) =>
      // additive schema evolution: either side may carry columns the
      // other lacks (see the class doc) — absent cells become null
      val all = liveRows(in.sparkSession, path, live, inBuckets)
        .fold(in)(_.unionByName(in, allowMissingColumns = true))
      // the bucket is a function of the keys: routed by bucket once, the
      // newest-version window needs no shuffle of its own and the
      // write's bucket repartition is already satisfied
      (inBuckets, Some(dedupLatest(all.repartition(col(bucketCol)),
        bucketCol +: keyCols, versionCol)))
    }

  /** The one mutation protocol behind [[upsert]], [[delete]] and
    * [[sync]], under the write lock:
    *  1. [[CommitIO.begin]] BEFORE the manifest is read: begin-after-read
    *     would let a manifest swap in the window publish a stale
    *     mutation under the NEW etag (a silent lost update); this order
    *     makes the worst case a spurious LOUD failure.
    *  1. Resolve the manifest and bucket count. `numBuckets` sizes a
    *     first write; `None` (a delete) makes an absent table a no-op.
    *  1. Pin the bucketed input once, observing its buckets in the
    *     checkpoint's own job: a computed input is evaluated once.
    *  1. `rewrite(live, input, inputBuckets)` picks the touched buckets
    *     and their complete new rows (`None`: no rows at all).
    *  1. Write those rows as one fresh generation.
    *  1. Commit `live -- touched ++ written -> gen`, `written` being the
    *     touched buckets whose directory of this (per-attempt unique)
    *     generation exists: a bucket the rewrite emptied leaves.
    */
  private def mutate(rows: DataFrame, path: String, keyCols: Seq[String],
      numBuckets: Option[Int])(
      rewrite: (Map[Int, Long], DataFrame, Set[Int]) => (Set[Int], Option[DataFrame])): Unit = {
    val spark = rows.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    withWriteLock(spark, path) {
      commitIO.begin(conf, manifestPath(path))
      val manifest = readManifest(spark, path)
      if (manifest.isDefined || numBuckets.isDefined) {
        if (manifest.isEmpty) assertNoPreManifestData(spark, path)
        val live = manifest.getOrElse(Map.empty[Int, Long])
        val buckets = if (manifest.isDefined) readBucketCount(spark, path) else numBuckets.get
        val seen = org.apache.spark.sql.Observation()
        val (in, _) = pin(withBucket(rows, keyCols, buckets)
          .observe(seen, collect_set(col(bucketCol)).as("b")))
        val (touched, rewritten) = rewrite(live, in,
          seen.get("b").asInstanceOf[scala.collection.Seq[Int]].toSet)
        if (touched.nonEmpty) {
          val gen = nextGen(live)
          rewritten.foreach(writeBuckets(_, path, gen))
          val fs = manifestPath(path).getFileSystem(conf)
          val written = touched.filter(b =>
            fs.exists(new org.apache.hadoop.fs.Path(genDir(path, b, gen))))
          // sidecar BEFORE the manifest commit: the commit is what makes
          // the table visible, and a visible table must already carry its
          // bucket count (a crash in between leaves an invisible,
          // vacuumable write)
          if (manifest.isEmpty) writeBucketCount(spark, path, buckets)
          commit(spark, path, live, live -- touched ++ written.map(_ -> gen))
        }
      }
    }
  }

  /** Bucket-partitioned write of one fresh generation, COMPACTED:
    * without the clustering repartition, every shuffle task holding
    * rows of a bucket writes its own small file into that bucket's
    * generation dir — up to shuffle.partitions files PER BUCKET PER
    * MERGE, the classic small-files failure mode of a
    * frequently-merged 100 TB store (metadata pressure + tiny-scan
    * overhead on every read). Routing all rows of a bucket to one task
    * first costs one extra exchange of the (update-footprint-sized)
    * rewrite set and makes every rewritten bucket exactly ONE parquet
    * file, so live file count stays equal to bucket count forever —
    * merges never degrade the layout. An input already routed by
    * bucket (an upsert's, see [[upsert]]) pays no second exchange:
    * Spark drops a repartition its input already satisfies.
    *
    * Sizing: one file per bucket makes `numBuckets` the parallelism
    * AND file-size knob — pick it so a bucket is ~1 GB at the table's
    * target size (parquet files are splittable, so READS of a large
    * bucket still parallelize across row groups; it is the
    * single-task WRITE of a hot bucket that numBuckets bounds).
    * Generation ids are unique per attempt ([[nextGen]]), so the
    * dynamic overwrite never touches another attempt's directory.
    */
  private def writeBuckets(df: DataFrame, path: String, gen: Long): Unit =
    df.withColumn(genCol, lit(gen))
      .repartition(col(bucketCol))
      .write
      .partitionBy(bucketCol, genCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)

  private val lastGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A generation id for THIS mutation attempt: strictly above every
    * committed generation AND unique across attempts. Uniqueness is
    * the split-brain DATA guard (r16): two writers that both read the
    * same manifest (past the lock — the ConditionalPutCommitIO threat
    * model) must never share a generation DIRECTORY, or the loser's
    * writeBuckets (dynamic-partition overwrite) would replace the
    * winner's already-committed files before the loser's conditional
    * publish fails — a silent lost update behind a loud error. Within
    * one JVM the id is strictly increasing (a high-water mark), so
    * same-millisecond attempts never collide; across processes a
    * millisecond timestamp in the high bits plus a 22-bit random salt
    * makes collision need same-ms attempts AND a 1-in-4M salt match.
    * The committed-max floor covers clock skew. Generations are large
    * opaque numbers: only manifest references matter, and a crashed
    * attempt's directory stays an invisible orphan until [[vacuum]].
    */
  private[graft] def nextGen(manifest: Map[Int, Long]): Long = {
    val floor = if (manifest.isEmpty) 0L else manifest.values.max + 1
    val nonce = genNonce(System.currentTimeMillis(),
      java.util.concurrent.ThreadLocalRandom.current().nextInt(1 << 22))
    lastGen.updateAndGet(last => math.max(math.max(floor, nonce), last + 1))
  }

  /** Mask the timestamp to 41 bits so the shifted nonce never sets the
    * sign bit: an unmasked epoch-ms crosses 2^41 in Sept 2039, the nonce
    * goes negative, and math.max silently degrades to the manifest floor —
    * re-enabling the shared-generation split-brain the nonce prevents.
    * 41 bits of ms ≈ a 69-year wrap; uniqueness needs same-ms + salt
    * match either way, so the wrap is harmless.
    */
  private[graft] def genNonce(millis: Long, salt: Int): Long =
    ((millis & ((1L << 41) - 1)) << 22) | (salt & ((1 << 22) - 1)).toLong

  private def metaPath(path: String) = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
  private def manifestPath(path: String) = new org.apache.hadoop.fs.Path(path, manifestName)

  private def writeBucketCount(spark: SparkSession, path: String, n: Int): Unit = {
    val fs = metaPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath(path), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readBucketCount(spark: SparkSession, path: String): Int = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$path exists but has no _graft_buckets sidecar — not an upsert-sink table")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Data-loss guard for the manifest-less branch: a table written by
    * the pre-generation layout has parquet files DIRECTLY under
    * `__bucket=b/` and no `_graft_manifest` — treating it as "no
    * table" would merge against nothing, commit a manifest covering
    * only the update, and silently shadow every existing row (old
    * files referenced by no generation, invisible even to vacuum).
    * The same hazard class with a different layout: pointing the sink
    * at a PLAIN parquet directory (part files or foreign partition
    * dirs directly at the table root, no `__bucket=` anywhere) —
    * also "no table" to a naive manifest check, also silently
    * shadowed; any root entry that is not `__bucket=*`, `_`-prefixed
    * metadata, or `.`-hidden is rejected the same way. A crashed
    * FIRST write is the legitimate manifest-less state and stays
    * writable: its orphans live under `__gen=` subdirectories of
    * `__bucket=` dirs. Runs only
    * on the first write to a path (manifest absent), so the listing
    * cost never touches steady-state mutations.
    */
  private def assertNoPreManifestData(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { bSt =>
      val bName = bSt.getPath.getName
      def refuse(what: String): Nothing = throw new IllegalArgumentException(
        s"$path has $what but no $manifestName — an existing non-sink (or " +
          "pre-generation-layout) table. Refusing to write: the merge would " +
          "silently shadow every existing row. Migrate by reading the old " +
          "table (spark.read.parquet) and sync()ing it into a NEW path.")
      if (bSt.isDirectory && bName.startsWith(s"$bucketCol=")) {
        val flat = fs.listStatus(bSt.getPath).exists { st =>
          val n = st.getPath.getName
          !n.startsWith(s"$genCol=") && !n.startsWith("_") && !n.startsWith(".")
        }
        if (flat) refuse(s"data directly under $bName")
      } else if (!bName.startsWith("_") && !bName.startsWith("."))
        refuse(s"a foreign data ${if (bSt.isDirectory) "directory" else "file"} '$bName'")
    }
  }

  /** The live snapshot: bucket -> current generation. `None` = no
    * committed table at `path`. One small file read — never lists data
    * directories, so resolve cost is independent of table size.
    */
  private[graft] def readManifest(spark: SparkSession, path: String): Option[Map[Int, Long]] = {
    val p = manifestPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      Some(text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(b, g) = line.split(" ")
        b.toInt -> g.toLong
      }.toMap)
    }
  }

  /** The one primitive the sink's snapshot isolation rests on:
    * atomically publish `body` as the manifest at `dst`, replacing
    * whatever manifest is live — all-or-nothing, and loud (throw) if
    * atomic replacement cannot be performed. Everything else the sink
    * writes is invisible until this succeeds, so swapping THIS
    * implementation is the entire storage-portability surface.
    */
  trait CommitIO {
    /** Called once per mutation, under the write lock, as the first
      * step of the sink's one mutation protocol — BEFORE the live
      * manifest is read and before any data is written: observe
      * whatever precondition the commit will be conditioned on
      * (object etag / generation). Default: nothing — rename-based
      * commits have no precondition.
      */
    def begin(conf: org.apache.hadoop.conf.Configuration,
        dst: org.apache.hadoop.fs.Path): Unit = ()

    def publish(conf: org.apache.hadoop.conf.Configuration,
        dst: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit

    /** Remove the manifest — the table reads as absent afterwards
      * (a delete that empties the whole table). Default: plain
      * filesystem delete; conditional implementations condition it
      * like publish.
      */
    def retract(conf: org.apache.hadoop.conf.Configuration,
        dst: org.apache.hadoop.fs.Path): Unit = {
      dst.getFileSystem(conf).delete(dst, false); ()
    }
  }

  /** Default [[CommitIO]]: temp file + `FileContext.rename(OVERWRITE)`.
    *
    * ATOMICITY ASSUMPTION — read before deploying: overwrite-rename is
    * one atomic metadata operation on HDFS and on POSIX local
    * filesystems, and that atomicity is what gives readers
    * old-complete-table-or-new semantics. It is NOT atomic on S3 and
    * most object stores, where rename is copy-then-delete: a
    * concurrent reader can observe a missing or half-copied manifest,
    * and two concurrent committers can interleave. On an object store,
    * install a [[CommitIO]] whose publish is a CONDITIONAL PUT of the
    * manifest object (S3 `If-Match`/`If-None-Match`, GCS generation
    * preconditions, ABFS ETags) via [[commitIO]] — the sink's layout
    * (immutable generation directories + one pointer object) is
    * exactly the shape those primitives commit safely.
    */
  object RenameCommitIO extends CommitIO {
    def publish(conf: org.apache.hadoop.conf.Configuration,
        dst: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit = {
      val fs = dst.getFileSystem(conf)
      val tmp = new org.apache.hadoop.fs.Path(dst.getParent, s"${dst.getName}.tmp")
      val out = fs.create(tmp, true)
      try out.write(body) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext
        .getFileContext(fs.makeQualified(dst.getParent).toUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(dst),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Process-wide manifest-commit strategy (see [[RenameCommitIO]]'s
    * atomicity note). Set ONCE at deployment bootstrap, before any
    * writer runs — [[graft.Main]] wires it from the config's
    * `commitIO` key ("rename" | "conditional-local"); an object-store
    * deployment installs a [[ConditionalPutCommitIO]] over its
    * service's conditional-write API. UpsertSinkSpec proves a publish
    * that cannot guarantee atomic replace fails the mutation loudly
    * and leaves the previous manifest (and so every reader)
    * untouched, and that a conditional commit losing a split-brain
    * race fails loudly with the winner's manifest intact.
    */
  @volatile var commitIO: CommitIO = RenameCommitIO

  /** COMMIT: publish the new manifest via [[commitIO]] (default:
    * atomic overwrite-rename — see [[RenameCommitIO]] for the
    * filesystem assumption). Until this returns, no
    * reader can see any byte the mutation wrote; after it, every new
    * reader sees the complete new table. An empty manifest deletes the
    * pointer and the bucket-count sidecar instead — the table reads as
    * absent and a fresh first write may pick a new bucket count.
    *
    * After the swap, each REWRITTEN bucket's generations older than
    * the one just superseded are deleted: the immediately superseded
    * generation is retained so a reader holding the previous manifest
    * can finish; [[vacuum]] reclaims the rest (see the class-doc
    * retention note for why pruning is footprint-scoped).
    */
  private def commit(spark: SparkSession, path: String,
      prev: Map[Int, Long], next: Map[Int, Long]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (next.isEmpty) {
      commitIO.retract(conf, manifestPath(path))
      fs.delete(metaPath(path), false)
    } else {
      val body = next.toSeq.sorted.map { case (b, g) => s"$b $g" }.mkString("\n")
      commitIO.publish(conf, manifestPath(path), body.getBytes("UTF-8"))
    }
    // prune ONLY buckets whose generation changed in THIS commit
    // (keep {new live gen, immediately superseded gen}, drop older):
    // iterating every live bucket would make commit metadata cost
    // O(numBuckets) LIST calls per mutation — on an object store that
    // breaks the "merge cost proportional to the update footprint"
    // contract. The price: a bucket's grace generation now lingers
    // until the bucket's NEXT rewrite (bounded at one extra gen per
    // bucket; a LONGER reader grace window) instead of the next table
    // mutation; vacuum reclaims stragglers as before.
    (prev.keySet ++ next.keySet)
      .filter(b => prev.get(b) != next.get(b)).foreach { b =>
      val keep = Set(prev.get(b), next.get(b)).flatten
      val bDir = new org.apache.hadoop.fs.Path(root, s"$bucketCol=$b")
      if (fs.exists(bDir)) fs.listStatus(bDir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(s"$genCol=") &&
            !keep.contains(name.stripPrefix(s"$genCol=").toLong))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Delete every generation directory the current manifest does not
    * reference — the grace-retained previous generations, any orphans
    * a crashed writer left, and Spark job-staging debris at the table
    * root. Call when no reader is in flight (a reader older than the
    * live manifest loses its files). Runs under the write lock;
    * returns the number of directories removed.
    */
  def vacuum(spark: SparkSession, path: String): Int =
    withWriteLock(spark, path) {
      val live = readManifest(spark, path).getOrElse(Map.empty)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var removed = 0
      if (fs.exists(root)) fs.listStatus(root).foreach { bSt =>
        val bName = bSt.getPath.getName
        // a writer killed mid-write leaves Spark's job-staging debris
        // at the table root (.spark-staging-<jobId>, _temporary) —
        // potentially the whole rewrite set in bytes; no manifest ever
        // references it, so it is vacuum's to reclaim
        if (bName.startsWith(".spark-staging") || bName == "_temporary") {
          fs.delete(bSt.getPath, true)
          removed += 1
        }
        if (bSt.isDirectory && bName.startsWith(s"$bucketCol=")) {
          val b = bName.stripPrefix(s"$bucketCol=").toInt
          fs.listStatus(bSt.getPath).foreach { gSt =>
            val gName = gSt.getPath.getName
            if (gName.startsWith(s"$genCol=") &&
                !live.get(b).contains(gName.stripPrefix(s"$genCol=").toLong)) {
              fs.delete(gSt.getPath, true)
              removed += 1
            }
          }
          if (fs.listStatus(bSt.getPath).isEmpty) fs.delete(bSt.getPath, true)
        }
      }
      removed
    }

  /** Read the logical table back (bucket column dropped). The manifest
    * is resolved HERE, eagerly: the returned DataFrame is pinned to
    * this snapshot's file set and keeps returning it even if a
    * mutation commits afterwards (safe for one subsequent mutation —
    * see the retention note in the class doc).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val live = readManifest(spark, path).getOrElse(
      sys.error(s"$path has no committed manifest — not an upsert-sink table"))
    readRaw(spark, path, live).drop(bucketCol)
  }

  /** The live rows of `buckets` only; None when none of them is live. */
  private def liveRows(spark: SparkSession, path: String, live: Map[Int, Long],
      buckets: Set[Int]): Option[DataFrame] = {
    val hit = live.filter { case (b, _) => buckets(b) }
    if (hit.isEmpty) None else Some(readRaw(spark, path, hit))
  }

  /** Physical read of one manifest's file set: ONLY the referenced
    * `__bucket=b/__gen=g` leaf directories are listed (basePath keeps
    * `__bucket` available for pruning merges), so uncommitted or
    * superseded generations are invisible — no filter needed, and
    * listing cost is one directory per live bucket.
    *
    * Every read merges per-file schemas: after an additive schema
    * evolution, only the buckets a later merge touched carry the new
    * column on disk — a single-footer read would pick one file's
    * schema and silently DROP the column from (or fail on) the
    * others. mergeSchema reads all footers (cost: numBuckets small
    * footers, not data) and nulls absent cells, which is exactly the
    * evolution contract.
    */
  private def readRaw(spark: SparkSession, path: String,
      live: Map[Int, Long]): DataFrame = {
    val dirs = live.toSeq.sorted.map { case (b, g) => genDir(path, b, g) }
    spark.read
      .option("mergeSchema", "true")
      .option("basePath", path)
      .parquet(dirs: _*)
      .drop(genCol)
  }

  /** Full-table synchronization — the reference's RE-INDEX path (push
    * everything, delete stale): make the keyed table at `path` equal
    * `snapshot` exactly, rewriting only buckets whose content differs.
    *
    * Change detection never compares rows across the table: each side
    * collapses to a numBuckets-row fingerprint (order-independent
    * bit_xor of a 64-bit (keys, version) row hash, plus a row count —
    * xor instead of sum so ANSI overflow cannot strike, and keys are
    * unique per bucket on both sides so xor self-cancellation cannot)
    * via one map-side-combinable aggregate scan per side; a tiny
    * full-outer join on bucket picks the drift set. An unchanged
    * 100 TB table re-pushed costs two aggregate scans and writes
    * nothing. Buckets the sync EMPTIES simply leave the manifest —
    * their directories linger (invisible) until [[vacuum]].
    *
    * `versionCol` resolves duplicates WITHIN the snapshot
    * (latest-wins); the snapshot is otherwise authoritative — an older
    * snapshot version replaces a newer stored row, because a reindex's
    * contract is "the table now equals the source". Change detection
    * is keyed on (keys, version): a payload edit without a version
    * bump is invisible, the same contract upsert's latest-wins merge
    * already imposes. Same single-writer rule as [[upsert]].
    */
  def sync(snapshot: DataFrame, path: String, keyCols: Seq[String],
      versionCol: String, numBuckets: Int = 64): Unit =
    mutate(dedupLatest(snapshot, keyCols, versionCol), path, keyCols,
        Some(numBuckets)) { (live, desired, inBuckets) =>
      if (live.isEmpty) (inBuckets, Some(desired))
      else {
        def fingerprint(df: DataFrame, tag: String) = df
          .withColumn("__h", xxhash64((keyCols :+ versionCol).map(col): _*))
          .groupBy(col(bucketCol))
          .agg(bit_xor(col("__h")).as(s"fp_$tag"), count(lit(1)).as(s"n_$tag"))
        val drift = fingerprint(readRaw(desired.sparkSession, path, live), "e")
          .join(fingerprint(desired, "d"), Seq(bucketCol), "full_outer")
          .where(!(col("fp_e") <=> col("fp_d")) || !(col("n_e") <=> col("n_d")))
          .select(col(bucketCol), col("n_d").isNotNull)
          .collect().map(r => r.getInt(0) -> r.getBoolean(1))
        val changed = drift.collect { case (b, true) => b }
        (drift.map(_._1).toSet,
          Option.when(changed.nonEmpty)(desired.where(col(bucketCol).isin(changed.toSeq: _*))))
      }
    }

  /** Bulk keyed DELETE, bucket-pruned: only buckets containing a
    * requested key are read, anti-joined, and rewritten — delete cost
    * is proportional to the delete footprint, never the table. `keys`
    * carries the key columns plus `versionCol`; a stored row is
    * removed only when its version is <= the delete's version (the
    * latest-wins mirror of [[upsert]] — a delete never clobbers a
    * newer write, and redelivering the same delete batch is a no-op).
    * Buckets the delete EMPTIES leave the manifest; a delete that
    * empties the whole table removes the manifest and bucket sidecar
    * (the table reads as absent, data dirs await [[vacuum]]).
    *
    * No tombstone memory: after a physical delete, a LATER redelivery
    * of an upsert OLDER than the delete would reinstate the row. The
    * sink's single-writer serial contract (see the class doc) already
    * forbids that interleaving — within one serial writer, each
    * batch's deletes are recomputed from current state, so redelivery
    * of a whole batch converges.
    */
  def delete(keys: DataFrame, path: String, keyCols: Seq[String],
      versionCol: String): Unit =
    mutate(keys.select(keyCols.map(col) :+ col(versionCol).as("__delv"): _*),
        path, keyCols, None) { (live, del, inBuckets) =>
      val touched = inBuckets.filter(live.contains) // buckets with no live data have nothing to delete
      (touched, liveRows(del.sparkSession, path, live, touched).map { existing =>
        val cond = keyCols.map(k => existing(k) === del(k)).reduce(_ && _) &&
          existing(versionCol) <= del("__delv")
        existing.join(del, cond, "left_anti")
      })
    }

  private val lockName = "_graft_lock"

  /** Enforce the sink's SINGLE-WRITER contract instead of just
    * documenting it: every mutation ([[upsert]]/[[sync]]/[[delete]])
    * runs under an exclusive lock sidecar, acquired by the atomic
    * create-if-absent of `_graft_lock` at the table root (HDFS/local
    * `create(overwrite=false)` — one filesystem RPC, no read-check
    * race). A second concurrent writer fails LOUDLY at acquisition —
    * before touching a byte — rather than interleaving bucket rewrites
    * and manifest swaps with the first. READERS take no lock: they
    * resolve the manifest and are isolated by it. The underscore
    * prefix keeps Spark's parquet reader from seeing the sidecar as
    * data.
    *
    * Crash behavior: a writer that dies mid-mutation leaves its lock
    * behind (plus uncommitted generation dirs no reader can see), and
    * every later writer fails with the holder's identity until an
    * operator confirms the holder is dead and calls [[forceUnlock]]
    * (or removes the file). Deliberately NOT a TTL — auto-expiring a
    * lock under a live-but-slow writer would re-create exactly the
    * two-writer interleave the lock exists to prevent.
    */
  private def withWriteLock[A](spark: SparkSession, path: String)(body: => A): A = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val created = !fs.exists(root) && fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(root, lockName)
    val holder = s"pid=${ProcessHandle.current().pid()} " +
      s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"ts=${java.time.Instant.now()}"
    val out =
      try fs.create(lock, false)
      catch {
        case _: java.io.IOException =>
          val heldBy =
            try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
              fs.open(lock)), java.nio.charset.StandardCharsets.UTF_8)
            catch { case _: Exception => "<unreadable>" }
          sys.error(s"$path is locked by another writer [$heldBy]. " +
            "The parquet upsert sink is single-writer: concurrent merges " +
            "would interleave bucket rewrites and corrupt the store. If " +
            s"the holder crashed, remove $path/$lockName " +
            "(ParquetUpsertSink.forceUnlock) and rerun.")
      }
    // from here the lock EXISTS: everything — including the tiny
    // holder-info write — runs under the finally-delete, so a
    // transient failure writing the holder string cannot strand a
    // lock that blocks every future writer until manual forceUnlock
    try {
      try out.write(holder.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      body
    } finally {
      fs.delete(lock, false)
      // a mutation that wrote nothing leaves no empty table root behind
      // (non-recursive: a writer that took the lock since keeps it)
      if (created)
        try { if (fs.listStatus(root).isEmpty) fs.delete(root, false) }
        catch { case _: java.io.IOException => () }
    }
  }

  /** Operator override for a crashed writer's abandoned lock. Returns
    * true when a lock file was actually removed.
    */
  def forceUnlock(spark: SparkSession, path: String): Boolean = {
    val lock = new org.apache.hadoop.fs.Path(path, lockName)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lock, false)
  }

  private def withBucket(df: DataFrame, keyCols: Seq[String], n: Int): DataFrame =
    df.withColumn(bucketCol, pmod(hash(keyCols.map(col): _*), lit(n)).cast("int"))

  /** One window shuffle on the key: newest version per key survives. */
  private[graft] def dedupLatest(df: DataFrame, keyCols: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** A table exists iff a manifest is committed: a crashed first write
    * (generation dirs, no manifest) or a root holding only the
    * lock/bucket sidecars still reads as "no table yet".
    */
  private[graft] def tableExists(spark: SparkSession, path: String): Boolean =
    readManifest(spark, path).isDefined

  /** Test/ops seam: the live generation directory of every bucket. */
  private[graft] def liveDataDirs(spark: SparkSession, path: String): Map[Int, String] =
    readManifest(spark, path).getOrElse(Map.empty).map { case (b, g) =>
      b -> genDir(path, b, g)
    }

  private def genDir(path: String, bucket: Int, gen: Long): String =
    s"$path/$bucketCol=$bucket/$genCol=$gen"
}
