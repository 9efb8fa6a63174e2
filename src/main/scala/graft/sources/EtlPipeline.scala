package graft.sources

import graft.operators.Hierarchy
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The reference's MAIN LOOP as one composed library call — MoDevETL's
  * program is exactly this cycle (extract.py → hierarchy.py →
  * push_to_es.py): pull only edges modified since the last run,
  * patch the stored transitive closure, push the changed records
  * keyed latest-revision-wins, then commit the watermark. A reference
  * user switching engines runs THIS instead of the Python loop.
  *
  * Composition of the engine's three durable primitives, inheriting
  * their guarantees:
  *  - [[ExtractBookmark]]: snapshot-bounded two-phase window —
  *    at-least-once on crash, rows arriving mid-run never skipped;
  *  - [[Hierarchy.incrementalClosure]]: semi-naive delta iteration —
  *    per-run cost scales with the change footprint, not the graph;
  *  - [[ParquetUpsertSink]]: bucket-pruned latest-wins merge — push
  *    cost proportional to the delta, idempotent under redelivery.
  *
  * Crash matrix (spec-tested): crash before push → nothing changed,
  * rerun identical. Crash between push and commit → rerun re-extracts
  * the same window, the closure patch finds nothing to improve (the
  * pushed pairs are already stored), the delta is empty, the sink is
  * untouched, and the commit completes — exactly-once EFFECT on an
  * at-least-once loop, the reference's own contract.
  *
  * Scale note: the delta (new or depth-improved pairs vs the stored
  * closure) is one anti-join on (ancestor, descendant, depth) — both
  * sides hash-partition on the pair key, no broadcast of the big
  * relation. Only the delta reaches the sink.
  */
object EtlPipeline {

  /** Counts are of ACTIONS the run took (this is the driver loop — an
    * eager summary is the point, not a plan).
    */
  final case class RunResult(extracted: Long, pushed: Long, watermark: Option[Long])

  private val closureSchema = StructType(Seq(
    StructField("ancestor", LongType), StructField("descendant", LongType),
    StructField("depth", IntegerType)))

  /** One run of the loop. `edgesSrc` must carry (child, parent,
    * `wmCol`); `destDir` holds the closure table (upsert sink layout,
    * keyed by the pair, versioned by the run watermark) and
    * `bookmarkPath` the extract watermark sidecar.
    */
  def run(spark: SparkSession, edgesSrc: DataFrame, wmCol: String,
      destDir: String, bookmarkPath: String, numBuckets: Int = 64): RunResult =
    run(spark, edgesSrc, wmCol,
      ParquetStore(destDir, Seq("ancestor", "descendant"), "rev", numBuckets),
      bookmarkPath)

  /** The same loop against ANY [[DocumentStore]] — the connector seam:
    * a deployment fronting a real ES-shaped store passes its own
    * implementation and inherits the crash matrix unchanged (the
    * contract the loop needs is exactly the trait's: keyed
    * latest-wins push idempotent under redelivery). The store must be
    * keyed on (ancestor, descendant) with version column `rev`.
    */
  def run(spark: SparkSession, edgesSrc: DataFrame, wmCol: String,
      dest: DocumentStore, bookmarkPath: String): RunResult = {
    val e = ExtractBookmark.extractSince(edgesSrc, wmCol, bookmarkPath)
    val newEdges = e.batch.select(col("child"), col("parent")).distinct()
      .localCheckpoint() // consumed by every delta round of the closure
    val extracted = newEdges.count()
    val existing =
      if (dest.exists(spark))
        dest.scan(spark).select(col("ancestor"), col("descendant"), col("depth"))
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        closureSchema)
    val pushed =
      if (extracted == 0) 0L
      else {
        val updated = Hierarchy.incrementalClosure(existing, newEdges)
        val delta = updated
          .join(existing, Seq("ancestor", "descendant", "depth"), "left_anti")
          .withColumn("rev", lit(e.watermark.getOrElse(0L)))
          .localCheckpoint() // counted AND pushed; one materialization
        val n = delta.count()
        if (n > 0) dest.push(delta)
        n
      }
    ExtractBookmark.commit(e, bookmarkPath)
    RunResult(extracted, pushed, e.watermark)
  }

  /** The stored closure as a plain (ancestor, descendant, depth)
    * relation (rev dropped) — what consumers query.
    */
  def readClosure(spark: SparkSession, destDir: String): DataFrame =
    ParquetUpsertSink.read(spark, destDir)
      .select(col("ancestor"), col("descendant"), col("depth"))

  /** The same loop on Structured Streaming: a stream of (child,
    * parent, ...) edge updates patches the stored closure per
    * micro-batch and pushes only the delta. The streaming checkpoint
    * replaces the extract bookmark — the transport already bounds
    * each window — and the crash contract carries over unchanged: a
    * redelivered batch's closure patch finds nothing to improve, the
    * delta is empty, the push is a no-op (the version is the
    * checkpoint's stable batchId, so even a concurrent rewrite is
    * latest-wins-idempotent). Each batch does the exact work of
    * [[run]]: semi-naive delta closure sized by the batch's change
    * footprint, bucket-pruned keyed merge.
    */
  def runStream(edges: DataFrame, destDir: String, numBuckets: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    runStream(edges,
      ParquetStore(destDir, Seq("ancestor", "descendant"), "rev", numBuckets))

  /** push_to_es.py WITHOUT the hierarchy step, as a stream — Main's
    * "replicate" mode on Structured Streaming: each micro-batch's
    * rows push keyed latest-wins into the destination. Rows must
    * carry the dest's key/version columns (the batch replicate
    * contract); the streaming checkpoint replaces the extract
    * bookmark, and at-least-once redelivery is absorbed by the
    * store's external versioning, so the composition is idempotent.
    *
    * There is deliberately NO "sync-stream": sync is a POINT-IN-TIME
    * snapshot made live by one atomic cutover, and an unbounded
    * stream has no snapshot boundary — cutting over on whatever
    * prefix happened to arrive would serve readers a store that
    * equals no state the source ever had. Drain the stream
    * (replicate-stream), then run batch "sync" when a consistent
    * snapshot is wanted.
    */
  def replicateStream(rows: DataFrame, dest: DocumentStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => {
        // pin before the emptiness probe + push double evaluation — a
        // remote-bracket re-read can differ between the two jobs (a
        // doc's wm moves past the bracket); the runStream pattern
        val b = batch.toDF().localCheckpoint()
        if (b.head(1).nonEmpty) dest.push(b)
      })

  /** Streaming loop against any [[DocumentStore]] (same seam as the
    * batch overload; the version is the checkpoint's stable batchId).
    */
  def runStream(edges: DataFrame, dest: DocumentStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sink = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long) => {
      val s = batch.sparkSession
      val newEdges = batch.toDF().select(col("child"), col("parent"))
        .distinct().localCheckpoint()
      if (newEdges.head(1).nonEmpty) {
        val existing =
          if (dest.exists(s))
            dest.scan(s).select(col("ancestor"), col("descendant"), col("depth"))
          else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            closureSchema)
        val delta = Hierarchy.incrementalClosure(existing, newEdges)
          .join(existing, Seq("ancestor", "descendant", "depth"), "left_anti")
          .withColumn("rev", lit(batchId))
        if (delta.head(1).nonEmpty) dest.push(delta)
      }
    }
    edges.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch(sink)
  }

  /** The streaming loop under edge ADDS AND DELETES — the full CRUD
    * form of [[runStream]] (the reference's hierarchy maintenance
    * handles removed bug links the same way: re-close the touched
    * region, remove invalidated pairs from the index).
    *
    * Contract: `edgeEvents` carries (child, parent, op, seq) — op is
    * "add" or "delete", seq a monotone per-edge revision (the
    * reference's modified-timestamp; unique per (child, parent) per
    * event). Two stores: `edgeStore` persists the CURRENT EDGE STATE
    * (keyed (child, parent), versioned seq, op kept as a tombstone
    * marker — deletion must be re-derivable across restarts, and a
    * closure patch needs the surviving edge set), `dest` the closure.
    *
    * Per batch, all at delta cost:
    *  1. collapse the batch latest-seq per edge (an add+delete of the
    *     same edge in one batch resolves to its final op);
    *  2. upsert the collapsed batch into `edgeStore` (latest-wins),
    *     with the PREVIOUS state materialized first (the scan is lazy
    *     and the upsert rewrites its files);
    *  3. derive removed/added edges as the STORE TRANSITION on the
    *     touched keys — never the batch's face value: a stale event
    *     (older seq than the stored row) loses the latest-wins merge
    *     and must not patch the closure;
    *  4. patch the closure: [[Hierarchy.incrementalClosureDelete]]
    *     re-closes only the deletion-affected region against the
    *     surviving edges, then [[Hierarchy.incrementalClosure]] folds
    *     the new edges in semi-naive;
    *  5. ship the closure diff: new/depth-changed pairs via
    *     `dest.push`, invalidated pairs via `dest.delete` — both
    *     versioned by the checkpoint's stable batchId, so redelivery
    *     is latest-wins idempotent.
    *
    * Redelivered batch: the edge-state diff (step 2) is empty (the
    * state already reflects it), both closure patches find nothing to
    * improve, the diffs are empty — exactly-once EFFECT, the same
    * contract as [[runStream]]. Spec: an interleaved add/delete stream
    * converges to `Hierarchy.closure` of the final edge set.
    */
  def runStreamWithDeletes(edgeEvents: DataFrame, dest: DocumentStore,
      edgeStore: DocumentStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sink = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long) => {
      applyEdgeEvents(batch.sparkSession, batch.toDF(), dest, edgeStore, batchId)
      ()
    }
    edgeEvents.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch(sink)
  }

  /** One run of the BATCH loop under edge ADDS AND DELETES — [[run]]
    * upgraded to the full CRUD contract of [[runStreamWithDeletes]]
    * (same event shape, same stores, same delta-cost patch), with the
    * extract bookmark as the window and the committed watermark as
    * the push version. Crash matrix inherited from [[run]]: a rerun
    * of an uncommitted window finds the edge state already reflecting
    * its events, every diff is empty, the commit completes —
    * exactly-once effect on an at-least-once extract.
    */
  def runWithDeletes(spark: SparkSession, edgeEventsSrc: DataFrame,
      wmCol: String, dest: DocumentStore, edgeStore: DocumentStore,
      bookmarkPath: String): RunResult = {
    val e = ExtractBookmark.extractSince(edgeEventsSrc, wmCol, bookmarkPath)
    val batch = e.batch.select(col("child"), col("parent"), col("op"), col("seq"))
    val counts = applyEdgeEvents(spark, batch, dest, edgeStore,
      e.watermark.getOrElse(0L))
    ExtractBookmark.commit(e, bookmarkPath)
    RunResult(counts._1, counts._2, e.watermark)
  }

  /** The shared CRUD core of [[runWithDeletes]] / [[runStreamWithDeletes]]:
    * fold one batch of (child, parent, op, seq) edge events into the
    * edge-state store and patch the closure store, at delta cost.
    * Returns (events applied, closure rows pushed). Steps (each
    * documented on [[runStreamWithDeletes]]): collapse latest-seq per
    * edge; derive the INTENDED post-merge edge state IN-PLAN
    * (latest-seq-wins over stored ∪ batch on the touched keys — the
    * same merge the sink will apply, computed without writing it);
    * patch the closure — scoped delete re-close then semi-naive add
    * fold; ship the diff as keyed push + keyed delete versioned by
    * `version`; and only THEN upsert the edge state.
    *
    * Write order is load-bearing (crash safety): the edge-state push
    * comes LAST. A crash or foreachBatch redelivery anywhere before it
    * leaves the edge store at its previous state, so the rerun
    * re-derives the identical transition and re-applies the closure
    * patches — dest pushes/deletes are latest-wins idempotent, so the
    * partial first attempt is absorbed. (The old order — edge state
    * first — had a window where a crash after the edge push made the
    * rerun see an empty transition and skip the closure patch
    * forever.) A crash AFTER the edge push means every dest effect
    * already landed; the rerun's transition is empty and correctly
    * does nothing.
    */
  private def applyEdgeEvents(s: SparkSession, batch: DataFrame,
      dest: DocumentStore, edgeStore: DocumentStore,
      version: Long): (Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("child"), col("parent"))
      .orderBy(col("seq").desc)
    val collapsed = batch
      .select(col("child"), col("parent"), col("op"), col("seq"))
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn").localCheckpoint()
    val nEvents = collapsed.count()
    if (nEvents == 0) return (0L, 0L)
    val batchKeys = collapsed.select(col("child"), col("parent"))
    val prevEdges = (
      if (edgeStore.exists(s))
        edgeStore.scan(s).select(col("child"), col("parent"), col("op"),
          col("seq"))
      else s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("child", LongType),
          StructField("parent", LongType),
          StructField("op", org.apache.spark.sql.types.StringType),
          StructField("seq", LongType))))
      ).localCheckpoint() // read for the transition AND the survivors
    // added/removed are the STORE TRANSITION on the touched keys, not
    // the batch's face value: a STALE event (older seq than the stored
    // row — cross-batch reordering, redelivery) loses the latest-wins
    // merge, and taking the batch at face value would patch the
    // closure with an edge change the store rejected (a stale add
    // would graft pairs through a dead edge). The post state is
    // derived IN-PLAN (the sink's own latest-seq-wins merge over
    // stored ∪ batch), NOT by re-scanning after the upsert — the
    // upsert hasn't happened yet; it lands last. Restricting to the
    // batch's keys keeps the merge window delta-sized.
    val prevTouched = prevEdges
      .join(batchKeys, Seq("child", "parent"), "left_semi")
      .localCheckpoint() // prev side of the transition + merge input
    val postTouched = prevTouched.unionByName(collapsed)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn")
    val prevLiveTouched = prevTouched.where(col("op") === "add")
      .select(col("child"), col("parent"))
      .localCheckpoint() // compared twice below
    val liveTouched = postTouched.where(col("op") === "add")
      .select(col("child"), col("parent"))
      .localCheckpoint()
    val removed = prevLiveTouched
      .join(liveTouched, Seq("child", "parent"), "left_anti")
    val added = liveTouched
      .join(prevLiveTouched, Seq("child", "parent"), "left_anti")
    // The delete step rebuilds closure(survivors) exactly, so the add
    // fold below starts from a closed relation: it re-closes over the
    // SURVIVING OLD edges (stored live minus removed, never the added
    // ones — an added edge re-closed inside the old descendant scope
    // would be stored already and the fold would never propagate it
    // beyond that scope), and the added edges' parents seed the
    // re-close region too (a rerun after a partially applied patch
    // finds pairs through the added edges already stored).
    val survivors = prevEdges.where(col("op") === "add")
      .select(col("child"), col("parent"))
      .join(removed, Seq("child", "parent"), "left_anti")
    val existing = (
      if (dest.exists(s))
        dest.scan(s).select(col("ancestor"), col("descendant"), col("depth"))
      else s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], closureSchema)
      ).localCheckpoint() // diffed against twice below
    val afterDel =
      if (removed.head(1).isEmpty) existing
      else Hierarchy.incrementalClosureDelete(existing, survivors,
        removed.unionByName(added))
    val updated = (
      if (added.head(1).isEmpty) afterDel
      else Hierarchy.incrementalClosure(afterDel, added)
      ).localCheckpoint() // push diff + delete diff both read it
    val pushDelta = updated
      .join(existing, Seq("ancestor", "descendant", "depth"), "left_anti")
      .withColumn("rev", lit(version))
      .localCheckpoint() // counted AND pushed; one materialization
    val nPushed = pushDelta.count()
    if (nPushed > 0) dest.push(pushDelta)
    val delDelta = existing.select(col("ancestor"), col("descendant"))
      .join(updated, Seq("ancestor", "descendant"), "left_anti")
      .withColumn("rev", lit(version))
    if (delDelta.head(1).nonEmpty) dest.delete(delDelta)
    // Edge state LAST — committing it is what makes the batch's
    // transition empty on redelivery, so it must not land until every
    // dest effect it implies has been applied (see scaladoc).
    edgeStore.push(collapsed)
    (nEvents, nPushed)
  }

}
