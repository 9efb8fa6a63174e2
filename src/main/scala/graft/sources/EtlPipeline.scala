package graft.sources

import graft.operators.Hierarchy
import graft.util.{perBatch, pin}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

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
  *  - [[Hierarchy.closurePatch]]: one semi-naive fold that returns the
  *    pairs the batch changes — per-run cost scales with the change
  *    footprint, not the graph;
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
  * Scale note: the stored closure is read and pinned once per run;
  * the patch is computed change-sized from it and never diffed
  * against it as a whole. An add fold round broadcasts its delta,
  * streams the stored closure once, shuffles only its candidates and
  * gains, and reads stored depths through a broadcast of the round's
  * candidate pairs; a removal's fold never reads the store, which one
  * final pass joins. Only the patch reaches the sink. Every
  * intermediate the loop branches on is pinned ([[graft.util.pin]]):
  * its checkpoint job counts it, and what was counted is exactly what
  * is pushed or deleted.
  */
object EtlPipeline {

  /** Counts are of ACTIONS the run took (this is the driver loop — an
    * eager summary is the point, not a plan): events extracted,
    * closure pairs pushed and closure pairs deleted.
    */
  final case class RunResult(extracted: Long, pushed: Long, watermark: Option[Long],
      deleted: Long)

  private val closureSchema = StructType(Seq(
    StructField("ancestor", LongType), StructField("descendant", LongType),
    StructField("depth", IntegerType)))
  private val edgeSchema = StructType(Seq(
    StructField("child", LongType), StructField("parent", LongType),
    StructField("op", StringType), StructField("seq", LongType)))

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
    val (added, extracted) = pin(e.batch.select(col("child"), col("parent")).distinct())
    val (pushed, _) = patchClosure(spark, dest, added, extracted, None, e.watermark.getOrElse(0L))
    ExtractBookmark.commit(e, bookmarkPath)
    RunResult(extracted, pushed, e.watermark, 0L)
  }

  /** The one closure core of every loop mode: fold a batch's added and
    * (CRUD modes) removed (child, parent) edges into the stored closure
    * as one [[Hierarchy.closurePatch]], push its upserts and delete its
    * deletes, both versioned by `version`. Returns (closure pairs
    * pushed, closure pairs deleted). `changes` counts the edges of
    * `added` and `removed`; with none, the store is not read.
    */
  private def patchClosure(s: SparkSession, dest: DocumentStore, added: DataFrame,
      changes: Long, removed: Option[DataFrame], version: Long): (Long, Long) = {
    if (changes == 0) return (0L, 0L)
    val existing = pin(dest.scanOrEmpty(s, closureSchema))._1 // every fold round reads it
    val p = Hierarchy.closurePatch(existing, added, removed)
    if (p.nUpserts > 0) dest.push(p.upserts.withColumn("rev", lit(version)))
    if (p.nDeletes > 0) dest.delete(p.deletes.withColumn("rev", lit(version)))
    (p.nUpserts, p.nDeletes)
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
    * delta is empty, the push is a no-op (its batchId version makes
    * even a concurrent rewrite latest-wins-idempotent).
    */
  def runStream(edges: DataFrame, destDir: String, numBuckets: Int = 64)
      : DataStreamWriter[Row] =
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
  def replicateStream(rows: DataFrame, dest: DocumentStore): DataStreamWriter[Row] =
    perBatch(rows) { (batch, _) =>
      // pinned: a remote-bracket re-read could differ from what the
      // emptiness test saw (a doc's wm moves past the bracket)
      val (b, n) = pin(batch)
      if (n > 0) dest.push(b)
    }

  /** Streaming loop against any [[DocumentStore]] (same seam as the
    * batch overload).
    */
  def runStream(edges: DataFrame, dest: DocumentStore): DataStreamWriter[Row] =
    perBatch(edges) { (batch, batchId) =>
      val (added, n) = pin(batch.select(col("child"), col("parent")).distinct())
      patchClosure(batch.sparkSession, dest, added, n, None, batchId)
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
    *  4. compute the closure patch: one [[Hierarchy.closurePatch]]
    *     fold over the stored closure, which returns only the pairs
    *     the transition changes (adds alone fold in read-only; with
    *     removals, the removed and added edges' region is re-derived
    *     from its live edges);
    *  5. ship the patch: its upserts via `dest.push`, its deletes via
    *     `dest.delete` — both versioned by the checkpoint's stable
    *     batchId, so redelivery is latest-wins idempotent.
    *
    * Redelivered batch: the edge-state diff (step 2) is empty (the
    * state already reflects it), the closure patch is empty —
    * exactly-once EFFECT, the same contract as [[runStream]]. Spec: an
    * interleaved add/delete stream converges to `Hierarchy.closure` of
    * the final edge set.
    */
  def runStreamWithDeletes(edgeEvents: DataFrame, dest: DocumentStore,
      edgeStore: DocumentStore): DataStreamWriter[Row] =
    perBatch(edgeEvents)((batch, batchId) =>
      applyEdgeEvents(batch.sparkSession, batch, dest, edgeStore, batchId))

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
    val (extracted, pushed, deleted) = applyEdgeEvents(spark, batch, dest, edgeStore,
      e.watermark.getOrElse(0L))
    ExtractBookmark.commit(e, bookmarkPath)
    RunResult(extracted, pushed, e.watermark, deleted)
  }

  /** The shared CRUD front of [[runWithDeletes]] / [[runStreamWithDeletes]]:
    * fold one batch of (child, parent, op, seq) edge events into the
    * edge-state store and patch the closure store, at delta cost.
    * Returns (events applied, closure pairs pushed, closure pairs
    * deleted). Steps (each documented on [[runStreamWithDeletes]]):
    * collapse latest-seq per edge; derive the edge TRANSITION on the
    * touched keys in-plan (latest-seq-wins over stored ∪ batch — the
    * same merge the sink will apply, computed without writing it);
    * ship the closure patch ([[patchClosure]]); and only THEN upsert
    * the edge state.
    *
    * Write order is load-bearing (crash safety): the edge-state push
    * comes LAST. A crash or foreachBatch redelivery anywhere before it
    * leaves the edge store at its previous state, so the rerun
    * re-derives the identical transition and re-applies the closure
    * patch — dest pushes/deletes are latest-wins idempotent, so the
    * partial first attempt is absorbed. A crash AFTER the edge push
    * means every dest effect already landed; the rerun's transition is
    * empty and correctly does nothing.
    */
  private def applyEdgeEvents(s: SparkSession, batch: DataFrame,
      dest: DocumentStore, edgeStore: DocumentStore,
      version: Long): (Long, Long, Long) = {
    val (collapsed, nEvents) = pin(ParquetUpsertSink.dedupLatest(
      batch.select(col("child"), col("parent"), col("op"), col("seq")),
      Seq("child", "parent"), "seq"))
    if (nEvents == 0) return (0L, 0L, 0L)
    val edge = Seq("child", "parent")
    // The transition is the STORE TRANSITION on the touched keys, not
    // the batch's face value: a STALE event (older seq than the stored
    // row — cross-batch reordering, redelivery) loses the latest-wins
    // merge, and taking the batch at face value would patch the
    // closure with an edge change the store rejected (a stale add
    // would graft pairs through a dead edge). The post state is
    // derived IN-PLAN (the sink's own latest-seq-wins rule over
    // stored ∪ batch, one aggregate per touched edge), NOT by
    // re-scanning after the upsert — the upsert hasn't happened yet;
    // it lands last, and pinning the transition reads the edge store
    // before that upsert rewrites it. t = post live − stored live.
    def live(op: Column) = when(op === "add", 1).otherwise(0)
    val changed = org.apache.spark.sql.Observation()
    val (transition, nChanged) = pin(edgeStore.scanOrEmpty(s, edgeSchema)
      .join(broadcast(collapsed.select(edge.map(col): _*)), edge, "left_semi")
      .withColumn("stored", lit(true))
      .unionByName(collapsed.withColumn("stored", lit(false)))
      .groupBy(edge.map(col): _*)
      .agg((live(max_by(col("op"), col("seq"))) - live(max(when(col("stored"), col("op"))))).as("t"))
      .where(col("t") =!= 0)
      .observe(changed, count(when(col("t") < 0, lit(1))).as("removed")))
    def side(sign: Column) = transition.where(sign).select(edge.map(col): _*)
    val removed = Option.when(changed.get("removed").asInstanceOf[Long] > 0)(side(col("t") < 0))
    val (pushed, deleted) = patchClosure(s, dest, side(col("t") > 0), nChanged, removed, version)
    // Edge state LAST — committing it is what makes the batch's
    // transition empty on redelivery, so it must not land until every
    // dest effect it implies has been applied (see scaladoc).
    edgeStore.push(collapsed)
    (nEvents, pushed, deleted)
  }

}
