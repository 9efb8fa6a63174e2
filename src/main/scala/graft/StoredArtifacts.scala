package graft

import java.lang.ref.WeakReference
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one registry of session-scoped STORED artifacts — the
  * in-process analogue of tables a production pipeline stores rather
  * than recomputes per query (the reference's hierarchy.py patches a
  * stored closure index; an ANN deployment trains its quantizer once).
  * Every `stored*` builder and [[Tables.load]] memoizes through
  * [[getOrBuild]]; nothing else in the library holds a session-keyed
  * memo.
  *
  *  - Key: `(session, kind, inputs)`. `kind` names the artifact (the
  *    `_build:` label [[Bench]] times it under where it has one:
  *    `closure`, `incr_cooc`, `ivf_centroids`, …; loaded tables are
  *    `table` with inputs `(dir, name)`); `inputs` are the dir and any
  *    build parameters. Sessions compare by identity.
  *  - Values: loaded parquet frames, derived frames pinned by
  *    [[util.pin]], driver-side models (centroid arrays, merge lists, a
  *    PCAModel), Dedup's `(frame, thresholds)` retention tuples, and
  *    one weak queue per session of [[util.reused]] frames.
  *  - Builds run OUTSIDE the map's lock: an entry is a [[Slot]]
  *    inserted by `computeIfAbsent` and forced after the insert
  *    returns, because builds nest (components → pairs → cooc →
  *    table; PCA projection → PCA model; language model → trigram
  *    tf) and a nested `computeIfAbsent` on one map is forbidden.
  *    Concurrent callers of one key share the slot, so they get one
  *    build and the same instance.
  *  - Failures are not cached: a build that throws removes its entry,
  *    and the next call builds again.
  *
  * Memory contract: entries live for the process lifetime — right for
  * the gate/bench harness, UNBOUNDED for a long-lived service touching
  * many dirs or spawning many sessions. Such callers call [[clear]]
  * when done with a session (or dataset generation): persisted frames
  * are unpersisted immediately; pinned (checkpointed) blocks are released
  * by Spark's ContextCleaner once the dropped references are
  * garbage-collected. A cleared artifact is rebuilt on next touch —
  * clear is an eviction, never a correctness event.
  */
object StoredArtifacts {

  /** One entry: built at most once, on first force, under the slot's
    * own monitor (a failed build leaves it unforced). */
  private final class Slot(build: => Any) {
    @volatile var built = false
    lazy val value: Any = { val v = build; built = true; v }
  }

  private val entries = new ConcurrentHashMap[(SparkSession, String, Seq[Any]), Slot]()

  /** The artifact `kind` over `inputs` for session `s`, built by
    * `build` on the first call and shared by every later one. */
  def getOrBuild[V](kind: String, s: SparkSession, inputs: Any*)(build: => V): V = {
    val key = (s, kind, inputs.toList)
    val slot = entries.computeIfAbsent(key, _ => new Slot(build))
    try slot.value.asInstanceOf[V]
    catch { case t: Throwable => entries.remove(key, slot); throw t }
  }

  /** Frames [[util.reused]] persisted under `df`'s session, held
    * weakly so the registry never pins a frame its caller dropped;
    * [[clear]] unpersists the live ones. */
  private[graft] def trackReused(df: DataFrame): Unit =
    getOrBuild("reused", df.sparkSession)(
      new ConcurrentLinkedQueue[WeakReference[DataFrame]]()).add(new WeakReference(df))

  /** key → dataset dir whose export currently sits at the key's fixed
    * path. The path is keyed only by export key (the oracle SQL is a
    * static string), so serving a DIFFERENT dir must overwrite the
    * file — memoizing (dir, key) pairs would let a second dir's
    * Verify skip re-export and score the oracle against the first
    * dir's stale model. Re-export on every dir change; skip only
    * repeat requests for the dir already on disk.
    */
  private val exported = new ConcurrentHashMap[String, String]()

  /** Run `write` with the key's gate path (`Ann.gateModelDir/key.parquet`)
    * unless `d`'s export of `key` is already there. */
  private[graft] def exportOnce(key: String, d: String)(write: String => Unit): Unit =
    exported.compute(key, (k, prev) => {
      if (prev != d) write(s"${operators.Ann.gateModelDir}/$k.parquet"); d
    })

  /** Evict every stored artifact belonging to `s`. Returns the number
    * of evicted entries (memo values + still-live reused frames).
    * Every export marker is dropped too, whatever its session: a
    * cleared session's models WILL retrain, so stale export files must
    * not shadow them on a same-JVM rerun (re-export is one small
    * parquet write).
    */
  def clear(s: SparkSession): Int = {
    exported.clear()
    var n = 0
    entries.forEach { (k, slot) =>
      if ((k._1 eq s) && entries.remove(k, slot)) n += (if (slot.built) release(slot.value) else 1)
    }
    n
  }

  private def release(v: Any): Int = v match {
    case ds: Dataset[_] => ds.unpersist(blocking = false); 1
    case q: ConcurrentLinkedQueue[WeakReference[DataFrame]] @unchecked =>
      var live = 0
      q.forEach(r => Option(r.get).foreach { df => df.unpersist(blocking = false); live += 1 })
      live
    case _ => 1
  }
}
