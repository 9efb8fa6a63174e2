package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The engine's connector seam — SURVEY §3's data-model mapping as a
  * pluggable boundary instead of hard-wired parquet calls.
  *
  * The reference talks to an Elasticsearch-shaped document store:
  * scroll reads (a full keyed scan), bulk pushes (keyed upsert,
  * latest revision wins, idempotent under redelivery) and full
  * reindexes. These traits name exactly that contract; everything
  * above the seam (EtlPipeline, extract bookmarks, the closure
  * maintenance) composes against the traits, so a deployment that
  * really does front an ES cluster (or any keyed KV/OLAP sink)
  * implements three methods and inherits the whole pipeline.
  */
trait DocumentSource {
  /** Full scan of the stored documents — the reference's scroll read.
    * Implementations must return a DataFrame whose plan supports
    * predicate pushdown where the backing store can (the extract
    * path's watermark filter lands on this scan).
    */
  def scan(spark: SparkSession): DataFrame
}

trait DocumentSink {
  /** Bulk keyed upsert — the reference's bulk index. Contract:
    * latest version wins per key, idempotent under redelivery
    * (at-least-once transports above this seam rely on it).
    */
  def push(updates: DataFrame): Unit

  /** Full reindex: after the call the store equals `snapshot`,
    * including DELETING stored keys the snapshot no longer has.
    */
  def sync(snapshot: DataFrame): Unit

  /** Bulk keyed DELETE — the reference's bulk-delete action, the third
    * leg the incremental pipelines need (a closure pair invalidated by
    * an edge deletion must leave the store at delta cost; `sync` can
    * only do it at full-reindex cost). `keys` carries the key columns
    * plus the store's version column; the contract mirrors push's
    * latest-wins: a stored row is removed only when its version is <=
    * the delete's version, so a delete never clobbers a newer write
    * and redelivery is idempotent. Missing keys are a no-op.
    *
    * Default: unsupported — a sink is not obliged to implement keyed
    * deletes (the NDJSON export, a pure append log); pipelines that
    * need them ([[EtlPipeline.runStreamWithDeletes]]) say so and fail
    * loudly here rather than silently leaving stale rows.
    */
  def delete(keys: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not support keyed deletes; use sync")
}

/** A store that can be both scanned and pushed — what the pipeline's
  * destination needs (read-modify-write merges, crash recovery).
  */
trait DocumentStore extends DocumentSource with DocumentSink {
  def exists(spark: SparkSession): Boolean

  /** The stored rows as `schema`'s columns; before the first push, an
    * empty frame of `schema` (a local relation, so the optimizer drops
    * the joins and union branches it feeds).
    */
  def scanOrEmpty(spark: SparkSession, schema: StructType): DataFrame =
    if (exists(spark)) scan(spark).select(schema.fieldNames.toSeq.map(col): _*)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
}

/** The engine-native store: bucket-pruned keyed parquet
  * ([[ParquetUpsertSink]] — hash-bucket layout, dynamic partition
  * overwrite, `_graft_buckets` table property). The mapping of the
  * reference's ES index this engine ships by default.
  */
final case class ParquetStore(path: String, keyCols: Seq[String],
    versionCol: String, numBuckets: Int = 64) extends DocumentStore {
  override def scan(spark: SparkSession): DataFrame =
    ParquetUpsertSink.read(spark, path)
  override def push(updates: DataFrame): Unit =
    ParquetUpsertSink.upsert(updates, path, keyCols, versionCol, numBuckets)
  override def sync(snapshot: DataFrame): Unit =
    ParquetUpsertSink.sync(snapshot, path, keyCols, versionCol, numBuckets)
  override def delete(keys: DataFrame): Unit =
    ParquetUpsertSink.delete(keys, path, keyCols, versionCol)
  override def exists(spark: SparkSession): Boolean =
    ParquetUpsertSink.tableExists(spark, path)
}

/** A read-only NDJSON export (an ES dump, a landed event feed) as a
  * DocumentSource: line-per-document JSON with optional dot-path
  * flattening of nested documents ([[JsonLinesSource]]). Not a
  * [[DocumentStore]] on purpose — a landed export is immutable, and
  * typing it as a sink would let a pipeline silently "push" into a
  * file nothing reads back.
  */
final case class JsonLinesStore(path: String,
    schema: Option[StructType] = None, flattenNested: Boolean = true)
    extends DocumentSource {
  override def scan(spark: SparkSession): DataFrame =
    if (flattenNested) JsonLinesSource.readFlat(spark, path, schema)
    else JsonLinesSource.read(spark, path, schema)
}
