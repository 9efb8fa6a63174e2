package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.http.HttpRows
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What differs between the two wire protocols the connector speaks
  * (ES, and the ES-shaped HTTP store). Serializable: it rides in
  * every partition and factory.
  */
trait Wire extends Serializable {
  /** "es" / "http" — the prefix of every error message. */
  def label: String
  def wmCol: Option[String]
  def slices: Int
  def batchSize: Int
  /** Table name, e.g. `graft-es(base/index)`. */
  def name: String
  /** The physical plan's scan node text. */
  def describe(since: Option[Long]): String

  /** One slice's documents (JSON object lines) in the half-open
    * `(since, until]` watermark bracket, walked lazily one page at a
    * time, plus the release of whatever server context the walk holds
    * open — called on reader close, so an early-terminated read
    * (LIMIT, task abort) frees it at once.
    */
  def openSlice(slice: Int, since: Option[Long],
      until: Option[Long]): (Iterator[String], () => Unit)
  /** The store's current max watermark; None when it has none yet. */
  def maxWatermark(): Option[Long]
  /** Plan-time checks a streaming read needs beyond a batch read. */
  def checkStream(): Unit = ()

  /** Plan-time checks of a write's schema and options. */
  def checkWrite(writeSchema: StructType): Unit = ()
  /** Driver-side, once per write (and per streaming epoch's factory). */
  def prepareWrite(): Unit = ()
  /** Executor-side encoder of one row as one bulk unit, resolved once
    * per writer — no datatype dispatch per row. */
  def bulkLine(writeSchema: StructType): InternalRow => String
  /** Post one chunk of bulk units, failing the task on a lost write. */
  def postBulk(lines: IndexedSeq[String]): Unit
}

/** Option parsing shared by both providers. */
final class ConnectorOptions(label: String,
    properties: java.util.Map[String, String]) {

  def raw(key: String): Option[String] = Option(properties.get(key))
  def nonEmpty(key: String): Option[String] = raw(key).filter(_.nonEmpty)

  def required(key: String): String = {
    val v = properties.get(key)
    require(v != null && v.nonEmpty, s"graft $label source: '$key' option is required")
    v
  }

  /** Slices, page and batch sizes: `slices=0` would plan zero input
    * partitions — a scan that silently returns nothing — so anything
    * but a positive integer fails here, naming the option. */
  def positive(key: String, default: Int): Int =
    raw(key).fold(default) { v =>
      val n = v.toIntOption.getOrElse(0)
      require(n > 0,
        s"graft $label source: '$key' option must be a positive integer, got '$v'")
      n
    }

  /** `option("header.Authorization", "ApiKey ...")`-style options
    * become request headers on EVERY exchange the connector makes
    * (search, scroll/PIT page and release, watermark poll, bulk
    * write) — the auth seam. Names arrive lowercased through Spark's
    * case-insensitive option map; HTTP header names are
    * case-insensitive, so that is harmless. Values are credentials
    * and never logged.
    */
  def headers: Map[String, String] = {
    val out = Map.newBuilder[String, String]
    properties.forEach((k, v) =>
      if (k.toLowerCase.startsWith("header.")) out += (k.substring(7) -> v))
    out.result()
  }
}

/** The one DataSource V2 connector behind both network formats
  * (`graft-es`, `graft-http`): the reference's extract layer — a
  * sliced, incremental range pull from an ES-shaped store followed by
  * a keyed latest-wins bulk push — with Catalyst, not the caller,
  * deciding what reaches the server. Everything protocol-specific
  * lives behind a [[Wire]]; the classes here are the DSv2 shape:
  *
  *  - **watermark pushdown**: an extract's `wm > bookmark` predicate
  *    (what [[ExtractBookmark.extractSince]] plans) becomes the slice
  *    walk's server-side lower bound — at 100 TB the difference
  *    between shipping a nightly delta and re-shipping the index.
  *    Pushed filters stay residual too (Spark re-checks them), so a
  *    server that ignores the bound costs bandwidth, never
  *    correctness.
  *  - **column pruning**: only requested fields are parsed out of
  *    each document (`SupportsPushDownRequiredColumns`).
  *  - **slice-per-partition**: one `InputPartition` per scroll slice;
  *    each task walks its own cursor with the per-page retry
  *    underneath.
  *  - **streaming**: `readStream` polls the store's max watermark and
  *    reads the half-open `(lastOffset, maxWm]` bracket server-side
  *    per micro-batch (see [[ConnectorStream]] for the contract).
  *  - **write**: `df.write` / `writeStream` bulk every partition's
  *    rows straight to the store, idempotent under the store's keyed
  *    latest-wins.
  *
  * A provider is its label plus how its options make a [[Wire]].
  * Schema is configuration, never inferred — a driver-side sniff of
  * page one is exactly what a distributed scan must not do.
  *
  * Supported field types: LONG/INT/DOUBLE/STRING/BOOLEAN (the document
  * store contract's scalar payload; timestamps travel as epoch longs
  * — the jx date family consumes them via timestamp_seconds). Missing
  * fields and explicit JSON nulls read as SQL NULL.
  */
abstract class ConnectorProvider(label: String)
    extends TableProvider with DataSourceRegister {
  protected def wire(options: ConnectorOptions): Wire

  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      s"graft $label source: schema is required (.schema(...)) — a store's schema " +
        "is configuration, and inferring it would read data on the driver")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val w = wire(new ConnectorOptions(label, properties))
    schema.fields.foreach(f => require(HttpRows.supported(f.dataType),
      s"graft $label source: unsupported field type ${f.name}: ${f.dataType.simpleString} " +
        "(supported: long, int, double, string, boolean; send timestamps as epoch longs)"))
    ConnectorTable(schema, w)
  }
}

case class ConnectorTable(tableSchema: StructType, wire: Wire)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = wire.name
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ConnectorScanBuilder(tableSchema, wire)

  /** DSv2 WRITE: every partition bulks its rows in `batchsize` chunks.
    * Append-only by design: a full replace is the store's staged sync
    * behind an atomic swap, not a TRUNCATE a writer could
    * half-finish. A failed/retried write task — or a replayed
    * streaming epoch — re-sends its rows, which the store's keyed
    * latest-wins absorbs: the same contract as every push in the
    * engine, so no sink-side epoch log is needed.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val ws = info.schema()
    wire.checkWrite(ws)
    ws.fields.foreach(f => require(HttpRows.supported(f.dataType),
      s"graft ${wire.label} sink: unsupported field type ${f.name}: ${f.dataType.simpleString}"))
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = ConnectorWrite(wire, ws)
        override def toStreaming: StreamingWrite = ConnectorWrite(wire, ws)
      }
    }
  }
}

class ConnectorScanBuilder(schema: StructType, wire: Wire)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var since: Option[Long] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema

  /** Consume watermark lower bounds into the walk's exclusive `since`:
    * `wm > v` → since=v; `wm >= v` → since=v−1 (exact for integral
    * watermarks). EVERY filter is also returned as residual: the
    * server prune is an optimization the engine never has to trust.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    wire.wmCol.foreach { wc =>
      filters.foreach {
        case GreaterThan(c, v: Long) if c == wc =>
          since = Some(since.fold(v)(math.max(_, v)))
          pushed :+= GreaterThan(c, v)
        case GreaterThanOrEqual(c, v: Long) if c == wc && v != Long.MinValue =>
          // v−1 would WRAP at Long.MinValue, pushing a range that
          // excludes every row — the filter is a tautology anyway, so
          // it stays residual-only (the guard skips the pushdown)
          since = Some(since.fold(v - 1)(math.max(_, v - 1)))
          pushed :+= GreaterThanOrEqual(c, v)
        case _ => ()
      }
    }
    filters // all residual — see above
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = ConnectorScan(wire, since, required)
}

case class ConnectorScan(wire: Wire, since: Option[Long], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = wire.describe(since)
  override def planInputPartitions(): Array[InputPartition] =
    (0 until wire.slices).map(i => SlicePartition(i, since, None): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    SliceReaderFactory(wire, required)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ConnectorStream(wire, since, required)
}

/** The store as a STRUCTURED STREAMING micro-batch source — the
  * reference's ES polling loop as a real `readStream`: each trigger
  * polls the store's max watermark and reads the half-open bracket
  * (lastOffset, maxWm] server-side, sliced across executors like the
  * batch scan.
  *
  * Exactly-once per row under the contract the reference's extract
  * already imposes: the watermark must be SERVER-ASSIGNED and
  * monotone (an ES `_seq_no`-like revision — never a client clock). A
  * writer that backfills wm values at or below a committed offset
  * loses those rows, exactly as it would against the reference's
  * max-modified bookmark. Offsets are plain watermark longs in the
  * checkpoint, so a restarted query resumes the bracket where it
  * stopped; `since`/`until` bracket BOTH ends of every batch, so a
  * row is read in exactly one batch no matter how many triggers
  * or restarts happen between its arrival and its read.
  */
class ConnectorStream(wire: Wire, startSince: Option[Long], required: StructType)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  wire.checkStream()

  private case class WmOffset(wm: Long) extends Offset {
    override def json(): String = wm.toString
  }

  override def initialOffset(): Offset =
    WmOffset(startSince.getOrElse(Long.MinValue))
  override def latestOffset(): Offset =
    wire.maxWatermark().map(WmOffset(_)).getOrElse(initialOffset())

  /** Trigger.AvailableNow drains to the watermark observed at QUERY
    * START and terminates — without this, a store whose writers keep
    * advancing the watermark would keep an "available now" drain
    * alive forever (Spark otherwise falls back to one unbounded
    * batch with a warning).
    */
  @volatile private var availableNowTarget: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    availableNowTarget.getOrElse(latestOffset())

  override def deserializeOffset(json: String): Offset = WmOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s0, e0) = (start.asInstanceOf[WmOffset].wm, end.asInstanceOf[WmOffset].wm)
    if (s0 >= e0) Array.empty
    // the (since, until] bracket rides IN the partitions — the
    // factory below is range-agnostic
    else (0 until wire.slices).map(i =>
      SlicePartition(i, Some(s0), Some(e0)): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    SliceReaderFactory(wire, required)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class SlicePartition(slice: Int, since: Option[Long],
    until: Option[Long]) extends InputPartition

case class SliceReaderFactory(wire: Wire, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SliceReader(wire, partition.asInstanceOf[SlicePartition], required)
}

/** Executor-side reader: one slice walked lazily (one page in memory
  * at a time), each document parsed to the pruned schema; close()
  * releases the walk's server context.
  */
class SliceReader(wire: Wire, p: SlicePartition, required: StructType)
  extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val (lines, release) = wire.openSlice(p.slice, p.since, p.until)
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!lines.hasNext) false
    else {
      current = HttpRows.parse(mapper.readTree(lines.next()), required)
      true
    }
  override def get(): InternalRow = current
  override def close(): Unit = release()
}

/** Batch and streaming write share everything: the store's
  * latest-wins makes every commit/abort a no-op — rows already bulked
  * stay, and a retry re-sends them idempotently. */
case class ConnectorWrite(wire: Wire, writeSchema: StructType)
    extends BatchWrite with StreamingWrite {
  override def useCommitCoordinator(): Boolean = true
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    wire.prepareWrite()
    ConnectorWriterFactory(wire, writeSchema)
  }
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    wire.prepareWrite()
    ConnectorWriterFactory(wire, writeSchema)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

case class ConnectorWriterFactory(wire: Wire, writeSchema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ConnectorWriter(wire, writeSchema)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ConnectorWriter(wire, writeSchema)
}

private object ConnectorWriteCommit extends WriterCommitMessage

/** Executor-side writer: buffers `batchSize` bulk units and posts
  * them through the wire. */
class ConnectorWriter(wire: Wire, writeSchema: StructType)
    extends DataWriter[InternalRow] {
  private val line = wire.bulkLine(writeSchema)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]

  override def write(row: InternalRow): Unit = {
    buf += line(row)
    if (buf.size >= wire.batchSize) flush()
  }
  private def flush(): Unit =
    if (buf.nonEmpty) {
      wire.postBulk(buf.toIndexedSeq)
      buf.clear()
    }
  override def commit(): WriterCommitMessage = { flush(); ConnectorWriteCommit }
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}
