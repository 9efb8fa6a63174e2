package graft.sources.es

import graft.sources.{ConnectorOptions, ConnectorProvider, EsDocumentStore, Wire}
import graft.sources.http.HttpRows
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The [[graft.sources.ConnectorProvider]] connector over a REAL
  * Elasticsearch endpoint — the one path [[graft.sources.EsDocumentStore]]
  * reads and writes through: the watermark bracket becomes a `range`
  * query INSIDE the sliced scroll (or PIT, `readmode=pit`) body — evaluated by ES,
  * exactly the reference's incremental pull — with one scroll slice
  * (`"slice":{"id":i,"max":n}`) per partition; the streaming offsets
  * are the max-aggregation watermark; writes bulk external_gte with
  * the per-item 429 retry.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.es.EsStoreProvider")
  *     .schema(schema)                       // configuration, never inferred
  *     .option("base", "http://es:9200")
  *     .option("index", "bugs")              // index or alias
  *     .option("wmcol", "modified_ts")       // range-pushdown field
  *     .option("slices", "8")
  *     .load()
  * }}}
  */
class EsStoreProvider extends ConnectorProvider("es") {
  /** `spark.read.format("graft-es")` — registered via
    * META-INF/services like every built-in source. */
  override def shortName(): String = "graft-es"
  override protected def wire(o: ConnectorOptions): Wire = {
    val base = o.required("base")
    val index = o.required("index")
    EsWire(base, index, o.nonEmpty("wmcol"),
      o.positive("slices", 8), o.positive("pagesize", 500), o.headers,
      o.nonEmpty("keycols").map(_.split(",").toSeq.map(_.trim)).getOrElse(Seq.empty),
      o.nonEmpty("versioncol"), o.positive("batchsize", 500),
      o.raw("readmode").getOrElse("scroll"))
  }
}

case class EsWire(base: String, index: String, wmCol: Option[String],
    slices: Int, pageSize: Int, headers: Map[String, String],
    keyCols: Seq[String], versionCol: Option[String], batchSize: Int,
    readMode: String) extends Wire {
  require(readMode == "scroll" || readMode == "pit",
    s"graft es source: readmode must be scroll|pit, got '$readMode'")

  override def label: String = "es"
  override def name: String = s"graft-es($base/$index)"
  override def describe(since: Option[Long], until: Option[Long]): String =
    s"graft-es scan $base/$index slices=$slices" +
      since.fold("")(v => s" since=$v (pushed range)") +
      until.fold("")(v => s" until=$v (pushed range)")

  /** close() releases the slice's live scroll/PIT context — an
    * early-terminated read must not pin index segments for the
    * keepalive window (default clusters cap open scroll contexts at
    * 500). */
  override def openSlice(slice: Int, since: Option[Long],
      until: Option[Long]): (Iterator[String], () => Unit) = {
    @volatile var release: () => Unit = () => ()
    val pages =
      if (readMode == "pit")
        EsDocumentStore.pitSlice(base, index, slice, slices, pageSize, wmCol,
          since, until, headers = headers,
          onPitId = id => release = () => EsDocumentStore.releasePit(base, id, headers))
      else
        EsDocumentStore.scrollSlice(base, index, slice, slices, pageSize, wmCol,
          since, until, headers = headers,
          onScrollId = id => release = () => EsDocumentStore.releaseScroll(base, id, headers))
    (pages, () => release())
  }

  override def checkStream(): Unit =
    require(wmCol.nonEmpty,
      "graft es source: streaming reads need the 'wmcol' option (the watermark " +
        "field that brackets each micro-batch server-side)")
  override def maxWatermark(): Option[Long] =
    EsDocumentStore.maxWatermarkAt(base, index, wmCol.get, headers)

  override def checkWrite(ws: StructType): Unit = {
    require(keyCols.nonEmpty,
      "graft es sink: 'keycols' option is required (comma-separated key columns)")
    val vc = versionCol.getOrElse(sys.error(
      "graft es sink: 'versioncol' option is required (non-negative long)"))
    keyCols.foreach(k => require(ws.fieldNames.contains(k),
      s"graft es sink: key column '$k' not in write schema ${ws.fieldNames.mkString(",")}"))
    require(ws.fieldNames.contains(vc),
      s"graft es sink: version column '$vc' not in write schema")
  }

  /** Generation 1 + alias if absent, once per write. */
  override def prepareWrite(): Unit =
    EsDocumentStore.ensureIndexAt(base, index, headers)

  /** An index action line plus the source line. */
  override def bulkLine(ws: StructType): InternalRow => String = {
    val action = actionOf("index", ws)
    row => action(row) + "\n" + HttpRows.json(row, ws)
  }
  override def deleteLine(ws: StructType): InternalRow => String =
    actionOf("delete", ws)

  /** The action-and-metadata line: the `_id` is the key values, each
    * percent-escaped (`%`→`%25`, `:`→`%3A`) before the `":"` join so
    * distinct key tuples never share an `_id`; a NULL key fails the
    * task. The version is the external version.
    */
  private def actionOf(action: String, ws: StructType): InternalRow => String = {
    val keyExtract: Array[InternalRow => String] = keyCols.toArray.map { n =>
      val i = ws.fieldIndex(n)
      val get: InternalRow => String = ws.fields(i).dataType match {
        case StringType => r => r.getUTF8String(i).toString
        case LongType => r => r.getLong(i).toString
        case IntegerType => r => r.getInt(i).toString
        case DoubleType => r => r.getDouble(i).toString
        case BooleanType => r => r.getBoolean(i).toString
        case other => throw new IllegalStateException(
          s"unreachable: $other rejected at newWriteBuilder")
      }
      (r: InternalRow) => {
        require(!r.isNullAt(i),
          s"graft es sink: null key column '$n' cannot compose an ES _id")
        get(r).replace("%", "%25").replace(":", "%3A")
      }
    }
    val vc = versionCol.get
    val verIdx = ws.fieldIndex(vc)
    val verIsLong = ws.fields(verIdx).dataType match {
      case LongType => true
      case IntegerType => false
      case other => sys.error(
        s"graft es sink: version column '$vc' must be integral, got $other")
    }
    row => {
      val id = keyExtract.map(_(row)).mkString(":")
      require(!row.isNullAt(verIdx), s"graft es sink: null version column '$vc'")
      val version = if (verIsLong) row.getLong(verIdx) else row.getInt(verIdx).toLong
      EsDocumentStore.actionLine(action, index, id, version)
    }
  }

  override def postBulk(lines: IndexedSeq[String]): Unit =
    EsDocumentStore.bulkWithRetry(base, headers, lines)
  override def postDelete(lines: IndexedSeq[String]): Unit = postBulk(lines)
}
