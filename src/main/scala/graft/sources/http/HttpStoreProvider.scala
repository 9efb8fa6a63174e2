package graft.sources.http

import com.fasterxml.jackson.databind.JsonNode
import graft.sources.{ConnectorOptions, ConnectorProvider, HttpDocumentStore, Wire}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The [[graft.sources.ConnectorProvider]] connector over the HTTP
  * document store — the scan half of [[graft.sources.HttpDocumentStore]]
  * lifted into Spark's connector API: the watermark bound travels as
  * the scroll protocol's `since`/`until` parameters, the streaming
  * offsets are the store's `GET /wm`, and writes POST NDJSON to
  * `{base}/bulk` (the server's keyed latest-wins makes a retried
  * task's re-send idempotent, the same contract as
  * [[graft.sources.HttpDocumentStore.push]]).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.http.HttpStoreProvider")
  *     .schema(schema)
  *     .option("base", "http://store:9200/idx")
  *     .option("wmcol", "m")        // watermark field for pushdown
  *     .option("slices", "8")
  *     .load()
  * }}}
  */
class HttpStoreProvider extends ConnectorProvider("http") {
  /** `spark.read.format("graft-http")`. */
  override def shortName(): String = "graft-http"
  override protected def wire(o: ConnectorOptions): Wire =
    HttpWire(o.required("base"), o.nonEmpty("wmcol"), o.positive("slices", 8),
      o.headers, o.positive("batchsize", 500))
}

case class HttpWire(base: String, wmCol: Option[String], slices: Int,
    headers: Map[String, String], batchSize: Int) extends Wire {
  override def label: String = "http"
  override def name: String = s"graft-http($base)"
  override def describe(since: Option[Long]): String =
    s"graft-http scan base=$base slices=$slices" +
      since.fold("")(v => s" since=$v (pushed)")

  override def openSlice(slice: Int, since: Option[Long],
      until: Option[Long]): (Iterator[String], () => Unit) =
    (HttpDocumentStore.slicePages(base, slice, slices, since, until, headers), () => ())

  override def maxWatermark(): Option[Long] = {
    // trim BEFORE the sentinel check — a server replying "none\n"
    // must hit the sentinel path, not NumberFormatException
    val body = HttpDocumentStore.request("GET", s"$base/wm", "", headers).trim
    if (body == "none") None else Some(body.toLong)
  }

  override def bulkLine(ws: StructType): InternalRow => String =
    HttpRows.json(_, ws)
  override def postBulk(lines: IndexedSeq[String]): Unit = {
    HttpDocumentStore.request("POST", s"$base/bulk", lines.mkString("\n"), headers)
    ()
  }
}

private[graft] object HttpRows {
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | BooleanType => true
    case _ => false
  }

  /** The inverse of [[parse]]: one InternalRow as a JSON object over
    * the same supported scalar types (SQL NULL → JSON null). Used by
    * the DSv2 WRITE path — executor-side, no Jackson allocation per
    * row.
    */
  private def appendEscaped(sb: java.lang.StringBuilder, str: String): Unit = {
    var j = 0
    while (j < str.length) {
      str.charAt(j) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
        case c => sb.append(c)
      }
      j += 1
    }
  }

  def json(row: InternalRow, schema: StructType): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      val f = schema.fields(i)
      // field names escape too: Spark allows quotes/backslashes in
      // backticked column names, and an unescaped name corrupts the
      // whole NDJSON line
      sb.append('"')
      appendEscaped(sb, f.name)
      sb.append("\":")
      if (row.isNullAt(i)) sb.append("null")
      else f.dataType match {
        case LongType => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case DoubleType => sb.append(row.getDouble(i))
        case BooleanType => sb.append(row.getBoolean(i))
        case StringType =>
          sb.append('"')
          appendEscaped(sb, row.getUTF8String(i).toString)
          sb.append('"')
        case other => throw new IllegalStateException(
          s"unreachable: ${f.name}: $other rejected at getTable")
      }
      i += 1
    }
    sb.append('}')
    sb.toString
  }

  def parse(node: JsonNode, schema: StructType): InternalRow = {
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      val n = node.get(f.name)
      values(i) =
        if (n == null || n.isNull) null
        else f.dataType match {
          case LongType => n.asLong()
          case IntegerType => n.asInt()
          case DoubleType => n.asDouble()
          case BooleanType => n.asBoolean()
          case StringType => UTF8String.fromString(
            if (n.isTextual) n.asText() else n.toString)
          case other => throw new IllegalStateException(
            s"unreachable: ${f.name}: $other rejected at getTable")
        }
      i += 1
    }
    new GenericInternalRow(values)
  }
}
