package graft.sources.http

import com.fasterxml.jackson.databind.JsonNode
import graft.sources.{ConnectorOptions, ConnectorProvider, HttpDocumentStore, Wire}
import graft.util.jsonString
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The [[graft.sources.ConnectorProvider]] connector over the HTTP
  * document store protocol ([[graft.sources.HttpDocumentStore]] reads
  * and writes through it): the watermark bracket travels as the
  * scroll protocol's `since`/`until` parameters, the streaming
  * offsets are the store's `GET /wm`, and writes POST NDJSON to
  * `{base}/bulk` (the server's keyed latest-wins makes a retried
  * task's re-send idempotent).
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
  override def describe(since: Option[Long], until: Option[Long]): String =
    s"graft-http scan base=$base slices=$slices" +
      since.fold("")(v => s" since=$v (pushed)") +
      until.fold("")(v => s" until=$v (pushed)")

  /** Lazy page walk of one scan slice — executor-side; each `next`
    * fetches at most one page, so a downstream `limit` stops early.
    * The server returns docs with since < wm <= until only.
    */
  override def openSlice(slice: Int, since: Option[Long],
      until: Option[Long]): (Iterator[String], () => Unit) = {
    val url = s"$base/scan?slice=$slice&slices=$slices" +
      since.fold("")(v => s"&since=$v") + until.fold("")(v => s"&until=$v")
    // state: Some(None) = first page, Some(Some(c)) = follow cursor c,
    // None = cursor chain exhausted
    val pages = Iterator.unfold(Some(None): Option[Option[String]]) {
      case None => None
      case Some(cursor) =>
        val (body, next) = HttpDocumentStore.exchange("GET",
          url + cursor.fold("")(c => s"&cursor=$c"), "", headers)(c =>
          Option(c.getHeaderField("X-Next-Cursor")).filter(_.nonEmpty)).get
        Some((body.linesIterator.filter(_.nonEmpty).toSeq, next.map(c => Some(c))))
    }.flatten
    (pages, () => ())
  }

  override def maxWatermark(): Option[Long] = {
    // trim BEFORE the sentinel check — a server replying "none\n"
    // must hit the sentinel path, not NumberFormatException
    val body = HttpDocumentStore.request("GET", s"$base/wm", "", headers).trim
    if (body == "none") None else Some(body.toLong)
  }

  override def bulkLine(ws: StructType): InternalRow => String =
    HttpRows.json(_, ws)
  override def postBulk(lines: IndexedSeq[String]): Unit = post("bulk", lines)
  /** Delete units are the key documents themselves (key + `rev`). */
  override def deleteLine(ws: StructType): InternalRow => String = bulkLine(ws)
  override def postDelete(lines: IndexedSeq[String]): Unit = post("delete", lines)

  private def post(endpoint: String, lines: IndexedSeq[String]): Unit = {
    HttpDocumentStore.request("POST", s"$base/$endpoint", lines.mkString("\n"), headers)
    ()
  }
}

private[graft] object HttpRows {
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | BooleanType => true
    case _ => false
  }

  /** The inverse of [[parse]]: one InternalRow as a JSON object over
    * the same supported scalar types (SQL NULL → JSON null; a
    * non-finite double → the string `"NaN"`/`"Infinity"`/`"-Infinity"`,
    * as Spark's `to_json` writes it — a bare NaN token is not JSON).
    * Used by the write path — executor-side, no Jackson tree per row.
    */
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
      sb.append(jsonString(f.name)).append(':')
      if (row.isNullAt(i)) sb.append("null")
      else f.dataType match {
        case LongType => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case DoubleType =>
          val d = row.getDouble(i)
          if (d.isNaN || d.isInfinite) sb.append('"').append(d).append('"')
          else sb.append(d)
        case BooleanType => sb.append(row.getBoolean(i))
        case StringType => sb.append(jsonString(row.getUTF8String(i).toString))
        case other => throw new IllegalStateException(
          s"unreachable: ${f.name}: $other rejected at getTable")
      }
      i += 1
    }
    sb.append('}')
    sb.toString
  }

  /** The DOUBLE strings Spark's JSON reader accepts for non-finite
    * values (its `allowNonNumericNumbers` default). */
  private val nonFinite: Map[String, Double] = Map(
    "NaN" -> Double.NaN,
    "Infinity" -> Double.PositiveInfinity, "+Infinity" -> Double.PositiveInfinity,
    "+INF" -> Double.PositiveInfinity,
    "-Infinity" -> Double.NegativeInfinity, "-INF" -> Double.NegativeInfinity)

  /** One document as a row of `schema`, decoded the way Spark's JSON
    * reader (`spark.read.schema(s).json`) decodes it: a missing field,
    * a JSON null, or a value of the wrong JSON type or out of the
    * field's range is NULL (no string→number or number→boolean
    * coercion, no truncation or wrap-around); a STRING field keeps a
    * non-text value as its raw JSON.
    */
  def parse(node: JsonNode, schema: StructType): InternalRow = {
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      val n = node.get(f.name)
      values(i) =
        if (n == null || n.isNull) null
        else f.dataType match {
          case LongType if n.isIntegralNumber && n.canConvertToLong => n.longValue
          case IntegerType if n.isIntegralNumber && n.canConvertToInt => n.intValue
          case DoubleType if n.isNumber => n.doubleValue
          case DoubleType if n.isTextual => nonFinite.getOrElse(n.textValue, null)
          case BooleanType if n.isBoolean => n.booleanValue
          case StringType => UTF8String.fromString(
            if (n.isTextual) n.textValue else n.toString)
          case _ => null
        }
      i += 1
    }
    new GenericInternalRow(values)
  }
}
