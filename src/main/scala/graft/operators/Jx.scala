package graft.operators

import graft.{Q, QueryPack}
import graft.jx.JxCompiler

/** The jx query-language entry: q26 runs a representative jx JSON
  * document (filter + group-by + aggregates + sort) through the
  * compiler. More operator combinations are covered by JxSpec.
  */
object Jx extends QueryPack {

  val q26Json: String =
    """{
      |  "from": "lineitem",
      |  "where": {"and": [
      |    {"gte": {"l_quantity": 10}},
      |    {"in": {"l_returnflag": ["A", "R"]}},
      |    {"not": {"eq": {"l_linestatus": "X"}}}
      |  ]},
      |  "groupby": ["l_returnflag", "l_linestatus"],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "qty", "value": "l_quantity", "aggregate": "sum"},
      |    {"name": "avg_price", "value": "l_extendedprice", "aggregate": "average"},
      |    {"name": "max_disc", "value": "l_discount", "aggregate": "maximum"},
      |    {"name": "n_parts", "value": "l_partkey", "aggregate": "cardinality"}
      |  ]
      |}""".stripMargin

  val q26 = Q(
    "q26_jx_query",
    (s, d) => JxCompiler.query(s, d, q26Json),
    Some("""SELECT l_returnflag, l_linestatus,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           |  MAX(l_discount) AS max_disc,
           |  COUNT(DISTINCT l_partkey) AS n_parts
           |FROM lineitem
           |WHERE l_quantity >= 10 AND l_returnflag IN ('A', 'R')
           |  AND NOT l_linestatus = 'X'
           |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    "jx JSON query (where/groupby/select aggregates) through the compiler")

  /** jx `edges` are cell-complete pivot axes (unlike `groupby`): every
    * (user, event_type) cell of the domain cross product appears, with
    * count 0 / sum NULL for cells the filter left empty.
    */
  val q27Json: String =
    """{
      |  "from": "events",
      |  "where": {"gte": {"value": 90}},
      |  "edges": ["user_id", "event_type"],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "total", "value": "value", "aggregate": "sum"}
      |  ]
      |}""".stripMargin

  val q27 = Q(
    "q27_jx_edges",
    (s, d) => JxCompiler.query(s, d, q27Json),
    Some("""WITH src AS (SELECT * FROM events WHERE value >= 90),
           |cells AS (SELECT u.user_id, t.event_type
           |          FROM (SELECT DISTINCT user_id FROM src) u
           |          CROSS JOIN (SELECT DISTINCT event_type FROM src) t),
           |g AS (SELECT user_id, event_type, COUNT(*) AS n,
           |             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |      FROM src GROUP BY 1, 2)
           |SELECT c.user_id, c.event_type, COALESCE(g.n, 0) AS n, g.total
           |FROM cells c LEFT JOIN g USING (user_id, event_type)""".stripMargin),
    "jx edges pivot: cell-complete domain cross product w/ zero-filled counts")

  /** jx window clauses: rownum ranking + running sum per edge
    * partition, selected alongside plain columns.
    */
  val q28Json: String =
    """{
      |  "from": "lineitem",
      |  "where": {"lt": {"l_suppkey": 20}},
      |  "window": [
      |    {"name": "rk", "aggregate": "rownum", "edges": ["l_suppkey"],
      |     "sort": [{"value": "l_extendedprice", "sort": -1},
      |              {"value": "l_orderkey", "sort": 1},
      |              {"value": "l_linenumber", "sort": 1}]},
      |    {"name": "run_qty", "value": "l_quantity", "aggregate": "sum",
      |     "edges": ["l_suppkey"],
      |     "sort": [{"value": "l_extendedprice", "sort": -1},
      |              {"value": "l_orderkey", "sort": 1},
      |              {"value": "l_linenumber", "sort": 1}]}
      |  ],
      |  "select": ["l_suppkey", "l_orderkey", "l_linenumber",
      |             "l_extendedprice", "rk", "run_qty"]
      |}""".stripMargin

  val q28 = Q(
    "q28_jx_window",
    (s, d) => JxCompiler.query(s, d, q28Json),
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           |  CAST(ROW_NUMBER() OVER w AS INT) AS rk,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
           |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    AS DOUBLE) AS run_qty
           |FROM lineitem WHERE l_suppkey < 20
           |WINDOW w AS (PARTITION BY l_suppkey
           |             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)""".stripMargin),
    "jx window: rownum + decimal-exact running sum per edge partition")

  /** jx range-domain edges: numeric histogram axes. Every 100k price
    * interval in [0, 600k) is a cell whether populated or not,
    * crossed with the order-status axis.
    */
  val q45Json: String =
    """{
      |  "from": "orders",
      |  "edges": [
      |    "o_orderstatus",
      |    {"name": "price_bin", "value": "o_totalprice",
      |     "domain": {"type": "range", "min": 0, "max": 600000, "interval": 100000}}
      |  ],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "total", "value": "o_totalprice", "aggregate": "sum"}
      |  ]
      |}""".stripMargin

  val q45 = Q(
    "q45_jx_range_edges",
    (s, d) => JxCompiler.query(s, d, q45Json),
    Some("""WITH src AS (SELECT * FROM orders
           |            WHERE o_totalprice >= 0 AND o_totalprice < 600000),
           |cells AS (SELECT s.o_orderstatus, b.price_bin
           |          FROM (SELECT DISTINCT o_orderstatus FROM src) s
           |          CROSS JOIN (SELECT i * 100000 AS price_bin
           |                      FROM UNNEST(generate_series(0, 5)) t(i)) b),
           |g AS (SELECT o_orderstatus,
           |        CAST(FLOOR((o_totalprice - 0) / 100000) AS BIGINT) * 100000 + 0 AS price_bin,
           |        COUNT(*) AS n,
           |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
           |      FROM src GROUP BY 1, 2)
           |SELECT c.o_orderstatus, c.price_bin, COALESCE(g.n, 0) AS n, g.total
           |FROM cells c LEFT JOIN g USING (o_orderstatus, price_bin)""".stripMargin),
    "jx range-domain edges: cell-complete numeric histogram x categorical axis")

  /** jx nested-document `from`: the reference's records are nested ES
    * documents and jx queries inner arrays by leaf path ("bug.
    * attachments"-style). The testdata is flat parquet, so the nested
    * shape is built once per (session, dir) — orders with their line
    * items as an inner document array — and handed to the compiler as
    * a named frame; the oracle is the equivalent flat join — which is
    * exactly the point: explode(inner docs) ≡ the join the nesting
    * denormalized away.
    *
    * The nesting itself is a STORED artifact ([[storedNestedOrders]],
    * `_build:nested_orders` in Bench): a reference deployment's
    * documents arrive already nested (its store is document-shaped),
    * so building the nested table from flat TPC-H is testdata ETL,
    * not part of the nested-from operator under measurement.
    */
  /** Session-stored nested-orders table: each order with its line
    * items as an inner document array — the document shape a
    * reference deployment stores natively. One shuffle to nest
    * (co-partitioned join + collect_list), checkpointed per
    * (session, dir).
    */
  def storedNestedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.StoredArtifacts.getOrBuild("nested_orders", s, d) {
      import org.apache.spark.sql.functions._
      graft.util.pin(graft.Tables.orders(s, d)
        .join(graft.Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderstatus"))
        .agg(collect_list(struct(
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))).as("lines")))._1
    }

  val q56Json: String =
    """{
      |  "from": "bugs.lines",
      |  "where": {"gte": {"lines.l_quantity": 45}},
      |  "select": ["o_orderkey", "o_orderstatus", "lines.l_linenumber",
      |             "lines.l_quantity", "lines.l_extendedprice"]
      |}""".stripMargin

  val q56 = Q(
    "q56_jx_nested_from",
    (s, d) => JxCompiler.queryOn(s, d, q56Json,
      Map("bugs" -> storedNestedOrders(s, d))),
    Some("""SELECT o.o_orderkey, o.o_orderstatus,
           |  l.l_linenumber AS "lines.l_linenumber",
           |  l.l_quantity AS "lines.l_quantity",
           |  l.l_extendedprice AS "lines.l_extendedprice"
           |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           |WHERE l.l_quantity >= 45""".stripMargin),
    "jx nested-document from: leaf-path explode of inner document arrays")

  /** jx `format: "cube"` — q27's pivot, delivered as the cube shape
    * (domain arrays + per-aggregate nested data arrays) MoDevETL's
    * dashboards consume. Rows-only in the gate (nested-array formats
    * have no stable SQL mirror); JxSpec pins every cell against the
    * oracled flat form.
    */
  val q57Json: String =
    """{
      |  "from": "events",
      |  "where": {"gte": {"value": 90}},
      |  "edges": ["user_id", "event_type"],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "total", "value": "value", "aggregate": "sum"}
      |  ],
      |  "format": "cube"
      |}""".stripMargin

  /** jx time-domain edges — the reference's dashboard axis (MoDevETL's
    * own dashboards bucket bug counts by time; pyLibrary jx domains
    * include `time`). Week buckets over `events.ts` crossed with the
    * event-type axis, cell-complete: the last domain week (Feb 5) has
    * no events, so its cells appear zero-filled; rows outside
    * [min, max) are dropped.
    */
  val q64Json: String =
    """{
      |  "from": "events",
      |  "edges": [
      |    {"name": "wk", "value": "ts",
      |     "domain": {"type": "time", "min": "2024-01-01 00:00:00",
      |                "max": "2024-02-12 00:00:00", "interval": "week"}},
      |    "event_type"
      |  ],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "total", "value": "value", "aggregate": "sum"}
      |  ]
      |}""".stripMargin

  val q64 = Q(
    "q64_jx_time_edges",
    (s, d) => JxCompiler.query(s, d, q64Json),
    Some("""WITH src AS (SELECT * FROM events
           |             WHERE ts >= TIMESTAMP '2024-01-01'
           |               AND ts < TIMESTAMP '2024-02-12'),
           |wks AS (SELECT unnest(generate_series(
           |          date_trunc('week', TIMESTAMP '2024-01-01'),
           |          TIMESTAMP '2024-02-12', INTERVAL 1 WEEK)) AS wk),
           |cells AS (SELECT w.wk, t.event_type
           |          FROM (SELECT wk FROM wks WHERE wk < TIMESTAMP '2024-02-12') w
           |          CROSS JOIN (SELECT DISTINCT event_type FROM src) t),
           |g AS (SELECT date_trunc('week', ts) AS wk, event_type, COUNT(*) AS n,
           |             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |      FROM src GROUP BY 1, 2)
           |SELECT c.wk, c.event_type, COALESCE(g.n, 0) AS n, g.total
           |FROM cells c LEFT JOIN g USING (wk, event_type)""".stripMargin),
    "jx time-domain edges: cell-complete calendar week histogram x categorical axis")

  /** jx set-domain edges: an explicit partition whitelist — the axis
    * a dashboard pins to known categories. 'purchase'/'view' are
    * real event types; 'refund' is listed but absent, so its cells
    * appear zero-filled; the other event types' rows are dropped.
    */
  val q70Json: String =
    """{
      |  "from": "events",
      |  "edges": [
      |    {"name": "et", "value": "event_type",
      |     "domain": {"type": "set", "partitions": ["purchase", "view", "refund"]}}
      |  ],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "total", "value": "value", "aggregate": "sum"}
      |  ]
      |}""".stripMargin

  val q70 = Q(
    "q70_jx_set_edges",
    (s, d) => JxCompiler.query(s, d, q70Json),
    Some("""WITH cells AS (SELECT * FROM (VALUES ('purchase'), ('view'), ('refund')) c(et)),
           |g AS (SELECT event_type AS et, COUNT(*) AS n,
           |             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |      FROM events WHERE event_type IN ('purchase', 'view', 'refund')
           |      GROUP BY 1)
           |SELECT c.et, COALESCE(g.n, 0) AS n, g.total
           |FROM cells c LEFT JOIN g USING (et)""".stripMargin),
    "jx set-domain edges: explicit partition whitelist, absent values zero-filled")

  /** Gate entry: the raw cube's array columns serialized through
    * `to_json` so the harness (pandas sort + hash over cell values)
    * gets stable sortable strings — nested numpy arrays are unhashable
    * and crashed the r4 gate. The library API is unchanged:
    * `JxCompiler.query(.., q57Json)` still returns the raw nested
    * cube; JxSpec keeps pinning its cells. The float aggregate is
    * stringified through DECIMAL(18,4) on BOTH sides (engine-wide
    * policy, SURVEY.md §5): decimal→string is deterministic text,
    * where double→JSON shortest-round-trip formatting is an
    * engine-specific choice that could hash-mismatch.
    */
  val q57 = Q(
    "q57_jx_format_cube",
    (s, d) => {
      import org.apache.spark.sql.functions._
      JxCompiler.query(s, d, q57Json).select(
        to_json(col("domain_user_id")).as("domain_user_id"),
        to_json(col("domain_event_type")).as("domain_event_type"),
        to_json(col("n")).as("n"),
        to_json(expr(
          "transform(total, r -> transform(r, x -> cast(cast(x as decimal(18,4)) as string)))"))
          .as("total"))
    },
    Some("""WITH src AS (SELECT user_id, event_type, value FROM events WHERE value >= 90),
           |u AS (SELECT DISTINCT user_id FROM src),
           |t AS (SELECT DISTINCT event_type FROM src),
           |g AS (SELECT user_id, event_type, COUNT(*) AS n,
           |             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |      FROM src GROUP BY 1, 2),
           |j AS (SELECT u.user_id, t.event_type, COALESCE(g.n, 0) AS n,
           |             CAST(CAST(g.total AS DECIMAL(18,4)) AS VARCHAR) AS total
           |      FROM u CROSS JOIN t
           |      LEFT JOIN g ON g.user_id = u.user_id AND g.event_type = t.event_type),
           |r AS (SELECT user_id,
           |             list(n ORDER BY event_type) AS n_row,
           |             list(total ORDER BY event_type) AS t_row
           |      FROM j GROUP BY user_id)
           |SELECT
           |  CAST(to_json((SELECT list(user_id ORDER BY user_id) FROM u)) AS VARCHAR) AS domain_user_id,
           |  CAST(to_json((SELECT list(event_type ORDER BY event_type) FROM t)) AS VARCHAR) AS domain_event_type,
           |  CAST(to_json(list(n_row ORDER BY user_id)) AS VARCHAR) AS n,
           |  CAST(to_json(list(t_row ORDER BY user_id)) AS VARCHAR) AS total
           |FROM r""".stripMargin),
    "jx cube format: edge domain arrays + aligned nested data arrays (gate: to_json)")

  /** Duration axis over an in-plan elapsed-time expression (`value`
    * scaled to seconds): cell-complete minute buckets in [0, 3600),
    * rows past the hour dropped — most of the corpus, so both empty
    * cells and the range filter are exercised.
    */
  val q77Json: String =
    """{
      |  "from": "events",
      |  "edges": [
      |    {"name": "db", "value": {"mult": ["value", 60]},
      |     "domain": {"type": "duration", "min": 0, "max": 3600,
      |                "interval": "minute"}}
      |  ],
      |  "select": [{"name": "n", "aggregate": "count"}]
      |}""".stripMargin

  val q77 = Q(
    "q77_jx_duration_edges",
    (s, d) => JxCompiler.query(s, d, q77Json),
    Some("""WITH src AS (
           |  SELECT value * 60 AS dur FROM events
           |  WHERE value * 60 >= 0 AND value * 60 < 3600
           |), cells AS (
           |  SELECT unnest(generate_series(0, 3599, 60)) AS db
           |), g AS (
           |  SELECT CAST(floor(dur / 60) AS BIGINT) * 60 AS db, COUNT(*) AS n
           |  FROM src GROUP BY 1
           |)
           |SELECT c.db, COALESCE(g.n, 0) AS n
           |FROM cells c LEFT JOIN g USING (db)""".stripMargin),
    "jx duration-domain edges: cell-complete minute-bucket histogram, out-of-range rows dropped")

  /** jx limited value domain: top-N + OTHER — the dashboard axis at
    * scale. The 5 most frequent suppliers keep their own partitions
    * (ties break toward the smaller string value, mirrored by the
    * oracle's ROW_NUMBER ORDER BY n DESC, v ASC); every other
    * supplier's rows collapse into OTHER. Null would keep its own
    * partition (JxSpec pins that; l_suppkey is never null here).
    */
  val q93Json: String =
    """{
      |  "from": "lineitem",
      |  "edges": [
      |    {"name": "supp", "value": "l_suppkey",
      |     "domain": {"type": "default", "limit": 5}}
      |  ],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "qty", "value": "l_quantity", "aggregate": "sum"}
      |  ]
      |}""".stripMargin

  val q93 = Q(
    "q93_jx_domain_limit",
    (s, d) => JxCompiler.query(s, d, q93Json),
    Some("""WITH src AS (SELECT CAST(l_suppkey AS VARCHAR) AS v, l_quantity FROM lineitem),
           |c AS (SELECT v, COUNT(*) AS cnt FROM src WHERE v IS NOT NULL GROUP BY 1),
           |keep AS (SELECT v FROM (
           |  SELECT v, ROW_NUMBER() OVER (ORDER BY cnt DESC, v ASC) AS rk FROM c)
           |  WHERE rk <= 5),
           |m AS (SELECT CASE WHEN v IS NULL THEN NULL
           |                  WHEN v IN (SELECT v FROM keep) THEN v
           |                  ELSE 'OTHER' END AS supp, l_quantity FROM src)
           |SELECT supp, COUNT(*) AS n,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
           |FROM m GROUP BY 1""".stripMargin),
    "jx limited value domain: top-5 suppliers + OTHER overflow partition")

  /** jx range-bound window aggregates: rows-relative sliding frames
    * ({"min":-2,"max":1} = trailing-3, half-open like every pyLibrary
    * range) with sort, for sum/average/max — the moving-average axis
    * dashboards layer over time-sorted facts. Sort keys (l_orderkey,
    * l_linenumber) are a unique key per partition, so frames (and the
    * oracle's) are deterministic.
    */
  val q94Json: String =
    """{
      |  "from": "lineitem",
      |  "where": {"lt": {"l_suppkey": 20}},
      |  "window": [
      |    {"name": "avg3", "value": "l_quantity", "aggregate": "average",
      |     "edges": ["l_suppkey"],
      |     "sort": [{"value": "l_orderkey", "sort": 1},
      |              {"value": "l_linenumber", "sort": 1},
      |              {"value": "l_quantity", "sort": 1},
      |              {"value": "l_extendedprice", "sort": 1},
      |              {"value": "l_partkey", "sort": 1}],
      |     "range": {"min": -2, "max": 1}},
      |    {"name": "sum3", "value": "l_quantity", "aggregate": "sum",
      |     "edges": ["l_suppkey"],
      |     "sort": [{"value": "l_orderkey", "sort": 1},
      |              {"value": "l_linenumber", "sort": 1},
      |              {"value": "l_quantity", "sort": 1},
      |              {"value": "l_extendedprice", "sort": 1},
      |              {"value": "l_partkey", "sort": 1}],
      |     "range": {"min": -2, "max": 1}},
      |    {"name": "max_ahead", "value": "l_extendedprice", "aggregate": "maximum",
      |     "edges": ["l_suppkey"],
      |     "sort": [{"value": "l_orderkey", "sort": 1},
      |              {"value": "l_linenumber", "sort": 1},
      |              {"value": "l_quantity", "sort": 1},
      |              {"value": "l_extendedprice", "sort": 1},
      |              {"value": "l_partkey", "sort": 1}],
      |     "range": {"min": 0, "max": 3}}
      |  ],
      |  "select": ["l_suppkey", "l_orderkey", "l_linenumber", "l_quantity",
      |             "avg3", "sum3", "max_ahead"]
      |}""".stripMargin

  val q94 = Q(
    "q94_jx_window_range",
    (s, d) => JxCompiler.query(s, d, q94Json),
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
           |    OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           |    / COUNT(l_quantity) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           |    AS avg3,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
           |    OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum3,
           |  MAX(l_extendedprice)
           |    OVER (w ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS max_ahead
           |FROM lineitem WHERE l_suppkey < 20
           |WINDOW w AS (PARTITION BY l_suppkey
           |             ORDER BY l_orderkey, l_linenumber, l_quantity,
           |                      l_extendedprice, l_partkey)""".stripMargin),
    "jx range-bound window aggregates: trailing-3 avg/sum + forward-3 max per supplier")

  /** jx `format: "table"` gate entry: like q57's cube, the nested
    * transport shape is serialized through to_json so the gate's
    * pandas comparator gets stable strings; the library API returns
    * the raw header + native-typed data structs (JxSpec pins types
    * and sort-clause row order). Count-only aggregates keep the JSON
    * float-free, so both engines print identical compact text.
    */
  val q95Json: String =
    """{
      |  "from": "events",
      |  "groupby": ["event_type"],
      |  "select": [{"name": "n", "aggregate": "count"}],
      |  "sort": [{"value": "n", "sort": -1}, {"value": "event_type", "sort": 1}],
      |  "format": "table"
      |}""".stripMargin

  val q95 = Q(
    "q95_jx_format_table",
    (s, d) => {
      import org.apache.spark.sql.functions._
      JxCompiler.query(s, d, q95Json).select(
        to_json(col("header")).as("header"),
        to_json(col("data")).as("data"))
    },
    Some("""WITH g AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1)
           |SELECT CAST(to_json(['event_type','n']) AS VARCHAR) AS header,
           |       CAST(to_json(list(struct_pack(event_type := event_type, n := n)
           |                         ORDER BY n DESC, event_type ASC)) AS VARCHAR) AS data
           |FROM g""".stripMargin),
    "jx table format: header + sort-ordered native-typed rows (gate: to_json)")

  /** jx groupby on computed expressions — pyLibrary groups on derived
    * domains (buckets, substrings), not just stored columns. Decimal
    * policy as everywhere; the bucket arithmetic mirrors exactly in
    * the oracle.
    */
  val q96Json: String =
    """{
      |  "from": "lineitem",
      |  "where": {"in": {"l_returnflag": ["A", "R"]}},
      |  "groupby": [
      |    "l_returnflag",
      |    {"name": "qty_bin",
      |     "value": {"mult": [{"floor": {"div": ["l_quantity", 10]}}, {"literal": 10}]}}
      |  ],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "revenue", "value": "l_extendedprice", "aggregate": "sum"}
      |  ]
      |}""".stripMargin

  val q96 = Q(
    "q96_jx_groupby_expr",
    (s, d) => JxCompiler.query(s, d, q96Json),
    Some("""SELECT l_returnflag,
           |  CAST(FLOOR(l_quantity / 10) * 10 AS BIGINT) AS qty_bin,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           |FROM lineitem
           |WHERE l_returnflag IN ('A', 'R')
           |GROUP BY 1, 2""".stripMargin),
    "jx groupby on a computed bucket expression + plain field, aggregated")

  /** jx predicate-partition set domains — pyLibrary's full set-domain
    * shape: each partition is {name, where}, ordered,
    * first-match-wins; rows matching none drop; every listed name is
    * a cell. The banded axis dashboards define by rule, not by value.
    */
  val q97Json: String =
    """{
      |  "from": "orders",
      |  "edges": [
      |    {"name": "price_band", "domain": {"type": "set", "partitions": [
      |      {"name": "low", "where": {"lt": {"o_totalprice": 100000}}},
      |      {"name": "mid", "where": {"lt": {"o_totalprice": 300000}}},
      |      {"name": "high", "where": {"gte": {"o_totalprice": 300000}}}
      |    ]}}
      |  ],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "total", "value": "o_totalprice", "aggregate": "sum"}
      |  ]
      |}""".stripMargin

  val q97 = Q(
    "q97_jx_predicate_partitions",
    (s, d) => JxCompiler.query(s, d, q97Json),
    // mid's where overlaps low (< 300000 includes < 100000): the
    // oracle mirrors first-match-wins with an ordered CASE
    Some("""SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
           |            WHEN o_totalprice < 300000 THEN 'mid'
           |            WHEN o_totalprice >= 300000 THEN 'high' END AS price_band,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM orders GROUP BY 1""".stripMargin),
    "jx predicate-partition set domain: ordered {name, where} bands, first-match-wins")

  /** jx date/time scalar expressions — pyLibrary Date/Duration ops,
    * the bug-timestamp arithmetic every reference query leans on:
    * a date-literal filter bound, floor-to-calendar-week grouping,
    * age-in-seconds and age-in-days diffs, and a fixed-width
    * date_add shift. Engine-wide nanosecond policy (SURVEY §5):
    * second-resolution ops truncate to whole seconds on BOTH sides
    * (unix_timestamp ↔ floor(epoch(ts))), so the ns-precision
    * `events.ts` hashes identically; day-granular date_trunc is
    * unaffected by sub-second precision.
    */
  val q99Json: String =
    """{
      |  "from": "events",
      |  "where": {"gte": {"ts": {"date": "2024-01-08 00:00:00"}}},
      |  "groupby": [{"name": "wk", "value": {"floor": ["ts", "week"]}}],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "max_age_s",
      |     "value": {"date_diff": [{"date": "2024-03-01 00:00:00"}, "ts"]},
      |     "aggregate": "maximum"},
      |    {"name": "avg_age_d",
      |     "value": {"date_diff": [{"date": "2024-03-01 00:00:00"}, "ts", "day"]},
      |     "aggregate": "average"},
      |    {"name": "last_plus_wk",
      |     "value": {"date_add": ["ts", 1, "week"]},
      |     "aggregate": "maximum"},
      |    {"name": "vclamp",
      |     "value": {"min": [{"max": ["value", 1]}, 5]},
      |     "aggregate": "maximum"}
      |  ]
      |}""".stripMargin

  val q99 = Q(
    "q99_jx_date_exprs",
    (s, d) => JxCompiler.query(s, d, q99Json),
    Some("""SELECT date_trunc('week', ts) AS wk,
           |  COUNT(*) AS n,
           |  MAX(CAST(floor(epoch(TIMESTAMP '2024-03-01 00:00:00')) AS BIGINT)
           |      - CAST(floor(epoch(ts)) AS BIGINT)) AS max_age_s,
           |  CAST(SUM(CAST(
           |      (CAST(floor(epoch(TIMESTAMP '2024-03-01 00:00:00')) AS BIGINT)
           |       - CAST(floor(epoch(ts)) AS BIGINT)) / 86400.0
           |      AS DECIMAL(18,4))) AS DOUBLE) / COUNT(ts) AS avg_age_d,
           |  MAX(make_timestamp((CAST(floor(epoch(ts)) AS BIGINT) + 604800)
           |      * 1000000)) AS last_plus_wk,
           |  MAX(LEAST(GREATEST(value, 1), 5)) AS vclamp
           |FROM events
           |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           |GROUP BY 1""".stripMargin),
    "jx date/time scalar exprs: date literal bound, floor-to-week, date_diff ages, date_add")

  /** jx window over a time-DOMAIN edge — the dashboard shape pyLibrary
    * serves: per-row analytics against the row's calendar bucket.
    * `day_total` is an UNSORTED window (whole-partition sum — each
    * event's share denominator for its (day, type) cell); `day_seq`
    * ranks within the bucket by the unique event_id (ts carries
    * nanoseconds the two engines truncate differently, so it is a
    * display column here, never a sort key — q94 lesson).
    */
  val q100Json: String =
    """{
      |  "from": "events",
      |  "where": {"in": {"event_type": ["click", "view", "purchase"]}},
      |  "window": [
      |    {"name": "day_total", "value": "value", "aggregate": "sum",
      |     "edges": [{"name": "day", "value": "ts",
      |                "domain": {"type": "time", "interval": "day"}},
      |               "event_type"]},
      |    {"name": "day_seq", "aggregate": "rownum",
      |     "edges": [{"name": "day", "value": "ts",
      |                "domain": {"type": "time", "interval": "day"}},
      |               "event_type"],
      |     "sort": ["event_id"]}
      |  ],
      |  "select": ["event_id", "event_type", "value", "day_total", "day_seq"]
      |}""".stripMargin

  val q100 = Q(
    "q100_jx_window_domain",
    (s, d) => JxCompiler.query(s, d, q100Json),
    Some("""SELECT event_id, event_type, value,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4)))
           |    OVER (PARTITION BY date_trunc('day', ts), event_type)
           |    AS DOUBLE) AS day_total,
           |  CAST(ROW_NUMBER()
           |    OVER (PARTITION BY date_trunc('day', ts), event_type
           |          ORDER BY event_id) AS INT) AS day_seq
           |FROM events
           |WHERE event_type IN ('click', 'view', 'purchase')""".stripMargin),
    "jx window partitioned by a time-domain edge: whole-bucket sum + in-bucket rank")

  /** jx stats moments: sample variance/std per group. The compiler
    * derives both from exact decimal sums ((Σx² − Σx·Σx/n)/(n−1))
    * rather than Spark's var_samp, whose double accumulation is
    * partition-order-dependent — the oracle mirrors the same term
    * order so both engines compute bit-identical doubles.
    */
  val q101Json: String =
    """{
      |  "from": "lineitem",
      |  "where": {"lte": {"l_discount": 0.05}},
      |  "groupby": ["l_returnflag"],
      |  "select": [
      |    {"name": "n", "aggregate": "count"},
      |    {"name": "var_qty", "value": "l_quantity", "aggregate": "variance"},
      |    {"name": "std_price", "value": "l_extendedprice", "aggregate": "std"}
      |  ]
      |}""".stripMargin

  val q101 = Q(
    "q101_jx_stats",
    (s, d) => JxCompiler.query(s, d, q101Json),
    Some("""SELECT l_returnflag, COUNT(*) AS n,
           |  CAST(CAST(
           |  (CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           |   - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           |     * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           |     / COUNT(l_quantity))
           |  / (COUNT(l_quantity) - 1) AS DECIMAL(18,4)) AS DOUBLE) AS var_qty,
           |  CAST(CAST(sqrt(
           |    (CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           |     - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           |       * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           |       / COUNT(l_extendedprice))
           |    / (COUNT(l_extendedprice) - 1)) AS DECIMAL(18,4)) AS DOUBLE) AS std_price
           |FROM lineitem
           |WHERE l_discount <= 0.05
           |GROUP BY 1""".stripMargin),
    "jx stats aggregates: order-independent sample variance/std from decimal sums")

  /** jx query pipelining: `from` is ITSELF a query document — the
    * reference's HAVING idiom (pyLibrary filters on aggregates by
    * feeding an inner aggregation to an outer query; jx has no
    * `having` clause). The compiler recurses and Catalyst flattens
    * both levels into ONE plan — the outer `where` on an aggregate
    * output is a post-aggregation Filter, no materialization
    * boundary between the stages.
    */
  val q102Json: String =
    """{
      |  "from": {
      |    "from": "lineitem",
      |    "where": {"ne": {"l_returnflag": "N"}},
      |    "groupby": ["l_suppkey", "l_returnflag"],
      |    "select": [
      |      {"name": "n", "aggregate": "count"},
      |      {"name": "qty", "value": "l_quantity", "aggregate": "sum"}
      |    ]
      |  },
      |  "where": {"gte": {"qty": 400}},
      |  "select": ["l_suppkey", "l_returnflag", "n",
      |             {"name": "avg_qty", "value": {"div": ["qty", "n"]}}]
      |}""".stripMargin

  val q102 = Q(
    "q102_jx_pipeline",
    (s, d) => JxCompiler.query(s, d, q102Json),
    Some("""WITH inner_q AS (
           |  SELECT l_suppkey, l_returnflag, COUNT(*) AS n,
           |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
           |  FROM lineitem
           |  WHERE NOT COALESCE(l_returnflag = 'N', FALSE)
           |  GROUP BY 1, 2
           |)
           |SELECT l_suppkey, l_returnflag, n, qty / n AS avg_qty
           |FROM inner_q WHERE qty >= 400""".stripMargin),
    "jx query pipelining: outer filter/derive over an inner aggregation (the HAVING idiom)")

  /** jx window median: the EXACT per-partition median as a window
    * column (each event vs its user's typical value — the outlier
    * screen a dashboard paints per row). The compiler's rank-trick
    * formulation is mirrored term-for-term by the oracle (both
    * engines pick the same positional rows and compute one double
    * addition + division), so this is hash-exact where a
    * quantile_cont-vs-sketch comparison could never be.
    */
  val q106Json: String =
    """{
      |  "from": "events",
      |  "where": {"eq": {"event_type": "click"}},
      |  "window": [
      |    {"name": "user_median", "value": "value", "aggregate": "median",
      |     "edges": ["user_id"]}
      |  ],
      |  "select": ["event_id", "user_id", "value", "user_median"]
      |}""".stripMargin

  val q106 = Q(
    "q106_jx_window_median",
    (s, d) => JxCompiler.query(s, d, q106Json),
    Some("""WITH t AS (
           |  SELECT event_id, user_id, value,
           |    ROW_NUMBER() OVER
           |      (PARTITION BY user_id ORDER BY value ASC NULLS LAST) AS rn,
           |    (COUNT(value) OVER (PARTITION BY user_id) + 1) // 2 AS lo,
           |    (COUNT(value) OVER (PARTITION BY user_id) + 2) // 2 AS hi
           |  FROM events WHERE event_type = 'click')
           |SELECT event_id, user_id, value,
           |  (MAX(CASE WHEN rn = lo THEN value END) OVER (PARTITION BY user_id)
           |   + MAX(CASE WHEN rn = hi THEN value END) OVER (PARTITION BY user_id))
           |  / 2.0 AS user_median
           |FROM t""".stripMargin),
    "jx window median: exact partition median via the two-window rank trick")

  /** jx `format: "nested"` (q121): dotted select names re-assembled
    * into nested documents at the result boundary — pyLibrary returns
    * re-nested documents to its consumers; the engine computes flat
    * (dot-named) and re-nests as a FORMAT, a pure struct-assembly
    * projection (no shuffle, no transport-row collapse — scale-free).
    * The gate row serializes the struct to JSON so the driver's
    * pandas comparator sees a scalar cell (the q57/q92 precedent);
    * the DuckDB oracle assembles the same document with struct_pack.
    */
  val q121Json: String =
    """{
      |  "from": "orders",
      |  "where": {"lt": {"o_orderkey": 1000}},
      |  "select": [
      |    {"name": "key", "value": "o_orderkey"},
      |    {"name": "cust.id", "value": "o_custkey"},
      |    {"name": "cust.status", "value": "o_orderstatus"},
      |    {"name": "cust.order.priority", "value": "o_orderpriority"}
      |  ],
      |  "format": "nested"
      |}""".stripMargin

  val q121 = Q(
    "q121_jx_format_nested",
    (s, d) => {
      import org.apache.spark.sql.functions._
      JxCompiler.query(s, d, q121Json)
        .select(col("key"), to_json(col("cust")).as("cust_json"))
    },
    Some("""SELECT o_orderkey AS key,
           |  to_json(struct_pack(id := o_custkey, status := o_orderstatus,
           |    "order" := struct_pack(priority := o_orderpriority))) AS cust_json
           |FROM orders WHERE o_orderkey < 1000""".stripMargin),
    "jx format nested: dotted select names re-assembled into documents, struct JSON vs struct_pack oracle")

  /** jx `select: "leaves"` (q127): pyLibrary's deep select — every
    * leaf of the document, struct columns recursively expanded to
    * dot-named leaf fields. Exercised as the INVERSE of q121's
    * `format: "nested"` through the pipelined-from path: the inner
    * query re-nests dotted names into documents, the outer filters on
    * a top-level field and re-flattens with `leaves` — so the gate
    * pins the leaves ∘ nested round-trip against the flat oracle.
    */
  val q127Json: String =
    """{
      |  "from": {
      |    "from": "orders",
      |    "where": {"lt": {"o_orderkey": 1000}},
      |    "select": [
      |      {"name": "key", "value": "o_orderkey"},
      |      {"name": "cust.id", "value": "o_custkey"},
      |      {"name": "cust.status", "value": "o_orderstatus"},
      |      {"name": "cust.order.priority", "value": "o_orderpriority"}
      |    ],
      |    "format": "nested"
      |  },
      |  "where": {"lt": {"key": 500}},
      |  "select": "leaves"
      |}""".stripMargin

  val q127 = Q(
    "q127_jx_leaves",
    (s, d) => JxCompiler.query(s, d, q127Json),
    Some("""SELECT o_orderkey AS key,
           |  o_custkey AS "cust.id",
           |  o_orderstatus AS "cust.status",
           |  o_orderpriority AS "cust.order.priority"
           |FROM orders WHERE o_orderkey < 1000 AND o_orderkey < 500""".stripMargin),
    "jx select leaves: deep leaf expansion as the inverse of format nested, pipelined")

  val all: Seq[Q] =
    Seq(q26, q27, q28, q45, q56, q57, q64, q70, q77, q93, q94, q95, q96, q97,
      q99, q100, q101, q102, q106, q121, q127)
}
