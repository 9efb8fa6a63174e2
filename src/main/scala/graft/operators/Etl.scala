package graft.operators

import graft.{Q, QueryPack, Tables}
import graft.util._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ETL mechanics — the reference's extract/push pipeline re-expressed
  * on Spark (MoDevETL `extract.py`: pull only records modified since
  * the last run's watermark; `push_to_es.py`: batch upsert with
  * latest-revision-wins dedup), plus the event-stream derivations
  * (sessionize, funnel) the same pipeline feeds.
  *
  * Scale notes: the watermark is a 1-row broadcast (never a driver
  * collect); upsert-latest is a single window shuffle on the key —
  * at 100 TB partition the sink by key-hash so the window shuffle is
  * the only wide stage. Gap arithmetic is done in exact epoch
  * microseconds (unix_micros), never double seconds.
  */
object Etl extends QueryPack {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) = Tables.events(s, d)

  val q22 = Q(
    "q22_incr_extract",
    (s, d) => {
      val e = ev(s, d)
      // High-watermark incremental extract: everything in the last 2
      // days before the source's max timestamp. The bookmark is an
      // aggregate broadcast against the scan — one pass, no collect.
      val wm = e.agg(max(col("ts")).as("wm"))
      e.crossJoin(broadcast(wm))
        .where(col("ts") > col("wm") - expr("INTERVAL 2 DAYS"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    },
    Some("""SELECT event_id, ts, user_id, event_type, value
           |FROM events
           |WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 2 DAY""".stripMargin),
    "watermark incremental extract (reference extract.py modified-since)")

  val q23 = Q(
    "q23_upsert_latest",
    (s, d) => {
      // Latest-revision-wins upsert keyed by user_id: ts desc, then
      // event_id desc as the deterministic revision tie-break.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(
          col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("event_type").as("last_type"),
          col("value").as("last_value"))
    },
    Some("""SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           |  event_type AS last_type, value AS last_value
           |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
           |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
           |WHERE rn = 1""".stripMargin),
    "keyed upsert, latest-revision-wins (reference push_to_es.py dedup)")

  val q24 = Q(
    "q24_sessionize",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gapUs = 30L * 60 * 1000000 // 30 min in µs, exact integer math
      val flagged = ev(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"),
          max(col("ts")).as("sess_end"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
          dsum(col("value")).as("total_value"))
    },
    Some("""WITH flagged AS (
           |  SELECT *, CASE WHEN prev_us IS NULL
           |                   OR epoch_us(ts) - prev_us > 1800000000
           |            THEN 1 ELSE 0 END AS new_sess
           |  FROM (SELECT *, LAG(epoch_us(ts), 1) OVER
           |          (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           |        FROM events)
           |), sess AS (
           |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           |  FROM flagged)
           |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           |  MIN(ts) AS sess_start, MAX(ts) AS sess_end,
           |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM sess GROUP BY user_id, session_id""".stripMargin),
    "gap-based sessionization (30-min inactivity) via lag + running sum")

  val q25 = Q(
    "q25_funnel",
    (s, d) => {
      val e = ev(s, d)
      // Ordered funnel view→click→purchase: each stage's first hit must
      // be strictly after the previous stage's. Stage tables shrink at
      // every step, so the later joins broadcast at any scale.
      val tv = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val tc = e.where(col("event_type") === "click")
        .join(tv, "user_id").where(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val tp = e.where(col("event_type") === "purchase")
        .join(tc, "user_id").where(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      e.select(col("user_id")).distinct()
        .join(tv, Seq("user_id"), "left")
        .join(tc.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
        .join(tp, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"))
    },
    Some("""WITH tv AS (
           |  SELECT user_id, MIN(ts) AS t_view FROM events
           |  WHERE event_type = 'view' GROUP BY user_id
           |), tc AS (
           |  SELECT e.user_id, MIN(e.ts) AS t_click
           |  FROM events e JOIN tv ON e.user_id = tv.user_id
           |  WHERE e.event_type = 'click' AND e.ts > tv.t_view
           |  GROUP BY e.user_id
           |), tp AS (
           |  SELECT e.user_id, MIN(e.ts) AS t_purchase
           |  FROM events e JOIN tc ON e.user_id = tc.user_id
           |  WHERE e.event_type = 'purchase' AND e.ts > tc.t_click
           |  GROUP BY e.user_id
           |)
           |SELECT u.user_id, tv.t_view, tc.t_click, tp.t_purchase
           |FROM (SELECT DISTINCT user_id FROM events) u
           |LEFT JOIN tv ON u.user_id = tv.user_id
           |LEFT JOIN tc ON u.user_id = tc.user_id
           |LEFT JOIN tp ON u.user_id = tp.user_id""".stripMargin),
    "ordered multi-stage funnel (view→click→purchase) via staged min-aggregation")

  val q44 = Q(
    "q44_json_props",
    (s, d) =>
      // Semi-structured extraction — the reference's records are ES
      // JSON documents and jx reads nested fields as dot-paths; here a
      // JSON string column is parsed ONCE per row into a typed struct
      // (from_json with an explicit schema — Jackson runs a single
      // pass, vs one parse per get_json_object path) in the scan
      // projection, then aggregated like any typed column. At 100 TB
      // prefer materializing the struct at ingest; this is the
      // read-side-extraction form of the same plan.
      ev(s, d)
        .select(
          col("event_type"),
          from_json(col("props"), "k INT", Map.empty[String, String])
            .getField("k").as("k"),
          col("value"))
        .where(col("k").isNotNull)
        // FLOOR division (not Spark's truncate-toward-zero `div`) so
        // negative k buckets identically to the oracle's `//`
        .withColumn("k_bucket", (floor(col("k") / 10.0) * 10).cast("int"))
        .groupBy(col("event_type"), col("k_bucket"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("value")).as("total_value"),
          max(col("k")).as("max_k")),
    Some("""SELECT event_type,
           |  CAST((CAST(json_extract_string(props, '$.k') AS INT) // 10) * 10 AS INT) AS k_bucket,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
           |FROM events
           |WHERE json_extract_string(props, '$.k') IS NOT NULL
           |GROUP BY 1, 2""".stripMargin),
    "JSON property extraction + bucketed aggregation (jx dot-path reads on ES docs)")

  /** As-of join, composed from existing operators rather than a custom
    * physical plan: tag both sides, union, and take the last
    * non-null right-side value over a (key, time)-ordered window.
    * One shuffle+sort total — no join, no per-row probe, no candidate
    * explosion — which is exactly the plan you want at 100 TB (an
    * actual join formulation degenerates to a range join). Right rows
    * sort before left rows at equal timestamps, so the match is
    * inclusive (right.ts <= left.ts), matching ASOF JOIN semantics.
    */
  def asofJoin(left: org.apache.spark.sql.DataFrame, right: org.apache.spark.sql.DataFrame,
      key: String, ts: String, rightCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val l = left.withColumn("__tag", lit(1))
    val r = right.withColumn("__tag", lit(0))
    val unioned = l.columns.filterNot(r.columns.contains)
      .foldLeft(r)((d, c) => d.withColumn(c, lit(null)))
      .unionByName(rightCols.foldLeft(l)((d, c) => d.withColumn(c, lit(null))))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rightCols.foldLeft(unioned)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
      .where(col("__tag") === 1)
      .drop("__tag")
  }

  val q50 = Q(
    "q50_asof_join",
    (s, d) => {
      val e = ev(s, d)
      // one view per (user, ts): max event_id wins, so the as-of match
      // at equal timestamps is deterministic on both engines
      val views = e.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("v_ts"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id"), col("view_id"), col("v_ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      asofJoin(
        purchases,
        views.withColumnRenamed("v_ts", "ts"),
        key = "user_id", ts = "ts", rightCols = Seq("view_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("view_id"))
    },
    Some("""WITH views AS (
           |  SELECT user_id, ts AS v_ts, MAX(event_id) AS view_id
           |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
           |), purchases AS (
           |  SELECT event_id, user_id, ts, value
           |  FROM events WHERE event_type = 'purchase'
           |)
           |SELECT p.event_id, p.user_id, p.ts, p.value, v.view_id
           |FROM purchases p
           |ASOF LEFT JOIN views v
           |  ON p.user_id = v.user_id AND v.v_ts <= p.ts""".stripMargin),
    "as-of join (latest prior view per purchase) via tagged union + window, one shuffle")

  /** Cohort retention: bucket every user by first-seen day, then for
    * each (cohort, day-offset) the fraction of the cohort active that
    * day — the canonical product-analytics matrix (MoDevETL's ETL
    * serves exactly this dashboard class over bug-event streams).
    * Day granularity matches the testdata's 30-day span; the bucket
    * unit is one `date_trunc` argument either way.
    *
    * Exactness: counts are integers; retention is ONE final division,
    * so the double matches the oracle bit-for-bit. The offset is a
    * day-difference of two day-truncated midnights — exact integer
    * arithmetic in both engines.
    *
    * Scale shape: the event stream collapses to DISTINCT (user, day)
    * BEFORE the cohort join (active-user-days ≪ events — the shuffle
    * carries the compressed domain); first-seen is a map-side-partial
    * min over the same user key; the per-cohort sizes are a
    * days-sized broadcast. No window, no self-join: two shuffles
    * (user-key aggregate, user-key join) plus one small aggregate —
    * the same plan at 100 TB, with AQE handling hot users.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("cohort"))
    val userDays = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val cohortSize = firstDay.groupBy(col("cohort")).agg(count(lit(1)).as("n_cohort"))
    userDays.join(firstDay, Seq("user_id"))
      // d = cohort + offset days by construction: distinct (user, d)
      // rows stay distinct per (user, offset), so a plain count below
      // counts users exactly once
      .select(col("cohort"),
        datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSize), Seq("cohort"))
      .withColumn("retention", col("n_active").cast("double") / col("n_cohort"))
  }

  val q109 = Q(
    "q109_cohort_retention",
    (s, d) => cohortRetention(ev(s, d)),
    Some("""WITH fw AS (
           |  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort
           |  FROM events GROUP BY 1
           |), ud AS (
           |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
           |  FROM events
           |), cs AS (
           |  SELECT cohort, COUNT(*) AS n_cohort FROM fw GROUP BY 1
           |), act AS (
           |  SELECT fw.cohort,
           |    date_diff('day', fw.cohort, ud.d) AS day_offset
           |  FROM ud JOIN fw USING (user_id)
           |)
           |SELECT act.cohort, act.day_offset, COUNT(*) AS n_active,
           |  cs.n_cohort, CAST(COUNT(*) AS DOUBLE) / cs.n_cohort AS retention
           |FROM act JOIN cs USING (cohort)
           |GROUP BY act.cohort, act.day_offset, cs.n_cohort""".stripMargin),
    "cohort retention matrix: first-seen-day cohorts x day offset, distinct-before-join, one final division")

  /** Daily KPI table with period-over-period deltas: per (day,
    * event_type) counts, the previous day's count via lag, the
    * day-over-day delta, and a trailing 7-day moving average — the
    * dashboard time-series every monitoring ETL materializes.
    *
    * Exactness: counts and deltas are integers (first row per type
    * has NULL prev/delta on both engines); the moving average is an
    * exact integer frame sum with ONE division by the frame row
    * count — bit-identical across engines.
    *
    * Scale shape: the heavy pass is the daily aggregate (map-side
    * partial, output is days × types — tiny); the lag/frame windows
    * run over that aggregate partitioned by event_type, so the
    * single-partition-window hazard never touches raw events. At
    * 100 TB the aggregate output is still only years-of-days × types.
    */
  def kpiDaily(events: DataFrame): DataFrame =
    kpiDecorate(dailyCounts(events))

  /** The stored base table of the daily KPI: per-(day, type) counts.
    * This is what a production pipeline PERSISTS — it is additive, so
    * a delta batch folds in at delta-cost ([[kpiIncrement]]) and the
    * lag/moving-average decoration ([[kpiDecorate]]) is a cheap view
    * over the tiny aggregate, recomputed per read.
    */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Fold a delta batch into a stored daily-counts table WITHOUT
    * touching history: aggregate the delta alone (the only fact
    * scan), then additively merge — days the delta does not touch
    * pass through as single rows in a days×types-sized aggregate.
    * Incremental ≡ full recompute because counts are associative;
    * EtlPipelineSpec pins it. The nightly-ETL counterpart of the
    * stored closure / signature / memorization stores.
    */
  def kpiIncrement(storedDaily: DataFrame, deltaEvents: DataFrame): DataFrame =
    storedDaily.unionByName(dailyCounts(deltaEvents))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"))

  /** Lag-1 delta + trailing 7-day moving average over the daily base
    * — windows partitioned by type over the compressed aggregate,
    * never raw events (see q112 scaladoc).
    */
  def kpiDecorate(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val f = w.rowsBetween(-6, 0)
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("delta", col("n") - col("prev_n"))
      .withColumn("ma7",
        sum(col("n")).over(f).cast("double") / count(col("n")).over(f))
  }

  val q112 = Q(
    "q112_kpi_daily",
    (s, d) => kpiDaily(ev(s, d)),
    Some("""WITH daily AS (
           |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           |    event_type, COUNT(*) AS n
           |  FROM events GROUP BY 1, 2
           |)
           |SELECT day, event_type, n,
           |  lag(n, 1) OVER w AS prev_n,
           |  n - lag(n, 1) OVER w AS delta,
           |  CAST(SUM(n) OVER f AS DOUBLE) / COUNT(n) OVER f AS ma7
           |FROM daily
           |WINDOW w AS (PARTITION BY event_type ORDER BY day),
           |  f AS (PARTITION BY event_type ORDER BY day
           |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),
    "daily KPI time-series: lag delta + trailing 7-day moving average over the compressed daily aggregate")

  /** Rolling 7-day distinct active users per observed day (q114):
    * DAU, trailing-window WAU and the DAU/WAU stickiness ratio — the
    * engagement KPI every product dashboard wants, and the classic
    * "windowed COUNT(DISTINCT)" problem no SQL window supports
    * directly (and no distributed engine should run as a per-day
    * re-scan).
    *
    * Scale shape — windowed-distinct via bounded expansion: reduce
    * the stream to distinct (day, user) pairs ONCE (shuffle keyed by
    * the well-distributed pair, map-side partial distinct), then
    * each pair contributes to exactly `windowDays` target days via
    * an in-partition explode (narrow, 7× the COMPRESSED pair count,
    * not 7× raw events), and the per-day distinct count is an
    * ordinary two-phase countDistinct whose first phase is again
    * keyed by (day, user). No day ever re-scans the fact table, no
    * window op touches raw rows, and the final frame is
    * days × 1 rows. Trailing windows at the range start are partial
    * (standard KPI convention); only days with any activity are
    * emitted (the day domain is observed, not generated).
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val pairs = reused(events
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct())
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val expanded = pairs.select(col("user_id"),
      explode(sequence(col("day"),
        col("day") + expr(s"INTERVAL ${windowDays - 1} DAY"),
        expr("INTERVAL 1 DAY"))).as("day"))
    val wau = expanded
      .join(broadcast(pairs.select(col("day")).distinct()), Seq("day"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau_7d"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness", col("dau").cast("double") / col("wau_7d"))
  }

  val q114 = Q(
    "q114_rolling_active",
    (s, d) => rollingActiveUsers(ev(s, d)),
    Some("""WITH pairs AS (
           |  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           |    user_id
           |  FROM events
           |), days AS (SELECT DISTINCT day FROM pairs),
           |dau AS (SELECT day, COUNT(*) AS dau FROM pairs GROUP BY 1),
           |wau AS (
           |  SELECT d.day, COUNT(DISTINCT p.user_id) AS wau_7d
           |  FROM days d JOIN pairs p
           |    ON p.day <= d.day AND p.day >= d.day - INTERVAL 6 DAY
           |  GROUP BY 1
           |)
           |SELECT day, dau, wau_7d,
           |  CAST(dau AS DOUBLE) / wau_7d AS stickiness
           |FROM dau JOIN wau USING (day)""".stripMargin),
    "rolling 7-day distinct users: windowed COUNT(DISTINCT) via bounded 7x pair expansion, never a per-day rescan")

  /** SCD2 history build (q115): turn the keyed revision stream into
    * slowly-changing-dimension type-2 validity intervals — each
    * revision carries [valid_from, valid_to) with the open current
    * row flagged. The warehouse-side complement of q23's
    * latest-revision-wins upsert: q23 keeps the head, this keeps the
    * full history queryable by as-of time (pair with q50's as-of
    * join to read it).
    *
    * Exactness: interval bounds are the revision timestamps
    * themselves (lead over (ts, event_id) — the same deterministic
    * revision order as q23); no arithmetic, no floats. Scale shape:
    * one window partitioned by the natural key — the revision stream
    * per key is dashboard-sized by construction, and the shuffle is
    * the same key-partitioning any downstream as-of read wants.
    */
  def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events.select(
        col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Incremental SCD2 maintenance — fold a delta batch of revision
    * events into a STORED q115 history at delta cost, the warehouse
    * mirror of [[kpiIncrement]] (additive KPI base) for the
    * non-additive validity-interval table.
    *
    * Window functions don't fold incrementally, but they localize: a
    * key's intervals depend only on that key's OWN revisions. So the
    * delta-cost patch is exact key surgery —
    *  1. touched keys = distinct user_id in the delta (delta-sized);
    *  2. replay those keys' stored history rows back into events
    *     (each history row carries its revision verbatim: event_id,
    *     event_type, valid_from = ts), union the delta, and drop
    *     redelivered revisions by (user_id, event_id);
    *  3. rebuild [[scd2History]] over ONLY the touched keys' streams;
    *  4. untouched keys' rows pass through via one left_anti probe.
    *
    * Out-of-order deltas (a revision older than the key's stored
    * head) are handled exactly — the rebuild re-sorts the key's full
    * stream, closing/reopening intervals as needed — and redelivery
    * is a no-op by the (user_id, event_id) dedup, so the result is
    * ALWAYS ≡ a full q115 recompute over (stored events ∪ delta):
    * EtlPipelineSpec pins it across multi-batch + redelivered input.
    *
    * Scale shape: the rebuild window shuffles only the touched keys'
    * rows (delta keys × their history depth); the pass-through is an
    * anti-join keyed on user_id against a broadcast-sized key set.
    * Rows whose interval actually changed are exactly the rebuilt
    * partition's diff — through the bucket-pruned upsert sink keyed
    * by (user_id, event_id), an append rewrites only touched buckets.
    */
  def scd2Append(storedHistory: DataFrame, deltaBatch: DataFrame): DataFrame = {
    val keys = deltaBatch.select(col("user_id")).distinct()
    val replayed = storedHistory
      .join(keys, Seq("user_id"), "left_semi")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from").as("ts"))
    val merged = replayed
      .unionByName(deltaBatch.select(col("user_id"), col("event_id"),
        col("event_type"), col("ts")))
      .dropDuplicates("user_id", "event_id")
    storedHistory
      .join(keys, Seq("user_id"), "left_anti")
      .unionByName(scd2History(merged))
  }

  val q115 = Q(
    "q115_scd2",
    (s, d) => scd2History(ev(s, d)),
    Some("""SELECT user_id, event_id, event_type,
           |  ts AS valid_from,
           |  LEAD(ts, 1) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id) AS valid_to,
           |  LEAD(ts, 1) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id) IS NULL AS is_current
           |FROM events""".stripMargin),
    "SCD2 validity intervals from the keyed revision stream: lead over the deterministic revision order, open current row flagged")

  /** Gate entry for the incremental path: build the stored history
    * from one third of the revision stream, fold the other two thirds
    * in as two successive [[scd2Append]] batches (split by event_id
    * mod 3 — deterministic, and deliberately NOT time-ordered, so the
    * appends exercise the out-of-order rebuild) — and hash-check
    * against q115's full-history oracle verbatim: incremental ≡ full
    * is the contract.
    */
  /** The q120 artifact, memoized like q98's incremental closure: it IS
    * the stored SCD2 history a warehouse holds after two nightly
    * appends (base from event_id%3==0, the other thirds folded in).
    */
  def storedIncrementalScd2(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.StoredArtifacts.getOrBuild("incr_scd2", s, d) {
      val events = ev(s, d)
      def part(r: Int) = events.where(col("event_id") % 3 === r)
      pin(scd2Append(scd2Append(scd2History(part(0)), part(1)), part(2)))._1
    }

  val q120 = Q(
    "q120_scd2_incr",
    (s, d) => storedIncrementalScd2(s, d),
    q115.oracle,
    "incremental SCD2: delta batches folded into a stored history ≡ full q115 recompute (q115 oracle)")

  /** The READ API the SCD2 history exists for: each key's state AS OF
    * an instant — the interval containing `ts` (valid_from <= ts <
    * valid_to, open current interval unbounded). One partition-pruned
    * filter over the history, no window, no join: at 100 TB the
    * history lives in the upsert sink bucketed by key, and a keyed
    * as-of lookup prunes to the probed keys' buckets; this full-scan
    * form is the audit/report shape ("everyone's state at
    * quarter-end"). Works identically over the maintained
    * ([[scd2Append]]) and the recomputed ([[scd2History]]) history —
    * the q120 contract makes them equal.
    */
  def scd2AsOf(history: DataFrame, ts: java.sql.Timestamp): DataFrame =
    history.where(col("valid_from") <= lit(ts) &&
      (col("valid_to").isNull || col("valid_to") > lit(ts)))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"), col("is_current"))

  /** Gate entry: every user's state as of the events table's midpoint
    * instant, read from the INCREMENTALLY-maintained history (q120's
    * artifact) — oracled by the window mirror evaluated at the same
    * fixed instant. The instant is data-relative (min + half the
    * span) so the query stays meaningful at every sf. Integer
    * MICROSECOND midpoint on both engines (the q24/q126 precedent) —
    * a second-truncated engine midpoint vs a fractional oracle epoch
    * can differ by one second once event timestamps carry sub-second
    * parts, shifting boundary rows.
    */
  val q124 = Q(
    "q124_scd2_asof",
    (s, d) => {
      val bounds = ev(s, d).agg(
        min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"))
      // floor integer µs midpoint — matches the oracle's epoch_us // 2
      val mid = timestamp_micros(((col("lo") + col("hi")) / 2).cast("long"))
      storedIncrementalScd2(s, d)
        .crossJoin(broadcast(bounds))
        .where(col("valid_from") <= mid &&
          (col("valid_to").isNull || col("valid_to") > mid))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("is_current"))
    },
    Some("""WITH h AS (
           |  SELECT user_id, event_id, event_type, ts AS valid_from,
           |    LEAD(ts, 1) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS valid_to,
           |    LEAD(ts, 1) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) IS NULL AS is_current
           |  FROM events
           |), b AS (
           |  SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2) AS mid
           |  FROM events
           |)
           |SELECT user_id, event_id, event_type, valid_from, is_current
           |FROM h CROSS JOIN b
           |WHERE valid_from <= mid AND (valid_to IS NULL OR valid_to > mid)""".stripMargin),
    "SCD2 as-of read: every key's interval containing the corpus-midpoint instant, over the incrementally-maintained history")

  /** State residency (q126) — the dashboard metric the reference's
    * consumers read off the maintained history (Bugzilla "time in
    * state"): for each state, how many CLOSED residency intervals
    * exist and how long they lasted. Open intervals (is_current) are
    * excluded — their residency is still accruing. All integer
    * MICROSECOND arithmetic (unix_micros diffs summed as longs — the
    * q24 precedent; whole-second epochs would truncate sub-second
    * residency differently than the oracle), one final double
    * division, over the INCREMENTALLY-maintained q120 artifact; one
    * aggregate, map-side partial.
    */
  def stateResidency(history: DataFrame): DataFrame =
    history
      .where(col("valid_to").isNotNull)
      .select(col("event_type"),
        (unix_micros(col("valid_to")) -
          unix_micros(col("valid_from"))).as("us"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("us")).as("total_us"),
        (sum(col("us")).cast("double") / count(lit(1))).as("avg_us"),
        max(col("us")).as("max_us"))

  val q126 = Q(
    "q126_state_residency",
    (s, d) => stateResidency(storedIncrementalScd2(s, d)),
    Some("""WITH h AS (
           |  SELECT user_id, event_type, ts AS valid_from,
           |    LEAD(ts, 1) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS valid_to
           |  FROM events
           |)
           |SELECT event_type,
           |  COUNT(*) AS n_intervals,
           |  CAST(SUM(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT) AS total_us,
           |  CAST(SUM(epoch_us(valid_to) - epoch_us(valid_from)) AS DOUBLE)
           |    / COUNT(*) AS avg_us,
           |  CAST(MAX(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT) AS max_us
           |FROM h WHERE valid_to IS NOT NULL
           |GROUP BY 1""".stripMargin),
    "state residency over the maintained SCD2 history: closed-interval count/total/avg/max microseconds per state")

  /** Keyed snapshot diff (q116): classify every key across two
    * adjacent 7-day activity windows as added / removed / changed /
    * unchanged — the CDC report between two incremental-extract
    * windows, and the oracle-able counterpart of the full-sync xor
    * fingerprint seam (ParquetUpsertSink.sync detects THAT a
    * keyed store drifted; this says WHICH keys and HOW).
    *
    * State per window = the key's latest event (q23's deterministic
    * (ts, event_id) revision order); the compared attribute is the
    * last event_type. Window bounds are data-relative (trailing 7
    * and 14 days from the corpus max ts — a 1-row broadcast, never a
    * config literal that rots). Scale shape: two latest-per-key
    * window passes over the pruned 14-day slice, then one shuffle
    * full-outer join keyed by user_id; every column exact.
    */
  def snapshotDiff(events: DataFrame): DataFrame = {
    val mx = events.agg(max(col("ts")).as("_mx"))
    val sliced = events.crossJoin(broadcast(mx))
      .withColumn("_cut1", col("_mx") - expr("INTERVAL 7 DAY"))
      .withColumn("_cut0", col("_mx") - expr("INTERVAL 14 DAY"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    def latest(df: DataFrame) = df
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
    val a = latest(sliced.where(col("ts") >= col("_cut0") && col("ts") < col("_cut1")))
      .select(col("user_id"), col("event_id").as("old_event_id"),
        col("event_type").as("old_type"))
    val b = latest(sliced.where(col("ts") >= col("_cut1")))
      .select(col("user_id"), col("event_id").as("new_event_id"),
        col("event_type").as("new_type"))
    a.join(b, Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("old_event_id").isNull, lit("added"))
          .when(col("new_event_id").isNull, lit("removed"))
          .when(col("old_type") =!= col("new_type"), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  val q116 = Q(
    "q116_snapshot_diff",
    (s, d) => snapshotDiff(ev(s, d)),
    Some("""WITH mx AS (SELECT MAX(ts) AS m FROM events),
           |a AS (
           |  SELECT user_id, event_id AS old_event_id,
           |    event_type AS old_type
           |  FROM (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
           |          ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events e, mx
           |        WHERE ts >= m - INTERVAL 14 DAY
           |          AND ts < m - INTERVAL 7 DAY)
           |  WHERE rn = 1
           |), b AS (
           |  SELECT user_id, event_id AS new_event_id,
           |    event_type AS new_type
           |  FROM (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
           |          ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events e, mx
           |        WHERE ts >= m - INTERVAL 7 DAY)
           |  WHERE rn = 1
           |)
           |SELECT user_id, old_event_id, old_type, new_event_id, new_type,
           |  CASE WHEN old_event_id IS NULL THEN 'added'
           |       WHEN new_event_id IS NULL THEN 'removed'
           |       WHEN old_type <> new_type THEN 'changed'
           |       ELSE 'unchanged' END AS status
           |FROM a FULL OUTER JOIN b USING (user_id)""".stripMargin),
    "keyed snapshot diff across two extract windows: latest-per-key states, one full-outer join, added/removed/changed/unchanged")

  /** Batch interval join WITHOUT a nested-loop plan — the generic
    * "all facts inside each window" θ-join (here: everything shipped
    * during an order's first `windowDays` days, no key relating the
    * two sides). Spark's native plan for a pure range predicate is
    * BroadcastNestedLoopJoin — fine when one side broadcasts, fatal
    * when both sides are 100 TB facts. The scale rewrite: explode
    * each window into the epoch-day buckets it covers (bounded by
    * `windowDays`, so replication is a small constant), bucket each
    * fact row by its own day, equi-join on the bucket and re-check
    * the exact range as a residual. A fact day intersects a window
    * on exactly one bucket (its own), so the rewrite never duplicates
    * a pair — no post-join dedup. The shuffle is an ordinary
    * hash-partitioned equi-join on day; per-day skew is AQE's
    * problem, not a planner cliff.
    */
  def windowedShipStats(orders: DataFrame, lineitem: DataFrame,
      windowDays: Int): DataFrame = {
    val usPerDay = 86400000000L
    val o = orders.select(
      col("o_orderkey"),
      col("o_orderdate").as("w_start"),
      (col("o_orderdate") + expr(s"INTERVAL $windowDays DAYS")).as("w_end"))
    val buckets = o
      .withColumn("d0", floor(unix_micros(col("w_start")) / usPerDay))
      .withColumn("d1", floor((unix_micros(col("w_end")) - 1) / usPerDay))
      .withColumn("bucket", explode(sequence(col("d0"), col("d1"))))
      .drop("d0", "d1")
    // AGGREGATE BEFORE THE SHUFFLE (r19, guide §2.3): the join needs
    // each fact row only through (its day bucket, its exact timestamp)
    // — so collapse lineitem to per-(bucket, l_shipdate) partials
    // first. The residual range check is a function of l_shipdate
    // alone, so filtering partials ≡ filtering rows; the per-order
    // counts/sums then aggregate the partials. For date-grained facts
    // (ship dates) the exchange carries one partial per distinct day
    // (~2.4k rows at ANY scale) instead of every lineitem row — this
    // also dissolves the old shape's parallelism ceiling (the 2.4k-
    // distinct-day bucket key as a shuffle-join key, the r18 verdict
    // watch item): the only shuffle keyed by bucket now carries
    // partials, and AQE broadcast-joins them against the exploded
    // windows. Worst case (every fact timestamp distinct) degrades to
    // the old row-level join plus one map-side partial pass.
    val li = lineitem.select(
      col("l_shipdate"), col("l_extendedprice"),
      floor(unix_micros(col("l_shipdate")) / usPerDay).as("bucket"))
      .groupBy(col("bucket"), col("l_shipdate"))
      .agg(count(lit(1)).as("_n"), sum(col("l_extendedprice")).as("_s"))
    buckets.join(li, Seq("bucket"))
      .where(col("l_shipdate") >= col("w_start") &&
        col("l_shipdate") < col("w_end"))
      .groupBy(col("o_orderkey"))
      .agg(
        sum(col("_n")).as("n_shipped"),
        round(sum(col("_s")) * 100).cast("long").as("ship_cents"))
  }

  val q138 = Q(
    "q138_interval_events",
    // audit slice: every 97th order key — the oracle's naive θ-join
    // over the full frames would be quadratic in the dump; the
    // operator itself takes arbitrary frames. Orders whose window
    // catches nothing drop out (inner-join semantics, both engines).
    (s, d) => windowedShipStats(
      Tables.orders(s, d).where(col("o_orderkey") % 97 === 0),
      Tables.lineitem(s, d), windowDays = 7),
    Some("""SELECT o.o_orderkey, COUNT(*) AS n_shipped,
           |  CAST(ROUND(SUM(l.l_extendedprice) * 100) AS BIGINT) AS ship_cents
           |FROM orders o JOIN lineitem l
           |  ON l.l_shipdate >= o.o_orderdate
           | AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
           |WHERE o.o_orderkey % 97 = 0
           |GROUP BY 1""".stripMargin),
    "interval θ-join via day-bucket equi-rewrite: shipments inside each order's 7-day window, no nested loop")

  /** Calendar gap-fill + forward-fill — the time-series repair every
    * KPI consumer needs before charting or diffing daily series: give
    * every key a dense day spine over its own [first, last] active
    * span, then carry the last observed value through the gaps.
    *
    * The forward-fill is two keyed windows, no self-join and no UDF:
    * a running COUNT of non-null observations assigns every gap row
    * the group id of the last real observation, then MAX over
    * (key, group) broadcasts that observation's value to its gap rows
    * (each group has exactly one non-null). Both windows partition by
    * key — nothing ever sorts globally, and the spine explode is
    * linear in key-spans with `Generate` fan-out bounded by span
    * length. Cents stay integer end-to-end (the q90 contract).
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = graft.util.reused(events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")) * 100).cast("long").as("day_cents")))
    val spine = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("grp", count(col("day_cents")).over(w))
      .withColumn("filled_cents",
        max(col("day_cents")).over(Window.partitionBy(col("user_id"), col("grp"))))
      .withColumn("is_gap", col("day_cents").isNull)
      // day leaves as midnight TIMESTAMP, not DATE — the q112 dump
      // contract (date32 vs datetime dtypes diverge in the compare)
      .select(col("user_id"), col("day").cast("timestamp").as("day"),
        col("filled_cents"), col("is_gap"))
  }

  val q139 = Q(
    "q139_gapfill",
    (s, d) => gapFillDaily(Tables.events(s, d)),
    Some("""WITH daily AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day,
           |    CAST(ROUND(SUM(value) * 100) AS BIGINT) AS day_cents
           |  FROM events GROUP BY 1, 2
           |), span AS (
           |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
           |), spine AS (
           |  SELECT user_id, CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
           |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM span
           |), j AS (
           |  SELECT s.user_id, s.day, d.day_cents
           |  FROM spine s LEFT JOIN daily d USING (user_id, day)
           |), g AS (
           |  SELECT *, COUNT(day_cents) OVER (
           |    PARTITION BY user_id ORDER BY day) AS grp FROM j
           |)
           |SELECT user_id, CAST(day AS TIMESTAMP) AS day,
           |  MAX(day_cents) OVER (PARTITION BY user_id, grp) AS filled_cents,
           |  day_cents IS NULL AS is_gap
           |FROM g""".stripMargin),
    "per-key calendar gap-fill with forward-fill: dense day spine over each key's span, two keyed windows, no self-join")

  /** Interval-stabbing concurrency — "how many windows are open on
    * each day, and what do they hold" — WITHOUT joining facts to a
    * spine: each window becomes a +1 delta at its start day and a −1
    * delta at its end day (sweep-line), deltas aggregate to the DAY
    * grain map-side, and one running sum over that tiny grain
    * replays the step function. The raw fact table is touched exactly
    * once (both deltas explode locally from each row; the spine
    * bounds read the cached day-grain aggregate, not the facts); the
    * only ordered window runs over calendar days —
    * bounded by the span of time, not the volume of data, so the
    * single-partition sort is a few-thousand-row constant even at
    * 100 TB of facts (same grain argument as q112's daily KPI).
    * Money stays integer from the first projection: per-window cents
    * are rounded BEFORE any sum, so the running sum is exact long
    * arithmetic and the oracle's independent per-day re-aggregation
    * (a naive spine × facts range join) lands on identical integers.
    */
  def openWindowsPerDay(orders: DataFrame, windowDays: Int): DataFrame = {
    // both deltas emit from ONE pass over the facts via a local
    // explode (the containmentPairs trick — a union of two
    // projections would scan the fact table twice per action), and
    // the spine bounds derive from the reused day-grain aggregate
    // (start days flagged there), so the facts really are touched
    // exactly once
    val deltas = graft.util.reused(orders
      .select(
        to_date(col("o_orderdate")).as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(explode(array(
        struct(col("d").as("day"), lit(1L).as("dn"),
          col("cents").as("dc"), lit(1).as("st")),
        struct(date_add(col("d"), windowDays).as("day"), lit(-1L).as("dn"),
          (-col("cents")).as("dc"), lit(0).as("st")))).as("e"))
      .select(col("e.day").as("day"), col("e.dn").as("dn"),
        col("e.dc").as("dc"), col("e.st").as("st"))
      .groupBy(col("day"))
      .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"),
        max(col("st")).as("has_start")))
    val spine = deltas
      .agg(min(when(col("has_start") === 1, col("day"))).as("lo"),
        date_add(max(when(col("has_start") === 1, col("day"))), windowDays - 1).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(deltas, Seq("day"), "left")
      .select(col("day").cast("timestamp").as("day"),
        sum(coalesce(col("dn"), lit(0L))).over(w).as("open_orders"),
        sum(coalesce(col("dc"), lit(0L))).over(w).as("open_cents"))
  }

  val q140 = Q(
    "q140_concurrency",
    (s, d) => openWindowsPerDay(Tables.orders(s, d), windowDays = 7),
    // independent formulation: naive day-spine × orders range join —
    // the oracle re-derives every day's census from scratch, it never
    // sees the sweep-line
    Some("""WITH d0 AS (
           |  SELECT CAST(o_orderdate AS DATE) AS d,
           |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM orders
           |), bounds AS (SELECT MIN(d) AS lo, MAX(d) + 6 AS hi FROM d0),
           |spine AS (
           |  SELECT CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
           |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM bounds
           |)
           |SELECT CAST(s.day AS TIMESTAMP) AS day,
           |  COUNT(o.d) AS open_orders,
           |  CAST(COALESCE(SUM(o.cents), 0) AS BIGINT) AS open_cents
           |FROM spine s LEFT JOIN d0 o ON o.d <= s.day AND s.day < o.d + 7
           |GROUP BY 1""".stripMargin),
    "sweep-line interval concurrency: open 7-day windows per day via +1/−1 deltas + one day-grain running sum")

  /** First-order transition matrix over each key's time-ordered event
    * stream — the user-journey Markov table (which step follows
    * which, and how often). One keyed lag window pairs each event
    * with its successor, then two map-side-combinable aggregates:
    * pair counts and per-source totals, joined back broadcast (the
    * matrix is |event_type|² — model-sized). Probabilities are
    * emitted in integer 1e-6 units from one division of exact longs,
    * so the hash compare is never at the mercy of float formatting.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // reused: the matrix aggregate feeds both the totals and the
    // probe side — without it the window+aggregate subtree plans
    // twice per action (ReuseExchange only dedupes the map side)
    val pairs = graft.util.reused(events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n")))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n") * lit(1000000L) / col("tot")).cast("long").as("p_e6"))
  }

  val q141 = Q(
    "q141_transitions",
    (s, d) => transitionMatrix(Tables.events(s, d)),
    Some("""WITH seq AS (
           |  SELECT event_type,
           |    LEAD(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS next_type
           |  FROM events
           |), pairs AS (
           |  SELECT event_type AS prev_type, next_type, COUNT(*) AS n
           |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
           |), tot AS (SELECT prev_type, SUM(n) AS tot FROM pairs GROUP BY 1)
           |SELECT p.prev_type, p.next_type, p.n,
           |  CAST(ROUND(p.n * 1000000 / t.tot) AS BIGINT) AS p_e6
           |FROM pairs p JOIN tot t USING (prev_type)""".stripMargin),
    "per-key Markov transition matrix: one keyed lead window, pair counts + broadcast totals, integer 1e-6 probabilities")

  /** Daily-count anomaly flags — the monitoring consumer's "which
    * days were weird" view: per-series z-scores of daily counts
    * against that series' own mean/std. The moments come from EXACT
    * integer sums (k, Σn, Σn²) — never from a streaming variance
    * aggregate, whose accumulation order differs between engines —
    * so mean, variance and z replay as the identical IEEE expression
    * in both the builder and the oracle, and z ships as integer 1e-6
    * units. Two map-side-combinable aggregates (facts → day grain,
    * day grain → per-series moments) and one broadcast join back;
    * series with fewer than 2 observed days OR constant counts are
    * excluded in both engines (variance undefined or exactly 0 —
    * z would be NaN, which the two engines cast differently). Σn²
    * stays in long range up to ~3 G rows/day/series; beyond that,
    * move the moments to decimal(38,0).
    */
  def dailyAnomalies(events: DataFrame, zThresholdE6: Long = 3000000L): DataFrame = {
    val daily = graft.util.reused(events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))
    val mom = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
      // k ≥ 2 AND variance > 0, the latter as the EXACT integer
      // predicate k·Σn² > (Σn)² — a constant-count series has
      // variance exactly 0 and z = 0/0 = NaN, which Spark's
      // cast-to-long silently maps to 0 while DuckDB refuses to cast:
      // both degenerate cases leave the result in both engines here
      .where(col("k") >= 2 &&
        col("k") * col("s2") > col("s1") * col("s1"))
    val mean = col("s1").cast("double") / col("k")
    val variance = (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("k")) /
      (col("k") - 1)
    daily.join(broadcast(mom), Seq("event_type"))
      .withColumn("z_e6",
        round((col("n") - mean) / sqrt(variance) * 1e6).cast("long"))
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("n"), col("z_e6"),
        (abs(col("z_e6")) >= lit(zThresholdE6)).as("is_anomaly"))
  }

  val q142 = Q(
    "q142_anomaly",
    (s, d) => dailyAnomalies(Tables.events(s, d)),
    Some("""WITH daily AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
           |  FROM events GROUP BY 1, 2
           |), mom AS (
           |  SELECT event_type, COUNT(*) AS k,
           |    CAST(SUM(n) AS BIGINT) AS s1,
           |    CAST(SUM(n * n) AS BIGINT) AS s2
           |  FROM daily GROUP BY 1
           |  HAVING COUNT(*) >= 2
           |     AND COUNT(*) * SUM(n * n) > SUM(n) * SUM(n)
           |)
           |SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day, d.n,
           |  CAST(ROUND((d.n - CAST(m.s1 AS DOUBLE) / m.k)
           |    / sqrt((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1 / m.k)
           |           / (m.k - 1)) * 1000000) AS BIGINT) AS z_e6,
           |  ABS(CAST(ROUND((d.n - CAST(m.s1 AS DOUBLE) / m.k)
           |    / sqrt((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1 / m.k)
           |           / (m.k - 1)) * 1000000) AS BIGINT)) >= 3000000 AS is_anomaly
           |FROM daily d JOIN mom m USING (event_type)""".stripMargin),
    "per-series daily-count z-scores from exact integer moments: two map-side aggregates + one broadcast join, integer 1e-6 z units")

  /** Forward as-of with tolerance — the training-label attachment
    * op: for each `fromType` event, the FIRST `matchType` event by
    * the same key at-or-after it and inside the tolerance window
    * ("did a purchase follow this view within 6 h"). q50's as-of
    * looks backward (latest prior); labels look forward — and the
    * same one-shuffle discipline holds: no join, one keyed window.
    * The frame runs BACKWARD — rows sort (ts DESC, matches-first at
    * equal ts) and a running min-struct over unboundedPreceding
    * carries the earliest following match: Spark computes a running
    * ROWS frame incrementally (O(k) per key), where the naive
    * forward rangeBetween(0, unboundedFollowing) frame re-scans the
    * partition tail per row — O(k²), a straggler on any hot key.
    * The matches-first tie rank makes a match at the exact same
    * timestamp visible regardless of id order (the oracle's
    * predicate is on ts alone); (ts, id) lexicographic min ≡
    * ORDER BY ts, id LIMIT 1. Tolerance filters AFTER the min: the
    * earliest match inside the window is the overall earliest iff
    * any is inside — later ones are farther. NULL keys are dropped
    * up front (the oracle's equi-join never matches NULL; a window
    * partition would). Gap stays exact integer micros.
    */
  def forwardAsof(events: DataFrame, fromType: String, matchType: String,
      toleranceUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("tierank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .where(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("tierank", when(col("event_type") === matchType, 0).otherwise(1))
      .withColumn("nxt", min(when(col("event_type") === matchType,
        struct(col("ts_us"), col("event_id")))).over(w))
      .where(col("event_type") === fromType && col("nxt").isNotNull &&
        col("nxt.ts_us") - col("ts_us") < toleranceUs)
      .select(col("event_id").as("from_id"),
        col("nxt.event_id").as("match_id"),
        (col("nxt.ts_us") - col("ts_us")).as("gap_us"))
  }

  val q145 = Q(
    "q145_label_attach",
    (s, d) => forwardAsof(Tables.events(s, d), "view", "purchase",
      toleranceUs = 6L * 3600 * 1000000)
      .select(col("from_id").as("view_id"), col("match_id").as("purchase_id"),
        col("gap_us")),
    // independent formulation: the naive keyed range join + rank-1
    Some("""WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
           |p AS (SELECT * FROM events WHERE event_type = 'purchase'),
           |j AS (
           |  SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           |    epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
           |    ROW_NUMBER() OVER (PARTITION BY v.event_id
           |      ORDER BY p.ts, p.event_id) AS rn
           |  FROM v JOIN p ON p.user_id = v.user_id
           |    AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 6 HOUR)
           |SELECT view_id, purchase_id, gap_us FROM j WHERE rn = 1""".stripMargin),
    "forward as-of label attachment: first purchase within 6h after each view, one keyed window, no join")

  val all: Seq[Q] = Seq(q22, q23, q24, q25, q44, q50, q109, q112, q114,
    q115, q116, q120, q124, q126, q138, q139, q140, q141, q142, q145)
}
