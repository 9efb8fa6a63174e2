package graft.streaming

import graft.{Q, QueryPack, Tables}
import graft.operators.{Cluster, Dedup, Dsir, Etl, Text}
import graft.sources.ParquetUpsertSink
import graft.util.{dsum, perBatch, pin, requireNoScratchRev}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** One event entering the streaming sessionizer. `ts` is the
  * watermarked event-time column (it must survive into the Dataset for
  * the event-time timeout to bind); `ts_us` is the same instant as
  * exact epoch micros for gap arithmetic.
  */
case class SessionEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, ts_us: Long, value: Double)

/** Open-session state kept per user between micro-batches. */
case class OpenSession(start_us: Long, last_us: Long, n: Long, total: Double)

/** A closed session emitted downstream. */
case class SessionOut(user_id: Long, sess_start_us: Long, sess_end_us: Long,
    n_events: Long, duration_us: Long, total_value: Double)

/** Typed event for the transition stream (q141's streaming twin). */
case class TransEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, ts_us: Long, event_type: String)

/** Per-user transition state: the last EMITTED event (the chain
  * link) plus the events still inside the watermark horizon, held
  * back until no earlier event can legally arrive.
  */
case class LastEvent(ts_us: Long, event_id: Long, event_type: String)
case class TransState(last: Option[LastEvent], buffer: Seq[LastEvent])

/** One observed transition, emitted as soon as the successor lands. */
case class TransPair(user_id: Long, prev_type: String, next_type: String,
    ts_us: Long)

/** Typed event for the streaming anomaly monitor — a counter needs
  * only (series, event time); no id rides the shuffle.
  */
case class AnomEvent(event_type: String, ts: java.sql.Timestamp,
    ts_us: Long)

/** Per-series monitor state: exact integer moments over CLOSED days
  * (q142's k/Σn/Σn² discipline — mergeable, order-free, tiny), the
  * open per-day counts still inside the watermark horizon, and the
  * closed frontier (epoch day, exclusive) that makes late-beyond-
  * watermark drops explicit.
  */
case class AnomState(k: Long, s1: Long, s2: Long,
    openDays: Map[Long, Long], closedThrough: Long)

/** A closed day's verdict: its count and the z-score against the
  * moments of all PRIOR closed days (expanding history — the monitor
  * never scores a day against data that hadn't happened yet).
  * `z_e6` is None until the history has ≥2 days with variance > 0.
  */
case class AnomOut(event_type: String, day: Long, n: Long,
    z_e6: Option[Long], is_anomaly: Boolean)

/** Structured Streaming operators. The transformation is defined ONCE
  * over an unbound DataFrame and applied identically to batch and
  * stream inputs — the Spark idiom that makes a batch oracle a valid
  * check of streaming logic (q42's DuckDB oracle verifies the batch
  * application; StreamingSpec verifies the stream application agrees
  * with batch on the same files).
  *
  * Sinks: every operator here that writes a store is
  * [[graft.util.perBatch]] over its batch twin — one micro-batch is
  * one run of the batch function, and where the twin needs a version
  * it is the checkpoint's stable `batchId` — so stream ≡ batch holds
  * at that one site. The four scoring gates share one
  * [[admissionGate]] (pin, skip-if-empty, `_rev = 0` keyed upsert on
  * `doc_id`) and supply only their scoring.
  *
  * State store at deployment scale: set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * — the default HDFS-backed provider keeps every state key in
  * executor HEAP, which caps dedup/session state at what the JVM can
  * hold; RocksDB keeps state on local SSD with incremental
  * checkpointing, the right default once keys run to the billions
  * (exact streaming dedup over a 100 TB corpus). Every stateful
  * operator here is provider-agnostic; StreamingSpec re-runs the
  * three state shapes (windowed agg, dropDuplicates,
  * flatMapGroupsWithState) under RocksDB and pins batch-equivalence.
  */
object StreamOps extends QueryPack {

  /** Hour-windowed counts + value totals per event type. On a real
    * stream pair with `withWatermark` (see [[streamingWindowedCounts]])
    * so state for closed windows is dropped instead of growing forever.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(
        col("w.start").as("win_start"), col("w.end").as("win_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming variant: 1-hour watermark bounds state. */
  def streamingWindowedCounts(events: DataFrame): DataFrame =
    windowedCounts(events.withWatermark("ts", "1 hour"))

  /** Streaming twin of [[graft.operators.Text.sourceVocabSketches]]:
    * per-source theta sketches maintained ON the document stream —
    * literally the same declarative plan (the batch function applies
    * unchanged to a streaming DataFrame; this wrapper exists to pin
    * the contract). State is ONE lgK-sized theta sketch per source
    * (Spark's `theta_sketch_agg`; kilobytes; sources are a mixture's
    * tens, not millions), no watermark needed: theta union is order-
    * and duplicate-insensitive so late or redelivered documents fold
    * in exactly. Run in
    * complete/update output mode; downstream set-ops
    * (thetaIntersect / vocabOverlapSketch machinery) consume each
    * emitted snapshot as the batch artifact.
    */
  def streamingVocabSketches(docs: DataFrame, lgK: Int = 14): DataFrame =
    graft.operators.Text.sourceVocabSketches(docs, lgK)

  /** File-source stream of the events table (schema must be supplied
    * for streaming reads; ts normalized exactly like the batch loader).
    */
  def readEventStream(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val raw = spark.readStream.schema(schema).parquet(dir)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // generator parquet carries isAdjustedToUTC=false timestamps;
        // watermarks demand session-zoned TimestampType (session tz is
        // pinned UTC, so the cast is value-identical — same seam as
        // Tables.normalizeNtz on the batch side)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Streaming gap-based sessionization — the stateful-stream form of
    * the batch q24 operator, via flatMapGroupsWithState (Spark's
    * custom-state primitive; gap sessions cannot be expressed as a
    * fixed window aggregate).
    *
    * Semantics match q24: a session closes when the next event for the
    * user is > `gapMinutes` after the previous one. Closed sessions
    * emit immediately (Append mode); the open tail session per user
    * stays in state and is flushed by an EVENT-TIME timeout once the
    * watermark passes last_event + gap, so idle users' state is
    * dropped, not accumulated — the property that bounds state size on
    * an unbounded stream. Events inside a micro-batch are sorted by
    * (ts, event_id) per user (deterministic tie-break, same as q24's
    * window order); cross-batch disorder beyond the watermark delay is
    * the stream's correctness contract, as for any event-time op.
    */
  def streamingSessionize(events: DataFrame, gapMinutes: Int = 30,
      watermarkDelay: String = "30 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def close(u: Long, s: OpenSession): SessionOut =
      SessionOut(u, s.start_us, s.last_us, s.n, s.last_us - s.start_us, s.total)

    def onGroup(user: Long, it: Iterator[SessionEvent],
        state: GroupState[OpenSession]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val out = close(user, state.get)
        state.remove()
        Iterator.single(out)
      } else {
        val evs = it.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
        val closed = Seq.newBuilder[SessionOut]
        var cur = state.getOption
        evs.foreach { e =>
          cur match {
            case Some(s) if e.ts_us - s.last_us > gapUs =>
              closed += close(user, s)
              cur = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
            case Some(s) =>
              cur = Some(OpenSession(s.start_us, e.ts_us, s.n + 1, s.total + e.value))
            case None =>
              cur = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // flush the open tail once the watermark passes its gap window
          state.setTimeoutTimestamp(s.last_us / 1000 + gapMinutes * 60L * 1000)
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onGroup)
  }

  /** Streaming successor pairing — q141's transition stream at
    * ingest; the live transition matrix is an ordinary downstream
    * aggregation of the emitted edges. Arriving events are BUFFERED
    * in state until the watermark passes them — emitting on arrival
    * would let cross-micro-batch disorder WITHIN the watermark delay
    * produce reversed edges the batch lead-window never yields —
    * then released in (ts_us, event_id) order, each pairing with the
    * chain link (the last released event). Per user the state is the
    * link plus only the events inside the watermark horizon, and an
    * event-time timeout drops users idle longer than `idleTimeout`
    * past the watermark — state stays bounded by the ACTIVE
    * population; a chain broken by the idle drop restarts fresh
    * (sessionize's gap contract). Events later than the already-
    * released frontier are dropped — the explicit watermark
    * contract, same as [[streamingAnomaly]]'s closed days.
    */
  def streamingTransitions(events: DataFrame,
      watermarkDelay: String = "1 hour",
      idleTimeoutMinutes: Long = 240): Dataset[TransPair] = {
    val spark = events.sparkSession
    import spark.implicits._

    def onGroup(user: Long, it: Iterator[TransEvent],
        state: GroupState[TransState]): Iterator[TransPair] = {
      var s = state.getOption.getOrElse(TransState(None, Nil))
      if (!state.hasTimedOut) {
        val fresh = it
          .map(e => LastEvent(e.ts_us, e.event_id, e.event_type))
          .filter(e => s.last.forall(f =>
            e.ts_us > f.ts_us || (e.ts_us == f.ts_us && e.event_id > f.event_id)))
        s = s.copy(buffer = s.buffer ++ fresh)
      }
      val wmMs = state.getCurrentWatermarkMs()
      val (ripe, hold) = s.buffer.partition(_.ts_us / 1000 <= wmMs)
      val out = Seq.newBuilder[TransPair]
      var last = s.last
      ripe.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        last.foreach(l =>
          out += TransPair(user, l.event_type, e.event_type, e.ts_us))
        last = Some(e)
      }
      s = TransState(last, hold)
      // the IDLE timeout firing with nothing buffered and nothing to
      // release is the drop signal — without this branch an idle user
      // would re-arm against the advancing watermark forever
      if ((state.hasTimedOut && ripe.isEmpty && hold.isEmpty) ||
          (s.last.isEmpty && s.buffer.isEmpty)) state.remove()
      else {
        state.update(s)
        // wake when the earliest held event ripens, or (idle) when
        // the chain link ages out
        val next =
          if (s.buffer.nonEmpty) s.buffer.map(_.ts_us / 1000).min + 1
          else s.last.get.ts_us / 1000 + idleTimeoutMinutes * 60L * 1000
        state.setTimeoutTimestamp(math.max(next, wmMs + 1))
      }
      out.result().iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onGroup)
  }

  /** Fold a closed day into a series' moments, saturating at the
    * exactness bound: after the fold, Σn ≤ 3e9 keeps (Σn)² in Long
    * and Σn² ≤ Long.Max/k keeps k·Σn² in Long — the two products the
    * verdict computes. A fold that would break either freezes the
    * history (the frontier still advances, the day still emitted):
    * on a stream that never ends, verdicts keep scoring against the
    * long frozen baseline instead of degrading to wrapped-integer
    * NaN→0 nonsense.
    */
  private[graft] def foldDay(s: AnomState, day: Long, n: Long): AnomState = {
    val k2 = s.k + 1
    val s1b = s.s1 + n
    val nn = if (n <= 3037000499L) n * n else Long.MaxValue // 3037000499² is the last square in Long
    val canFold = s1b <= 3000000000L && nn != Long.MaxValue &&
      s.s2 <= (Long.MaxValue - nn) / k2
    if (canFold) AnomState(k2, s1b, s.s2 + nn, s.openDays - day, day + 1)
    else s.copy(openDays = s.openDays - day, closedThrough = day + 1)
  }

  /** Streaming daily-count anomaly monitor — q142 live, with the
    * semantics a monitor actually wants: each day scores against the
    * moments of the days BEFORE it (expanding history), never against
    * data that hadn't happened yet. One state row per series holds
    * q142's exact integer moments (k, Σn, Σn² — order-free to merge,
    * bytes to store) plus the open per-day counts inside the
    * watermark horizon; when the watermark passes a day's end the day
    * closes IN DAY ORDER: its verdict emits (Append), then its count
    * folds into the moments ([[foldDay]] — saturating, never
    * wrapping) and the frontier advances — events later than the
    * frontier are dropped, the explicit form of the watermark
    * contract. z replays q142's formula from the same integer
    * moments, so stream and batch agree bit-for-bit on the same
    * history; the z is None until ≥2 prior days with variance>0
    * (the NaN exclusion q142 applies). State is O(series ×
    * days-in-horizon) — bounded on an unbounded stream.
    */
  def streamingAnomaly(events: DataFrame,
      watermarkDelay: String = "1 hour",
      zThresholdE6: Long = 3000000L): Dataset[AnomOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val usPerDay = 86400000000L

    def verdict(etype: String, s: AnomState, day: Long, n: Long): AnomOut =
      if (s.k >= 2 && s.k * s.s2 > s.s1 * s.s1) {
        val mean = s.s1.toDouble / s.k
        val variance = (s.s2.toDouble - s.s1.toDouble * s.s1 / s.k) / (s.k - 1)
        val z = math.round((n - mean) / math.sqrt(variance) * 1e6)
        AnomOut(etype, day, n, Some(z), math.abs(z) >= zThresholdE6)
      } else AnomOut(etype, day, n, None, false)

    def onGroup(etype: String, it: Iterator[AnomEvent],
        state: GroupState[AnomState]): Iterator[AnomOut] = {
      var s = state.getOption.getOrElse(AnomState(0L, 0L, 0L, Map.empty, Long.MinValue))
      // fold new events into open days; drop anything at or before the
      // closed frontier (late beyond watermark — its day already
      // emitted). floorDiv, not /: truncation would bucket pre-epoch
      // timestamps into the wrong day (batch q142 uses to_date)
      if (!state.hasTimedOut) it.foreach { e =>
        val day = Math.floorDiv(e.ts_us, usPerDay)
        if (day >= s.closedThrough)
          s = s.copy(openDays = s.openDays.updated(day, s.openDays.getOrElse(day, 0L) + 1L))
      }
      // close every open day whose end the watermark has passed, in
      // day order: emit against the moments SO FAR, then fold
      val wmMs = state.getCurrentWatermarkMs()
      val out = Seq.newBuilder[AnomOut]
      s.openDays.keys.toSeq.sorted.foreach { day =>
        if ((day + 1) * (usPerDay / 1000) <= wmMs) {
          val n = s.openDays(day)
          out += verdict(etype, s, day, n)
          s = foldDay(s, day, n)
        }
      }
      state.update(s)
      // re-arm: wake when the earliest still-open day can close
      if (s.openDays.nonEmpty)
        state.setTimeoutTimestamp((s.openDays.keys.min + 1) * (usPerDay / 1000))
      out.result().iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .select(col("event_type"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .as[AnomEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onGroup)
  }

  /** Exactly-once ingest dedup: drops re-delivered events by id. State
    * holds only ids inside the watermark horizon (dropDuplicates
    * WITHIN watermark), so at-least-once sources (the reference's ES
    * scroll re-reads on restart) upgrade to exactly-once without
    * unbounded seen-set growth.
    */
  def streamingDedup(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming rolling `windowDays`-day distinct active users — the
    * live form of the batch q114 KPI, via SLIDING event-time windows:
    * each event lands in the `windowDays` windows covering it (the
    * streaming mirror of q114's bounded expansion), a stateful
    * distinct collapses (window, user) to one row, and a windowed
    * count emits when the watermark closes the window. TWO chained
    * stateful operators, both keyed by the event-time window, so
    * state for closed windows is EVICTED — the unbounded-stream
    * requirement — and redelivered events are absorbed by the
    * distinct, not double-counted.
    *
    * Output rows are CLOSED windows only (append mode): a day's WAU
    * emits once its trailing window passes the watermark — exactly a
    * dashboard's "finalized daily KPI" contract. `day` labels the
    * window's END day (the last day whose trailing window it is),
    * matching the batch q114 labeling; StreamingSpec pins streaming ≡
    * batch on every closed observed day.
    *
    * Domain note: the streaming output's day set is a SUPERSET of the
    * batch q114 domain. Batch emits observed-activity days only; the
    * stream emits a row for every closed window containing ANY event —
    * including label days with no activity of their own (days within
    * windowDays−1 after activity) — and omits the batch-only dau /
    * stickiness columns. Equivalence (spec-pinned) holds on the
    * intersection: wau on days both emit. Downstream consumers must
    * not assume identical row sets.
    */
  def streamingRollingActive(events: DataFrame, windowDays: Int = 7,
      delay: String = "1 hour"): DataFrame = {
    events.withWatermark("ts", delay)
      .select(window(col("ts"), s"$windowDays days", "1 day").as("w"),
        col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wau_7d"))
      .select((col("w").getField("start") +
        expr(s"INTERVAL ${windowDays - 1} DAY")).as("day"), col("wau_7d"))
  }

  val q42 = Q(
    "q42_stream_window",
    (s, d) => windowedCounts(Tables.events(s, d)),
    Some("""SELECT date_trunc('hour', ts) AS win_start,
           |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           |  event_type, COUNT(*) AS n_events,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM events GROUP BY 1, 2, 3""".stripMargin),
    "hour-windowed counts w/ watermark (batch-equivalent of the stream)")

  /** Stream-stream interval join: each purchase joins the same user's
    * views from the preceding hour. Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can
    * discard buffered rows once the watermark passes — state stays
    * bounded on unbounded streams. Defined over plain DataFrames: the
    * identical expression runs as a batch join (spec compares the two).
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("event_id").as("view_id"),
      col("ts").as("v_ts"))
    val p = purchases.select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
      col("ts").as("p_ts"), col("value"))
    v.join(p,
      col("v_user") === col("p_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("p_ts"),
        col("view_id"), col("v_ts"), col("value"))
  }

  /** Streaming variant: watermarks on both sides bound join state. */
  def streamingViewPurchaseJoin(events: DataFrame): DataFrame = {
    val wm = events.withWatermark("ts", "1 hour")
    viewPurchaseJoin(
      wm.where(col("event_type") === "view"),
      wm.where(col("event_type") === "purchase"))
  }

  /** Gap sessions via Spark's NATIVE session_window (vs q24's manual
    * lag+running-sum formulation): one aggregate, and the same
    * expression works under readStream with a watermark (merging
    * session state across micro-batches) — the built-in scale path
    * for sessionization.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"), col("total_value"))

  val q51 = Q(
    "q51_session_window",
    (s, d) => sessionWindows(Tables.events(s, d)),
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
           |SELECT user_id, MIN(ts) AS sess_start,
           |  MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
           |  COUNT(*) AS n_events,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM sess GROUP BY user_id, session_id""".stripMargin),
    "gap sessions via native session_window (stream-capable built-in)")

  /** Decode the Kafka source wire shape into typed rows. Spark's
    * `spark.readStream.format("kafka")` (the public spark-sql-kafka
    * connector; its jar ships separately from Spark core) always
    * emits the same fixed schema — key/value as binary, plus
    * topic/partition/offset/timestamp/timestampType — so every
    * streaming operator in this package is Kafka-ready by
    * construction: decode here, then feed
    * [[streamingUpsertIngest]] / [[streamingNearDedupIngest]] /
    * [[streamingDecontaminate]] UNCHANGED. Value payloads are parsed
    * as JSON against the caller's schema (the common wire format;
    * swap `from_json` for `from_avro` etc. at this one seam);
    * unparseable payloads yield all-null rows, kept — dropping them
    * silently would hide producer bugs, so filter downstream if
    * desired. KafkaShapeSpec drives a wire-shape-identical stream
    * through this decode into the upsert sink and pins the result
    * against the batch equivalent.
    */
  def decodeKafkaJson(kafka: DataFrame, schema: StructType): DataFrame =
    kafka
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .select(col("r.*"))

  /** Streaming ingest into the keyed upsert sink — the reference's
    * push loop (`push_to_es.py`) as a stream, over
    * [[graft.sources.ParquetUpsertSink.upsert]]. Because the merge
    * is associative and idempotent per key (latest version wins,
    * provided versions are unique per key — the sink's documented
    * contract), micro-batch boundaries and at-least-once redelivery
    * cannot change the final table: it always equals one batch upsert
    * of the whole input. Exactly-once-EFFECTIVE ingest on an
    * at-least-once transport, spec-verified against the batch result
    * under multi-batch + redelivered input.
    */
  def streamingUpsertIngest(stream: DataFrame, path: String,
      keyCols: Seq[String], versionCol: String, numBuckets: Int = 64): DataStreamWriter[Row] =
    perBatch(stream)((batch, _) =>
      ParquetUpsertSink.upsert(batch, path, keyCols, versionCol, numBuckets))

  /** Streaming ingest NEAR-dedup over
    * [[graft.operators.Cluster.nearDedupIngest]]: each micro-batch of
    * documents (doc_id, text, ...) is deduped against the persisted
    * MinHash signature store AND itself before admission — the
    * production pattern where a corpus grows continuously and
    * near-duplicates of anything already admitted must never land.
    * Per batch: hash the batch once (`Dedup.minhashSignatures`),
    * band-join it against the stored signatures
    * (`minhashDeltaPairsFromSigs` — the corpus is never re-hashed),
    * then admit a document unless it near-dups a STORED document or a
    * SMALLER-ID batch document; admitted docs and their signatures
    * upsert into their keyed stores.
    *
    * The admission rule is the greedy pairwise one (not connected-
    * component keeper selection): deterministic, one pass, and
    * anchored to already-admitted docs — a chain a~b~c admits its
    * locally-minimal members. Exactly-once effect on an
    * at-least-once transport: verdicts depend only on (id order,
    * stored neighbors), redelivered documents re-derive the same
    * verdict — an admitted doc's only new stored neighbors are
    * non-near-dups, a rejected doc's rejecting neighbor is stored —
    * and both stores are keyed upserts, so rewrites are no-ops.
    * Crash between the two upserts recovers on redelivery for the
    * same reason, whichever write landed first.
    */
  def streamingNearDedupIngest(stream: DataFrame, docsPath: String,
      sigsPath: String, threshold: Double, numBuckets: Int = 64,
      compsPath: Option[String] = None): DataStreamWriter[Row] = {
    requireNoScratchRev(stream, "streamingNearDedupIngest")
    perBatch(stream)((batch, _) => Cluster.nearDedupIngest(batch, docsPath,
      sigsPath, threshold, numBuckets, compsPath))
  }

  /** Streaming maintenance of the persisted EXACT co-occurrence store:
    * each micro-batch of documents folds into the four
    * [[graft.operators.Dedup.foldCoocIntoStore]] sink tables at delta
    * cost — the q149 nightly fold as a stream. Idempotent on an
    * at-least-once transport: the fold drops already-ingested
    * doc_ids up front and every table is append-only immutable rows,
    * so a replayed batch upserts nothing new. StreamingSpec pins
    * stream ≡ one-shot [[graft.operators.Dedup.buildCoocStore]]
    * across forced micro-batch splits.
    */
  def streamingCoocIngest(stream: DataFrame, storeDir: String,
      maxShingleDf: Int = 128, jaccardT: Double = 0.5, containT: Double = 0.9,
      numBuckets: Int = 64): DataStreamWriter[Row] =
    perBatch(stream)((batch, _) => Dedup.foldCoocIntoStore(batch.sparkSession,
      storeDir, batch, maxShingleDf, jaccardT, containT, numBuckets))

  /** Streaming incremental CONNECTED-COMPONENTS maintenance: each
    * micro-batch of near-dup pairs (d1, d2) folds into a persisted
    * (node, component) table via
    * [[graft.operators.Cluster.foldComponentsIntoStore]] — the
    * nightly dedup pipeline's last rebuild-only stage made
    * incremental, at per-batch cost ∝ the batch and the touched
    * components, never the corpus.
    *
    * Exactly-once EFFECT on an at-least-once transport without
    * relying on batch ordering: a node's component id only ever
    * DECREASES (components merge toward the min member), so the
    * upsert version is `-component` — monotone per key — and
    * latest-wins keyed merge makes replayed or re-ordered batches
    * converge to the same table. A replayed pair contracts to a
    * self-edge and drops out, so its batch writes nothing at all.
    * StreamingSpec pins stream ≡ batch `connectedComponents` over the
    * full pair set, across batch splits and redelivery.
    */
  def streamingComponentsIngest(pairStream: DataFrame, compsPath: String,
      numBuckets: Int = 64): DataStreamWriter[Row] =
    perBatch(pairStream)((batch, _) => Cluster.foldComponentsIntoStore(
      batch.sparkSession, compsPath, batch.select(col("d1"), col("d2")), numBuckets))

  /** The one admission gate behind the four scoring gates
    * ([[streamingDecontaminate]], [[streamingDsirSelect]],
    * [[streamingLmSelect]], [[streamingBloomDecontaminate]]): per
    * micro-batch it pins the candidate documents, skips an empty
    * batch, and upserts the `kept` documents into `cleanPath` keyed
    * on `doc_id` at `_rev = 0`, so a redelivered doc is a same-key
    * no-op (the [[streamingUpsertIngest]] argument). A gate supplies
    * only its scoring. `kept` is evaluated once, after the
    * construction-time `_rev` check, so a frozen side model is read
    * only for a stream the gate accepts.
    */
  private def admissionGate(stream: DataFrame, op: String, cleanPath: String,
      numBuckets: Int)(kept: => DataFrame => DataFrame): DataStreamWriter[Row] = {
    requireNoScratchRev(stream, op)
    val keep = kept
    perBatch(stream) { (batch, _) =>
      val (docs, nDocs) = pin(batch)
      if (nDocs > 0) ParquetUpsertSink.upsert(keep(docs).withColumn("_rev", lit(0L)),
        cleanPath, Seq("doc_id"), "_rev", numBuckets)
    }
  }

  /** A model-sized frame collected once to the driver and returned as
    * a local relation with the frame's own schema: every later batch
    * — a crash-redelivered one included — scores under these rows,
    * whatever happens to the source path afterwards.
    */
  private def driverSnapshot(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Contamination firewall at ingest: each micro-batch of candidate
    * TRAINING documents is scored against a static eval-set window
    * store (`Dedup.windowSignatures(eval)` written to
    * `evalWinsPath`), and docs whose memorization rate meets the
    * threshold are dropped before they ever reach the corpus — the
    * streaming form of q68's decontamination, keyed on q83's rate
    * instead of a pair threshold. Docs shorter than n tokens have no
    * windows — nothing to memorize — and are admitted (they produce
    * no rate row).
    *
    * The eval store is STATIC by design (an eval set is frozen the
    * moment it is published); re-reading it per batch keeps the plan
    * pushdown-eligible and needs no cache invalidation.
    */
  def streamingDecontaminate(stream: DataFrame, evalWinsPath: String,
      cleanPath: String, threshold: Double, n: Int = 8, numBuckets: Int = 64)
      : DataStreamWriter[Row] =
    admissionGate(stream, "streamingDecontaminate", cleanPath, numBuckets) { docs =>
      val drops = Dedup
        .memorizationRateAgainst(docs.sparkSession.read.parquet(evalWinsPath), docs, n)
        .where(col("seen_rate") >= threshold)
        .select(col("doc_id"))
      docs.join(drops, Seq("doc_id"), "left_anti")
    }

  /** DSIR selection at ingest — the streaming form of q151's
    * consumer: each micro-batch of candidate training documents is
    * scored under FROZEN side models (the (b, ct, cr) table a release
    * publishes once from [[graft.operators.Dsir.bucketCounts]] — or
    * maintains at delta cost with `Dsir.countsIncrement`). The model
    * is SNAPSHOTTED from `countsPath` once at stream construction, so
    * every batch — including a crash-redelivered one — scores under
    * the identical model even if the table is republished mid-run; a
    * published update takes effect on the next stream start. Docs
    * whose log importance weight meets `minLogW` are admitted.
    * Scoring is [[graft.operators.Dsir.importanceWeightsUnder]]
    * verbatim — model-broadcast, nothing about the batch ever
    * shuffles to the model — so stream ≡ batch selection
    * (StreamingSpec pins it across batch splits + redelivery). The
    * THRESHOLD consumer is the streaming-appropriate one: Gumbel
    * top-k ([[graft.operators.Dsir.resampleTopK]]) needs the whole
    * corpus ranked at once and stays a batch op; an ingest gate keeps
    * every doc at least `minLogW` target-like.
    */
  def streamingDsirSelect(stream: DataFrame, countsPath: String,
      cleanPath: String, minLogW: Double,
      buckets: Int = Dsir.Buckets,
      numBuckets: Int = 64): DataStreamWriter[Row] =
    admissionGate(stream, "streamingDsirSelect", cleanPath, numBuckets) {
      // FREEZE the side models at stream construction: the redelivery
      // no-op guarantee (same doc scores the same on redelivery) only
      // holds if every batch — original and redelivered — scores under
      // the same model. The table is model-sized (≤ buckets rows), so a
      // one-time driver snapshot is cheap; a countsIncrement-published
      // update takes effect on the NEXT stream start, never mid-checkpoint.
      val counts = driverSnapshot(stream.sparkSession.read.parquet(countsPath)
        .select(col("b").cast("long"), col("ct").cast("long"), col("cr").cast("long")))
      docs => docs.join(
        Dsir.importanceWeightsUnder(docs, counts, buckets)
          .where(col("log_w") >= minLogW)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    }

  /** LM-quality selection at ingest — q154's consumer as the streaming
    * twin of [[streamingDsirSelect]], completing the model-based
    * selection pair: each micro-batch of candidate training documents
    * is scored with [[graft.operators.Text.lmPerplexityUnder]] under a
    * FROZEN persisted target-LM (the (bg, cbg) bigram-count and (wd)
    * vocab tables a release publishes once from
    * `Text.lmBigramCounts` / `Text.lmVocab` — or maintains at delta
    * cost with the lmBigramIncrement/lmVocabIncrement folds), and docs
    * whose perplexity is at most `maxPpl` are admitted.
    *
    * The freeze differs from the bucket-count/length-CDF monitors on
    * purpose: a bigram model grows with target vocabulary and is NOT
    * driver-snapshot-sized, so instead of a driver collect the models
    * are pinned once at stream construction — one
    * cluster-side materialization reused by every batch. A republished
    * model takes effect on the next stream START, never mid-checkpoint;
    * and if a checkpoint block is lost the query fails LOUDLY rather
    * than silently rescoring later batches under a different model
    * (lineage to the mutable source path is severed).
    *
    * Docs too short to produce a bigram have no score and are NOT
    * admitted: an unscoreable doc cannot demonstrate target-likeness,
    * and admitting it would bypass the quality gate (the opposite
    * convention from [[streamingDecontaminate]], where no-windows
    * means nothing-to-memorize and admission is safe).
    */
  def streamingLmSelect(stream: DataFrame, bgPath: String, vocabPath: String,
      cleanPath: String, maxPpl: Double, numBuckets: Int = 64): DataStreamWriter[Row] =
    admissionGate(stream, "streamingLmSelect", cleanPath, numBuckets) {
      val s0 = stream.sparkSession
      val frozenBg = pin(s0.read.parquet(bgPath))._1
      val frozenVocab = pin(s0.read.parquet(vocabPath))._1
      docs => docs.join(
        Text.lmPerplexityUnder(docs, frozenBg, frozenVocab)
          .where(col("ppl") <= maxPpl)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    }

  /** Streaming length-drift monitor — q156's operational twin: each
    * micro-batch of ingested documents is KS-tested per source
    * against a FROZEN baseline length CDF (published once by
    * [[graft.operators.Text.exportLengthBaseline]] from a reference
    * corpus), and per-(source, batch) verdict rows land in the keyed
    * upsert sink — an ingest feed whose documents suddenly truncate
    * or concatenate trips the monitor within one batch, before any
    * content metric moves. Scoring is
    * [[graft.operators.Text.lengthDriftAgainst]] verbatim (stateless,
    * per-batch-pure), so stream ≡ batch; the baseline is SNAPSHOTTED
    * at stream construction (model-sized: distinct lengths) — the
    * streamingDsirSelect redelivery argument: a redelivered batch
    * scores under the identical baseline, and with the sink keyed on
    * (source, batch_id) redelivery is a same-key no-op.
    */
  def streamingLengthDrift(stream: DataFrame, baselinePath: String,
      outPath: String, ksThreshold: Double, numBuckets: Int = 8): DataStreamWriter[Row] = {
    val baseline = driverSnapshot(stream.sparkSession.read.parquet(baselinePath)
      .select(col("len").cast("long"), col("gcum").cast("long"), col("n").cast("long")))
    perBatch(stream) { (batch, batchId) =>
      val (docs, nDocs) = pin(batch)
      if (nDocs > 0) ParquetUpsertSink.upsert(
        Text.lengthDriftAgainst(docs, baseline)
          .withColumn("batch_id", lit(batchId))
          .withColumn("drifted", col("ks") >= ksThreshold),
        outPath, Seq("source", "batch_id"), "batch_id", numBuckets)
    }
  }

  /** Streaming vocabulary-novelty monitor — q157's live form: each
    * micro-batch folds its distinct grams into the persisted
    * first-batch-wins gram store
    * ([[graft.operators.Text.vocabNoveltyIngest]]) and its novelty
    * verdict lands in a keyed table — the "is this crawl still
    * adding new content?" dial, updated per batch. Exactly-once on
    * both tables: the gram store's first-wins versioning makes a
    * redelivered batch a same-key no-op AND reproduces its original
    * verdict (read from the store, not batch state); the verdict
    * upserts keyed on batch_id.
    */
  def streamingVocabNovelty(stream: DataFrame, storePath: String,
      outPath: String, n: Int = 3, numBuckets: Int = 64): DataStreamWriter[Row] =
    perBatch(stream) { (batch, batchId) =>
      val (docs, nDocs) = pin(batch)
      if (nDocs > 0) ParquetUpsertSink.upsert(
        Text.vocabNoveltyIngest(storePath, docs, batchId, n, numBuckets),
        outPath, Seq("batch_id"), "batch_id", numBuckets = 8)
    }

  /** Two-tier fingerprint decontamination at ingest — the broadcast-
    * SKETCH form of the contamination firewall. Each micro-batch of
    * candidate training docs is fingerprinted (codegen ngram
    * pipeline) and probed against the frozen eval-side Bloom filter
    * published by `Dedup.exportEvalFingerprints` (a 1-row ~128 KiB
    * broadcast): a probe-false doc is DEFINITELY not an eval
    * fingerprint match (the no-false-negative guarantee) and is
    * admitted with no further work; only probe-true suspects reach
    * the exact arm (broadcast join against the eval fingerprint set),
    * which drops exact members and admits the false positives.
    * Final admitted set is therefore IDENTICAL to an exact
    * fingerprint anti-join — the sketch changes cost, not semantics:
    * at the design FP rate the common path of a 100 TB stream is a
    * stateless codegen scan with no join at all.
    *
    * Docs with fewer than 5 words have no fingerprint — nothing to
    * match — and are admitted (left join keeps them, null fp probes
    * as non-suspect).
    */
  def streamingBloomDecontaminate(stream: DataFrame, artifactsDir: String,
      cleanPath: String, numBits: Int = 1 << 20, numBuckets: Int = 64): DataStreamWriter[Row] =
    admissionGate(stream, "streamingBloomDecontaminate", cleanPath, numBuckets) { docs =>
      import graft.functions.bloomContains
      val s = docs.sparkSession
      val bloom = s.read.parquet(s"$artifactsDir/bloom").select(col("bf"))
      val probed = docs
        .join(Dedup.fingerprints(docs), Seq("doc_id"), "left")
        .crossJoin(broadcast(bloom))
        .withColumn("suspect",
          col("fp").isNotNull &&
            coalesce(bloomContains(col("bf"), xxhash64(col("fp")), numBits), lit(false)))
      val evalFps = s.read.parquet(s"$artifactsDir/fps")
      // suspects that are EXACT members drop; bloom false positives
      // survive the anti-join and are admitted like everyone else
      probed.where(!col("suspect"))
        .unionByName(probed.where(col("suspect"))
          .join(broadcast(evalFps), Seq("fp"), "left_anti"))
        .drop("fp", "bf", "suspect")
    }

  /** Streaming ingest for an ADDITIVE store — the exactly-once form
    * the batch additive stores (Etl.kpiIncrement, the corpus-stats
    * base) deliberately do NOT provide: a plain additive merge
    * double-counts a redelivered micro-batch, which is why no naive
    * "streaming KPI" exists in this library. The correct shape keys
    * each batch's PARTIAL aggregate by its stable batchId and writes
    * it through the latest-wins upsert sink — a replayed batch
    * OVERWRITES its own partials instead of adding to them — and the
    * read view ([[readDailyCounts]]) sums partials per (day, type).
    * State per batch is days×types-sized (the partial, never raw
    * events), and the view's aggregate runs over
    * batches×days×types rows — compact forever if batches are
    * minutes-to-hours; a nightly compaction can fold old partials
    * into one batch id without changing the view.
    *
    * Idempotence scope: a batch REPLAYED UNDER ITS OWN ID (Spark's
    * crash recovery — the checkpoint re-runs batch N with identical
    * content) overwrites its own partials exactly. Replaying the
    * whole stream under a fresh checkpoint against a non-empty store
    * is NOT safe unless the batch boundaries repeat (a batch id that
    * receives different content overwrites with it, and an id that
    * receives none keeps its stale partial) — same contract as every
    * keyed-by-batch streaming sink. StreamingSpec pins multi-batch ≡
    * batch dailyCounts and identical-boundary replay convergence.
    */
  def streamingKpiIngest(events: DataFrame, path: String,
      numBuckets: Int = 16): DataStreamWriter[Row] =
    perBatch(events)((batch, batchId) => ParquetUpsertSink.upsert(
      Etl.dailyCounts(batch)
        .withColumn("batch_id", lit(batchId))
        .withColumn("_rev", lit(0L)),
      path, Seq("batch_id", "day", "event_type"), "_rev", numBuckets))

  /** The daily-KPI view over the batch-partial store: identical
    * schema and values to `Etl.dailyCounts` over all ingested events.
    */
  def readDailyCounts(spark: SparkSession, path: String): DataFrame =
    graft.sources.ParquetUpsertSink.read(spark, path)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"))

  val all: Seq[Q] = Seq(q42, q51)
}
