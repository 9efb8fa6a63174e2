package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

package object util {

  /** Exact (order-independent) sum of a money/quantity double column.
    *
    * Doubles summed in parallel are order-dependent, so a distributed
    * Spark sum would drift from a single-threaded oracle. Casting to
    * DECIMAL first makes addition exact and associative: Spark's
    * parallel aggregation then matches DuckDB bit-for-bit. Mirror in
    * oracle SQL as CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE).
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Exact average: exact decimal sum divided once in double precision.
    * Mirror: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(x).
    */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** Decimal windowed sum (running totals): same determinism argument —
    * window frames may be accumulated in different orders / tree shapes
    * by different engines; decimal addition is exact either way.
    */
  def dsumCast(c: Column, scale: Int = 2): Column =
    c.cast(DecimalType(18, scale))

  /** Distributed rank prep for exact per-group quantiles (q18/q62):
    * one compressed row per distinct (group, value) carrying the
    * 0-based rank range it covers — `lo_rn`..`hi_rn` — and the group
    * size `n`. NO single task ever sorts a whole group (r4's verdict
    * on the old `Window.partitionBy(group).orderBy(value)` prep: with
    * 3–20 groups a 100 TB table funnels through 3–20 external sorts).
    *
    * Shape — every stage distributed and DETERMINISTIC on recompute
    * (the frame is consumed twice; sampling-based bucketing like
    * repartitionByRange could disagree between instantiations):
    *  1. compress: groupBy(group, value).count — map-side partial, the
    *     shuffle carries distinct values, not rows;
    *  2. bucket: monotone linear split of [min, max] into `buckets`
    *     ranges (min/max are order-independent aggregates; value skew
    *     only affects balance, never correctness — adversarial
    *     distributions degrade toward per-group sorting of DISTINCT
    *     values, already compressed);
    *  3. local rank: cumulative counts per (group, bucket) — a window
    *     whose partitions hold one bucket's distinct values;
    *  4. offsets: per-(group, bucket) totals (≤ groups × buckets rows)
    *     cumsum'd and broadcast back; global rank = offset + local.
    */
  def rankPrep(df: DataFrame, group: String, value: String,
      buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = df.where(col(value).isNotNull)
      .groupBy(col(group), col(value)).agg(count(lit(1)).as("_cnt"))
    val mm = comp.agg(min(col(value)).cast(DoubleType).as("_mn"),
      max(col(value)).cast(DoubleType).as("_mx"))
    val vd = col(value).cast(DoubleType)
    val span = col("_mx") - col("_mn")
    val bkt = when(span <= 0, lit(0)).otherwise(
      least(lit(buckets - 1), floor((vd - col("_mn")) / (span / buckets)))).cast("int")
    val bounded = comp.crossJoin(broadcast(mm)).withColumn("_bkt", bkt)
    val wLoc = Window.partitionBy(col(group), col("_bkt")).orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(col(group)).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = bounded.groupBy(col(group), col("_bkt")).agg(sum(col("_cnt")).as("_btot"))
      .withColumn("_bbase", sum(col("_btot")).over(wOff) - col("_btot"))
      .withColumn("n", sum(col("_btot")).over(Window.partitionBy(col(group))))
      .select(col(group), col("_bkt"), col("_bbase"), col("n"))
    bounded
      .withColumn("_cum", sum(col("_cnt")).over(wLoc))
      .join(broadcast(off), Seq(group, "_bkt"))
      .select(col(group), col(value),
        (col("_bbase") + col("_cum") - col("_cnt")).as("lo_rn"),
        (col("_bbase") + col("_cum") - 1).as("hi_rn"),
        col("n"))
  }

  /** Exact quantile_cont as an ordinary AGGREGATE over `rankPrep`
    * rows: picks the compressed rows whose rank range covers position
    * (n-1)*p (and the next rank) and interpolates. No per-group value
    * buffering anywhere — the scale-safe replacement for Spark's
    * exact `percentile` (which buffers whole groups on the merge
    * side). Nulls are excluded by rankPrep, matching SQL
    * quantile_cont.
    */
  /** Exact quantile_disc as an aggregate over `rankPrep` rows: the
    * ceil(n·p)-th smallest VALUE (1-indexed inverse CDF — verified
    * empirically to be DuckDB's `quantile_disc` convention), so the
    * result is an actual data value of the column's own type, never
    * an interpolated double. Use for boundary comparisons (e.g.
    * quartile bucketing) where cross-engine ulp drift in an
    * interpolated boundary would flip rows across buckets.
    */
  def quantileDisc(value: Column, p: Double): Column = {
    val pos = ceil(col("n") * p) - 1 // 0-indexed order statistic
    max(when(col("lo_rn") <= pos && pos <= col("hi_rn"), value))
  }

  def quantileCont(value: Column, p: Double): Column = {
    val pos = (col("n") - 1) * p
    val lo = floor(pos)
    val vl = max(when(col("lo_rn") <= lo && lo <= col("hi_rn"), value))
    val vu = max(when(col("lo_rn") <= lo + 1 && lo + 1 <= col("hi_rn"), value))
    vl + max(pos - lo) * (coalesce(vu, vl) - vl)
  }

  /** Lazy in-plan row-count guard: fails the JOB (not the plan build)
    * when `df` exceeds `maxRows`, with `msg` explaining the fix.
    *
    * The check is a one-row count frame broadcast-EQUI-joined on a
    * constant key (never a BNLJ: the key is constant-but-NON-FOLDABLE,
    * derived from a column — a literal key would fold to `1=1` and
    * degrade to the BroadcastNestedLoopJoin the plan specs forbid),
    * consumed by assert_true inside a filter. NO eager count() happens
    * at plan-construction time — a hidden action inside an operator
    * builder recomputes arbitrary upstream lineage (r5 verdict on
    * simhashPairs) — the cost when within bounds is one broadcast of
    * one row plus a long comparison per row. `maxRows <= 0` disables
    * the guard (explicit unbounded opt-in).
    */
  def guardMaxRows(df: DataFrame, maxRows: Long, msg: String): DataFrame =
    if (maxRows <= 0) df
    else {
      // Key expression: cheap AND guaranteed-hashable for any schema.
      // Prefer the first atomic-typed column (hashing a long/string is
      // ~free); a frame of only arrays/maps hashes the collection's
      // size (O(1), defined for null), and anything else (struct-only)
      // hashes the null flag. Hashing the first column blindly would
      // fail on MapType (unhashable by default) or pay per-row hashing
      // of a huge binary/array value.
      import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
      val keySrc = df.schema.fields.collectFirst {
        case f if !Seq(classOf[ArrayType], classOf[MapType],
          classOf[StructType], classOf[BinaryType])
          .exists(_.isInstance(f.dataType)) => col(f.name)
      }.orElse(df.schema.fields.collectFirst {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] => size(col(f.name))
      }).getOrElse(isnull(col(df.columns.head)))
      val zero = pmod(xxhash64(keySrc), lit(1)).cast("int")
      val n = df.agg(max(zero).as("_gq_k"), count(lit(1)).as("_gq_n"))
      df.withColumn("_gq_k", zero)
        .join(broadcast(n), "_gq_k")
        .where(assert_true(col("_gq_n") <= maxRows, concat(
          lit(msg + s" (input has "), col("_gq_n"),
          lit(s" rows > maxRows=$maxRows)"))).isNull)
        .drop("_gq_k", "_gq_n")
    }

  /** Diamond-reuse materialization for ONE-SHOT builders: the frame
    * feeds two or more consumers in the same plan (self-join sides, a
    * stats aggregate plus the data path), Catalyst cannot always
    * dedupe the subplan (ReuseExchange needs canonically identical
    * exchanges; a broadcast on one side breaks that), and recomputing
    * it doubles the dominant stage. `persist` is the only
    * materialization primitive that is LAZY under AQE: both
    * `localCheckpoint()` (eager) and `localCheckpoint(eager = false)`
    * run Spark jobs while the plan is merely being CONSTRUCTED (the
    * lazy variant still builds its RDD, which under AQE materializes
    * every upstream stage), and builders must stay action-free
    * (PlanSpec pins zero jobs at plan-construction for the operator
    * family). MEMORY_AND_DISK: the reused frame spills rather than
    * recomputes when it outgrows executor memory at scale.
    *
    * NOT for iterative drivers (hierarchy closure, connected
    * components, Lloyd rounds): a fixpoint loop measures convergence
    * with actions anyway and NEEDS lineage truncation per round —
    * [[pin]] remains correct there.
    */
  def reused(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.StoredArtifacts.trackReused(p) // so StoredArtifacts.clear can unpersist
    p
  }

  /** The engine's one EAGER materialization: `localCheckpoint` `df`
    * and return it with its row count, observed in the checkpoint's
    * own job (a `count()`/`head(1)` probe after it would start one or
    * two more). Drivers — fixpoint loops, per-batch ingest, stored
    * artifacts — pin once and branch on the count; query builders
    * never pin (they stay action-free, [[reused]] is theirs). The
    * checkpoint runs under the caller's call site (Spark's
    * `callSite.*` local properties, restored after), so the UI, event
    * logs and stage attribution name the caller, not this helper.
    */
  def pin(df: DataFrame): (DataFrame, Long) = {
    val sc = df.sparkSession.sparkContext
    val frames = Thread.currentThread.getStackTrace.toSeq.dropWhile(f =>
      f.getClassName == "java.lang.Thread" || f.getClassName.startsWith("graft.util.package"))
    val site = Seq("callSite.long" -> frames.take(20).mkString("\n"), "callSite.short" ->
      s"localCheckpoint at ${frames.head.getFileName}:${frames.head.getLineNumber}")
    val saved = site.map { case (k, _) => k -> sc.getLocalProperty(k) }
    site.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try {
      val rows = org.apache.spark.sql.Observation()
      val pinned = df.observe(rows, count(lit(1)).as("n")).localCheckpoint()
      (pinned, rows.get("n").asInstanceOf[Long])
    } finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** The one micro-batch adapter behind every streaming sink: one
    * micro-batch is one run of `f`, the sink's batch twin, so
    * batch/stream parity holds here, by construction. `f` gets the
    * batch and the checkpoint's stable `batchId`; a twin that needs a
    * version takes it from the `batchId` (a redelivered batch keeps
    * its id, so its rewrite is a latest-wins no-op). The adapter adds
    * no pin and no count: the twin's jobs are the batch's jobs.
    * Returns the configured writer; the caller sets trigger and
    * checkpoint and starts it.
    */
  private[graft] def perBatch(stream: DataFrame)(f: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    stream.writeStream.outputMode(OutputMode.Update()).foreachBatch(f)

  /** Rejects `df` when it carries `_rev`, the scratch version column
    * `op` writes its keyed stores with. A schema-only check: it costs
    * no job, and a stream's schema is static, so a streaming sink runs
    * it at construction, not mid-run after the checkpoint has advanced
    * past earlier batches.
    */
  private[graft] def requireNoScratchRev(df: DataFrame, op: String): Unit =
    require(!df.columns.contains("_rev"),
      s"$op uses a scratch version column named _rev; " +
        s"rename the ${if (df.isStreaming) "stream" else "input"}'s _rev column first")

  /** Standard session builder config shared by Verify / Bench / specs. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      // Object-typed aggregates (SimHashAgg) plan as
      // ObjectHashAggregate, whose map side falls back to SORT-based
      // aggregation after this many distinct groups per task (default
      // 128 — i.e. always, on real data). 512-byte buffers × 64k
      // groups ≈ 32 MB per task: cheap insurance against sorting every
      // exploded token row by group key.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")

  /** The harness session: [[configure]] plus the LOCAL scan-split
    * sizing (the playbook's "size maxPartitionBytes to the target SF"
    * rule applied to this box). The default 128 MB means every
    * testdata table under 128 MB scans as ONE task regardless of row
    * groups — the r10 sf3 bench measured regex-heavy document
    * pipelines at 25x instead of 3x purely from that single-core
    * scan; 4 MB splits a 17 MB documents file into ~5 input tasks
    * while sf3 lineitem (309 MB) fans to ~78 across 32 cores.
    *
    * Deliberately NOT part of [[configure]]: graft.Main is a
    * production entrypoint, and a builder-level .config would
    * override spark-submit --conf — a cluster job reading TB-scale
    * sources under a forced 4 MB split would drown in scheduler
    * overhead. Verify/Bench/specs call this; deployments get the
    * Spark default (or their own --conf / config-file setting).
    */
  def configureLocalHarness(b: SparkSession.Builder): SparkSession.Builder =
    configure(b).config("spark.sql.files.maxPartitionBytes", "4m")

  /** `s` as a JSON string literal, quotes included — the one escaper
    * behind every hand-built JSON text (result lines, ES request
    * bodies, connector bulk rows).
    */
  def jsonString(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder
      .getInstance().quoteAsString(s)) + "\""
}
