package graft.operators

import graft.{Q, QueryPack, StoredArtifacts, Tables}
import graft.functions.{cosineFast, dotFast}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search and embedding-space dedup over
  * the `embeddings` table (Array[Float] vectors).
  *
  * q34 is the exact brute-force baseline (oracle-verifiable, O(q·n));
  * q35 is the scale path: random-hyperplane LSH — each vector lands in
  * `tables` buckets, candidates come from bucket joins, and only
  * candidates pay the exact cosine. q41 is exact all-pairs dedup at
  * threshold, executed as a blocked theta-join (partition-parallel,
  * no broadcast) — see `blockedCosinePairs` for why LSH cannot stand
  * in for it at low thresholds.
  *
  * All cosine scoring uses the native codegen'd CosineSimilarity
  * expression (one primitive loop; stays in WholeStageCodegen).
  */
object Ann extends QueryPack {

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Session-scoped STORED models over the gate corpus — the same
    * materialized-artifact architecture as Hierarchy.storedClosure /
    * Dedup.storedPairs: a deployed ANN index trains its coarse
    * quantizer / PQ codebooks / PCA basis ONCE and every search
    * query loads the model; per-query retraining is not a thing. The
    * models are driver-side parameter arrays (nc x dim doubles —
    * exactly what ships to executors as broadcast literals), memoized
    * per (session, dir, hyperparams). Library callers with their own
    * corpora call the trainers directly.
    */
  /** Where the gate exports its trained models so the DuckDB oracle
    * can recompute each deterministic CONSUMER step (assignment
    * argmin, bucket probe, ADC distance, projection) from the very
    * same model table — flipping the trained-model queries from
    * rows-only to full rows+schema+hash verification. The oracle SQL
    * references this path literally (it is a static string), so it is
    * a fixed absolute location, not a per-run temp dir; each
    * Verify/gate run overwrites it for its own sf dir, and the DuckDB
    * compare always runs immediately after the Verify that wrote it.
    * Doubles round-trip parquet bit-exactly (the ModelStore
    * contract), so the oracle scores with bit-identical parameters.
    */
  private[graft] val gateModelDir = "/tmp/graft_gate_models"

  /** Export every gate model for `d` — called by [[graft.Verify]]
    * AFTER planning, never from a query builder: builders are pinned
    * action-free at plan-construction time (PlanSpec), and a write
    * job inside one would violate that. Running the oracles of
    * q35/q43/q81/q85/q92/q105 against a Verify dump requires this to
    * have run against the same dir (Verify always does).
    */
  def exportGateModels(s: SparkSession, d: String): Unit = {
    import StoredArtifacts.exportOnce
    exportOnce("lsh_planes_8x4", d)(p =>
      graft.sources.ModelStore.saveCentroids(s, p, planes(8 * 4, 64)))
    exportOnce("ivf_centroids_16_2", d)(p =>
      graft.sources.ModelStore.saveCentroids(s, p, storedCentroids(s, d, 16, 2)))
    exportOnce("km_centroids_8_3", d)(p =>
      graft.sources.ModelStore.saveCentroids(s, p, storedCentroids(s, d, 8, 3)))
    exportOnce("pq_codebooks_8_16_2", d)(p =>
      graft.sources.ModelStore.saveCodebooks(s, p, storedCodebooks(s, d, 8, 16, 2)))
    exportOnce("pca_basis_8", d)(p => graft.sources.ModelStore
      .saveCentroids(s, p, pcaBasis(storedPcaModel(s, d, 8))))
  }

  def storedCentroids(s: SparkSession, d: String, nc: Int, iters: Int): Array[Array[Double]] =
    StoredArtifacts.getOrBuild("ivf_centroids", s, d, nc, iters)(ivfCentroids(emb(s, d), nc, iters))

  def storedCodebooks(s: SparkSession, d: String, m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] =
    StoredArtifacts.getOrBuild("pq_codebooks", s, d, m, ksub, iters)(
      pqCodebooks(emb(s, d), m, ksub, iters))

  /** Deterministic random-hyperplane directions (fixed seed). */
  private[graft] def planes(n: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(n)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  private def dotLit(v: Column, w: Array[Double]): Column =
    graft.functions.dotFast(v, lit(w))

  /** (vec_id, embedding, tbl, bucket): `tables` hash tables of
    * `bits`-bit sign buckets each. Neighbors at angle θ share a given
    * table's bucket with prob (1−θ/π)^bits; multiple tables trade
    * candidate volume for recall. For n docs pick bits ≈ log2(n/target
    * bucket size); 4 bits suits the test corpus, 16+ at 100 TB.
    */
  def lshBuckets(df: DataFrame, tables: Int, bits: Int, dim: Int = 64): DataFrame = {
    val ps = planes(tables * bits, dim)
    val bucketPerTable = (0 until tables).map { t =>
      (0 until bits).map { b =>
        when(dotLit(col("embedding"), ps(t * bits + b)) > 0, 1 << b).otherwise(0)
      }.reduce(_ + _)
    }
    df.select(col("vec_id"), col("embedding"),
      posexplode(array(bucketPerTable: _*)).as(Seq("tbl", "bucket")))
      .transform(graft.util.reused) // plane projections run once, not per join side
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("rnk"), col("score"))
  }

  val q34 = Q(
    "q34_ann_brute",
    (s, d) => {
      val e = emb(s, d)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
        .withColumn("score", cosineFast(col("qv"), col("cv")))
      topK(scored, 5)
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10
           |), c AS (
           |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
           |), scored AS (
           |  SELECT qid, cid,
           |    list_dot_product(qv, cv) /
           |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
           |  FROM q JOIN c ON cid <> qid
           |)
           |SELECT qid, cid, CAST(rnk AS INT) AS rnk, score FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY score DESC, cid ASC) AS rnk FROM scored)
           |WHERE rnk <= 5""".stripMargin),
    "brute-force cosine top-5 ANN, queries broadcast over one corpus scan")

  val q35 = Q(
    "q35_ann_lsh",
    (s, d) => {
      val buckets = lshBuckets(emb(s, d), tables = 8, bits = 4)
      val qb = buckets.where(col("vec_id") < 10)
        .toDF("qid", "qv", "tbl", "bucket")
      val cb = buckets.toDF("cid", "cv", "tbl", "bucket")
      val cand = qb.join(cb, Seq("tbl", "bucket"))
        .where(col("cid") =!= col("qid"))
        .select(col("qid"), col("qv"), col("cid"), col("cv"))
        .dropDuplicates("qid", "cid")
      topK(cand.withColumn("score", cosineFast(col("qv"), col("cv"))), 5)
    },
    Some(s"""WITH p AS (
           |  SELECT i // 4 AS tbl, i % 4 AS bit, v AS plane
           |  FROM read_parquet('$gateModelDir/lsh_planes_8x4.parquet/*.parquet')
           |), e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), b AS (
           |  SELECT e.vec_id, p.tbl,
           |    CAST(SUM(CASE WHEN list_dot_product(e.v, p.plane) > 0
           |      THEN (1 << p.bit) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM e CROSS JOIN p GROUP BY 1, 2
           |), cand AS (
           |  SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS cid
           |  FROM b qb JOIN b cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
           |  WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id
           |), scored AS (
           |  SELECT qid, cid,
           |    list_dot_product(q.v, c.v) /
           |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS score
           |  FROM cand JOIN e q ON q.vec_id = cand.qid
           |            JOIN e c ON c.vec_id = cand.cid
           |)
           |SELECT qid, cid, CAST(rnk AS INT) AS rnk, score FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY score DESC, cid ASC) AS rnk FROM scored)
           |WHERE rnk <= 5""".stripMargin),
    "LSH ANN: 8 tables x 4-bit hyperplane-sign buckets, exact rerank of candidates")

  /** Centroid mean that is ORDER-INDEPENDENT across partition layouts:
    * plain double `avg` depends on partial-aggregate merge order, so a
    * repartition/AQE change could flip a near-tied argmin and make
    * trained models layout-dependent. The engine-wide remedy (q75/q84)
    * applies: per-element fixed-point quantization floor(v·1e9) summed
    * as EXACT integers, one final double division — the mean is
    * deterministic for any layout, at 1e-9 quantization (irrelevant to
    * Lloyd convergence).
    */
  private def detMean(v: Column): Column =
    (sum(floor(v * 1e9).cast("long")).cast("double") / 1e9) / count(lit(1))

  /** Deterministic hash sample for quantizer TRAINING: at most
    * ~`maxRows` vectors chosen by a stride condition on
    * xxhash64(vec_id) — a pure scan-level filter, reproducible across
    * runs/layouts/partitionings (no RNG, no sample() seed coupling to
    * partition boundaries), and unbiased w.r.t. vec_id locality.
    *
    * Why: Lloyd training runs `iters` full passes; at 100 TB that is
    * iters full corpus scans before the index exists, for a model
    * whose quality saturates at a few hundred points per centroid
    * (Lloyd fits nc × dim parameters). Capping the TRAINING set keeps
    * those passes bounded while the encode/assign pass — the only
    * step that must see every row — still scans the corpus once.
    * Corpora at or under the cap train on everything (identical
    * models to the uncapped path; the gate/bench scales never
    * change).
    */
  private[graft] def trainingSample(df: DataFrame, maxRows: Long): DataFrame = {
    val n = df.count()
    if (n <= maxRows) df
    else df.where(pmod(xxhash64(col("vec_id")), lit(n / maxRows + 1)) === 0)
  }

  /** Default training cap — ≥ a few hundred points per centroid for
    * every nc the engine ships, far above every test/gate/bench
    * corpus (those train on everything), and small enough that a
    * 100 TB corpus pays `iters` scans of 200k rows, not of itself.
    */
  private[graft] val defaultTrainMaxRows = 200000L

  /** Spherical-k-means coarse quantizer for IVF: deterministic init
    * (the `nc` lowest vec_ids of the TRAINING SAMPLE — see
    * [[trainingSample]]; corpora under the cap sample to themselves),
    * then `iters` Lloyd rounds over the sample. Each round is one
    * distributed assign pass (broadcast-literal centroid scores,
    * argmax via array_max over (score, id) structs) and one
    * per-dimension mean aggregate (layout-independent, see
    * [[detMean]]). Only the centroid MODEL (nc × dim doubles) ever
    * reaches the driver — that is a model parameter, the same object
    * a trained IVF index ships to every executor; the data never
    * collects.
    */
  private[graft] def ivfCentroids(df: DataFrame, nc: Int, iters: Int,
      trainMaxRows: Long = defaultTrainMaxRows): Array[Array[Double]] = {
    val train = trainingSample(df, trainMaxRows)
      .transform(graft.util.reused) // init + every Lloyd round read it
    val init: Array[Array[Double]] = train.orderBy(col("vec_id")).limit(nc)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    lloydRounds(train, init, iters)
  }

  /** `iters` Lloyd rounds from an explicit starting model — the
    * shared training loop of [[ivfCentroids]] (cold start from the
    * `nc` lowest vec_ids) and [[ivfRefresh]] (warm start from a
    * stored quantizer). Each round is one distributed assign pass and
    * one per-dimension deterministic mean; only the nc × dim model
    * crosses the driver boundary.
    */
  private[graft] def lloydRounds(df: DataFrame, init: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    var cents = init
    for (_ <- 0 until iters) {
      val means = assignClusters(df, cents)
        .select(col("cl"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cl"), col("pos")).agg(detMean(col("v")).as("m"))
        .groupBy(col("cl"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      // empty clusters keep their previous centroid
      cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Nearest-centroid assignment: argmax cosine over broadcast-literal
    * centroids, ties to the higher cluster id (array_max on
    * (score, id) structs is lexicographic — deterministic).
    */
  private[graft] def assignClusters(df: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val scored = array(cents.indices.map(i =>
      struct(cosineFast(col("embedding"), lit(cents(i))).as("s"), lit(i).as("cl"))): _*)
    df.select(col("vec_id"), col("embedding"), array_max(scored).getField("cl").as("cl"))
  }

  /** IVF search: probe the `nprobe` nearest centroid lists per query,
    * exact-rerank only those lists' vectors. Candidate volume is
    * ~nprobe/nc of the corpus per query (vs all of it for q34), and
    * the probe side joins on the cluster id — at 100 TB the assignment
    * table is bucketed by `cl` so probes touch only matching buckets.
    */
  def ivfSearch(df: DataFrame, nc: Int, nprobe: Int, iters: Int, k: Int): DataFrame =
    ivfSearchOn(df, ivfCentroids(df, nc, iters), nprobe, k)

  /** ivfSearch with an already-trained (or stored) quantizer.
    * `isQuery` selects the probe set (default: the gate's 10-query
    * convention) — r16 fix: this was hardcoded inside the assigned
    * search, so a caller auditing a DIFFERENT probe set (q155's
    * recall audit) would have silently compared mismatched query
    * sets.
    */
  def ivfSearchOn(df: DataFrame, cents: Array[Array[Double]],
      nprobe: Int, k: Int,
      isQuery: Column = col("vec_id") < 10): DataFrame =
    ivfSearchAssigned(
      assignClusters(df, cents)
        .transform(graft.util.reused), // assignment runs once: reused by query + candidate sides
      cents, nprobe, k, isQuery)

  /** IVF search over an EXISTING assignment table (vec_id, embedding,
    * cl) — the deployed-index read path: a production index stores
    * the assignment (bucketed by `cl`), and queries probe it without
    * ever re-running assignment over the corpus. Pair with
    * [[ivfAppend]] for delta maintenance.
    */
  def ivfSearchAssigned(assigned: DataFrame, cents: Array[Array[Double]],
      nprobe: Int, k: Int,
      isQuery: Column = col("vec_id") < 10): DataFrame = {
    val q = assigned.where(isQuery)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probeRank = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cl").asc)
    val probes = q
      .select(col("qid"), col("qv"), posexplode(array(cents.toSeq.map(c =>
        cosineFast(col("qv"), lit(c))): _*)).as(Seq("cl", "cs")))
      .withColumn("pr", row_number().over(probeRank))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("cl"))
    val cand = probes
      .join(assigned.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("cl")), "cl")
      .where(col("cid") =!= col("qid"))
    topK(cand.withColumn("score", cosineFast(col("qv"), col("cv"))), k)
  }

  val q43 = Q(
    "q43_ann_ivf",
    (s, d) => ivfSearchOn(emb(s, d), storedCentroids(s, d, 16, 2), nprobe = 4, k = 5),
    Some(s"""WITH ct AS (
           |  SELECT i AS cl, v AS cv
           |  FROM read_parquet('$gateModelDir/ivf_centroids_16_2.parquet/*.parquet')
           |), e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), a AS ( -- nearest-centroid assignment: ties to HIGHER cl
           |  SELECT vec_id, v, cl FROM (
           |    SELECT e.vec_id, e.v, ct.cl,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_dot_product(e.v, ct.cv) /
           |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |        DESC, ct.cl DESC) AS rn
           |    FROM e CROSS JOIN ct) WHERE rn = 1
           |), probes AS ( -- 4 nearest centroid lists per query
           |  SELECT qid, cl FROM (
           |    SELECT a.vec_id AS qid, ct.cl,
           |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
           |        list_dot_product(a.v, ct.cv) /
           |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |        DESC, ct.cl ASC) AS pr
           |    FROM a CROSS JOIN ct WHERE a.vec_id < 10) WHERE pr <= 4
           |), scored AS (
           |  SELECT p.qid, a.vec_id AS cid,
           |    list_dot_product(q.v, a.v) /
           |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(a.v, a.v))) AS score
           |  FROM probes p
           |  JOIN a ON a.cl = p.cl AND a.vec_id <> p.qid
           |  JOIN e q ON q.vec_id = p.qid
           |)
           |SELECT qid, cid, CAST(rnk AS INT) AS rnk, score FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY score DESC, cid ASC) AS rnk FROM scored)
           |WHERE rnk <= 5""".stripMargin),
    "IVF ANN: 16-list spherical k-means quantizer, 4-probe exact rerank")

  /** Incremental IVF index maintenance: fold a DELTA batch of vectors
    * into an existing assignment table under the SAME stored
    * quantizer — the nightly-append path of a deployed index. Cost is
    * one narrow assign pass over the delta only (broadcast-literal
    * centroids, no shuffle, no touch of the base table's rows); the
    * union is a metadata concatenation. Because nearest-centroid
    * assignment is per-row pure, append-then-search is BIT-IDENTICAL
    * to re-assigning the whole corpus under the same model (AnnSpec
    * pins it) — so the only reason to ever re-run the base is a model
    * REFRESH, which is a deliberate separate op ([[ivfRefresh]]).
    * At 100 TB: base lives bucketed by `cl`; the delta's assignment
    * appends into the same bucket layout at delta-cost.
    */
  def ivfAppend(assignedBase: DataFrame, delta: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    assignedBase.unionByName(assignClusters(delta, cents))

  /** Warm-started quantizer refresh: `iters` Lloyd rounds starting
    * from the deployed model instead of a cold init — the periodic
    * drift-correction a long-lived index runs when [[ivfAppend]]ed
    * deltas shift the distribution. `iters = 0` returns the model
    * unchanged (refresh is explicitly a no-op until asked to move).
    * After a refresh the assignment table must be rebuilt (the model
    * changed); that full re-assign is the deliberate, scheduled cost
    * — never paid on the append path. Refresh rounds run over the
    * same deterministic training sample as the cold trainer.
    */
  def ivfRefresh(df: DataFrame, cents: Array[Array[Double]],
      iters: Int, trainMaxRows: Long = defaultTrainMaxRows): Array[Array[Double]] =
    lloydRounds(trainingSample(df, trainMaxRows), cents, iters)

  /** Exact all-pairs cosine near-dup WITHOUT a broadcast cartesian:
    * block theta-join. Each vector is assigned one of `blocks` hash
    * blocks; a row in block b replicates left to keys (b, j≥b) and
    * right to keys (i≤b, b), so every unordered block pair (i, j)
    * meets in exactly one equi-join partition. The result is a plain
    * shuffle hash join on (bi, bj): no table broadcast, no
    * BroadcastNestedLoopJoin, each task holds two blocks (2n/blocks
    * rows — the memory knob), and the n²/2 comparisons spread across
    * blocks²/2 uniform partitions (hash blocks cannot skew).
    *
    * Why not LSH candidates here: an exact low-threshold cosine join
    * is Ω(n²) COMPARISONS no matter the plan. At threshold 0.4 the
    * per-bit hyperplane agreement is 1−acos(0.4)/π ≈ 0.63 — near
    * coin-flip — so hyperplane buckets at any width that keeps recall
    * (measured: the corpus has a continuum of pairs at 0.40±0.01)
    * admit candidate volume ≈ the cartesian itself. LSH is the scale
    * path only for HIGH-similarity semantics (q35, and q32's
    * band+verify pattern); this operator is the exact baseline, made
    * partition-parallel and memory-bounded instead of broadcast.
    * AnnSpec pins equality to the naive cartesian formulation and
    * asserts no BNLJ node in this plan.
    */
  /** Guardrail for the exact quadratic audits (q41/q63): the work is
    * Ω(n²) comparisons BY CONTRACT, so an unbounded corpus must be a
    * deliberate choice, not an accident. Delegates to
    * `util.guardMaxRows` (the lazy in-plan check — no eager count()
    * at build time; fails fast at execution). Cost when within
    * bounds: one broadcast of one row + a long comparison per
    * pre-explosion row — invisible next to the pairwise join.
    * `maxRows = 0` disables the guard (explicit unbounded opt-in).
    */
  private def guardQuadratic(df: DataFrame, maxRows: Long, op: String): DataFrame =
    graft.util.guardMaxRows(df, maxRows,
      s"$op is an exact O(n^2) audit. Use the banded/LSH scale path " +
        "(q32_dedup_minhash / q35_ann_lsh / q43_ann_ivf), raise maxRows, " +
        "or pass maxRows=0 to run unbounded deliberately.")

  /** Norm-hoisted exact cosine for PAIRWISE joins (guide §1.2 step 1:
    * don't compute in the Ω(n²) stage what a linear pass provides).
    * The fused CosineSimilarity loop does 3 multiply-adds per element
    * PER PAIR (dot, |a|², |b|²) — but the norms depend on one vector
    * each, so an O(n·d) pre-pass computes `vnorm` once per vector and
    * the quadratic stage pays only the dot product (~3× fewer flops
    * where the suite spends most of its 100×-scale time: q41/q63/
    * q105 were 46% of the sf10p total).
    *
    * Bit-exactness vs the fused expression (the oracle contract):
    * `vnorm` is sqrt of the SAME sequential index-order Σx² the fused
    * loop accumulates (dense fixed-dim vectors, so min(len) = len);
    * the denominator is the same sqrt(na)·sqrt(nb) product of
    * bit-identical doubles; the division is the same op. Zero-norm
    * semantics preserved: fused yields NULL when the denom is 0.0,
    * and so does [[cosinePre]]. AnnSpec pins old≡new on the corpus
    * plus a zero-vector edge.
    */
  private[operators] def vnorm(e: Column): Column = sqrt(dotFast(e, e))

  private[operators] def cosinePre(dot: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === lit(0.0), lit(null).cast("double")).otherwise(dot / denom)
  }

  def blockedCosinePairs(df: DataFrame, threshold: Double, blocks: Int = 16,
      maxRows: Long = 1000000L): DataFrame = {
    val withB = guardQuadratic(df, maxRows, "blockedCosinePairs")
      .select(col("vec_id"), col("embedding"),
        vnorm(col("embedding")).as("nrm"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("b"))
    val l = withB.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("nrm").as("n1"),
      col("b").as("bi"), explode(sequence(col("b"), lit(blocks - 1))).as("bj"))
    val r = withB.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("nrm").as("n2"),
      explode(sequence(lit(0), col("b"))).as("bi"), col("b").as("bj"))
    l.join(r, Seq("bi", "bj"))
      // diagonal blocks see both orientations of a pair — keep one;
      // off-diagonal blocks see exactly one orientation — keep it
      .where((col("bi") =!= col("bj")) || (col("v1") < col("v2")))
      .withColumn("score", cosinePre(dotFast(col("e1"), col("e2")), col("n1"), col("n2")))
      .where(col("score") >= threshold && col("v1") =!= col("v2"))
      .select(least(col("v1"), col("v2")).as("v1"),
        greatest(col("v1"), col("v2")).as("v2"), col("score"))
  }

  /** Cross-corpus variant of the blocked theta-join: every (a, b)
    * pair with a ∈ `a`, b ∈ `b` and cosine ≥ threshold — the
    * embedding-side contamination audit (did eval vectors leak into
    * the training corpus, verbatim or re-embedded near-verbatim),
    * q58's semantic counterpart. Same block mechanics as
    * `blockedCosinePairs` minus the diagonal bookkeeping: sides are
    * distinct, so every (block_i, block_j) cell meets exactly once as
    * a plain equi-join partition — no broadcast, memory-bounded
    * tasks, uniform hash blocks.
    */
  def crossCosinePairs(a: DataFrame, b: DataFrame, threshold: Double,
      blocks: Int = 16, maxRows: Long = 1000000L): DataFrame = {
    val (ga, gb) = (guardQuadratic(a, maxRows, "crossCosinePairs"),
      guardQuadratic(b, maxRows, "crossCosinePairs"))
    val l = ga.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      vnorm(col("embedding")).as("na"),
      pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("bi"),
      explode(sequence(lit(0), lit(blocks - 1))).as("bj"))
    val r = gb.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      vnorm(col("embedding")).as("nb"),
      explode(sequence(lit(0), lit(blocks - 1))).as("bi"),
      pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("bj"))
    l.join(r, Seq("bi", "bj"))
      .withColumn("score", cosinePre(dotFast(col("ea"), col("eb")), col("na"), col("nb")))
      .where(col("score") >= threshold)
      .select(col("a_id"), col("b_id"), col("score"))
  }

  val q63 = Q(
    "q63_embed_contamination",
    (s, d) => {
      val e = emb(s, d)
      // the split a real pipeline supplies as two tables: even ids
      // "train", odd ids "eval"
      crossCosinePairs(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1), 0.4)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
           |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |  list_dot_product(a.v, b.v) /
           |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
           |FROM e a JOIN e b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
           |WHERE list_dot_product(a.v, b.v) /
           |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""".stripMargin),
    "embedding-space contamination: cross-corpus cosine pairs via blocked theta-join")

  val q41 = Q(
    "q41_dedup_embed",
    (s, d) => blockedCosinePairs(emb(s, d), 0.4),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
           |SELECT a.vec_id AS v1, b.vec_id AS v2,
           |  list_dot_product(a.v, b.v) /
           |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
           |FROM e a JOIN e b ON a.vec_id < b.vec_id
           |WHERE list_dot_product(a.v, b.v) /
           |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""".stripMargin),
    "embedding-cosine near-dup pairs: exact blocked theta-join (no broadcast cartesian)")

  /** Per-group embedding diversity WITHOUT the pairwise join: for
    * unit vectors u_i, Σ_{i≠j} cos(u_i, u_j) = ‖Σu‖² − n, so the mean
    * pairwise cosine of a group is (‖Σu‖² − n) / (n(n−1)) — an exact
    * O(n·d) aggregate for an Ω(n²·d) quantity. This is the corpus-
    * curation "how redundant is this source/cluster" measure that
    * q41's exact pairwise audit cannot run at 100 TB; this one is a
    * single scan + two tiny aggregates at any scale (and the same
    * identity scores diversity of a candidate MIXTURE before training
    * on it).
    *
    * Determinism contract: per-element normalization x/‖v‖ reuses the
    * sequential-double dot product (bit-identical to the oracle's
    * list_dot_product — the q34/q41 contract), so every ux double is
    * bit-identical across engines. Cross-row sums are made order-
    * independent by FIXED-POINT QUANTIZATION — floor(ux·1e9) summed
    * as integers — not a decimal cast: casting a double to DECIMAL
    * rounds to nearest, and the engines disagree on ties (observed at
    * sf0.1: one element in ~320k flipped the 12th decimal, shifting
    * the group mean by 2·s_d·1e-12/(n(n−1)) ≈ 8e-17 — a gate FAIL at
    * bit-exact compare), while floor of a bit-identical double has no
    * tie to disagree on. The measure is therefore "exact under a
    * deterministic 1e-9 per-element quantization": error ≤ n·1e-9 per
    * dimension sum, ≪ 1e-6 on the final mean (AnnSpec bounds it
    * against the true brute-force mean). Groups of one have no pairs
    * and are excluded (n > 1).
    */
  def embedDiversity(df: DataFrame, groupCol: String = "label"): DataFrame = {
    val g = col(groupCol)
    val Q = 1e9
    val unit = df.select(g, sqrt(dotFast(col("embedding"), col("embedding"))).as("nrm"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(g, col("pos"),
        floor(col("x").cast("double") / col("nrm") * Q).as("uq"))
    val dimSums = unit.groupBy(g, col("pos"))
      .agg((sum(col("uq")).cast("double") / Q).as("sd"))
    val sumsq = dimSums.groupBy(g)
      .agg((sum(floor(col("sd") * col("sd") * Q)).cast("double") / Q).as("sumsq"))
    val counts = df.groupBy(g).agg(count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    sumsq.join(counts, groupCol)
      .where(col("n") > 1)
      .select(g, col("n"),
        ((col("sumsq") - nD) / (nD * (nD - lit(1.0)))).as("mean_pair_cos"))
  }

  val q75 = Q(
    "q75_embed_diversity",
    (s, d) => embedDiversity(emb(s, d)),
    Some("""WITH e AS (
           |  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
           |), n AS (
           |  SELECT label, COUNT(*) AS n FROM e GROUP BY label
           |), u AS (
           |  SELECT label, i,
           |    CAST(floor(CAST(v[i] AS DOUBLE) / sqrt(list_dot_product(v, v)) * 1e9) AS BIGINT) AS uq
           |  FROM e, UNNEST(generate_series(1, len(v))) t(i)
           |), s AS (
           |  SELECT label, i, CAST(SUM(uq) AS DOUBLE) / 1e9 AS sd FROM u GROUP BY 1, 2
           |), ss AS (
           |  SELECT label,
           |    CAST(SUM(CAST(floor(sd * sd * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS sumsq
           |  FROM s GROUP BY 1
           |)
           |SELECT n.label, n.n,
           |  (ss.sumsq - CAST(n.n AS DOUBLE)) /
           |    (CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0)) AS mean_pair_cos
           |FROM ss JOIN n USING (label) WHERE n.n > 1""".stripMargin),
    "per-group embedding diversity: exact mean pairwise cosine via the centroid-norm identity, O(n*d) not O(n^2)")

  /** K-means topic assignment over embeddings — the clustering itself
    * as a product operator (q43 uses the same trainer internally as an
    * index): every vector labeled with its nearest spherical-k-means
    * centroid. This is the topic-bucketing pass a mixture designer
    * runs before balancing (cluster sizes = topic shares; feed the
    * assignments to q75's diversity measure or q76's caps with
    * `cluster` as the key).
    *
    * Scale shape: training touches the driver only for the centroid
    * MODEL (nc × dim doubles — the same object any trained index
    * ships); each Lloyd round and the final assignment are one fully
    * distributed scan with broadcast-literal centroids, argmax via
    * lexicographic array_max over (score, id) structs — deterministic,
    * including ties. No SQL oracle (a trained model has no DuckDB
    * mirror); AnnSpec pins determinism and the nearest-centroid
    * property against a brute-force re-score.
    */
  def embedClusters(df: DataFrame, nc: Int, iters: Int): DataFrame =
    embedClustersOn(df, ivfCentroids(df, nc, iters))

  /** embedClusters with an already-trained (or stored) model. */
  def embedClustersOn(df: DataFrame, cents: Array[Array[Double]]): DataFrame =
    assignClusters(df, cents).select(col("vec_id"), col("cl").as("cluster"))

  val q81 = Q(
    "q81_embed_cluster",
    (s, d) => embedClustersOn(emb(s, d), storedCentroids(s, d, 8, 3)),
    // the trained model exports to parquet; the oracle re-runs the
    // deterministic assignment argmax (ties to higher cl) against it
    Some(s"""WITH ct AS (
           |  SELECT i AS cl, v AS cv
           |  FROM read_parquet('$gateModelDir/km_centroids_8_3.parquet/*.parquet')
           |), e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |)
           |SELECT vec_id, CAST(cl AS INT) AS cluster FROM (
           |  SELECT e.vec_id, ct.cl,
           |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |      list_dot_product(e.v, ct.cv) /
           |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |      DESC, ct.cl DESC) AS rn
           |  FROM e CROSS JOIN ct) WHERE rn = 1""".stripMargin),
    "k-means topic assignment: deterministic trainer, broadcast-model argmax assign, one scan")

  /** (squared-L2-distance, centroid-id) structs for one subspace's
    * codebook; `array_min` over them is the lexicographic argmin —
    * nearest centroid, ties to the LOWER id. Distance is
    * ‖x‖² − 2x·c + ‖c‖² with the x terms via the codegen'd dot
    * expression and the c terms folded to literals.
    */
  private def l2Argmin(sv: Column, cb: Array[Array[Double]]): Column =
    array_min(array(cb.indices.map { i =>
      struct(
        (dotFast(sv, sv) - lit(2.0) * dotFast(sv, lit(cb(i))) +
          lit(cb(i).map(x => x * x).sum)).as("d"),
        lit(i).as("c"))
    }: _*))

  /** Product-quantization codebooks: the embedding split into `m`
    * contiguous subspaces of dim/m dimensions, each with its own
    * ksub-centroid L2 k-means codebook. All m Lloyd runs advance in
    * ONE distributed pass per round: rows explode to (subspace j,
    * subvector), every subspace assigns against its broadcast-literal
    * codebook slice in the same job, and one (j, cluster, pos) mean
    * aggregate updates every codebook — 1 + iters driver actions
    * total instead of m·(1 + iters) (with m separate trainers the
    * per-job fixed overhead dominates, and at 100 TB you'd pay m full
    * scans where one suffices). Init is deterministic: the ksub
    * lowest vec_ids seed every subspace with their slices. Only the
    * model (m × ksub × dsub doubles) ever reaches the driver; at
    * 100 TB train on a deterministic sample — the encode pass is the
    * only full scan PQ needs.
    */
  private[graft] def pqCodebooks(df: DataFrame, m: Int, ksub: Int, iters: Int,
      dim: Int = 64,
      trainMaxRows: Long = defaultTrainMaxRows): Array[Array[Array[Double]]] = {
    val dsub = dim / m
    require(dsub * m == dim, s"dim=$dim must divide into m=$m subspaces")
    // train on the deterministic hash sample (see [[trainingSample]]):
    // the codebooks fit m·ksub·dsub parameters — the ENCODE pass is
    // the only step that must see every row, and it runs elsewhere
    val train = trainingSample(df, trainMaxRows)
      .transform(graft.util.reused) // seed + every Lloyd round read it
    val seed = train.orderBy(col("vec_id")).limit(ksub)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seed.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    val subs = train.select(col("vec_id"),
      posexplode(array((0 until m).map(j =>
        slice(col("embedding"), j * dsub + 1, dsub)): _*)).as(Seq("j", "sv")))
    for (_ <- 0 until iters) {
      val cbLit = array(cbs.toSeq.map(cb => array(cb.toSeq.map(c => lit(c)): _*)): _*)
      val normLit = array(cbs.toSeq.map(cb =>
        array(cb.toSeq.map(c => lit(c.map(x => x * x).sum)): _*)): _*)
      // per-row argmin over the row's OWN subspace codebook (indexed
      // by j); same (distance, id) lexicographic rule as l2Argmin.
      // Built with ksub compile-time expressions, not a HOF lambda:
      // struct field aliases are lost inside lambdas, and the scoring
      // stays codegen'd this way.
      val scored = array((0 until ksub).map { c =>
        struct(
          (dotFast(col("sv"), col("sv")) -
            lit(2.0) * dotFast(col("sv"),
              element_at(element_at(cbLit, col("j") + 1), lit(c + 1))) +
            element_at(element_at(normLit, col("j") + 1), lit(c + 1))).as("d"),
          lit(c).as("c"))
      }: _*)
      val means = subs
        .select(col("j"), array_min(scored).getField("c").as("cl"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("j"), col("cl"), col("pos")).agg(detMean(col("v")).as("m"))
        .groupBy(col("j"), col("cl"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      cbs = Array.tabulate(m)(j => Array.tabulate(ksub)(c =>
        means.getOrElse((j, c), cbs(j)(c))))
    }
    cbs
  }

  /** Encode every vector as `m` small codes (nearest codebook centroid
    * per subspace): one scan, broadcast-literal codebooks, argmin via
    * lexicographic array_min — deterministic. The coded corpus is what
    * a 100 TB ANN deployment actually stores hot: m bytes/vector
    * (ksub ≤ 256) instead of dim·4.
    */
  def pqCodes(df: DataFrame, cbs: Array[Array[Array[Double]]],
      dim: Int = 64): DataFrame = {
    val m = cbs.length
    val dsub = dim / m
    df.withColumn("codes", array((0 until m).map { j =>
      l2Argmin(slice(col("embedding"), j * dsub + 1, dsub), cbs(j)).getField("c")
    }: _*))
  }

  /** IVF-PQ search — the composed 100 TB ANN path: the q43 coarse
    * quantizer prunes candidate lists (equi-join on the cluster id,
    * bucket-prunable at scale), and within the probed lists candidates
    * are scored by PQ asymmetric distance — a per-query m×ksub lookup
    * table built ONCE per query from codebook literals, then
    * Σ_j tbl[j][codes[j]] per candidate via the native codegen'd
    * `pq_adc` expression (m lookups, not a dim-element float loop; the
    * raw vector is never read for scoring). The ADC shortlist then
    * pays the exact cosine only `shortlist` times per query.
    *
    * Recall contract: coarse pruning misses what q43 misses (AnnSpec
    * bounds both); PQ adds quantization error bounded by the per-
    * subspace Lloyd residual — the shortlist-then-rerank absorbs it
    * (spec: recall@k vs brute force ≥ the q43 bound at equal nprobe).
    */
  def ivfPqSearch(df: DataFrame, nc: Int, nprobe: Int, m: Int, ksub: Int,
      iters: Int, k: Int, shortlist: Int, dim: Int = 64): DataFrame =
    ivfPqSearchOn(df, ivfCentroids(df, nc, iters),
      pqCodebooks(df, m, ksub, iters, dim), nprobe, k, shortlist, dim)

  /** ivfPqSearch with already-trained (or stored) models; m and ksub
    * come from the codebook shapes.
    */
  def ivfPqSearchOn(df: DataFrame, cents: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]], nprobe: Int, k: Int,
      shortlist: Int, dim: Int = 64): DataFrame = {
    val m = cbs.length
    val ksub = cbs(0).length
    val dsub = dim / m
    val coded = pqCodes(assignClusters(df, cents), cbs, dim)
      .select(col("vec_id"), col("embedding"), col("cl"), col("codes"))
      .transform(graft.util.reused) // train + assign + encode once; reused by both sides
    val q = coded.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // per-query ADC table: tbl[j][c] = ‖q_j − cb[j][c]‖², built from
      // codebook literals in one projection over the ≤10 query rows
      .withColumn("tbl", array((0 until m).map { j =>
        val qs = slice(col("qv"), j * dsub + 1, dsub)
        array((0 until ksub).map { c =>
          dotFast(qs, qs) - lit(2.0) * dotFast(qs, lit(cbs(j)(c))) +
            lit(cbs(j)(c).map(x => x * x).sum)
        }: _*)
      }: _*))
    val probeRank = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cl").asc)
    val probes = q
      .select(col("qid"), col("qv"), col("tbl"), posexplode(array(cents.toSeq.map(c =>
        cosineFast(col("qv"), lit(c))): _*)).as(Seq("cl", "cs")))
      .withColumn("pr", row_number().over(probeRank))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("tbl"), col("cl"))
    val cand = probes
      .join(coded.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("cl"), col("codes")), "cl")
      .where(col("cid") =!= col("qid"))
      .withColumn("adist", graft.functions.pqAdc(col("tbl"), col("codes")))
    val wShort = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("cid").asc)
    val short = cand.withColumn("sr", row_number().over(wShort))
      .where(col("sr") <= shortlist)
    topK(short.withColumn("score", cosineFast(col("qv"), col("cv"))), k)
  }

  val q85 = Q(
    "q85_ann_ivfpq",
    (s, d) => ivfPqSearchOn(emb(s, d), storedCentroids(s, d, 16, 2),
      storedCodebooks(s, d, 8, 16, 2), nprobe = 4, k = 5, shortlist = 20),
    // Full consumer-step mirror from the exported models: coarse
    // assignment (ties→higher cl), per-subspace code argmin
    // (ties→lower c), probe ranking, ADC distance as the SAME ordered
    // left fold as the native pq_adc loop (list_reduce over
    // j-ascending terms with the 0.0 seed prepended), shortlist, and
    // exact rerank. ‖cb‖² is list_dot_product(vec,vec) — the same
    // sequential sum of squares the engine folds into its literal.
    Some(s"""WITH ct AS (
           |  SELECT i AS cl, v AS cv
           |  FROM read_parquet('$gateModelDir/ivf_centroids_16_2.parquet/*.parquet')
           |), cb AS (
           |  SELECT j, c, v AS vec, list_dot_product(v, v) AS nrm
           |  FROM read_parquet('$gateModelDir/pq_codebooks_8_16_2.parquet/*.parquet')
           |), e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), a AS (
           |  SELECT vec_id, v, cl FROM (
           |    SELECT e.vec_id, e.v, ct.cl,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_dot_product(e.v, ct.cv) /
           |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |        DESC, ct.cl DESC) AS rn
           |    FROM e CROSS JOIN ct) WHERE rn = 1
           |), sub AS (
           |  SELECT vec_id, j, v[j*8+1 : j*8+8] AS sv
           |  FROM e CROSS JOIN (SELECT UNNEST(range(0, 8)) AS j) js
           |), codes AS (
           |  SELECT vec_id, j, c AS code FROM (
           |    SELECT s.vec_id, s.j, cb.c,
           |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
           |        list_dot_product(s.sv, s.sv) - 2.0*list_dot_product(s.sv, cb.vec) + cb.nrm
           |        ASC, cb.c ASC) AS rn
           |    FROM sub s JOIN cb ON cb.j = s.j) WHERE rn = 1
           |), probes AS (
           |  SELECT qid, cl FROM (
           |    SELECT e.vec_id AS qid, ct.cl,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_dot_product(e.v, ct.cv) /
           |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |        DESC, ct.cl ASC) AS pr
           |    FROM e CROSS JOIN ct WHERE e.vec_id < 10) WHERE pr <= 4
           |), cand AS (
           |  SELECT p.qid, a.vec_id AS cid
           |  FROM probes p JOIN a ON a.cl = p.cl WHERE a.vec_id <> p.qid
           |), adist AS (
           |  SELECT qid, cid,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY j)),
           |      (x, y) -> x + y) AS ad
           |  FROM (
           |    SELECT cd.qid, cd.cid, k.j,
           |      list_dot_product(qs.sv, qs.sv) - 2.0*list_dot_product(qs.sv, cb.vec) + cb.nrm AS t
           |    FROM cand cd
           |    JOIN codes k ON k.vec_id = cd.cid
           |    JOIN sub qs ON qs.vec_id = cd.qid AND qs.j = k.j
           |    JOIN cb ON cb.j = k.j AND cb.c = k.code)
           |  GROUP BY 1, 2
           |), short AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY ad ASC, cid ASC) AS sr FROM adist) WHERE sr <= 20
           |), scored AS (
           |  SELECT s.qid, s.cid,
           |    list_dot_product(q.v, c.v) /
           |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS score
           |  FROM short s JOIN e q ON q.vec_id = s.qid
           |               JOIN e c ON c.vec_id = s.cid
           |)
           |SELECT qid, cid, CAST(rnk AS INT) AS rnk, score FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY score DESC, cid ASC) AS rnk FROM scored)
           |WHERE rnk <= 5""".stripMargin),
    "IVF-PQ ANN: coarse-list pruning + native ADC lookup scoring + exact rerank of the shortlist")

  /** Per-group centroid drift — how far each group's embedding
    * centroid points away from the corpus centroid (cosine between
    * mean directions). The embedding-space distribution-shift screen:
    * a label/source whose centroid diverges is over-represented in a
    * region the rest of the corpus doesn't occupy (q75 says "how
    * redundant is this group internally"; this says "how far OFF-axis
    * is it"). Run per source on document embeddings before mixing.
    *
    * Determinism contract (the q75 pattern): per-element unit
    * normalization reuses the sequential dot product, quantized
    * floor(u·1e9) — summed as EXACT integers per (group, dim). The
    * corpus dim-sum is the integer sum of the group dim-sums
    * (associative, no tie to disagree on), so both vectors are exact
    * integers; the final cosine is one sequential 64-element loop on
    * both engines (CosineSimilarity ≡ list_dot_product — the q34
    * contract). Every double the cross-engine compare hashes is
    * bit-identical.
    *
    * Scale shape: one scan → (group, dim) partial-aggregated integer
    * sums (≤ groups×dim rows), group vectors assembled by a tiny
    * collect_list sort, corpus vector a 1-row broadcast. No join of
    * the corpus, no pairwise anything.
    */
  def centroidDrift(df: DataFrame, groupCol: String = "label"): DataFrame = {
    val g = col(groupCol)
    val Q = 1e9
    val unit = df.select(g,
      sqrt(dotFast(col("embedding"), col("embedding"))).as("nrm"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(g, col("pos"),
        floor(col("x").cast("double") / col("nrm") * Q).as("uq"))
    // ≤ groups×dim rows; lazily persisted so the corpus scan +
    // posexplode + aggregate runs ONCE for both consumers (label
    // vectors and the corpus vector) — without this the dominant
    // pass executes twice
    val dimSums = graft.util.reused(
      unit.groupBy(g, col("pos")).agg(sum(col("uq")).as("s")))
    def toVec = (c: org.apache.spark.sql.Column) =>
      transform(array_sort(c), x => x.getField("s").cast("double"))
    val labelVec = dimSums.groupBy(g)
      .agg(toVec(collect_list(struct(col("pos"), col("s")))).as("v"))
    val globalVec = dimSums.groupBy(col("pos")).agg(sum(col("s")).as("s"))
      .agg(toVec(collect_list(struct(col("pos"), col("s")))).as("gv"))
    labelVec.crossJoin(broadcast(globalVec))
      .select(g, cosineFast(col("v"), col("gv")).as("drift"))
  }

  val q84 = Q(
    "q84_centroid_drift",
    (s, d) => centroidDrift(emb(s, d)),
    Some("""WITH e AS (
           |  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
           |), u AS (
           |  SELECT label, i,
           |    CAST(floor(CAST(v[i] AS DOUBLE) / sqrt(list_dot_product(v, v)) * 1e9) AS BIGINT) AS uq
           |  FROM e, UNNEST(generate_series(1, len(v))) t(i)
           |), s AS (
           |  SELECT label, i, CAST(SUM(uq) AS BIGINT) AS sd FROM u GROUP BY 1, 2
           |), lv AS (
           |  SELECT label,
           |    list_transform(array_agg(sd ORDER BY i), x -> CAST(x AS DOUBLE)) AS v
           |  FROM s GROUP BY 1
           |), gdim AS (
           |  SELECT i, CAST(SUM(sd) AS BIGINT) AS sd FROM s GROUP BY 1
           |), gv AS (
           |  SELECT list_transform(array_agg(sd ORDER BY i), x -> CAST(x AS DOUBLE)) AS v
           |  FROM gdim
           |)
           |SELECT lv.label,
           |  list_dot_product(lv.v, gv.v) /
           |    (sqrt(list_dot_product(lv.v, lv.v)) * sqrt(list_dot_product(gv.v, gv.v))) AS drift
           |FROM lv CROSS JOIN gv""".stripMargin),
    "per-group centroid drift: cosine of group centroid vs corpus centroid, exact quantized sums")

  /** PCA projection of the embedding column — the dimensionality
    * reducer run before ANN indexing / clustering when the raw dim is
    * wastefully high (the classic 1024→64 pre-index step). Uses Spark
    * ML's DataFrame-native PCA rather than a hand-rolled covariance:
    * the fit is a treeAggregate of per-partition Gram partials (the
    * one right distributed shape — a posexplode pair-expansion would
    * blow the corpus up dim× per row), and only the dim×dim covariance
    * ever reaches the driver (model-parameter-sized, the q43/q85
    * precedent). The projection itself is a broadcast matrix-vector
    * multiply per row, one scan, no shuffle.
    *
    * Determinism caveat (why q92 is rows-only): float summation order
    * in the fit varies with partition layout, so trailing bits of the
    * components — and the SIGN of each component, which is arbitrary
    * in PCA — are not cross-run-pinned. AnnSpec pins the invariant
    * geometry instead: full-rank projections preserve pairwise
    * distances, projected variances arrive in nonincreasing order,
    * and distinct components are uncorrelated.
    */
  def pcaProject(df: DataFrame, k: Int, whiten: Boolean = false): DataFrame =
    pcaProjectOn(df, pcaFit(df, k), whiten)

  /** Fit the PCA basis alone — the model artifact a deployment trains
    * once and persists ([[graft.sources.ModelStore.savePca]]); apply
    * it with [[pcaProjectOn]].
    */
  def pcaFit(df: DataFrame, k: Int): org.apache.spark.ml.feature.PCAModel = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val fv = df.withColumn("__fv",
      array_to_vector(col("embedding").cast("array<double>")))
    new PCA().setInputCol("__fv").setOutputCol("__pc").setK(k).fit(fv)
  }

  /** The fitted basis as k dim-length column vectors — the exportable
    * model-parameter array (the same shape ModelStore.saveCentroids
    * persists), and what [[pcaProjectOn]] broadcasts as literals.
    */
  private[graft] def pcaBasis(
      model: org.apache.spark.ml.feature.PCAModel): Array[Array[Double]] = {
    val pc = model.pc
    Array.tabulate(pc.numCols)(i => Array.tabulate(pc.numRows)(r => pc(r, i)))
  }

  /** Project with an already-fitted (or loaded) basis — bit-identical
    * whether the model came from [[pcaFit]] in-session or off disk
    * (ModelStoreSpec pins it). The projection is k sequential
    * broadcast-literal dot products per row via the native codegen'd
    * dot expression — NOT ML's BLAS gemv, deliberately: BLAS kernels
    * may block/vectorize the accumulation, while the sequential loop
    * is the engine-wide numeric contract (CosineSimilarity ≡
    * list_dot_product) that lets the DuckDB oracle recompute the
    * projection bit-exactly from the exported basis.
    */
  def pcaProjectOn(df: DataFrame, model: org.apache.spark.ml.feature.PCAModel,
      whiten: Boolean = false): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val basis = pcaBasis(model)
    val proj = df.select(col("vec_id"), col("label"),
      array(basis.toSeq.map(bi => dotFast(col("embedding"), lit(bi))): _*).as("proj"))
    if (!whiten) proj
    else {
      val fv = df.withColumn("__fv",
        array_to_vector(col("embedding").cast("array<double>")))
      // whitening: scale each component to ~unit variance.
      // explainedVariance holds RATIOS (eigenvalue / trace); the
      // trace comes from one Summarizer variance aggregate over the
      // input (map-side-combinable, dim doubles to the driver). The
      // k scale factors then ride along as a broadcast literal —
      // one zip_with per row.
      val ev = model.explainedVariance.toArray
      val totalVar = {
        import org.apache.spark.ml.stat.Summarizer
        fv.select(Summarizer.variance(col("__fv")))
          .head().getAs[org.apache.spark.ml.linalg.Vector](0).toArray.sum
      }
      val scales = ev.map(r => 1.0 / math.sqrt(r * totalVar + 1e-300))
      proj.withColumn("proj",
        zip_with(col("proj"), lit(scales), (p, s) => p * s))
    }
  }

  /** Stored PCA projection of the gate corpus (the fitted basis is a
    * model artifact like the IVF centroids; the projected table is
    * the pre-index reduced corpus a deployment stores).
    */
  def storedPcaProjection(s: SparkSession, d: String, k: Int): DataFrame =
    StoredArtifacts.getOrBuild("pca", s, d, k)(
      graft.util.pin(pcaProjectOn(emb(s, d), storedPcaModel(s, d, k)))._1)

  /** The fitted gate-corpus basis itself — memoized so the projection
    * and the gate's model EXPORT (the oracle's input) share one model
    * instance (the fit's trailing bits are layout-dependent, so
    * exporting a refit would not mirror the projection).
    */
  def storedPcaModel(s: SparkSession, d: String, k: Int): org.apache.spark.ml.feature.PCAModel =
    StoredArtifacts.getOrBuild("pca_model", s, d, k)(pcaFit(emb(s, d), k))

  val q92 = Q(
    "q92_pca_project",
    // The fit's eigenvector signs/trailing bits are layout-dependent
    // — which is exactly why the ORACLE takes the exported basis as
    // its input instead of refitting: given the same basis table, the
    // projection is k sequential dot products, bit-identical
    // cross-engine (the q34 contract). The gate row explodes the
    // projection to scalar (pos, v) cells so the driver's pandas
    // comparator hashes plain doubles (it cannot sort/hash ndarray
    // cells — the q57 precedent). AnnSpec still pins the invariant
    // geometry of the fit itself.
    (s, d) => storedPcaProjection(s, d, 8).select(col("vec_id"), col("label"),
      posexplode(col("proj")).as(Seq("pos", "v"))),
    Some(s"""WITH b AS (
           |  SELECT i, v FROM read_parquet('$gateModelDir/pca_basis_8.parquet/*.parquet')
           |), e AS (
           |  SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
           |)
           |SELECT e.vec_id, e.label, CAST(b.i AS INT) AS pos,
           |  list_dot_product(e.ev, b.v) AS v
           |FROM e CROSS JOIN b""".stripMargin),
    "PCA projection to 8 dims: treeAggregate covariance fit, broadcast-literal sequential dot products per row")

  /** SemDeDup (Abbas et al., 2023): semantic dedup at scale by
    * restricting the quadratic near-neighbor search to WITHIN k-means
    * clusters — the embedding-space analogue of q32's LSH banding
    * (q41 is the exact global audit; this is the path that runs at
    * 100 TB). Cluster-mates are candidates via one equi-join on the
    * cluster id (shuffle partitioned by cluster, AQE skew-splitting
    * hot clusters; never all-pairs); only candidates pay the exact
    * codegen'd cosine. A vector is dropped when a SMALLER-id cluster-
    * mate scores ≥ threshold (the q41-family min-id keeper rule,
    * deterministic under retries); survivors keep their topic label.
    *
    * Approximation contract (spec-pinned): cluster-restricted
    * candidate pairs are a SUBSET of the global pairs, so SemDeDup
    * never drops a vector the exact global rule would keep —
    * survivors(semantic) ⊇ survivors(q41-rule); recall of the global
    * drop-set rises with nc sized so clusters are O(corpus/nc)
    * (SemDeDup used 110k clusters for LAION; per-cluster cost is
    * (n/nc)²·d).
    */
  def semanticDedupOn(df: DataFrame, cents: Array[Array[Double]],
      threshold: Double): DataFrame = {
    val assigned = assignClusters(df, cents)
    // norm-hoisted pairwise cosine (see cosinePre): the within-cluster
    // join is the quadratic stage here, so norms are computed once per
    // vector in the assignment pass, not 3×-fused per candidate pair
    val withN = assigned.withColumn("nrm", vnorm(col("embedding")))
    val a = withN.select(col("cl"), col("vec_id").as("a_id"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withN.select(col("cl"), col("vec_id").as("b_id"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cl"))
      .where(col("a_id") < col("b_id") &&
        cosinePre(dotFast(col("ea"), col("eb")), col("na"), col("nb")) >= threshold)
      .select(col("b_id").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cl").as("cluster"))
  }

  def semanticDedup(df: DataFrame, nc: Int, iters: Int,
      threshold: Double): DataFrame =
    semanticDedupOn(df, ivfCentroids(df, nc, iters), threshold)

  val q105 = Q(
    "q105_semdedup",
    (s, d) => semanticDedupOn(emb(s, d), storedCentroids(s, d, 8, 3), 0.4),
    // consumer-step oracle from the exported model (the q81 table):
    // same assignment argmax, then the min-id keeper rule over
    // within-cluster cosine pairs — AnnSpec still pins the
    // approximation contract vs the exact global rule
    Some(s"""WITH ct AS (
           |  SELECT i AS cl, v AS cv
           |  FROM read_parquet('$gateModelDir/km_centroids_8_3.parquet/*.parquet')
           |), e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), a AS (
           |  SELECT vec_id, v, cl FROM (
           |    SELECT e.vec_id, e.v, ct.cl,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_dot_product(e.v, ct.cv) /
           |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |        DESC, ct.cl DESC) AS rn
           |    FROM e CROSS JOIN ct) WHERE rn = 1
           |), dropped AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM a x JOIN a b ON x.cl = b.cl AND x.vec_id < b.vec_id
           |  WHERE list_dot_product(x.v, b.v) /
           |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
           |)
           |SELECT a.vec_id, CAST(a.cl AS INT) AS cluster FROM a
           |WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin),
    "SemDeDup: k-means-clustered semantic dedup — within-cluster cosine pairs, min-id keeper")

  /** Hard-negative mining (q117): for each query vector, the top-k
    * most-similar vectors carrying a DIFFERENT label — the contrastive-
    * training data op (hard negatives = near the anchor in embedding
    * space but of another class; random negatives are too easy to
    * teach a margin). Same plan family as q34: queries broadcast over
    * one corpus scan with the label inequality fused into the join
    * predicate — the scan's label column prunes candidates BEFORE any
    * scoring, and at 100 TB the scale path is the same IVF/LSH
    * candidate generation with the label filter applied pre-rerank.
    */
  val q117 = Q(
    "q117_hard_negatives",
    (s, d) => {
      val e = emb(s, d)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("label").as("clabel"))
      val scored = c.join(broadcast(q),
          col("cid") =!= col("qid") && col("clabel") =!= col("qlabel"))
        .withColumn("score", cosineFast(col("qv"), col("cv")))
      topK(scored, 5)
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlabel
           |  FROM embeddings WHERE vec_id < 10
           |), c AS (
           |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv, label AS clabel
           |  FROM embeddings
           |), scored AS (
           |  SELECT qid, cid,
           |    list_dot_product(qv, cv) /
           |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
           |  FROM q JOIN c ON cid <> qid AND clabel <> qlabel
           |)
           |SELECT qid, cid, CAST(rnk AS INT) AS rnk, score FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY score DESC, cid ASC) AS rnk FROM scored)
           |WHERE rnk <= 5""".stripMargin),
    "hard-negative mining: top-5 cosine among OTHER-label vectors, label filter fused into the broadcast join predicate")

  /** Int8 scalar quantization — the standard ANN memory optimization
    * (4× smaller vectors, SIMD-friendly integer dot products): each
    * vector scales by its own max-|x| and rounds to [−127, 127].
    * Pure per-row map over the scan — no shuffle, no join, the shape
    * that costs exactly one pass at 100 TB. The per-vector dequant
    * error bound |x − q·scale/127| ≤ scale/254 (round-to-nearest)
    * is emitted as a verdict column computed by the IDENTICAL IEEE
    * expression in builder and oracle — every arithmetic step
    * (scale extraction, quantize, dequant-error, bound compare) is
    * elementwise and association-free, so the hash compare holds
    * bit-exactly, doubles included. Zero vectors (scale = 0) are
    * excluded in both engines rather than special-cased.
    */
  def quantizeEmbeddings(df: DataFrame): DataFrame = {
    val withScale = df
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .where(col("scale") > 0)
    withScale
      .withColumn("qvec",
        transform(col("v"), x => round(x / col("scale") * 127).cast("int")))
      .withColumn("max_err", array_max(zip_with(col("v"), col("qvec"),
        (x, q) => abs(x - q * col("scale") / 127))))
      .select(col("vec_id"), col("scale"), col("qvec"),
        (col("max_err") <= col("scale") / 127 * 0.5000001).as("quant_ok"))
  }

  /** Gate row for q143: the library API ([[quantizeEmbeddings]]) returns
    * the codes as `array<int>` — the form a consumer (q144) wants — but
    * the driver's pandas compare harness lexsorts raw column values and
    * cannot hash an ndarray, so the GATE projection scalarizes the codes:
    * the full CSV of the array (exact content, strictly stronger than a
    * digest) plus size/min/max audit columns. Both engines render ints
    * identically, so the string hashes bit-exact. Verify.scala enforces
    * this contract for every gate row (no complex-typed dump columns).
    */
  private def scalarizeQuant(qz: DataFrame): DataFrame =
    qz.select(col("vec_id"), col("scale"),
      size(col("qvec")).as("q_n"),
      array_min(col("qvec")).as("q_min"),
      array_max(col("qvec")).as("q_max"),
      array_join(col("qvec"), ",").as("q_csv"),
      col("quant_ok"))

  val q143 = Q(
    "q143_embed_quant",
    (s, d) => scalarizeQuant(quantizeEmbeddings(emb(s, d))),
    Some("""WITH e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), sc AS (
           |  SELECT vec_id, v,
           |    list_max(list_transform(v, x -> abs(x))) AS scale
           |  FROM e
           |), qz AS (
           |SELECT vec_id, scale,
           |  list_transform(v, x -> CAST(ROUND(x / scale * 127) AS INT)) AS qvec,
           |  list_max(list_transform(v,
           |    x -> abs(x - ROUND(x / scale * 127) * scale / 127)))
           |    <= scale / 127 * 0.5000001 AS quant_ok
           |FROM sc WHERE scale > 0)
           |SELECT vec_id, scale,
           |  CAST(len(qvec) AS INT) AS q_n,
           |  list_min(qvec) AS q_min,
           |  list_max(qvec) AS q_max,
           |  array_to_string(qvec, ',') AS q_csv,
           |  quant_ok
           |FROM qz""".stripMargin),
    "int8 scalar quantization of embeddings: per-vector max-abs scale, one shuffle-free pass, dequant error bound verdict; gate row scalarizes the codes (CSV + size/min/max audit) for the dump contract")

  /** Top-k search IN the quantized domain — the consumer that makes
    * q143 a search optimization rather than a compression trick.
    * Per-vector scales CANCEL in cosine (dq(x) = q·scale/127), so
    * the quantized score is pure integer algebra over the codes —
    * deterministic to the bit, ties only between identical code
    * triples (broken by cid in both engines). Same brute shape as
    * q34: queries broadcast over one scan of the (cached) quantized
    * corpus; at 100 TB the integer codes are what actually fits in
    * memory/SIMD — this is the fidelity audit for that trade.
    * AnnSpec pins recall@5 against the exact-domain q34 ranking.
    */
  def quantSearch(df: DataFrame, k: Int): DataFrame = {
    val qz = quantizeEmbeddings(df)
      .select(col("vec_id"), col("qvec").cast("array<double>").as("v"))
      .transform(graft.util.reused) // quantize once; both join sides read it
    val q = qz.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = qz.select(col("vec_id").as("cid"), col("v").as("cv"))
    val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("score", cosineFast(col("qv"), col("cv")))
    topK(scored, k)
  }

  val q144 = Q(
    "q144_quant_search",
    (s, d) => quantSearch(emb(s, d), 5),
    Some("""WITH e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), sc AS (
           |  SELECT vec_id, v,
           |    list_max(list_transform(v, x -> abs(x))) AS scale
           |  FROM e
           |), z AS (
           |  SELECT vec_id, list_transform(v,
           |    x -> CAST(CAST(ROUND(x / scale * 127) AS INT) AS DOUBLE)) AS v
           |  FROM sc WHERE scale > 0
           |), q AS (SELECT vec_id AS qid, v AS qv FROM z WHERE vec_id < 10),
           |c AS (SELECT vec_id AS cid, v AS cv FROM z),
           |scored AS (
           |  SELECT qid, cid,
           |    list_dot_product(qv, cv) /
           |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
           |  FROM q JOIN c ON cid <> qid)
           |SELECT qid, cid, CAST(rnk AS INT) AS rnk, score FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY score DESC, cid ASC) AS rnk FROM scored)
           |WHERE rnk <= 5""".stripMargin),
    "top-5 cosine in the int8 domain: scales cancel, scores are exact integer algebra, q34's brute shape")

  /** ANN index-quality audit: exact recall@k of the DEPLOYED IVF
    * configuration against brute-force ground truth, per query — the
    * regression gate an index deployment runs after every quantizer
    * refresh or nprobe change (recall silently decaying as appends
    * drift the distribution is THE operational failure mode of an IVF
    * index; this measures it instead of assuming it).
    *
    * recall@k(q) = |IVF top-k(q) ∩ brute top-k(q)| / k, both sides
    * under the same tie rule (score desc, cid asc — the shared topK).
    * Output is hash-safe: hits and k are integers; the one division
    * is the same integer ratio on both engines.
    *
    * Scale shape: ground truth is the q34 broadcast brute pass — the
    * AUDIT cost, deliberately paid for the query SAMPLE only (queries
    * are a fixed small probe set; the corpus is scanned once, never
    * shuffled); the IVF side is the production q43 plan; the overlap
    * join is probe-set-sized. At 100 TB the audit samples queries,
    * not the corpus — same shape, same cost curve.
    */
  def ivfRecallAudit(e: DataFrame, cents: Array[Array[Double]],
      nprobe: Int, k: Int, isQuery: Column): DataFrame = {
    val q = e.where(isQuery)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val brute = topK(
      c.join(broadcast(q), col("cid") =!= col("qid"))
        .withColumn("score", cosineFast(col("qv"), col("cv"))), k)
      .select(col("qid"), col("cid"))
    val ivf = ivfSearchOn(e, cents, nprobe, k, isQuery)
      .select(col("qid"), col("cid"), lit(1).as("m"))
    brute.join(ivf, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("m").isNotNull, lit(1L)).otherwise(lit(0L))).as("hits"))
      .withColumn("recall", col("hits").cast("double") / col("k"))
  }

  val q155 = Q(
    "q155_ann_recall",
    (s, d) => ivfRecallAudit(emb(s, d), storedCentroids(s, d, 16, 2),
      nprobe = 4, k = 5, isQuery = col("vec_id") < 10),
    Some(s"""WITH ct AS (
           |  SELECT i AS cl, v AS cv
           |  FROM read_parquet('$gateModelDir/ivf_centroids_16_2.parquet/*.parquet')
           |), e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), brute AS (
           |  SELECT qid, cid FROM (
           |    SELECT q.vec_id AS qid, c.vec_id AS cid,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        list_dot_product(q.v, c.v) /
           |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
           |        DESC, c.vec_id ASC) AS rnk
           |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 10) WHERE rnk <= 5
           |), a AS (
           |  SELECT vec_id, v, cl FROM (
           |    SELECT e.vec_id, e.v, ct.cl,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_dot_product(e.v, ct.cv) /
           |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |        DESC, ct.cl DESC) AS rn
           |    FROM e CROSS JOIN ct) WHERE rn = 1
           |), probes AS (
           |  SELECT qid, cl FROM (
           |    SELECT a.vec_id AS qid, ct.cl,
           |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
           |        list_dot_product(a.v, ct.cv) /
           |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
           |        DESC, ct.cl ASC) AS pr
           |    FROM a CROSS JOIN ct WHERE a.vec_id < 10) WHERE pr <= 4
           |), ivf AS (
           |  SELECT qid, cid FROM (
           |    SELECT p.qid, a.vec_id AS cid,
           |      ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
           |        list_dot_product(q.v, a.v) /
           |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(a.v, a.v)))
           |        DESC, a.vec_id ASC) AS rnk
           |    FROM probes p
           |    JOIN a ON a.cl = p.cl AND a.vec_id <> p.qid
           |    JOIN e q ON q.vec_id = p.qid) WHERE rnk <= 5
           |)
           |SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS k,
           |  CAST(SUM(CASE WHEN i.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(SUM(CASE WHEN i.cid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS recall
           |FROM brute b LEFT JOIN ivf i ON i.qid = b.qid AND i.cid = b.cid
           |GROUP BY b.qid""".stripMargin),
    "ANN recall@5 audit: deployed IVF (16 lists, 4 probes) vs brute-force ground truth per query, exact integer hits")

  val all: Seq[Q] = Seq(q34, q35, q41, q43, q63, q75, q81, q84, q85, q92,
    q105, q117, q143, q144, q155)
}
