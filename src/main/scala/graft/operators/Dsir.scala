package graft.operators

import graft.{Q, QueryPack, StoredArtifacts, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style data selection: hashed n-gram importance resampling
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"). Documents from a large RAW crawl are weighted by how
  * much they look like a small TARGET corpus under two bag-of-hashed-
  * n-gram unigram models, then resampled by weight — the standard
  * pick-the-Wikipedia-like-slice-of-CommonCrawl step of an LLM data
  * pipeline.
  *
  * Scale shape: the feature pass is one scan (explode + lead window
  * per doc, grams hashed to `buckets` 64-bit-hash buckets on the spot —
  * no vocabulary is ever built or shuffled); the two side models are
  * ONE partial-agg'd groupBy of at most `buckets` rows, which then
  * BROADCAST back onto the feature stream — so a 100 TB corpus pays
  * two linear scans and shuffles only (doc_id,bucket,count) triples,
  * never text. The importance weight is a per-doc sum, map-side
  * combinable; resampling is a deterministic Gumbel top-k
  * (TakeOrderedAndProject — per-partition heaps, no global sort).
  */
object Dsir extends QueryPack {

  /** Hashed uni+bigram bag-of-features: (doc_id, is_target, b, cnt) —
    * one row per document×bucket with its occurrence count. Unigrams
    * and bigrams hash under distinct seeds (xxhash64(1,·) / (2,·)) so
    * the two families cannot collide into each other systematically.
    * The hashing step has no DuckDB mirror, so the gate ships this
    * table as data (the q32/q148 export contract) while the oracle
    * recomputes everything downstream of it. A NULL `isTarget`
    * counts as raw — never silently dropped (review-pinned in
    * DsirSpec).
    */
  def hashedFeatures(docsDf: DataFrame, isTarget: Column, buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val B = lit(buckets.toLong)
    // review fix: a NULL isTarget would silently drop its doc's mass
    // from BOTH side models (when(null,·)/when(!null,·) both miss);
    // define NULL = raw (unknown provenance is not the target corpus).
    // The provenance flag rides the shared tokenizer pass
    // (Dedup.posWords — the one audited explode shape) as a doc-level
    // expression evaluated before the explode.
    graft.operators.Dedup
      .posWords(docsDf, coalesce(isTarget, lit(false)).as("is_target"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"), col("is_target"), col("w"),
        lead(col("w"), 1).over(byPos).as("nw"))
      .select(col("doc_id"), col("is_target"),
        explode(concat(
          array(pmod(xxhash64(lit(1), col("w")), B)),
          when(col("nw").isNotNull,
            array(pmod(xxhash64(lit(2), concat_ws(" ", col("w"), col("nw"))), B)))
            .otherwise(array().cast("array<bigint>")))).as("b"))
      .groupBy(col("doc_id"), col("is_target"), col("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-bucket side models: (b, ct, cr) occurrence counts over the
    * target and raw sides — at most `buckets` rows, the broadcastable
    * model both the weights and the gate consume.
    */
  def bucketCounts(feats: DataFrame): DataFrame =
    feats.groupBy(col("b"))
      .agg(sum(when(col("is_target"), col("cnt")).otherwise(lit(0L))).as("ct"),
        sum(when(!col("is_target"), col("cnt")).otherwise(lit(0L))).as("cr"))

  /** The weight fold shared by [[importanceWeights]] (models trained
    * on the scored corpus itself) and [[importanceWeightsUnder]]
    * (frozen models): a LEFT broadcast join so buckets the model never
    * saw score as count-0 (the smoothing's job), then one per-doc
    * map-side-combinable sum. The per-doc groupBy rides the feature
    * pass's existing doc_id hash-partitioning — no extra exchange.
    */
  private def weightsCore(feats: DataFrame, counts: DataFrame, buckets: Int): DataFrame = {
    val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    feats.join(broadcast(counts), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * (log(coalesce(col("ct"), lit(0L)) + lit(1.0))
          - log(coalesce(col("cr"), lit(0L)) + lit(1.0)))).as("s"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_feats"),
        (col("s") - col("n_feats") *
          (log(col("tt") + lit(buckets.toDouble)) - log(col("tr") + lit(buckets.toDouble))))
          .as("log_w"))
  }

  /** Per-document DSIR log importance weight under add-1-smoothed
    * hashed unigram models:
    *
    *   log w(d) = Σ_b n_d(b)·(ln(c_t(b)+1) − ln(c_r(b)+1))
    *              − n_d · (ln(C_t+B) − ln(C_r+B))
    *
    * Output: (doc_id, is_target, n_feats, log_w). Documents with no
    * features (empty text) carry log_w = 0 (both models assign them
    * probability 1 vacuously). `ln` keeps this engine-side — the gate
    * (q151) exports the EXACT-INTEGER consumer facts instead (dot
    * products and totals), which pin every input of this formula
    * without putting a libm-dependent float in a hash-compared row.
    */
  def importanceWeights(docsDf: DataFrame, isTarget: Column,
                        buckets: Int = Buckets): DataFrame = {
    val feats = graft.util.reused(hashedFeatures(docsDf, isTarget, buckets))
    // same NULL→raw coalesce as hashedFeatures: a NULL-provenance doc is
    // WEIGHTED as raw, so it must also REPORT is_target = false, not NULL
    docsDf.select(col("doc_id"), coalesce(isTarget, lit(false)).as("is_target"))
      .join(weightsCore(feats, bucketCounts(feats), buckets), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_target"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("log_w"), lit(0.0)).as("log_w"))
  }

  /** Scoring under FROZEN side models — the deployment form at 100 TB:
    * the models train once on reference corpora (or are maintained at
    * delta cost by [[countsIncrement]]), and the raw crawl is scored
    * in ONE pass — the ≤buckets-row model table broadcasts, nothing
    * about the corpus shuffles to the model, and buckets absent from
    * the model score as count 0 under the smoothing. Stateless and
    * narrow past the per-doc window, so the same call scores a
    * readStream micro-batch unchanged. Output: (doc_id, n_feats,
    * log_w).
    */
  def importanceWeightsUnder(docsDf: DataFrame, counts: DataFrame,
                             buckets: Int = Buckets): DataFrame = {
    val feats = hashedFeatures(docsDf, lit(false), buckets)
    docsDf.select(col("doc_id"))
      .join(weightsCore(feats, counts, buckets), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("log_w"), lit(0.0)).as("log_w"))
  }

  /** Nightly additive fold of the side models (the Bpe.dictIncrement
    * pattern): the delta batch is counted once and summed into the
    * stored (b, ct, cr) table — delta-cost maintenance, fold ≡ full
    * recount exactly (integer counts; DsirSpec + tools.IncrAudit
    * `dsir_counts_incr`). Both inputs partial-agg; the fold shuffles
    * ≤ buckets + |delta buckets| rows.
    */
  def countsIncrement(stored: DataFrame, deltaDocs: DataFrame, isTarget: Column,
                      buckets: Int = Buckets): DataFrame =
    stored.unionByName(bucketCounts(hashedFeatures(deltaDocs, isTarget, buckets)))
      .groupBy(col("b"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))

  /** Deterministic Gumbel top-k resample over the weights: each doc
    * draws u from its own hash (seed 3; no RNG — stable under
    * re-partitioning and reruns), g = log_w − ln(−ln(u)), and the k
    * largest g win — exactly the paper's resampling step with the
    * randomness made reproducible. Plan shape: TakeOrderedAndProject
    * (per-partition heaps), never a global sort.
    */
  def resampleTopK(weights: DataFrame, k: Int): DataFrame = {
    val m = lit(1L << 32)
    val u = (pmod(xxhash64(lit(3), col("doc_id")), m) + lit(1.0)) / (m + lit(2.0))
    weights
      .withColumn("gumbel", col("log_w") - log(-log(u)))
      .orderBy(col("gumbel").desc, col("doc_id"))
      .limit(k)
  }

  /** Fixed like the other exported-model params: the oracle SQL names
    * the export path, so the bucket count is part of the oracle
    * contract. 10^4 is the paper's hashed-feature dimensionality.
    */
  private[graft] val Buckets = 10000

  /** Gate split (the q133 convention): sources src15..src19 are the
    * TARGET distribution, src0..src14 the raw pool.
    */
  private def isTargetGate: Column =
    substring(col("source"), 4, 10).cast("int") >= 15

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Export the q151 oracle's feature table — called by [[graft.Verify]]
    * after planning, never from a query builder (the Ann.exportGateModels
    * contract). `dsir_feats_10000.parquet` (doc_id, b, cnt): the hashed
    * features, the one step DuckDB cannot mirror; the oracle re-derives
    * the side split from `documents`, both side models, and every
    * per-doc integer fact from scratch.
    */
  def exportGateFeatures(s: SparkSession, d: String): Unit =
    StoredArtifacts.exportOnce(s"dsir_feats_$Buckets", d) { p =>
      // unlike the model-sized gate exports (≤buckets/≤vocab rows,
      // coalesce(1)) this table is O(corpus) — one row per
      // doc×bucket — so keep the write parallel; the DuckDB oracle
      // globs *.parquet and reads multi-file output unchanged
      hashedFeatures(docs(s, d), isTargetGate, Buckets)
        .select(col("doc_id"), col("b"), col("cnt"))
        .coalesce(8).write.mode("overwrite").parquet(p)
    }

  /** DSIR with exact-integer gate facts (the consumer-step oracle
    * pattern): per document its side, feature mass n_feats = Σ n(b),
    * and the model dot products dot_t = Σ n(b)·c_t(b),
    * dot_r = Σ n(b)·c_r(b) plus the side totals — every input of the
    * importance weight as exactly-comparable integers. The oracle
    * recomputes ALL of them from the exported hashed features and the
    * documents table (side split included); only the hash itself ships
    * as data. [[importanceWeights]]/[[resampleTopK]] (the ln/Gumbel
    * consumers) are spec-pinned against a first-principles recompute.
    */
  val q151 = Q(
    "q151_dsir_weights",
    (s, d) => {
      val feats = graft.util.reused(
        hashedFeatures(docs(s, d), isTargetGate, Buckets))
      val counts = bucketCounts(feats)
      val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
      val per = feats.join(broadcast(counts), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_feats"),
          sum(col("cnt") * col("ct")).as("dot_t"),
          sum(col("cnt") * col("cr")).as("dot_r"))
      docs(s, d).select(col("doc_id"), isTargetGate.as("is_target"))
        .join(per, Seq("doc_id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("is_target"),
          coalesce(col("n_feats"), lit(0L)).as("n_feats"),
          coalesce(col("dot_t"), lit(0L)).as("dot_t"),
          coalesce(col("dot_r"), lit(0L)).as("dot_r"),
          coalesce(col("tt"), lit(0L)).as("tot_t"),
          coalesce(col("tr"), lit(0L)).as("tot_r"))
    },
    Some(s"""WITH f AS (
            |  SELECT doc_id, b, cnt
            |  FROM read_parquet('${Ann.gateModelDir}/dsir_feats_10000.parquet/*.parquet')
            |), m AS (
            |  SELECT doc_id, CAST(substring(source, 4, 10) AS INT) >= 15 AS is_t
            |  FROM documents
            |), side AS (
            |  SELECT f.b,
            |    SUM(CASE WHEN m.is_t THEN f.cnt ELSE 0 END) AS ct,
            |    SUM(CASE WHEN NOT m.is_t THEN f.cnt ELSE 0 END) AS cr
            |  FROM f JOIN m USING (doc_id) GROUP BY f.b
            |), tot AS (
            |  SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM side
            |), per AS (
            |  SELECT f.doc_id, SUM(f.cnt) AS n_feats,
            |    SUM(f.cnt * s.ct) AS dot_t, SUM(f.cnt * s.cr) AS dot_r
            |  FROM f JOIN side s USING (b) GROUP BY f.doc_id
            |)
            |SELECT m.doc_id, m.is_t AS is_target,
            |  CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
            |  CAST(COALESCE(p.dot_t, 0) AS BIGINT) AS dot_t,
            |  CAST(COALESCE(p.dot_r, 0) AS BIGINT) AS dot_r,
            |  CAST(COALESCE(tot.tt, 0) AS BIGINT) AS tot_t,
            |  CAST(COALESCE(tot.tr, 0) AS BIGINT) AS tot_r
            |FROM m LEFT JOIN per p USING (doc_id) CROSS JOIN tot""".stripMargin),
    "DSIR hashed n-gram importance facts (Xie et al. 2023): per-doc side-model dot products + totals as exact integers; ln/Gumbel consumers spec-pinned")

  val all: Seq[Q] = Seq(q151)
}
