package graft.operators

import graft.{Q, QueryPack, Tables}
import graft.functions.{splitHash, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-batch assembly operators — the last mile of an LLM data
  * pipeline: packing documents into fixed-token training sequences,
  * scrubbing PII spans, and computing per-source mixture weights.
  * (Beyond the reference's surface, like the rest of the LLM-pipeline
  * family; reference analogue: MoDevETL's push loop assembles keyed
  * batches for the destination index, push_to_es.py.)
  */
object Pack extends QueryPack {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Deterministic shuffle priority — q53/q59's multiplicative hash
    * on the doc id, in [0, 2^32); a nonzero salt gives an independent
    * order. Stable under re-partitioning, appends, and engine changes.
    */
  private[operators] def priority(salt: Long = 0L): Column =
    splitHash(col("doc_id"), salt) % 4294967296L

  /** Per-source running token sum in [[priority]] order, bucketed —
    * the one shape behind q59's take-while and q65's packing. A plain
    * per-source running window sorts a whole source in one task (a
    * billion-doc source = one straggler). Instead the priority space
    * is range-bucketed (order-preserving: every doc in bucket i
    * precedes bucket i+1, and priority ties share a bucket),
    * per-(source, bucket) token totals are prefix-summed (≤ `buckets`
    * rows per source — a tiny window, broadcast), and each bucket
    * sorts only its own slice, its running sum offset by the bucket
    * base. `cum_tok` is the exact global inclusive running sum; the
    * largest sort partition shrinks `buckets`-fold. With a `budget`,
    * buckets whose base already reaches it are pruned BEFORE the
    * in-bucket sort (the bulk of a big stratum).
    *
    * Returns (doc_id, source, n_tok, pri, bkt, bbase, cum_tok).
    */
  private[operators] def bucketedTokenSum(docsDf: DataFrame, nTok: Column,
      buckets: Int, budget: Option[Long] = None): DataFrame = {
    val width = 4294967296L / buckets
    val base = docsDf
      .select(col("doc_id"), col("source"), nTok.as("n_tok"), priority().as("pri"))
      .withColumn("bkt", floor(col("pri") / width).cast("int"))
    // deliberately NOT checkpointed: the tokenization pass runs twice
    // (bucket totals + probe side), but building the plan stays lazy,
    // and the result recomputes under executor loss instead of dying
    // with pinned checkpoint blocks
    val wB = Window.partitionBy(col("source")).orderBy(col("bkt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = base.groupBy(col("source"), col("bkt"))
      .agg(sum(col("n_tok")).as("btok"))
      .withColumn("bbase", sum(col("btok")).over(wB) - col("btok"))
      .select(col("source"), col("bkt"), col("bbase"))
    val wD = Window.partitionBy(col("source"), col("bkt"))
      .orderBy(col("pri").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // prefix table is <= buckets rows per source — pin the broadcast
    // rather than trusting stats propagation (PlanSpec asserts it)
    val joined = base.join(broadcast(prefixes), Seq("source", "bkt"))
    budget.fold(joined)(b => joined.where(col("bbase") < b))
      .withColumn("cum_tok", col("bbase") + sum(col("n_tok")).over(wD))
  }

  /** Sequence packing: concatenate each source's documents, in
    * deterministic pseudo-random order, into back-to-back `seqLen`-
    * token training sequences (GPT-style concat-then-chunk: documents
    * may straddle a boundary; `seq_id`/`seq_off` locate each doc's
    * start). The running token sum is [[bucketedTokenSum]], q59's
    * shape; unlike q59 nothing prunes — every document packs.
    */
  def packSequences(docsDf: DataFrame, seqLen: Long,
      buckets: Int = 64): DataFrame =
    bucketedTokenSum(docsDf, size(words(col("text"))).cast("long"), buckets)
      .withColumn("start", col("cum_tok") - col("n_tok"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        floor(col("start") / seqLen).cast("long").as("seq_id"),
        (col("start") % seqLen).as("seq_off"))

  val q65 = Q(
    "q65_seq_pack",
    (s, d) => packSequences(docs(s, d), 512L),
    Some("""WITH t AS (
           |  SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
           |    doc_id % 100000007 * 2654435761 % 4294967296 AS pri
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, source, n_tok,
           |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS strt
           |  FROM t
           |)
           |SELECT doc_id, source, n_tok,
           |  strt // 512 AS seq_id,
           |  strt % 512 AS seq_off
           |FROM c""".stripMargin),
    "sequence packing: deterministic-shuffle concat into 512-token training rows (bucketed prefix sums)")

  /** PII / URL scrubbing — the redaction pass a corpus release runs
    * before training: emails, URLs and long digit runs are replaced
    * with typed placeholder tokens, with exact per-kind match counts
    * kept for audit. Pure codegen'd regexp expressions (no UDFs); at
    * 100 TB this is a narrow map over the scan, no shuffle at all.
    * The word-soup test corpus contains no organic PII, so the gate
    * query plants one deterministic span of each kind per document
    * in-plan (mirrored verbatim in the oracle) — the transforms are
    * verified live, not vacuously.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^ ]+"
  val digitsRe = "[0-9]{7,}"

  def scrub(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_email", regexp_count(t, lit(emailRe)))
      .withColumn("n_url", regexp_count(t, lit(urlRe)))
      .withColumn("n_num", regexp_count(t, lit(digitsRe)))
      .withColumn(textCol,
        regexp_replace(
          regexp_replace(
            regexp_replace(t, emailRe, "<EMAIL>"),
            urlRe, "<URL>"),
          digitsRe, "<NUM>"))
  }

  val q66 = Q(
    "q66_pii_scrub",
    (s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via "),
          lit("https://example.org/d/"), col("doc_id"),
          lit(" ref "), lpad(col("doc_id").cast("string"), 9, "0")).as("text"))
      scrub(planted).select(col("doc_id"), col("text"),
        col("n_email"), col("n_url"), col("n_num"))
    },
    Some(s"""WITH planted AS (
           |  SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example.com via ' ||
           |    'https://example.org/d/' || doc_id || ' ref ' ||
           |    lpad(CAST(doc_id AS VARCHAR), 9, '0') AS text
           |  FROM documents
           |)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '$emailRe', '<EMAIL>', 'g'),
           |    '$urlRe', '<URL>', 'g'),
           |    '$digitsRe', '<NUM>', 'g') AS text,
           |  CAST(len(regexp_extract_all(text, '$emailRe')) AS INT) AS n_email,
           |  CAST(len(regexp_extract_all(text, '$urlRe')) AS INT) AS n_url,
           |  CAST(len(regexp_extract_all(text, '$digitsRe')) AS INT) AS n_num
           |FROM planted""".stripMargin),
    "PII/URL scrubbing: typed placeholder redaction + exact audit counts (codegen regexp, no shuffle)")

  /** Per-source mixture weights: the sampling rate each source needs
    * so the sampled corpus hits a TARGET token share per source —
    * uniform target here (total/|sources|), capped at 1 (a source
    * cannot be upsampled by dropping). Two tiny aggregates + one
    * cross join of a 1-row frame; the weights are the broadcast input
    * a 100 TB sampling pass (q53-style hash gate per doc) consumes.
    * `nTok` swaps the accounting to exact BPE tokens (see
    * [[graft.operators.Text.tokenBudgetSample]]).
    */
  def mixtureWeights(docsDf: DataFrame,
      nTok: Column = size(words(col("text"))).cast("long")): DataFrame = {
    val perSource = docsDf.groupBy(col("source"))
      .agg(sum(nTok).as("src_tok"))
    val totals = perSource.agg(
      sum(col("src_tok")).as("tot_tok"),
      count(lit(1)).as("n_src"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("src_tok"),
        round(least(lit(1.0),
          (col("tot_tok").cast("double") / col("n_src")) / col("src_tok")), 6)
          .as("weight"))
  }

  val q67 = Q(
    "q67_mix_weights",
    (s, d) => mixtureWeights(docs(s, d)),
    Some("""WITH per_src AS (
           |  SELECT source,
           |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS src_tok
           |  FROM documents GROUP BY source
           |), tot AS (
           |  SELECT CAST(SUM(src_tok) AS BIGINT) AS tot_tok, COUNT(*) AS n_src FROM per_src
           |)
           |SELECT source, src_tok,
           |  ROUND(LEAST(1.0, (CAST(tot_tok AS DOUBLE) / n_src) / src_tok), 6) AS weight
           |FROM per_src CROSS JOIN tot""".stripMargin),
    "per-source mixture weights: sampling rates to hit a uniform token share (broadcast dim for the sample gate)")

  /** Temperature-flattened mixture sampling rates — the multilingual /
    * multi-source recipe (T5's and LLaMA's data mixing): sample so the
    * SAMPLED corpus has per-source token mass ∝ n_s^alpha, with
    * alpha ∈ (0,1) up-weighting rare sources without fully equalizing
    * them (q67's uniform target is the alpha→0 limit; alpha=1 is
    * no-op proportional sampling). Emitted per source: the exact
    * token count, the exact share (integer sums, ONE double
    * division), and the downsampling rate
    * `rate_s = (n_min/n_s)^(1−alpha)` — normalized by the SMALLEST
    * source so every rate is in (0, 1] (keep the rarest source whole,
    * thin the heavy ones); the hash-gate sampler (q73) consumes the
    * rates as its broadcast dim unchanged.
    *
    * alpha is fixed at 1/2 here so the power is `sqrt` — correctly
    * rounded IEEE in every engine, which keeps the gate hash-exact
    * (general `pow` differs in the last ulp across libm
    * implementations; a deployment wanting another alpha accepts
    * oracle tolerance or quantizes).
    *
    * Same scale shape as q67: one map-partial token aggregate over
    * the corpus, a 1-row broadcast of (total, min), no other shuffle.
    */
  def mixtureTemperature(docsDf: DataFrame,
      nTok: Column = size(words(col("text"))).cast("long")): DataFrame = {
    val perSource = docsDf.groupBy(col("source"))
      .agg(sum(nTok).as("n_tokens"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("tot_tok"),
      min(col("n_tokens")).as("min_tok"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tok")).as("share"),
        sqrt(col("min_tok").cast("double") / col("n_tokens")).as("rate"))
  }

  val q122 = Q(
    "q122_mix_temperature",
    (s, d) => mixtureTemperature(docs(s, d)),
    Some("""WITH per_src AS (
           |  SELECT source,
           |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source
           |), tot AS (
           |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tok,
           |    CAST(MIN(n_tokens) AS BIGINT) AS min_tok FROM per_src
           |)
           |SELECT source, n_tokens,
           |  CAST(n_tokens AS DOUBLE) / tot_tok AS share,
           |  SQRT(CAST(min_tok AS DOUBLE) / n_tokens) AS rate
           |FROM per_src CROSS JOIN tot""".stripMargin),
    "temperature mixture sampling (alpha=1/2): per-source rates for sampled mass ∝ n^alpha, sqrt-exact cross-engine")

  /** Overlapping token-window chunking — the RAG/context-window prep
    * that splits long documents into `chunkLen`-token windows every
    * `stride` tokens (the final window may be short; every token is
    * covered; chunks overlap by chunkLen − stride). One narrow map +
    * explode: the token array is materialized ONCE per document before
    * the chunk-index explosion, so tokenization is not re-paid per
    * chunk, and no shuffle happens at all — a 100 TB corpus chunks at
    * scan speed. `slice` on the pre-split array is interpreted
    * (CodegenFallback), but runs once per emitted chunk on an
    * already-tokenized array — the explode dominates, not the lambda.
    */
  def chunkDocs(docsDf: DataFrame, chunkLen: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= chunkLen,
      s"chunk stride must be in (0, chunkLen]: stride=$stride chunkLen=$chunkLen")
    val w = words(col("text"))
    docsDf
      .select(col("doc_id"), w.as("w"), size(w).as("n_tok"))
      .select(col("doc_id"), col("w"), col("n_tok"),
        // one chunk per stride step while the window START < n_tok;
        // equivalently ceil((n_tok - chunkLen)/stride) + 1 full-ish
        // windows, floored at 1 so every doc emits at least one
        explode(sequence(lit(0),
          greatest(lit(0), ceil((col("n_tok") - chunkLen).cast("double") / stride).cast("int"))))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(lit(chunkLen), col("n_tok") - col("chunk_id") * stride).as("tok_len"),
        concat_ws(" ", slice(col("w"), col("chunk_id") * stride + 1, lit(chunkLen))).as("chunk"))
  }

  val q69 = Q(
    "q69_chunk",
    (s, d) => chunkDocs(docs(s, d), chunkLen = 32, stride = 24),
    Some("""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
           |         len(string_split_regex(trim(text), '\s+')) AS n_tok
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, w, n_tok, unnest(generate_series(0,
           |    GREATEST(0, CAST(ceil((n_tok - 32) / 24.0) AS INT)))) AS chunk_id
           |  FROM t
           |)
           |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           |  CAST(chunk_id * 24 AS INT) AS tok_start,
           |  CAST(LEAST(32, n_tok - chunk_id * 24) AS INT) AS tok_len,
           |  array_to_string(w[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk
           |FROM c""".stripMargin),
    "overlapping token-window chunking: 32-token windows every 24 (RAG/context prep, no shuffle)")

  /** Apply the q67 mixture weights as an actual sampling pass: each
    * document is kept iff its deterministic gate hash (q53's
    * multiplicative hash, distinct salt so the sample is independent
    * of the split/packing order) falls under its source's admission
    * rate. The weights frame is tiny (one row per source) and
    * explicitly broadcast, so the whole pass is a narrow broadcast
    * join + filter over the scan — no shuffle of the corpus at any
    * scale, and the expected kept-token share per source is uniform.
    * Deterministic: re-running on an appended corpus keeps exactly
    * the previously-kept documents whose sources' rates didn't move.
    */
  def applyMixture(docsDf: DataFrame): DataFrame = {
    val w = mixtureWeights(docsDf).select(col("source"), col("weight"))
    val gate = priority(7919L)
    docsDf.select(col("doc_id"), col("source"))
      .join(broadcast(w), Seq("source"))
      .where(gate < col("weight") * lit(4294967296L))
      .select(col("doc_id"), col("source"))
  }

  val q73 = Q(
    "q73_mix_sample",
    (s, d) => applyMixture(docs(s, d)),
    Some("""WITH per_src AS (
           |  SELECT source,
           |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS src_tok
           |  FROM documents GROUP BY source
           |), tot AS (
           |  SELECT CAST(SUM(src_tok) AS BIGINT) AS tot_tok, COUNT(*) AS n_src FROM per_src
           |), w AS (
           |  SELECT source,
           |    ROUND(LEAST(1.0, (CAST(tot_tok AS DOUBLE) / n_src) / src_tok), 6) AS weight
           |  FROM per_src CROSS JOIN tot
           |)
           |SELECT d.doc_id, d.source
           |FROM documents d JOIN w USING (source)
           |WHERE (d.doc_id % 100000007 + 7919) % 100000007 * 2654435761 % 4294967296
           |      < w.weight * 4294967296""".stripMargin),
    "mixture sampling: q67's per-source rates applied via deterministic hash gate (broadcast dim, no corpus shuffle)")

  /** Per-key top-K cap as a salted TWO-PHASE rank, for provenance
    * caps ("at most K documents per domain", C4-style) where a hot
    * key can hold millions of rows: a single
    * `row_number over (partition by key)` funnels every row of the
    * hottest key through one sort task. Phase 1 ranks within
    * (key, salt-of-tiebreaker) — the hot key spreads over `salts`
    * tasks and each emits at most k rows; phase 2 ranks the ≤ k·salts
    * survivors per key, a bounded partition by construction. Output
    * is IDENTICAL to the single-window formulation (spec-pinned):
    * every member of a key's global top-k is also in its salt's
    * top-k, and both phases order by the same deterministic
    * (priority, tiebreaker). The salt is a content hash of the
    * tiebreaker — deterministic under retries (no rand/row-id).
    */
  def capPerKey(df: DataFrame, keyCol: String, priCol: String,
      tieCol: String, k: Int, salts: Int = 16): DataFrame = {
    require(k > 0 && salts > 0, s"need k > 0 and salts > 0: k=$k salts=$salts")
    require(!df.columns.contains("_rk"),
      "capPerKey uses a scratch column named _rk; rename the input's _rk column first")
    val salt = pmod(xxhash64(col(tieCol)), lit(salts))
    val w1 = Window.partitionBy(col(keyCol), salt)
      .orderBy(col(priCol).asc, col(tieCol).asc)
    val w2 = Window.partitionBy(col(keyCol))
      .orderBy(col(priCol).asc, col(tieCol).asc)
    df.withColumn("_rk", row_number().over(w1)).where(col("_rk") <= k)
      .withColumn("_rk", row_number().over(w2)).where(col("_rk") <= k)
      .drop("_rk")
  }

  /** The gate corpus has no provenance URLs, so the query plants a
    * deterministic domain per document (37 domains ≈ 13 docs each at
    * sf0.01, mirrored verbatim in the oracle) and caps each domain at
    * 8 — both keep-all and cut domains are exercised. Priority is the
    * q73 gate hash with a distinct salt so capping is independent of
    * sampling/split order.
    */
  val q76 = Q(
    "q76_domain_cap",
    (s, d) => {
      val withDom = docs(s, d).select(col("doc_id"),
        concat(lit("d"), (col("doc_id") % 37).cast("string"),
          lit(".example.com")).as("domain"),
        priority(104729L).as("pri"))
      capPerKey(withDom, "domain", "pri", "doc_id", k = 8)
        .select(col("doc_id"), col("domain"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id,
           |    'd' || (doc_id % 37) || '.example.com' AS domain,
           |    (doc_id % 100000007 + 104729) % 100000007 * 2654435761 % 4294967296 AS pri
           |  FROM documents
           |)
           |SELECT doc_id, domain FROM (
           |  SELECT doc_id, domain,
           |    row_number() OVER (PARTITION BY domain ORDER BY pri, doc_id) AS rn
           |  FROM d)
           |WHERE rn <= 8""".stripMargin),
    "per-domain document cap: salted two-phase top-K (hot domains never sort in one task)")

  /** Multi-dimensional stratified sampling: a fixed quota per
    * (source × lang) STRATUM — how an eval/audit set is actually
    * drawn (q59 budgets tokens per source; this balances CELLS so a
    * rare stratum, e.g. zh docs from one source, is represented
    * instead of drowned by the corpus mixture). Priority is the
    * engine's deterministic multiplicative hash with its own salt, so
    * stratum membership is stable under appends and independent of
    * the split/sample/cap orderings; selection within a stratum is
    * the salted two-phase [[capPerKey]] rank — a hot stratum (one
    * source dominating one language at 100 TB) spreads over salt
    * tasks, never one whole-stratum sort. Oracle = the plain
    * single-window rank, which capPerKey is spec-pinned to equal.
    */
  def stratifiedSample(docsDf: DataFrame, dims: Seq[String], k: Int): DataFrame = {
    val stratum = concat_ws("\u0001", dims.map(col): _*)
    val withPri = docsDf.select(
      (col("doc_id") +: dims.map(col)) :+ stratum.as("_stratum") :+
        priority(7919L).as("_pri"): _*)
    capPerKey(withPri, "_stratum", "_pri", "doc_id", k)
      .drop("_stratum", "_pri")
  }

  val q104 = Q(
    "q104_strat_sample",
    (s, d) => stratifiedSample(docs(s, d), Seq("source", "lang"), k = 5),
    Some("""WITH d AS (
           |  SELECT doc_id, source, lang,
           |    (doc_id % 100000007 + 7919) % 100000007 * 2654435761 % 4294967296 AS pri
           |  FROM documents)
           |SELECT doc_id, source, lang FROM (
           |  SELECT doc_id, source, lang,
           |    row_number() OVER (PARTITION BY source, lang ORDER BY pri, doc_id) AS rn
           |  FROM d)
           |WHERE rn <= 5""".stripMargin),
    "stratified eval sampling: quota per (source, lang) cell via the salted two-phase rank")

  /** The whole pre-training data-prep recipe as ONE composed call —
    * the LLM-side analogue of `sources.EtlPipeline.run` (which
    * composes the reference's extract→patch→push loop): quality gate
    * → near-dedup (pairs→components→keepers) → optional per-source
    * cap → mixture sampling → sequence packing. Every stage is the
    * already-verified operator; this is the glue, kept in the library
    * so the recipe order (cheap map-side gate FIRST, so dedup's
    * candidate generation never pays for junk documents) is the
    * default a user gets. Returns the packed training rows
    * (doc_id, source, n_tok, seq_id, seq_off) joined back to text.
    * Fully deterministic: every stage keys off content/id hashes.
    */
  def preparePretrainingCorpus(docsDf: DataFrame, threshold: Double = 0.5,
      seqLen: Long = 512L, maxDocsPerSource: Int = 0): DataFrame = {
    val gated = docsDf.join(
      Text.qualityGate(docsDf).where(col("keep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val deduped = Cluster.dedupCorpus(gated, threshold)
    val capped =
      if (maxDocsPerSource <= 0) deduped
      else capPerKey(
        deduped.withColumn("_pri", priority(104729L)),
        "source", "_pri", "doc_id", maxDocsPerSource).drop("_pri")
    val sampled = capped.join(
      applyMixture(capped).select(col("doc_id")), Seq("doc_id"), "left_semi")
    packSequences(sampled, seqLen)
      .join(docsDf.select(col("doc_id"), col("text")), "doc_id")
  }

  val all: Seq[Q] = Seq(q65, q66, q67, q69, q73, q76, q104, q122)
}
