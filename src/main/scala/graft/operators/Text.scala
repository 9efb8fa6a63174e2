package graft.operators

import graft.{Q, QueryPack, Tables}
import graft.util.pin
import graft.functions.{fingerprint, shingles, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: exact dedup,
  * language-ID, quality scoring, token counting, fingerprinting.
  *
  * Everything here is a pure Column expression (codegen'd, one scan,
  * no UDFs): at 100 TB these are the map-side of the pipeline and
  * must not break whole-stage codegen. Ratios divide by constants /
  * counts in one fixed order so doubles match the oracle bit-for-bit.
  */
object Text extends QueryPack {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  val q30 = Q(
    "q30_dedup_exact",
    (s, d) =>
      docs(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(
          min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies")),
    Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
           |  COUNT(*) AS n_copies
           |FROM documents GROUP BY 1""".stripMargin),
    "exact dedup via content hash; keeper = min doc_id per hash group")

  // Frequency-weighted marker-word scores: every occurrence counts (not
  // set intersection), so longer docs in a language score higher.
  private val enM = Seq("the", "a", "of", "and", "is")
  private val esM = Seq("el", "la", "de", "que", "los")
  private val deM = Seq("der", "die", "und", "das", "ist")
  private val frM = Seq("le", "les", "et", "des", "une")
  // Whitespace tokenization cannot segment Chinese; zh detection keys on
  // the characters appearing anywhere as tokens. Honest limitation of a
  // stopword heuristic, stated rather than hidden.
  private val zhM = Seq("的", "是", "了", "在", "我")

  val q36 = Q(
    "q36_lang_id",
    (s, d) => {
      // Exploded-token conditional sums (codegen'd) instead of five
      // per-row filter lambdas (CodegenFallback): one Generate + one
      // partial-aggregated group-by, ~4x faster at sf0.1.
      def score(markers: Seq[String]) =
        sum(when(col("t").isin(markers: _*), 1).otherwise(0)).cast("int")
      val agged = docs(s, d)
        .select(col("doc_id"), explode(words(col("text"))).as("t"))
        .groupBy(col("doc_id"))
        .agg(
          score(enM).as("s_en"),
          score(esM).as("s_es"),
          score(deM).as("s_de"),
          score(frM).as("s_fr"),
          score(zhM).as("s_zh"))
      // left join back so zero-token docs keep a row (explode is inner);
      // they score 0 everywhere and fall to the 'en' precedence default
      val scored = docs(s, d).select(col("doc_id")).join(agged, Seq("doc_id"), "left")
        .select(col("doc_id") +:
          Seq("s_en", "s_es", "s_de", "s_fr", "s_zh")
            .map(c => coalesce(col(c), lit(0)).as(c)): _*)
      scored.withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
          col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr") &&
            col("s_es") >= col("s_zh"), "es")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
          .when(col("s_fr") >= col("s_zh"), "fr")
          .otherwise("zh"))
    },
    Some("""WITH scored AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(w, t -> t IN ('the','a','of','and','is'))) AS INT) AS s_en,
           |    CAST(len(list_filter(w, t -> t IN ('el','la','de','que','los'))) AS INT) AS s_es,
           |    CAST(len(list_filter(w, t -> t IN ('der','die','und','das','ist'))) AS INT) AS s_de,
           |    CAST(len(list_filter(w, t -> t IN ('le','les','et','des','une'))) AS INT) AS s_fr,
           |    CAST(len(list_filter(w, t -> t IN ('的','是','了','在','我'))) AS INT) AS s_zh
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents)
           |)
           |SELECT *, CASE
           |  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |  WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |  WHEN s_fr >= s_zh THEN 'fr'
           |  ELSE 'zh' END AS predicted
           |FROM scored""".stripMargin),
    "language-ID via frequency-weighted stopword markers, fixed precedence")

  private val stops = Seq("the", "a", "of", "and", "is", "in", "to", "it")

  val q37 = Q(
    "q37_quality",
    (s, d) => {
      val ws = words(col("text"))
      docs(s, d).select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(ws).as("n_words"),
        // Run-fused char-class strips (r19, the q48 lesson): with ""
        // as the replacement, deleting every maximal RUN ([c]+)
        // produces the identical string to deleting per CHARACTER
        // ([c]) while matching once per run instead of once per char.
        // The oracle keeps the per-char spelling; PropertySpec pins
        // run-fused ≡ per-char on crafted edges + the corpus.
        (length(regexp_replace(col("text"), "\\s+", "")).cast("double") / size(ws)).as("avg_word_len"),
        (length(regexp_replace(col("text"), "[^.,;:!?]+", "")).cast("double") / length(col("text"))).as("punct_ratio"),
        (length(regexp_replace(col("text"), "[^0-9]+", "")).cast("double") / length(col("text"))).as("digit_ratio"),
        (size(filter(ws, t => t.isin(stops: _*))).cast("double") / size(ws)).as("stop_ratio"))
        .withColumn("quality",
          round(col("stop_ratio") * 0.5 +
            (lit(1.0) - col("punct_ratio")) * 0.3 +
            least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.2, 6))
    },
    Some("""WITH f AS (
           |  SELECT doc_id,
           |    CAST(length(text) AS INT) AS n_chars_m,
           |    CAST(len(w) AS INT) AS n_words,
           |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(w) AS avg_word_len,
           |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
           |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio,
           |    CAST(len(list_filter(w, t -> t IN ('the','a','of','and','is','in','to','it'))) AS DOUBLE) / len(w) AS stop_ratio
           |  FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') w FROM documents)
           |)
           |SELECT *, ROUND(stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 +
           |  LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.2, 6) AS quality
           |FROM f""".stripMargin),
    "quality scoring: word/punct/digit/stopword stats + composite score")

  val q38 = Q(
    "q38_tokens",
    (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(words(col("text"))).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).as("n_bpe_tokens"),
        ceil(length(col("text")).cast("double") / 4.0).cast("long").as("bpe_char_estimate")),
    Some("""SELECT doc_id,
           |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS n_bpe_tokens,
           |  CAST(CEIL(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS bpe_char_estimate
           |FROM documents""".stripMargin),
    "token counting: whitespace, BPE-ish regex segmentation, chars/4 estimate")

  val q39 = Q(
    "q39_fingerprint",
    (s, d) => {
      // Same result as graft.functions.fingerprint (the scalar-column
      // API), but via the shared codegen n-gram pipeline
      // (Dedup.ngrams) instead of the CodegenFallback-interpreted HOF
      // formulation; min-of-md5 over complete 5-grams.
      val fps = Dedup.ngrams(docs(s, d), 5)
        .groupBy(col("doc_id")).agg(min(md5(col("shingle"))).as("fp"))
      docs(s, d).select(col("doc_id")).join(fps, Seq("doc_id"), "left")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), fps AS (
           |  SELECT doc_id, MIN(md5(array_to_string(w[i:i+4], ' '))) AS fp
           |  FROM toks, UNNEST(generate_series(1, len(w) - 4)) t(i)
           |  GROUP BY doc_id
           |)
           |SELECT d.doc_id, fps.fp
           |FROM documents d LEFT JOIN fps ON d.doc_id = fps.doc_id""".stripMargin),
    "document fingerprint: min-hash over word 5-gram shingles (winnowing-style)")

  val q48 = Q(
    "q48_normalize",
    (s, d) =>
      // Canonicalization ahead of dedup/fingerprinting: lowercase,
      // strip non-alphanumerics, collapse whitespace. Pure codegen'd
      // string expressions in the scan projection — at 100 TB this is
      // the map-side prep pass every near-dup pipeline runs first.
      //
      // ONE regex pass (r19, guide §1.2 per-task work): the original
      // two passes (strip [^a-z0-9\s] to ' ', then collapse \s+) are
      // equivalent to replacing every maximal run of non-alphanumerics
      // with a single space — any such run becomes all-whitespace
      // after pass 1 and collapses to one ' ' in pass 2, and \s ⊂
      // [^a-z0-9] so no character changes class. One rewrite of each
      // row instead of two (each regexp_replace materializes a full
      // new string), and runs match once instead of per character.
      // The oracle keeps the two-pass spelling; results are identical
      // for every string (TextSpec pins old≡new on the corpus).
      docs(s, d).select(
        col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("norm_text"))
        .withColumn("norm_hash", md5(col("norm_text"))),
    Some("""SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
           |       '\s+', ' ', 'g')) AS norm_text,
           |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
           |      '\s+', ' ', 'g'))) AS norm_hash
           |FROM documents""".stripMargin),
    "text canonicalization (lower/strip/collapse) + content hash, pre-dedup pass")

  val q53 = Q(
    "q53_split",
    (s, d) =>
      // Deterministic train/val/test assignment: multiplicative
      // hashing on the stable doc id (graft.functions.splitHash —
      // see its doc for the determinism + ANSI-overflow contract).
      // 80/10/10.
      docs(s, d).select(
        col("doc_id"), col("source"),
        (graft.functions.splitHash(col("doc_id")) % 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .drop("bucket"),
    Some("""SELECT doc_id, source,
           |  CASE WHEN doc_id % 100000007 * 2654435761 % 100 < 80 THEN 'train'
           |       WHEN doc_id % 100000007 * 2654435761 % 100 < 90 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM documents""".stripMargin),
    "deterministic train/val/test split via multiplicative hashing, no RNG")

  /** The per-source corpus-stats ADDITIVE BASE — every column is
    * mergeable (counts/sums add, min/max semilattice), so the nightly
    * release report maintains incrementally and EXACTLY: aggregate
    * each delta alone ([[corpusStatsIncrement]]), derive the report
    * ([[corpusStatsReport]], which adds the non-mergeable avg as a
    * view). Same family as the daily-KPI base (Etl.dailyCounts /
    * kpiIncrement): history never rescanned, and like every additive
    * store it is non-idempotent under redelivery by design —
    * exactly-once lives in the extract bookmark.
    */
  def corpusStatsBase(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("source"), col("n_chars"),
        size(words(col("text"))).as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))

  /** Fold a delta batch of documents into a stored stats base at
    * delta cost: aggregate the delta alone, merge per source.
    */
  def corpusStatsIncrement(stored: DataFrame, deltaDocs: DataFrame): DataFrame =
    stored.unionByName(corpusStatsBase(deltaDocs))
      .groupBy(col("source"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens"),
        sum(col("total_chars")).as("total_chars"),
        min(col("min_tokens")).as("min_tokens"),
        max(col("max_tokens")).as("max_tokens"))

  /** The q54 report shape over a (maintained) base: adds the derived
    * avg — one exact long division per source.
    */
  def corpusStatsReport(base: DataFrame): DataFrame =
    base.select(col("source"), col("n_docs"), col("total_tokens"),
      col("total_chars"), col("min_tokens"), col("max_tokens"),
      (col("total_tokens").cast("double") / col("n_docs")).as("avg_tokens"))

  val q54 = Q(
    "q54_corpus_stats",
    // Corpus reporting: per-source doc/token/char totals + length
    // distribution — the summary pass every dataset release runs.
    // One aggregate over the scan; all expressions codegen'd.
    (s, d) => corpusStatsReport(corpusStatsBase(docs(s, d))),
    Some("""WITH t AS (
           |  SELECT source, n_chars,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
           |  FROM documents
           |)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
           |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
           |FROM t GROUP BY source""".stripMargin),
    "per-source corpus statistics: doc/token/char totals + length distribution")

  /** Gate entry for the incremental stats path (the q120 convention):
    * base from one third of the corpus, the other thirds folded in as
    * two [[corpusStatsIncrement]] batches, the report hash-checked
    * against q54's full-scan oracle verbatim — incremental ≡ full is
    * the contract, and every merged column is exact (adds and
    * semilattice ops, no floats until the final derived avg).
    */
  val q123 = Q(
    "q123_corpus_stats_incr",
    (s, d) => {
      val all = docs(s, d)
      def part(r: Int) = all.where(col("doc_id") % 3 === r)
      corpusStatsReport(
        corpusStatsIncrement(corpusStatsIncrement(
          corpusStatsBase(part(0)), part(1)), part(2)))
    },
    q54.oracle,
    "incremental corpus stats: delta batches folded into the additive base ≡ full q54 recompute (q54 oracle)")

  /** Token-budget stratified sampling — the mixture-building pass of a
    * training-data pipeline: from each source (stratum), take
    * documents in a deterministic pseudo-random priority order until
    * the stratum's token budget is filled, so no source dominates the
    * mixture. Priority is q53's multiplicative hash (no RNG: stable
    * under re-partitioning, appends, and engine changes); admission
    * keeps every document whose cumulative token sum STARTS under the
    * budget (so the budget may overshoot by at most one document,
    * never undershoot).
    *
    * Scale shape — distributed take-while over
    * [[Pack.bucketedTokenSum]]: dead buckets (running START already
    * ≥ budget) are pruned before any per-doc sort, and survivors sort
    * only their own 1/buckets slice. Output is identical to the
    * single-window formulation (spec-pinned).
    *
    * `nTok` is the per-document token accounting — whitespace words by
    * default (the oracle-expressible gate form); pass
    * `size(bpeTokenize(col("text"), merges))` to budget in exact BPE
    * tokens under a trained model (BpeSpec pins the equivalence).
    */
  def tokenBudgetSample(docsDf: DataFrame, tokensPerSource: Long,
      buckets: Int = 64,
      nTok: Column = size(words(col("text"))).cast("long")): DataFrame =
    Pack.bucketedTokenSum(docsDf, nTok, buckets, Some(tokensPerSource))
      .where(col("cum_tok") - col("n_tok") < tokensPerSource)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))

  /** The single-window formulation of `tokenBudgetSample` — the
    * readable spec of the semantics, used only to pin the bucketed
    * implementation's output (one whole-stratum sort per source; do
    * not use on large strata).
    */
  private[graft] def tokenBudgetSampleSingleSort(
      docsDf: DataFrame, tokensPerSource: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pri").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsDf
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tok"), Pack.priority().as("pri"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .where(col("cum_tok") - col("n_tok") < tokensPerSource)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
  }

  val q59 = Q(
    "q59_token_sample",
    (s, d) => tokenBudgetSample(docs(s, d), 500L),
    Some("""WITH t AS (
           |  SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
           |    doc_id % 100000007 * 2654435761 % 4294967296 AS pri
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, source, n_tok,
           |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
           |  FROM t
           |)
           |SELECT doc_id, source, n_tok, cum_tok FROM c
           |WHERE cum_tok - n_tok < 500""".stripMargin),
    "token-budget stratified sample: per-source deterministic-priority fill")

  /** Repetition metrics — the Gopher/C4-style quality filters that
    * catch degenerate generated/boilerplate text: duplicate-3-gram
    * ratio (1 − distinct/total) and the most-common-word fraction.
    * Two exploded aggregations (map-side partial; the per-doc
    * distinct is a single-distinct aggregate, no Expand), joined back
    * so short documents (< 3 words → no 3-grams) keep a row. Ratios
    * are one exact-integer division, bit-equal across engines.
    */
  val q60 = Q(
    "q60_repetition",
    (s, d) => {
      // r19: every metric is row-local — gram counts from the native
      // in-row n-gram array, word stats from the native counting pass
      // (see gateVerdicts). One map-only scan replaces two exploded
      // double-aggregations + two joins. Identity: same integer facts
      // from the same tokenizer; a short doc's in-row n_grams=0 takes
      // the same branches the old missing-row NULL took (coalesce→0,
      // `when(0 > 0)` and `when(NULL > 0)` both null the ratio).
      val g = graft.functions.wordNgrams(col("text"), 3)
      val st = graft.functions.wordStats(col("text"), stops)
      docs(s, d).select(
        col("doc_id"),
        coalesce(size(g).cast("long"), lit(0L)).as("n_grams"),
        coalesce(size(array_distinct(g)).cast("long"), lit(0L)).as("n_distinct"),
        when(size(g).cast("long") > 0,
          (size(g) - size(array_distinct(g))).cast("double") / size(g))
          .as("dup_gram_ratio"),
        (st.getField("mx").cast("double") / st.getField("tot")).as("top_word_ratio"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), g AS (
           |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), gs AS (
           |  SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT sh) AS n_distinct
           |  FROM g GROUP BY 1
           |), wc AS (
           |  SELECT doc_id, t AS wd, COUNT(*) AS c
           |  FROM toks, UNNEST(w) u(t) GROUP BY 1, 2
           |), ws AS (
           |  SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM wc GROUP BY 1
           |)
           |SELECT d.doc_id,
           |  COALESCE(gs.n_grams, 0) AS n_grams,
           |  COALESCE(gs.n_distinct, 0) AS n_distinct,
           |  CASE WHEN gs.n_grams > 0
           |       THEN CAST(gs.n_grams - gs.n_distinct AS DOUBLE) / gs.n_grams
           |  END AS dup_gram_ratio,
           |  CAST(ws.mx AS DOUBLE) / ws.tot AS top_word_ratio
           |FROM documents d
           |LEFT JOIN gs ON gs.doc_id = d.doc_id
           |LEFT JOIN ws ON ws.doc_id = d.doc_id""".stripMargin),
    "repetition quality metrics: duplicate-3-gram ratio + top-word fraction (Gopher/C4 filters)")

  /** Per-source length-band outlier filter — the p5–p95 gate a corpus
    * release runs to drop truncated fragments and concatenation
    * monsters. Thresholds are EXACT per-source quantiles via the
    * engine's distributed rank pattern (graft.util.rankPrep: value
    * compression + bucketed rank ranges — no per-group buffering AND
    * no single-task-per-group sort), broadcast back onto the scan as
    * a tiny per-source dim. The exact form is the oracle-verifiable
    * baseline; at 100 TB `graft.functions.approxPercentile`
    * (mergeable t-digest) is the even cheaper alternative — the
    * filter join is identical either way.
    */
  val q62 = Q(
    "q62_length_filter",
    (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("double").as("n_tok"))
      val prep = graft.util.rankPrep(
        base.select(col("source"), col("n_tok")), "source", "n_tok")
      val thresholds = prep.groupBy(col("source"))
        .agg(graft.util.quantileCont(col("n_tok"), 0.05).as("lo_tok"),
          graft.util.quantileCont(col("n_tok"), 0.95).as("hi_tok"))
      base.join(broadcast(thresholds), "source")
        .where(col("n_tok") >= col("lo_tok") && col("n_tok") <= col("hi_tok"))
        .select(col("doc_id"), col("source"), col("n_tok").cast("long").as("n_tok"),
          round(col("lo_tok"), 4).as("lo_tok"), round(col("hi_tok"), 4).as("hi_tok"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok
           |  FROM documents
           |), thr AS (
           |  SELECT source, quantile_cont(n_tok, 0.05) AS lo_tok,
           |         quantile_cont(n_tok, 0.95) AS hi_tok
           |  FROM t GROUP BY source
           |)
           |SELECT t.doc_id, t.source, CAST(t.n_tok AS BIGINT) AS n_tok,
           |  ROUND(thr.lo_tok, 4) AS lo_tok, ROUND(thr.hi_tok, 4) AS hi_tok
           |FROM t JOIN thr USING (source)
           |WHERE t.n_tok >= thr.lo_tok AND t.n_tok <= thr.hi_tok""".stripMargin),
    "length-band outlier filter: exact per-source p5-p95 gate (rank+interpolate thresholds)")

  /** Corpus-frequency quality score — the unigram-LM fluency proxy
    * (CCNet ranks documents by LM score; the shape here is identical
    * with corpus term frequency standing in for the trained model):
    * per document, the count and mean corpus frequency of its tokens.
    * Low mean_wf = rare/degenerate vocabulary; high = boilerplate-
    * common. A true log-prob variant is the same plan with
    * `log(wf/total)` in the sum — integer frequencies are used for the
    * gate because cross-engine `ln` is not bit-reproducible (the gate
    * hashes doubles bit-exact), and the single final division is.
    *
    * Scale shape: term frequencies are a map-side-partial groupBy (the
    * Zipf head is absorbed before the shuffle); the token→frequency
    * join is a hash join whose output is linear (each token row meets
    * exactly one dim row) with AQE skew-split handling the hot-word
    * partitions; then one partial-aggregated per-doc rollup. At 100 TB
    * the frequency dim exceeds broadcast size — the plan stays valid
    * as a plain shuffle join; for the Zipf head a broadcast top-K
    * hot-word split (q31's df-cut trick) halves the shuffled volume.
    */
  val q72 = Q(
    "q72_unigram_score",
    (s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(words(col("text"))).as("w"))
      val wf = toks.groupBy(col("w")).agg(count(lit(1)).as("wf"))
      toks.join(wf, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("wf")).as("sum_wf"))
        .withColumn("mean_wf", col("sum_wf").cast("double") / col("n_tok"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\s+')) AS w
           |  FROM documents
           |), wf AS (
           |  SELECT w, COUNT(*) AS wf FROM toks GROUP BY w
           |)
           |SELECT doc_id, COUNT(*) AS n_tok,
           |  CAST(SUM(wf) AS BIGINT) AS sum_wf,
           |  CAST(SUM(wf) AS DOUBLE) / COUNT(*) AS mean_wf
           |FROM toks JOIN wf USING (w) GROUP BY doc_id""".stripMargin),
    "unigram corpus-frequency score: mean token frequency per doc (CCNet-style LM-score proxy)")

  /** Composite quality gate — the Gopher/C4 rule set as one keep/drop
    * verdict per document with NAMED reasons (the operator a corpus
    * release actually runs; q37/q60 expose the underlying metrics):
    * word-count band, mean-word-length band, top-word fraction,
    * duplicate-3-gram fraction, minimum stopword evidence. Reasons
    * join into one comma-separated string in fixed rule order
    * (concat_ws drops the null non-firings on both engines) so the
    * gate output stays scalar-typed for the driver compare.
    *
    * Scale shape (r19): ONE map-only scan — every gate fact is
    * row-local, computed by the native WordStats/WordNgrams
    * expressions (see [[gateVerdicts]]); no explode, no join, no
    * exchange. Every ratio is a single division of integer facts, so
    * thresholds compare bit-identically across engines. Thresholds
    * are Gopher-ish, tuned so the templated corpus exercises both
    * verdicts.
    */
  /** The five gate rules as one reason-string expression, shared by
    * both formulations so their thresholds cannot drift.
    */
  private def gateReasons(tot: Column, nchars: Column, mx: Column,
      nGrams: Column, nDistinct: Column, nStop: Column): Column = {
    val awl = nchars.cast("double") / tot
    val topw = mx.cast("double") / tot
    val dup3 = (nGrams - nDistinct).cast("double") / nGrams
    concat_ws(",",
      when(tot < 30 || tot > 10000, "word_count"),
      when(awl < 3.0 || awl > 12.0, "word_len"),
      when(topw > 0.20, "top_word"),
      when(nGrams > 0 && dup3 > 0.30, "dup_3gram"),
      when(nStop < 2, "no_stopwords"))
  }

  /** The gate facts + verdicts as ONE scan projection (r19, guide
    * §2.4 — remove shuffles outright): every gate fact is a function
    * of a document's own row, so the r18 shape (two exploded
    * double-aggregations + two joins back — four exchanges of the
    * corpus word/gram streams) was pure plumbing. Word stats come
    * from the native [[graft.expressions.WordStats]] counting pass,
    * gram stats from `size`/`array_distinct` over the native
    * [[graft.expressions.WordNgrams]] array; the whole gate is now
    * map-only. `carry` columns pass through for callers that report
    * per-dimension (q78's source rollup — previously a full extra
    * scan + shuffle join).
    *
    * Identity with the exploded form (FunctionsSpec pins row ≡
    * aggregate on the corpus): integer facts from the same tokenizer;
    * null text → null stats ≡ the old left-join's missing-doc nulls;
    * a short doc's n_grams=0 and the old form's NULL both leave the
    * dup_3gram rule unfired (0 > 0 and NULL both skip the `when`,
    * and the 0/0 double division is IEEE NaN, never an error).
    */
  private[operators] def gateVerdicts(df: DataFrame, carry: Column*): DataFrame = {
    val g = graft.functions.wordNgrams(col("text"), 3)
    val st = graft.functions.wordStats(col("text"), stops)
    // \s+ not \s: deleting whitespace by maximal RUN yields the same
    // string as per-char deletion at one regex match per run (r19,
    // the q48 lesson; PropertySpec pins the equivalence)
    df.select((col("doc_id") +: carry) ++ Seq(
        st.getField("tot").as("tot"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nchars"),
        st.getField("mx").as("mx"),
        size(g).cast("long").as("n_grams"),
        size(array_distinct(g)).cast("long").as("n_distinct"),
        st.getField("nstop").as("n_stop")): _*)
      .withColumn("drop_reasons", gateReasons(col("tot"), col("nchars"),
        col("mx"), col("n_grams"), col("n_distinct"), col("n_stop")))
      .withColumn("keep", col("drop_reasons") === "")
  }

  def qualityGate(df: DataFrame): DataFrame =
    gateVerdicts(df)
      .select(col("doc_id"), col("tot").as("n_words"),
        col("keep"), col("drop_reasons"))

  /** Per-ROW formulation of the q74 gate: the same five verdicts
    * computed from each document's token array with array expressions
    * only — no explode, no groupBy, no join — so it is STATELESS and
    * runs unchanged inside a streaming `select` (no watermark, no
    * state store, per-record latency). The array lambdas are
    * interpreted (CodegenFallback, O(distinct·n) per row for the
    * top-word count), so the aggregate formulation stays the choice
    * for full-corpus batch scans; this one is for streams and
    * map-only contexts. FunctionsSpec pins row ≡ aggregate verdicts
    * on the whole corpus.
    */
  def qualityGateRow(df: DataFrame): DataFrame = {
    val ws = words(col("text"))
    // native in-row grams (r19): same values as shingles(ws, 3), no
    // per-element lambda interpretation
    val grams = graft.functions.wordNgrams(col("text"), 3)
    val wordCounts =
      transform(array_distinct(ws), w => size(filter(ws, x => x === w)))
    df.select(col("*"),
      size(ws).cast("long").as("_tot"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("_nchars"),
      array_max(wordCounts).cast("long").as("_mx"),
      size(grams).cast("long").as("_ng"),
      size(array_distinct(grams)).cast("long").as("_nd"),
      size(filter(ws, x => x.isin(stops: _*))).cast("long").as("_nstop"))
      .withColumn("drop_reasons", gateReasons(col("_tot"), col("_nchars"),
        col("_mx"), col("_ng"), col("_nd"), col("_nstop")))
      .select(col("doc_id"), col("_tot").as("n_words"),
        (col("drop_reasons") === "").as("keep"), col("drop_reasons"))
  }

  val q74 = Q(
    "q74_quality_gate",
    (s, d) => qualityGate(docs(s, d)),
    Some("""WITH toks AS (
           |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
           |  FROM documents
           |), wc AS (
           |  SELECT doc_id, t AS wd, COUNT(*) AS c
           |  FROM toks, UNNEST(w) u(t) GROUP BY 1, 2
           |), ws AS (
           |  SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot,
           |    CAST(SUM(CASE WHEN wd IN ('the','a','of','and','is','in','to','it')
           |             THEN c ELSE 0 END) AS BIGINT) AS n_stop
           |  FROM wc GROUP BY 1
           |), g AS (
           |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), gs AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |    CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_distinct
           |  FROM g GROUP BY 1
           |), r AS (
           |  SELECT t.doc_id, ws.tot,
           |    concat_ws(',',
           |      CASE WHEN ws.tot < 30 OR ws.tot > 10000 THEN 'word_count' END,
           |      CASE WHEN CAST(length(regexp_replace(t.text, '\s', '', 'g')) AS DOUBLE) / ws.tot < 3.0
           |             OR CAST(length(regexp_replace(t.text, '\s', '', 'g')) AS DOUBLE) / ws.tot > 12.0
           |           THEN 'word_len' END,
           |      CASE WHEN CAST(ws.mx AS DOUBLE) / ws.tot > 0.20 THEN 'top_word' END,
           |      CASE WHEN gs.n_grams > 0
           |             AND CAST(gs.n_grams - gs.n_distinct AS DOUBLE) / gs.n_grams > 0.30
           |           THEN 'dup_3gram' END,
           |      CASE WHEN ws.n_stop < 2 THEN 'no_stopwords' END) AS drop_reasons
           |  FROM toks t
           |  LEFT JOIN ws ON ws.doc_id = t.doc_id
           |  LEFT JOIN gs ON gs.doc_id = t.doc_id
           |)
           |SELECT doc_id, tot AS n_words, drop_reasons = '' AS keep, drop_reasons
           |FROM r""".stripMargin),
    "composite quality gate: Gopher/C4 rules -> keep/drop verdict with named reasons")

  /** Per-source corpus report card — the summary a pipeline publishes
    * after the quality gate runs: document counts, keep rate, and a
    * histogram of drop reasons per source. Reasons are counted via
    * array_contains over the split reason string (exact token match —
    * substring matching would confuse word_count/word_len), all as
    * codegen'd conditional sums in ONE aggregate over the gate
    * output; keep_rate is a single integer division. At 100 TB this
    * is a 20-row result off a map-side-partial rollup.
    */
  val q78 = Q(
    "q78_source_report",
    (s, d) => {
      // r19: the gate is a map-only projection now (gateVerdicts), so
      // `source` rides through as a carry column instead of a second
      // corpus scan + doc_id shuffle join — the report is one scan +
      // a 20-row rollup. Join was 1:1 on unique doc_id, so the
      // (source, keep, drop_reasons) multiset is unchanged.
      val withSrc = gateVerdicts(docs(s, d), col("source"))
      def cnt(r: String) =
        sum(when(array_contains(split(col("drop_reasons"), ","), r), 1L)
          .otherwise(0L)).as(s"n_$r")
      withSrc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        (sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("keep_rate"),
        cnt("word_count"), cnt("word_len"), cnt("top_word"),
        cnt("dup_3gram"), cnt("no_stopwords"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, text,
           |    string_split_regex(trim(text), '\s+') AS w
           |  FROM documents
           |), wc AS (
           |  SELECT doc_id, t AS wd, COUNT(*) AS c
           |  FROM toks, UNNEST(w) u(t) GROUP BY 1, 2
           |), ws AS (
           |  SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot,
           |    CAST(SUM(CASE WHEN wd IN ('the','a','of','and','is','in','to','it')
           |             THEN c ELSE 0 END) AS BIGINT) AS n_stop
           |  FROM wc GROUP BY 1
           |), g AS (
           |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), gs AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |    CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_distinct
           |  FROM g GROUP BY 1
           |), r AS (
           |  SELECT t.doc_id, t.source,
           |    string_split(concat_ws(',',
           |      CASE WHEN ws.tot < 30 OR ws.tot > 10000 THEN 'word_count' END,
           |      CASE WHEN CAST(length(regexp_replace(t.text, '\s', '', 'g')) AS DOUBLE) / ws.tot < 3.0
           |             OR CAST(length(regexp_replace(t.text, '\s', '', 'g')) AS DOUBLE) / ws.tot > 12.0
           |           THEN 'word_len' END,
           |      CASE WHEN CAST(ws.mx AS DOUBLE) / ws.tot > 0.20 THEN 'top_word' END,
           |      CASE WHEN gs.n_grams > 0
           |             AND CAST(gs.n_grams - gs.n_distinct AS DOUBLE) / gs.n_grams > 0.30
           |           THEN 'dup_3gram' END,
           |      CASE WHEN ws.n_stop < 2 THEN 'no_stopwords' END), ',') AS reasons
           |  FROM toks t
           |  LEFT JOIN ws ON ws.doc_id = t.doc_id
           |  LEFT JOIN gs ON gs.doc_id = t.doc_id
           |)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN reasons = [''] THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |  CAST(SUM(CASE WHEN reasons = [''] THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS keep_rate,
           |  CAST(SUM(CASE WHEN list_contains(reasons, 'word_count') THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count,
           |  CAST(SUM(CASE WHEN list_contains(reasons, 'word_len') THEN 1 ELSE 0 END) AS BIGINT) AS n_word_len,
           |  CAST(SUM(CASE WHEN list_contains(reasons, 'top_word') THEN 1 ELSE 0 END) AS BIGINT) AS n_top_word,
           |  CAST(SUM(CASE WHEN list_contains(reasons, 'dup_3gram') THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_3gram,
           |  CAST(SUM(CASE WHEN list_contains(reasons, 'no_stopwords') THEN 1 ELSE 0 END) AS BIGINT) AS n_no_stopwords
           |FROM r GROUP BY source""".stripMargin),
    "per-source quality report: keep rate + drop-reason histogram off the q74 gate")

  /** Per-document TF-IDF keywords — the corpus-curation "what is this
    * document about" pass (topic tagging for mixture audits, search
    * facets over a release, cluster labeling). Top-k terms per doc by
    * tf·idf with idf in its linear form N/df: the score is computed as
    * `(tf·N) / df` — an exact integer product followed by ONE double
    * division, so it is bit-identical across engines (cross-engine
    * `ln` is not reproducible; the `ln(N/df)` variant is the same plan
    * with `log` around the division and identical ranking for k small
    * because x ↦ ln x is monotone).
    *
    * Scale shape: term frequencies are a map-side-partial (doc, term)
    * groupBy; document frequencies aggregate the tf rows again by term
    * (both Zipf-head-absorbing); the corpus size N is a 1-row
    * broadcast; the tf⨝df join is a plain hash join (AQE skew-splits
    * the stopword partitions); the top-k rank windows on doc_id — a
    * high-cardinality key, so no straggler (this is the partitioning
    * capPerKey exists to AVOID on low-cardinality keys, and exactly
    * why it is safe here).
    */
  def tfidfKeywords(docsDf: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docsDf.select(col("doc_id"), explode(words(col("text"))).as("term"))
    // tf feeds BOTH the df aggregate and the join's left side —
    // lazily persisted so the tokenize+aggregate pass runs once (the
    // jaccardPairs convention for shared shingle subtrees); the
    // corpus-count scan below reads zero columns and is ~free
    val tf = graft.util.reused(
      toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docsDf.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
        col("tf"), col("df"), col("score"))
  }

  val q79 = Q(
    "q79_tfidf",
    (s, d) => tfidfKeywords(docs(s, d), k = 3),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\s+')) AS term
           |  FROM documents
           |), tf AS (
           |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
           |), df AS (
           |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
           |), n AS (SELECT COUNT(*) AS n FROM documents)
           |SELECT doc_id, rnk, term, tf, df, score FROM (
           |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
           |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
           |    row_number() OVER (PARTITION BY tf.doc_id
           |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.term) AS rnk
           |  FROM tf JOIN df USING (term) CROSS JOIN n)
           |WHERE rnk <= 3""".stripMargin),
    "per-document top-k TF-IDF keywords: linear idf (tf*N)/df, one division, doc-keyed rank")

  /** Per-source vocabulary drift — does a source's common vocabulary
    * look like the corpus's? For each source, how many of its top-K
    * terms (by occurrence count, ties to the lexicographically first)
    * are also in the corpus-wide top-K. Low overlap flags a source
    * whose surface language diverges (different language, markup/
    * boilerplate-heavy, OCR noise) — the cheap screen a mixture audit
    * runs before the expensive embedding passes.
    *
    * Scale shape: both vocabularies come off map-side-partial term
    * counts. The GLOBAL top-K is orderBy+limit — TakeOrderedAndProject
    * (per-partition heaps, never a global sort). The PER-SOURCE top-K
    * reuses `Pack.capPerKey` (salted two-phase rank): source is a
    * low-cardinality key, so a single `row_number over (partition by
    * source)` would sort each source's whole vocabulary in one task —
    * the q18 straggler this engine removed in r5. The survivor join is
    * a ≤ K-row broadcast.
    */
  def vocabOverlap(docsDf: DataFrame, k: Int = 100): DataFrame = {
    val toks = docsDf.select(col("source"), explode(words(col("text"))).as("term"))
    // consumed by the global top-K and the per-source rank: one pass
    val srcCnt = graft.util.reused(
      toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt")))
    val globalTop = srcCnt.groupBy(col("term")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(k)
      .select(col("term"), lit(1).as("hit"))
    val srcTop = Pack.capPerKey(
      srcCnt.withColumn("neg_cnt", -col("cnt")), "source", "neg_cnt", "term", k)
    srcTop.join(broadcast(globalTop), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
  }

  val q82 = Q(
    "q82_vocab_overlap",
    (s, d) => vocabOverlap(docs(s, d), k = 100),
    Some("""WITH toks AS (
           |  SELECT source,
           |    unnest(string_split_regex(trim(text), '\s+')) AS term
           |  FROM documents
           |), sc AS (
           |  SELECT source, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
           |), st AS (
           |  SELECT source, term FROM (
           |    SELECT source, term,
           |      row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rn
           |    FROM sc) WHERE rn <= 100
           |), gc AS (
           |  SELECT term, CAST(SUM(cnt) AS BIGINT) AS cnt FROM sc GROUP BY 1
           |), gt AS (
           |  SELECT term FROM (
           |    SELECT term, row_number() OVER (ORDER BY cnt DESC, term) AS rn
           |    FROM gc) WHERE rn <= 100
           |)
           |SELECT st.source, COUNT(*) AS n_terms,
           |  CAST(SUM(CASE WHEN gt.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
           |FROM st LEFT JOIN gt ON st.term = gt.term
           |GROUP BY st.source""".stripMargin),
    "per-source vocabulary drift: overlap of source top-100 terms with the corpus top-100")

  /** Per-source theta sketches of the term set — the mergeable
    * artifact behind [[vocabOverlapSketch]]. Set semantics make the
    * plan one map-side-partial aggregation over the RAW token stream:
    * no (source, term) distinct shuffle, one lgK-sized buffer per
    * source per task. At 100 TB this is the whole cost — the sketch
    * rows it produces are kilobytes.
    */
  def sourceVocabSketches(docsDf: DataFrame, lgK: Int = 14): DataFrame =
    docsDf.select(col("source"), explode(words(col("text"))).as("term"))
      .groupBy(col("source"))
      .agg(graft.functions.thetaAgg(xxhash64(col("term")), lgK).as("sk"),
        count(lit(1)).as("n_tokens"))

  /** Estimated pairwise vocabulary overlap across sources from theta
    * sketches alone — the production form at corpus scale: estimated
    * |A∩B| and Jaccard for every source pair WITHOUT the vocabularies
    * ever meeting (the exact form's term-keyed equi-join of the full
    * distinct (source, term) set is the audit-grade pass; this one is
    * two linear scans + set ops on kilobyte sketches). Pair fan-out
    * is sources² — model-sized by construction (a mixture has tens of
    * sources, not millions) — so the pair list is built driver-side
    * and both sketch attachments are broadcast equi-joins, never a
    * nested-loop join.
    */
  def vocabOverlapSketch(docsDf: DataFrame, lgK: Int = 14): DataFrame = {
    import graft.functions.{thetaEstimate, thetaIntersect, thetaUnionOf}
    val spark = docsDf.sparkSession
    import spark.implicits._
    val sk = graft.util.reused(sourceVocabSketches(docsDf, lgK))
    // sources² pair list: model-sized driver traffic (same budget as
    // the ANN centroid collects), keeps every join below an equi key
    val sources = sk.select(col("source")).as[String].collect().sorted
    val pairs = sources.combinations(2).map(p => (p(0), p(1))).toSeq
      .toDF("s1", "s2")
    pairs
      .join(broadcast(sk.select(col("source").as("s1"), col("sk").as("sk1"))), "s1")
      .join(broadcast(sk.select(col("source").as("s2"), col("sk").as("sk2"))), "s2")
      .withColumn("est_overlap", thetaEstimate(thetaIntersect(col("sk1"), col("sk2"))))
      .withColumn("est_union", thetaEstimate(thetaUnionOf(col("sk1"), col("sk2"))))
      .select(col("s1"), col("s2"), col("est_overlap"),
        (col("est_overlap") / col("est_union")).as("est_jaccard"))
  }

  /** Gate form: exact pairwise vocabulary overlap with the theta
    * estimate audited in-row — the q130 consumer-step pattern (exact
    * facts + within-band verdicts in the row, literal-TRUE verdicts
    * in the oracle). Exact side: distinct (source, term) set,
    * term-keyed equi-join (per-term fan-out bounded by the source
    * count), pair-keyed aggregate. Sketch side: [[vocabOverlapSketch]]
    * machinery at lgK 14 (rsd 0.78% estimating; EXACT below 16k
    * distinct terms per source — the estimation regime itself is
    * spec-pinned on a >16k synthetic set in FunctionsSpec). Band 10%.
    */
  def vocabOverlapThetaAudit(docsDf: DataFrame, lgK: Int = 14): DataFrame = {
    import graft.functions.{thetaEstimate, thetaIntersect}
    val spark = docsDf.sparkSession
    import spark.implicits._
    val terms = docsDf.select(col("source"), explode(words(col("text"))).as("term"))
    val v = graft.util.reused(terms.distinct())
    val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val exact = v.toDF("s1", "term")
      .join(v.toDF("s2", "term2"), col("term") === col("term2"))
      .where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n_s1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n_s2"))), "s2")
    val sk = graft.util.reused(sourceVocabSketches(docsDf, lgK))
    val est = exact
      .join(broadcast(sk.select(col("source").as("s1"), col("sk").as("sk1"))), "s1")
      .join(broadcast(sk.select(col("source").as("s2"), col("sk").as("sk2"))), "s2")
      .withColumn("est", thetaEstimate(thetaIntersect(col("sk1"), col("sk2"))))
    est.select(col("s1"), col("s2"), col("n_s1"), col("n_s2"), col("n_overlap"),
      (abs(col("est") - col("n_overlap")) * lit(10.0) <= col("n_overlap").cast("double"))
        .as("theta_ok"))
  }

  val q147 = Q(
    "q147_vocab_overlap_theta",
    (s, d) => vocabOverlapThetaAudit(docs(s, d)),
    Some("""WITH toks AS (
           |  SELECT source,
           |    unnest(string_split_regex(trim(text), '\s+')) AS term
           |  FROM documents
           |), v AS (
           |  SELECT DISTINCT source, term FROM toks
           |), sz AS (
           |  SELECT source, COUNT(*) AS n FROM v GROUP BY 1
           |), ov AS (
           |  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_overlap
           |  FROM v a JOIN v b USING (term)
           |  WHERE a.source < b.source GROUP BY 1, 2
           |)
           |SELECT ov.s1, ov.s2, sa.n AS n_s1, sb.n AS n_s2, ov.n_overlap,
           |  TRUE AS theta_ok
           |FROM ov JOIN sz sa ON sa.source = ov.s1
           |        JOIN sz sb ON sb.source = ov.s2""".stripMargin),
    "pairwise source vocabulary overlap: exact distinct-term facts with the theta-sketch intersection estimate audited in-row (set-operation sketches: the cross-corpus primitive HLL cannot express)")

  /** Vocabulary coverage curve — the tokenizer-design question "how
    * big a vocabulary covers p of all token occurrences?": for each
    * target share, the minimal number of distinct terms (taken in
    * frequency-descending order) whose occurrences reach that share
    * of the corpus, plus the share actually achieved. Equal-count
    * terms are interchangeable (each contributes the same mass), so
    * the curve is well-defined without a term-level tiebreak; the
    * marginal count value admits a partial take (ceil division).
    *
    * Scale shape — the rankPrep idea applied to a Zipf curve: term
    * counts are a map-side-partial groupBy; then VALUE COMPRESSION
    * (group by the count value → n_terms + mass per value) shrinks
    * the table to the distinct-frequency set (O(√total-occurrences)
    * by a counting argument — thousands, not billions), and only that
    * compressed table pays a running-sum window. No single task ever
    * sorts the raw vocabulary, let alone the corpus; the share
    * targets are a tiny exploded literal joined broadcast.
    */
  def vocabCoverage(docsDf: DataFrame,
      shares: Seq[Double] = Seq(0.90, 0.95, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // vocab-sized (≪ corpus); checkpointed so the tokenize pass runs
    // once for its two consumers (value compression + the total)
    val cnts = graft.util.reused(docsDf.select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val comp = cnts.groupBy(col("cnt"))
      .agg(count(lit(1)).as("n_terms"))
      .withColumn("mass", col("cnt") * col("n_terms"))
    val w = Window.orderBy(col("cnt").desc) // over compressed rows only
    val cum = comp
      .withColumn("cum_terms", sum(col("n_terms")).over(w))
      .withColumn("cum_mass", sum(col("mass")).over(w))
    val total = cnts.agg(sum(col("cnt")).as("total"))
    val tgt = cum.crossJoin(broadcast(total))
      .select(col("*"), explode(array(shares.map(lit): _*)).as("share"))
      .withColumn("target", col("share") * col("total"))
      // first compressed row whose running mass reaches the target
      .where(col("cum_mass").cast("double") >= col("target") &&
        (col("cum_mass") - col("mass")).cast("double") < col("target"))
    tgt.select(col("share"),
      (col("cum_terms") - col("n_terms") +
        ceil((col("target") - (col("cum_mass") - col("mass")).cast("double")) /
          col("cnt"))).cast("long").as("vocab_size"),
      ((col("cum_mass") - col("mass") +
        ceil((col("target") - (col("cum_mass") - col("mass")).cast("double")) /
          col("cnt")) * col("cnt")).cast("double") / col("total")).as("coverage"))
  }

  val q87 = Q(
    "q87_vocab_coverage",
    (s, d) => vocabCoverage(docs(s, d)),
    Some("""WITH cnts AS (
           |  SELECT w, COUNT(*) AS cnt FROM (
           |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
           |    FROM documents) GROUP BY w
           |), comp AS (
           |  SELECT cnt, COUNT(*) AS n_terms, cnt * COUNT(*) AS mass
           |  FROM cnts GROUP BY cnt
           |), cum AS (
           |  SELECT cnt, n_terms, mass,
           |    SUM(n_terms) OVER (ORDER BY cnt DESC) AS cum_terms,
           |    SUM(mass) OVER (ORDER BY cnt DESC) AS cum_mass
           |  FROM comp
           |), tot AS (
           |  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts
           |), tgt AS (
           |  SELECT share, cnt, n_terms, mass, cum_terms, cum_mass, total,
           |    share * total AS target
           |  FROM cum CROSS JOIN tot
           |  CROSS JOIN (SELECT unnest([0.90, 0.95, 0.99]) AS share)
           |  WHERE CAST(cum_mass AS DOUBLE) >= share * total
           |    AND CAST(cum_mass - mass AS DOUBLE) < share * total
           |)
           |SELECT share,
           |  CAST(cum_terms - n_terms +
           |    ceil((target - CAST(cum_mass - mass AS DOUBLE)) / cnt) AS BIGINT)
           |    AS vocab_size,
           |  CAST(cum_mass - mass +
           |    ceil((target - CAST(cum_mass - mass AS DOUBLE)) / cnt) * cnt AS DOUBLE)
           |    / total AS coverage
           |FROM tgt""".stripMargin),
    "vocabulary coverage curve: minimal vocab for 90/95/99% token coverage, value-compressed rank")

  /** Bigram corpus-frequency coherence score — q72's CCNet-style
    * LM-score proxy lifted from unigrams to ADJACENT-PAIR statistics:
    * a document whose word pairs are common in the corpus reads as
    * fluent prose; shuffled/templated/gibberish text hits rare pairs
    * even when every individual word is frequent (the failure mode a
    * unigram score cannot see). Score = mean corpus frequency of the
    * doc's word bigrams, integer sums + one final division (q72's
    * cross-engine determinism contract — no logs, no per-term
    * doubles).
    *
    * Scale shape: bigrams come from the same `shingles` array
    * transform q31/q39 use (one projection, no self-join, no window —
    * `Dedup.ngrams`'s lead() formulation would pay a per-doc sort
    * here for nothing); the bigram-frequency dim is a map-side-
    * partial groupBy; the join back is linear with AQE skew handling
    * the Zipf head, same plan family as q72. Docs with < 2 words
    * have no bigrams and drop (explode is inner), mirrored by the
    * oracle's empty list_transform.
    */
  val q103 = Q(
    "q103_bigram_score",
    (s, d) => {
      // aggregate to per-doc bigram COUNTS before anything wide: the
      // join fact carries (doc, bg, k) instead of raw instances, the
      // bigram dim derives from it (one tokenize+shingle pass,
      // lazily persisted — the q79 tf convention), and the instance
      // multiplicity rides the k weights: n = Σk, sum_bf = Σ k·bf
      val dbg = graft.util.reused(
        docs(s, d)
          .select(col("doc_id"), explode(graft.functions.wordNgrams(col("text"), 2)).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k")))
      val bf = dbg.groupBy(col("bg")).agg(sum(col("k")).as("bf"))
      dbg.join(bf, Seq("bg"))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_bigrams"),
          sum(col("k") * col("bf")).as("sum_bf"))
        .withColumn("mean_bf", col("sum_bf").cast("double") / col("n_bigrams"))
    },
    Some("""WITH bi AS (
           |  SELECT doc_id,
           |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           |        FROM documents)
           |), bf AS (SELECT bg, COUNT(*) AS bf FROM bi GROUP BY bg)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |  CAST(SUM(bf) AS BIGINT) AS sum_bf,
           |  CAST(SUM(bf) AS DOUBLE) / COUNT(*) AS mean_bf
           |FROM bi JOIN bf USING (bg) GROUP BY doc_id""".stripMargin),
    "bigram corpus-frequency score: mean adjacent-pair frequency per doc (fluency proxy unigrams can't see)")

  /** Per-source term-distribution drift vs the corpus: exact total
    * variation distance TVD(s) = ½·Σ_t |p_s(t) − p(t)| where p_s is
    * the source's term distribution and p the corpus's. TVD is the
    * mixture-audit number a curation pipeline watches per ingest
    * batch — a source whose surface vocabulary drifts (different
    * language mix, markup injection, OCR noise) moves it before any
    * downstream metric does. q82 counts top-K overlap (a coarse
    * screen); this is the full-distribution distance.
    *
    * Exactness: only INTEGER cross-products are summed —
    * |cnt_s·tot − gcnt·tot_s| (accumulated as decimal(38,0); per-term
    * products fit a long up to cnt_s·tot < 2^63) — and the single
    * division happens once at the end, so both engines round the same
    * integer ratio and the gate hash-matches despite a double output.
    * Terms absent from a source would need the dense source×vocab
    * grid; folded in algebraically instead via
    * Σ_{t∉s} gcnt·tot_s = (tot − Σ_{t∈s} gcnt)·tot_s, so the plan
    * touches only observed (source, term) pairs.
    *
    * Scale shape: one tokenize pass feeds (source, term) counts
    * (map-side partial); the only wide join is (source, term) ×
    * global term counts on the compressed vocabulary domain — never
    * corpus-sized; per-source totals and the corpus total ride
    * broadcast. Reference anchor: MoDevETL's per-source ETL health
    * summaries (pushing stats per origin), re-expressed as a
    * distribution distance.
    */
  def sourceDrift(docsDf: DataFrame): DataFrame = {
    val toks = docsDf.select(col("source"), explode(words(col("text"))).as("term"))
    // feeds the global term dim, the per-source totals, and the join
    // fact — one tokenize+count pass, lazily persisted
    val st = graft.util.reused(
      toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt")))
    val g = st.groupBy(col("term")).agg(sum(col("cnt")).as("gcnt"))
    val perSrc = st.groupBy(col("source"))
      .agg(sum(col("cnt")).as("tot_s"), count(lit(1)).as("n_terms"))
    val tot = st.agg(sum(col("cnt")).as("tot"))
    st.join(g, Seq("term"))
      .join(broadcast(perSrc), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("d",
        (abs(col("cnt") * col("tot") - col("gcnt") * col("tot_s"))
          - col("gcnt") * col("tot_s")).cast("decimal(38,0)"))
      .groupBy(col("source"), col("n_terms"), col("tot_s"), col("tot"))
      .agg(sum(col("d")).as("sumd"))
      .withColumn("tvd",
        (col("sumd") + col("tot") * col("tot_s")).cast("double")
          / (lit(2.0) * col("tot_s") * col("tot")))
      .select(col("source"), col("n_terms"), col("tot_s"), col("tvd"))
  }

  val q107 = Q(
    "q107_source_drift",
    (s, d) => sourceDrift(docs(s, d)),
    Some("""WITH toks AS (
           |  SELECT source,
           |    unnest(string_split_regex(trim(text), '\s+')) AS term
           |  FROM documents
           |), st AS (
           |  SELECT source, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
           |), g AS (
           |  SELECT term, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM st GROUP BY 1
           |), s AS (
           |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot_s,
           |    COUNT(*) AS n_terms
           |  FROM st GROUP BY 1
           |), n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM st)
           |SELECT st.source, s.n_terms, s.tot_s,
           |  CAST(SUM(CAST(ABS(st.cnt * n.tot - g.gcnt * s.tot_s)
           |                - g.gcnt * s.tot_s AS HUGEINT))
           |       + CAST(n.tot * s.tot_s AS HUGEINT) AS DOUBLE)
           |  / (2.0 * s.tot_s * n.tot) AS tvd
           |FROM st JOIN g USING (term) JOIN s USING (source) CROSS JOIN n
           |GROUP BY st.source, s.n_terms, s.tot_s, n.tot""".stripMargin),
    "per-source total-variation distance from the corpus term distribution: integer cross-products, one final division")

  /** Keyword-search relevance: top-k documents for a fixed query-term
    * set, scored with linear idf — score(doc) = Σ_t tf(doc,t)·N/df(t).
    * The retrieval primitive behind corpus probes ("show me the docs
    * about X") and behind q58/q68-style contamination triage when the
    * probe is a phrase rather than a stored benchmark set.
    *
    * Exactness: each term gets a FIXED slot (pivoted column), so the
    * float sum runs in one hard-coded left-to-right order in both
    * engines over addends that are each one integer product and one
    * division — bit-identical, no Σ-over-rows float accumulation.
    * Linear idf (N/df, no log) keeps it that way, q79's contract.
    *
    * Scale shape: `isin` filters the exploded token stream BEFORE any
    * shuffle, so the tf aggregate sees only query-term hits (≈ zero
    * fraction of the corpus); df and N are 1-row broadcasts; the
    * top-k is orderBy+limit → TakeOrderedAndProject (per-partition
    * heaps, no global sort, no window). The tokenize+filter pass is
    * the whole cost — exactly a full-scan inverted-index probe.
    */
  def keywordSearch(docsDf: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "keywordSearch needs at least one query term")
    val toks = docsDf
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .where(col("term").isin(terms: _*))
    // feeds both the per-doc slots and the df dim: one filtered pass
    val tf = graft.util.reused(
      toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    def slot(t: String) = sum(when(col("term") === t, col("tf"))).as(s"tf_$t")
    val wide = tf.groupBy(col("doc_id"))
      .agg(slot(terms.head), terms.tail.map(slot): _*)
    def dfSlot(t: String) = count(when(col("term") === t, 1)).as(s"df_$t")
    val dfx = tf.groupBy().agg(dfSlot(terms.head), terms.tail.map(dfSlot): _*)
    val n = docsDf.agg(count(lit(1)).as("n"))
    val score = terms.map { t =>
      coalesce((col(s"tf_$t") * col("n")).cast("double") / col(s"df_$t"),
        lit(0.0))
    }.reduce(_ + _)
    wide.crossJoin(broadcast(dfx)).crossJoin(broadcast(n))
      .withColumn("score", score)
      .select(col("doc_id") +: terms.map(t =>
        coalesce(col(s"tf_$t"), lit(0L)).as(s"tf_$t")) :+ col("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  val q108 = Q(
    "q108_keyword_search",
    (s, d) => keywordSearch(docs(s, d), Seq("join", "window", "agg"), k = 10),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\s+')) AS term
           |  FROM documents
           |), tf AS (
           |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
           |  WHERE term IN ('join', 'window', 'agg') GROUP BY 1, 2
           |), wide AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN term = 'join' THEN tf END) AS BIGINT) AS tf_join,
           |    CAST(SUM(CASE WHEN term = 'window' THEN tf END) AS BIGINT) AS tf_window,
           |    CAST(SUM(CASE WHEN term = 'agg' THEN tf END) AS BIGINT) AS tf_agg
           |  FROM tf GROUP BY 1
           |), dfx AS (
           |  SELECT COUNT(CASE WHEN term = 'join' THEN 1 END) AS df_join,
           |    COUNT(CASE WHEN term = 'window' THEN 1 END) AS df_window,
           |    COUNT(CASE WHEN term = 'agg' THEN 1 END) AS df_agg
           |  FROM tf
           |), n AS (SELECT COUNT(*) AS n FROM documents)
           |SELECT doc_id,
           |  COALESCE(tf_join, 0) AS tf_join,
           |  COALESCE(tf_window, 0) AS tf_window,
           |  COALESCE(tf_agg, 0) AS tf_agg,
           |  COALESCE(CAST(tf_join * n AS DOUBLE) / df_join, 0.0)
           |    + COALESCE(CAST(tf_window * n AS DOUBLE) / df_window, 0.0)
           |    + COALESCE(CAST(tf_agg * n AS DOUBLE) / df_agg, 0.0) AS score
           |FROM wide CROSS JOIN dfx CROSS JOIN n
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    "keyword-search top-k: linear-idf relevance over fixed term slots, filter-before-shuffle, TakeOrdered top-k")

  /** Per-source winsorized length statistics (q113): outlier-robust
    * corpus reporting — the standard pre-filter diagnostic before
    * length-based quality gates, where a handful of pathological
    * documents (mega-concatenations, empty shells) would otherwise
    * dominate a plain mean. Clips `n_chars` to the exact per-source
    * [p05, p95] DISCRETE quantiles and reports the boundaries, the
    * clipped-row counts and the winsorized mean.
    *
    * Exactness: boundaries are order statistics of an integer column
    * (`quantileDisc` over `rankPrep` — ceil(n·p)-th smallest actual
    * value, DuckDB's quantile_disc convention), the clipped sum is a
    * long, and the mean is one double division of two exact integers
    * — bit-identical cross-engine, no interpolated boundary to drift.
    *
    * Scale shape: `rankPrep` runs over the compressed per-source
    * distinct-value domain (never a whole-partition sort of raw
    * rows), the boundary frame is one row per source and broadcast
    * back, and the final pass is a single map-side-partial aggregate
    * over the fact scan. Two scans of documents total, both pruned
    * to (source, n_chars).
    */
  def winsorizedStats(documents: DataFrame): DataFrame = {
    val slim = documents.select(col("source"), col("n_chars"))
    val rp = graft.util.rankPrep(slim, "source", "n_chars")
    val bounds = broadcast(rp.groupBy(col("source")).agg(
      graft.util.quantileDisc(col("n_chars"), 0.05).as("p05"),
      graft.util.quantileDisc(col("n_chars"), 0.95).as("p95")))
    slim.join(bounds, "source")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        max(col("p05")).as("p05"), // boundary is constant per group
        max(col("p95")).as("p95"),
        sum((col("n_chars") < col("p05")).cast("long")).as("n_clip_lo"),
        sum((col("n_chars") > col("p95")).cast("long")).as("n_clip_hi"),
        (sum(greatest(least(col("n_chars"), col("p95")), col("p05")))
          .cast("double") / count(lit(1))).as("win_mean"))
  }

  val q113 = Q(
    "q113_winsorize",
    (s, d) => winsorizedStats(docs(s, d)),
    Some("""WITH b AS (
           |  SELECT source,
           |    quantile_disc(n_chars, 0.05) AS p05,
           |    quantile_disc(n_chars, 0.95) AS p95
           |  FROM documents GROUP BY 1
           |)
           |SELECT source, COUNT(*) AS n_docs, MAX(p05) AS p05,
           |  MAX(p95) AS p95,
           |  CAST(SUM(CASE WHEN n_chars < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           |  CAST(SUM(CASE WHEN n_chars > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           |  CAST(SUM(GREATEST(LEAST(n_chars, p95), p05)) AS DOUBLE)
           |    / COUNT(*) AS win_mean
           |FROM documents JOIN b USING (source)
           |GROUP BY 1""".stripMargin),
    "winsorized per-source length stats: exact discrete-quantile clip bounds via rankPrep, broadcast back, one aggregate pass")

  /** Per-document length percentile within its source (q118):
    * cume_dist and percent_rank semantics — the per-row relative
    * standing every length-based quality filter thresholds on —
    * computed WITHOUT a per-partition sort of raw rows. A naive
    * `CUME_DIST() OVER (PARTITION BY source ORDER BY n_chars)` sorts
    * every source's documents inside one task chain; at 100 TB a hot
    * source is a straggler. Here the rank structure comes from
    * `rankPrep`'s compressed distinct-value frame (O(distinct
    * lengths) rows, bucketed windows), and each document picks up its
    * percentile by an ordinary shuffle join on (source, n_chars) —
    * both sides well-distributed, no raw-row window anywhere.
    *
    * Exactness: cume_dist = (hi_rn+1)/n and percent_rank =
    * lo_rn/(n−1) are single double divisions of exact longs —
    * bit-identical to the SQL window definitions the oracle runs.
    *
    * Precondition: `n_chars` must be non-null. rankPrep drops null
    * keys from its compressed domain and the pickup join is inner, so
    * a null-length document would be silently absent from the output
    * (a SQL CUME_DIST window would instead rank it first). The
    * documents schema guarantees non-null n_chars; callers feeding
    * other frames should `coalesce`/filter nulls first.
    */
  def lengthPercentiles(documents: DataFrame): DataFrame = {
    val rp = graft.util.rankPrep(
      documents.select(col("source"), col("n_chars")), "source", "n_chars")
      .select(col("source"), col("n_chars"),
        ((col("hi_rn") + 1).cast("double") / col("n")).as("cume_dist"),
        when(col("n") === 1, lit(0.0)).otherwise(
          col("lo_rn").cast("double") / (col("n") - 1)).as("percent_rank"))
    documents.select(col("doc_id"), col("source"), col("n_chars"))
      .join(rp, Seq("source", "n_chars"))
  }

  val q118 = Q(
    "q118_length_percentile",
    (s, d) => lengthPercentiles(docs(s, d)),
    Some("""SELECT doc_id, source, n_chars,
           |  CUME_DIST() OVER (PARTITION BY source ORDER BY n_chars) AS cume_dist,
           |  PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars) AS percent_rank
           |FROM documents""".stripMargin),
    "per-doc length percentile in source: cume_dist/percent_rank from rankPrep's compressed domain + equi-join, no raw-row window")

  /** Trained char-trigram language classifier (q125) — the
    * profile-based upgrade over q36's marker heuristic (the
    * fastText/textcat family shape, reduced to exact integer machinery
    * so the whole train-and-classify pipeline is oracle-verifiable):
    *
    *  - TRAIN on the deterministic q53-style holdout (doc_id % 10 < 8):
    *    per-(lang, trigram) occurrence counts — one explode + one
    *    map-partial aggregate; the profile table is langs × distinct
    *    trigrams (model-sized, broadcast below).
    *  - CLASSIFY every document: its trigram occurrences join the
    *    broadcast profiles, score(lang) = Σ profile counts over
    *    occurrences (exact longs), predicted = top score with
    *    lexicographic tiebreak — one narrow explode, one broadcast
    *    join, one (doc × matched-langs) aggregate, a doc-keyed
    *    window over ≤|langs| rows.
    *  - EMIT the confusion matrix (true lang × predicted, n_docs) —
    *    the eval artifact a corpus pipeline monitors.
    *
    * Docs shorter than 3 chars have no trigrams and drop out (inner
    * joins on both engines — mirrored contract). At 100 TB: explode
    * is scan-speed, profiles broadcast, the only shuffle is the
    * per-doc score aggregate keyed by doc_id.
    */
  /** Per-document trigram term frequencies — computed ONCE and shared
    * by training and classification (the train split is a subset of
    * the classified corpus): compress occurrences (≈ text length per
    * doc) to distinct-trigram counts (≈ 5–10× fewer rows) BEFORE any
    * join, so the profile join's fan-out tracks the compressed set.
    */
  private def trigramTf(docsDf: DataFrame): DataFrame =
    docsDf
      // the length guard predates the native expression (it kept
      // Spark's sequence(1, len-2) from going negative-step on short
      // docs) and is retained verbatim: char_ngram_tf returns an
      // empty array below 3 code points, so the filter is now
      // redundant but keeps the two engines' "docs shorter than 3
      // chars have no trigrams" contract spelled identically.
      .where(length(col("text")) >= 3)
      // in-row trigram counting (r20; the r19 char_ngrams walk lifted
      // to the aggregation): the grouping key contains doc_id, so the
      // per-document tf aggregate is ROW-LOCAL — exploding every
      // occurrence into a (doc_id, lang, tg) hash aggregate paid
      // per-occurrence probing plus a full exchange of the partials
      // for an aggregation one in-row pass computes. The build is now
      // map-only (FunctionsSpec pins char_ngram_tf ≡ the exploded
      // char_ngrams count per document).
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.charNgramTf(col("text"), 3)).as("g"))
      .select(col("doc_id"), col("lang"),
        col("g").getField("tg").as("tg"), col("g").getField("tf").as("tf"))

  def langProfiles(train: DataFrame): DataFrame =
    trigramTf(train)
      .groupBy(col("lang"), col("tg"))
      .agg(sum(col("tf")).as("cnt"))

  def langClassify(docsDf: DataFrame, profiles: DataFrame): DataFrame =
    langClassifyTf(trigramTf(docsDf), profiles)

  /** Classification over precomputed per-doc trigram counts —
    * score(cand) = Σ_tg tf·cnt, identical to summing profile counts
    * per occurrence (the oracle's formulation), at compressed volume.
    */
  /** Pivot the profile table into the classifier's runtime MODEL
    * (r20, §2.3 shuffle/aggregate fewer rows): the candidate class
    * list (a driver-side collect — model-sized by definition, the
    * Ann.storedCentroids precedent) plus one broadcastable row per
    * trigram carrying a cand→cnt map. Runs two model-sized jobs at
    * call time — gate builders must reach it through
    * [[storedLangModel]] (builders stay action-free at plan time).
    */
  private[graft] def buildLangModel(profiles: DataFrame): (Seq[String], DataFrame) = {
    val cands = profiles.select(col("lang")).distinct()
      .orderBy(col("lang")).collect().map(_.getString(0)).toSeq
    require(cands.nonEmpty, "buildLangModel: empty profile table")
    val profW = pin(profiles.groupBy(col("tg"))
      .agg(map_from_entries(collect_list(
        struct(col("lang"), col("cnt")))).as("cm")))._1
    (cands, profW)
  }

  /** Classification against the pivoted model: the r19 form joined tf
    * to the flat profile table on tg and fanned every tf row out ONCE
    * PER CANDIDATE sharing the trigram (~×|langs| — ~1B scored rows
    * at sf10p for a 200M-row tf table), then paid per-occurrence
    * aggregate probing on (doc, lang, cand). Here each tf row
    * computes its |langs| partial products IN-ROW from the broadcast
    * map (missing cand ⇒ 0 — exactly the rows the inner join never
    * produced) and the per-doc aggregate sums |langs| columns over
    * the UNFANNED row stream.
    *
    * Result identity vs the fanout form: scores are exact integer
    * sums (tf ≥ 1, cnt ≥ 1 ⇒ every shared-trigram candidate scores
    * ≥ 1), so an absent candidate's 0 can never win the argmax, and a
    * doc sharing no trigram with any profile still vanishes with the
    * inner join. The in-row argmax is least() over (-score, cand)
    * structs — lexicographic struct order ≡ the retired min_by's
    * ORDER BY score DESC, cand ASC total order, integer-exact.
    */
  private def classifyWithModel(tf: DataFrame, cands: Seq[String],
      profW: DataFrame): DataFrame = {
    def scoreCol(c: String) =
      sum(coalesce(element_at(col("cm"), lit(c)), lit(0L)) * col("tf"))
        .as(s"s_$c")
    val scored = tf.join(broadcast(profW), Seq("tg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(scoreCol(cands.head), cands.tail.map(scoreCol): _*)
    val packed = cands.map(c =>
      struct((-col(s"s_$c")).as("s"), lit(c).as("c")))
    val best =
      if (packed.size == 1) packed.head.getField("c")
      else least(packed: _*).getField("c")
    scored.select(col("doc_id"), col("lang"), best.as("predicted"))
  }

  private def langClassifyTf(tf: DataFrame, profiles: DataFrame): DataFrame = {
    val (cands, profW) = buildLangModel(profiles)
    classifyWithModel(tf, cands, profW)
  }

  /** The gate corpus's trigram frequencies and trained profiles as
    * session-stored artifacts (the q43/q81 convention: a language
    * classifier trains once, per-query retraining is not a thing;
    * the tf table is the tokenize-once artifact both phases share).
    */
  def storedTrigramTf(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.StoredArtifacts.getOrBuild("trigram_tf", s, d)(pin(trigramTf(docs(s, d)))._1)

  /** The gate corpus's TRAINED language-ID model (candidate list +
    * pivoted per-trigram count maps) as a session-stored artifact —
    * model training is nightly-ETL work like the tf table above, and
    * the [[buildLangModel]] collect must not run inside a gate
    * builder (the PlanSpec action-free contract).
    */
  private[graft] def storedLangModel(
      s: org.apache.spark.sql.SparkSession, d: String): (Seq[String], DataFrame) =
    graft.StoredArtifacts.getOrBuild("lang_model", s, d) {
      val profiles = storedTrigramTf(s, d).where(col("doc_id") % 10 < 8)
        .groupBy(col("lang"), col("tg")).agg(sum(col("tf")).as("cnt"))
      buildLangModel(profiles)
    }

  val q125 = Q(
    "q125_lang_trigram",
    (s, d) => {
      val (cands, profW) = storedLangModel(s, d)
      classifyWithModel(storedTrigramTf(s, d), cands, profW)
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    },
    Some("""WITH train AS (
           |  SELECT * FROM documents WHERE doc_id % 10 < 8
           |), prof AS (
           |  SELECT lang AS cand, substr(text, i, 3) AS tg, COUNT(*) AS cnt
           |  FROM train, UNNEST(generate_series(1, len(text) - 2)) t(i)
           |  GROUP BY 1, 2
           |), occ AS (
           |  SELECT doc_id, lang, substr(text, i, 3) AS tg
           |  FROM documents, UNNEST(generate_series(1, len(text) - 2)) t(i)
           |), scored AS (
           |  SELECT doc_id, lang, cand, SUM(cnt) AS score
           |  FROM occ JOIN prof USING (tg)
           |  GROUP BY 1, 2, 3
           |), pred AS (
           |  SELECT doc_id, lang, cand AS predicted FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, cand ASC) AS rn FROM scored)
           |  WHERE rn = 1
           |)
           |SELECT lang, predicted, COUNT(*) AS n_docs
           |FROM pred GROUP BY 1, 2""".stripMargin),
    "trained trigram language ID: per-lang profile counts on the 80% split, broadcast-profile integer scoring, confusion matrix")

  /** Corpus heavy-hitters via the native Count-Min sketch, with an
    * in-row exactness audit (the q47 consumer-step pattern): the
    * sketch's estimate for each top token is emitted as two verdict
    * booleans the oracle mirrors as literal TRUE — the overestimate-
    * only guarantee (est ≥ exact, unconditional for Count-Min) and
    * the CM error bound with 4× headroom (excess ≤ 11/1024 of the
    * total token mass; expected excess is 1/1024 per row, min over
    * 4 rows, so the slack is ~4·e/width — Markov puts the failure
    * odds below (4e)^-4).
    *
    * Scale shape: the sketch arm aggregates the token stream into ONE
    * 32 KB mergeable buffer (map-side partial, vector-add merge) — at
    * 100 TB that is the whole point: per-token frequency estimates
    * with no per-token state. The exact arm (groupBy token) exists to
    * audit the sketch at gate scale; top-k is TakeOrdered (per-
    * partition heaps), and the sketch joins in as a broadcast 1-row
    * frame.
    */
  val q134 = Q(
    "q134_cms_heavyhitters",
    (s, d) => {
      import graft.functions.{cmEstimate, countMinAgg}
      val toks = docs(s, d).select(explode(words(col("text"))).as("t"))
      val sketch = toks.agg(
        countMinAgg(xxhash64(col("t"))).as("cm"),
        count(lit(1)).as("total"))
      val top = toks.groupBy(col("t")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t").asc).limit(20)
      val est = cmEstimate(col("cm"), xxhash64(col("t")))
      top.crossJoin(broadcast(sketch))
        .select(col("t"), col("n"),
          (est >= col("n")).as("est_ge_exact"),
          ((est - col("n")) * lit(1024L) <= col("total") * lit(11L))
            .as("overestimate_bounded"))
    },
    Some("""WITH toks AS (
           |  SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS t
           |  FROM documents
           |)
           |SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
           |  TRUE AS est_ge_exact, TRUE AS overestimate_bounded
           |FROM toks GROUP BY t
           |ORDER BY n DESC, t ASC LIMIT 20""".stripMargin),
    "Count-Min heavy-hitters on the gate: top-20 tokens with sketch-vs-exact verdict booleans (overestimate-only + CM error bound)")

  /** CCNet-style LM quality scoring (Wenzek et al. 2020: the
    * "score CommonCrawl by a target-domain language model" filter):
    * an add-1-smoothed bigram LM trains on the TARGET corpus slice
    * (src15+ — the q151/q133 split convention) and every document is
    * scored by its per-bigram log-probability; low-perplexity docs
    * read like the target domain. This is the model-based tier above
    * the corpus-frequency scores (q72 unigram, q103 bigram): those
    * rank by raw frequency mass, this by a NORMALIZED conditional
    * model with an explicit out-of-model penalty.
    *
    * log p(d) = Σ_bg k·(ln(c(bg)+1) − ln(c(ctx)+V)), ppl(d) =
    * exp(−log p(d)/n) — computed by [[lmPerplexity]]; the GATE (q154)
    * ships the exact-integer facts instead (Σ k·c(bg), Σ k·c(ctx),
    * the unseen-bigram mass, V), the q151 consumer-step pattern: every
    * input of the formula pins hash-exactly, the libm consumer is
    * spec-pinned.
    *
    * Scale shape: one tokenize+shingle pass feeds per-doc bigram
    * counts (map-side partial — the q103 plan family); the model is
    * two aggregates of the target slice joined back on the compressed
    * bigram/context domains (AQE handles the Zipf head); V rides a
    * broadcast 1-row frame. The corpus shuffles (doc, bg, k) triples,
    * never text. Docs with < 2 words have no bigrams and drop (the
    * q103 contract).
    */
  def lmFacts(docsDf: DataFrame, isTarget: Column): DataFrame = {
    val dbg = graft.util.reused(
      docsDf
        .select(col("doc_id"), isTarget.as("is_t"),
          explode(graft.functions.wordNgrams(col("text"), 2)).as("bg"))
        .groupBy(col("doc_id"), col("is_t"), col("bg"))
        .agg(count(lit(1)).as("k"))
        .withColumn("ctx", substring_index(col("bg"), " ", 1)))
    val bgModel = dbg.where(col("is_t"))
      .groupBy(col("bg")).agg(sum(col("k")).as("cbg"))
    val ctxModel = dbg.where(col("is_t"))
      .groupBy(col("ctx")).agg(sum(col("k")).as("cctx"))
    val v = docsDf.where(coalesce(isTarget, lit(false)))
      .select(explode(words(col("text"))).as("wd"))
      .agg(count_distinct(col("wd")).as("v_target"))
    dbg.join(bgModel, Seq("bg"), "left")
      .join(ctxModel, Seq("ctx"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * coalesce(col("cbg"), lit(0L))).as("dot_bg"),
        sum(col("k") * coalesce(col("cctx"), lit(0L))).as("dot_ctx"),
        sum(when(col("cbg").isNull, col("k")).otherwise(lit(0L))).as("unseen_bg"))
      .crossJoin(broadcast(v))
  }

  /** The libm consumer of [[lmFacts]]'s model: per-doc add-1-smoothed
    * bigram log-probability and perplexity under the target-side LM,
    * trained on the scored corpus itself. ONE formula exists: this
    * delegates to [[lmPerplexityUnder]] with the self-trained model
    * (r16 review fix — three copies of the bigram-LM pipeline had
    * started to coexist), so a smoothing or tokenization change lands
    * once. PropertySpec pins it against a driver-side recompute from
    * first principles.
    */
  def lmPerplexity(docsDf: DataFrame, isTarget: Column): DataFrame =
    lmPerplexityUnder(docsDf,
      lmBigramCounts(docsDf, isTarget), lmVocab(docsDf, isTarget))

  /** The target-LM model as PERSISTABLE tables, maintained at delta
    * cost (the Dsir.countsIncrement / Bpe.dictIncrement pattern):
    *  - `lmBigramCounts` — (bg, cbg) over the target slice; additive
    *    under append-only ingest, so the fold is one delta count +
    *    sum. The CONTEXT model derives exactly from it at read time
    *    (cctx = Σ cbg over bg with that first word), so only one
    *    count table persists.
    *  - `lmVocab` — the distinct target word set; the fold is a
    *    union-distinct (monotone under appends). |lmVocab| is the
    *    smoothing V.
    * Fold ≡ full recount exactly (integer counts / set union;
    * TextSpec + tools.IncrAudit `lm_counts_incr`).
    */
  def lmBigramCounts(docsDf: DataFrame, isTarget: Column): DataFrame =
    docsDf.where(coalesce(isTarget, lit(false)))
      .select(explode(graft.functions.wordNgrams(col("text"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cbg"))

  def lmBigramIncrement(stored: DataFrame, deltaDocs: DataFrame,
      isTarget: Column): DataFrame =
    stored.unionByName(lmBigramCounts(deltaDocs, isTarget))
      .groupBy(col("bg")).agg(sum(col("cbg")).as("cbg"))

  def lmVocab(docsDf: DataFrame, isTarget: Column): DataFrame =
    docsDf.where(coalesce(isTarget, lit(false)))
      .select(explode(words(col("text"))).as("wd")).distinct()

  def lmVocabIncrement(stored: DataFrame, deltaDocs: DataFrame,
      isTarget: Column): DataFrame =
    stored.unionByName(lmVocab(deltaDocs, isTarget)).distinct()

  /** Scoring under a FROZEN persisted model — the deployment form:
    * the bigram table broadcasts (or shuffle-joins on the compressed
    * bigram domain at vocab² scale), the context model derives from
    * it in-plan, V rides a 1-row broadcast. Same formula as
    * [[lmPerplexity]]; TextSpec pins stored-model scoring ≡ the
    * self-trained form on the same corpus.
    */
  def lmPerplexityUnder(docsDf: DataFrame, bgModel: DataFrame,
      vocab: DataFrame): DataFrame = {
    val dbg = docsDf
      .select(col("doc_id"), explode(graft.functions.wordNgrams(col("text"), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k"))
      .withColumn("ctx", substring_index(col("bg"), " ", 1))
    val ctxModel = bgModel
      .groupBy(substring_index(col("bg"), " ", 1).as("ctx"))
      .agg(sum(col("cbg")).as("cctx"))
    val v = vocab.agg(count(lit(1)).as("v_target"))
    dbg.join(bgModel, Seq("bg"), "left")
      .join(ctxModel, Seq("ctx"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * (log(coalesce(col("cbg"), lit(0L)) + lit(1.0))
          - log(coalesce(col("cctx"), lit(0L)) + col("v_target").cast("double"))))
          .as("log_prob"))
      .withColumn("ppl", exp(-col("log_prob") / col("n_bigrams")))
  }

  val q154 = Q(
    "q154_lm_score",
    (s, d) => lmFacts(docs(s, d),
      substring(col("source"), 4, 10).cast("int") >= 15),
    Some("""WITH toks AS (
           |  SELECT doc_id, CAST(substring(source, 4, 10) AS INT) >= 15 AS is_t,
           |    string_split_regex(trim(text), '\s+') w
           |  FROM documents
           |), bi AS (
           |  SELECT doc_id, is_t,
           |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
           |  FROM toks
           |), dbg AS (
           |  SELECT doc_id, is_t, bg, COUNT(*) AS k FROM bi GROUP BY 1, 2, 3
           |), bm AS (
           |  SELECT bg, SUM(k) AS cbg FROM dbg WHERE is_t GROUP BY 1
           |), cm AS (
           |  SELECT split_part(bg, ' ', 1) AS ctx, SUM(k) AS cctx
           |  FROM dbg WHERE is_t GROUP BY 1
           |), v AS (
           |  SELECT COUNT(DISTINCT wd) AS v_target
           |  FROM (SELECT unnest(w) AS wd FROM toks WHERE is_t)
           |)
           |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           |  CAST(SUM(k * COALESCE(cbg, 0)) AS BIGINT) AS dot_bg,
           |  CAST(SUM(k * COALESCE(cctx, 0)) AS BIGINT) AS dot_ctx,
           |  CAST(SUM(CASE WHEN cbg IS NULL THEN k ELSE 0 END) AS BIGINT) AS unseen_bg,
           |  CAST(ANY_VALUE(v.v_target) AS BIGINT) AS v_target
           |FROM dbg LEFT JOIN bm USING (bg)
           |  LEFT JOIN cm ON cm.ctx = split_part(dbg.bg, ' ', 1)
           |  CROSS JOIN v
           |GROUP BY doc_id""".stripMargin),
    "CCNet-style LM quality facts: per-doc target-LM bigram/context dot products + unseen mass as exact integers; ln/ppl consumer spec-pinned")

  /** Per-source doc-LENGTH distribution drift vs the corpus: exact
    * Kolmogorov–Smirnov statistic KS(s) = max_x |F_s(x) − F(x)| over
    * word-count CDFs. The length-axis complement of q107's vocabulary
    * TVD: a source whose documents suddenly shorten (truncation bug,
    * boilerplate stripping regression) or lengthen (concatenation
    * bug) moves KS before any content metric notices.
    *
    * Exactness (the q107 trick): only integer cross-products are
    * compared — max_x |cum_s(x)·N − cum(x)·N_s| as decimal(38,0)
    * (cum ≤ N can reach 10^11 docs at 100 TB; the product overflows a
    * long) — and the single division happens once at the end, so both
    * engines round the same ratio. The evaluation grid is every
    * corpus-observed distinct length per source: the KS max over step
    * functions is attained at a step of either CDF, and every step of
    * either is a corpus-observed length, so the grid is exact, and it
    * is SMALL (distinct lengths × sources — lengths are a bounded
    * physical domain, never corpus-sized).
    *
    * Scale shape: one scan to (source, len) counts (map-side
    * partial); the dense source×length grid comes from one broadcast
    * cross join on the compressed length domain; two prefix-sum
    * windows partitioned by source / global-on-tiny-grid; one final
    * per-source max. The corpus never shuffles — only counts do.
    */
  def lengthDrift(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = docsDf.select(col("source"),
      size(words(col("text"))).cast("long").as("len"))
    val slc = graft.util.reused(
      lens.groupBy(col("source"), col("len")).agg(count(lit(1)).as("c")))
    val glc = slc.groupBy(col("len")).agg(sum(col("c")).as("g"))
      .withColumn("gcum", sum(col("g")).over(
        Window.orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val srcTot = slc.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val tot = slc.agg(sum(col("c")).as("n"))
    val grid = srcTot.select(col("source"), col("n_s"))
      .crossJoin(broadcast(glc.select(col("len"), col("gcum"))))
      .join(slc, Seq("source", "len"), "left")
      .withColumn("scum", sum(coalesce(col("c"), lit(0L))).over(
        Window.partitionBy(col("source")).orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    grid.crossJoin(broadcast(tot))
      .withColumn("num",
        abs(col("scum").cast("decimal(38,0)") * col("n")
          - col("gcum").cast("decimal(38,0)") * col("n_s")))
      .groupBy(col("source"), col("n_s"), col("n"))
      .agg(max(col("num")).as("ks_num"))
      .select(col("source"), col("n_s").as("n_docs"),
        (col("ks_num").cast("double")
          / (col("n_s").cast("double") * col("n").cast("double"))).as("ks"))
  }

  /** Publish the frozen length baseline a drift MONITOR compares
    * against: (len, gcum, n) — every distinct corpus length with its
    * cumulative doc count and the total. Model-sized by construction
    * (distinct lengths are a bounded physical domain); consumers
    * broadcast it. The [[graft.streaming.StreamOps.streamingLengthDrift]]
    * publisher.
    */
  def exportLengthBaseline(docsDf: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    docsDf.select(size(words(col("text"))).cast("long").as("len"))
      .groupBy(col("len")).agg(count(lit(1)).as("g"))
      .withColumn("gcum", sum(col("g")).over(
        Window.orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(
        docsDf.agg(count(lit(1)).as("n"))))
      .select(col("len"), col("gcum"), col("n"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** [[lengthDrift]] against an EXTERNAL baseline CDF (len, gcum, n)
    * instead of the corpus itself — the monitoring form: per source,
    * the exact KS distance between this batch's length CDF and the
    * frozen baseline's. The KS max over two step functions is
    * attained at a step of either, so the evaluation grid is the
    * union of batch and baseline lengths; the baseline CDF
    * forward-fills across batch-only lengths (running max of gcum —
    * gcum is nondecreasing in len). Same integer-cross-product
    * exactness contract as q156. Stateless and per-batch-pure, so
    * the streaming monitor calls it verbatim on every micro-batch.
    */
  def lengthDriftAgainst(docsDf: DataFrame, baseline: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slc = docsDf.select(col("source"),
        size(words(col("text"))).cast("long").as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
    val srcTot = slc.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val baseGrid = baseline.select(col("len"), col("gcum"))
    val batchGrid = slc.select(col("len")).distinct()
    val grid = srcTot.select(col("source"), col("n_s"))
      .crossJoin(broadcast(
        baseGrid.select(col("len")).unionByName(batchGrid).distinct()))
      .join(broadcast(baseGrid), Seq("len"), "left")
      .join(slc, Seq("source", "len"), "left")
    val bySrc = Window.partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("scum", sum(coalesce(col("c"), lit(0L))).over(bySrc))
      .withColumn("basecum", coalesce(
        max(col("gcum")).over(bySrc), lit(0L))) // forward-fill the step CDF
      .crossJoin(broadcast(baseline.select(col("n")).limit(1)))
      .withColumn("num",
        abs(col("scum").cast("decimal(38,0)") * col("n")
          - col("basecum").cast("decimal(38,0)") * col("n_s")))
      .groupBy(col("source"), col("n_s"), col("n"))
      .agg(max(col("num")).as("ks_num"))
      .select(col("source"), col("n_s").as("n_docs"),
        (col("ks_num").cast("double")
          / (col("n_s").cast("double") * col("n").cast("double"))).as("ks"))
  }

  val q156 = Q(
    "q156_ks_drift",
    (s, d) => lengthDrift(docs(s, d)),
    Some("""WITH lens AS (
           |  SELECT source, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS len
           |  FROM documents
           |), slc AS (
           |  SELECT source, len, COUNT(*) AS c FROM lens GROUP BY 1, 2
           |), glc AS (
           |  SELECT len, SUM(g) OVER (ORDER BY len
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum
           |  FROM (SELECT len, SUM(c) AS g FROM slc GROUP BY 1)
           |), st AS (
           |  SELECT source, SUM(c) AS n_s FROM slc GROUP BY 1
           |), tot AS (SELECT SUM(c) AS n FROM slc
           |), grid AS (
           |  SELECT st.source, st.n_s, glc.len, glc.gcum,
           |    SUM(COALESCE(slc.c, 0)) OVER (PARTITION BY st.source
           |      ORDER BY glc.len
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scum
           |  FROM st CROSS JOIN glc
           |  LEFT JOIN slc ON slc.source = st.source AND slc.len = glc.len
           |)
           |SELECT source, CAST(n_s AS BIGINT) AS n_docs,
           |  CAST(MAX(ABS(CAST(scum AS DECIMAL(38,0)) * n
           |    - CAST(gcum AS DECIMAL(38,0)) * n_s)) AS DOUBLE)
           |    / (CAST(n_s AS DOUBLE) * CAST(n AS DOUBLE)) AS ks
           |FROM grid CROSS JOIN tot
           |GROUP BY source, n_s, n""".stripMargin),
    "per-source doc-length KS drift: exact Kolmogorov-Smirnov distance vs the corpus length CDF, integer cross-products only")

  /** Heaps-law vocabulary growth curve: exact distinct word-3-gram
    * count after each 10% prefix of the corpus (by doc_id range —
    * the ingest-order proxy), the report that tells a data buyer
    * whether more of the same crawl still adds NEW content or only
    * repetition. q87 answers "how much vocab covers X% of tokens";
    * this answers "how fast does vocab grow with corpus".
    *
    * Scale shape — the one-pass trick: the naive form rescans the
    * corpus once per checkpoint (10 distinct-counts over growing
    * prefixes). Instead each gram keys ONE min-aggregate on its
    * FIRST-SEEN decile — distinct grams at checkpoint d = grams with
    * first_seen ≤ d — so the whole curve costs one linear gram pass,
    * one gram-keyed min (map-side partial), a 10-row histogram and a
    * 10-row cumulative window. Exact at any scale, no per-checkpoint
    * rescans, no sketches. Deciles come from the doc_id RANGE (a
    * broadcast max, truncating division — identical arithmetic in
    * the oracle), not a global ntile sort.
    */
  def vocabGrowth(docsDf: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mx = docsDf.agg(max(col("doc_id")).as("m"))
    // the decile is a pure function of (doc_id, broadcast max), so it
    // attaches to the codegen gram stream directly — no join back, no
    // doc-table persist (an interpreted shingles()-HOF variant of this
    // pass benched 3.2 s at sf0.1 vs ~1 s for the window form)
    val dec = least(lit(10),
      floor(col("doc_id") * 10 / (col("m") + 1)).cast("int") + 1)
    // group on the shingle STRING, not its 64-bit hash: unlike q131
    // (where a hash collision only perturbs a join key), here a collision
    // would directly under-count vocab_cum, so the "exact at any scale"
    // claim must be unconditional. Shuffle volume is one (gram, min-decile)
    // pair per DISTINCT gram per partition after the map-side partial min —
    // the string key costs bytes, not cardinality.
    val firstSeen = Dedup.ngrams(docsDf, n)
      .crossJoin(broadcast(mx))
      .groupBy(col("shingle"))
      .agg(min(dec).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("v"))
    val docsPer = docsDf.crossJoin(broadcast(mx))
      .groupBy(dec.as("dec")).agg(count(lit(1)).as("nd"))
    val w = Window.orderBy(col("dec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsDf.sparkSession.range(1, 11).select(col("id").cast("int").as("dec"))
      .join(docsPer, Seq("dec"), "left")
      .join(firstSeen.withColumnRenamed("fd", "dec"), Seq("dec"), "left")
      .select(col("dec"),
        sum(coalesce(col("nd"), lit(0L))).over(w).as("n_docs_cum"),
        sum(coalesce(col("v"), lit(0L))).over(w).as("vocab_cum"))
  }

  val q157 = Q(
    "q157_vocab_growth",
    (s, d) => vocabGrowth(docs(s, d), 3),
    Some("""WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
           |docs AS (
           |  SELECT doc_id, text,
           |    LEAST(10, CAST(FLOOR(doc_id * 10.0 / (m + 1)) AS INT) + 1) AS dec
           |  FROM documents CROSS JOIN mx
           |), g AS (
           |  SELECT dec, array_to_string(w[i:i+2], ' ') AS sh
           |  FROM (SELECT dec, string_split_regex(trim(text), '\s+') AS w FROM docs),
           |    UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), fs AS (
           |  SELECT sh, MIN(dec) AS fd FROM g GROUP BY sh
           |), vd AS (SELECT fd AS dec, COUNT(*) AS v FROM fs GROUP BY 1),
           |dd AS (SELECT dec, COUNT(*) AS nd FROM docs GROUP BY 1)
           |SELECT s.dec,
           |  CAST(SUM(COALESCE(dd.nd, 0)) OVER (ORDER BY s.dec
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs_cum,
           |  CAST(SUM(COALESCE(vd.v, 0)) OVER (ORDER BY s.dec
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_cum
           |FROM (SELECT CAST(i AS INT) AS dec FROM UNNEST(generate_series(1, 10)) t(i)) s
           |LEFT JOIN dd USING (dec) LEFT JOIN vd USING (dec)""".stripMargin),
    "Heaps-law vocabulary growth: exact distinct 3-grams per 10% corpus prefix via one min-first-seen pass, no per-checkpoint rescan")

  /** Vocabulary-novelty ingest — q157's operational twin, maintained
    * INCREMENTALLY: a persisted distinct-gram store records, per
    * gram, the batch that FIRST introduced it, and each ingested
    * batch reports how much genuinely new vocabulary it brought
    * (novelty collapsing toward 0 means the crawl is re-fetching
    * what the corpus already holds — stop paying for it).
    *
    * Exactly-once by construction on an at-least-once transport with
    * MONOTONE batch ids (what Structured Streaming provides): grams
    * upsert keyed on the 64-bit gram hash with version −batch_id, so
    * under the sink's latest-wins rule the SMALLEST batch id wins —
    * first ingest owns the gram, and a redelivered batch is a
    * same-key no-op. The verdict counts the batch's grams owned by
    * EARLIER batches (first_batch < this batch) — on redelivery the
    * batch's own novel grams carry its OWN id, so they still count
    * as new and the original verdict reproduces bit-for-bit instead
    * of collapsing to zero novelty.
    *
    * Scale shape: one gram pass over the BATCH (never the corpus),
    * one distinct, one gram-keyed left-semi pass over the store for
    * the verdict (the monitor's cadence knob — run per batch or per
    * nightly window), one keyed upsert (merge cost ∝ touched
    * buckets). Returns (batch_id, n_grams, new_grams, novelty_rate).
    */
  def vocabNoveltyIngest(storePath: String, batch: DataFrame, batchId: Long,
      n: Int = 3, numBuckets: Int = 64): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val grams = pin(Dedup.ngrams(batch, n)
      .select(xxhash64(col("shingle")).as("gh")).distinct()
      .withColumn("first_batch", lit(batchId))
      .withColumn("_v", lit(-batchId)))._1 // verdict + upsert both read it
    // ONE aggregate action answers all three verdict questions (is the
    // batch gram-less? how many grams? how many had an earlier owner?):
    // left-join the checkpointed gram table against the store's
    // earlier-batch owners and count + sum in the same pass. The
    // earlier-owner read happens BEFORE the upsert, so grams this
    // batch introduced — original delivery or redelivery — are exactly
    // those with no earlier owner. r17 ran three separate actions
    // here; StreamingSpec pins the consolidated job count.
    // dropDuplicates on gh: the store is KEYED on gh so this is a
    // no-op when the upsert invariant holds, but it guarantees the
    // left join stays 1:1 — a duplicated store key would otherwise
    // inflate n_grams itself (the primary metric), not just the
    // earlier-owner count.
    val earlierOwners =
      if (graft.sources.ParquetUpsertSink.tableExists(s, storePath))
        graft.sources.ParquetUpsertSink.read(s, storePath)
          .where(col("first_batch") < batchId)
          .select(col("gh"), lit(1L).as("_seen"))
          .dropDuplicates("gh")
      else Seq.empty[(Long, Long)].toDF("gh", "_seen")
    val (nGrams, earlier) = grams.select(col("gh"))
      .join(earlierOwners, Seq("gh"), "left_outer")
      .agg(count(lit(1)),
        sum(when(col("_seen").isNotNull, 1L).otherwise(0L)))
      .as[(Long, Option[Long])].head() match {
        case (c, e) => (c, e.getOrElse(0L))
      }
    if (nGrams == 0)
      // a gram-less batch (all docs shorter than n words) touches
      // nothing — including a store that may not exist yet
      return Seq((batchId, 0L, 0L, 0.0))
        .toDF("batch_id", "n_grams", "new_grams", "novelty_rate")
    graft.sources.ParquetUpsertSink.upsert(
      grams, storePath, Seq("gh"), "_v", numBuckets)
    Seq((batchId, nGrams, nGrams - earlier,
        (nGrams - earlier).toDouble / nGrams))
      .toDF("batch_id", "n_grams", "new_grams", "novelty_rate")
  }

  /** Quality-gate ablation — the knob-tuning report q78's histogram
    * cannot give: per rule, how many failing docs fail it at all vs
    * fail ONLY it (the docs that would be RECOVERED if the rule were
    * dropped — a rule with high sole-failure count is the binding
    * constraint worth re-examining; one whose failures always
    * co-occur with others is free). Rides the q74 gate scan; output
    * is rule-domain-sized.
    */
  def gateAblation(docsDf: DataFrame): DataFrame =
    // Explode FIRST, filter on the generated rule (r19): with the
    // map-only gate, a `where(!keep)` ahead of the reason projection
    // splits into Filter + Project that EACH inline the full gate
    // expression — every document pays the counting passes twice
    // (measured ×2-3 at sf3). A Generate is a pushdown barrier, so
    // exploding every doc's reason array and dropping the kept docs
    // by their one empty-string rule evaluates the gate ONCE per row.
    // Identical result: a failing doc's rules are exactly its
    // non-empty split tokens (concat_ws emits no empties), a kept
    // doc's split is [""] and contributes only the filtered-out ""
    // rule, and nr — size BEFORE the filter — is unchanged for
    // failing docs.
    // explode_OUTER, deliberately: plain explode lets
    // InferFiltersFromGenerate push an inferred `size(rs) > 0` filter
    // below the Generate — re-inlining the whole gate expression into
    // a Filter under the scan, the very duplication this shape
    // avoids. The split array is NEVER empty or null (split with
    // limit -1 returns at least [""], and drop_reasons is non-null —
    // concat_ws never returns null), so outer ≡ inner row-for-row.
    qualityGate(docsDf)
      .select(col("doc_id"), split(col("drop_reasons"), ",").as("rs"))
      .select(col("doc_id"), size(col("rs")).as("nr"),
        explode_outer(col("rs")).as("rule"))
      .where(col("rule") =!= "")
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("n_failing"),
        sum(when(col("nr") === 1, lit(1L)).otherwise(lit(0L))).as("n_sole"))

  val q158 = Q(
    "q158_gate_ablation",
    (s, d) => gateAblation(docs(s, d)),
    Some("""WITH toks AS (
           |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
           |  FROM documents
           |), wc AS (
           |  SELECT doc_id, t AS wd, COUNT(*) AS c
           |  FROM toks, UNNEST(w) u(t) GROUP BY 1, 2
           |), ws AS (
           |  SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot,
           |    CAST(SUM(CASE WHEN wd IN ('the','a','of','and','is','in','to','it')
           |             THEN c ELSE 0 END) AS BIGINT) AS n_stop
           |  FROM wc GROUP BY 1
           |), g AS (
           |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), gs AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |    CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_distinct
           |  FROM g GROUP BY 1
           |), r AS (
           |  SELECT t.doc_id,
           |    concat_ws(',',
           |      CASE WHEN ws.tot < 30 OR ws.tot > 10000 THEN 'word_count' END,
           |      CASE WHEN CAST(length(regexp_replace(t.text, '\s', '', 'g')) AS DOUBLE) / ws.tot < 3.0
           |             OR CAST(length(regexp_replace(t.text, '\s', '', 'g')) AS DOUBLE) / ws.tot > 12.0
           |           THEN 'word_len' END,
           |      CASE WHEN CAST(ws.mx AS DOUBLE) / ws.tot > 0.20 THEN 'top_word' END,
           |      CASE WHEN gs.n_grams > 0
           |             AND CAST(gs.n_grams - gs.n_distinct AS DOUBLE) / gs.n_grams > 0.30
           |           THEN 'dup_3gram' END,
           |      CASE WHEN ws.n_stop < 2 THEN 'no_stopwords' END) AS drop_reasons
           |  FROM toks t
           |  LEFT JOIN ws ON ws.doc_id = t.doc_id
           |  LEFT JOIN gs ON gs.doc_id = t.doc_id
           |), f AS (
           |  SELECT doc_id, string_split(drop_reasons, ',') AS rs
           |  FROM r WHERE drop_reasons <> ''
           |)
           |SELECT u.rule, CAST(COUNT(*) AS BIGINT) AS n_failing,
           |  CAST(SUM(CASE WHEN len(f.rs) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sole
           |FROM f, UNNEST(f.rs) u(rule)
           |GROUP BY u.rule""".stripMargin),
    "quality-gate ablation: per rule, failing docs vs sole-reason failures (the recoverable set if the rule were dropped)")

  val all: Seq[Q] = Seq(q147, q30, q36, q37, q38, q39, q48, q53, q54, q59, q60, q62,
    q72, q74, q78, q79, q82, q87, q103, q107, q108, q113, q118, q123,
    q125, q134, q154, q156, q157, q158)
}
