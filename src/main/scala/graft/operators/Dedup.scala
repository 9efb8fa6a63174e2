package graft.operators

import graft.{Q, QueryPack, StoredArtifacts, Tables}
import graft.util.pin
import graft.functions.{shingles, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines.
  *
  * Scale invariant: candidate generation is ALWAYS bucketed — a join on
  * a shingle / LSH-band / SimHash-chunk key — never an all-pairs cross
  * join. Pairwise work is O(sum of bucket²), which stays linear-ish
  * when bucket keys are selective — and every bucketing here BOUNDS its
  * hottest bucket: q31 df-cuts ubiquitous shingles from candidate
  * generation (exact Jaccard preserved via per-doc hot-sets), q33
  * widens its chunk width with corpus size, q32's bands are fixed at 8
  * buckets per doc regardless of content. At 100 TB q32 (MinHash bands
  * + exact verify) remains the cheapest path; q31 is the exact measure
  * with a skew guard.
  */
object Dedup extends QueryPack {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Export the deterministic signature tables the q32/q33 oracles
    * consume — called by [[graft.Verify]] after planning, never from
    * a query builder (the Ann.exportGateModels contract: builders are
    * action-free at plan time). Seeded xxhash64 has no DuckDB mirror,
    * so the HASH step ships as data while the candidate banding and
    * the exact verify are recomputed independently by the oracle.
    */
  def exportGateSignatures(s: SparkSession, d: String): Unit = {
    StoredArtifacts.exportOnce("minhash_buckets_32_8", d) { p =>
      minhashSignatures(docs(s, d), 32, 8)
        .select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "bh")))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    StoredArtifacts.exportOnce("simhash_64", d) { p =>
      simhashValues(docs(s, d))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
  }

  /** (doc_id, pos, w): every word of every document with its 0-based
    * position — THE tokenizer pass every word-level operator derives
    * from (n-grams here, the hashed uni+bigram features in
    * [[graft.operators.Dsir.hashedFeatures]], the excision word
    * stream). One shape means one thing to audit: explode stays in
    * whole-stage codegen and downstream doc-keyed windows all ride
    * the same (doc_id × pos) stream.
    */
  def posWords(df: DataFrame, carry: Column*): DataFrame =
    df.select((col("doc_id") +: carry) :+
      posexplode(words(col("text"))).as(Seq("pos", "w")): _*)

  /** (doc_id, pos, shingle) — every complete word n-gram of each
    * document with its 0-based start position, duplicates kept (one
    * row per occurrence). THE single n-gram producer: [[ngrams]]
    * (pos dropped) and the excision gram stream (shingle hashed) are
    * projections of this one pipeline, so the dedup family (3-grams),
    * fingerprinting (5-grams) and span excision (8-grams) share one
    * audited shape.
    *
    * r19 shape (guide §2.4 — remove shuffles outright): grams build
    * IN-ROW via the native [[graft.expressions.WordNgrams]] codegen
    * expression + posexplode, so the producer is a shuffle-free scan
    * projection. The r18 explode→window(lead) form paid an Exchange
    * PLUS a sort of the ENTIRE exploded word stream before the first
    * shingle existed; downstream per-doc/per-gram aggregations now
    * get map-side partials instead of riding that raw-row exchange.
    * (The per-row `transform∘slice∘array_join` HOF pipeline remains
    * the wrong third option — CodegenFallback lambda interpretation
    * per element.) DedupSpec pins (doc_id, pos, shingle) equality
    * against the retired window formulation, tokenizer edge cases
    * included.
    */
  def ngramsWithPos(df: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"word n-grams need n >= 2 (got $n); " +
      "single words are posWords' territory")
    df.select(col("doc_id"),
      posexplode(graft.functions.wordNgrams(col("text"), n))
        .as(Seq("pos", "shingle")))
  }

  /** (doc_id, shingle) — [[ngramsWithPos]] with the position dropped,
    * for consumers that only need the gram multiset.
    */
  def ngrams(df: DataFrame, n: Int): DataFrame =
    ngramsWithPos(df, n).select(col("doc_id"), col("shingle"))

  /** (doc_id, shingle) exploded DISTINCT word-3-gram sets. */
  def shingleSets(df: DataFrame): DataFrame =
    ngrams(df, 3).dropDuplicates("doc_id", "shingle")

  /** (doc_id, fp) — the min-of-md5 word-5-gram document fingerprint
    * (winnowing-style, = graft.functions.fingerprint) via the shared
    * codegen n-gram pipeline; docs with fewer than 5 words have no
    * complete gram and emit no row. Shared by q133's decontamination
    * audit and the streaming bloom gate.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    ngrams(docs, 5).groupBy(col("doc_id")).agg(min(md5(col("shingle"))).as("fp"))

  /** Publish the frozen eval-side decontamination artifacts a release
    * builds ONCE: `dir/fps` — the distinct eval fingerprint set (the
    * exact arm), and `dir/bloom` — a 1-row table holding the native
    * [[graft.functions.bloomAgg]] filter over those fingerprints (the
    * pre-screen arm, numBits/8 bytes total). Consumers broadcast
    * both; the bloom row is what makes the common path of a 100 TB
    * scan stateless (see StreamOps.streamingBloomDecontaminate).
    */
  def exportEvalFingerprints(eval: DataFrame, dir: String, numBits: Int = 1 << 20): Unit = {
    import graft.functions.bloomAgg
    val fps = fingerprints(eval).select(col("fp")).distinct()
    fps.write.mode("overwrite").parquet(s"$dir/fps")
    fps.agg(bloomAgg(xxhash64(col("fp")), numBits).as("bf"), count(lit(1)).as("n_keys"))
      .write.mode("overwrite").parquet(s"$dir/bloom")
  }

  /** Hashed DISTINCT (doc_id, shingle) postings — the 16 B/row schema
    * the co-occurrence family joins on, and the POSTING STORE a
    * production pipeline persists (bucketed by `shingle`) to maintain
    * the core incrementally via [[foldCoocDelta]]. 64-bit shingle
    * hashes, not strings: same co-occurrence counts (a cross-doc hash
    * collision would need ~2^32 distinct shingles to become likely),
    * but every downstream join hashes/compares/ships 8-byte keys
    * instead of ~20-char strings.
    */
  def coocPostings(df: DataFrame): DataFrame =
    shingleSets(df).select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))

  /** Exact per-pair shingle co-occurrence under the df-cut:
    * (d1, d2, c, n1, n2) for unordered pairs d1 < d2 sharing at least
    * one non-hot shingle — the shared core of [[jaccardPairs]]
    * (resemblance) and [[containmentPairs]] (the asymmetric measure),
    * [[coocKernel]]'s self orientation over [[coocPostings]]. The
    * counts are EXACT (hot shingles re-enter via the per-doc
    * sorted-array intersect); the cut bounds candidate volume only.
    */
  private[graft] def coocCounts(df: DataFrame, maxShingleDf: Int): DataFrame =
    // NOT materialized, by measurement: sh's four consumers (both
    // self-join sides, the size agg, the hot-set agg) shuffle on the
    // same keys, so ReuseExchange dedupes the heavy subplans, and a
    // persist here only adds columnar cache encode/decode to every
    // consumer — q31 ran ~45% slower with it, and the loss rippled
    // into every downstream component-clustering query (q61/q86/q52).
    // Reuse that IS load-bearing (the full pair list feeding multiple
    // aggregates, e.g. dedupSweep) persists at that level instead.
    coocFromPostings(coocPostings(df), maxShingleDf)

  /** Shingles of `postings` in more than `maxShingleDf` documents.
    * Document frequency via groupBy (map-side partial aggregation:
    * reducers see near-1 row per shingle, so the df computation CANNOT
    * itself skew on the hot key — a whole-partition window here would
    * buffer every occurrence of the hottest shingle in one task,
    * recreating the exact straggler the cut removes). The list is tiny
    * by construction (≤ occurrences/maxShingleDf distinct values).
    */
  private def hotShingles(postings: DataFrame, maxShingleDf: Int): DataFrame =
    postings.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf).select(col("shingle"))

  /** [[coocCounts]] from an already-built posting table — the form
    * [[buildCoocStore]] shares with the from-scratch path.
    */
  private[graft] def coocFromPostings(sh: DataFrame, maxShingleDf: Int): DataFrame = {
    val end = CoocEnd.of(sh)
    coocKernel(sh, sh, hotShingles(sh, maxShingleDf),
      _.where(col("l") < col("r")).select(col("l").as("d1"), col("r").as("d2")), end, end)
  }

  /** One end of a [[coocKernel]] pair: the (doc_id, shingle) postings
    * its docs' hot-shingle arrays are read from, and their (doc_id, n)
    * distinct-shingle counts.
    */
  private final case class CoocEnd(postings: DataFrame, sizes: DataFrame)
  private object CoocEnd {
    def of(postings: DataFrame): CoocEnd =
      CoocEnd(postings, postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
  }

  /** THE exact shingle co-occurrence kernel: (d1, d2, c, n1, n2) for
    * the pairs of the rare-shingle equi-join of `left` × `right`
    * postings. `pairs` maps the join rows (shingle, l, r, plus any
    * extra columns of `right`) to (d1, d2), one row per shared rare
    * shingle; their count is `cr`, and c = cr + |h1 ∩ h2| over the
    * ends' sorted hot-shingle arrays (a merge-style array_intersect).
    * Per-shingle join output is bounded by maxShingleDf², so the
    * candidate volume is linear in shingle occurrences. The three
    * callers differ only in what they pass:
    *  - self ([[coocFromPostings]]): sh × sh, kept where d1 < d2;
    *  - fold ([[coocFoldParts]]): delta × (delta ∪ touched stored),
    *    delta×delta pairs kept once, delta×stored pairs canonicalized;
    *  - cross ([[contaminationPairs]]): train × eval, each end its own
    *    side, because the two id sets are separate namespaces.
    */
  private def coocKernel(left: DataFrame, right: DataFrame, hotKeys: DataFrame,
      pairs: DataFrame => DataFrame, end1: CoocEnd, end2: CoocEnd): DataFrame = {
    def rare(p: DataFrame, id: String) =
      p.join(hotKeys, Seq("shingle"), "left_anti").withColumnRenamed("doc_id", id)
    def hot(e: CoocEnd, d: String, h: String) = e.postings.join(hotKeys, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id").as(d)).agg(sort_array(collect_list(col("shingle"))).as(h))
    val noHot = array().cast("array<bigint>")
    pairs(rare(left, "l").join(rare(right, "r"), "shingle"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("cr"))
      .join(hot(end1, "d1", "h1"), Seq("d1"), "left")
      .join(hot(end2, "d2", "h2"), Seq("d2"), "left")
      .withColumn("c", col("cr") +
        size(array_intersect(coalesce(col("h1"), noHot), coalesce(col("h2"), noHot))))
      .join(end1.sizes.toDF("d1", "n1"), "d1")
      .join(end2.sizes.toDF("d2", "n2"), "d2")
      .select(col("d1"), col("d2"), col("c"), col("n1"), col("n2"))
  }

  /** Exact Jaccard over word-3-gram sets for all pairs sharing at least
    * one *non-ubiquitous* shingle, thresholded. Co-occurrence counting
    * via shingle join: |A∩B| = shared shingles, |A∪B| = nA + nB − |A∩B|.
    *
    * Skew guard (`maxShingleDf`): the self-join on `shingle` is a
    * shuffle on a naturally skewed key — boilerplate shingles ("of the
    * and"-class) occur in huge document counts and each contributes
    * df² join rows, so at corpus scale a handful of hot shingles
    * dominate the candidate volume AND land on single reducers. The
    * fix: shingles with document frequency > maxShingleDf are excluded
    * from CANDIDATE GENERATION only — per-shingle join output is
    * bounded by maxShingleDf², and total candidate rows by
    * maxShingleDf × |shingle occurrences| (linear in corpus size).
    * The Jaccard values stay EXACT: each doc's hot shingles are kept
    * as a small sorted array (≤ distinct-hot-shingle count, itself
    * ≤ occurrences/maxShingleDf) and |A∩B| = shared-rare (from the
    * join) + |hotA ∩ hotB| (array intersect on the candidate rows).
    *
    * Recall contract: a qualifying pair is missed only if EVERY shared
    * shingle is hot — i.e. the overlap is pure corpus boilerplate. At
    * threshold ≥ 0.5 that means half of each document is ubiquitous
    * 3-grams; such quasi-clique "duplicates" are exactly the join
    * output a dedup pipeline must not generate at scale. On the test
    * corpus max df ≈ 25 (sf0.1), so the default cut of 128 changes
    * nothing (DedupSpec pins equality; a dedicated spec exercises a
    * boilerplate corpus where the cut does bite).
    *
    * Oracle note: the DuckDB mirror computes the UNCUT measure. If a
    * future, larger gate corpus pushes common-shingle df past the
    * cut, the correctness gate fails LOUDLY on this query — the fix
    * is raising maxShingleDf (the oracle-equivalence knob), not the
    * pair math.
    */
  def jaccardPairs(df: DataFrame, threshold: Double,
      maxShingleDf: Int = 128, assertCutInert: Boolean = false): DataFrame = {
    val pairs = jaccardFromCooc(coocCounts(df, maxShingleDf), threshold)
    if (!assertCutInert) pairs
    else withCutInertGuard(pairs, df, maxShingleDf)
  }

  /** Resemblance from a co-occurrence core — the cheap derivation
    * shared by [[jaccardPairs]] and the stored-artifact path.
    */
  private[graft] def jaccardFromCooc(cooc: DataFrame, threshold: Double): DataFrame =
    cooc
      .withColumn("jac", col("c").cast("double") / (col("n1") + col("n2") - col("c")))
      .where(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))

  private def withCutInertGuard(pairs: DataFrame, df: DataFrame,
      maxShingleDf: Int): DataFrame = {
      // Gate-coupling guard (r5 carry): the DuckDB oracle computes the
      // UNCUT measure, and the builder's equivalence argument is
      // "corpus max shingle df ≤ maxShingleDf, so the cut is inert".
      // That was ASSUMED; here it is CHECKED in-plan at gate time: a
      // 1-row max-df frame (the shingle-df subplan is canonically
      // identical to coocCounts' hotKeys aggregation, so ReuseExchange
      // dedupes it — near-free) broadcast-equi-joins the pairs on a
      // constant-but-NON-FOLDABLE key (a literal key would fold and
      // degrade to the BNLJ the plan specs forbid, same reasoning as
      // graft.util.guardMaxRows) and assert_true fails the JOB loudly
      // if a future gate corpus pushes df past the cut — the fix is
      // raising maxShingleDf, not trusting a silently-divergent gate.
      val chk = shingleSets(df)
        .select(xxhash64(col("shingle")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .agg(max(col("df")).as("_maxdf"))
        .select(pmod(xxhash64(col("_maxdf")), lit(1)).cast("int").as("_gk"),
          col("_maxdf"))
      pairs.withColumn("_gk", pmod(xxhash64(col("d1")), lit(1)).cast("int"))
        .join(broadcast(chk), "_gk")
        .where(assert_true(col("_maxdf") <= maxShingleDf, concat(
          lit("q31 gate: corpus max shingle df "), col("_maxdf"),
          lit(s" exceeds maxShingleDf=$maxShingleDf; the oracle computes the " +
            "uncut measure, so raise maxShingleDf to keep gate equivalence"))).isNull)
        .drop("_gk", "_maxdf")
  }

  /** Asymmetric CONTAINMENT pairs — Broder's other similarity measure
    * (resemblance vs containment, SEQUENCES '97): containment(a, b) =
    * |A∩B| / |A| ≥ threshold flags document a as mostly CONTAINED in
    * b, which resemblance misses whenever the container is much
    * larger (a quoted article inside a long page has high containment
    * and low Jaccard). The sub-document dedup screen next to q31's
    * whole-doc resemblance and q71's passage granularity.
    *
    * Same exact co-occurrence core and df-cut as [[jaccardPairs]]
    * (one shingle-keyed self-join, candidates bounded by the cut,
    * counts exact via the hot-array re-entry) — only the
    * normalization differs, and each unordered candidate emits BOTH
    * directions before the threshold, so the output is ordered
    * (contained_id, container_id).
    */
  def containmentPairs(df: DataFrame, threshold: Double,
      maxShingleDf: Int = 128): DataFrame =
    containmentFromCooc(coocCounts(df, maxShingleDf), threshold)

  /** Containment from a co-occurrence core — shared by
    * [[containmentPairs]] and the stored-artifact path (q136 derives
    * from [[storedCooc]]: at replica scales the exact co-occurrence
    * aggregate is by far the expensive stage, and a pipeline computes
    * it ONCE for both resemblance and containment, not per measure).
    */
  private[graft] def containmentFromCooc(cooc: DataFrame, threshold: Double): DataFrame =
    // Both directions via a LOCAL explode of each unordered pair row —
    // not a union of two projections over the aggregate: a union
    // duplicates the pair-aggregation subtree (ReuseExchange dedupes
    // the map side, but the reduce aggregate itself would run twice
    // per action), and at replica scales that aggregate is the
    // expensive stage.
    cooc
      .select(explode(array(
        struct(col("d1").as("contained_id"), col("d2").as("container_id"),
          (col("c").cast("double") / col("n1")).as("containment")),
        struct(col("d2").as("contained_id"), col("d1").as("container_id"),
          (col("c").cast("double") / col("n2")).as("containment")))).as("p"))
      .select(col("p.contained_id"), col("p.container_id"), col("p.containment"))
      .where(col("containment") >= threshold)

  private[graft] def gateMaxShingleDf(s: SparkSession): Int =
    s.conf.get("graft.dedup.gateMaxShingleDf", "1024").toInt

  // The gate measures' thresholds, single-sourced so the stored core's
  // retention predicate and its consumers cannot drift apart.
  private[graft] def gateJaccardThreshold(s: SparkSession): Double =
    s.conf.get("graft.dedup.gateJaccardThreshold", "0.5").toDouble
  private[graft] def gateContainmentThreshold(s: SparkSession): Double =
    s.conf.get("graft.dedup.gateContainmentThreshold", "0.9").toDouble

  /** Retention predicate for the stored core: keep a co-occurrence
    * row iff SOME gate consumer can keep it — Jaccard at `jaccardT`
    * or containment (either direction) at `containT`. A production
    * pair store retains only above-threshold candidates; below-both-
    * thresholds rows are dead weight every consumer scans and drops.
    * On the 30× replica corpus this is the difference between a
    * ~100M-row checkpoint (every mid-df cross-family shingle
    * contributes C(df,2) candidate rows) and the ~low-millions of
    * rows that actually matter — each consumer went from ~25 s of
    * artifact scan to ~1 s.
    *
    * Exactness: the three disjuncts are the consumers' own filter
    * EXPRESSIONS (same AST, same double arithmetic — c/(n1+n2−c),
    * c/n1, c/n2), so retained ⊇ kept holds bit-for-bit; no epsilon,
    * no boundary drift. Lowering a threshold below the artifact's
    * build-time value requires a rebuild — standard for a candidate
    * store, and the knobs (`graft.dedup.gateJaccardThreshold` /
    * `gateContainmentThreshold`) are read at build time and MEMOIZED
    * with the core — a consumer whose call-time threshold has since
    * been lowered below the build-time value hits the loud require in
    * [[coocAtThresholds]] instead of silently dropping qualifying
    * pairs against the trimmed store.
    */
  private[graft] def retainForGate(cooc: DataFrame, jaccardT: Double,
      containT: Double): DataFrame =
    cooc.where(
      (col("c").cast("double") / (col("n1") + col("n2") - col("c")) >= jaccardT) ||
      (col("c").cast("double") / col("n1") >= containT) ||
      (col("c").cast("double") / col("n2") >= containT))

  /** Session-scoped STORED co-occurrence core (d1, d2, c, n1, n2) over
    * the gate corpus — the expensive exact pair aggregate, computed
    * ONCE and derived from by BOTH measures (q31 resemblance, q136
    * containment) plus every storedPairs consumer. On 30× replica
    * corpora this aggregate is tens of minutes of work per
    * recomputation (every original's copies pairwise co-occur on
    * nearly every shingle); before q136 derived from the store, its
    * fresh recomputation dominated the entire sf3 bench.
    *
    * gate maxShingleDf (default 1024): the gate corpora's oracle-
    * equivalence bound. sf0.001–0.1 max shingle df ≈ 25; the sf1
    * pass (10× near-identical copies, BASELINE r8) pushes it to
    * 250, the sf3 spot-gate (30×) to 750 — the r7 cut of 128
    * tripped the cut-inert assert at sf1 exactly as documented.
    * 1024 keeps the cut provably inert across the whole gate
    * family while still bounding per-shingle candidate volume; the
    * assert continues to fail loudly past it, and the conf knob
    * (`graft.dedup.gateMaxShingleDf`) lets a larger replica gate
    * raise it without a code edit.
    */
  def storedCooc(s: SparkSession, d: String): DataFrame = storedCoocEntry(s, d)._1

  private def storedCoocEntry(s: SparkSession, d: String): (DataFrame, Double, Double) =
    StoredArtifacts.getOrBuild("cooc", s, d) {
      val jT = gateJaccardThreshold(s)
      val cT = gateContainmentThreshold(s)
      // retention applied at build time: the checkpoint holds only
      // rows some gate consumer can keep (see retainForGate)
      (pin(retainForGate(coocCounts(docs(s, d), gateMaxShingleDf(s)), jT, cT))._1, jT, cT)
    }

  /** The stored core, validated against a consumer's call-time
    * thresholds: retention keeps a row iff ANY disjunct passes, so a
    * consumer filtering at jaccard ≥ j sees every qualifying row iff
    * j ≥ the build-time jaccard threshold (independently for
    * containment). A threshold lowered mid-session — after the memo
    * materialized — would otherwise silently drop qualifying pairs;
    * here it fails loudly with the rebuild instruction instead.
    * Pass `Double.NaN` for a measure the consumer does not read (NaN
    * comparisons are false, so the corresponding check is skipped).
    */
  private[graft] def coocAtThresholds(s: SparkSession, d: String,
      jaccardT: Double, containT: Double): DataFrame = {
    val (core, jBuilt, cBuilt) = storedCoocEntry(s, d)
    requireAtLeastBuilt(jaccardT, jBuilt, containT, cBuilt)
    core
  }

  /** The loud half of the retention contract, shared by every
    * threshold-trimmed memo (stored core, stored pairs, incremental
    * core): fail when a consumer's call-time threshold sits below the
    * memo's build-time one. NaN skips a measure the consumer does not
    * read (NaN comparisons are false).
    */
  private def requireAtLeastBuilt(jaccardT: Double, jBuilt: Double,
      containT: Double, cBuilt: Double,
      remedy: String = "StoredArtifacts.clear(spark) to rebuild at the lower thresholds"): Unit =
    require(!(jaccardT < jBuilt) && !(containT < cBuilt),
      s"stored co-occurrence artifact was retention-trimmed at " +
        s"jaccard>=$jBuilt / containment>=$cBuilt; querying at " +
        s"$jaccardT / $containT would silently miss qualifying pairs — " +
        remedy)

  // each memo carries the thresholds its value was retention-trimmed
  // at (see coocAtThresholds / requireAtLeastBuilt: a consumer asking
  // below a build-time threshold must fail loudly — on MEMO HITS too,
  // not only at first materialization — never silently read a store
  // missing its rows)
  /** Session-scoped STORED near-dup pair table over the gate corpus —
    * the same materialized-artifact architecture as
    * [[Hierarchy.storedClosure]]: a production dedup pipeline
    * computes its pair list once and every downstream consumer
    * (cluster resolution, cross-source matrices, threshold sweeps,
    * leak-free splits) reads the stored table; the incremental path
    * (`minhashDeltaPairs` + the signature store) is what keeps it
    * current, not per-query recomputation. Carries the cut-inert
    * gate guard, so the FIRST materialization also verifies
    * oracle/cut equivalence. Library callers with their own corpora
    * use [[jaccardPairs]] directly.
    */
  def storedPairs(s: SparkSession, d: String): DataFrame = {
    // assertCutInert guard applied on the derived pairs: the gate
    // run itself verifies oracle/cut equivalence (the max-df check
    // is one linear aggregate over the corpus, not pair-shaped)
    val (pairs, jBuilt) = StoredArtifacts.getOrBuild("pairs", s, d) {
      val jT = gateJaccardThreshold(s)
      (pin(withCutInertGuard(
        jaccardFromCooc(coocAtThresholds(s, d, jT, Double.NaN), jT),
        docs(s, d), gateMaxShingleDf(s)))._1, jT)
    }
    // re-checked on every MEMO HIT too: the build-time require alone
    // would let a threshold lowered after materialization read the
    // old-threshold pair list silently
    requireAtLeastBuilt(gateJaccardThreshold(s), jBuilt, Double.NaN, Double.NaN)
    pairs
  }

  /** The tables a production pipeline PERSISTS to maintain the exact
    * co-occurrence core at delta cost instead of rebuilding it per
    * run (the one artifact that still full-rebuilt before r15; at sf3
    * the rebuild was 255 s — the single largest build in the suite):
    *
    *  - `postings` — [[coocPostings]]: distinct (doc_id, shingle-hash),
    *    16 B/row, linear in corpus shingle occurrences. Persist it
    *    BUCKETED BY `shingle`: the fold's only full-width touch is a
    *    shingle-keyed semi-join against the delta's shingle set, and
    *    bucketing turns that into a delta-side-only shuffle.
    *  - `sizes` — (doc_id, n): each doc's distinct-shingle count. One
    *    row per document; immutable once written (doc text is
    *    immutable), so the fold only APPENDS.
    *  - `hotKeys` — (shingle): shingles whose document frequency
    *    exceeded the df-cut as of the last fold. Model-sized by
    *    construction (≤ occurrences / maxShingleDf distinct values);
    *    df only GROWS under append-only ingest, so hotness is
    *    monotone and the fold only APPENDS newly-hot keys.
    *  - `cooc` — the retained (d1, d2, c, n1, n2) rows themselves.
    *    A pair's counts depend ONLY on its two documents' shingle
    *    sets, so existing rows are immutable under append-only
    *    ingest and the fold only APPENDS delta-touching pairs.
    *
    * Every table is append-only under the fold — upsert-sink friendly
    * with no rewrite amplification. Day 0 and every fold derive `cooc`
    * through the one [[coocKernel]] (self, then fold orientation).
    */
  final case class CoocStore(postings: DataFrame, sizes: DataFrame,
      hotKeys: DataFrame, cooc: DataFrame)

  /** Build the full [[CoocStore]] from scratch — the day-0
    * materialization; thereafter [[foldCoocDelta]] maintains it.
    */
  def buildCoocStore(df: DataFrame, maxShingleDf: Int,
      jaccardT: Double, containT: Double): CoocStore = {
    val post = graft.util.reused(coocPostings(df))
    CoocStore(
      postings = post,
      sizes = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n")),
      hotKeys = hotShingles(post, maxShingleDf),
      cooc = retainForGate(coocFromPostings(post, maxShingleDf), jaccardT, containT))
  }

  /** Fold one APPEND-ONLY delta batch of documents into a stored
    * [[CoocStore]] at delta cost: new retained pair rows are exactly
    * the delta-touching pairs, discovered by joining the delta's rare
    * postings against (a) the STORED postings restricted to
    * delta-touched shingles — one filtered pass over the store, a
    * delta-side-only shuffle when the store is bucketed by shingle —
    * and (b) themselves. Never a corpus-wide pair recompute.
    *
    * Exactness under the df-cut, per pair class:
    *  - old × old: counts depend only on the two docs' immutable
    *    shingle sets — stored rows are already exact and final.
    *  - delta × old and delta × delta: shared-rare counts come from
    *    the candidate joins under the UPDATED hot classification
    *    (stored df of touched shingles + delta df; a shingle only
    *    ever gains df, so rare→hot is the only migration); hot
    *    re-entry intersects the delta doc's FULL updated hot set with
    *    the old doc's hot set restricted to delta-touched shingles —
    *    sufficient, because a hot shingle absent from the delta
    *    partner's posting set cannot be shared.
    *
    * Equivalence contract: where the cut is inert (corpus max df ≤
    * maxShingleDf — the gate regime, assert-guarded by q31),
    * fold ≡ full rebuild EXACTLY (DedupSpec pins it). Where the cut
    * bites, every pair's (c, n1, n2) is still exact, and the folded
    * store is a SUPERSET of the rebuild's pair set: stored pairs were
    * discovered under an earlier, smaller hot set (strictly better
    * recall than rebuilding under the grown one) — the spec pins
    * superset + exact-common on a boilerplate corpus.
    *
    * Requires delta doc_ids disjoint from stored doc_ids (append-only
    * ingest — same contract as [[minhashDeltaPairs]]); re-folding the
    * same batch would double-count postings.
    */
  def foldCoocDelta(store: CoocStore, delta: DataFrame, maxShingleDf: Int,
      jaccardT: Double, containT: Double): CoocStore = {
    val p = coocFoldParts(store, delta, maxShingleDf, jaccardT, containT)
    CoocStore(
      postings = store.postings.select(col("doc_id"), col("shingle"))
        .unionByName(p.deltaPostings),
      sizes = store.sizes.select(col("doc_id"), col("n")).unionByName(p.deltaSizes),
      hotKeys = store.hotKeys.select(col("shingle")).unionByName(p.newlyHot),
      cooc = store.cooc.select(col("d1"), col("d2"), col("c"), col("n1"), col("n2"))
        .unionByName(p.newCooc))
  }

  /** The APPEND half of one fold — exactly the rows [[foldCoocDelta]]
    * unions onto the store, exposed separately so the PERSISTED form
    * ([[foldCoocIntoStore]]) can upsert only the new rows instead of
    * rewriting four whole tables.
    */
  private[graft] final case class CoocFoldParts(deltaPostings: DataFrame,
      deltaSizes: DataFrame, newlyHot: DataFrame, newCooc: DataFrame,
      /** The fold's reused()-persisted intermediates — the caller that
        * finishes consuming the parts (one materialization per batch)
        * unpersists them so a long-running stream does not accumulate
        * cached scratch frames.
        */
      pinned: Seq[DataFrame])

  private[graft] def coocFoldParts(store: CoocStore, delta: DataFrame,
      maxShingleDf: Int, jaccardT: Double, containT: Double): CoocFoldParts = {
    val deltaPost = graft.util.reused(coocPostings(delta))
    val deltaShingles = deltaPost.select(col("shingle")).distinct()
    val deltaDf = deltaPost.groupBy(col("shingle")).agg(count(lit(1)).as("dfd"))
    // ONE pass over the stored postings, filtered to delta-touched
    // shingles before anything wide happens (with the store bucketed
    // by shingle this semi-join shuffles only the delta side). The
    // delta's OWN doc_ids are excluded from the stored side: under
    // the disjointness contract that is a no-op, but it makes the
    // fold insensitive to the store already holding some or all of
    // the batch's own postings — the crash-retry window of the
    // persisted path (a retried batch would otherwise pair its docs
    // against themselves: least/greatest would emit retained
    // jaccard-1.0 SELF-pairs, and delta×delta pairs would count
    // twice). With the exclusion, a retry recomputes the exact clean
    // fold and every upsert is a same-key no-op.
    val touched = graft.util.reused(
      store.postings.select(col("doc_id"), col("shingle"))
        .join(deltaShingles, Seq("shingle"), "left_semi")
        .join(deltaPost.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"))
    val touchedDf = touched.groupBy(col("shingle")).agg(count(lit(1)).as("dfs"))
    // updated document frequencies exist only for touched shingles —
    // untouched shingles keep their df, hence their classification
    val newlyHot = touchedDf.join(deltaDf, Seq("shingle"), "full_outer")
      .select(col("shingle"),
        (coalesce(col("dfs"), lit(0L)) + coalesce(col("dfd"), lit(0L))).as("df"))
      .where(col("df") > maxShingleDf)
      .join(store.hotKeys.select(col("shingle")), Seq("shingle"), "left_anti")
      .select(col("shingle"))
    val hotNew = graft.util.reused(
      store.hotKeys.select(col("shingle")).unionByName(newlyHot))
    val deltaSizes = deltaPost.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // delta × (delta ∪ touched stored): a stored doc is never on the
    // left, so delta×stored pairs meet once per shared shingle and are
    // canonicalized; delta×delta pairs meet in both orders and keep
    // l < r. Hot arrays under the updated classification: delta docs
    // carry their full hot set, old docs only their delta-touched hot
    // shingles (sufficient — see scaladoc).
    val end = CoocEnd(deltaPost.unionByName(touched),
      store.sizes.select(col("doc_id"), col("n")).unionByName(deltaSizes))
    val newRows = coocKernel(deltaPost,
      deltaPost.withColumn("stored", lit(false))
        .unionByName(touched.withColumn("stored", lit(true))),
      // model-sized (≤ occurrences/maxDf keys) — broadcast everywhere
      broadcast(hotNew),
      _.where(col("stored") || col("l") < col("r"))
        .select(least(col("l"), col("r")).as("d1"), greatest(col("l"), col("r")).as("d2")),
      end, end)
    CoocFoldParts(
      deltaPostings = deltaPost,
      deltaSizes = deltaSizes,
      newlyHot = newlyHot,
      newCooc = retainForGate(newRows, jaccardT, containT),
      pinned = Seq(deltaPost, touched, hotNew))
  }

  /** PERSISTED [[CoocStore]] maintenance — the production form of
    * [[foldCoocDelta]], the same pattern as
    * [[Cluster.foldComponentsIntoStore]]: four
    * [[graft.sources.ParquetUpsertSink]] tables under `dir`
    * (`postings`, `sizes`, `hotkeys`, `cooc`) plus a 1-row `meta`
    * table pinning the store's df-cut and retention thresholds. The
    * first call materializes day-0 from the batch; each later call
    * folds the batch in at delta cost, upserting ONLY the fold's new
    * rows (every table is append-only — see [[CoocStore]]).
    *
    * Idempotent under redelivery AND crash-retry (the at-least-once
    * transport contract the other keyed stores honor, including the
    * mid-fold crash window a foreachBatch retry exercises):
    * already-ingested doc_ids are dropped from the batch up front by
    * an anti-join against the SIZES table, and sizes is written LAST
    * — so a batch is marked ingested only after every other table
    * committed, and a crash anywhere mid-fold makes the retry
    * recompute the whole fold. The recompute is exact even though
    * earlier tables may hold the crashed attempt's rows: the fold
    * excludes the batch's own doc_ids from the stored posting side
    * (see [[coocFoldParts]] — no self-pairs, no double counts), a
    * previously-committed newlyHot key re-derives into the same
    * classification via the stored hot set, and every re-upsert is a
    * same-key same-version no-op.
    *
    * The meta table makes config drift LOUD across sessions the way
    * [[coocAtThresholds]] does within one: folding with a different
    * `maxShingleDf` is refused (hot/rare classification must be
    * consistent store-wide — hotness is derived incrementally, only
    * for delta-touched shingles), as is folding with thresholds below
    * the store's (retention already dropped those rows). Returns the
    * number of NEW documents folded in.
    */
  def foldCoocIntoStore(s: SparkSession, dir: String, batch: DataFrame,
      maxShingleDf: Int = 128, jaccardT: Double = 0.5, containT: Double = 0.9,
      numBuckets: Int = 64): Long = {
    import graft.sources.ParquetUpsertSink
    val rev = lit(0L) // every table is append-only: rows are immutable
    def up(df: DataFrame, name: String, keys: Seq[String]): Unit =
      ParquetUpsertSink.upsert(df.withColumn("_rev", rev), s"$dir/$name",
        keys, "_rev", numBuckets)
    if (!ParquetUpsertSink.tableExists(s, s"$dir/meta")) {
      val st = buildCoocStore(batch, maxShingleDf, jaccardT, containT)
      up(st.postings, "postings", Seq("shingle", "doc_id"))
      up(st.sizes, "sizes", Seq("doc_id"))
      up(st.hotKeys, "hotkeys", Seq("shingle"))
      up(st.cooc, "cooc", Seq("d1", "d2"))
      // meta LAST: its presence marks a complete day-0 store, so a
      // crashed first build re-runs the build branch (same keys, same
      // versions — the partial writes converge)
      up(s.createDataFrame(Seq((0, maxShingleDf, jaccardT, containT)))
        .toDF("k", "max_shingle_df", "jaccard_t", "contain_t"), "meta", Seq("k"))
      val n = batch.select(col("doc_id")).distinct().count()
      st.postings.unpersist(false) // buildCoocStore's reused() scratch
      n
    } else {
      val meta = ParquetUpsertSink.read(s, s"$dir/meta")
        .select(col("max_shingle_df"), col("jaccard_t"), col("contain_t"))
        .head()
      require(meta.getInt(0) == maxShingleDf,
        s"cooc store at $dir was built with maxShingleDf=${meta.getInt(0)}, " +
          s"fold called with $maxShingleDf — the hot/rare classification is " +
          "derived incrementally and must be consistent store-wide; rebuild " +
          "into a new path to change the cut")
      requireAtLeastBuilt(jaccardT, meta.getDouble(1), containT, meta.getDouble(2),
        // the session-memo remedy cannot help here: the meta table on
        // DISK pins the build-time thresholds
        remedy = "rebuild into a new path to fold at lower thresholds " +
          "(the store's meta table pins its build-time values)")
      val stored = CoocStore(
        postings = readStoreTable(s, dir, "postings", Seq("doc_id", "shingle")),
        sizes = readStoreTable(s, dir, "sizes", Seq("doc_id", "n")),
        hotKeys = readStoreTable(s, dir, "hotkeys", Seq("shingle")),
        cooc = readStoreTable(s, dir, "cooc", Seq("d1", "d2", "c", "n1", "n2")))
      // redelivery guard: drop already-ingested docs (see scaladoc)
      val (fresh, nFresh) = pin(batch
        .join(stored.sizes.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      if (nFresh == 0) return 0L
      val parts = coocFoldParts(stored, fresh,
        meta.getInt(0), meta.getDouble(1), meta.getDouble(2))
      // sizes LAST: it is the redelivery guard's read table, so its
      // commit is what marks the batch ingested (see scaladoc)
      up(parts.deltaPostings, "postings", Seq("shingle", "doc_id"))
      up(parts.newlyHot, "hotkeys", Seq("shingle"))
      up(parts.newCooc, "cooc", Seq("d1", "d2"))
      up(parts.deltaSizes, "sizes", Seq("doc_id"))
      val n = fresh.select(col("doc_id")).distinct().count()
      // the fold's reused() intermediates are per-batch scratch: a
      // long-running stream would otherwise pin 3 cached frames per
      // micro-batch in the CacheManager until session teardown
      parts.pinned.foreach(_.unpersist(false))
      n
    }
  }

  /** One table of a persisted store, as an EMPTY frame when the sink
    * has never committed it — legitimate for `hotkeys` (a cut-inert
    * corpus never crosses the df-cut) and for `cooc` (a corpus with
    * no retained pairs): an upsert of zero rows creates no table.
    * Every column of every store table is a 64-bit long, so the
    * empty schema is uniform; the handle only reads, so its key is
    * just the columns.
    */
  private def readStoreTable(s: SparkSession, dir: String, name: String,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    graft.sources.ParquetStore(s"$dir/$name", cols, "_rev")
      .scanOrEmpty(s, StructType(cols.map(StructField(_, LongType))))
  }

  /** Read the live pair table of a persisted store (the table every
    * downstream consumer scans; [[jaccardFromCooc]] /
    * [[containmentFromCooc]] derive the measures from it).
    */
  def readCoocStore(s: SparkSession, dir: String): DataFrame =
    readStoreTable(s, dir, "cooc", Seq("d1", "d2", "c", "n1", "n2"))

  /** The q149 artifact, memoized like q119's incremental components:
    * the stored co-occurrence core a production run holds after the
    * nightly delta fold — day-0 store built from the doc_id % 10 ≠ 0
    * nine-tenths, the remaining tenth folded in at delta cost via
    * [[foldCoocDelta]]. Gate thresholds and df-cut are the same
    * build-time knobs as [[storedCooc]]; cut-inertness on the gate
    * corpus rides q31's in-plan assert (same corpus, same cut), under
    * which fold ≡ full rebuild exactly — so q31's oracle doubles as
    * the incremental path's oracle.
    */
  def storedIncrementalCooc(s: SparkSession, d: String): DataFrame =
    incrCoocAtThresholds(s, d, Double.NaN, Double.NaN)

  /** Same drift guard as [[coocAtThresholds]], for the incremental
    * store: q149 consumes it at the call-time jaccard threshold, so a
    * mid-session lowering must fail loudly here too — not silently
    * filter an artifact trimmed at the higher build-time value.
    */
  private def incrCoocAtThresholds(s: SparkSession, d: String,
      jaccardT: Double, containT: Double): DataFrame = {
    val (core, jBuilt, cBuilt) = StoredArtifacts.getOrBuild("incr_cooc", s, d) {
      val all = docs(s, d)
      val maxDf = gateMaxShingleDf(s)
      val jT = gateJaccardThreshold(s)
      val cT = gateContainmentThreshold(s)
      (pin(foldCoocDelta(
        buildCoocStore(all.where(col("doc_id") % 10 =!= 0), maxDf, jT, cT),
        all.where(col("doc_id") % 10 === 0), maxDf, jT, cT).cooc)._1, jT, cT)
    }
    requireAtLeastBuilt(jaccardT, jBuilt, containT, cBuilt)
    core
  }

  val q31 = Q(
    "q31_dedup_jaccard",
    // assertCutInert (inside storedPairs): the gate run itself
    // verifies oracle/cut equivalence instead of assuming
    (s, d) => storedPairs(s, d),
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), sh AS (
           |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), sz AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
           |), co AS (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
           |  FROM sh a JOIN sh b USING (shingle)
           |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
           |)
           |SELECT d1, d2, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
           |FROM co JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
           |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5""".stripMargin),
    "exact word-3-gram Jaccard near-dup pairs (shingle-bucketed, df-cut hot shingles, never all-pairs)")

  /** Cross-corpus near-duplicate audit — train/test CONTAMINATION
    * detection, the pre-training hygiene pass: every (train, eval)
    * pair whose word-3-gram Jaccard meets the threshold, i.e. eval
    * documents leaked (verbatim or lightly edited) into the training
    * corpus. [[coocKernel]]'s cross orientation: df-cut hot shingles
    * computed over BOTH corpora, exact Jaccard via rare-join counts +
    * per-doc hot-set intersections, and the candidate join is
    * train-side × eval-side — never within a corpus — so candidate
    * volume is bounded by the CROSS overlap, which for a clean
    * pipeline is near zero.
    */
  def contaminationPairs(train: DataFrame, eval: DataFrame, threshold: Double,
      maxShingleDf: Int = 128): DataFrame = {
    val shT = graft.util.reused(coocPostings(train))
    val shE = graft.util.reused(coocPostings(eval))
    // hotness is a GLOBAL property: a boilerplate shingle is hot no
    // matter which corpus each occurrence lives in
    val hot = hotShingles(shT.select(col("shingle")).union(shE.select(col("shingle"))),
      maxShingleDf)
    jaccardFromCooc(coocKernel(shT, shE, hot,
      _.select(col("l").as("d1"), col("r").as("d2")), CoocEnd.of(shT), CoocEnd.of(shE)),
      threshold).toDF("train_id", "eval_id", "jac")
  }

  /** Session-scoped STORED contamination audit over the gate corpus's
    * train/eval source split — the [[storedPairs]] architecture
    * applied to the cross-corpus family: a pre-training pipeline runs
    * the audit once per corpus snapshot and stores the pair list, and
    * the decontamination ACTION (q68) anti-joins the stored table
    * instead of re-shingling both corpora. The df-cut here is
    * exactness-preserving at ANY cut (hot shingles are counted via
    * per-doc hot-set intersections, not dropped), so no cut-inert
    * guard is needed. Library callers with their own split use
    * [[contaminationPairs]] / [[decontaminateOn]] directly.
    */
  /** The gate corpus's split: sources src0..src9 are "train",
    * src10+ are "eval" — the two tables a real pipeline supplies. */
  private def gateSplit(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docsDf = Tables.documents(s, d)
    val srcNum = substring(col("source"), 4, 10).cast("int")
    (docsDf.where(srcNum < 10), docsDf.where(srcNum >= 10))
  }

  def storedContamination(s: SparkSession, d: String): DataFrame =
    StoredArtifacts.getOrBuild("contamination", s, d) {
      val (train, eval) = gateSplit(s, d)
      pin(contaminationPairs(train, eval, 0.5))._1
    }

  val q58 = Q(
    "q58_contamination",
    (s, d) => storedContamination(s, d),
    Some("""WITH toks AS (
           |  SELECT doc_id, CAST(substr(source, 4) AS INT) AS sn,
           |         string_split_regex(trim(text), '\s+') w
           |  FROM documents
           |), sh AS (
           |  SELECT DISTINCT doc_id, sn, array_to_string(w[i:i+2], ' ') AS shingle
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), sz AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
           |), co AS (
           |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, COUNT(*) AS c
           |  FROM sh a JOIN sh b USING (shingle)
           |  WHERE a.sn < 10 AND b.sn >= 10 GROUP BY 1, 2
           |)
           |SELECT train_id, eval_id, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
           |FROM co JOIN sz sa ON sa.doc_id = train_id JOIN sz sb ON sb.doc_id = eval_id
           |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5""".stripMargin),
    "train/test contamination: cross-corpus near-dup audit (df-cut, exact Jaccard)")

  /** Decontamination — the ACTION the q58 audit feeds: drop every
    * train document near-duplicating any eval document, returning the
    * clean train corpus. One anti-join against the (tiny) contaminated
    * id set; all the scale machinery lives in `contaminationPairs`.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, threshold: Double,
      maxShingleDf: Int = 128): DataFrame =
    decontaminateOn(train, contaminationPairs(train, eval, threshold, maxShingleDf))

  /** Decontamination against an ALREADY-STORED audit (a pair table
    * with a `train_id` column, e.g. [[storedContamination]] or a
    * persisted [[contaminationPairs]] run): one anti-join, no
    * re-shingling — the shape a production pipeline actually runs. */
  def decontaminateOn(train: DataFrame, pairs: DataFrame): DataFrame =
    train.join(
      pairs.select(col("train_id").as("doc_id")),
      Seq("doc_id"), "left_anti")

  val q68 = Q(
    "q68_decontaminate",
    (s, d) => decontaminateOn(gateSplit(s, d)._1, storedContamination(s, d))
      .select(col("doc_id"), col("source")),
    Some("""WITH toks AS (
           |  SELECT doc_id, CAST(substr(source, 4) AS INT) AS sn,
           |         string_split_regex(trim(text), '\s+') w
           |  FROM documents
           |), sh AS (
           |  SELECT DISTINCT doc_id, sn, array_to_string(w[i:i+2], ' ') AS shingle
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), sz AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
           |), co AS (
           |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, COUNT(*) AS c
           |  FROM sh a JOIN sh b USING (shingle)
           |  WHERE a.sn < 10 AND b.sn >= 10 GROUP BY 1, 2
           |), bad AS (
           |  SELECT DISTINCT train_id FROM co
           |  JOIN sz sa ON sa.doc_id = train_id JOIN sz sb ON sb.doc_id = eval_id
           |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
           |)
           |SELECT doc_id, source FROM documents
           |WHERE CAST(substr(source, 4) AS INT) < 10
           |  AND doc_id NOT IN (SELECT train_id FROM bad)""".stripMargin),
    "decontaminated train corpus: q58's audit applied as an anti-join")

  /** MinHash signatures + LSH band hashes, one compact row per doc:
    * (doc_id, sh: array&lt;string&gt; — the shingle set for exact verify,
    * bh: array&lt;long&gt; — `bands` band hashes). This is the table a
    * production pipeline PERSISTS between runs: the nightly delta path
    * (`minhashDeltaPairs`) re-hashes only new documents and band-joins
    * them against these stored rows, never re-shingling the corpus.
    *
    * Signature via exploded shingles + k min-aggregates in ONE
    * group-by pass: xxhash64/min are codegen'd, vs the per-row
    * `transform` lambda formulation (graft.functions.minhash) which
    * is CodegenFallback and ~4x slower at sf0.1.
    * Hash each shingle STRING once; the k "permutations" re-hash the
    * resulting 64-bit value with the slot index. Equivalent k-wise
    * independence for LSH purposes, but string bytes are touched once
    * instead of k times — the signature aggregate was the dominant
    * stage before this (k× string re-hash per shingle occurrence).
    * Fully deterministic (seeded xxhash64, no RNG): signatures
    * computed in different runs/partitionings are identical, which is
    * what makes the incremental path sound.
    */
  def minhashSignatures(df: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    require(k % bands == 0, s"bands must divide k: k=$k bands=$bands")
    val rows = k / bands
    val shEx = shingleSets(df)
      .select(col("doc_id"), col("shingle"), xxhash64(col("shingle")).as("h0"))
    val bandHashes = array((0 until bands).map { bd =>
      xxhash64((lit(bd) +: (0 until rows).map(j => col(s"m${bd * rows + j}"))): _*)
    }: _*)
    shEx.groupBy(col("doc_id")).agg(
      collect_list(col("shingle")).as("sh"),
      (0 until k).map(i => min(xxhash64(lit(i), col("h0"))).as(s"m$i")): _*)
      .select(col("doc_id"), col("sh"), bandHashes.as("bh"))
  }

  /** MinHash signatures (k seeded xxhash64 minima) banded into
    * `bands` buckets of `rows` signature slots each. Two docs land in
    * the same bucket for band i iff their signatures agree on all of
    * that band's slots — P[candidate] = 1−(1−s^rows)^bands for true
    * Jaccard s. Candidates are then verified with EXACT Jaccard on the
    * shingle sets, so output precision is exact; only recall is
    * probabilistic (spec-tested against q31). This is
    * [[minhashBandPairs]] with every document on the probe side and no
    * stored side.
    */
  def minhashPairs(df: DataFrame, threshold: Double,
      k: Int = 32, bands: Int = 8): DataFrame =
    // signature pipeline runs once, not per join side
    minhashBandPairs(graft.util.reused(minhashSignatures(df, k, bands)), None, threshold)

  /** Incremental (nightly-delta) near-dup detection: all MinHash+LSH
    * pairs that TOUCH a new batch — delta×corpus and delta×delta —
    * given the corpus's PERSISTED signature table
    * (`minhashSignatures` output read back from parquet). Only the
    * delta is shingled and hashed; the corpus contributes its stored
    * (sh, bh) rows. Because the signature pipeline is deterministic,
    * the result equals a full `minhashPairs` run over corpus∪delta
    * restricted to pairs with a delta member (DedupSpec pins this).
    *
    * Scale shape: the band join is keyed on (band, band-hash) — the
    * corpus bucket table shuffles once by that key (or sits
    * pre-bucketed on it in storage); the delta side is tiny and AQE
    * broadcasts it. Per-band fan-out is bounded by bucket occupancy
    * exactly as in q32; candidates are narrowed to (d1, d2) before
    * dedup; exact Jaccard verify joins shingle sets back from the
    * stored rows. A daily 0.1% delta therefore costs ~0.1% of the
    * full-run band join, not a corpus re-scan. One core,
    * [[minhashBandPairs]], serves this and the full run.
    */
  def minhashDeltaPairs(corpusSigs: DataFrame, delta: DataFrame,
      threshold: Double, k: Int = 32, bands: Int = 8): DataFrame =
    minhashDeltaPairsFromSigs(Some(corpusSigs),
      // delta hashed once, reused on both join sides
      graft.util.reused(minhashSignatures(delta, k, bands)), threshold)

  /** The band-join core of the incremental path, taking the delta's
    * signatures directly — for callers that also persist them (the
    * streaming ingest dedup hashes each micro-batch exactly once and
    * reuses the rows here and in the signature-store upsert). A first
    * batch, with no stored signatures yet, passes None.
    */
  def minhashDeltaPairsFromSigs(corpusSigs: Option[DataFrame], sigD: DataFrame,
      threshold: Double): DataFrame =
    minhashBandPairs(sigD, corpusSigs, threshold)

  /** THE MinHash band join and exact verify: the pairs of `probe`
    * signatures with each other and with the `stored` ones; a full run
    * ([[minhashPairs]]) is a probe with no store. The store is an
    * Option, not an empty frame: Spark's empty-relation propagation
    * stops at posexplode, so an empty stored side would still plan
    * (and broadcast) its band join. Probe×probe candidates are emitted
    * once (d1 < d2), probe×stored ones canonicalized (a redelivered
    * doc stored under its own id is no rival of itself), and only
    * (d1, d2) reaches the dedup: on clustered corpora the band join
    * emits each hot pair once per agreeing band, and shuffling the
    * shingle arrays through that dedup dominates the query. The
    * arrays re-join after the dedup from the 1-row-per-doc signature
    * tables (small side — AQE broadcasts it at this scale), and the
    * Jaccard test is the last join's condition.
    */
  private def minhashBandPairs(probe: DataFrame, stored: Option[DataFrame],
      threshold: Double): DataFrame = {
    def buckets(sig: DataFrame, id: String) =
      sig.select(col("doc_id").as(id), posexplode(col("bh")).as(Seq("band", "bh")))
    def docSets(sig: DataFrame) = sig.select(col("doc_id"), col("sh"))
    val mine = buckets(probe, "da")
    val within = mine.join(buckets(probe, "db"), Seq("band", "bh"))
      .where(col("da") < col("db"))
      .select(col("da").as("d1"), col("db").as("d2"))
    val cand = stored.fold(within)(st => within.union(mine.join(buckets(st, "db"), Seq("band", "bh"))
      .where(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("d1"), greatest(col("da"), col("db")).as("d2"))))
    val sets = stored.fold(docSets(probe))(st => docSets(st).union(docSets(probe)))
    cand.dropDuplicates("d1", "d2")
      .join(sets.toDF("d1", "sh1"), "d1")
      .join(sets.toDF("d2", "sh2"), "d2")
      .withColumn("jac",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .where(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  val q32 = Q(
    "q32_dedup_minhash",
    (s, d) => minhashPairs(docs(s, d), 0.5),
    // Consumer-step oracle (the r10 q35/q43 pattern): seeded xxhash64
    // has no DuckDB mirror, so Verify exports the deterministic BAND
    // BUCKET table (doc_id, band, bh) and the oracle recomputes
    // everything downstream of the hashing independently — the
    // band-bucket candidate join AND the exact Jaccard verification
    // from the q31 shingle CTEs. The hash step is shared data; the
    // candidate logic and the verify math are independently mirrored.
    Some(s"""WITH b AS (
           |  SELECT doc_id, band, bh
           |  FROM read_parquet('${graft.operators.Ann.gateModelDir}/minhash_buckets_32_8.parquet/*.parquet')
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM b x JOIN b y ON x.band = y.band AND x.bh = y.bh
           |  WHERE x.doc_id < y.doc_id
           |), toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents
           |), sh AS (
           |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), sz AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
           |), co AS (
           |  SELECT c.d1, c.d2, COUNT(*) AS c
           |  FROM cand c
           |  JOIN sh a ON a.doc_id = c.d1
           |  JOIN sh b2 ON b2.doc_id = c.d2 AND b2.shingle = a.shingle
           |  GROUP BY 1, 2
           |)
           |SELECT d1, d2, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
           |FROM co JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
           |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5""".stripMargin),
    "MinHash+LSH banded near-dup: 8 buckets/doc, exact-verify candidates")

  /** Per-doc 64-bit SimHash — the deterministic signature q33's
    * banding consumes (seeded xxhash64 token hashes through the
    * native mergeable vote aggregate; order-independent, so the
    * exported copy equals the in-query recompute bit-for-bit).
    */
  def simhashValues(df: DataFrame): DataFrame = df
    .select(col("doc_id"), explode(words(col("text"))).as("t"))
    .select(col("doc_id"), xxhash64(col("t")).as("h"))
    .groupBy(col("doc_id"))
    .agg(graft.functions.simhashAgg(col("h")).as("sh"))

  /** SimHash near-dup pairs: [[hammingPairs]] over [[simhashValues]]
    * with 64 bits in `64/chunkBits` chunks; docs sharing any chunk
    * value at the same position become candidates (pigeonhole:
    * hamming ≤ chunks−1 guarantees a shared chunk). Emits pairs with
    * hamming ≤ maxHamming (INT).
    *
    * Chunk width is the scale knob, and it is AUTO-SELECTED from the
    * corpus size by default (chunkBits = 0): 8-bit chunks (8 chunks,
    * pigeonhole-complete for hamming ≤ 7) up to 2M docs; 16-bit chunks
    * (2^16 values per position — buckets stay selective on corpora
    * where 8-bit chunk values saturate) above that. With 16-bit chunks
    * completeness is guaranteed only for hamming ≤ 3; pairs at hamming
    * 4..maxHamming are still found whenever any 16-bit chunk agrees
    * (probabilistic, like MinHash banding) — the price of bounding
    * candidate volume on billion-doc corpora. Pass chunkBits
    * explicitly to pin either regime (specs pin 8-bit behavior).
    */
  def simhashPairs(df: DataFrame, maxHamming: Int, chunkBits: Int = 0,
      nDocs: Long = -1L): DataFrame = {
    val bits =
      if (chunkBits > 0) chunkBits
      else {
        // Auto regime selection needs the corpus size from the CALLER
        // (table statistics or a prior pipeline stage). The pre-r7
        // fallback ran df.count() right here — an EAGER Spark job at
        // plan-construction time that recomputed whatever feeds `df`
        // (the r5 verdict's hidden-action complaint; guardMaxRows is
        // the lazy template, but chunk width shapes the PLAN — number
        // of posexploded chunks — so it cannot be decided in-plan).
        // PlanSpec pins plan construction to zero Spark jobs.
        require(nDocs >= 0L,
          "simhashPairs: auto chunk-width selection needs the corpus size; " +
            "pass nDocs (from table stats or a prior stage) or pin chunkBits " +
            "explicitly (8 = pigeonhole-complete to hamming 7, good to ~2M " +
            "docs; 16 = selective buckets beyond). Counting here would run a " +
            "Spark job at plan-construction time over the full upstream lineage.")
        if (nDocs <= 2000000L) 8
        else {
          log.warn(s"simhashPairs auto-selected 16-bit chunks for $nDocs docs: " +
            s"pigeonhole completeness now covers hamming <= 3 only; pairs at " +
            s"hamming 4..$maxHamming are found probabilistically (any-chunk " +
            "agreement). Pass chunkBits=8 to pin the complete regime.")
          16
        }
      }
    hammingPairs(simhashValues(df).select(col("doc_id"), col("sh").as("ph")),
      64, bits, maxHamming)
  }

  /** THE hamming-ball pair core of the fingerprint family (q33's
    * SimHash, the media pHash paths of [[Multimodal]]): every pair of
    * `(doc_id: long, ph: long)` rows whose `bits`-bit fingerprints
    * differ in at most `maxHamming` bits and agree on at least one of
    * the `bits/chunkBits` aligned chunks — all such pairs when
    * maxHamming < chunks (pigeonhole). Output (d1, d2, hamming: INT),
    * d1 < d2, each pair once.
    */
  private[graft] def hammingPairs(hashes: DataFrame, bits: Int, chunkBits: Int,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val chunks = bits / chunkBits
    // Hash ONCE (guide §8: the fingerprint pass runs once, everything
    // downstream works over 16-byte proxy rows): the persist is the
    // materialization point for all five consumers below (the
    // distinct, both clique-join sides, both member attaches) — block-
    // level locking makes concurrent first-touch stages wait on one
    // compute instead of re-running the decode. Builders stay
    // action-free at plan time (the PlanSpec contract), so this is a
    // lazy persist, not an eager checkpoint.
    val hashed = graft.util.reused(hashes)
    // Hot-bucket cap (guide §2.5; the r18 verdict watch item): band at
    // DISTINCT-fingerprint grain, never member grain. A degenerate
    // corpus (mass identical payloads — blank thumbnails, silence,
    // templated documents) used to drop its whole population into one
    // (chunk, cv) bucket, and the member-grain self-join went quadratic
    // in members × chunks BEFORE its distinct. At hash grain the
    // banding join is quadratic only in distinct co-bucketed
    // fingerprints; doc pairs are re-attached afterwards at OUTPUT
    // size via streaming equi-joins (never a per-row array
    // materialization). The emitted pair set is IDENTICAL for any
    // maxHamming: identical-fingerprint pairs share every chunk, so
    // they were always candidates (hamming 0 — the member self-join on
    // ph); distinct-fingerprint pairs share a chunk iff their
    // fingerprints do, so hash-grain banding finds exactly the
    // member-grain candidate set. The unsigned shift keeps a 64-bit
    // fingerprint's top chunk free of sign fill.
    val bucketed = hashed.select(col("ph")).distinct().select(col("ph"),
      posexplode(array((0 until chunks).map(c =>
        shiftrightunsigned(col("ph"), c * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1))): _*))
        .as(Seq("chunk", "cv")))
    // hamming verify BEFORE the dedup, explicitly: candidates are
    // quadratic in co-bucketed hashes (482M at sf10p for 544 real
    // pairs — the synthetic corpus's chunk values collide heavily)
    // while bit_count is one codegen op per row, so the filter runs
    // in the join stage and the distinct only ever sees survivors
    // (multiplicity ≤ chunks per pair). Spelled in this order rather
    // than relying on the optimizer pushing a post-distinct filter
    // through the aggregate: the pushdown is real but fragile, and a
    // 482M-row distinct measured 451 s when it missed.
    // Quadratic-fanout stage width: the banding join's INPUT is tiny
    // (16-byte rows per distinct fingerprint) but its match fanout is
    // quadratic in co-bucketed hashes, so AQE's byte-based partition
    // coalescing collapses the post-shuffle stage to ONE partition
    // (measured at sf10p: the 482M-candidate probe ran as a single
    // ~100 s task). Explicit user partitioning at runtime-derived
    // width is respected by AQE; both sides share the (chunk, cv)
    // layout and count, so the join adds no further exchange.
    val par = math.max(hashes.sparkSession.sparkContext.defaultParallelism, 1)
    val bucketedP = bucketed.repartition(par, col("chunk"), col("cv"))
    val phPairs = bucketedP.select(col("ph").as("p1"), col("chunk"), col("cv"))
      .join(bucketedP.select(col("ph").as("p2"), col("chunk"), col("cv")),
        Seq("chunk", "cv"))
      .where(col("p1") < col("p2"))
      .withColumn("hamming", bit_count(col("p1").bitwiseXOR(col("p2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("p1"), col("p2"), col("hamming"))
      .distinct()
    // exact-duplicate cliques: identical fingerprints need no hamming
    // search — they are hamming-0 pairs by definition
    val intra = hashed.select(col("doc_id").as("d1"), col("ph"))
      .join(hashed.select(col("doc_id").as("d2"), col("ph")), Seq("ph"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(0).as("hamming"))
    // near-duplicate fingerprint pairs re-attached to their members;
    // every member of p1 pairs with every member of p2 (output-sized)
    val inter = phPairs
      .join(hashed.select(col("doc_id").as("da"), col("ph").as("p1")), Seq("p1"))
      .join(hashed.select(col("doc_id").as("db"), col("ph").as("p2")), Seq("p2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    intra.unionByName(inter)
  }

  val q33 = Q(
    "q33_dedup_simhash",
    // chunkBits pinned, not auto: the gate builder must construct its
    // plan without running a count job (PlanSpec pins zero jobs at
    // plan-construction); 8-bit chunks are the complete regime for the
    // test corpus and any corpus to ~2M docs
    (s, d) => simhashPairs(docs(s, d), maxHamming = 5, chunkBits = 8),
    // Consumer-step oracle: Verify exports the per-doc 64-bit simhash
    // (deterministic vote aggregate); the oracle independently
    // recomputes the 8-bit chunk banding, the pigeonhole candidate
    // join, and the XOR-popcount hamming verify. `(sh >> k) & 255`
    // matches shiftrightunsigned+mask for every chunk: the mask keeps
    // only the 8 in-word bits, so arithmetic-shift sign fill never
    // reaches the compare.
    Some(s"""WITH s AS (
           |  SELECT doc_id, sh
           |  FROM read_parquet('${graft.operators.Ann.gateModelDir}/simhash_64.parquet/*.parquet')
           |), ch AS (
           |  SELECT doc_id, sh, i AS pos, (sh >> (i * 8)) & 255 AS cv
           |  FROM s CROSS JOIN (SELECT UNNEST(range(0, 8)) AS i) t
           |)
           |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
           |FROM ch a JOIN ch b ON a.pos = b.pos AND a.cv = b.cv
           |WHERE a.doc_id < b.doc_id
           |  AND bit_count(xor(a.sh, b.sh)) <= 5""".stripMargin),
    "SimHash near-dup: scale-aware chunk buckets, hamming<=5 (pigeonhole-complete at test scale)")

  /** Passage-level exact dedup (RefinedWeb/MassiveText-style): each
    * document is cut into non-overlapping `passageLen`-token passages
    * (Pack.chunkDocs with stride = length), every repeated passage
    * keeps only its globally FIRST occurrence — min (doc_id, position)
    * — and each document is re-assembled from its surviving passages
    * in order. Unlike whole-doc dedup (q30) this removes boilerplate
    * repeated ACROSS otherwise-distinct documents.
    *
    * Scale shape: the keeper per passage is a mergeable min-struct
    * aggregate (map-side partial absorbs the hot-passage skew the
    * templated corpus maximizes), then one hash join back on the
    * passage string — each passage row matches exactly one keeper row,
    * so join output is linear in corpus passages. A window
    * `partitionBy(chunk)` would buffer the hottest passage's every
    * occurrence in one task; the groupBy+join shape never does.
    * Re-assembly is one per-doc aggregate; collect_list(when(keep,..))
    * drops the nulls of dropped passages, so fully-deduped documents
    * still emit a row (empty clean_text) without a second join.
    */
  def passageDedup(df: DataFrame, passageLen: Int = 16): DataFrame = {
    val chunks = Pack.chunkDocs(df, passageLen, passageLen)
      .select(col("doc_id"), col("chunk_id"), col("chunk"))
    val keepers = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("k"))
      .select(col("chunk"),
        col("k.doc_id").as("k_doc"), col("k.chunk_id").as("k_chunk"))
    chunks.join(keepers, Seq("chunk"))
      .withColumn("keep",
        col("doc_id") === col("k_doc") && col("chunk_id") === col("k_chunk"))
      .groupBy(col("doc_id"))
      .agg(
        // sort_array orders by struct fields in order => by chunk_id;
        // array_join is interpreted but runs once per doc on the final
        // tiny aggregate, not in the per-passage hot path.
        array_join(
          sort_array(collect_list(when(col("keep"),
            struct(col("chunk_id"), col("chunk"))))).getField("chunk"),
          " ").as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
  }

  val q71 = Q(
    "q71_dedup_passage",
    (s, d) => passageDedup(docs(s, d), passageLen = 16),
    Some("""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
           |         len(string_split_regex(trim(text), '\s+')) AS n_tok
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, w, n_tok, unnest(generate_series(0,
           |    GREATEST(0, CAST(ceil((n_tok - 16) / 16.0) AS INT)))) AS chunk_id
           |  FROM t
           |), p AS (
           |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           |    array_to_string(w[chunk_id * 16 + 1 : chunk_id * 16 + 16], ' ') AS chunk
           |  FROM c
           |), k AS (
           |  SELECT doc_id, chunk_id, chunk,
           |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) AS rn
           |  FROM p
           |)
           |SELECT doc_id,
           |  COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
           |    ORDER BY chunk_id), '') AS clean_text,
           |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
           |FROM k GROUP BY doc_id""".stripMargin),
    "passage-level exact dedup: 16-token passages, global first-occurrence keeper, reassembled clean text")

  /** C4-style boilerplate scrub: drop EVERY occurrence of a passage
    * that appears in more than `maxDf` distinct documents — the
    * "terms of service" / navigation-chrome remover. Contrast with
    * `passageDedup` (q71), which KEEPS the first occurrence: a
    * boilerplate passage is noise in all its hosts, so none survives.
    *
    * Scale shape: passage df is a map-side-combinable two-phase
    * aggregate on (chunk, doc_id); the hot-flag join back is keyed on
    * `chunk` — the same key the df groupBy already shuffled on — and
    * a mega-hot chunk's join partition is one-row×occurrences, the
    * case AQE skew-split handles (q31's df-join pattern). Reassembly
    * is q71's per-doc tiny aggregate, never a window over raw chunks.
    */
  def boilerplateScrub(docsDf: DataFrame, passageLen: Int = 16,
      maxDf: Long = 1): DataFrame = {
    val chunks = Pack.chunkDocs(docsDf, passageLen, passageLen)
      .select(col("doc_id"), col("chunk_id"), col("chunk"))
    val hot = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("cdf"))
      .where(col("cdf") > maxDf)
      .select(col("chunk"), lit(true).as("hot"))
    chunks.join(hot, Seq("chunk"), "left")
      .withColumn("keep", col("hot").isNull)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          sort_array(collect_list(when(col("keep"),
            struct(col("chunk_id"), col("chunk"))))).getField("chunk"),
          " ").as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
  }

  val q91 = Q(
    "q91_boilerplate",
    (s, d) => boilerplateScrub(docs(s, d), passageLen = 16, maxDf = 1),
    Some("""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
           |         len(string_split_regex(trim(text), '\s+')) AS n_tok
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, w, n_tok, unnest(generate_series(0,
           |    GREATEST(0, CAST(ceil((n_tok - 16) / 16.0) AS INT)))) AS chunk_id
           |  FROM t
           |), p AS (
           |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           |    array_to_string(w[chunk_id * 16 + 1 : chunk_id * 16 + 16], ' ') AS chunk
           |  FROM c
           |), f AS (
           |  SELECT chunk, COUNT(DISTINCT doc_id) AS cdf FROM p GROUP BY 1
           |)
           |SELECT p.doc_id,
           |  COALESCE(string_agg(CASE WHEN f.cdf <= 1 THEN p.chunk END, ' '
           |    ORDER BY p.chunk_id), '') AS clean_text,
           |  CAST(SUM(CASE WHEN f.cdf <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN f.cdf <= 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
           |FROM p JOIN f USING (chunk)
           |GROUP BY p.doc_id""".stripMargin),
    "C4-style boilerplate scrub: passages in > maxDf distinct docs dropped from every host")

  /** Cross-source duplication matrix — WHERE the near-duplicates come
    * from: q31's exact near-dup pairs rolled up by (source, source).
    * The diagonal counts within-source redundancy (scraper re-crawls);
    * off-diagonal cells expose source pairs that mirror each other
    * (the classic CommonCrawl-vs-curated-dump overlap) — the evidence
    * a mixture designer uses to decide which source to down-weight
    * BEFORE q73's sampling pass runs. Source pairs are unordered
    * (least/greatest) so each cell appears once.
    *
    * Scale shape: the pair list is tiny relative to the corpus (it is
    * the dedup output), and each side joins doc_id→source by plain
    * hash join; the final rollup is at most |sources|² rows off a
    * map-side partial. All the heavy lifting is q31's skew-guarded
    * candidate machinery, reused as-is.
    */
  def dupMatrix(docsDf: DataFrame, threshold: Double): DataFrame =
    dupMatrixOn(jaccardPairs(docsDf, threshold), docsDf)

  /** dupMatrix over an already-computed (or stored) pair table. */
  def dupMatrixOn(pairs: DataFrame, docsDf: DataFrame): DataFrame = {
    val src = docsDf.select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("d1", "s1"), "d1")
      .join(src.toDF("d2", "s2"), "d2")
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val q80 = Q(
    "q80_dup_matrix",
    (s, d) => dupMatrixOn(storedPairs(s, d), docs(s, d)),
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), sh AS (
           |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), sz AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
           |), co AS (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
           |  FROM sh a JOIN sh b USING (shingle)
           |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
           |), pairs AS (
           |  SELECT d1, d2
           |  FROM co JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
           |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
           |)
           |SELECT least(da.source, db.source) AS src_a,
           |  greatest(da.source, db.source) AS src_b,
           |  COUNT(*) AS n_pairs
           |FROM pairs
           |JOIN documents da ON da.doc_id = d1
           |JOIN documents db ON db.doc_id = d2
           |GROUP BY 1, 2""".stripMargin),
    "cross-source duplication matrix: q31 near-dup pairs rolled up by unordered source pair")

  /** Per-eval-document memorization rate — the n-gram overlap metric
    * (Lee et al.'s dedup/memorization analyses): for each eval
    * document, the fraction of its distinct n-token windows that occur
    * ANYWHERE in the training corpus. q58 answers "which eval docs
    * near-duplicate a specific train doc"; this answers the softer,
    * release-report question "how much of the eval set's surface text
    * exists in training at all" — contamination as a RATE, reported
    * even when no single train doc crosses a pair threshold. Eval docs
    * shorter than n tokens have no windows and are excluded (nothing
    * to memorize — mirrors the oracle's empty generate_series).
    *
    * Scale shape: both sides reduce to DISTINCT window sets (map-side
    * partial distinct — boilerplate windows collapse before the
    * shuffle), the probe is one left hash join on the window's 64-bit
    * hash (q31's convention: 8-byte keys ship instead of ~50-char
    * strings; a cross-corpus false hit needs an xxhash64 collision
    * between distinct windows — ~n²/2⁶⁴), and the rollup is a per-doc
    * partial aggregate. The train side never materializes text.
    */
  def memorizationRate(train: DataFrame, eval: DataFrame, n: Int = 8): DataFrame =
    memorizationRateAgainst(windowSignatures(train, n), eval, n)

  /** The persistable half of the memorization audit: the corpus's
    * DISTINCT n-token window hashes — one `win` column, the exact
    * analogue of `minhashSignatures` for the n-gram-overlap metric.
    * Write this table out once (8 bytes per distinct window) and
    * nightly delta runs never rescan the corpus: signatures of new
    * docs union in (`windowSignatures(delta)` — distinct is
    * idempotent under union), and `memorizationRateAgainst` probes
    * the store directly.
    */
  def windowSignatures(df: DataFrame, n: Int = 8): DataFrame = df
    // native in-row grams (r19): same values in the same order as the
    // transform∘slice∘array_join HOF this used through r18, without
    // the per-element lambda interpretation
    .select(explode(graft.functions.wordNgrams(col("text"), n)).as("w"))
    .select(xxhash64(col("w")).as("win"))
    .distinct()

  /** Memorization rate against a stored window table (see
    * [[windowSignatures]]).
    *
    * The eval set is the SMALL side of this audit by construction (a
    * release report probes a fixed benchmark suite against the whole
    * training corpus), so the audit broadcasts eval's distinct window
    * hashes and SEMI-JOINS the store against them: the stored table —
    * the 100 TB side — STREAMS through a broadcast hash join and never
    * shuffles, never re-sorts, never re-distincts; the only shuffled
    * rows are the matched windows (≤ eval's window count), collapsed
    * by a partial-aggregate distinct. Duplicate rows in the store (a
    * union of per-delta signature files without compaction) stay
    * correct: the semi join emits each matched window, and the
    * eval-sized distinct collapses them.
    */
  def memorizationRateAgainst(storedWins: DataFrame, eval: DataFrame,
      n: Int = 8): DataFrame = {
    val evalWins = graft.util.reused(eval
      .select(col("doc_id"),
        explode(graft.functions.wordNgrams(col("text"), n)).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("win"))
      .distinct())
    val hits = storedWins.select(col("win"))
      .join(broadcast(evalWins.select(col("win")).distinct()), Seq("win"), "leftsemi")
      .distinct().withColumn("hit", lit(1))
    evalWins.join(broadcast(hits), Seq("win"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_seen"))
      .withColumn("seen_rate", col("n_seen").cast("double") / col("n_win"))
  }

  /** Session-scoped STORED train-window table over the gate corpus —
    * [[windowSignatures]]'s scaladoc says "write this table out once";
    * this memo is that store for the gate split (8 bytes per distinct
    * window, kept current in production by unioning delta signatures).
    * q83 probes it instead of re-scanning the training corpus.
    */
  def storedWindowSignatures(s: SparkSession, d: String): DataFrame =
    StoredArtifacts.getOrBuild("memorization_wins", s, d)(
      pin(windowSignatures(gateSplit(s, d)._1, n = 8))._1)

  val q83 = Q(
    "q83_memorization",
    (s, d) =>
      memorizationRateAgainst(storedWindowSignatures(s, d), gateSplit(s, d)._2, n = 8),
    Some("""WITH toks AS (
           |  SELECT doc_id, CAST(substr(source, 4) AS INT) AS sn,
           |         string_split_regex(trim(text), '\s+') w
           |  FROM documents
           |), win AS (
           |  SELECT DISTINCT doc_id, sn, array_to_string(w[i:i+7], ' ') AS win
           |  FROM toks, UNNEST(generate_series(1, len(w) - 7)) t(i)
           |), tw AS (
           |  SELECT DISTINCT win FROM win WHERE sn < 10
           |)
           |SELECT e.doc_id, COUNT(*) AS n_win,
           |  CAST(SUM(CASE WHEN tw.win IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
           |  CAST(SUM(CASE WHEN tw.win IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS seen_rate
           |FROM win e LEFT JOIN tw ON e.win = tw.win
           |WHERE e.sn >= 10
           |GROUP BY e.doc_id""".stripMargin),
    "per-eval-doc memorization rate: fraction of distinct 8-token windows present in train")

  /** Dedup threshold sensitivity sweep — the tuning curve a release
    * engineer reads before committing to a near-dup cutoff: for each
    * Jaccard band boundary (floor, 0.1 steps), how many pairs and how
    * many distinct documents a dedup at that threshold would touch.
    * Rows are CUMULATIVE from the top (each row = "dedup at ≥ this
    * threshold"), so the curve shows directly how much the corpus
    * shrinks as the cutoff loosens. One run of the q31 machinery at
    * the sweep's lowest threshold feeds every band — never one run
    * per candidate threshold. The band domain is CELL-COMPLETE
    * (every 0.1 step from the sweep floor to 1.0, zero rows for empty
    * bands, q45/q77's domain contract) so the curve is readable even
    * when the corpus clusters in one band.
    *
    * Scale shape: all heavy work is `jaccardPairs` (df-cut, bucketed).
    * The pair list itself is never broadcast, window-sorted, or
    * theta-joined: it collapses to two ≤11-row histograms via
    * map-side-combinable aggregates — per-band pair counts, and
    * per-doc MAX band (a doc is touched at threshold b iff its best
    * pair reaches b) — and the cumulative-from-the-top rollup is an
    * 11×11 theta join on those histograms, constant-size at any
    * corpus scale.
    */
  def dedupSweep(docsDf: DataFrame, minThreshold: Double = 0.5): DataFrame =
    dedupSweepOn(graft.util.reused(jaccardPairs(docsDf, minThreshold)), minThreshold)

  /** dedupSweep over an already-computed (or stored) pair table (the
    * caller materializes it — both histograms consume it).
    */
  def dedupSweepOn(pairs: DataFrame, minThreshold: Double = 0.5): DataFrame = {
    val banded = pairs.withColumn("band", floor(col("jac") * 10) / 10)
    val pairHist = banded.groupBy(col("band")).agg(count(lit(1)).as("np"))
      .withColumnRenamed("band", "pb")
    val docHist = banded
      .select(explode(array(
        struct(col("d1").as("doc"), col("band")),
        struct(col("d2").as("doc"), col("band")))).as("x"))
      .groupBy(col("x.doc").as("doc")).agg(max(col("x.band")).as("mb"))
      .groupBy(col("mb")).agg(count(lit(1)).as("nd"))
    val bands = pairs.sparkSession.range(math.floor(minThreshold * 10).toLong, 11L)
      .select((col("id") / 10.0).as("band"))
    val nPairs = bands.join(pairHist, col("pb") >= col("band"), "left")
      .groupBy(col("band")).agg(sum(coalesce(col("np"), lit(0L))).as("n_pairs"))
    val nDocs = bands.join(docHist, col("mb") >= col("band"), "left")
      .groupBy(col("band")).agg(sum(coalesce(col("nd"), lit(0L))).as("n_docs_touched"))
    nPairs.join(nDocs, "band")
  }

  val q89 = Q(
    "q89_dedup_sweep",
    (s, d) => dedupSweepOn(storedPairs(s, d), 0.5),
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), sh AS (
           |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), sz AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
           |), co AS (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
           |  FROM sh a JOIN sh b USING (shingle)
           |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
           |), pairs AS (
           |  SELECT d1, d2, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
           |  FROM co JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
           |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
           |), banded AS (
           |  SELECT d1, d2, floor(jac * 10) / 10 AS band FROM pairs
           |), bands AS (
           |  SELECT CAST(i AS DOUBLE) / 10 AS band
           |  FROM UNNEST(generate_series(5, 10)) t(i)
           |)
           |SELECT bands.band,
           |  CAST(COUNT(DISTINCT CASE WHEN p.d1 IS NOT NULL
           |    THEN ROW(p.d1, p.d2) END) AS BIGINT) AS n_pairs,
           |  CAST(COUNT(DISTINCT x.doc_id) AS BIGINT) AS n_docs_touched
           |FROM bands
           |LEFT JOIN banded p ON p.band >= bands.band
           |CROSS JOIN LATERAL (VALUES (p.d1), (p.d2)) x(doc_id)
           |GROUP BY bands.band""".stripMargin),
    "dedup threshold sweep: cumulative pair/doc counts per Jaccard band off one q31 run")

  /** Exact duplicated-SPAN detection at 8-gram granularity — the
    * substring-dedup signal of Lee et al. 2021 ("Deduplicating
    * Training Data Makes Language Models Better"): a word 8-gram
    * appearing in ≥2 distinct documents marks a verbatim copied span
    * (long enough that chance collision in natural text is
    * negligible), independent of whole-document similarity. Reports
    * per affected document how much of it is copied material.
    *
    * Scale shape: one ngrams pass, gram-keyed doc-frequency aggregate
    * (partial-agg'd; output is |distinct grams|, not occurrences),
    * then one shuffle join of occurrences against gram-df and a
    * doc-keyed aggregate — everything linear in corpus size, never
    * pairwise. Grams travel as 64-bit xxhash64 keys (the q31 collision
    * argument: birthday bound needs ~2^32 distinct grams); the oracle
    * joins on the gram strings themselves. Counts/booleans only —
    * hash-stable audit columns.
    */
  val q131 = Q(
    "q131_dup_spans",
    (s, d) => {
      // The gram stream feeds BOTH the df aggregate and the occurrence
      // join. Through r18 the window-form producer's exchange was
      // deduped by ReuseExchange; the r19 in-row producer has no
      // exchange of its own, so compress to per-(doc, gram) occurrence
      // counts FIRST — one aggregate whose exchange both branches
      // derive from (canonically identical → ReuseExchange evaluates
      // the expansion once; an explicit persist here leaked
      // MEMORY_AND_DISK blocks into every later query of the session).
      // Identity: df = rows per gh of the (doc, gh)-distinct frame
      // (exactly the old dropDuplicates count), n_spans = Σ c, and
      // dup_spans = Σ c over df≥2 grams ≡ the old per-occurrence
      // conditional count.
      val occ = ngrams(Tables.documents(s, d), 8)
        .select(col("doc_id"), xxhash64(col("shingle")).as("gh"))
        .groupBy(col("doc_id"), col("gh")).agg(count(lit(1)).as("c"))
      val gramDf = occ.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      occ.join(gramDf, "gh")
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_spans"),
          sum(when(col("df") >= 2, col("c")).otherwise(lit(0L))).as("dup_spans"))
        .where(col("dup_spans") > 0)
        .withColumn("mostly_copied", col("dup_spans") * lit(4L) >= col("n_spans"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), g AS (
           |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS sh
           |  FROM toks, UNNEST(generate_series(1, len(w) - 7)) t(i)
           |), gdf AS (
           |  SELECT sh, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1
           |)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
           |  SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 4 >= COUNT(*) AS mostly_copied
           |FROM g JOIN gdf USING (sh)
           |GROUP BY doc_id
           |HAVING SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) > 0""".stripMargin),
    "cross-doc duplicated 8-gram spans (Lee et al. substring dedup signal): per-doc copied-span counts, linear gram-join plan")

  /** Bloom-filter decontamination with an in-row exactness audit (the
    * q47 consumer-step pattern): build a native [[graft.functions.bloomAgg]]
    * filter over the EVAL side's 5-gram min-fingerprints, probe every
    * training document, and emit per-source counts plus two verdict
    * booleans the oracle mirrors as literal TRUE — no false negatives
    * (a Bloom guarantee: any exact member must probe true) and a
    * bounded false-positive rate (≤5% of non-members +1 slack; the
    * filter is sized 2^20 bits / 4 hashes, ≥14 bits per key out to
    * replica-sf3 eval cardinality, design rate ≪1%).
    *
    * Scale shape: this is the operator that makes decontamination
    * 100 TB-shaped — the exact arm (broadcast eval fingerprint set)
    * exists HERE to audit the sketch; the production path ships only
    * the 128 KiB filter to executors and membership-tests the corpus
    * with zero shuffle and no join at all. Both arms are one scan of
    * the train side; the eval side is scanned once for the filter and
    * once for the exact set.
    */
  val q133 = Q(
    "q133_bloom_contain",
    (s, d) => {
      import graft.functions.{bloomAgg, bloomContains}
      val bits = 1 << 20
      // Fingerprints via the shared codegen n-gram pipeline (the q39
      // form — explode/lead/concat_ws stay in whole-stage codegen; the
      // per-row HOF fingerprint() is CodegenFallback-interpreted and
      // was 5x slower here). The agg subtree is IDENTICAL under every
      // consumer branch (the sn filters land on the meta side of the
      // join), so ReuseExchange evaluates the gram pass once.
      val fp = fingerprints(Tables.documents(s, d))
      val fps = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          substring(col("source"), 4, 10).cast("int").as("sn"))
        .join(fp, Seq("doc_id"))
      val evalFps = fps.where(col("sn") >= 10).select(col("fp")).distinct()
      val bloom = evalFps.agg(bloomAgg(xxhash64(col("fp")), bits).as("bf"))
      fps.where(col("sn") < 10)
        .join(broadcast(evalFps.withColumn("m", lit(1))), Seq("fp"), "left")
        .crossJoin(broadcast(bloom))
        .select(col("source"), col("m").isNotNull.as("exact"),
          bloomContains(col("bf"), xxhash64(col("fp")), bits).as("bh"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("exact"), lit(1L)).otherwise(lit(0L))).as("n_members"),
          (sum(when(col("exact") && !col("bh"), lit(1L)).otherwise(lit(0L))) === lit(0L))
            .as("bloom_no_false_neg"),
          (sum(when(!col("exact") && col("bh"), lit(1L)).otherwise(lit(0L))) * lit(20L) <=
            sum(when(!col("exact"), lit(1L)).otherwise(lit(0L))) + lit(20L))
            .as("bloom_fp_bounded"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS sn,
           |    string_split_regex(trim(text), '\s+') w
           |  FROM documents
           |), g AS (
           |  SELECT doc_id, source, sn, md5(array_to_string(w[i:i+4], ' ')) AS h
           |  FROM toks, UNNEST(generate_series(1, len(w) - 4)) t(i)
           |), fp AS (
           |  SELECT doc_id, source, sn, MIN(h) AS fp FROM g GROUP BY 1, 2, 3
           |), ev AS (
           |  SELECT DISTINCT fp FROM fp WHERE sn >= 10
           |)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN ev.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           |  TRUE AS bloom_no_false_neg,
           |  TRUE AS bloom_fp_bounded
           |FROM fp LEFT JOIN ev USING (fp)
           |WHERE sn < 10
           |GROUP BY source""".stripMargin),
    "Bloom decontamination audit: native bloom_agg over eval fingerprints probed across the train corpus; no-false-negative + bounded-FP verdicts the oracle mirrors")

  /** Gate form of [[containmentPairs]] at 0.9 over the document
    * corpus, derived from [[storedCooc]] — the shared stored
    * co-occurrence core q31 also derives from, so the expensive exact
    * pair aggregate runs once per session, not once per measure (on
    * 30× replica corpora a fresh recomputation here took longer than
    * the rest of the suite combined). Cut equivalence rides q31's
    * gate guard: the stored core IS q31's core (same corpus, same
    * 3-grams, same `graft.dedup.gateMaxShingleDf` cut), and q31's
    * in-plan assert fails the round loudly if the corpus max df ever
    * exceeds it — so the oracle's uncut computation matches by the
    * same argument.
    */
  val q136 = Q(
    "q136_containment",
    (s, d) => containmentFromCooc(
      coocAtThresholds(s, d, Double.NaN, gateContainmentThreshold(s)),
      gateContainmentThreshold(s)),
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), sh AS (
           |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), sz AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
           |), co AS (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
           |  FROM sh a JOIN sh b USING (shingle)
           |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
           |)
           |SELECT d1 AS contained_id, d2 AS container_id,
           |  CAST(c AS DOUBLE) / sa.n AS containment
           |FROM co JOIN sz sa ON sa.doc_id = d1
           |WHERE CAST(c AS DOUBLE) / sa.n >= 0.9""".stripMargin),
    "asymmetric containment near-dup (Broder): |A∩B|/|A| ≥ 0.9 ordered pairs off the shared co-occurrence core")

  /** q31's measure derived from the INCREMENTALLY-maintained core
    * ([[storedIncrementalCooc]]: day-0 build on nine-tenths of the
    * corpus, the last tenth delta-folded) — the q119/q120 pattern:
    * incremental ≡ full is the contract, so the full-path oracle is
    * the incremental path's oracle verbatim.
    */
  val q149 = Q(
    "q149_cooc_incr",
    (s, d) => jaccardFromCooc(
      incrCoocAtThresholds(s, d, gateJaccardThreshold(s), Double.NaN),
      gateJaccardThreshold(s)),
    q31.oracle,
    "incremental co-occurrence core: delta batch folded into the stored posting/pair store ≡ full recompute (q31 oracle)")

  /** (doc_id, pos, gh): [[ngramsWithPos]] with the shingle hashed to
    * a 64-bit key (strings never shuffle — q131's collision argument).
    * `reuse` persists it — set it iff the caller consumes the stream
    * more than once under different exchange keys (q150 does: df
    * aggregate + occurrence join; q152 reads it once and a persist
    * would only cost memory).
    */
  private def gramStream(docsDf: DataFrame, n: Int, reuse: Boolean): DataFrame = {
    val g = ngramsWithPos(docsDf, n)
      .select(col("doc_id"), col("pos"), xxhash64(col("shingle")).as("gh"))
    if (reuse) graft.util.reused(g) else g
  }

  /** The shared excision rewrite: given marked n-gram start positions
    * (doc_id, pos), cut every word position any marking window
    * [pos, pos+n-1] covers and re-join the survivors. Two stages:
    *
    * 1. Sorted starts collapse into MERGED disjoint cover intervals
    *    RELATIONALLY — a window gap-flag + running sum assigns
    *    interval ids, two groupBys reduce them to (lo, hi) rows and
    *    one small per-doc sorted interval array + the covered-word
    *    count Σ(hi−lo+1), all whole-stage-codegen riding ONE doc_id
    *    exchange (a per-element `aggregate` HOF fold here was the r15
    *    lesson: at the 30× replica scale ~30M starts hit the
    *    interpreted slice+concat fold and q150 ran 209 s).
    * 2. The keep/drop pass joins the interval arrays back to the
    *    documents doc-keyed (texts shuffle as one row per doc, never
    *    word-exploded — an r16 sweep-line experiment that exploded
    *    words into their own rows paid 2.4× in row overhead) and runs
    *    the native [[graft.expressions.ExciseWords]] two-pointer
    *    merge: O(words + intervals) per row, genuine codegen — the
    *    ArrayFilter/ArrayExists probe it replaces was
    *    CodegenFallback-interpreted AND O(words × intervals). The
    *    removed count comes from stage 1's interval-length sum, so
    *    the expression returns only the clean text (no struct output
    *    for CollapseProject to double-evaluate).
    */
  private def exciseByStarts(docsDf: DataFrame, starts: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val newIv = when(col("pos") > lag(col("pos"), 1).over(byPos) + lit(n), lit(1))
      .otherwise(lit(0)) // first row: null comparison → 0 → interval 0
    val intervals = starts
      .withColumn("ivid", sum(newIv).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("ivid"))
      .agg(min(col("pos")).cast("int").as("lo"),
        (max(col("pos")) + lit(n - 1)).cast("int").as("hi"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("lo"), col("hi")))).as("iv"),
        sum(col("hi") - col("lo") + lit(1)).cast("int").as("rm"))
    val emptyIv = expr("CAST(array() AS array<struct<lo:int,hi:int>>)")
    docsDf
      .select(col("doc_id"), words(col("text")).as("w"))
      .join(intervals, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("int").as("n_words"),
        coalesce(col("rm"), lit(0)).as("removed_words"),
        graft.functions.exciseWords(col("w"), coalesce(col("iv"), emptyIv))
          .as("clean_text"))
  }

  /** Duplicate-span EXCISION — the rewrite step of Lee et al. 2021's
    * substring dedup (q131 is the detector; this is the surgeon): every
    * word position covered by a cross-document duplicated `n`-gram is
    * cut and the surviving words re-joined, so verbatim copied material
    * leaves the training text while each document's unique remainder
    * survives — the paper's case against whole-document dropping.
    *
    * Semantics (word granularity, q131's df contract): a word `n`-gram
    * present in ≥ `minDf` DISTINCT documents marks all `n` of its
    * positions, in every document and at every occurrence; a position
    * covered by any marking window is removed. Documents shorter than
    * `n` words have no windows and pass through verbatim. Contrast
    * with [[passageDedup]]/[[boilerplateScrub]]: those operate on
    * NON-OVERLAPPING passage blocks (first-wins / df-cut per block),
    * so a copied run straddling a block boundary escapes; the sliding
    * window here covers every alignment, at the cost of marking all
    * occurrences (no keeper).
    *
    * Scale shape: grams travel as (doc_id, pos, 64-bit xxhash64) —
    * strings never shuffle (q131's collision argument). One gram-keyed
    * df aggregate (partial-agg'd; output is |distinct grams|), one
    * equi-join of occurrences against the dup-gram keys, then the
    * joinless [[exciseByStarts]] sweep — all linear in corpus size,
    * never pairwise. The gram stream is persisted
    * ([[graft.util.reused]]) because both the df aggregate and the
    * occurrence join consume it and their exchange keys differ (gh vs
    * (gh,doc_id)), so ReuseExchange cannot unify them.
    */
  def spanExcise(docsDf: DataFrame, n: Int = 8, minDf: Int = 2): DataFrame = {
    val g = gramStream(docsDf, n, reuse = true)
    val dupGrams = g.dropDuplicates("gh", "doc_id")
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("gh"))
    exciseByStarts(docsDf,
      g.join(dupGrams, "gh").select(col("doc_id"), col("pos")), n)
  }

  /** WITHIN-document self-repetition excision — the de-looping rewrite
    * for generated or template text: an n-gram that occurs at ≥ 2
    * start positions inside the SAME document keeps its FIRST
    * occurrence and every later occurrence's window is cut (so
    * "the cat sat" × k collapses to one "the cat sat"). The exact
    * complement of [[spanExcise]]'s df contract: q150 marks
    * cross-document copies at every occurrence (no keeper — the
    * material exists elsewhere); self-repeats have no elsewhere, so
    * the first copy is the document's own content and survives.
    * Overlapping self-runs ("a a a a") collapse toward their first
    * words by the same rule.
    *
    * Scale shape: one min-over-(doc,gram) window on the shared
    * [[gramStream]] — no join at all for marking (the first-start
    * comparison rides the same partition) — then the shared
    * [[exciseByStarts]] machinery. Everything per-document; nothing
    * crosses documents, so it composes with q150 in either order.
    */
  def selfRepeatExcise(docsDf: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = gramStream(docsDf, n, reuse = false)
    val firstPos = min(col("pos")).over(Window.partitionBy(col("doc_id"), col("gh")))
    exciseByStarts(docsDf,
      g.withColumn("minp", firstPos).where(col("pos") > col("minp"))
        .select(col("doc_id"), col("pos")), n)
  }

  val q152 = Q(
    "q152_selfrep_excise",
    (s, d) => selfRepeatExcise(docs(s, d), 3),
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), g AS (
           |  SELECT doc_id, i AS s, array_to_string(w[i:i+2], ' ') AS sh
           |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
           |), firsts AS (
           |  SELECT doc_id, sh, MIN(s) AS m FROM g GROUP BY 1, 2
           |), dup AS (
           |  SELECT g.doc_id, g.s FROM g
           |  JOIN firsts ON firsts.doc_id = g.doc_id AND firsts.sh = g.sh
           |  WHERE g.s > firsts.m
           |), cov AS (
           |  SELECT DISTINCT doc_id, s + j AS p
           |  FROM dup, UNNEST(generate_series(0, 2)) t(j)
           |), posw AS (
           |  SELECT doc_id, i AS p, w[i] AS word FROM toks,
           |  UNNEST(generate_series(1, len(w))) t(i)
           |), kept AS (
           |  SELECT posw.doc_id, posw.p, posw.word
           |  FROM posw LEFT JOIN cov
           |    ON cov.doc_id = posw.doc_id AND cov.p = posw.p
           |  WHERE cov.p IS NULL
           |)
           |SELECT t.doc_id, CAST(len(t.w) AS INT) AS n_words,
           |  CAST(len(t.w) - COUNT(k.p) AS INT) AS removed_words,
           |  COALESCE(string_agg(k.word, ' ' ORDER BY k.p), '') AS clean_text
           |FROM toks t LEFT JOIN kept k USING (doc_id)
           |GROUP BY t.doc_id, len(t.w)""".stripMargin),
    "within-doc self-repetition excision (de-looping rewrite): repeated 3-grams keep their first occurrence, later windows cut")

  val q150 = Q(
    "q150_span_excise",
    (s, d) => spanExcise(docs(s, d), 8, 2),
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents
           |), g AS (
           |  SELECT doc_id, i AS s, array_to_string(w[i:i+7], ' ') AS sh
           |  FROM toks, UNNEST(generate_series(1, len(w) - 7)) t(i)
           |), gdf AS (
           |  SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
           |), cov AS (
           |  SELECT DISTINCT g.doc_id, g.s + j AS p
           |  FROM g JOIN gdf USING (sh), UNNEST(generate_series(0, 7)) t(j)
           |), posw AS (
           |  SELECT doc_id, i AS p, w[i] AS word FROM toks,
           |  UNNEST(generate_series(1, len(w))) t(i)
           |), kept AS (
           |  SELECT posw.doc_id, posw.p, posw.word
           |  FROM posw LEFT JOIN cov
           |    ON cov.doc_id = posw.doc_id AND cov.p = posw.p
           |  WHERE cov.p IS NULL
           |)
           |SELECT t.doc_id, CAST(len(t.w) AS INT) AS n_words,
           |  CAST(len(t.w) - COUNT(k.p) AS INT) AS removed_words,
           |  COALESCE(string_agg(k.word, ' ' ORDER BY k.p), '') AS clean_text
           |FROM toks t LEFT JOIN kept k USING (doc_id)
           |GROUP BY t.doc_id, len(t.w)""".stripMargin),
    "duplicate-span excision (Lee et al. substring-dedup rewrite): words under cross-doc duplicated 8-grams cut, unique remainder re-joined")

  val all: Seq[Q] = Seq(q31, q32, q33, q58, q68, q71, q80, q83, q89, q91,
    q131, q133, q136, q149, q150, q152)
}
