package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Scale-oriented column functions promised by the operator Scaladoc.
  *
  * The exact aggregates (`percentile`, `countDistinct`) are what the
  * DuckDB oracle can verify, but both are scale hazards: exact
  * percentile buffers every value of a group on the merge side, and
  * exact count-distinct triggers an Expand (N× row multiplication) for
  * multiple distincts in one aggregate. At 100 TB use these mergeable
  * sketch variants — both are map-side partial-aggregable, so the
  * shuffle carries a fixed-size sketch per group instead of raw values.
  */
package object functions {

  /** HyperLogLog++ count-distinct (mergeable sketch; default rsd 2.3%). */
  def approxCountDistinct(c: Column, rsd: Double = 0.023): Column =
    approx_count_distinct(c, rsd)

  /** Mergeable approximate percentile.
    * `accuracy` trades memory (bytes per group ~ O(accuracy)) for error
    * (~1/accuracy quantile error). 10000 → 0.01% error.
    */
  def approxPercentile(c: Column, p: Double, accuracy: Int = 10000): Column =
    percentile_approx(c, lit(p), lit(accuracy))

  /** Cosine similarity of two float/double array columns, computed in
    * double precision with a sequential left fold (deterministic order,
    * reproducible across partitionings). Stays inside codegen —
    * `zip_with`/`aggregate` are Catalyst expressions, not UDFs.
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = fold(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)))
    dot / (sqrt(norm2(a)) * sqrt(norm2(b)))
  }

  /** Native codegen'd cosine similarity (see
    * [[graft.expressions.CosineSimilarity]]): one primitive loop per
    * row inside whole-stage codegen, vs the CodegenFallback lambda
    * interpretation `cosine` pays. Requires `graft.GraftExtensions`
    * (installed by `graft.util.configure`). Same numeric contract as
    * `cosine`.
    */
  def cosineFast(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Native codegen'd dot product (see [[graft.expressions.DotProduct]]). */
  def dotFast(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Native codegen'd excision keep-pass (see
    * [[graft.expressions.ExciseWords]]): words not covered by the
    * sorted disjoint intervals, re-joined with single spaces. Requires
    * `graft.GraftExtensions` (installed by `graft.util.configure`).
    */
  def exciseWords(w: Column, intervals: Column): Column =
    call_function("excise_words", w, intervals)

  /** Native codegen'd PQ asymmetric-distance lookup (see
    * [[graft.expressions.PqAdcDistance]]): Σ_j tbl[j][codes[j]].
    */
  def pqAdc(tbl: Column, codes: Column): Column =
    call_function("pq_adc", tbl, codes)

  /** Native mergeable SimHash aggregate over a column of 64-bit token
    * hashes (see [[graft.expressions.SimHashAgg]]): one 256-byte vote
    * buffer per group replaces 64 conditional-sum columns. Requires
    * `graft.GraftExtensions` (installed by `graft.util.configure`).
    */
  def simhashAgg(tokenHash: Column): Column =
    call_function("simhash_agg", tokenHash)

  /** Native mergeable Count-Min sketch aggregate over 64-bit token
    * hashes (see [[graft.expressions.CountMinAgg]]): a fixed
    * depth×width counter matrix per group replaces an unbounded
    * frequency table — the heavy-hitters / frequency-estimate sketch
    * next to HLL++ and t-digest. Probe with [[cmEstimate]] under the
    * same depth/width (estimate ≥ true count always; ≤ true + e/width
    * of the group mass w.h.p.).
    */
  def countMinAgg(tokenHash: Column, depth: Int = 4, width: Int = 1024): Column =
    call_function("count_min_agg", tokenHash, lit(depth), lit(width))

  /** Point frequency estimate from a [[countMinAgg]] sketch. */
  def cmEstimate(sketch: Column, tokenHash: Column,
      depth: Int = 4, width: Int = 1024): Column =
    call_function("cm_estimate", sketch, tokenHash, lit(depth), lit(width))

  /** Native mergeable Bloom-filter aggregate over 64-bit key hashes
    * (see [[graft.expressions.BloomAgg]]): a fixed numBits bitset per
    * group — the set-membership sketch for corpus-scale
    * decontamination (build over the small eval side, broadcast,
    * membership-test the corpus with zero shuffle). No false
    * negatives ever; false positives at ≈(1−e^(−k·n/m))^k. Probe with
    * [[bloomContains]] under the same numBits/numHashes.
    */
  def bloomAgg(keyHash: Column, numBits: Int = 65536, numHashes: Int = 4): Column =
    call_function("bloom_agg", keyHash, lit(numBits), lit(numHashes))

  /** Membership probe of a [[bloomAgg]] filter: true = might contain
    * (FP possible at the designed rate), false = definitely absent.
    */
  def bloomContains(filter: Column, keyHash: Column,
      numBits: Int = 65536, numHashes: Int = 4): Column =
    call_function("bloom_contains", filter, keyHash, lit(numBits), lit(numHashes))

  /** Theta sketch of a column of 64-bit key hashes — Spark's built-in
    * `theta_sketch_agg` (DataSketches theta family; SQL users call the
    * `theta_*` built-ins directly). The SET-OPERATION sketch: unlike
    * HLL++, built sketches compose via [[thetaIntersect]] /
    * [[thetaUnionOf]] / [[thetaAnotB]] and read out with
    * [[thetaEstimate]]. Set semantics: duplicates are no-ops and null
    * hashes are skipped, so the raw token stream feeds it without a
    * distinct shuffle. The bytes are a function of the key SET alone,
    * whatever the partitioning.
    */
  def thetaAgg(keyHash: Column, lgK: Int = 14): Column =
    theta_sketch_agg(keyHash, lgK)

  /** Sketch-set union (binary scalar form; the aggregate form is
    * [[thetaAgg]] over the concatenated input). lgK must match the
    * building aggregate's (14 on both): Spark's `theta_union` defaults
    * to lgK 12, which silently downsamples exact lgK-14 inputs into
    * estimates.
    */
  def thetaUnionOf(a: Column, b: Column, lgK: Int = 14): Column =
    theta_union(a, b, lgK)

  /** Sketch-set intersection: estimated |A∩B| composes from this. */
  def thetaIntersect(a: Column, b: Column): Column = theta_intersection(a, b)

  /** Sketch-set difference A \ B. */
  def thetaAnotB(a: Column, b: Column): Column = theta_difference(a, b)

  /** Estimated distinct count of a theta sketch, rounded (BIGINT). */
  def thetaEstimate(sk: Column): Column = theta_sketch_estimate(sk)

  /** BPE tokenization under a trained merge list (see
    * [[graft.operators.Bpe]] / [[graft.expressions.BpeTokenize]]):
    * array of subword tokens per row; `size(...)` of it is the exact
    * BPE token count. The merges travel as an array<string> literal
    * of "left right" entries in rank order. Requires
    * `graft.GraftExtensions` (installed by `graft.util.configure`).
    */
  def bpeTokenize(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_tokenize", text,
      lit(merges.map { case (l, r) => s"$l $r" }.toArray))

  /** Sum of squares of an array column in double precision. */
  def norm2(a: Column): Column =
    fold(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)))

  private def fold(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Word tokens: split on runs of whitespace. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Multiplicative split/priority hash on a stable numeric id
    * (Knuth's 2654435761), the id reduced mod a prime FIRST so the
    * product stays < 2^63 for any 64-bit id (ANSI mode throws on
    * overflow rather than wrapping). A nonzero `salt` gives an
    * independent ordering; it is added AFTER that reduction and
    * reduced again (adding it to the raw id would overflow near
    * Long.MaxValue). Deterministic: no RNG, stable under
    * re-partitioning and incremental appends. Shared by the
    * train/val/test split (q53) and, `% 2^32`, by every priority
    * order (q59, q65, q73, q76, q104); mirror in oracle SQL as
    * `id % 100000007 * 2654435761`, or salted as
    * `(id % 100000007 + salt) % 100000007 * 2654435761`.
    */
  def splitHash(id: Column, salt: Long = 0L): Column =
    if (salt == 0L) id % 100000007L * 2654435761L
    else (id % 100000007L + salt) % 100000007L * 2654435761L

  /** Native codegen'd word n-gram shingles (see
    * [[graft.expressions.WordNgrams]]): all complete n-grams of
    * `split(trim(text), "\\s+")` joined with single spaces, as one
    * in-row array — the shuffle-free n-gram producer (the explode +
    * per-doc window form pays an Exchange + sort of the whole word
    * stream; the `shingles` HOF form pays per-element lambda
    * interpretation). Empty array below n words. Requires
    * `graft.GraftExtensions` (installed by `graft.util.configure`).
    */
  def wordNgrams(text: Column, n: Int): Column =
    call_function("word_ngrams", text, lit(n))

  /** Native per-document word statistics (see
    * [[graft.expressions.WordStats]]): struct(tot, mx, nstop) =
    * (token count, max token multiplicity, stop-token occurrences)
    * over `split(trim(text), "\\s+")` in ONE in-row counting pass —
    * the shuffle-free form of the exploded groupBy(doc, word) →
    * groupBy(doc) word-stats aggregation. Null text → null struct
    * (matching the exploded form's missing-doc left-join nulls).
    * Requires `graft.GraftExtensions`.
    */
  def wordStats(text: Column, stops: Seq[String]): Column =
    call_function("word_stats", text, lit(stops.toArray))

  /** Native character n-grams (see
    * [[graft.expressions.CharNgrams]]): every code-point n-gram of
    * the text as one in-row array — `substr(text, i, n)` for each
    * position, computed in a single byte-stream walk instead of the
    * interpreted per-position HOF. Requires `graft.GraftExtensions`.
    */
  def charNgrams(text: Column, n: Int): Column =
    call_function("char_ngrams", text, lit(n))

  /** Native per-row character n-gram term frequencies (see
    * [[graft.expressions.CharNgramTf]]): every distinct n-gram of the
    * text with its exact occurrence count as one in-row
    * array<struct<tg, tf>> — the per-document trigram aggregation
    * without exploding occurrences into a shuffle. Requires
    * `graft.GraftExtensions`.
    */
  def charNgramTf(text: Column, n: Int): Column =
    call_function("char_ngram_tf", text, lit(n))

  /** Native ordered index pairs of a long-array column (see
    * [[graft.expressions.ArrayPairs]]): array<struct<p1,p2>> of
    * (a[i], a[j]) for i < j — the basket pair fanout as one
    * primitive loop. Requires `graft.GraftExtensions`.
    */
  def arrayPairs(arr: Column): Column =
    call_function("array_pairs", arr)

  /** Word n-gram shingles joined with single spaces; empty array when
    * the document has fewer than `n` words.
    */
  def shingles(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** One 64-bit MinHash signature component: min over the shingle set of
    * a seeded xxhash64. k components ≈ k independent permutations.
    */
  def minhash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => xxhash64(lit(seed), s)))

  /** 64-bit SimHash of a token array: per bit, sum +1/-1 votes from each
    * token's xxhash64, then pack the sign bits. Computed as Catalyst
    * expressions (sequence/transform/aggregate) — no UDF.
    */
  def simhash64(tokens: Column): Column = {
    // votes(b) = sum over tokens of (bit b of xxhash64(token) ? 1 : -1);
    // bits unrolled at plan-build time so shift amounts are literals.
    val hashes = transform(tokens, t => xxhash64(t))
    (0 until 64).map { b =>
      val votes = aggregate(
        transform(hashes, x => when(shiftright(x, b).bitwiseAND(1) === 1, 1).otherwise(-1)),
        lit(0), (acc, v) => acc + v)
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Polynomial rolling fingerprint of a document: the minimum of
    * md5(shingle) over its word 5-gram shingles (winnowing-style
    * representative hash; stable under small edits elsewhere in the
    * doc). Expressed with functions the oracle can mirror.
    */
  def fingerprint(text: Column): Column =
    array_min(transform(shingles(words(text), 5), s => md5(s)))
}
