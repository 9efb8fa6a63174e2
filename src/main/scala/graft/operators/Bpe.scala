package graft.operators

import graft.{Q, QueryPack, StoredArtifacts, Tables}
import graft.functions.words
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training and tokenization (Sennrich,
  * Haddow & Birch 2016, "Neural Machine Translation of Rare Words
  * with Subword Units" — the public BPE algorithm every modern
  * tokenizer derives from). Real pretraining budgets are counted in
  * BPE tokens, not whitespace tokens; this closes the gap q38's
  * whitespace/regex heuristics leave.
  *
  * Scale split (the same sample-trained-model pattern as the ANN
  * quantizers): BPE training operates on the WORD-FREQUENCY
  * DICTIONARY, not the corpus — that is the published algorithm, and
  * it is what makes 100 TB training tractable. Stage 1 is one
  * distributed aggregation (explode words → groupBy → count → top-K
  * by frequency), collapsing the corpus to a model-sized dict whose
  * coverage loss is explicit (`maxDictWords`, default 200k — the same
  * cap as the quantizer training samples). Stage 2, the inherently
  * sequential merge loop, runs driver-side over that dict with
  * incremental pair-count maintenance (only words containing the
  * merged pair are re-counted). Stage 3, tokenization under the
  * trained merges, is fully distributed again — a native Catalyst
  * expression ([[graft.expressions.BpeTokenize]]) carrying the
  * model-sized merge ranks, one scan, no shuffle.
  *
  * Determinism (required by the spec and by incremental re-training):
  * the best pair each round is max by count, ties broken by the
  * lexicographically smallest (left, right); a word's occurrences of
  * the winning pair merge left-to-right, non-overlapping. Any corpus
  * partitioning yields the same dict (exact counts) and therefore the
  * same merges.
  */
object Bpe extends QueryPack {

  /** End-of-word marker appended as a separate final symbol (Sennrich
    * 2016 §3.2) so merges cannot cross word boundaries and a trained
    * token knows whether it ends a word.
    */
  val Eow = "</w>"

  /** Stage 1 (distributed): corpus → word-frequency dictionary, capped
    * to the `maxDictWords` most frequent words (TakeOrdered top-K —
    * never a full sort). One shuffle on the word; partial aggregation
    * makes the map side emit one row per distinct word per task.
    */
  def wordDict(docs: DataFrame, textCol: String, maxDictWords: Int): DataFrame =
    capDict(wordCounts(docs, textCol), maxDictWords)

  /** The UNCAPPED word-frequency table — what a pipeline PERSISTS
    * when it maintains the dictionary incrementally: the cap must be
    * applied at READ time ([[capDict]]), because a word cut by the
    * cap today can be promoted by tomorrow's delta, and a capped
    * store would have lost its mass.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(words(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Fold a delta batch of documents into a stored uncapped dict at
    * delta cost — counts are ADDITIVE (the Etl.kpiIncrement pattern):
    * delta word counts union in, one re-aggregate whose reduce side
    * is near-1 row per word. Retraining under the updated dict is
    * [[trainMerges]] again — driver-side over a model-sized input,
    * so the expensive distributed half of BPE training never
    * recomputes over the full corpus. IncrAudit certifies
    * fold ≡ full recount at scale.
    */
  def dictIncrement(storedDict: DataFrame, deltaDocs: DataFrame,
      textCol: String = "text"): DataFrame =
    storedDict.select(col("word"), col("freq"))
      .unionByName(wordCounts(deltaDocs, textCol))
      .groupBy(col("word")).agg(sum(col("freq")).as("freq"))

  /** Deterministic top-K by (freq desc, word asc) — TakeOrdered,
    * never a full sort.
    */
  def capDict(dict: DataFrame, maxDictWords: Int): DataFrame =
    dict.orderBy(col("freq").desc, col("word").asc).limit(maxDictWords)

  /** Stage 2 (driver, model-sized input): the Sennrich merge loop over
    * a word-frequency dict. Incremental: pair counts and a
    * pair→words index are maintained across rounds, so each merge
    * re-scans only the words that contain the merged pair. Returns
    * the merges in training order (rank = position).
    *
    * Argmax selection is a LAZY-DELETION MAX-HEAP, not a per-merge
    * scan of the pair map: the r16 32k-merge measurement (200k-entry
    * dict, bench/BPE record in BASELINE.md) put the original linear
    * scan at ~685 s — 32k merges × a ~1M-entry map walk each — while
    * every other cost in the loop is footprint-proportional. Every
    * count CHANGE pushes a (count, pair) entry; the heap top is valid
    * iff it matches the live map (stale entries pop and drop), and
    * ordering (count desc, pair asc) makes the valid top exactly the
    * old scan's argmax — same merges, bit for bit (BpeSpec pins the
    * sequence; the q148 oracle pins the gate). A rebuild compacts the
    * heap when stale entries dominate, bounding memory at
    * O(live pairs).
    */
  def trainMerges(dict: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    // dict words as symbol sequences: chars + the end-of-word marker
    val syms = mutable.ArrayBuffer.from(
      dict.map { case (w, f) => (w.map(_.toString).toVector :+ Eow, f) })
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    val heapOrd: java.util.Comparator[(Long, (String, String))] =
      (a: (Long, (String, String)), b: (Long, (String, String))) => {
        val byCount = java.lang.Long.compare(b._1, a._1) // count desc
        if (byCount != 0) byCount
        else {
          val byLeft = a._2._1.compareTo(b._2._1) // pair asc
          if (byLeft != 0) byLeft else a._2._2.compareTo(b._2._2)
        }
      }
    val heap = new java.util.PriorityQueue[(Long, (String, String))](1024, heapOrd)
    def addWord(wid: Int, sign: Long): Unit = {
      val (s, f) = syms(wid)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * f
        if (c == 0L) pairCount.remove(p)
        else { pairCount(p) = c; heap.add((c, p)) } // push EVERY change
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += wid
        i += 1
      }
    }
    // valid top = entry matching the live map; everything above it was
    // stale and discarded, so it is the (count desc, pair asc) argmax
    def popBest(): Option[(String, String)] = {
      while (!heap.isEmpty) {
        val (c, p) = heap.peek()
        if (pairCount.get(p).contains(c)) return Some(p)
        heap.poll()
        if (heap.size > (1 << 20) && heap.size > 8 * pairCount.size) {
          heap.clear() // compact: re-seed from live counts only
          pairCount.foreach { case (pp, cc) => heap.add((cc, pp)) }
        }
      }
      None
    }
    syms.indices.foreach(addWord(_, 1L))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var best = popBest()
    while (merges.length < numMerges && best.isDefined) {
      val b = best.get
      merges += b
      pairWords.remove(b).getOrElse(mutable.Set.empty).foreach { wid =>
        addWord(wid, -1L) // retract the word's old pair counts
        syms(wid) = (mergeAll(syms(wid)._1, b), syms(wid)._2)
        addWord(wid, 1L) // and count its new ones
      }
      best = popBest()
    }
    merges.toSeq
  }

  /** Merge every left-to-right non-overlapping occurrence of `pair`. */
  private def mergeAll(s: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == pair._1 && s(i + 1) == pair._2) {
        out += s(i) + s(i + 1); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** Full training pipeline: distributed dict, driver merge loop,
    * merges table `(rank int, left string, right string)` — the
    * model artifact a tokenization deployment persists and ships.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      maxDictWords: Int = 200000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = wordDict(docs, textCol, maxDictWords)
      .as[(String, Long)].collect().toSeq // model-sized by construction
    trainMerges(dict, numMerges).zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
  }

  /** Encode one word under trained merges: greedily apply the
    * LOWEST-RANKED applicable merge until none applies (the standard
    * BPE apply step — training order is priority order). Driver-side
    * mirror of the distributed expression; the spec pins them equal.
    */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] =
    encodeWith(word, merges.zipWithIndex.toMap)

  private[graft] def encodeWith(word: String,
      rank: Map[(String, String), Int]): Seq[String] = {
    var s = word.map(_.toString).toVector :+ Eow
    var done = false
    while (!done && s.length > 1) {
      var bestRank = Int.MaxValue
      var best: (String, String) = null
      var i = 0
      while (i < s.length - 1) {
        rank.get((s(i), s(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; best = (s(i), s(i + 1)) }
        }
        i += 1
      }
      if (best == null) done = true
      else s = mergeAll(s, best)
    }
    s
  }

  /** Stage 3 (distributed consumer): exact BPE token count per
    * document under a trained merges table — one codegen-adjacent
    * scan projection, the merges broadcast inside the expression
    * (model-sized, same driver-traffic budget as the ANN codebooks).
    */
  def tokenCounts(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame =
    docs.select(
      col(idCol),
      size(graft.functions.bpeTokenize(col(textCol), merges)).as("n_bpe_tokens"))

  /** [[tokenCounts]] reading the merges from a persisted model table. */
  def tokenCountsFrom(docs: DataFrame, textCol: String, idCol: String,
      mergesTable: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = mergesTable.orderBy(col("rank"))
      .select(col("left"), col("right"))
      .as[(String, String)].collect().toSeq
    tokenCounts(docs, textCol, idCol, merges)
  }

  // ---- gate surface (q148) -------------------------------------------

  /** Fixed like the other exported-model params (minhash_buckets_32_8,
    * ivf_centroids_16_2): the oracle SQL names the export path, so the
    * gate's merge budget is part of the oracle contract, not a knob.
    * 20, not a production-sized budget, deliberately: the synthetic
    * gate corpora have a ~31-word vocabulary, so a larger budget
    * collapses every word to a single token and the oracle's
    * token-count cross-check degenerates to n_words — at 20 merges
    * words stay partially merged (2–5 tokens) and the per-document
    * sum is a real check of the greedy encode.
    */
  private val GateNumMerges = 20

  /** Session-scoped trained merge list over the gate corpus — the
    * same memoized-model pattern as [[Ann.storedCentroids]]: trained
    * once per (session, dir), every consumer (the q148 builder, the
    * gate export) reads the stored model.
    */
  def storedMerges(s: SparkSession, d: String): Seq[(String, String)] =
    StoredArtifacts.getOrBuild("bpe_merges", s, d) {
      import s.implicits._
      val dict = wordDict(Tables.documents(s, d), "text", 200000)
        .as[(String, Long)].collect().toSeq // model-sized by construction
      trainMerges(dict, GateNumMerges)
    }

  /** Export the q148 oracle's model tables — called by [[graft.Verify]]
    * after planning, never from a query builder (the
    * Ann.exportGateModels contract). Two tables:
    *
    *  - `bpe_merges_20.parquet` (rank, left, right) — the trained
    *    model; the oracle derives the VOCAB CLOSURE from it (every
    *    non-initial token is exactly `left || right` of some merge).
    *  - `bpe_word_tokens_20.parquet` (word, toks, n_toks) — each
    *    distinct corpus word's greedy encoding. The merge-loop HASH
    *    step ships as data (it is not SQL-expressible), while the
    *    oracle independently re-verifies the encodings' VALIDITY
    *    (concatenation reconstructs `word || '</w>'`; every token in
    *    the vocab closure) and recomputes the per-document CONSUMER
    *    step (word join + token-count sum) from scratch — the same
    *    split as the minhash/simhash signature exports.
    */
  def exportGateModel(s: SparkSession, d: String): Unit =
    // one key, two tables: the write names its own paths
    StoredArtifacts.exportOnce(s"bpe_${GateNumMerges}", d) { _ =>
      import s.implicits._
      val merges = storedMerges(s, d)
      merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }.toDF("rank", "left", "right")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${Ann.gateModelDir}/bpe_merges_${GateNumMerges}.parquet")
      Tables.documents(s, d)
        .select(explode(words(col("text"))).as("word"))
        .where(length(col("word")) > 0).distinct()
        .select(col("word"), graft.functions.bpeTokenize(col("word"), merges).as("toks"))
        .select(col("word"), col("toks"), size(col("toks")).cast("int").as("n_toks"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${Ann.gateModelDir}/bpe_word_tokens_${GateNumMerges}.parquet")
    }

  /** Exact BPE token accounting per document under the session's
    * trained merges, with in-row validity verdicts (the consumer-step
    * oracle pattern, r10): `n_bpe_tokens` is cross-checked — the
    * engine computes it natively via one `bpe_tokenize` scan, the
    * oracle recomputes it by joining the document's words against the
    * exported per-word encodings and summing — and the verdicts are
    * computed INDEPENDENTLY on each side (Spark over its own doc
    * tokenization, DuckDB over the exported word encodings):
    * `reconstructs` = token concatenation rebuilds every word with
    * its end-of-word marker; `all_in_vocab` = every token is an
    * initial symbol (single char or `</w>`) or the concatenation of
    * an exported merge. Closes the r14 gap: q38's regex estimate was
    * the only gate-visible token count; the REAL BPE path now gates.
    */
  val q148 = Q(
    "q148_bpe_tokens",
    (s, d) => {
      val merges = storedMerges(s, d)
      val mergedVocab = merges.map { case (l, r) => l + r }.toArray
      val toks = graft.functions.bpeTokenize(col("text"), merges)
      val ws = filter(words(col("text")), w => length(w) > 0)
      Tables.documents(s, d).select(
        col("doc_id"),
        size(ws).cast("int").as("n_words"),
        size(toks).cast("int").as("n_bpe_tokens"),
        (concat_ws("", toks) ===
          concat_ws("", transform(ws, w => concat(w, lit(Eow))))).as("reconstructs"),
        forall(toks, t => length(t) === 1 || t === lit(Eow) ||
          array_contains(lit(mergedVocab), t)).as("all_in_vocab"))
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, word
            |  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS word
            |        FROM documents)
            |  WHERE length(word) > 0
            |), wt AS (
            |  SELECT word, toks, n_toks
            |  FROM read_parquet('${Ann.gateModelDir}/bpe_word_tokens_$GateNumMerges.parquet/*.parquet')
            |), merged AS (
            |  SELECT "left" || "right" AS tok
            |  FROM read_parquet('${Ann.gateModelDir}/bpe_merges_$GateNumMerges.parquet/*.parquet')
            |), bad AS (
            |  SELECT DISTINCT word
            |  FROM (SELECT word, UNNEST(toks) AS t FROM wt)
            |  WHERE length(t) <> 1 AND t <> '</w>'
            |    AND t NOT IN (SELECT tok FROM merged)
            |), word_checks AS (
            |  SELECT wt.word, wt.n_toks,
            |    array_to_string(wt.toks, '') = wt.word || '</w>' AS rec,
            |    bad.word IS NULL AS vocab_ok
            |  FROM wt LEFT JOIN bad ON wt.word = bad.word
            |)
            |SELECT d.doc_id,
            |  CAST(COUNT(c.word) AS INT) AS n_words,
            |  CAST(COALESCE(SUM(c.n_toks), 0) AS INT) AS n_bpe_tokens,
            |  COALESCE(BOOL_AND(c.rec), TRUE) AS reconstructs,
            |  COALESCE(BOOL_AND(c.vocab_ok), TRUE) AS all_in_vocab
            |FROM documents d
            |LEFT JOIN w ON w.doc_id = d.doc_id
            |LEFT JOIN word_checks c ON c.word = w.word
            |GROUP BY d.doc_id""".stripMargin),
    "exact BPE token counts under the trained merges: engine-native bpe_tokenize scan vs oracle word-join sum, with independent reconstruction + vocab-closure verdicts")

  /** Per-LANGUAGE tokenizer fertility (BPE tokens per word) under the
    * trained merges — the report that drives tokenizer choice in a
    * multilingual pipeline: a language whose fertility runs high is
    * paying more sequence budget per word of content (the T5/XLM-R
    * vocabulary-allocation question). Exact integers + one IEEE-exact
    * division per language, so the gate compares bit-for-bit: the
    * engine counts natively (one shuffle-free `bpe_tokenize` scan, a
    * 5-row language aggregate), the oracle recomputes every count by
    * joining each document's words against the exported per-word
    * encodings — q148's cross-check already pins that the two
    * accountings agree per document.
    */
  val q153 = Q(
    "q153_bpe_fertility",
    (s, d) => {
      val merges = storedMerges(s, d)
      val toks = graft.functions.bpeTokenize(col("text"), merges)
      val ws = filter(words(col("text")), w => length(w) > 0)
      Tables.documents(s, d)
        .select(col("lang"),
          size(ws).cast("long").as("nw"), size(toks).cast("long").as("nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("nt")).as("n_bpe_tokens"),
          when(sum(col("nw")) > 0,
            sum(col("nt")).cast("double") / sum(col("nw")).cast("double"))
            .otherwise(lit(Double.NaN)).as("fertility"))
          // review fix: a wordless language must agree across engines —
          // Spark's x/0 is NULL, DuckDB's is inf/NaN; pin NaN on both
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, lang, word
            |  FROM (SELECT doc_id, lang,
            |          UNNEST(string_split_regex(trim(text), '\\s+')) AS word
            |        FROM documents)
            |  WHERE length(word) > 0
            |), wt AS (
            |  SELECT word, n_toks
            |  FROM read_parquet('${Ann.gateModelDir}/bpe_word_tokens_$GateNumMerges.parquet/*.parquet')
            |), per AS (
            |  SELECT w.doc_id, SUM(wt.n_toks) AS nt, COUNT(*) AS nw
            |  FROM w JOIN wt USING (word) GROUP BY 1
            |)
            |SELECT d.lang,
            |  CAST(COUNT(*) AS BIGINT) AS n_docs,
            |  CAST(COALESCE(SUM(p.nw), 0) AS BIGINT) AS n_words,
            |  CAST(COALESCE(SUM(p.nt), 0) AS BIGINT) AS n_bpe_tokens,
            |  CASE WHEN COALESCE(SUM(p.nw), 0) = 0 THEN CAST('nan' AS DOUBLE)
            |    ELSE CAST(COALESCE(SUM(p.nt), 0) AS DOUBLE) /
            |      CAST(COALESCE(SUM(p.nw), 0) AS DOUBLE) END AS fertility
            |FROM documents d LEFT JOIN per p USING (doc_id)
            |GROUP BY d.lang""".stripMargin),
    "per-language BPE fertility (tokens/word) under the trained merges: native scan counts vs oracle word-join recount, IEEE-exact division")

  /** Per-source tokenizer compression — bytes of raw text per exact
    * BPE token, the efficiency number a tokenizer team tracks per
    * corpus slice (a source whose ratio drops is costing more
    * sequence budget per byte of content — markup injection, OCR
    * noise, an alphabet the vocab under-serves). Completes the BPE
    * report family: q148 counts per document, q153 normalizes per
    * word by language, this normalizes per BYTE by source.
    *
    * Scale shape: q148's contract verbatim — the merges ride the
    * native `bpe_tokenize` expression, so the corpus pays ONE
    * shuffle-free scan plus a sources-sized aggregate; exact integer
    * sums, one final division both engines compute identically. The
    * oracle recomputes token totals from the exported per-word
    * encodings (the q148 consumer-step split) and byte totals from
    * the documents table directly.
    */
  val q159 = Q(
    "q159_bpe_compression",
    (s, d) => {
      val toks = graft.functions.bpeTokenize(col("text"), storedMerges(s, d))
      Tables.documents(s, d)
        .select(col("source"),
          octet_length(col("text")).cast("long").as("nb"),
          size(toks).cast("long").as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_bytes"),
          sum(col("nt")).as("n_bpe_tokens"))
        .withColumn("bytes_per_token",
          // zero-token guard: Spark's Divide yields NULL on /0 while
          // DuckDB's IEEE division yields Infinity — guard both engines
          // identically (here `when`, oracle NULLIF) so a degenerate
          // all-empty source can't diverge the gate
          when(col("n_bpe_tokens") > 0,
            col("n_bytes").cast("double") / col("n_bpe_tokens")))
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, word
            |  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS word
            |        FROM documents)
            |  WHERE length(word) > 0
            |), wt AS (
            |  SELECT word, n_toks
            |  FROM read_parquet('${Ann.gateModelDir}/bpe_word_tokens_$GateNumMerges.parquet/*.parquet')
            |), per AS (
            |  SELECT w.doc_id, CAST(SUM(wt.n_toks) AS BIGINT) AS nt
            |  FROM w JOIN wt USING (word) GROUP BY 1
            |)
            |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            |  CAST(SUM(octet_length(encode(d.text))) AS BIGINT) AS n_bytes,
            |  CAST(SUM(COALESCE(per.nt, 0)) AS BIGINT) AS n_bpe_tokens,
            |  CAST(SUM(octet_length(encode(d.text))) AS DOUBLE)
            |    / NULLIF(SUM(COALESCE(per.nt, 0)), 0) AS bytes_per_token
            |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
            |GROUP BY d.source""".stripMargin),
    "per-source tokenizer compression: raw bytes per exact BPE token off one shuffle-free bpe_tokenize scan (q148's oracle split)")

  val all: Seq[Q] = Seq(q148, q153, q159)
}
