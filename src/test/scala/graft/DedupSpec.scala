package graft

import graft.operators.Dedup
import graft.Tables
import org.apache.spark.sql.functions._

/** The rows-only near-dup operators (q32 MinHash, q33 SimHash) are
  * DEFINED by these specs: their correctness signal is recall against
  * the exact-Jaccard pairs (q31, itself DuckDB-oracled) on sf0.001.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val documents = Tables.documents(spark, sfDir)

  private lazy val exactPairs: Set[(Long, Long)] =
    Dedup.jaccardPairs(documents, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet

  test("exact jaccard finds the planted near-dup pairs") {
    // sf0.001 has ~28 planted pairs, all far above threshold
    exactPairs.size should be >= 20
  }

  test("minhash+LSH pairs are a subset of exact pairs (exact-verified)") {
    val mh = Dedup.minhashPairs(documents, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    mh.diff(exactPairs) shouldBe empty
  }

  test("minhash+LSH recall >= 0.9 vs exact jaccard") {
    val mh = Dedup.minhashPairs(documents, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val recall = mh.intersect(exactPairs).size.toDouble / exactPairs.size
    recall should be >= 0.9
  }

  test("simhash recall >= 0.6 vs exact jaccard, and no self-pairs") {
    val sp = Dedup.simhashPairs(documents, maxHamming = 7, nDocs = documents.count())
    sp.where($"d1" === $"d2").count() shouldBe 0L
    val pairs = sp.select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val recall = pairs.intersect(exactPairs).size.toDouble / exactPairs.size
    recall should be >= 0.6
  }

  test("simhash explicit chunkBits matches the auto-selected regime at test scale") {
    // auto from a caller-supplied count (<= 2M) must pick 8-bit
    // chunks — identical pairs to the pinned regime
    val auto = Dedup.simhashPairs(documents, maxHamming = 5, nDocs = documents.count())
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val pinned = Dedup.simhashPairs(documents, maxHamming = 5, chunkBits = 8)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    auto shouldBe pinned
  }

  test("simhash auto regime without a corpus size is rejected, never counted in-build") {
    // the pre-r7 fallback ran df.count() inside the builder — a
    // hidden Spark job recomputing the full upstream lineage at
    // plan-construction time. Now it must error with guidance.
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(documents, maxHamming = 5)
    }
    e.getMessage should include("nDocs")
  }

  /** `f`'s value and the output rows of every join in the plans its
    * `collect` actions executed, read by a QueryExecutionListener.
    */
  private def withJoinRows[T](f: => T): (T, Seq[Long]) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import scala.jdk.CollectionConverters._
    def joins(p: SparkPlan): Seq[Long] = (p match {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).toSeq
      case _ => Nil
    }) ++ (p match {
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
      case q: QueryStageExec => joins(q.plan)
      case _ => p.children.flatMap(joins)
    })
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val done = new java.util.concurrent.Semaphore(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        if (func == "collect") { joins(qe.executedPlan).foreach(n => rows.add(n)); done.release() }
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val v = f
      done.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      (v, rows.asScala.toSeq.map(_.longValue))
    } finally spark.listenerManager.unregister(l)
  }

  test("degenerate mass-identical corpus: simhash pairs are the brute-force hamming ball at output size") {
    // MultimodalSpec's pHash clique case on q33's path: 300 identical
    // documents put the whole population in every (chunk, cv) bucket.
    // Banding at distinct-fingerprint grain keeps every join's output
    // within a small multiple of the pairs emitted; member-grain
    // banding emits about chunks × members² rows in the chunk join.
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = ((0 until 300).map(i => (i.toLong, a)) ++
      Seq((5000L, a + " today"), (6000L, "x"), (7000L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val hs = Dedup.simhashValues(corpus).as[(Long, Long)].collect().toSeq
    hs.map(_._1) should not contain 7000L // no words, no fingerprint
    val expected = (for {
      (d1, h1) <- hs; (d2, h2) <- hs if d1 < d2
      hm = java.lang.Long.bitCount(h1 ^ h2) if hm <= 5
    } yield (d1, d2, hm)).toSet
    val (got, joinRows) = withJoinRows(
      Dedup.simhashPairs(corpus, maxHamming = 5, chunkBits = 8)
        .as[(Long, Long, Int)].collect().toSet)
    got shouldBe expected
    expected.size should be >= 300 * 299 / 2
    info(s"pairs ${got.size}, join output rows ${joinRows.sorted.reverse.mkString(", ")}")
    joinRows.max should be <= 2L * got.size
  }

  test("gate cut-inert assertion passes on the test corpus and fails loudly past the cut") {
    // inert regime (max df well under 128): guarded result == unguarded
    val guarded = Dedup.jaccardPairs(documents, 0.5, assertCutInert = true)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val plain = Dedup.jaccardPairs(documents, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    guarded shouldBe plain
    // violated regime: a cut low enough to bite must fail the JOB with
    // guidance, never silently diverge from the uncut oracle
    val e = intercept[Exception] {
      Dedup.jaccardPairs(documents, 0.5, maxShingleDf = 1, assertCutInert = true)
        .count()
    }
    e.getMessage should include("maxShingleDf")
  }

  test("df-cut leaves jaccard pairs unchanged on the test corpus") {
    val cut = Dedup.jaccardPairs(documents, 0.5) // default maxShingleDf = 128
      .select($"d1", $"d2", $"jac").as[(Long, Long, Double)].collect().toSet
    val uncut = Dedup.jaccardPairs(documents, 0.5, maxShingleDf = Int.MaxValue)
      .select($"d1", $"d2", $"jac").as[(Long, Long, Double)].collect().toSet
    cut shouldBe uncut
  }

  test("GATE corpus max shingle df stays under the q31/q58/q61 df-cut (oracle coupling)") {
    // The q31/q58/q61 DuckDB oracles compute the UNCUT measure while
    // the implementation df-cuts candidate generation at
    // maxShingleDf = 128. Jaccard VALUES are exact either way (hot-set
    // accounting); what the cut can drop is a pair whose EVERY shared
    // shingle is hot — impossible while the gate corpus's max df stays
    // under the cut. This pins that coupling explicitly (r4 advice):
    // if a future driver corpus pushes boilerplate df past 128, this
    // fails with the knob to turn instead of an opaque gate mismatch.
    val gateDocs = Tables.documents(spark, "/root/testdata/sf0.01")
    val maxDf = Dedup.shingleSets(gateDocs)
      .groupBy($"shingle").count()
      .agg(org.apache.spark.sql.functions.max($"count")).head().getLong(0)
    withClue("max shingle document-frequency on the sf0.01 gate corpus " +
      "must stay <= the jaccardPairs maxShingleDf default (128), or the " +
      "uncut DuckDB oracles can diverge from the df-cut implementation: ") {
      maxDf should be <= 128L
    }
  }

  /** A corpus where the df-cut BITES: every doc opens with the same
    * boilerplate sentence (shingle df = corpus size), near-dup pairs
    * share rare content shingles too. The cut must (a) keep the pair
    * set AND the exact Jaccard values (hot-set accounting), (b) shrink
    * hot-bucket candidate volume by orders of magnitude.
    */
  test("df-cut on a boilerplate corpus: exact values preserved, candidate volume bounded") {
    val boiler = "terms of service apply to all users of this site without exception"
    val docs = (0 until 200).map { i =>
      // pairs (2k, 2k+1) share their content tail => near-dups
      val content = (0 until 12).map(j => s"w${(i / 2) * 100 + j}").mkString(" ")
      (i.toLong, s"$boiler $content")
    }
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val cut = Dedup.jaccardPairs(df, 0.5, maxShingleDf = 8)
      .select($"d1", $"d2", $"jac").as[(Long, Long, Double)].collect().toSet
    val uncut = Dedup.jaccardPairs(df, 0.5, maxShingleDf = Int.MaxValue)
      .select($"d1", $"d2", $"jac").as[(Long, Long, Double)].collect().toSet
    uncut.size shouldBe 100 // one pair per content template
    cut shouldBe uncut // exact Jaccard incl. hot shingles, via hot-sets
    // candidate volume: sum over shingles of C(df,2), rare vs all
    val dfc = Dedup.shingleSets(df).groupBy($"shingle").count()
      .select($"count").as[Long].collect()
    val all = dfc.map(c => c * (c - 1) / 2).sum
    val rare = dfc.filter(_ <= 8).map(c => c * (c - 1) / 2).sum
    all.toDouble / rare.toDouble should be > 50.0 // the join the cut avoided
  }

  test("contamination pairs = exact cross-split jaccard pairs, and nothing within a split") {
    val srcNum = substring($"source", 4, 10).cast("int")
    val train = documents.where(srcNum < 10)
    val eval = documents.where(srcNum >= 10)
    val got = Dedup.contaminationPairs(train, eval, 0.5)
      .select($"train_id", $"eval_id").as[(Long, Long)].collect().toSet
    // ground truth: q31's oracled pairs, restricted to cross-split
    val trainIds = train.select($"doc_id").as[Long].collect().toSet
    val evalIds = eval.select($"doc_id").as[Long].collect().toSet
    val want = exactPairs.flatMap { case (a, b) =>
      if (trainIds(a) && evalIds(b)) Some((a, b))
      else if (trainIds(b) && evalIds(a)) Some((b, a))
      else None
    }
    got shouldBe want
    got.size should be > 0
  }

  test("contamination delta-decomposition: audit of a train delta ≡ its slice of the full audit") {
    // a (train, eval) pair's Jaccard depends on those two docs alone,
    // and the df-cut is exactness-preserving at any cut — so auditing
    // ONLY a train delta against eval yields exactly the full audit's
    // rows for that delta: incremental cross-corpus contamination is
    // contaminationPairs(newDocs, eval), no re-audit of the old corpus
    val srcNum = substring($"source", 4, 10).cast("int")
    val train = documents.where(srcNum < 10)
    val eval = documents.where(srcNum >= 10)
    val delta = train.where($"doc_id" % 3 === 0)
    val full = Dedup.contaminationPairs(train, eval, 0.5)
      .select($"train_id", $"eval_id").as[(Long, Long)].collect().toSet
    val deltaIds = delta.select($"doc_id").as[Long].collect().toSet
    val deltaOnly = Dedup.contaminationPairs(delta, eval, 0.5)
      .select($"train_id", $"eval_id").as[(Long, Long)].collect().toSet
    deltaOnly shouldBe full.filter(p => deltaIds(p._1))
    deltaOnly.size should be > 0
  }

  test("df-cut recall contract: a pair sharing ONLY hot shingles is dropped by design") {
    val boiler = "terms of service apply to all users of this site without exception"
    // 50 docs that are pure boilerplate (all-hot shingles, all mutual
    // near-dups) + 50 docs of unique content
    val docs = (0 until 50).map(i => (i.toLong, boiler)) ++
      (50 until 100).map(i => (i.toLong, (0 until 12).map(j => s"w${i * 100 + j}").mkString(" ")))
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val uncut = Dedup.jaccardPairs(df, 0.5, maxShingleDf = Int.MaxValue).count()
    val cut = Dedup.jaccardPairs(df, 0.5, maxShingleDf = 8).count()
    uncut shouldBe 50L * 49 / 2 // the boilerplate quasi-clique
    cut shouldBe 0L // exactly the quadratic output the cut refuses to emit
  }

  test("incremental minhash: delta-vs-stored-sigs pairs ≡ full-run pairs touching the delta") {
    // Simulate the nightly path: 80% of the corpus has persisted
    // signatures; the 20% delta is hashed fresh and joined against
    // them. Determinism of the signature pipeline makes the result
    // equal a full recompute restricted to delta-touching pairs.
    val delta = documents.where($"doc_id" % 5 === 0)
    val corpus = documents.where($"doc_id" % 5 =!= 0)
    val storedSigs = Dedup.minhashSignatures(corpus).localCheckpoint()
    val inc = Dedup.minhashDeltaPairs(storedSigs, delta, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val deltaIds = delta.select($"doc_id").as[Long].collect().toSet
    val fullTouching = Dedup.minhashPairs(documents, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
      .filter(p => deltaIds(p._1) || deltaIds(p._2))
    inc shouldBe fullTouching
    inc.size should be > 0
  }

  test("passage dedup: global first occurrence wins, order preserved, full-dup doc emits empty") {
    val A = "a1 a2 a3 a4"; val B = "b1 b2 b3 b4"
    val C = "c1 c2 c3 c4"; val D = "d1 d2 d3 d4"; val E = "e1 e2 e3 e4"
    val df = spark.createDataFrame(Seq(
      (0L, s"$A $B"),      // defines A and B
      (1L, s"$A $C"),      // A already owned by doc 0 → only C survives
      (2L, s"$B $A"),      // both owned by doc 0 → fully deduped
      (3L, s"$A $A tail"), // in-doc repeat: both copies owned by doc 0
      (4L, s"$D $A $E")    // kept passages straddle a dropped middle
    )).toDF("doc_id", "text")
    val out = Dedup.passageDedup(df, passageLen = 4)
      .select($"doc_id", $"clean_text", $"n_kept", $"n_dropped")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    out(0L) shouldBe ((s"$A $B", 2L, 0L))
    out(1L) shouldBe ((C, 1L, 1L))
    out(2L) shouldBe (("", 0L, 2L)) // still emits a row, empty text
    out(3L) shouldBe (("tail", 1L, 2L)) // short final passage survives
    out(4L) shouldBe ((s"$D $E", 2L, 1L)) // order kept across the gap
  }

  test("boilerplate scrub drops EVERY occurrence of a hot passage, keeps unique text") {
    val A = "a1 a2 a3 a4"; val B = "b1 b2 b3 b4"
    val C = "c1 c2 c3 c4"; val D = "d1 d2 d3 d4"
    val df = spark.createDataFrame(Seq(
      (0L, s"$A $B"),      // A is boilerplate (3 docs), B unique
      (1L, s"$A $C"),
      (2L, s"$D $A"),
      (3L, s"$C $C tail")  // in-doc repeat of C does NOT make it hot
    )).toDF("doc_id", "text")
    // maxDf = 2: only A (3 distinct docs) crosses; C sits at 2 docs
    val out = Dedup.boilerplateScrub(df, passageLen = 4, maxDf = 2)
      .select($"doc_id", $"clean_text", $"n_kept", $"n_dropped")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    out(0L) shouldBe ((B, 1L, 1L))       // A gone from its FIRST host too
    out(1L) shouldBe ((C, 1L, 1L))
    out(2L) shouldBe ((D, 1L, 1L))
    out(3L) shouldBe ((s"$C $C tail", 3L, 0L))
    // maxDf = 1: C (2 distinct docs) now also dropped, in-doc copies too
    val strict = Dedup.boilerplateScrub(df, passageLen = 4, maxDf = 1)
      .select($"doc_id", $"clean_text").as[(Long, String)].collect().toMap
    strict(1L) shouldBe ""
    strict(3L) shouldBe "tail"
  }

  test("dedup sweep bands are cumulative and agree with jaccardPairs") {
    val rawPairs = Dedup.jaccardPairs(documents, 0.5)
      .select($"d1", $"d2", $"jac").as[(Long, Long, Double)].collect()
    val sweep = Dedup.dedupSweep(documents, 0.5)
      .select($"band", $"n_pairs", $"n_docs_touched")
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    // cell-complete domain: every 0.1 band from the floor to 1.0
    sweep.map(_._1).toSeq shouldBe Seq(0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
    // every band row matches a direct recount of pairs with jac >= band
    sweep.foreach { case (band, nPairs, nDocs) =>
      val sel = rawPairs.filter(_._3 >= band)
      nPairs shouldBe sel.length.toLong
      nDocs shouldBe sel.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
    }
    // cumulative from the top: counts never increase as the band rises
    sweep.map(_._2).sliding(2).foreach { w =>
      if (w.length == 2) w(0) should be >= w(1)
    }
    // the lowest band covers every pair found at the sweep threshold
    sweep.head._2 shouldBe rawPairs.length.toLong
  }

  test("memorization window store: unioned delta signatures ≡ full recompute") {
    val srcNum = substring($"source", 4, 10).cast("int")
    val train = documents.where(srcNum < 10)
    val eval = documents.where(srcNum >= 10)
    // corpus arrives in two deltas; signatures persisted per delta and
    // unioned WITHOUT compaction — memorizationRateAgainst must agree
    // with the one-shot audit exactly
    val store = Dedup.windowSignatures(train.where($"doc_id" % 2 === 0))
      .union(Dedup.windowSignatures(train.where($"doc_id" % 2 =!= 0)))
    val inc = Dedup.memorizationRateAgainst(store, eval)
      .select($"doc_id", $"n_win", $"n_seen").as[(Long, Long, Long)].collect().toSet
    val full = Dedup.memorizationRate(train, eval)
      .select($"doc_id", $"n_win", $"n_seen").as[(Long, Long, Long)].collect().toSet
    inc shouldBe full
    inc should not be empty
  }

  test("stored-core retention: derivations identical to the unfiltered core, dead rows dropped") {
    // Synthetic co-occurrence core spanning every regime, including
    // rows EXACTLY at each threshold (the retention disjuncts reuse
    // the consumers' own expressions, so boundary rows must survive
    // bit-for-bit, not modulo an epsilon):
    val cooc = Seq(
      (1L, 2L, 10L, 10L, 10L),  // jac 1.0, containment 1.0: kept by both
      (3L, 4L, 5L, 10L, 10L),   // jac 1/3, cont 0.5: dead row — retention drops it
      (5L, 6L, 9L, 10L, 100L),  // cont 0.9 EXACTLY (c/n1), jac 9/101: containment-only
      (7L, 8L, 10L, 15L, 15L),  // jac 0.5 EXACTLY, cont 2/3: jaccard-only
      (9L, 10L, 27L, 200L, 30L) // cont 0.9 exactly via the c/n2 disjunct (n2 is the smaller side)
    ).toDF("d1", "d2", "c", "n1", "n2")
    val retained = Dedup.retainForGate(cooc, 0.5, 0.9)
    retained.count() shouldBe 4 // only the dead row is gone

    def jacOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.jaccardFromCooc(df, 0.5)
        .as[(Long, Long, Double)].collect().toSet
    def contOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.containmentFromCooc(df, 0.9)
        .as[(Long, Long, Double)].collect().toSet
    jacOf(retained) shouldBe jacOf(cooc)
    contOf(retained) shouldBe contOf(cooc)
    // the boundary rows are actually IN the results (not vacuously equal)
    jacOf(cooc).map(p => (p._1, p._2)) should contain((7L, 8L))
    contOf(cooc).map(p => (p._1, p._2)) should contain((5L, 6L))
  }

  test("stored core feeds both gate measures: q31/q136 results match direct computation") {
    // the stored artifact (retention + df-cut) must be invisible to
    // consumers: same results as the single-call library forms
    val direct = Dedup.jaccardPairs(documents, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val stored = Dedup.jaccardFromCooc(Dedup.storedCooc(spark, sfDir), 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    stored shouldBe direct
    val directC = Dedup.containmentPairs(documents, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val storedC = Dedup.containmentFromCooc(Dedup.storedCooc(spark, sfDir), 0.9)
      .as[(Long, Long, Double)].collect().toSet
    storedC shouldBe directC
    directC should not be empty
  }

  test("incremental cooc fold ≡ full rebuild where the cut is inert (q149 contract)") {
    val base = documents.where($"doc_id" % 10 =!= 0)
    val delta = documents.where($"doc_id" % 10 === 0)
    val folded = Dedup.foldCoocDelta(
      Dedup.buildCoocStore(base, 1024, 0.5, 0.9), delta, 1024, 0.5, 0.9)
    val rebuilt = Dedup.buildCoocStore(documents, 1024, 0.5, 0.9)
    rebuilt.cooc.count() should be > 0L
    folded.cooc.except(rebuilt.cooc).count() shouldBe 0
    rebuilt.cooc.except(folded.cooc).count() shouldBe 0
    // the sidecars round-trip too: next fold sees the same store a
    // from-scratch build would produce
    folded.postings.except(rebuilt.postings).count() shouldBe 0
    rebuilt.postings.except(folded.postings).count() shouldBe 0
    folded.sizes.except(rebuilt.sizes).count() shouldBe 0
    rebuilt.sizes.except(folded.sizes).count() shouldBe 0
    folded.hotKeys.count() shouldBe 0 // inert regime: nothing crosses the cut
  }

  test("q149 gate artifact: storedIncrementalCooc ≡ storedCooc") {
    val inc = Dedup.storedIncrementalCooc(spark, sfDir)
    val full = Dedup.storedCooc(spark, sfDir)
    full.count() should be > 0L
    inc.except(full).count() shouldBe 0
    full.except(inc).count() shouldBe 0
  }

  /** A fold where the cut BITES and a shingle MIGRATES rare→hot: base
    * df("c c c") = 8 (= the cut, still rare), the delta pushes it to
    * 10 (> 8, newly hot). Pins the full equivalence contract: rebuild
    * ⊆ fold; every common row bit-equal; the extras are exactly the
    * pairs whose only shared shingle went hot (discovered under the
    * earlier smaller hot set — strictly better recall, values exact);
    * and a delta×old pair's count re-enters the now-hot shingle via
    * the hot arrays.
    */
  test("cut-biting fold: rare→hot migration keeps counts exact, fold ⊇ rebuild") {
    val base = spark.createDataFrame(
      (0 until 6).map(i => (i.toLong, s"c c c t$i t$i t$i")) ++
        Seq((20L, "c c c c"), (21L, "c c c c"))).toDF("doc_id", "text")
    val delta = spark.createDataFrame(
      Seq((100L, "c c c t0 t0 t0"), (101L, "c c c t1 t1 t1"))).toDF("doc_id", "text")
    val all = base.unionByName(delta)
    val folded = Dedup.foldCoocDelta(
      Dedup.buildCoocStore(base, 8, 0.5, 0.9), delta, 8, 0.5, 0.9)
    val rebuilt = Dedup.buildCoocStore(all, 8, 0.5, 0.9)
    // the migrating shingle is hot in both end states
    folded.hotKeys.except(rebuilt.hotKeys).count() shouldBe 0
    rebuilt.hotKeys.except(folded.hotKeys).count() shouldBe 0
    folded.hotKeys.count() shouldBe 1L // xxhash64("c c c")
    // rebuild ⊆ fold, common rows bit-equal (except is exact-row)
    rebuilt.cooc.except(folded.cooc).count() shouldBe 0
    // extras: only pairs involving the pure-boilerplate docs 20/21,
    // whose sole shared shingle is now hot — unreachable by a rebuild
    // under the grown hot set, retained by the fold with exact values
    val extras = folded.cooc.except(rebuilt.cooc)
      .as[(Long, Long, Long, Long, Long)].collect()
    extras should not be empty
    all.count() should be > 0L // corpus sanity
    extras.foreach { case (d1, d2, c, n1, n2) =>
      Seq(d1, d2).exists(Set(20L, 21L)) shouldBe true
      c shouldBe 1L // the single (hot) shared shingle, exactly counted
      (n1 == 1L || n2 == 1L) shouldBe true // the one-shingle boilerplate doc
    }
    // delta×old exactness incl. hot re-entry: doc 100 duplicates doc 0
    // (3 shared rare shingles + the hot "c c c" re-entering via arrays)
    val row = folded.cooc.where($"d1" === 0L && $"d2" === 100L)
      .as[(Long, Long, Long, Long, Long)].collect()
    row shouldBe Array((0L, 100L, 4L, 4L, 4L))
  }

  test("lowering a gate threshold below the stored core's build-time value fails loudly") {
    Dedup.storedCooc(spark, sfDir) // materialize at the default 0.5/0.9
    spark.conf.set("graft.dedup.gateContainmentThreshold", "0.3")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.q136.build(spark, sfDir)
      }
      e.getMessage should include("retention-trimmed")
      e.getMessage should include("StoredArtifacts.clear")
    } finally spark.conf.unset("graft.dedup.gateContainmentThreshold")
    // back at (or above) the build-time thresholds: reads succeed
    Dedup.q136.build(spark, sfDir).count() should be > 0L
  }

  test("persisted cooc store: day-0 build + delta fold ≡ full rebuild; redelivery no-op; config drift loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft-coocstore").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/store"
    val base = documents.where($"doc_id" % 10 =!= 0)
    val delta = documents.where($"doc_id" % 10 === 0)
    // day-0 + one nightly fold
    Dedup.foldCoocIntoStore(spark, path, base, 1024, 0.5, 0.9) should be > 0L
    Dedup.foldCoocIntoStore(spark, path, delta, 1024, 0.5, 0.9) should be > 0L
    val want = Dedup.buildCoocStore(documents, 1024, 0.5, 0.9).cooc
    val got = Dedup.readCoocStore(spark, path)
    want.count() should be > 0L
    got.except(want).count() shouldBe 0
    want.except(got).count() shouldBe 0
    // redelivered batch: zero new docs, stores bit-identical
    Dedup.foldCoocIntoStore(spark, path, delta, 1024, 0.5, 0.9) shouldBe 0L
    val again = Dedup.readCoocStore(spark, path)
    again.except(want).count() shouldBe 0
    want.except(again).count() shouldBe 0
    // a different df-cut is refused (classification is store-wide)
    intercept[IllegalArgumentException] {
      Dedup.foldCoocIntoStore(spark, path, delta, 128, 0.5, 0.9)
    }.getMessage should include("maxShingleDf")
    // a lowered retention threshold is refused (rows already dropped)
    intercept[IllegalArgumentException] {
      Dedup.foldCoocIntoStore(spark, path, delta, 1024, 0.2, 0.9)
    }.getMessage should include("retention-trimmed")
  }

  test("persisted cooc store: mid-fold crash + retry converges, no self-pairs (review fix)") {
    import graft.sources.ParquetUpsertSink
    val dir = java.nio.file.Files.createTempDirectory("graft-cooccrash").toFile
    dir.deleteOnExit()
    val path = dir.getPath + "/store"
    val base = documents.where($"doc_id" % 10 =!= 0)
    val delta = documents.where($"doc_id" % 10 === 0)
    Dedup.foldCoocIntoStore(spark, path, base, 1024, 0.5, 0.9)
    // simulate the worst crash window: the fold committed postings,
    // hotkeys and cooc but died BEFORE the sizes write (the
    // redelivery guard's table) — the retry must see the batch as
    // not-ingested and recompute the fold exactly, not pair the
    // batch's docs against their own already-stored postings
    val stored = Dedup.CoocStore(
      postings = ParquetUpsertSink.read(spark, s"$path/postings")
        .select($"doc_id", $"shingle"),
      sizes = ParquetUpsertSink.read(spark, s"$path/sizes")
        .select($"doc_id", $"n"),
      hotKeys = spark.range(0).select($"id".as("shingle")),
      cooc = ParquetUpsertSink.read(spark, s"$path/cooc")
        .select($"d1", $"d2", $"c", $"n1", $"n2"))
    val parts = Dedup.coocFoldParts(stored, delta, 1024, 0.5, 0.9)
    def up(df: org.apache.spark.sql.DataFrame, name: String, keys: Seq[String]): Unit =
      ParquetUpsertSink.upsert(
        df.withColumn("_rev", org.apache.spark.sql.functions.lit(0L)),
        s"$path/$name", keys, "_rev", 64)
    up(parts.deltaPostings, "postings", Seq("shingle", "doc_id"))
    up(parts.newlyHot, "hotkeys", Seq("shingle"))
    up(parts.newCooc, "cooc", Seq("d1", "d2"))
    // NO sizes write — the crash. Now the foreachBatch retry:
    Dedup.foldCoocIntoStore(spark, path, delta, 1024, 0.5, 0.9) should be > 0L
    val got = Dedup.readCoocStore(spark, path)
    got.where($"d1" === $"d2").count() shouldBe 0L // no fabricated self-pairs
    val want = Dedup.buildCoocStore(documents, 1024, 0.5, 0.9).cooc
    got.except(want).count() shouldBe 0L
    want.except(got).count() shouldBe 0L
    // and a THIRD delivery is a no-op on a now-complete store
    Dedup.foldCoocIntoStore(spark, path, delta, 1024, 0.5, 0.9) shouldBe 0L
  }

  test("threshold drift is loud on MEMO HITS and on the incremental core too (review fix)") {
    // materialize all three threshold-trimmed artifacts at 0.5/0.9
    Dedup.storedPairs(spark, sfDir).count()
    Dedup.q149.build(spark, sfDir).count()
    spark.conf.set("graft.dedup.gateJaccardThreshold", "0.2")
    try {
      // storedPairs: the memo is already warm — the guard must fire on
      // the HIT path, not only at first materialization
      intercept[IllegalArgumentException] {
        Dedup.storedPairs(spark, sfDir)
      }.getMessage should include("retention-trimmed")
      // q149's incremental core is a separate memo with the same contract
      intercept[IllegalArgumentException] {
        Dedup.q149.build(spark, sfDir)
      }.getMessage should include("retention-trimmed")
    } finally spark.conf.unset("graft.dedup.gateJaccardThreshold")
    Dedup.storedPairs(spark, sfDir).count() should be > 0L
    Dedup.q149.build(spark, sfDir).count() should be > 0L
  }
  test("span excise: cross-doc duplicated 8-gram spans cut from every occurrence, unique text survives") {
    val S = (1 to 8).map(i => s"s$i").mkString(" ")
    val R = (1 to 10).map(i => s"r$i").mkString(" ")
    val Q16 = {
      val q8 = (1 to 8).map(i => s"q$i").mkString(" "); s"$q8 $q8"
    }
    val df = spark.createDataFrame(Seq(
      (0L, s"u1 u2 $S u3"), // S duplicated with doc 1 -> covered 2..9
      (1L, s"$S v1"),       // covered 0..7
      (2L, "w1 w2 w3"),     // < 8 words: no windows, verbatim
      (3L, R),              // fully covered by the run shared with doc 4
      (4L, s"x1 $R x2"),    // 3 overlapping dup starts merge to ONE interval [1,10]
      (5L, Q16)             // in-doc repeat only: df(distinct docs)=1, kept
    )).toDF("doc_id", "text")
    val out = Dedup.spanExcise(df, 8, 2)
      .select($"doc_id", $"n_words", $"removed_words", $"clean_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out.keySet shouldBe Set(0L, 1L, 2L, 3L, 4L, 5L) // totality: a row per doc
    out(0L) shouldBe ((11, 8, "u1 u2 u3"))
    out(1L) shouldBe ((9, 8, "v1"))
    out(2L) shouldBe ((3, 0, "w1 w2 w3"))
    out(3L) shouldBe ((10, 10, "")) // fully-copied doc empties, row survives
    out(4L) shouldBe ((12, 10, "x1 x2"))
    out(5L) shouldBe ((16, 0, Q16))
  }

  test("span excise: hash-keyed HOF rewrite \u2261 string-keyed relational anti-join on the corpus") {
    import org.apache.spark.sql.expressions.Window
    val docsDf = Tables.documents(spark, sfDir)
    val got = Dedup.spanExcise(docsDf, 8, 2)
      .select($"doc_id", $"n_words", $"removed_words", $"clean_text")
      .as[(Long, Int, Int, String)].collect().toSet
    // independent formulation: gram STRINGS (no xxhash64), covered
    // positions exploded relationally, kept words anti-joined and
    // re-assembled by a window sort (no HOFs)
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val leads = (1 until 8).map(i => lead($"w", i).over(byPos))
    val toks = docsDf.select($"doc_id",
      posexplode(graft.functions.words($"text")).as(Seq("pos", "w")))
    val g = toks.select($"doc_id", $"pos",
        concat_ws(" ", ($"w" +: leads): _*).as("sh"), leads.last.isNotNull.as("ok"))
      .where($"ok")
    val dup = g.groupBy($"sh").agg(countDistinct($"doc_id").as("df")).where($"df" >= 2)
    val cov = g.join(dup, "sh")
      .select($"doc_id", explode(sequence($"pos", $"pos" + 7)).as("p")).distinct()
    val kept = toks.join(cov, toks("doc_id") === cov("doc_id") && $"pos" === $"p", "left_anti")
    val nw = toks.groupBy($"doc_id").agg(count(lit(1)).cast("int").as("n_words"))
    val want = nw.join(
        kept.groupBy($"doc_id").agg(
          count(lit(1)).cast("int").as("n_kept"),
          concat_ws(" ", array_sort(collect_list(struct($"pos", $"w")))
            .getField("w")).as("clean_text")),
        Seq("doc_id"), "left")
      .select($"doc_id", $"n_words",
        ($"n_words" - coalesce($"n_kept", lit(0))).cast("int").as("removed_words"),
        coalesce($"clean_text", lit("")).as("clean_text"))
      .as[(Long, Int, Int, String)].collect().toSet
    got shouldBe want
    got.count(_._3 > 0) should be > 0 // the corpus replicas make it non-trivial
  }
  test("self-repeat excise: loops collapse to first occurrence, cross-doc copies untouched") {
    val loop = "the cat sat the cat sat the cat sat"
    val S = "x1 x2 x3 x4" // shared across docs, no internal repeat
    val df = spark.createDataFrame(Seq(
      (0L, loop),            // pure loop -> one period survives
      (1L, "a a a a"),       // overlapping self-run collapses toward its head
      (2L, s"intro $loop outro"), // loop inside unique context
      (3L, S),               // cross-doc duplicate: NOT a self-repeat
      (4L, s"$S tail"),      //   (df contract is within-doc only)
      (5L, "p q r")          // no 3-gram repeats, verbatim
    )).toDF("doc_id", "text")
    val out = Dedup.selfRepeatExcise(df, 3)
      .select($"doc_id", $"n_words", $"removed_words", $"clean_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out(0L) shouldBe ((9, 6, "the cat sat"))
    out(1L) shouldBe ((4, 3, "a"))
    out(2L) shouldBe ((11, 6, "intro the cat sat outro"))
    out(3L) shouldBe ((4, 0, S))
    out(4L) shouldBe ((5, 0, s"$S tail"))
    out(5L) shouldBe ((3, 0, "p q r"))
  }

  test("self-repeat excise \u2261 string-keyed relational recompute on the corpus") {
    import org.apache.spark.sql.expressions.Window
    val docsDf = Tables.documents(spark, sfDir)
    val got = Dedup.selfRepeatExcise(docsDf, 3)
      .select($"doc_id", $"n_words", $"removed_words", $"clean_text")
      .as[(Long, Int, Int, String)].collect().toSet
    // independent formulation: gram STRINGS, first-start via groupBy +
    // join, covered positions exploded, kept words window-reassembled
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val leads = (1 until 3).map(i => lead($"w", i).over(byPos))
    val toks = docsDf.select($"doc_id",
      posexplode(graft.functions.words($"text")).as(Seq("pos", "w")))
    val g = toks.select($"doc_id", $"pos",
        concat_ws(" ", ($"w" +: leads): _*).as("sh"), leads.last.isNotNull.as("ok"))
      .where($"ok")
    val firsts = g.groupBy($"doc_id", $"sh").agg(min($"pos").as("m"))
    val cov = g.join(firsts, Seq("doc_id", "sh")).where($"pos" > $"m")
      .select($"doc_id", explode(sequence($"pos", $"pos" + 2)).as("p")).distinct()
    val kept = toks.join(cov, toks("doc_id") === cov("doc_id") && $"pos" === $"p", "left_anti")
    val nw = toks.groupBy($"doc_id").agg(count(lit(1)).cast("int").as("n_words"))
    val want = nw.join(
        kept.groupBy($"doc_id").agg(
          count(lit(1)).cast("int").as("n_kept"),
          concat_ws(" ", array_sort(collect_list(struct($"pos", $"w")))
            .getField("w")).as("clean_text")),
        Seq("doc_id"), "left")
      .select($"doc_id", $"n_words",
        ($"n_words" - coalesce($"n_kept", lit(0))).cast("int").as("removed_words"),
        coalesce($"clean_text", lit("")).as("clean_text"))
      .as[(Long, Int, Int, String)].collect().toSet
    got shouldBe want
    got.count(_._3 > 0) should be > 0 // the corpus has real self-repeats at 3-grams
  }
  test("excision rejects n < 2 loudly (review fix)") {
    intercept[IllegalArgumentException] {
      Dedup.spanExcise(documents, 1, 2)
    }.getMessage should include("n >= 2")
  }

  test("native word_ngrams pipeline ≡ the retired window-form n-gram reference (corpus + edges)") {
    // The r19 n-gram producer builds shingles IN-ROW (WordNgrams) so
    // the pass is shuffle-free; this pins (doc_id, pos, shingle)
    // equality against the r18 explode→window(lead) formulation it
    // replaced — including the tokenizer's edge semantics (Spark trim
    // strips 0x20 only, so a leading tab yields a leading empty token;
    // split keeps interior empties; sub-n-word docs emit nothing).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    def windowNgrams(df: DataFrame, n: Int): DataFrame = {
      val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
      val leads = (1 until n).map(i => lead($"w", i).over(byPos))
      df.select($"doc_id",
        posexplode(graft.functions.words($"text")).as(Seq("pos", "w")))
        .select($"doc_id", $"pos",
          concat_ws(" ", ($"w" +: leads): _*).as("shingle"),
          leads.last.as("wlast"))
        .where($"wlast".isNotNull)
        .select($"doc_id", $"pos", $"shingle")
    }
    val edges = Seq(
      (1L, "a b c d"),
      (2L, " \t alpha  beta\tgamma  "),
      (3L, ""),
      (4L, "one two"),
      (5L, "solo"),
      (6L, null.asInstanceOf[String]),
      (7L, "a a a a a"),
      (8L, "tab\tsep\nnewline words here and more of them")
    ).toDF("doc_id", "text")
    for (df <- Seq(documents, edges); n <- Seq(2, 3, 5, 8)) {
      val got = Dedup.ngramsWithPos(df, n)
        .as[(Long, Int, String)].collect().sorted
      val want = windowNgrams(df, n)
        .as[(Long, Int, String)].collect().sorted
      withClue(s"n=$n: ") { got shouldBe want }
      if (df eq documents) withClue(s"n=$n corpus must be non-trivial: ") {
        got.length should be > 0
      }
    }
  }
}
