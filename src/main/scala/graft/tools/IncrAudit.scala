package graft.tools

import graft.operators.{Cluster, Dedup, Etl, Hierarchy}
import graft.util.pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-side scale audit of the incremental-maintenance operators:
  * each stored incremental artifact compared EXACTLY (symmetric
  * except) against its full-recompute definition, at whatever sf dir
  * you point it at.
  *
  * Why this exists: the DuckDB oracle gate covers the same contracts
  * at sf0.01–0.1, but some oracles are single-node-infeasible at
  * replica scales (the recursive-CTE connected components spill
  * >79 GB at sf3) — while the ENGINE runs them fine. This audit is
  * the scale half of the incremental story: incremental ≡ full,
  * verified distributed-vs-distributed where DuckDB can't follow.
  * BASELINE.md's round-9 section records the sf3 run.
  *
  * Usage: runMain graft.tools.IncrAudit <sfDir> — exits 1 on any
  * mismatch.
  *
  * `GRAFT_INCR_SKIP=name1,name2` (prefix match) skips listed checks,
  * printing SKIP lines — for sf dirs where a specific FULL-recompute
  * comparison target is infeasible on the audit box, not the
  * incremental path itself. Concretely: at 100× replica scale
  * (/tmp/sf10) the exact co-occurrence REBUILD that the two
  * pair-derived checks compare against generates Σ df² candidate
  * rows at the gate's oracle-equivalence df-cut (deliberately loose,
  * 1024) — ~10^10 shuffle-spill rows, beyond a single box's disk.
  * The incremental path's own cost is delta-proportional and fine;
  * it is the ground-truth side that cannot be materialized there.
  *
  * `GRAFT_INCR_SAMPLE=K` (K ≥ 2) certifies those two checks at such
  * scales WITHOUT the uncut rebuild — the sample-trained-quantizer
  * pattern applied to auditing: both the fold and its ground-truth
  * rebuild run over the SAME deterministic document subset
  * (xxhash64(doc_id) mod K = 0, a content-independent 1/K stride),
  * so fold ≡ rebuild is verified exactly on a corpus drawn from the
  * audited sf's own documents while the rebuild's Σ df² shrinks by
  * ~K². Sampling contract: equality on the sample certifies the fold
  * ALGORITHM (candidate discovery, hot re-entry, retention) at this
  * sf's document mix; per-pair exactness on the unsampled corpus is
  * already unconditional (counts depend only on the two documents).
  * The cut-inert precondition (sample max shingle df ≤ the df-cut)
  * is asserted, not assumed — a too-small K fails loudly rather than
  * weakening ≡ to ⊇.
  */
object IncrAudit {

  private val skip: Set[String] =
    // filter empties: "".split(",") is Array("") and every name
    // startsWith("") — an empty env var must not skip the whole audit
    sys.env.get("GRAFT_INCR_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private val sample: Int =
    sys.env.get("GRAFT_INCR_SAMPLE").map(_.trim).filter(_.nonEmpty)
      .map { v =>
        val k = v.toInt
        // loud, like every other bad input: silently mapping K<2 to
        // "disabled" would fall back to the uncut ground-truth rebuild
        // the sampling mode exists to avoid
        require(k >= 2, s"GRAFT_INCR_SAMPLE must be >= 2 (got $k); " +
          "unset it to run the full-rebuild comparison")
        k
      }.getOrElse(0)

  /** The two pair-family checks in sampled-equivalence form (see the
    * GRAFT_INCR_SAMPLE class-doc contract): fold ≡ rebuild and
    * incremental-components ≡ full components, both over the 1/K
    * xxhash-stride document subset. Returns (coocOk, componentsOk).
    */
  private def sampledPairFamily(spark: SparkSession, sfDir: String): (Boolean, Boolean) = {
    val docs = graft.Tables.documents(spark, sfDir)
    val sampled = docs.where(pmod(xxhash64(col("doc_id")), lit(sample)) === 0)
    val jT = Dedup.gateJaccardThreshold(spark)
    val cT = Dedup.gateContainmentThreshold(spark)
    val maxDf = Dedup.gateMaxShingleDf(spark)
    // the ≡ contract needs the cut inert on the sample — assert it
    // (beyond it the fold is a documented superset, a different claim)
    val sampleMaxDf = Dedup.coocPostings(sampled)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head().getLong(0)
    require(sampleMaxDf <= maxDf,
      s"sampled corpus max shingle df $sampleMaxDf exceeds the df-cut $maxDf — " +
        s"raise GRAFT_INCR_SAMPLE above $sample so the cut is inert and " +
        "fold ≡ rebuild is the exact claim being audited")
    println(s"SAMPLE 1/$sample: ${sampled.count()} docs, max shingle df " +
      s"$sampleMaxDf (cut $maxDf inert)")
    val rebuiltCooc = pin(Dedup.buildCoocStore(sampled, maxDf, jT, cT).cooc)._1
    val base = sampled.where(col("doc_id") % 10 =!= 0)
    val delta = sampled.where(col("doc_id") % 10 === 0)
    val coocOk = diff(s"cooc_incr ≡ rebuild [sampled 1/$sample]")(
      Dedup.foldCoocDelta(
        Dedup.buildCoocStore(base, maxDf, jT, cT), delta, maxDf, jT, cT).cooc,
      rebuiltCooc)
    val pairs = pin(Dedup.jaccardFromCooc(rebuiltCooc, jT)
      .select(col("d1"), col("d2")))._1
    val storedHalf = pairs.where((col("d1") + col("d2")) % 2 === 0)
    val deltaHalf = pairs.where((col("d1") + col("d2")) % 2 =!= 0)
    val compsOk = diff(s"components_incr ≡ connectedComponents [sampled 1/$sample]")(
      Cluster.componentsIncrement(
        Cluster.connectedComponents(storedHalf), deltaHalf),
      Cluster.connectedComponents(pairs))
    (coocOk, compsOk)
  }

  private def diff(name: String)(got: => DataFrame, want: => DataFrame): Boolean = {
    if (skip.exists(name.startsWith)) { println(s"SKIP $name"); return true }
    val extra = got.except(want).count()
    val missing = want.except(got).count()
    val ok = extra == 0 && missing == 0
    println(s"${if (ok) "PASS" else "FAIL"} $name: rows=${got.count()}" +
      (if (ok) "" else s" extra=$extra missing=$missing"))
    ok
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // SPARK_GRAFT_MASTER: same override as Verify/Bench — the
    // cluster-boundary certification also runs this audit under
    // local-cluster via spark-submit (tools/cluster_gate.sh notes).
    val spark = graft.util.configureLocalHarness(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // sampled mode replaces the two rebuild-bound checks (computed
    // once — they share the sampled rebuild)
    lazy val sampledPair = sampledPairFamily(spark, sfDir)
    val results = Seq(
      // q119: delta near-dup pairs folded into stored components
      if (sample >= 2) sampledPair._2
      else diff("components_incr ≡ connectedComponents(all pairs)")(
        Cluster.storedIncrementalComponents(spark, sfDir),
        Cluster.connectedComponents(
          Dedup.storedPairs(spark, sfDir).select(col("d1"), col("d2")))),
      // q120: delta revision batches folded into the stored SCD2 history
      diff("scd2_incr ≡ scd2History(all events)")(
        Etl.storedIncrementalScd2(spark, sfDir),
        Etl.scd2History(graft.Tables.events(spark, sfDir))),
      // q98: delta edges folded into the stored transitive closure
      diff("closure_incr ≡ closure(all edges)")(
        Hierarchy.storedIncrementalClosure(spark, sfDir),
        Hierarchy.storedClosure(spark, sfDir)),
      // daily-KPI additive maintenance (library-level; EtlPipelineSpec
      // pins it at gate sf — re-checked here at scale)
      locally {
        val ev = graft.Tables.events(spark, sfDir)
        diff("kpi_incr ≡ dailyCounts(all events)")(
          Etl.kpiIncrement(
            Etl.dailyCounts(ev.where(col("event_id") % 5 =!= 0)),
            ev.where(col("event_id") % 5 === 0)),
          Etl.dailyCounts(ev))
      },
      // q149: delta batch folded into the stored posting/pair store ≡
      // the full retained co-occurrence core (gate cut is inert at
      // every audited sf — q31's in-plan assert would trip otherwise,
      // so fold ≡ rebuild exactly, not merely ⊇)
      if (sample >= 2) sampledPair._1
      else diff("cooc_incr ≡ storedCooc(all docs)")(
        Dedup.storedIncrementalCooc(spark, sfDir),
        Dedup.storedCooc(spark, sfDir)),
      // BPE dictionary: additive word-count fold ≡ full recount (the
      // distributed half of BPE training maintained at delta cost;
      // retrain-equivalence is BpeSpec's consumer-step check)
      locally {
        val docs = graft.Tables.documents(spark, sfDir)
        diff("bpe_dict_incr ≡ wordCounts(all docs)")(
          graft.operators.Bpe.dictIncrement(
            graft.operators.Bpe.wordCounts(
              docs.where(col("doc_id") % 10 =!= 0), "text"),
            docs.where(col("doc_id") % 10 === 0)),
          graft.operators.Bpe.wordCounts(docs, "text"))
      },
      // DSIR side models: additive bucket-count fold ≡ full recount
      // (the hashed-feature models behind importance resampling
      // maintained at delta cost; the weight formula is DsirSpec's)
      locally {
        val docs = graft.Tables.documents(spark, sfDir)
        val isT = col("source").substr(4, 10).cast("int") >= 15
        diff("dsir_counts_incr ≡ bucketCounts(all docs)")(
          graft.operators.Dsir.countsIncrement(
            graft.operators.Dsir.bucketCounts(graft.operators.Dsir.hashedFeatures(
              docs.where(col("doc_id") % 10 =!= 0), isT, 10000)),
            docs.where(col("doc_id") % 10 === 0), isT, 10000),
          graft.operators.Dsir.bucketCounts(
            graft.operators.Dsir.hashedFeatures(docs, isT, 10000)))
      },
      // target-LM model (q154): additive bigram-count fold + vocab
      // union ≡ full recount (the persisted form lmPerplexityUnder
      // scores under; context model derives from the bigram table)
      locally {
        val docs = graft.Tables.documents(spark, sfDir)
        val isT = col("source").substr(4, 10).cast("int") >= 15
        diff("lm_counts_incr ≡ lmBigramCounts(all target docs)")(
          graft.operators.Text.lmBigramIncrement(
            graft.operators.Text.lmBigramCounts(
              docs.where(col("doc_id") % 10 =!= 0), isT),
            docs.where(col("doc_id") % 10 === 0), isT),
          graft.operators.Text.lmBigramCounts(docs, isT))
      },
      locally {
        val docs = graft.Tables.documents(spark, sfDir)
        val isT = col("source").substr(4, 10).cast("int") >= 15
        diff("lm_vocab_incr ≡ lmVocab(all target docs)")(
          graft.operators.Text.lmVocabIncrement(
            graft.operators.Text.lmVocab(
              docs.where(col("doc_id") % 10 =!= 0), isT),
            docs.where(col("doc_id") % 10 === 0), isT),
          graft.operators.Text.lmVocab(docs, isT))
      },
      // near-dup delta pairs ≡ the full pair run restricted to
      // delta-touching pairs (the nightly signature-store contract)
      locally {
        val docs = graft.Tables.documents(spark, sfDir)
        val base = docs.where(col("doc_id") % 10 =!= 0)
        val delta = docs.where(col("doc_id") % 10 === 0)
        val deltaIds = pin(delta.select(col("doc_id")))._1
        val full = pin(Dedup.minhashPairs(docs, 0.5).select(col("d1"), col("d2")))._1
        val touching = full
          .join(deltaIds.toDF("d1"), Seq("d1"), "left_semi")
          .unionByName(full.join(deltaIds.toDF("d2"), Seq("d2"), "left_semi"))
          .dropDuplicates("d1", "d2")
        diff("minhash_delta_pairs ≡ full pairs touching the delta")(
          Dedup.minhashDeltaPairs(Dedup.minhashSignatures(base), delta, 0.5)
            .select(col("d1"), col("d2")),
          touching)
      },
      // memorization store: union of per-delta window stores answers
      // the rate identically to the one-shot computation
      locally {
        val docs = graft.Tables.documents(spark, sfDir)
        val evalSet = docs.where(col("doc_id") % 17 === 0)
        val train = docs.where(col("doc_id") % 17 =!= 0)
        val stored = Dedup.windowSignatures(train.where(col("doc_id") % 2 === 0))
          .unionByName(Dedup.windowSignatures(train.where(col("doc_id") % 2 =!= 0)))
        diff("memorization_incr ≡ one-shot rate")(
          Dedup.memorizationRateAgainst(stored, evalSet),
          Dedup.memorizationRate(train, evalSet))
      },
      // IVF append under the stored quantizer ≡ full re-assign
      locally {
        val emb = graft.Tables.embeddings(spark, sfDir)
        val cents = graft.operators.Ann.storedCentroids(spark, sfDir, 16, 2)
        diff("ivf_append ≡ full re-assign")(
          graft.operators.Ann.ivfAppend(
            graft.operators.Ann.assignClusters(
              emb.where(col("vec_id") % 5 =!= 0), cents),
            emb.where(col("vec_id") % 5 === 0), cents),
          graft.operators.Ann.assignClusters(emb, cents))
      },
      // profile artifact: a 4-way slice merge carries the ADDITIVE
      // facts losslessly and keeps the distinct estimate inside the
      // q135 band vs the exact dictionary (the sketch itself is not
      // except()-comparable — estimates are what consumers read)
      locally {
        import graft.operators.Relational
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        val orders = graft.Tables.orders(spark, sfDir)
        val merged = Relational.profileReport(Relational.mergeProfiles(
          (0 to 3).map(i => Relational.tableProfile(
            orders.where(pmod(col("o_orderkey"), lit(4)) === i), cols))
            .reduce(_.unionByName(_))))
        val exact = cols.map { n =>
          orders.select(col(n))
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col(n).isNull, lit(1L)).otherwise(lit(0L))).as("n_nulls"),
              countDistinct(col(n)).as("n_distinct"))
            .select(lit(n).as("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
        }.reduce(_.union(_))
        val m = merged.select(col("col_name"), col("n_rows").as("m_rows"),
          col("n_nulls").as("m_nulls"), col("n_distinct_est"))
        diff("profile_incr ≡ exact facts + in-band estimate")(
          m.join(exact, Seq("col_name"))
            .where(col("m_rows") === col("n_rows") && col("m_nulls") === col("n_nulls") &&
              abs(col("n_distinct_est") - col("n_distinct")) * lit(10L) <= col("n_distinct"))
            .select(col("col_name")),
          exact.select(col("col_name")))
      })
    spark.stop()
    if (results.contains(false)) sys.exit(1)
  }
}
