package graft

import graft.Tables
import graft.functions._
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The per-row column functions are public API; the operators use
  * faster exploded-aggregation equivalents. These specs pin the two
  * formulations to each other so the API can't silently drift.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir).limit(200)

  test("per-row simhash64 equals the exploded-aggregation simhash") {
    val perRow = docs.select($"doc_id", simhash64(words($"text")).as("sh"))
    val exploded = docs
      .select($"doc_id", explode(words($"text")).as("t"))
      .select($"doc_id", xxhash64($"t").as("h"))
      .groupBy($"doc_id")
      .agg(sum(when($"h".bitwiseAND(1) === 1, 1).otherwise(-1)).as("v0"),
        (1 until 64).map(b =>
          sum(when(shiftright($"h", b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")): _*)
      .select($"doc_id",
        (0 until 64).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, c) => a.bitwiseOR(c)).as("sh"))
    perRow.except(exploded).count() shouldBe 0L
    exploded.except(perRow).count() shouldBe 0L
  }

  test("native simhash_agg aggregate equals the per-row simhash64") {
    val perRow = docs.select($"doc_id", simhash64(words($"text")).as("sh"))
    val native = docs
      .select($"doc_id", explode(words($"text")).as("t"))
      .select($"doc_id", xxhash64($"t").as("h"))
      .groupBy($"doc_id")
      .agg(simhashAgg($"h").as("sh"))
    perRow.except(native).count() shouldBe 0L
    native.except(perRow).count() shouldBe 0L
  }

  test("per-row minhash equals the exploded min-aggregation") {
    val seed = 7
    val perRow = docs
      .select($"doc_id", array_distinct(shingles(words($"text"), 3)).as("sh"))
      .where(org.apache.spark.sql.functions.size($"sh") > 0)
      .select($"doc_id", minhash($"sh", seed).as("m"))
    val exploded = Dedup.shingleSets(docs)
      .groupBy($"doc_id").agg(min(xxhash64(lit(seed), $"shingle")).as("m"))
    perRow.except(exploded).count() shouldBe 0L
    exploded.except(perRow).count() shouldBe 0L
  }

  test("q39's window-lead fingerprint equals the per-row fingerprint API") {
    val viaQuery = graft.operators.Text.q39.build(spark, sfDir)
    val viaApi = Tables.documents(spark, sfDir)
      .select($"doc_id", fingerprint($"text").as("fp"))
    viaQuery.except(viaApi).count() shouldBe 0L
    viaApi.except(viaQuery).count() shouldBe 0L
  }

  test("fingerprint is stable for identical text and sensitive to word changes") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta eta"),
      (3L, "alpha beta gamma delta epsilon zeta theta")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", fingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    fps(1L) shouldBe fps(2L)
    // doc 3 differs only in a trailing word; min-shingle may or may not
    // move, but the short-doc fingerprint must still be defined
    fps(3L) should not be null
  }

  test("fingerprint is null for docs with fewer than 5 words") {
    val df = Seq((1L, "just four words here")).toDF("doc_id", "text")
    df.select(fingerprint($"text")).head().isNullAt(0) shouldBe true
  }

  test("approx aggregates are close to exact on lineitem") {
    val li = Tables.lineitem(spark, sfDir)
    val (approxD, exactD) = li.agg(
      graft.functions.approxCountDistinct($"l_partkey"),
      countDistinct($"l_partkey"))
      .as[(Long, Long)].head()
    math.abs(approxD - exactD).toDouble / exactD should be < 0.1
    val (approxP, exactP) = li.agg(
      graft.functions.approxPercentile($"l_quantity", 0.5),
      expr("percentile(l_quantity, 0.5)"))
      .as[(Double, Double)].head()
    math.abs(approxP - exactP) / exactP should be < 0.1
  }

  test("cosine (fold) and cosineFast (native) agree with norms") {
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val pairs = e.toDF("v1", "e1", "l1").join(e.toDF("v2", "e2", "l2"), $"v1" < $"v2")
    pairs.select(
      abs(cosine($"e1", $"e2") - cosineFast($"e1", $"e2")).as("d"))
      .agg(max($"d")).head().getDouble(0) shouldBe 0.0
  }

  test("quality gate fires every rule, reasons in fixed order (q74)") {
    // The gate corpus never trips dup_3gram or word_len (templated
    // docs have healthy shapes); pin those rules on crafted docs so
    // every branch has a correctness signal, not just the hot ones.
    // 34 distinct words incl. 7 stopwords: every rule passes
    val good = ("the alpha of beta and gamma is delta in epsilon to zeta it " +
      "eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau " +
      "upsilon phi chi psi omega blue red green").trim
    // the,of + gram*42: hot word + collapsed 3-gram set, healthy rest
    val repet = ("the of gram gram " + "gram " * 40).trim
    // two stopwords + 38 copies of a 25-char word: avg len 23.9
    val longw = ("the of " + "pneumonoultramicroscopics " * 38).trim
    // 40 distinct mid-length words, zero stopwords: only that rule
    val nostop = (0 until 40).map(i => s"word$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, good), (2L, repet), (3L, longw), (4L, nostop)
    )).toDF("doc_id", "text")
    val out = graft.operators.Text.qualityGate(docs)
      .select($"doc_id", $"keep", $"drop_reasons")
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out(1L) shouldBe ((true, ""))
    out(2L) shouldBe ((false, "top_word,dup_3gram"))
    out(3L) shouldBe ((false, "word_len,top_word,dup_3gram"))
    out(4L) shouldBe ((false, "no_stopwords"))
  }

  test("per-row quality gate equals the aggregate formulation on the whole corpus") {
    // qualityGateRow is the stateless streaming-capable variant; its
    // verdicts must be IDENTICAL to the batch aggregate's, doc by doc
    val docs = Tables.documents(spark, sfDir)
    val agg = graft.operators.Text.qualityGate(docs)
      .select($"doc_id", $"n_words", $"keep", $"drop_reasons")
      .as[(Long, Long, Boolean, String)].collect().toSet
    val row = graft.operators.Text.qualityGateRow(docs)
      .select($"doc_id", $"n_words", $"keep", $"drop_reasons")
      .as[(Long, Long, Boolean, String)].collect().toSet
    row shouldBe agg
  }

  test("excise_words: empty/full/adjacent/boundary interval covers cut exactly the right words") {
    import org.apache.spark.sql.functions.{col, expr, split}
    import graft.functions.exciseWords
    def run(text: String, iv: Seq[(Int, Int)]): String = {
      val ivSql =
        if (iv.isEmpty) "CAST(array() AS array<struct<lo:int,hi:int>>)"
        else iv.map { case (l, h) => s"named_struct('lo', $l, 'hi', $h)" }
          .mkString("array(", ", ", ")")
      Seq(text).toDF("text")
        .select(exciseWords(split(col("text"), " "), expr(ivSql)).as("c"))
        .as[String].head()
    }
    val t = "w0 w1 w2 w3 w4 w5 w6 w7"
    run(t, Nil) shouldBe t // no intervals: identity
    run(t, Seq((0, 7))) shouldBe "" // full cover: empty string
    run(t, Seq((0, 1), (6, 7))) shouldBe "w2 w3 w4 w5" // both ends cut
    run(t, Seq((2, 3), (5, 5))) shouldBe "w0 w1 w4 w6 w7" // disjoint middles
    // boundary exactness: hi is inclusive, hi+1 survives
    run(t, Seq((3, 4))) shouldBe "w0 w1 w2 w5 w6 w7"
    // many short disjoint intervals (the quadratic corner of the old
    // ArrayExists probe): two-pointer stays exact
    run(t, Seq((0, 0), (2, 2), (4, 4), (6, 6))) shouldBe "w1 w3 w5 w7"
    // intervals past the word range are harmless (never produced by
    // the callers, but the merge must not misbehave)
    run("a b", Seq((1, 5))) shouldBe "a"
    // the function is in the public SQL catalog, so a contract-violating
    // interval array (unsorted, overlapping, or inverted) must fail
    // LOUDLY like null elements do — not silently corrupt the text
    val unsorted = intercept[Exception] { run(t, Seq((4, 5), (1, 2))) }
    unsorted.getMessage should include("sorted and disjoint")
    val overlap = intercept[Exception] { run(t, Seq((1, 3), (3, 5))) }
    overlap.getMessage should include("sorted and disjoint")
    val inverted = intercept[Exception] { run(t, Seq((5, 2))) }
    inverted.getMessage should include("hi < lo")
  }

  test("count-min sketch: overestimate-only, exact at generous width, layout-independent") {
    import graft.functions.{cmEstimate, countMinAgg}
    import org.apache.spark.sql.functions.xxhash64
    // zipf-ish fixture with KNOWN counts: token t_i appears i times
    val toks = (1 to 40).flatMap(i => Seq.fill(i)(s"t$i"))
    val df = toks.toDF("tok").withColumn("h", xxhash64($"tok"))
    val truth = (1 to 40).map(i => s"t$i" -> i.toLong).toMap

    def estimates(depth: Int, width: Int): Map[String, Long] = {
      val sk = df.agg(countMinAgg($"h", depth, width).as("sk"))
      val probes = truth.keys.toSeq.toDF("tok")
        .withColumn("h", xxhash64($"tok")).crossJoin(sk)
      probes.select($"tok", cmEstimate($"sk", $"h", depth, width).as("est"))
        .as[(String, Long)].collect().toMap
    }

    // generous width: 40 tokens in 4×2048 cells — collision-free in
    // practice, so estimates are exactly the true counts
    estimates(4, 2048) shouldBe truth
    // brutal width: collisions guaranteed; the CM guarantee is
    // one-sided — estimate >= true for EVERY token, never under
    val tight = estimates(4, 8)
    truth.foreach { case (t, n) =>
      withClue(s"$t: ") { tight(t) should be >= n }
    }
    // the sketch is a deterministic function of the multiset, not the
    // partition layout: 1-partition and 8-partition builds (different
    // partial-merge trees) produce bit-identical counter arrays
    def sketchOf(parts: Int): Seq[Long] = {
      val d = df.repartition(parts)
      d.agg(countMinAgg($"h", 4, 64).as("sk"))
        .select($"sk").as[Seq[Long]].head()
    }
    sketchOf(1) shouldBe sketchOf(8)
    // and merging two half-sketches equals the whole-corpus sketch:
    // group halves, aggregate each, then the driver-side vector add
    val half = df.withColumn("g", ($"h" % 2 === 0).cast("int"))
      .groupBy($"g").agg(countMinAgg($"h", 4, 64).as("sk"))
      .select($"sk").as[Seq[Long]].collect()
    half.map(_.toArray).reduce { (a, b) =>
      a.indices.foreach(i => a(i) += b(i)); a
    }.toSeq shouldBe sketchOf(1)
  }

  test("bloom filter: no false negatives ever, definite absence, layout-independent merge") {
    import graft.functions.{bloomAgg, bloomContains}
    import org.apache.spark.sql.functions.xxhash64
    val members = (1 to 200).map(i => s"key$i")
    val absent = (1 to 200).map(i => s"other$i")
    val df = members.toDF("k").withColumn("h", xxhash64($"k"))

    def probe(keys: Seq[String], bits: Int, hashes: Int): Map[String, Boolean] = {
      val bf = df.agg(bloomAgg($"h", bits, hashes).as("bf"))
      keys.toDF("k").withColumn("h", xxhash64($"k")).crossJoin(bf)
        .select($"k", bloomContains($"bf", $"h", bits, hashes).as("in"))
        .as[(String, Boolean)].collect().toMap
    }

    // the Bloom guarantee is one-sided and UNCONDITIONAL: every
    // inserted key probes true at any sizing — even a brutally
    // undersized filter (64 bits for 200 keys, saturated) never
    // loses a member
    probe(members, 65536, 4).values.forall(identity) shouldBe true
    probe(members, 64, 4).values.forall(identity) shouldBe true
    // generous sizing (≥16 bits/key): non-members probe false —
    // "false" is a definite absence verdict, which is what makes the
    // filter usable as a decontamination pre-screen
    probe(absent, 65536, 4).values.exists(identity) shouldBe false

    // the filter is a deterministic function of the key SET, not the
    // partition layout: different partial-merge trees OR to the same
    // bits, and half-filters OR'd equal the whole-corpus filter
    def filterOf(parts: Int): Seq[Long] = {
      df.repartition(parts).agg(bloomAgg($"h", 1024, 4).as("bf"))
        .select($"bf").as[Seq[Long]].head()
    }
    filterOf(1) shouldBe filterOf(8)
    val halves = df.withColumn("g", ($"h" % 2 === 0).cast("int"))
      .groupBy($"g").agg(bloomAgg($"h", 1024, 4).as("bf"))
      .select($"bf").as[Seq[Long]].collect()
    halves.map(_.toArray).reduce { (a, b) =>
      a.indices.foreach(i => a(i) |= b(i)); a
    }.toSeq shouldBe filterOf(1)
  }

  test("theta sketch: exact below nominal entries, layout-independent, set semantics") {
    val keys = (1L to 5000L).toDF("k").withColumn("h", xxhash64($"k"))
    def est(parts: Int): Double =
      keys.repartition(parts).agg(thetaEstimate(thetaAgg($"h")).as("e"))
        .as[Double].head()
    // 5000 distinct < 2^14 nominal: the sketch is in exact mode
    est(1) shouldBe 5000.0
    // deterministic function of the key SET, not the partition layout
    est(8) shouldBe est(1)
    // duplicates are no-ops (set semantics): tripling every row
    // changes nothing — the raw token stream needs no distinct
    val tripled = keys.union(keys).union(keys)
    tripled.agg(thetaEstimate(thetaAgg($"h")).as("e"))
      .as[Double].head() shouldBe 5000.0
  }

  test("theta set ops preserve exactness below nominal entries (no silent downsample)") {
    // two exact lgK-14 sketches (8k and 7k keys, disjoint) must union
    // to the EXACT 15000 — the library's own builder default (lgK 12,
    // 4096 entries) would turn this into an estimate, which is the
    // regression this test pins out
    val a = (1L to 8000L).toDF("k").withColumn("h", xxhash64($"k"))
      .agg(thetaAgg($"h").as("ska"))
    val b = (8001L to 15000L).toDF("k").withColumn("h", xxhash64($"k"))
      .agg(thetaAgg($"h").as("skb"))
    a.crossJoin(b).select(thetaEstimate(thetaUnionOf($"ska", $"skb")).as("e"))
      .as[Double].head() shouldBe 15000.0
  }

  test("theta sketch estimation regime: union/intersect/anotb within 4-sigma on 100k keys") {
    // A = [1, 100k], B = [50k+1, 150k]: |A|=|B|=100k >> 2^14 nominal
    // (estimation mode), |A∩B| = 50k, |A∪B| = 150k, |A\B| = 50k
    val a = (1L to 100000L).toDF("k").withColumn("h", xxhash64($"k"))
      .agg(thetaAgg($"h").as("sk"))
    val b = (50001L to 150000L).toDF("k").withColumn("h", xxhash64($"k"))
      .agg(thetaAgg($"h").as("sk"))
    val both = a.select($"sk".as("ska")).crossJoin(b.select($"sk".as("skb")))
    val (u, i, d) = both.select(
      thetaEstimate(thetaUnionOf($"ska", $"skb")).as("u"),
      thetaEstimate(thetaIntersect($"ska", $"skb")).as("i"),
      thetaEstimate(thetaAnotB($"ska", $"skb")).as("d"))
      .as[(Double, Double, Double)].head()
    // lgK=14 rsd ≈ 0.78%; set-op error is relative to the UNION size,
    // so give intersection/difference 4σ of 150k ≈ 4.7k
    math.abs(u - 150000.0) should be <= 150000.0 * 0.032
    math.abs(i - 50000.0) should be <= 150000.0 * 0.032
    math.abs(d - 50000.0) should be <= 150000.0 * 0.032
    // composition: (A∩B) ∪ (A\B) = A — ops CHAIN over sketch bytes
    val back = both.select(thetaEstimate(thetaUnionOf(
      thetaIntersect($"ska", $"skb"), thetaAnotB($"ska", $"skb"))).as("e"))
      .as[Double].head()
    math.abs(back - 100000.0) should be <= 150000.0 * 0.032
  }

  test("theta sketches round-trip through parquet as BINARY; null key hashes are skipped") {
    // a stored sketch column is the cross-run artifact: read back, it
    // must compose exactly like the in-memory sketches (30k keys each,
    // past 2^14 nominal entries, so both are in estimation mode)
    val a = (1L to 30000L).toDF("k").withColumn("h", xxhash64($"k"))
      .agg(thetaAgg($"h").as("ska"))
    val b = (20001L to 50000L).toDF("k").withColumn("h", xxhash64($"k"))
      .agg(thetaAgg($"h").as("skb"))
    val both = a.crossJoin(b)
    val dir = java.nio.file.Files.createTempDirectory("graft-theta").toString + "/sk"
    both.write.parquet(dir)
    val back = spark.read.parquet(dir)
    back.schema("ska").dataType shouldBe org.apache.spark.sql.types.BinaryType
    def ests(df: org.apache.spark.sql.DataFrame): (Long, Long) = df.select(
        thetaEstimate(thetaUnionOf($"ska", $"skb")),
        thetaEstimate(thetaIntersect($"ska", $"skb")))
      .as[(Long, Long)].head()
    ests(back) shouldBe ests(both)
    // null hashes are no-ops: every 7th key nulled out gives the same
    // bytes as the column without those rows
    val keys = (1L to 5000L).toDF("k")
    val withNulls = keys.select(
      when($"k" % 7 === 0, lit(null)).otherwise(xxhash64($"k")).as("h"))
    val without = keys.where($"k" % 7 =!= 0).select(xxhash64($"k").as("h"))
    def bytes(df: org.apache.spark.sql.DataFrame): Seq[Byte] =
      df.agg(thetaAgg($"h")).as[Array[Byte]].head().toSeq
    bytes(withNulls) shouldBe bytes(without)
  }

  test("vocabOverlapSketch estimates match the exact pairwise overlap on the gate corpus") {
    val full = Tables.documents(spark, sfDir)
    val exact = graft.operators.Text.vocabOverlapThetaAudit(full)
      .select($"s1", $"s2", $"n_overlap").as[(String, String, Long)]
      .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    val est = graft.operators.Text.vocabOverlapSketch(full)
      .select($"s1", $"s2", $"est_overlap", $"est_jaccard")
      .as[(String, String, Double, Double)].collect()
    est.length shouldBe exact.size
    est.foreach { case (a, b, e, j) =>
      val x = exact((a, b)).toDouble
      math.abs(e - x) should be <= math.max(1.0, x * 0.1)
      j should (be >= 0.0 and be <= 1.0)
    }
    // and the audit's own in-row verdicts all hold
    graft.operators.Text.vocabOverlapThetaAudit(full)
      .where(!$"theta_ok").count() shouldBe 0L
  }

  test("native char_ngrams equals the substr enumeration (corpus + unicode edges)") {
    val edges = Seq((1L, "abcd"), (2L, "ab"), (3L, ""), (4L, "abc"),
      (5L, null.asInstanceOf[String]), (6L, "héllo wörld"),
      (7L, "→Ж漢字x"), (8L, "aaa bbb")).toDF("doc_id", "text")
    for (df <- Seq(Tables.documents(spark, sfDir), edges); n <- Seq(2, 3, 4)) {
      val len = org.apache.spark.sql.functions.length($"text")
      val hof = when(len >= n,
        transform(sequence(lit(1), len - (n - 1)),
          i => $"text".substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
      df.where($"text".isNotNull && len >= n)
        .select(charNgrams($"text", n).as("a"), hof.as("b"))
        .where(!($"a" <=> $"b")).count() shouldBe 0L
      // below n code points (or null): empty/null array → no grams
      df.where($"text".isNull || len < n)
        .select(charNgrams($"text", n).as("a"))
        .where(org.apache.spark.sql.functions.size($"a") > 0)
        .count() shouldBe 0L
    }
  }

  test("native char_ngram_tf equals the exploded char_ngrams per-row count") {
    val edges = Seq((1L, "abcd"), (2L, "ab"), (3L, ""), (4L, "abc"),
      (5L, null.asInstanceOf[String]), (6L, "héllo wörld"),
      (7L, "→Ж漢字x"), (8L, "aaa bbb"), (9L, "aaaaaa")).toDF("doc_id", "text")
    for (df <- Seq(Tables.documents(spark, sfDir), edges); n <- Seq(2, 3)) {
      val len = org.apache.spark.sql.functions.length($"text")
      val viaTf = df.where($"text".isNotNull && len >= n)
        .select($"doc_id", explode(charNgramTf($"text", n)).as("g"))
        .select($"doc_id", $"g.tg", $"g.tf")
        .as[(Long, String, Long)].collect().toSet
      val viaExplode = df.where($"text".isNotNull && len >= n)
        .select($"doc_id", explode(charNgrams($"text", n)).as("tg"))
        .groupBy($"doc_id", $"tg")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("tf"))
        .as[(Long, String, Long)].collect().toSet
      viaTf shouldBe viaExplode
      // below n code points (or null): no tf rows
      df.where($"text".isNull || len < n)
        .select(charNgramTf($"text", n).as("a"))
        .where(org.apache.spark.sql.functions.size($"a") > 0)
        .count() shouldBe 0L
      // determinism: first-occurrence order, stable across evaluations
      val once = df.where($"text".isNotNull)
        .select($"doc_id", charNgramTf($"text", n).as("a")).collect().toSeq
      val twice = df.where($"text".isNotNull)
        .select($"doc_id", charNgramTf($"text", n).as("a")).collect().toSeq
      once.map(_.toString) shouldBe twice.map(_.toString)
    }
  }

  test("native array_pairs equals the nested-transform HOF pair fanout") {
    val arrs = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)), (2L, Seq(7L)), (3L, Seq.empty[Long]),
      (4L, Seq(5L, 5L, 5L)), (5L, (1L to 40L))).map { case (k, v) => (k, v.toArray) }
      .toDF("id", "ps")
    val hof = expr("flatten(transform(ps, (x, i) -> " +
      "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))")
    arrs.select(arrayPairs($"ps").as("a"), hof.as("b"))
      .where(!($"a" <=> $"b")).count() shouldBe 0L
  }

  test("native word_ngrams equals the shingles HOF (corpus + edges, n=2/3/5/8)") {
    val edges = Seq((1L, "a b c d"), (2L, " \t alpha  beta\tgamma  "), (3L, ""),
      (4L, "one two"), (5L, "solo"), (6L, null.asInstanceOf[String]),
      (7L, "a a a a a")).toDF("doc_id", "text")
    for (df <- Seq(Tables.documents(spark, sfDir), edges); n <- Seq(2, 3, 5, 8)) {
      // null text is the one value-level difference: the HOF's
      // when(...).otherwise falls through to an EMPTY array while the
      // native expression is null — identical under explode (both
      // emit zero rows), so pin array equality on non-null text and
      // null-in/null-out explicitly
      df.where($"text".isNotNull)
        .select(wordNgrams($"text", n).as("a"),
          shingles(words($"text"), n).as("b"))
        .where(!($"a" <=> $"b")).count() shouldBe 0L
      df.where($"text".isNull)
        .select(wordNgrams($"text", n).as("a"))
        .where($"a".isNotNull).count() shouldBe 0L
    }
  }

  test("native word_stats equals the exploded word aggregation (corpus + edges)") {
    val stops = Seq("the", "a", "of", "and", "is", "in", "to", "it")
    val edges = Seq((1L, "the the the"), (2L, " \t a  b\tc "), (3L, ""),
      (4L, null.asInstanceOf[String]), (5L, "x y x y x")).toDF("doc_id", "text")
    for (df <- Seq(Tables.documents(spark, sfDir), edges)) {
      val native = df.select($"doc_id",
          wordStats($"text", stops).as("st"))
        .select($"doc_id", $"st.tot".as("tot"), $"st.mx".as("mx"),
          $"st.nstop".as("n_stop"))
        .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
        .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
      val exploded = df
        .select($"doc_id", explode(words($"text")).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(max($"c").as("mx"), sum($"c").as("tot"),
          sum(when($"w".isin(stops: _*), $"c").otherwise(0L)).as("n_stop"))
        .as[(Long, Long, Long, Long)].collect()
        .map { case (k, mx, tot, ns) => k -> (Some(tot), Some(mx), Some(ns)) }.toMap
      // docs the exploded form never emits (null text) carry null
      // stats in the native form — the left-join-null equivalence
      native.foreach { case (k, v) =>
        exploded.get(k) match {
          case Some(w) => withClue(s"doc $k: ") { v shouldBe w }
          case None => withClue(s"doc $k (null text): ") {
            v shouldBe ((None, None, None))
          }
        }
      }
      native.keySet.size.toLong shouldBe df.count()
    }
  }
}
