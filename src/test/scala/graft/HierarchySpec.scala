package graft

import graft.operators.Hierarchy
import org.apache.spark.sql.Row

/** Closure semantics on a hand-built graph:
  *
  *   10 -> 1,  11 -> 1,  12 -> 10,  12 -> 11  (diamond: 12 reaches 1
  *   via two paths), 13 -> 12, 20 -> 2 (second root), 30 isolated-ish
  *   chain 31 -> 30.
  *
  * Roots: 1, 2, 30. Min-depth for (1, 12) must be 2 despite two paths.
  */
class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges = Seq(
    (10L, 1L), (11L, 1L), (12L, 10L), (12L, 11L),
    (13L, 12L), (20L, 2L), (31L, 30L))
    .toDF("child", "parent")

  private lazy val noEdges = Seq.empty[(Long, Long)].toDF("child", "parent")

  test("closure finds all reachable pairs with min depth") {
    val cl = Hierarchy.closure(edges)
      .as[(Long, Long, Int)].collect().toSet
    val expected = Set(
      (1L, 10L, 1), (1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3),
      (10L, 12L, 1), (10L, 13L, 2), (11L, 12L, 1), (11L, 13L, 2),
      (12L, 13L, 1), (2L, 20L, 1), (30L, 31L, 1))
    cl shouldBe expected
  }

  test("roots are parents that are never children") {
    Hierarchy.roots(edges).as[Long].collect().toSet shouldBe Set(1L, 2L, 30L)
  }

  test("incremental closure equals full recompute after edge additions") {
    val base = Hierarchy.closure(edges)
    // new edges: connect two components (30 under 2) AND add a
    // shortcut that SHORTENS existing min-depths (13 -> 1 makes
    // (1, 13) depth 1 instead of 3)
    val added = Seq((30L, 2L), (13L, 1L)).toDF("child", "parent")
    val incr = Hierarchy.incrementalClosure(base, added)
      .as[(Long, Long, Int)].collect().toSet
    val full = Hierarchy.closure(edges.union(added))
      .as[(Long, Long, Int)].collect().toSet
    incr shouldBe full
    incr should contain((2L, 31L, 2)) // cross-component reachability
    incr should contain((1L, 13L, 1)) // shortened min-depth
  }

  test("incremental closure with no new edges is a no-op") {
    val base = Hierarchy.closure(edges)
    val incr = Hierarchy.incrementalClosure(base,
      Seq.empty[(Long, Long)].toDF("child", "parent"))
      .as[(Long, Long, Int)].collect().toSet
    incr shouldBe base.as[(Long, Long, Int)].collect().toSet
  }

  test("incremental closure under edge deletion equals full recompute") {
    val shortcut = Seq((13L, 1L)).toDF("child", "parent")
    val base = Hierarchy.closure(edges.union(shortcut))
    // delete: the shortcut (min-depth LENGTHENS back to 3), one diamond
    // arm (10 loses its subtree), and an entire tiny component's edge
    val removed = Seq((13L, 1L), (12L, 10L), (31L, 30L)).toDF("child", "parent")
    val remaining = Seq((10L, 1L), (11L, 1L), (12L, 11L), (13L, 12L), (20L, 2L))
      .toDF("child", "parent")
    val incr = Hierarchy.closurePatch(base, noEdges, Some(removed)).applyTo(base)
      .as[(Long, Long, Int)].collect().toSet
    val full = Hierarchy.closure(remaining).as[(Long, Long, Int)].collect().toSet
    incr shouldBe full
    incr should contain((1L, 13L, 3)) // shortcut removal restores depth 3
    incr.map(p => (p._1, p._2)) should not contain ((10L, 12L)) // diamond arm gone
    incr.exists(t => t._1 == 30L || t._2 == 31L) shouldBe false // component emptied
    incr should contain((2L, 20L, 1)) // untouched component kept verbatim
  }

  test("incremental closure deletion with nothing removed is a no-op") {
    val base = Hierarchy.closure(edges)
    val incr = Hierarchy.closurePatch(base, noEdges, Some(noEdges)).applyTo(base)
      .as[(Long, Long, Int)].collect().toSet
    incr shouldBe base.as[(Long, Long, Int)].collect().toSet
  }

  test("deep-chain closure: exact pair count and depths at depth 512") {
    // a 512-node chain has max path length 511 — per-level iteration
    // would need 511 rounds; band doubling needs ~10. Exact closure of
    // a chain: n*(n-1)/2 pairs, depth = distance.
    val n = 512
    val chain = spark.range(1, n)
      .selectExpr("id as child", "id - 1 as parent")
    val cl = Hierarchy.closure(chain)
    cl.count() shouldBe n.toLong * (n - 1) / 2
    cl.agg(org.apache.spark.sql.functions.max($"depth")).head().getInt(0) shouldBe n - 1
    // spot-check: depth between two nodes is their distance
    cl.where($"ancestor" === 0 && $"descendant" === 300)
      .head().getInt(2) shouldBe 300
  }

  test("capped list materialization: bounded list, exact count, sorted prefix") {
    // a wide star (root 0 over 500 children) THROUGH a deep chain
    // (500 -> 501 -> ... -> 540): the root's descendant set far
    // exceeds the cap; every list must hold the cap smallest ids in
    // order while counts stay exact
    val wide = (1L to 500L).map(c => (c, 0L))
    val chain = (500L until 540L).map(i => (i + 1, i))
    val cl = Hierarchy.closure((wide ++ chain).toDF("child", "parent"))
    val capped = Hierarchy.cappedCsvList(cl, "ancestor", "descendant", cap = 64)
      .where($"node" === 0L).head()
    val trueDesc = cl.where($"ancestor" === 0L).count()
    trueDesc shouldBe 540L // all wide children + the chain tail
    capped.getAs[Long]("n") shouldBe trueDesc // count exact past the cap
    val list = capped.getAs[String]("list").split(",").map(_.toLong)
    list.length shouldBe 64 // bounded by the cap, not the component
    list.toSeq shouldBe (1L to 64L) // the cap smallest, ascending
    // default cap leaves test-scale lists untouched (q49's oracle shape)
    val full = Hierarchy.cappedCsvList(cl, "ancestor", "descendant")
      .where($"node" === 0L).head()
    full.getAs[String]("list").split(",").length shouldBe 540
  }

  test("closure terminates on cyclic input with correct min depths incl. self-pairs") {
    // bug graphs should be DAGs, but the engine must not hang on a
    // malformed one: 3-cycle 1→2→3→1 plus a tail 3→4
    val cyclic = Seq((2L, 1L), (3L, 2L), (1L, 3L), (4L, 3L))
      .toDF("child", "parent")
    val cl = Hierarchy.closure(cyclic).as[(Long, Long, Int)].collect().toSet
    cl shouldBe Set(
      (1L, 2L, 1), (2L, 3L, 1), (3L, 1L, 1), // the cycle's arcs
      (1L, 3L, 2), (2L, 1L, 2), (3L, 2L, 2), // the long ways round
      (1L, 1L, 3), (2L, 2L, 3), (3L, 3L, 3), // self-reachability = cycle length
      (3L, 4L, 1), (2L, 4L, 2), (1L, 4L, 3)) // the tail
  }

  test("incremental closure terminates when a new edge closes a cycle") {
    val chain = Seq((2L, 1L), (3L, 2L)).toDF("child", "parent")
    val loopEdge = Seq((1L, 3L)).toDF("child", "parent")
    val inc = Hierarchy.incrementalClosure(Hierarchy.closure(chain), loopEdge)
      .as[(Long, Long, Int)].collect().toSet
    val full = Hierarchy.closure(chain.union(loopEdge))
      .as[(Long, Long, Int)].collect().toSet
    inc shouldBe full
  }

  test("subtree rollup sums each node's full subtree, self included") {
    // measure = node id, so wrong membership shows up in the sum
    val fact = Seq(1L, 2L, 10L, 11L, 12L, 13L, 20L, 30L, 31L)
      .toDF("node").withColumn("m", $"node")
    val out = Hierarchy.subtreeRollup(edges, fact)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out(1L) shouldBe ((5L, 1L + 10 + 11 + 12 + 13))   // whole diamond once
    out(12L) shouldBe ((2L, 12L + 13))
    out(13L) shouldBe ((1L, 13L))                     // leaf = itself
    out(2L) shouldBe ((2L, 2L + 20))
    out(30L) shouldBe ((2L, 30L + 31))
    out.keySet should contain theSameElementsAs fact.select("node").as[Long].collect()
  }

  test("subtree rollup does not double-count when input has a cycle") {
    val cyc = Seq((2L, 1L), (3L, 2L), (1L, 3L)).toDF("child", "parent")
    val fact = Seq(1L, 2L, 3L).toDF("node").withColumn("m", $"node")
    val out = Hierarchy.subtreeRollup(cyc, fact)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // every node reaches the whole 3-cycle exactly once (self filtered
    // from the closure, added back exactly once via the depth-0 row)
    Seq(1L, 2L, 3L).foreach { n => out(n) shouldBe ((3L, 6L)) }
  }

  test("pageRank matches the hand-iterated recurrence on a tiny graph") {
    // 2 -> 1, 3 -> 1, 3 -> 2; N = 3, outdeg(2) = 1, outdeg(3) = 2
    // r0 = 1/3 each
    // iter1: mass(1) = 1/3 + 1/6 = 1/2; mass(2) = 1/6; mass(3) = 0
    //   pr1 = (0.475, 0.05 + 0.85/6, 0.05)
    // iter2: mass(1) = pr1(2) + pr1(3)/2; mass(2) = pr1(3)/2
    val e = Seq((2L, 1L), (3L, 1L), (3L, 2L)).toDF("child", "parent")
    val pr = Hierarchy.pageRank(e, iters = 2)
      .as[(Long, Double)].collect().toMap
    val pr1_2 = 0.05 + 0.85 / 6.0
    pr(1L) shouldBe (0.05 + 0.85 * (pr1_2 + 0.025)) +- 1e-12
    pr(2L) shouldBe (0.05 + 0.85 * 0.025) +- 1e-12
    pr(3L) shouldBe 0.05 +- 1e-12
  }

  test("pageRank: teleport floor holds, dangling mass only shrinks the total") {
    val pr = Hierarchy.pageRank(edges, iters = 3)
      .as[(Long, Double)].collect().toMap
    val n = pr.size
    // every node keeps at least the teleport share
    pr.values.foreach(_ should be >= (0.15 / n) - 1e-12)
    // dangling roots drop their mass: total can only shrink from 1
    pr.values.sum should be <= 1.0 + 1e-9
    // a root fed by a whole subtree outranks the leaf feeding it
    pr(1L) should be > pr(13L)
  }

  test("pageRank checkpoint cadence never changes values; a 25-iteration run stays flat") {
    // the gate's k=3 under a forced every-round checkpoint must equal
    // the lazy default exactly — localCheckpoint materializes computed
    // doubles, it cannot perturb them
    val lazy3 = Hierarchy.pageRank(edges, iters = 3)
      .as[(Long, Double)].collect().toMap
    val ck3 = Hierarchy.pageRank(edges, iters = 3, checkpointEvery = 1)
      .as[(Long, Double)].collect().toMap
    ck3.keySet shouldBe lazy3.keySet
    ck3.foreach { case (n, v) => v shouldBe lazy3(n) +- 1e-15 }
    // a real convergence-depth run: 25 rounds complete (the default
    // cadence checkpoints every 5, so plan depth stays ≤ 5 rounds deep
    // instead of 25 nested join/agg layers) and the vector is sane
    val deep = Hierarchy.pageRank(edges, iters = 25)
      .as[(Long, Double)].collect().toMap
    deep.size shouldBe lazy3.size
    val n = deep.size
    deep.values.foreach { v =>
      v.isNaN shouldBe false
      v should be >= (0.15 / n) - 1e-12
    }
    deep.values.sum should be <= 1.0 + 1e-9
    // 25 damped rounds ≈ converged: one more round moves nothing
    val deep26 = Hierarchy.pageRank(edges, iters = 26)
      .as[(Long, Double)].collect().toMap
    deep.foreach { case (k, v) => v shouldBe deep26(k) +- 1e-9 }
  }

  test("percent-of-parent: every edge's subtree share, diamond children report one share per parent") {
    val fact = Seq(1L, 2L, 10L, 11L, 12L, 13L, 20L, 30L, 31L)
      .toDF("node").withColumn("m", $"node")
    val out = Hierarchy.pctOfParent(Hierarchy.closure(edges), fact, edges)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // subtree totals: 1→47, 10→35, 11→36, 12→25, 13→13, 2→22, 30→61
    out((10L, 1L)) shouldBe ((35L, 47L, 744681L))
    out((11L, 1L)) shouldBe ((36L, 47L, 765957L))
    out((12L, 10L)) shouldBe ((25L, 35L, 714286L)) // diamond: one share
    out((12L, 11L)) shouldBe ((25L, 36L, 694444L)) // per parent
    out((13L, 12L)) shouldBe ((13L, 25L, 520000L))
    out((20L, 2L)) shouldBe ((20L, 22L, 909091L))
    out((31L, 30L)) shouldBe ((31L, 61L, 508197L))
    out.size shouldBe edges.count()
  }

  test("closure on testdata edges matches depth bound and has no self-pairs") {
    val cl = Hierarchy.closure(Hierarchy.edges(spark, sfDir))
    cl.where($"ancestor" === $"descendant").count() shouldBe 0L
    // binary-tree depth bound: ceil(log2(max key)) for sf0.001 part keys
    val maxDepth = cl.agg(org.apache.spark.sql.functions.max($"depth"))
      .head().getInt(0)
    maxDepth should be <= 12
    maxDepth should be >= 5
  }
}
