package perfbench

import Harness.{Record, jsonString, median}
import Trace.{Stage, unionMs}

/** The per-layer numbers of a traced run. A layer is a set of graft
  * modules (attributed through each stage's SQL-execution call site) or
  * a set of harness spans (calls whose final action the harness itself
  * triggers, such as a query's noop write). Every metric is reported on
  * every workload; a layer the workload does not touch reads 0.
  *
  * Windows: module layers cover the last session's set-up and its
  * measured unit; the `spark.*` totals cover the measured unit only.
  */
object Layers {
  val modules: Map[String, Set[String]] = Map(
    "extract" -> Set("sources.ExtractBookmark"),
    "closure" -> Set("operators.Hierarchy"),
    "pipeline" -> Set("sources.EtlPipeline", "Main"),
    "sink" -> Set("sources.ParquetUpsertSink", "sources.ParquetStore",
      "sources.DocumentStore", "sources.ConditionalCommitIO"))

  private val MB = 1048576.0

  def fill(tr: Trace, r: Record, codegen0: (Long, Long), codegen1: (Long, Long)): Unit = {
    val L = r.layers
    val setup = tr.spans.find(_.name == "setup").toSeq
    val unit = tr.spans.find(_.name == "unit").toSeq
    val all = (setup ++ unit).flatMap(tr.subtree).toSet
    val inUnit = unit.flatMap(tr.subtree).toSet
    val st = tr.stagesOf(all)
    def secs(xs: Seq[Stage]) = unionMs(xs.map(s => (s.start, s.end))) / 1e3
    def named(prefix: String) = tr.spans.filter(_.name.startsWith(prefix)).flatMap(tr.subtree).toSet

    def of(layer: String) = st.filter(s => modules(layer)(s.module))
    for (layer <- Seq("extract", "closure", "pipeline", "sink")) L(s"$layer.self_s") = secs(of(layer))
    L("extract.rows") = num(r, "extract_rows")
    L("closure.jobs") = tr.jobsOf(all, modules("closure")).toDouble
    L("closure.stages") = of("closure").size
    L("closure.shuffle_mb") = of("closure").map(_.shuffleWrite).sum / MB
    L("pipeline.jobs") = tr.jobsOf(all, modules("pipeline")).toDouble
    val written = num(r, "sink_bytes_written")
    L("sink.bytes_written_mb") = written / MB
    L("sink.files_written") = num(r, "sink_files_written")
    L("sink.bytes_per_row") = if (num(r, "closure_rows_changed") > 0) written / num(r, "closure_rows_changed") else 0
    L("sink.live_mb") = num(r, "sink_live_bytes") / MB
    L("sink.live_rows") = num(r, "sink_live_rows")

    // query endpoint: builder calls, planning, codegen
    val builds = tr.spans.filter(_.name.startsWith("build:"))
    L("build.ms") = builds.map(s => s.end - s.start).sum.toDouble
    L("build.jobs") = tr.jobsOfSpans(builds.map(_.id).toSet).toDouble
    L("plan.ms") = tr.spans.filter(_.name.startsWith("plan:")).map(s => s.end - s.start).sum.toDouble
    L("codegen.compiles") = (codegen1._1 - codegen0._1).toDouble
    L("codegen.compile_ms") = (codegen1._2 - codegen0._2) / 1e6

    // stored-artifact builds (the q105 centroids on corpus_prep; the
    // seventeen set-up builds on query_mix)
    L("artifacts.build_s") =
      tr.spans.filter(_.name.startsWith("artifact:")).map(s => s.end - s.start).sum / 1e3

    // Spark execution over the measured unit
    val us = tr.stagesOf(inUnit)
    val unitMs = unit.map(s => s.end - s.start).sum
    L("spark.jobs") = tr.jobsOfSpans(inUnit).toDouble
    L("spark.stages") = us.size
    L("spark.tasks") = us.map(_.taskMs.length).sum
    L("spark.executor_run_s") = us.map(_.runMs).sum / 1e3
    L("spark.cpu_s") = us.map(_.cpuNs).sum / 1e9
    L("spark.gc_s") = us.map(_.gcMs).sum / 1e3
    L("spark.shuffle_read_mb") = us.map(_.shuffleRead).sum / MB
    L("spark.shuffle_write_mb") = us.map(_.shuffleWrite).sum / MB
    L("spark.spill_mb") = us.map(_.spill).sum / MB
    // worst max/median task time over stages that did real work
    val skews = us.filter(s => s.taskMs.length >= 2 && s.runMs >= 100)
      .map(s => s.taskMs.max / math.max(1.0, median(s.taskMs.map(_.toDouble).toSeq)))
    L("spark.task_skew") = if (skews.isEmpty) 1.0 else skews.max
    L("spark.driver_only_s") = (unitMs - unionMs(us.map(s => (s.start, s.end)))) / 1e3

    // embedding audits (corpus_prep)
    L("ann.blocked_s") = secs(tr.stagesOf(named("q41_")))
    L("ann.cross_s") = secs(tr.stagesOf(named("q63_")))
    L("ann.semdedup_s") = secs(tr.stagesOf(named("q105_")))
    // q41/q63 score each pair inside the block join's condition, so the
    // join's own output is already the answer; what the plan shows of
    // the work is the block-replicated rows the join is built from
    val pairPlans = tr.plansOf(named("q41_") ++ named("q63_"))
    val pairsOut = pairPlans.filter(_.name.contains("InsertIntoHadoopFsRelation")).flatMap(_.rows).sum
    L("ann.expand_rows") = pairPlans.filter(_.name == "Generate").flatMap(_.rows).sum
    L("ann.pairs_out") = pairsOut
    L("ann.pair_yield") =
      if (num(r, "ann_pairs_scored") > 0) pairsOut / num(r, "ann_pairs_scored") else 0

    // corpus preparation: the span of the prepare call
    val prep = named("prepare")
    L("prep.self_s") = secs(tr.stagesOf(prep))
    L("prep.shuffle_mb") = tr.stagesOf(prep).map(_.shuffleWrite).sum / MB
    // the MinHash verify step: the join whose condition is the Jaccard test
    val jac = tr.plansOf(prep).filter(p => p.name.contains("Join") && p.desc.contains("array_intersect"))
    L("prep.dedup_candidates") = jac.flatMap(_.childRows).sum
    L("prep.dedup_pairs") = jac.flatMap(_.rows).sum

    // attribution coverage: share of stage time with a named module
    val total = st.map(s => s.end - s.start).sum
    val named0 = st.filter(_.module != Trace.Unattributed).map(s => s.end - s.start).sum
    L("trace.attributed_frac") = if (total > 0) named0.toDouble / total else 1.0
    r.info("module_stage_s") = st.groupBy(_.module).map { case (m, xs) => m -> secs(xs) }
  }

  private def num(r: Record, k: String): Double = r.info.get(k).map(_.toString.toDouble).getOrElse(0.0)

  /** The trace as written at the end of a run: every span, and the
    * plan nodes with a row count that finished inside it.
    */
  def spansJson(tr: Trace): String = tr.spans.sortBy(_.id).map { s =>
    val nodes = tr.plans.filter(_._1 == s.id).flatMap(_._2).filter(_.rows.isDefined)
      .map(n => s"[${jsonString(n.name)},${n.rows.get},${jsonString(n.desc.take(160))}]").mkString("[", ",", "]")
    s"""{"id":${s.id},"name":${jsonString(s.name)},"parent":${s.parent},""" +
      s""""start_ms":${s.start},"end_ms":${s.end},"plan_rows":$nodes}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
