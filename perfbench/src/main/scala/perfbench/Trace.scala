package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Everything the traced run records, from outside the program: Spark's
  * own listener events, the final plans' SQL metrics, and the spans the
  * harness opens around each public call.
  *
  * Attribution: a stage belongs to the span whose job group submitted
  * its job, and to the module of its job's SQL execution, which is the
  * first `graft.` frame of that execution's call site, or `harness` when
  * the harness's own action on a built plan started it. `StageInfo.name`
  * is not used: under AQE most stages are named after
  * `CompletableFuture`. A stage of a job outside any SQL execution (a
  * plain RDD job such as a parallel file listing) takes the first graft
  * frame of its own call site (`StageInfo.details`); without one it is
  * `unattributed`.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val stages = mutable.ArrayBuffer.empty[Stage]
  val spans = mutable.ArrayBuffer.empty[Span]
  val plans = mutable.ArrayBuffer.empty[(Int, Seq[PlanNode])] // (span id, nodes)
  private val jobExec = mutable.Map.empty[Int, Long]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execModule = mutable.Map.empty[Long, String]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val pendingPlans = mutable.ArrayBuffer.empty[Seq[PlanNode]]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      Option(e.properties).foreach { p =>
        Option(p.getProperty("spark.sql.execution.id")).foreach(x => jobExec(e.jobId) = x.toLong)
        Option(p.getProperty("spark.jobGroup.id")).foreach(g => jobGroup(e.jobId) = g)
      }
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val job = stageJob.getOrElse(i.stageId, -1)
      val exec = jobExec.get(job)
      stages += Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        jobGroup.getOrElse(job, ""),
        exec.flatMap(x => execModule.get(x).orElse(execRoot.get(x).flatMap(execModule.get)))
          .orElse(moduleOf(i.details)) // an RDD job (e.g. a file listing): its own call site
          .getOrElse(Unattributed),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        taskMs.remove((i.stageId, i.attemptNumber())).map(_.toArray).getOrElse(Array.empty))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execModule(x.executionId) = moduleOf(x.details).getOrElse(
          if (x.details != null && x.details.contains("perfbench.")) HarnessModule else Unattributed)
        x.rootExecutionId.foreach(r => execRoot(x.executionId) = r)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = planNodes(qe.executedPlan)
      Trace.this.synchronized(pendingPlans += nodes)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `f` as one span: its jobs carry the span's job group, and the
    * plans that finish inside it are filed under it.
    */
  def span[T](name: String)(f: => T): T = {
    val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(-1), System.currentTimeMillis())
    nextId += 1
    open.push(s)
    val sc = spark.sparkContext
    sc.setJobGroup(groupOf(s.id), name)
    try f
    finally {
      org.apache.spark.perfbench.Bus.drain(sc)
      open.pop()
      s.end = System.currentTimeMillis()
      spans += s
      synchronized {
        pendingPlans.foreach(p => plans += (s.id -> p))
        pendingPlans.clear()
      }
      open.headOption match {
        case Some(outer) => sc.setJobGroup(groupOf(outer.id), outer.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Ids of `root` and of every span nested in it. */
  def subtree(root: Span): Set[Int] = {
    var ids = Set(root.id)
    var grew = true
    while (grew) {
      val more = spans.filter(s => ids(s.parent) && !ids(s.id)).map(_.id)
      grew = more.nonEmpty
      ids ++= more
    }
    ids
  }

  def stagesOf(ids: Set[Int]): Seq[Stage] = synchronized {
    val groups = ids.map(groupOf)
    stages.filter(st => groups(st.group)).toSeq
  }

  def plansOf(ids: Set[Int]): Seq[PlanNode] = plans.filter(p => ids(p._1)).flatMap(_._2).toSeq

  /** Jobs submitted inside the spans `ids`. */
  def jobsOfSpans(ids: Set[Int]): Int = synchronized {
    val groups = ids.map(groupOf)
    jobGroup.count { case (_, g) => groups(g) }
  }

  /** Jobs submitted inside the spans `ids` by one of `mods`. */
  def jobsOf(ids: Set[Int], mods: Set[String]): Int = synchronized {
    val groups = ids.map(groupOf)
    jobGroup.count { case (j, g) =>
      groups(g) && jobExec.get(j).flatMap(x => execModule.get(x).orElse(
        execRoot.get(x).flatMap(execModule.get))).exists(mods)
    }
  }
}

object Trace {
  val Unattributed = "unattributed"
  /** Executions the harness starts itself, e.g. a query's noop write. */
  val HarnessModule = "harness"

  final case class Stage(id: Int, start: Long, end: Long, group: String, module: String,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, taskMs: Array[Long])

  final case class Span(id: Int, name: String, parent: Int, start: Long) {
    var end: Long = start
  }

  /** One physical-plan node of a finished query, with its row count. */
  final case class PlanNode(name: String, desc: String, rows: Option[Long], childRows: Option[Long])

  def groupOf(id: Int): String = s"perfbench-$id"

  private val GraftFrame = """(?:^|[\s/])graft\.([\w.]+?)(?:\$[\w$]*)?\.[\w$<>]+\(""".r

  /** `operators.Hierarchy` for a call site whose first graft frame is
    * `graft.operators.Hierarchy$.closure(...)`.
    */
  def moduleOf(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator)
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1)))
      .map(normalize).nextOption()

  /** Keep the package path and the object name: `operators.Hierarchy`. */
  private def normalize(path: String): String = {
    val parts = path.split('.')
    val obj = parts.indexWhere(p => p.headOption.exists(_.isUpper))
    if (obj < 0) path else parts.take(obj + 1).mkString(".")
  }

  /** Every node of the executed plan, through AQE stages and command
    * wrappers, with `numOutputRows` where the node has it.
    */
  def planNodes(root: SparkPlan): Seq[PlanNode] = {
    val out = mutable.ArrayBuffer.empty[PlanNode]
    def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    def below(p: SparkPlan): Option[Long] =
      children(p).iterator.map(c => rows(c).orElse(below(c))).collectFirst { case Some(r) => r }
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.innerChildren.collect { case c: SparkPlan => c }
    }
    def walk(p: SparkPlan): Unit = {
      out += PlanNode(p.nodeName, p.simpleString(200), rows(p), below(p))
      children(p).foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
