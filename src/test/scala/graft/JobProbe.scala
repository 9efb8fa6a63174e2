package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{EmptyRelationExec, QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** What `f` started: its Spark jobs, the call-site `details` of its
  * SQL executions, the rows each checkpoint (`localCheckpoint`)
  * materialized, read from the executed plan's row metrics, and the
  * shuffle records its tasks wrote, read from their task metrics. A
  * marked sentinel job runs after `f`; listener events arrive in
  * order, so once the sentinel is seen every job and task of `f` has
  * been counted.
  */
private[graft] object JobProbe {
  final case class Run[T](value: T, jobs: Int, details: Seq[String],
      checkpointRows: Seq[Long], shuffleRecords: Long)

  private val Mark = "graft.test.sentinel"

  def apply[T](spark: SparkSession)(f: => T): Run[T] = {
    val sc = spark.sparkContext
    val mark = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger(0)
    val shuffled = new AtomicLong(0L)
    val details = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Mark) == mark)) done = true
        else { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => details.add(x.details); ()
        case _ => ()
      }
    }
    val rows = new ConcurrentLinkedQueue[java.lang.Long]()
    val q = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        if (func == "localCheckpoint") { rows.add(outputRows(qe.executedPlan)); () }
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(l)
    spark.listenerManager.register(q)
    try {
      val v = f
      sc.setLocalProperty(Mark, mark)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Mark, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(done, "sentinel job never reached the listener")
      Run(v, jobs.get(), details.asScala.toSeq, rows.asScala.toSeq.map(_.longValue), shuffled.get())
    } finally {
      sc.removeSparkListener(l)
      spark.listenerManager.unregister(q)
    }
  }

  /** Rows a plan produced: the nearest row metric down its
    * row-preserving spine (projections, exchanges, stage wrappers),
    * summed over a union's branches; an emptied relation has none.
    */
  private def outputRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(p match {
      case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
      case s: QueryStageExec => outputRows(s.plan)
      case u: UnionExec => u.children.map(outputRows).sum
      case _: EmptyRelationExec => 0L
      case _ if p.children.size == 1 => outputRows(p.children.head)
      case _ => sys.error(s"no row metric on ${p.nodeName}")
    })

  private val GraftFrame = """(?:^|[\s/])graft\.([\w.]+?)(?:\$[\w$]*)?\.[\w$<>]+\(""".r

  /** The first `graft.` frame of a call site, as `operators.Hierarchy`
    * or `util.package` (the object path, frames' method names dropped).
    */
  def firstGraftFrame(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator)
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1))).nextOption()
}
