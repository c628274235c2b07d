package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one listener accumulates; `minus` turns two snapshots into
  * the activity between them. */
case class Counters(
    jobs: Long = 0, tasks: Long = 0, taskRunMs: Long = 0,
    shuffleWriteB: Long = 0, fetchWaitMs: Long = 0, spillB: Long = 0,
    inputB: Long = 0, inputRecords: Long = 0, planMs: Long = 0,
    sinkFiles: Long = 0, sinkB: Long = 0, batches: Long = 0, batchMs: Long = 0) {
  private def zip(o: Counters, f: (Long, Long) => Long): Counters = Counters(
    f(jobs, o.jobs), f(tasks, o.tasks), f(taskRunMs, o.taskRunMs),
    f(shuffleWriteB, o.shuffleWriteB), f(fetchWaitMs, o.fetchWaitMs), f(spillB, o.spillB),
    f(inputB, o.inputB), f(inputRecords, o.inputRecords), f(planMs, o.planMs),
    f(sinkFiles, o.sinkFiles), f(sinkB, o.sinkB), f(batches, o.batches), f(batchMs, o.batchMs))
  def +(o: Counters): Counters = zip(o, _ + _)
  def minus(o: Counters): Counters = zip(o, _ - _)
}

/** Spark's public listeners, attributing every event to the job group
  * of the operation that caused it (and to a process-wide total). Jobs
  * that streaming queries run on their own threads count only in the
  * total. Read counters only after [[Probe.settle]]: the bus is
  * asynchronous. */
class Probe(spark: SparkSession) extends SparkListener {
  private val Total = "*"
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def add(group: String, c: Counters): Unit = {
    byGroup.merge(Total, c, _ + _)
    if (group != null && group != Total) byGroup.merge(group, c, _ + _)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    e.stageIds.foreach(s => if (g != null) stageGroup.put(s, g))
    add(g, Counters(jobs = 1))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) add(stageGroup.get(e.stageId), Counters(
      tasks = 1, taskRunMs = m.executorRunTime,
      shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spillB = m.diskBytesSpilled,
      inputB = m.inputMetrics.bytesRead, inputRecords = m.inputMetrics.recordsRead))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // streaming progress reaches the bus from every session, including
    // the clones the catalog runs its streaming queries in
    case p: StreamingQueryListener.QueryProgressEvent =>
      val d = Option(p.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      add(Total, Counters(batches = 1, batchMs = d))
    case _ =>
  }

  /** Catalyst phase time and file-sink output of every finished action
    * in the benchmark's session (process-wide totals only). */
  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val writes = fileWrites(qe.executedPlan)
      def metric(n: String) = writes.flatMap(_.metrics.get(n)).map(_.value).sum
      add(Total, Counters(planMs = planMs,
        sinkFiles = metric("numFiles"), sinkB = metric("numOutputBytes")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def fileWrites(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => fileWrites(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => fileWrites(a.executedPlan)
    case q: QueryStageExec => fileWrites(q.plan)
    case other => other.children.flatMap(fileWrites)
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(sqlListener)
    this
  }

  /** Detach again, so untraced passes run without these listeners. */
  def uninstall(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(sqlListener)
  }

  def settle(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  def total: Counters = byGroup.getOrDefault(Total, Counters())
  def group(g: String): Counters = byGroup.getOrDefault(g, Counters())
}
