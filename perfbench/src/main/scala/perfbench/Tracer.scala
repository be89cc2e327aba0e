package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds (fractional for
  * the harness's own marks, whole for Spark's event times). */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      query: String, pass: Int, start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty)

/** Stage totals summed from Spark's per-stage task metrics. */
final case class StageStat(stageId: Int, start: Double, end: Double,
                           tasks: Int, runS: Double, cpuS: Double,
                           inBytes: Long, inRows: Long, outBytes: Long,
                           shWrite: Long, shRead: Long, spill: Long)

/** `callSite` is the short call site Spark names the job's first stage
  * after, e.g. `parquet at Tables.scala:17`. */
final case class JobStat(jobId: Int, desc: String, callSite: String,
                         start: Double, var end: Double, stageIds: Seq[Int])

/** Planning record of one finished Catalyst query: the three phases of
  * its QueryPlanningTracker and the Exchange nodes of its final plan. */
final case class PlanStat(phases: Map[String, (Double, Double)],
                          exchanges: Int) {
  /** Whether planning ended within [start, end], with a millisecond of
    * slack for Spark's whole-millisecond times. The sink's own query is
    * the one planned while the sink ran. */
  def plannedWithin(start: Double, end: Double): Boolean =
    phases.get("planning").exists { case (_, e) => e >= start - 1 && e <= end + 1 }
}

/** Spark's public listeners, registered from outside the engine. The
  * harness tags every job it causes with the description
  * `bench:<query>:<phase>`, so each job is attributed to the query and
  * phase that launched it. Events arrive on the listener-bus thread; all
  * state is guarded by this object's lock. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stages = mutable.LinkedHashMap.empty[Int, StageStat]
  private val plans = mutable.ArrayBuffer.empty[PlanStat]

  private def sc: SparkContext = spark.sparkContext

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits (bounded) until every started job has ended and a Catalyst
    * query whose planning ended inside each of `sinks` (start, end) has
    * reported, then detaches. */
  def detach(sinks: Seq[(Double, Double)]): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def settled = synchronized {
      jobs.values.forall(_.end > 0) &&
        sinks.forall { case (s, e) => plans.exists(_.plannedWithin(s, e)) }
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  /** Removes and returns everything recorded so far. */
  def drain(): (Seq[JobStat], Map[Int, StageStat], Seq[PlanStat]) =
    synchronized {
      val out = (jobs.values.toSeq, stages.toMap, plans.toSeq)
      jobs.clear(); stages.clear(); plans.clear()
      out
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = JobStat(e.jobId, desc, site, e.time.toDouble, 0, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val st =
      if (m == null) StageStat(i.stageId, 0, 0, i.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
      else StageStat(i.stageId,
        i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble, i.numTasks,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled)
    synchronized { stages(i.stageId) = st }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      (k, (v.startTimeMs.toDouble, v.endTimeMs.toDouble)) }
    val ex = try countExchanges(qe.executedPlan) catch { case _: Throwable => 0 }
    synchronized { plans += PlanStat(phases, ex) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  private def countExchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: Exchange => e }.size
}
