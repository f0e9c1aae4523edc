package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a query's time goes, per run: its jobs, its stages' shuffle and
  * spill, the executor task time, the driver gap between jobs, and the
  * Exchange/ReusedExchange counts of its AQE-final plans. One listener on
  * the session's listener bus; [[record]] opens a window around one run
  * and drains the bus before reading it, so no late task-end event is
  * lost. Outside a window events are ignored. */
final class QueryProfile private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import QueryProfile._

  private final class StageSums {
    var shuffleWrite, shuffleRead, spill, taskMs = 0L
  }

  private var open = false
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageSums = mutable.LinkedHashMap.empty[Int, StageSums]
  private val stageInfo = mutable.Map.empty[Int, (String, Int)]
  private val stagePhase = mutable.Map.empty[Int, String]
  private var exchanges, reusedExchanges = 0
  private var plan: Option[SparkPlan] = None

  /** Executed plan of the last SQL execution in the last recorded run. */
  def finalPlan: Option[SparkPlan] = synchronized(plan)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open) {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty(DescriptionKey))).getOrElse("")
      jobStarts(e.jobId) = (e.time, desc)
      // a stage shared by several jobs belongs to the first that ran it
      e.stageIds.foreach(id => stagePhase.getOrElseUpdate(id, desc))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, desc) =>
      jobs += Job(e.jobId, t0, e.time, desc)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (open) stageInfo(e.stageInfo.stageId) = (e.stageInfo.name, e.stageInfo.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (open && m != null) {
      val s = stageSums.getOrElseUpdate(e.stageId, new StageSums)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskMs += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (open) {
        val (ex, reused) = exchangeCounts(qe.executedPlan)
        exchanges += ex
        reusedExchanges += reused
        plan = Some(qe.executedPlan)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Run `body` and profile it. Its wall is timed on its own; the bus is
    * drained before the window opens and before it is read. */
  def record(body: => Unit): Run = {
    GraftShims.drainListenerBus(spark)
    synchronized {
      open = true
      jobStarts.clear(); jobs.clear(); stageSums.clear(); stageInfo.clear(); stagePhase.clear()
      exchanges = 0; reusedExchanges = 0; plan = None
    }
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => synchronized { open = false }; throw e }
    val wallS = (System.nanoTime() - t0) / 1e9
    val to = System.currentTimeMillis()
    GraftShims.drainListenerBus(spark)
    synchronized {
      open = false
      val stages = stageSums.toSeq.map { case (id, s) =>
        val (name, tasks) = stageInfo.getOrElse(id, ("", 0))
        Stage(id, name, stagePhase.getOrElse(id, ""), tasks, s.shuffleWrite,
          s.shuffleRead, s.spill, s.taskMs)
      }
      val js = jobs.toSeq.sortBy(_.startMs)
      Run(wallS, from, js, stages, exchanges, reusedExchanges,
        driverGapS(from, to, js.map(j => (j.startMs, j.endMs))))
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object QueryProfile {
  final case class Job(id: Int, startMs: Long, endMs: Long, description: String)

  /** `phase` is the description of the job that ran the stage (the
    * [[withPhase]] label its operator set), "" when there was none. */
  final case class Stage(id: Int, name: String, phase: String, tasks: Int,
                         shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         spillBytes: Long, taskMs: Long)

  final case class Run(wallS: Double, startMs: Long, jobs: Seq[Job], stages: Seq[Stage],
                       exchanges: Int, reusedExchanges: Int, driverGapS: Double) {
    def shuffleBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum
    def taskS: Double = stages.map(_.taskMs).sum / 1e3
    def worstSpill: Option[Stage] = stages.filter(_.spillBytes > 0).maxByOption(_.spillBytes)
  }

  val Failed: Run = Run(-1.0, 0L, Nil, Nil, 0, 0, 0.0)

  private val DescriptionKey = "spark.job.description"

  /** Run `body` with every Spark job it starts described as `label`, then
    * restore the thread's previous description. AQE submits query stages
    * from its own threads, but they capture the submitting thread's local
    * properties, so stage jobs carry the label too. Nested phases restore
    * the enclosing label on exit. */
  def withPhase[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, label)
    try body
    finally sc.setLocalProperty(DescriptionKey, previous)
  }

  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Seconds of `[from, to]` (epoch ms) that no job interval covers: the
    * driver's own time between and around the jobs. */
  def driverGapS(from: Long, to: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = from
    for ((s, e) <- jobs.sortBy(_._1)) {
      val lo = math.max(s, reach)
      val hi = math.min(e, to)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, to - from - covered) / 1e3
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Exchange and ReusedExchange nodes of an executed plan, through AQE
    * query stages and subqueries. */
  private def exchangeCounts(plan: SparkPlan): (Int, Int) = {
    val nodes = Plans.collectWithSubqueries(plan) {
      case _: Exchange => true
      case _: ReusedExchangeExec => false
    }
    (nodes.count(identity), nodes.count(!_))
  }
}
