package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** A span: one op, one phase of an op, or one layer probe. Times are
  * epoch milliseconds; `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double])

/** One Spark job as the listener saw it, attributed to the job group the
  * benchmark set around its own call (null when none was set).
  */
final class JobRec(val jobId: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var resultBytes = 0L
}

/** The traced run's recorder. It listens to Spark from outside the
  * program and keeps every span and job in memory until the run ends.
  * Jobs are attributed by the job group the benchmark sets before each
  * op; jobs without a group fall back to the op whose window holds them
  * (the reporter does that).
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private var nextId = 0

  sc.addSparkListener(this)

  def detach(): Unit = sc.removeSparkListener(this)

  /** Records a span around `body`; `parent` nests it. The job group names
    * the root span so that every job it starts is attributed to it.
    */
  def span[R](name: String, kind: String, parent: Int = -1)(
      body: Int => R): R = {
    val id = synchronized { nextId += 1; nextId }
    if (parent < 0) sc.setJobGroup(s"perfbench-$id", name)
    val start = now()
    try body(id)
    finally {
      val end = now()
      if (parent < 0) sc.clearJobGroup()
      synchronized {
        spans += Span(id, parent, name, kind, start, end,
          attrs.remove(id).getOrElse(Map.empty))
      }
    }
  }

  private val attrs =
    scala.collection.mutable.HashMap.empty[Int, Map[String, Double]]

  /** Attaches a count or size to an open span. */
  def attr(id: Int, key: String, value: Double): Unit = synchronized {
    attrs(id) = attrs.getOrElse(id, Map.empty[String, Double]) + (key -> value)
  }

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobRec(e.jobId, g, e.time)
    j.stages = e.stageIds.size
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.resultBytes += m.resultSize
        }
      }
    }
}

/** Plan census of a query's final physical plan, read from outside
  * through `queryExecution`; adaptive query stages are walked too.
  */
object PlanCensus extends AdaptiveSparkPlanHelper {
  def apply(df: org.apache.spark.sql.Dataset[_]): (Int, Int) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    val broadcasts = collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }
    (shuffles.size, broadcasts.size)
  }
}
