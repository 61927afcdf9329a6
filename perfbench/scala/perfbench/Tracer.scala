package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in trace of one benchmark process. Job and stage spans come
  * from a SparkListener; each job carries the benchmark span that was
  * active when it was submitted (a local property, inherited by AQE and
  * broadcast jobs of the same SQL execution). Executed plans come from a
  * QueryExecutionListener. Everything stays in memory until [[toJson]].
  * The attribution of jobs to modules is made by the caller from the
  * recorded call sites.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val start: Long, val span: String, val execId: String,
      val stages: Seq[Int], val stageDetails: String) { var end = -1L; var ok = true }
  private final class Stage(val id: Int) {
    var submitted = -1L; var completed = -1L; var tasks = 0; var tasksFailed = 0
    var taskS = 0.0; var schedDelayS = 0.0; var gcS = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L; var output = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val execDetails = mutable.HashMap[String, String]()
  private val plans = mutable.ArrayBuffer[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).orNull
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).orNull
    jobs(e.jobId) = new Job(e.jobId, e.time, prop(Tracer.SpanKey), prop("spark.sql.execution.id"),
      e.stageIds, details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
      .submitted = e.stageInfo.submissionTime.getOrElse(-1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
    s.completed = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    s.tasks += 1
    if (!e.taskInfo.successful) s.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskS += m.executorRunTime / 1e3
      s.gcS += m.jvmGCTime / 1e3
      // the standard scheduler-delay decomposition of a task's duration
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      val gettingResult = if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L
      s.schedDelayS += math.max(0L, e.taskInfo.duration - busy - gettingResult) / 1e3
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execDetails(s.executionId.toString) = s.details }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planningMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val at = phases.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
    var files, bytes, exchanges, broadcasts, smj = 0L
    Tracer.nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        bytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      case _: ShuffleExchangeLike => exchanges += 1
      case _: BroadcastExchangeLike => broadcasts += 1
      case _: SortMergeJoinExec => smj += 1
      case _ =>
    }
    val rec = s"""{"at_ms":$at,"planning_s":${planningMs / 1e3},"scan_files":$files,""" +
      s""""scan_bytes":$bytes,"exchanges":$exchanges,"broadcasts":$broadcasts,"sort_merge_joins":$smj}"""
    synchronized { plans += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def toJson: String = synchronized {
    val js = jobs.values.map { j =>
      s"""{"id":${j.id},"start_ms":${j.start},"end_ms":${j.end},"ok":${j.ok},""" +
        s""""span":${Json.str(j.span)},"stages":[${j.stages.mkString(",")}],""" +
        s""""call_site":${Json.str(Option(j.execId).flatMap(execDetails.get).getOrElse(j.stageDetails))}}"""
    }
    val ss = stages.values.map { s =>
      s"""{"id":${s.id},"submitted_ms":${s.submitted},"completed_ms":${s.completed},""" +
        s""""tasks":${s.tasks},"tasks_failed":${s.tasksFailed},"task_s":${s.taskS},""" +
        s""""scheduler_delay_s":${s.schedDelayS},"gc_s":${s.gcS},"shuffle_read_bytes":${s.shuffleRead},""" +
        s""""shuffle_write_bytes":${s.shuffleWrite},"spill_bytes":${s.spill},""" +
        s""""input_bytes":${s.input},"output_bytes":${s.output}}"""
    }
    s"""{"jobs":[${js.mkString(",\n")}],"stages":[${ss.mkString(",\n")}],"plans":[${plans.mkString(",\n")}]}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Exception => Thread.sleep(1000) }
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Every physical operator of an executed plan, stepping through AQE
    * wrappers, query stages and subqueries; reused exchanges and
    * subqueries are not counted twice.
    */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => Iterator.empty
    case other => Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }
}
