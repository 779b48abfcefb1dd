package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A Spark job as the traced run sees it: the benchmark span that was open
  * when it was submitted, its call-site file, and its tasks' totals.
  */
final class JobRec(val span: Long, val startMs: Long, val file: String) {
  var endMs = startMs
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** The traced run's listeners: a SparkListener for jobs, stages and tasks
  * (call-site attribution reads each job's call site), a
  * QueryExecutionListener for the Catalyst phases and a
  * StreamingQueryListener for micro-batch progress. They are attached only
  * for traced rounds, and the listener bus is drained before detaching so
  * no event of a traced round is lost.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** SQL execution id → call-site file of the action that started it. */
  private val execFiles = mutable.Map.empty[Long, String]
  var catalystMs = 0L
  var batches = 0L
  var triggerMs = 0L
  var addBatchMs = 0L
  var rowsIn = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // the call site rides in `callSite.short` when set explicitly;
    // otherwise Spark names the job's final stage after it. Adaptive query
    // stages run from a thread pool and name no Scala frame: they take the
    // call site of the SQL execution they belong to.
    val site = prop("callSite.short")
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    val file = Tracer.callSiteFile(site) match {
      case "other" => prop("spark.sql.execution.id")
        .flatMap(id => execFiles.get(id.toLong)).getOrElse("other")
      case f => f
    }
    jobs(e.jobId) = new JobRec(prop(Recorder.SpanProperty).map(_.toLong).getOrElse(0L),
      e.time, file)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execFiles(x.executionId) = Tracer.callSiteFile(x.description)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private val queries = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        catalystMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val d = e.progress.durationMs
        batches += 1
        triggerMs += Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        addBatchMs += Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)
        rowsIn += e.progress.numInputRows
      }
  }

  /** Run one round of the workload, traced when `traced` is set. */
  def round[T](rec: Recorder, traced: Boolean)(body: => T): T = {
    if (!traced) return body
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
    rec.tracing = true
    try body
    finally {
      rec.tracing = false
      ListenerBus.drain(spark.sparkContext)
      spark.streams.removeListener(streams)
      spark.listenerManager.unregister(queries)
      spark.sparkContext.removeSparkListener(this)
    }
  }
}

object Tracer {
  /** Run round `n`; a traced run traces the even rounds only, so the odd
    * ones measure the same code untraced and the difference is the
    * tracing overhead.
    */
  def round[T](tracer: Option[Tracer], rec: Recorder, n: Int)(body: => T): T =
    tracer.fold(body)(_.round(rec, traced = n % 2 == 0)(body))

  /** Whether the closed loop starts round `n`: until the deadline, and in
    * a traced run at least two rounds, so one of them runs untraced.
    */
  def more(tracer: Option[Tracer], n: Int, deadline: Long): Boolean =
    System.nanoTime() < deadline || (tracer.isDefined && n < 2)

  /** Source files of the benchmark itself; jobs they trigger directly
    * (a dashboard's collect) are reported under `bench`.
    */
  private val BenchFiles = Set("Main", "EltTicks", "Backfill", "LakeChurn")

  /** "count at Jobs.scala:58" → "Jobs"; no Scala frame → "other". */
  def callSiteFile(short: String): String = {
    val m = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.findFirstMatchIn(short)
    m.map(_.group(1)).map(f => if (BenchFiles(f)) "bench" else f).getOrElse("other")
  }
}
