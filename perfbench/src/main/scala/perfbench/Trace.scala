package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters for the traced run, from listeners this harness
  * registers on the session: scheduler events (jobs, stages, task
  * metrics), finished query executions (Catalyst phase times) and
  * streaming progress. Records are kept in memory and rendered once the
  * run ends.
  *
  * Attribution: the harness sets the local property [[OpKey]] (and the
  * job group) to the operation's name and [[PhaseKey]] to
  * "construct"/"sink" on the calling thread. Local properties are
  * inherited by threads created later — `graft.Par.run`'s pool threads and
  * a streaming query's execution thread — so every job carries its op.
  * A streaming query overrides the job GROUP with its run id, which is why
  * attribution reads the custom property rather than the group. Query
  * executions and streaming progress carry no properties; they are
  * attributed by time, which is exact in a closed loop with one client. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobById = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val stageOwner = mutable.Map.empty[Int, (String, String, Int)]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val taskSums = mutable.Map.empty[Int, Array[Double]]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
    val j = mutable.Map[String, Any]("job" -> e.jobId, "op" -> op,
      "phase" -> phase, "start_ms" -> e.time, "end_ms" -> e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (op, phase, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = taskSums.getOrElseUpdate(e.stageId, new Array[Double](TaskFields.size))
      val sr = m.shuffleReadMetrics
      val read = m.inputMetrics.recordsRead + sr.recordsRead
      val written = m.outputMetrics.recordsWritten +
        m.shuffleWriteMetrics.recordsWritten
      val vals = Array[Double](1, if (read == 0 && written == 0) 1 else 0,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.inputMetrics.bytesRead, sr.remoteBytesRead + sr.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      var i = 0
      while (i < vals.length) { a(i) += vals(i); i += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (op, phase, job) = stageOwner.getOrElse(info.stageId, ("", "", -1))
    val sums = taskSums.getOrElse(info.stageId, new Array[Double](TaskFields.size))
    stages += (Map[String, Any]("stage" -> info.stageId, "job" -> job,
      "op" -> op, "phase" -> phase,
      "start_ms" -> info.submissionTime.getOrElse(0L),
      "end_ms" -> info.completionTime.getOrElse(0L)) ++ TaskFields.zip(sums))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(funcName, qe, ok = false)

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    synchronized {
      executions += Map("func" -> funcName, "ok" -> ok, "start_ms" -> start,
        "analysis_ms" -> ms(QueryPlanningTracker.ANALYSIS),
        "optimizer_ms" -> ms(QueryPlanningTracker.OPTIMIZATION),
        "planning_ms" -> ms(QueryPlanningTracker.PLANNING))
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      Trace.this.synchronized {
        progress += Map("start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "planning_ms" -> d.getOrElse("queryPlanning", 0L),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Detaches and waits until every queued event has been delivered. */
  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def toMap: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.map(_.toMap).toList, "stages" -> stages.toList,
      "executions" -> executions.toList, "progress" -> progress.toList)
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  val TaskFields: Seq[String] = Seq("tasks", "empty_tasks", "run_s", "cpu_s",
    "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "output_bytes", "output_rows")

  /** Blocks until the listener bus has delivered every event posted so far
    * (task and job ends arrive asynchronously after an action returns). */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
}
