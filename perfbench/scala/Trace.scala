package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder. Three listeners, all registered from outside the
  * engine through Spark's public listener APIs:
  *
  *  - a `SparkListener` for SQL executions, jobs, stages and task metrics;
  *  - a `QueryExecutionListener` for the planning phases
  *    (`qe.tracker.phases`) and the files each write command produced;
  *  - a `StreamingQueryListener` for per-trigger progress.
  *
  * Every record carries the index of the pipeline run that caused it
  * (the harness tags each run's jobs with `perfbench-run-<i>`); records
  * are kept in memory and written once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  /** Run index the single client is currently executing (-1 = none). */
  @volatile var current: Int = -1

  val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  val spans = mutable.ArrayBuffer.empty[Json.Obj]

  private val execRun = mutable.Map.empty[Long, Int]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val execStart = mutable.Map.empty[Long, (Long, String)]
  private val execByStart = mutable.TreeMap.empty[Long, Int]
  private val jobInfo = mutable.Map.empty[Int, (Int, Long, Long)] // run, exec, start
  private val stageJob = mutable.Map.empty[Int, (Int, Int)]       // run, job
  private val streamRun = mutable.Map.empty[java.util.UUID, Int]
  private var pendingJobs = 0
  private var pendingExecs = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def add(run: Int, key: String, v: Double): Unit =
    counters.getOrElseUpdate(run, mutable.Map.empty[String, Double])
      .updateWith(key)(o => Some(o.getOrElse(0.0) + v))

  private def add(run: Int, key: String, v: Long): Unit =
    add(run, key, v.toDouble)

  private def runOfTags(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toInt }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        touch()
        val run = runOfTags(s.jobTags).getOrElse(current)
        execRun(s.executionId) = run
        execRoot(s.executionId) = s.rootExecutionId.getOrElse(s.executionId)
        execStart(s.executionId) = (s.time, s.description)
        execByStart += s.time -> run
        pendingExecs += 1
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        touch()
        execStart.remove(s.executionId).foreach { case (start, desc) =>
          pendingExecs -= 1
          spans += Json.Obj("k" -> "sql", "run" -> execRun(s.executionId),
            "id" -> s.executionId, "root" -> execRoot(s.executionId),
            "start" -> start, "end" -> s.time, "desc" -> desc.take(80))
        }
      }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        touch()
        val props = Option(e.properties)
        val tags = props.flatMap(p => Option(p.getProperty(JobTagsKey)))
          .map(_.split(",").toSeq).getOrElse(Nil)
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        val run = runOfTags(tags).orElse(execRun.get(exec)).getOrElse(current)
        jobInfo(e.jobId) = (run, exec, e.time)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, (run, e.jobId)))
        pendingJobs += 1
        add(run, "exec.jobs", 1)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        touch()
        jobInfo.remove(e.jobId).foreach { case (run, exec, start) =>
          pendingJobs -= 1
          spans += Json.Obj("k" -> "job", "run" -> run, "id" -> e.jobId,
            "exec" -> exec, "start" -> start, "end" -> e.time,
            "ok" -> (e.jobResult == JobSucceeded))
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        touch()
        val si = e.stageInfo
        stageJob.get(si.stageId).foreach { case (run, job) =>
          add(run, "exec.stages", 1)
          spans += Json.Obj("k" -> "stage", "run" -> run, "id" -> si.stageId,
            "job" -> job, "start" -> si.submissionTime.getOrElse(0L),
            "end" -> si.completionTime.getOrElse(0L),
            "tasks" -> si.numTasks)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        touch()
        val run = stageJob.get(e.stageId).map(_._1).getOrElse(current)
        add(run, "exec.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          val sched = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
          add(run, "exec.scheduler_delay_s", sched / 1e3)
          add(run, "exec.deserialize_s", m.executorDeserializeTime / 1e3)
          add(run, "exec.executor_cpu_s",
            (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9)
          add(run, "exec.gc_s", m.jvmGCTime / 1e3)
          add(run, "exec.shuffle_read_bytes",
            m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
          add(run, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add(run, "exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          add(run, "io.bytes_read", m.inputMetrics.bytesRead)
          add(run, "io.records_read", m.inputMetrics.recordsRead)
          add(run, "io.bytes_written", m.outputMetrics.bytesWritten)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    // The callback carries no execution id, and arrives after the
    // execution's end event. Its optimization phase starts in the same
    // millisecond as the execution, so it belongs to the latest execution
    // started by then.
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      touch()
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val t = phases.get("optimization").map(_.startTimeMs)
          .getOrElse(phases.values.map(_.startTimeMs).min)
        val run = execByStart.rangeTo(t + 1).lastOption.map(_._2).getOrElse(current)
        phases.foreach { case (phase, ps) =>
          add(run, s"plan.${phase}_ms", ps.endTimeMs - ps.startTimeMs)
          spans += Json.Obj("k" -> "plan", "run" -> run, "qe" -> qe.id,
            "phase" -> phase, "start" -> ps.startTimeMs, "end" -> ps.endTimeMs)
        }
        add(run, "io.files_written", filesWritten(qe.executedPlan).sum)
      }
    }

    /** `numFiles` of every write command in the plan, including the one
      * an eagerly executed command keeps outside the plan's children. */
    private def filesWritten(plan: SparkPlan): Seq[Long] = plan match {
      case c: CommandResultExec => filesWritten(c.commandPhysicalPlan)
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).toSeq ++ filesWritten(w.child)
      case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
      case q: QueryStageExec => filesWritten(q.plan)
      case other => other.children.flatMap(filesWritten)
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamRun(e.runId) = current }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        touch()
        val p = e.progress
        val run = streamRun.getOrElse(p.runId, current)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        add(run, "streaming.batches", 1)
        add(run, "streaming.trigger_ms", d.getOrElse("triggerExecution", 0.0))
        add(run, "streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
        add(run, "streaming.query_planning_ms", d.getOrElse("queryPlanning", 0.0))
        add(run, "streaming.wal_commit_ms", d.getOrElse("walCommit", 0.0))
        add(run, "streaming.input_rows", p.numInputRows.toDouble)
        add(run, "streaming.state_rows",
          p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Everything recorded, for the result file. */
  def result: Json.Obj = synchronized {
    Json.Obj("counters" -> counters.map { case (k, v) => k.toString -> v.toMap }.toMap,
      "spans" -> spans.toSeq)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait (bounded) until every job and SQL execution seen has ended and
    * the listener buses have gone quiet, so the counters are complete. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = synchronized(pendingJobs <= 0 && pendingExecs <= 0) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

object Tracer {
  val TagPrefix = "perfbench-run-"
  /** Local property under which Spark carries a job's tags. */
  private val JobTagsKey = "spark.job.tags"
}
