package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds. `op` ties a span to the
  * benchmark operation it ran under (-1 when unknown: the analysis assigns
  * those by time containment); `parent` is set only where the recorder knows
  * it (a stage's job, an op's build/execute phase). */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startUs: Long, var endUs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder. The harness records workload/op/phase spans
  * itself; between `start()` and `stop()`, three listeners add Spark job,
  * stage and task records (SparkListener), planner phase spans from
  * `qe.tracker` (QueryExecutionListener) and streaming micro-batch spans from
  * `StreamingQueryProgress.durationMs` (StreamingQueryListener). Nothing is
  * written until the harness dumps the recorder at exit. */
final class Tracer(spark: SparkSession) {
  def sparkContext: org.apache.spark.SparkContext = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val usBase = System.currentTimeMillis() * 1000L
  def nowUs(): Long = usBase + (System.nanoTime() - nanoBase) / 1000L

  val spans = ArrayBuffer.empty[Span]
  /** One row per finished task: see [[Tracer.TaskFields]] for the columns. */
  val tasks = ArrayBuffer.empty[Array[Long]]
  private var nextId = 0L
  private val on = new AtomicBoolean(false)
  private val stageJob = scala.collection.mutable.Map.empty[Int, Long]
  private val stageOp = scala.collection.mutable.Map.empty[Int, Long]
  private val openJobs = scala.collection.mutable.Map.empty[Int, Span]

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Span = synchronized { spans += s; s }

  def span(parent: Long, op: Long, layer: String, name: String, startUs: Long,
           endUs: Long, attrs: Map[String, Any] = Map.empty): Span =
    add(Span(newId(), parent, op, layer, name, startUs, endUs, attrs))

  /** `op` of the job group "pb-<op>" the harness sets around each op. */
  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toLong).getOrElse(-1L)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on.get) synchronized {
      val op = opOf(e.properties)
      val s = span(-1L, op, "spark", "job", e.time * 1000L, e.time * 1000L,
        Map("job_id" -> e.jobId, "stages" -> e.stageIds.size))
      openJobs(e.jobId) = s
      e.stageIds.foreach { st => stageJob(st) = s.id; stageOp(st) = op }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      openJobs.remove(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on.get) {
      val i = e.stageInfo
      for (sub <- i.submissionTime; done <- i.completionTime)
        synchronized {
          span(stageJob.getOrElse(i.stageId, -1L), stageOp.getOrElse(i.stageId, -1L),
            "spark", "stage", sub * 1000L,
            done * 1000L, Map("stage_id" -> i.stageId, "tasks" -> i.numTasks))
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on.get && e.taskMetrics != null) {
      val i = e.taskInfo
      val m = e.taskMetrics
      val row = Array(i.launchTime, i.finishTime, m.executorRunTime, m.jvmGCTime,
        m.executorDeserializeTime, m.resultSerializationTime, i.gettingResultTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, e.stageId.toLong)
      synchronized { tasks += (row :+ stageOp.getOrElse(e.stageId, -1L)) }
    }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (on.get) {
      qe.tracker.phases.foreach { case (phase, p) =>
        span(-1L, -1L, "planner", phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on.get) {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        span(-1L, -1L, "streaming", "batch", start, start + ms("triggerExecution") * 1000L,
          Map("batch_id" -> p.batchId, "query_planning_ms" -> ms("queryPlanning"),
            "wal_commit_ms" -> ms("walCommit"), "add_batch_ms" -> ms("addBatch"),
            "rows" -> p.numInputRows))
      }
  }

  /** Largest Spark-accounted execution memory (sorts, aggregation and join
    * hash maps) any task reached while `measuring`; this listener stays
    * attached in untraced runs, it only keeps one maximum. */
  val peakExecBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  val measuring = new AtomicBoolean(false)
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (measuring.get && e.taskMetrics != null)
        peakExecBytes.accumulateAndGet(e.taskMetrics.peakExecutionMemory, math.max)
  })

  /** Attach the listeners (an untraced run carries none of them). They
    * record nothing outside `start()` ... `stop()`. */
  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Start recording, once the listener bus has delivered the events of
    * whatever ran before. */
  def start(): Unit = { drain(); on.set(true) }

  /** Stop recording, once the listener bus has delivered every event of the
    * recorded op. */
  def stop(): Unit = { drain(); on.set(false) }

  private def drain(): Unit =
    org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext, 60000L)
}

object Tracer {
  /** Column order of a task row in the span file. */
  val TaskFields: Seq[String] = Seq("launch_ms", "finish_ms", "run_ms", "gc_ms",
    "deser_ms", "ser_ms", "getting_result_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_mem_bytes", "spill_disk_bytes", "input_bytes",
    "input_records", "output_bytes", "output_records", "stage_id", "op")
}
