package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional for the harness's own spans, whole for Spark's); a root
  * span has `parent` -1. Every span of a run carries the same `run`.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    start: Double, end: Double)

/** Clock shared by harness spans and Spark's listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span and counter recorder for the traced run. Spans are
  * recorded at the layer boundaries the harness can see from outside
  * the program:
  *  - workload → pass → query, opened by the harness; a query span's
  *    id rides on the Spark jobs it submits as a local property;
  *  - query → Spark job → stage, from a `SparkListener`;
  *  - micro-batch triggers, from a `StreamingQueryListener`;
  *  - engine and kernel calls the harness makes directly.
  * Nothing is written until the run ends.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Local property carrying the enclosing harness span to Spark jobs;
    * stream execution threads inherit it from the thread that starts
    * the query.
    */
  val SpanProperty = "perfbench.span"

  def span[T](name: String, kind: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = Clock.nowMs
    try body(id)
    finally {
      val t1 = Clock.nowMs
      sc.setLocalProperty(SpanProperty, prev)
      synchronized { spans += Span(id, parent, name, kind, t0, t1) }
    }
  }

  // --- Spark-side observations -------------------------------------
  private val openJobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Long]
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  val planPhases = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(-1L)
      val job = Span(newId(), parent, s"job ${e.jobId}", "job", e.time.toDouble, e.time.toDouble)
      openJobs(e.jobId) = job
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, job.id))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach(j => spans += j.copy(end = e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      add("exec.stages", 1)
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        spans += Span(newId(), stageJob.getOrElse(info.stageId, -1L),
          s"stage ${info.stageId}", "stage", t0.toDouble, t1.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("exec.tasks", 1)
      e.reason match {
        // a task killed because its streaming query was stopped did not fail
        case org.apache.spark.Success | _: org.apache.spark.TaskKilled => ()
        case _ => add("exec.failed_tasks", 1)
      }
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
          info.gettingResultTime
        add("exec.task_wait_s",
          (math.max(0L, info.duration - busy) + m.executorDeserializeTime) / 1e3)
        add("exec.shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val rec = Map[String, Any](
        "start" -> start,
        "trigger_ms" -> ms("triggerExecution"),
        "query_planning_ms" -> ms("queryPlanning"),
        "latest_offset_ms" -> ms("latestOffset"),
        "get_batch_ms" -> ms("getBatch"),
        "add_batch_ms" -> ms("addBatch"),
        "wal_commit_ms" -> ms("walCommit"),
        "commit_offsets_ms" -> ms("commitOffsets"),
        "input_rows" -> p.numInputRows,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows_total" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_rows_updated" -> p.stateOperators.map(_.numRowsUpdated).sum,
        "state_rows_removed" -> p.stateOperators.map(_.numRowsRemoved).sum,
        "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      Tracer.this.synchronized {
        progress += rec
        spans += Span(newId(), -1L, s"trigger ${p.batchId}", "trigger",
          start, start + ms("triggerExecution"))
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def sec(k: String): Double = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val rewrites = qe.optimizedPlan.collect { case node =>
        node.expressions.map(_.collect {
          case _: graft.functions.SortedArrayJaccardAtLeast => 1
        }.size).sum
      }.sum
      Tracer.this.synchronized {
        planPhases += Map("analysis_s" -> sec("analysis"),
          "optimization_s" -> sec("optimization"), "planning_s" -> sec("planning"),
          "jaccard_rewrites" -> rewrites)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    org.apache.spark.graftbench.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Spans with every parent resolved: a trigger's parent is the query
    * span it ran inside, and a job that ran inside one of its query's
    * triggers hangs under that trigger.
    */
  def resolvedSpans: Seq[Span] = synchronized {
    val queries = spans.filter(_.kind == "query")
    def enclosingQuery(t: Double): Long =
      queries.find(q => q.start <= t && t <= q.end).map(_.id).getOrElse(-1L)
    val withTriggers = spans.map { s =>
      if (s.kind == "trigger" && s.parent == -1L) s.copy(parent = enclosingQuery(s.start))
      else s
    }
    val triggersByQuery = withTriggers.filter(_.kind == "trigger").groupBy(_.parent)
    withTriggers.map { s =>
      if (s.kind != "job") s
      else triggersByQuery.getOrElse(s.parent, Nil)
        .find(t => t.start <= s.start && s.start <= t.end)
        .map(t => s.copy(parent = t.id)).getOrElse(s)
    }.toSeq
  }

  def spansJson: Seq[Map[String, Any]] = resolvedSpans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "start" -> s.start, "end" -> s.end, "run" -> runId)
  }
}
