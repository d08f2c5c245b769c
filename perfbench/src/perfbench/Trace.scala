package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace tree run → pass → task → SQL execution →
  * Spark job → stage.  Times are epoch milliseconds, the clock Spark's
  * listener events carry.  `attrs` holds the counts measured at this
  * boundary (task metrics for a stage, planning phases for an
  * execution, progress totals for a stream).
  */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 val start: Long) {
  @volatile var end: Long = -1L
  val attrs = new ConcurrentHashMap[String, Double]()
  def add(k: String, v: Double): Unit = attrs.merge(k, v, (a: Double, b: Double) => a + b)
}

/** Benchmark-owned listeners attached through public Spark APIs: a
  * `SparkListener` (jobs, stages, tasks, SQL execution events), a
  * `QueryExecutionListener` (planning phases, file scans) and a
  * `StreamingQueryListener` (batches, state).  The thread running a
  * benchmark task carries the job tag `perfbench-task-<span id>` and the
  * task name as job description; jobs, SQL executions and streams find
  * their task span through that tag.  Spans stay in memory; [[Tracer.json]] writes them out.
  */
final class Tracer(sc: SparkContext, sessions: Seq[SparkSession]) {
  import Tracer._

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = new ConcurrentHashMap[Long, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()  // SQL execution id → span
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Span]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val rootOf = new ConcurrentHashMap[Long, Long]()
  private val streamSpan = new ConcurrentHashMap[java.util.UUID, Span]()
  private val started = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val ended = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  @volatile private var drainJob = -1
  @volatile private var drained = false

  private def bump(m: ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong], k: String): Unit =
    m.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
  def startedCount(k: String): Long = Option(started.get(k)).map(_.get).getOrElse(0L)
  def endedCount(k: String): Long = Option(ended.get(k)).map(_.get).getOrElse(0L)

  def open(parent: Long, kind: String, name: String, start: Long = now): Span = {
    val s = new Span(nextId.getAndIncrement(), parent, kind, name, start)
    spans.put(s.id, s)
    s
  }
  def close(s: Span, end: Long = now): Unit = s.end = end

  /** Runs `body` as a task span under `parent`; its Spark jobs are tagged. */
  def task[T](parent: Long, name: String, kind: String = "task")(body: => T): (Span, T) = {
    val s = open(parent, kind, name)
    sc.addJobTag(TagPrefix + s.id)
    sc.setJobDescription(name)
    current.set(s)
    try { val r = body; (s, r) }
    finally {
      close(s); current.remove()
      sc.removeJobTag(TagPrefix + s.id); sc.setJobDescription(null)
    }
  }

  private def taskOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(TagPrefix) => t.drop(TagPrefix.length).toLong }
      .getOrElse(0L)
  private def taskOf(props: java.util.Properties): Long =
    taskOf(Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      if (Option(e.properties).exists(_.getProperty(DrainProp) != null)) { drainJob = e.jobId; return }
      bump(started, "job")
      val task = taskOf(e.properties)
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val parent = exec.flatMap(x => Option(execSpan.get(x))).map(_.id).getOrElse(task)
      jobSpan.put(e.jobId, open(parent, "job", s"job ${e.jobId}", e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (e.jobId == drainJob) { Tracer.this.synchronized { drained = true; Tracer.this.notifyAll() }; return }
      Option(jobSpan.get(e.jobId)).foreach { s => close(s, e.time); bump(ended, "job") }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId)).map(_.intValue)
      val key = (info.stageId, info.attemptNumber())
      if (!job.contains(drainJob) && !stageSpan.containsKey(key)) {
        bump(started, "stage")
        val parent = job.flatMap(j => Option(jobSpan.get(j))).map(_.id).getOrElse(0L)
        stageTasks.put(key, mutable.ArrayBuffer.empty)
        stageSpan.put(key, open(parent, "stage", s"stage ${info.stageId}",
          info.submissionTime.getOrElse(now)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpan.get((info.stageId, info.attemptNumber()))).foreach { s =>
        close(s, info.completionTime.getOrElse(now))
        bump(ended, "stage")
        val durs = stageTasks.get((info.stageId, info.attemptNumber())).synchronized {
          stageTasks.get((info.stageId, info.attemptNumber())).sorted.toSeq
        }
        if (durs.nonEmpty) {
          s.add("tasks", durs.size)
          s.add("max_task_ms", durs.last.toDouble)
          s.add("median_task_ms", durs(durs.size / 2).toDouble)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = (e.stageId, e.stageAttemptId)
      val s = stageSpan.get(key)
      if (s == null || e.taskInfo == null) return
      val buf = stageTasks.get(key)
      buf.synchronized { buf += e.taskInfo.duration }
      val m = e.taskMetrics
      if (m != null) {
        s.add("run_ms", m.executorRunTime.toDouble)
        s.add("cpu_ns", m.executorCpuTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("deser_ms", m.executorDeserializeTime.toDouble)
        s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        s.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("read_b", m.inputMetrics.bytesRead.toDouble)
        s.add("read_records", m.inputMetrics.recordsRead.toDouble)
        s.add("write_b", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        bump(started, "execution")
        // a nested execution (e.g. a write's inner query) nests under its root
        val root = x.rootExecutionId.map(_.asInstanceOf[Long]).filter(_ != x.executionId)
        val parent = root.flatMap(r => Option(execSpan.get(r))).map(_.id)
          .getOrElse(taskOf(x.jobTags))
        val s = open(parent, "execution", x.description.take(80), x.time)
        root.foreach(r => rootOf.put(x.executionId, r))
        execSpan.put(x.executionId, s)
      case x: SparkListenerSQLExecutionEnd =>
        Option(execSpan.get(x.executionId)).foreach { s => close(s, x.time); bump(ended, "execution") }
        // a nested execution has no QueryExecution callback of its own
        if (x.executionId == rootOf.getOrDefault(x.executionId, x.executionId))
          pair(plan = None, ended = Option(execSpan.get(x.executionId)))
      case x: SparkListenerSQLAdaptiveExecutionUpdate =>
        Option(execSpan.get(x.executionId)).foreach(_.add("aqe_replans", 1))
      case _ =>
    }
  }

  /** Planning phases and file-scan counts of each finished execution. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    // a failed query may not have an executed plan: record what exists
    private def record(qe: QueryExecution): Unit =
      try recordPlan(qe) catch { case scala.util.control.NonFatal(_) => () }
    private def recordPlan(qe: QueryExecution): Unit = {
      val s = new Span(0, 0, "plan", "", 0)
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(x => (x.endTimeMs - x.startTimeMs).toDouble).getOrElse(0.0)
      s.add("analysis_ms", ms("analysis"))
      s.add("optimizer_ms", ms("optimization"))
      s.add("physical_ms", ms("planning"))
      s.add("planned", 1)
      nodes(qe.executedPlan).foreach {
        case scan: FileSourceScanExec =>
          val read = scan.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
          val listed = scala.util.Try(scan.relation.location.inputFiles.length.toDouble).getOrElse(read)
          s.add("files_read", read)
          s.add("files_pruned", math.max(0.0, listed - read))
        // file writes carry the write-stats metrics (files, bytes, rows, parts)
        case w if w.metrics.contains("numFiles") && w.metrics.contains("numOutputBytes") =>
          s.add("write_files", w.metrics("numFiles").value.toDouble)
        case _ =>
      }
      pair(plan = Some(s.attrs), ended = None)
    }
  }

  /** A `QueryExecution` does not carry its SQL execution id, but the
    * execution listener is called on the shared listener thread right
    * beside the `SparkListenerSQLExecutionEnd` it belongs to (before or
    * after this class's own handler, depending on registration order),
    * so the two are paired by adjacency on that thread.
    */
  private var lastEnded: Option[Span] = None
  private var lastPlan: Option[ConcurrentHashMap[String, Double]] = None
  private def pair(plan: Option[ConcurrentHashMap[String, Double]], ended: Option[Span]): Unit =
    synchronized {
      ended.foreach { e =>
        lastPlan match {
          case Some(p) => p.forEach((k, v) => e.add(k, v)); lastPlan = None
          case None => lastEnded = Some(e)
        }
      }
      plan.foreach { p =>
        lastEnded match {
          case Some(e) => p.forEach((k, v) => e.add(k, v)); lastEnded = None
          case None => lastPlan = Some(p)
        }
      }
    }

  /** Every node of an executed plan, through adaptive stages, subqueries
    * and the physical plan of an eagerly executed command (a write).
    */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Streams nest under the task whose thread started them (its tags). */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      bump(started, "stream")
      streamSpan.put(e.runId, open(taskOf(e.jobTags), "stream", Option(e.name).getOrElse("stream")))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(streamSpan.get(e.progress.runId)).foreach { s =>
        val p = e.progress
        s.add("batches", 1)
        s.add("batch_ms", p.batchDuration.toDouble)
        p.stateOperators.foreach { op =>
          s.add("state_rows", op.numRowsTotal.toDouble)
          s.add("state_commit_ms", op.commitTimeMs.toDouble)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      Option(streamSpan.get(e.runId)).foreach(close(_))
      bump(ended, "stream")
      Tracer.this.synchronized(Tracer.this.notifyAll())
    }
  }

  /** Waits until the listener queues have delivered every event posted
    * so far, then checks that each started execution, job, stage and
    * stream has its end event.  A marker job posted after the last task
    * bounds the shared queue (events are delivered in order); streams
    * have their own queue and are counted to their terminations.
    * Returns the mismatches, empty when the trace is complete.
    */
  def drain(timeoutMs: Long): Seq[String] = {
    synchronized { drained = false; drainJob = -1 }
    sc.setLocalProperty(DrainProp, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DrainProp, null)
    val deadline = now + timeoutMs
    synchronized {
      while ((!drained || endedCount("stream") < startedCount("stream")) && now < deadline)
        wait(math.max(1L, deadline - now))
    }
    val open = Seq("execution", "job", "stage", "stream")
      .filter(k => startedCount(k) != endedCount(k))
      .map(k => s"$k: ${startedCount(k)} started, ${endedCount(k)} ended")
    if (!drained) open :+ "listener queue not drained" else open
  }

  /** Attaches the listeners for the timed passes; execution and stream
    * listeners are per session.
    */
  def attach(): Unit = {
    synchronized { lastEnded = None; lastPlan = None }
    sc.addSparkListener(sparkListener)
    sessions.foreach { s =>
      s.listenerManager.register(queryListener)
      s.streams.addListener(streamListener)
    }
  }

  def json: String = {
    val sb = new StringBuilder("[")
    spans.values.asScala.toSeq.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""")
      sb.append(s""""start":${s.start},"end":${s.end},"attrs":{""")
      sb.append(s.attrs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString(","))
      sb.append("}}")
    }
    sb.append("]\n").toString
  }
}

object Tracer {
  val TagPrefix = "perfbench-task-"
  private val current = new ThreadLocal[Span]
  /** Adds to the task span this thread is running, if it is traced. */
  def taskAttr(k: String, v: Double): Unit = Option(current.get).foreach(_.add(k, v))
  val DrainProp = "perfbench.drain"
  def now: Long = System.currentTimeMillis()
}
