package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters and spans of a traced run.
  *
  * Attribution: the client thread runs one operation at a time under
  * a Spark job group equal to the operation id, and drains the
  * listener bus after each operation, so every event is delivered
  * while its operation is still the open one. A job whose group is an
  * operation id belongs to that operation; a job with another group
  * (a streaming micro-batch runs under its query's run id) belongs to
  * the operation open when it started. Events outside any operation
  * (the untimed output checks) are dropped.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.HashMap[String, mutable.HashMap[String, Double]]()
  private val rootOf = mutable.HashMap[String, Long]()
  @volatile private var open: Option[String] = None

  // Spark-side bookkeeping, keyed by job and stage ids
  private val jobOp = mutable.HashMap[Int, String]()
  private val jobSpan = mutable.HashMap[Int, Span]()
  private val jobStages = mutable.HashMap[Int, Set[Int]]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val submittedIn = mutable.HashMap[Int, Set[Int]]()

  private def nextId(): Long = ids.incrementAndGet()

  private def add(op: String, key: String, v: Double): Unit =
    counters.getOrElseUpdate(op, mutable.HashMap[String, Double]())
      .updateWith(key)(o => Some(o.getOrElse(0.0) + v))

  /** Open operation `op` at `startMs`; its root span closes in [[end]]. */
  def begin(op: String, startMs: Double): Unit = synchronized {
    val id = nextId()
    rootOf(op) = id
    spans += Span(id, 0, op, "op", startMs, startMs)
    open = Some(op)
  }

  /** Close the open operation at `endMs` (end of its timed region),
    * then drain the bus so every event it caused is counted.
    */
  def end(endMs: Double): Unit = {
    drain(spark.sparkContext)
    synchronized {
      open.foreach { op =>
        val i = spans.lastIndexWhere(s => s.id == rootOf(op))
        spans(i) = spans(i).copy(end = endMs)
      }
      open = None
    }
  }

  /** A client-side span (construction, AOI stages) of the open op. */
  def span(name: String, startMs: Double, endMs: Double): Unit = synchronized {
    open.foreach { op =>
      spans += Span(nextId(), rootOf(op), op, name, startMs, endMs)
      add(op, name + "_ms", endMs - startMs)
    }
  }

  /** Add to a counter of the open operation. */
  def count(key: String, v: Double): Unit = synchronized { open.foreach(add(_, key, v)) }

  /** Counters of `op` (empty when it caused no events). */
  def countersOf(op: String): Map[String, Double] = synchronized {
    counters.get(op).map(_.toMap).getOrElse(Map.empty)
  }

  def allSpans: Seq[Span] = synchronized(Spans.nest(spans.toSeq))

  private def phaseSpans(qe: QueryExecution): Unit = synchronized {
    open.foreach { op =>
      qe.tracker.phases.foreach { case (phase, p) =>
        if (Phases.contains(phase)) {
          spans += Span(nextId(), rootOf(op), op, s"plans.$phase",
            p.startTimeMs.toDouble, p.endTimeMs.toDouble)
          add(op, s"plans.${phase}_ms", p.durationMs.toDouble)
        }
      }
    }
  }

  /** Record the planning phases a DataFrame paid while it was built
    * (its eager analysis happens outside any action).
    */
  def built(qe: QueryExecution): Unit = phaseSpans(qe)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(js.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      val op = group.filter(rootOf.contains).orElse(open)
      op.foreach { o =>
        jobOp(js.jobId) = o
        jobStages(js.jobId) = js.stageIds.toSet
        js.stageIds.foreach(stageJob(_) = js.jobId)
        val s = Span(nextId(), rootOf(o), o, "dispatch.job", js.time.toDouble, js.time.toDouble)
        jobSpan(js.jobId) = s
        spans += s
        add(o, "dispatch.jobs", 1)
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOp.get(je.jobId).foreach { o =>
        val run = submittedIn.remove(je.jobId).getOrElse(Set.empty)
        val stages = jobStages.remove(je.jobId).getOrElse(Set.empty)
        add(o, "dispatch.stages_skipped", (stages -- run).size.toDouble)
        jobSpan.get(je.jobId).foreach { s =>
          val i = spans.lastIndexWhere(_.id == s.id)
          spans(i) = s.copy(end = je.time.toDouble)
        }
      }
    }

    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageJob.get(ss.stageInfo.stageId).foreach { j =>
          submittedIn(j) = submittedIn.getOrElse(j, Set.empty) + ss.stageInfo.stageId
        }
      }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = sc.stageInfo
        for (job <- stageJob.get(si.stageId); o <- jobOp.get(job)) {
          add(o, "dispatch.stages", 1)
          add(o, "dispatch.tasks", si.numTasks.toDouble)
          val parent = jobSpan.get(job).map(_.id).getOrElse(rootOf(o))
          spans += Span(nextId(), parent, o, "dispatch.stage",
            si.submissionTime.getOrElse(0L).toDouble,
            si.completionTime.getOrElse(0L).toDouble)
        }
      }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (job <- stageJob.get(te.stageId); o <- jobOp.get(job)) {
        add(o, "dispatch.tasks_run", 1)
        if (te.reason != Success) add(o, "dispatch.tasks_failed", 1)
        val m = te.taskMetrics
        if (m != null) {
          val ti = te.taskInfo
          val gettingResult =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          add(o, "dispatch.scheduler_delay_ms", math.max(0L, ti.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult).toDouble)
          if (te.taskType == "ResultTask") add(o, "dispatch.result_mb", m.resultSize / MB)
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            add(o, "dispatch.empty_tasks", 1)
          add(o, "executor.run_ms", m.executorRunTime.toDouble)
          add(o, "executor.cpu_ms", m.executorCpuTime / 1e6)
          add(o, "executor.gc_ms", m.jvmGCTime.toDouble)
          add(o, "sources.input_mb", m.inputMetrics.bytesRead / MB)
          add(o, "sources.input_rows", m.inputMetrics.recordsRead.toDouble)
          add(o, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          add(o, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
          add(o, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add(o, "shuffle.spill_mb", m.diskBytesSpilled / MB)
        }
      }
    }

    override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val b = bu.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid) open.foreach { o =>
          add(o, "cachedplans.blocks_written", 1)
          add(o, "cachedplans.mb_written", (b.memSize + b.diskSize) / MB)
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phaseSpans(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phaseSpans(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      count("streaming.queries", 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        open.foreach { o =>
          val p = e.progress
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          spans += Span(nextId(), rootOf(o), o, "streaming.batch", start, start + p.batchDuration)
          add(o, "streaming.batches", 1)
          add(o, "streaming.rows", p.numInputRows.toDouble)
          add(o, "streaming.batch_ms", p.batchDuration.toDouble)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
  val JobGroupKey = "spark.jobGroup.id"
  val Phases = Set("analysis", "optimization", "planning")

  /** Every per-layer counter a pass reports, zero when nothing fired
    * (the per-module `queries.<Module>.ms` keys come from the runner).
    */
  val Keys: Seq[String] = Seq(
    "tables.resolve_ms",
    "cachedplans.blocks_written", "cachedplans.mb_written", "cachedplans.cached_rdds",
    "cachedplans.cached_mb",
    "queries.construct_ms",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "dispatch.jobs", "dispatch.stages", "dispatch.stages_skipped", "dispatch.tasks",
    "dispatch.tasks_failed", "dispatch.scheduler_delay_ms", "dispatch.empty_task_frac",
    "dispatch.result_mb",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "sources.input_mb", "sources.input_rows",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "shuffle.spill_mb",
    "streaming.queries", "streaming.batches", "streaming.rows", "streaming.batch_ms",
    "operators.select_ms", "operators.etl_ms", "sources.chips_written",
    "sources.chip_mb_written",
    "self.op_ms", "self.job_ms", "jvm.jit_ms", "jvm.gc_ms")

  def drain(sc: SparkContext): Unit = org.apache.spark.graft.ListenerBusDrain.drain(sc)
}
