package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: one `SparkListener`, one
  * `QueryExecutionListener` and one `StreamingQueryListener`, plus spans
  * the benchmark wraps around each call into a layer. Everything is kept
  * in memory as raw per-job / per-stage / per-query records with epoch-ms
  * timestamps and written out once at the end; the per-layer figures are
  * derived from these records by `perfbench/metrics.py`.
  */
final class Trace {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val executions = mutable.Map.empty[Long, String]
  private val stages = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val taskDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val openSpans = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      touch()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val firstStage = e.stageInfos.sortBy(_.stageId).headOption
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start" -> e.time,
        "call_short" -> Some(prop("callSite.short")).filter(_.nonEmpty)
          .getOrElse(firstStage.map(_.name).getOrElse("")),
        "call_long" -> Some(prop("callSite.long")).filter(_.nonEmpty)
          .getOrElse(firstStage.map(_.details).getOrElse("")),
        "description" -> prop("spark.job.description"),
        "execution_id" -> prop("spark.sql.execution.id"),
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      touch()
      jobs.get(e.jobId).foreach { j =>
        j("end") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      touch()
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, mutable.Map[String, Any]("id" -> e.stageId))
        def add(k: String, v: Long): Unit = s(k) = s.getOrElse(k, 0L).asInstanceOf[Long] + v
        add("tasks", 1)
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("input_rows", m.inputMetrics.recordsRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
        add("output_rows", m.outputMetrics.recordsWritten)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_disk_bytes", m.diskBytesSpilled)
        add("spill_memory_bytes", m.memoryBytesSpilled)
        s("peak_mem_bytes") = math.max(s.getOrElse("peak_mem_bytes", 0L).asInstanceOf[Long],
          m.peakExecutionMemory)
        taskDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      touch()
      val s = stages.getOrElseUpdate(e.stageInfo.stageId,
        mutable.Map[String, Any]("id" -> e.stageInfo.stageId))
      s("end") = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      s("name") = e.stageInfo.name
    }
    // an SQL action's call site is taken on the thread that ran the action;
    // AQE then submits its jobs from pool threads whose own call site names
    // no user frame, so jobs are tied back to their execution's call site
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { touch(); executions(s.executionId) = s.details }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      touch()
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blocks += Map("t" -> System.currentTimeMillis(), "bytes" -> (b.memSize + b.diskSize))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = Trace.this.synchronized {
      touch()
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      queries += Map("t" -> System.currentTimeMillis(), "func" -> funcName, "ok" -> ok,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        touch()
        val p = e.progress
        if (p.numInputRows > 0)
          progress += Map("t" -> System.currentTimeMillis(), "batch" -> p.batchId,
            "batch_ms" -> p.batchDuration, "rows" -> p.numInputRows,
            "rows_per_s" -> p.processedRowsPerSecond)
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the bus has been quiet for a moment.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def quiet = synchronized(jobs.values.forall(_.contains("end"))) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Records a span around `body`; spans nest per thread. */
  def span[A](name: String)(body: => A): A = {
    val parent = openSpans.get.headOption.getOrElse(-1)
    val id = synchronized { spans += Map.empty; spans.size - 1 }
    openSpans.set(id :: openSpans.get)
    val start = System.currentTimeMillis()
    try body
    finally {
      openSpans.set(openSpans.get.tail)
      synchronized {
        spans(id) = Map("id" -> id, "parent" -> parent, "name" -> name,
          "start" -> start, "end" -> System.currentTimeMillis())
      }
    }
  }

  def records: Map[String, Any] = synchronized {
    val stageRecs = stages.values.map { s =>
      val d = taskDurations.getOrElse(s("id").asInstanceOf[Int], mutable.ArrayBuffer.empty).sorted
      val skew = if (d.size < 2 || d(d.size / 2) <= 0) 1.0 else d.last.toDouble / d(d.size / 2)
      s.toMap + ("skew" -> skew)
    }.toSeq
    Map("jobs" -> jobs.values.map(_.toMap).toSeq, "stages" -> stageRecs,
      "executions" -> executions.map { case (k, v) => k.toString -> v },
      "queries" -> queries.toSeq, "streaming" -> progress.toSeq, "blocks" -> blocks.toSeq,
      "spans" -> spans.filter(_.nonEmpty).toSeq)
  }
}

/** No-op stand-in for untraced runs, so call sites read the same. */
object Trace {
  def span[A](t: Option[Trace], name: String)(body: => A): A = t match {
    case Some(tr) => tr.span(name)(body)
    case None => body
  }
}
