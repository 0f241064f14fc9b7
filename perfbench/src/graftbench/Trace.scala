package graftbench

import java.lang.management.ManagementFactory
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness: run, pass, query or operator,
  * and the build, action or micro-batch inside it. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val kind: String, val pass: Int) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs: Long = 0L
  var endNs: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory on the driver thread. They time every pass in
  * both modes; only a traced run joins them with Spark's events and
  * writes them out. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  /** Pass index of new spans: -1 during set-up, 0 for the cold pass. */
  var pass: Int = -1

  def apply[T](name: String, kind: String)(body: => T): T = {
    val s = new Span(all.size, open.headOption.fold(-1)(_.id), name, kind, pass)
    all += s
    open ::= s
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def current: Span = open.head

  /** Like `apply`, for a body run for its effect; returns the span. */
  def timed(name: String, kind: String)(body: => Unit): Span = {
    var s: Span = null
    apply(name, kind) { s = current; body }
    s
  }

  /** The innermost span open at wall-clock time `t`: the harness runs on
    * one thread, so a Spark event belongs to whatever call was in
    * progress when it started. */
  def at(t: Long): Option[Span] =
    all.iterator.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.id)

  def under(s: Span, root: Span): Boolean = {
    var cur = s.id
    while (cur >= 0 && cur != root.id) cur = all(cur).parent
    cur == root.id
  }
}

/** Host and JVM counters that explain noise; never used to drop a run. */
final case class Host(stealTicks: Long, jitMs: Long, gcMs: Long) {
  def -(o: Host): Host = Host(stealTicks - o.stealTicks, jitMs - o.jitMs, gcMs - o.gcMs)
  /** /proc/stat counts in USER_HZ ticks of 10 ms. */
  def stealMs: Long = stealTicks * 10
}

object Host {
  def now(): Host = {
    val steal =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val cpu = src.getLines().next().trim.split("\\s+")
          if (cpu.length > 8) cpu(8).toLong else 0L
        } finally src.close()
      } catch { case _: java.io.IOException => 0L }
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold(0L)(_.getTotalCompilationTime)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Host(steal, jit, gc)
  }
}

/** Task metrics summed over one stage. */
final class StageAgg {
  var completed = false
  var tasks = 0L
  var runMs, cpuNs, gcMs, deserMs, inputBytes, spillBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs = 0L
}

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

final case class QeRec(atMs: Long, planMs: Long)

final case class ProgressRec(queryId: UUID, durations: Map[String, Long],
                             stateCommitMs: Long, stateRows: Long,
                             stateMemBytes: Long)

/** Spark's public listeners, registered only in a traced run. Every
  * callback arrives on a listener-bus thread; `drain` waits until the
  * bus has gone quiet before the driver thread reads the records. */
final class Probe(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]
  @volatile private var events = 0L

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds); events += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time); events += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        if (e.stageInfo.failureReason.isEmpty) stage(e.stageInfo.stageId).completed = true
        events += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val a = stage(e.stageId)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
      events += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = { events += 1 }
  }

  /** Catalyst's own phase clock; the execution is placed by the end of
    * its last phase, which falls inside the call that ran it. */
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        qes += QeRec(phases.map(_.endTimeMs).max, phases.map(_.durationMs).sum)
      events += 1
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val ops = Option(p.stateOperators).getOrElse(Array.empty)
        progress += ProgressRec(p.id,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum)
        events += 1
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits until every started job has ended and no event has arrived
    * for 300 ms, for at most 30 s. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var last = -1L
    var quiet = 0
    while (quiet < 6 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val (n, open) = synchronized((events, jobs.values.count(_.endMs < 0)))
      if (n == last && open == 0) quiet += 1 else { quiet = 0; last = n }
    }
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
