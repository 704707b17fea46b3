package org.apache.spark.graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.ScanBytes
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters for one (query invocation, phase) cell. */
final class Counters {
  var jobs, stages, tasks, writeTasks = 0L
  var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var scanBytes, outBytes, outRecords = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    writeTasks += o.writeTasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; scanBytes += o.scanBytes
    outBytes += o.outBytes; outRecords += o.outRecords
  }
}

/** Streaming progress of one query invocation, read off the shared bus. */
final class StreamCounters {
  var batches, inputRows, triggerMs, addBatchMs, walCommitMs = 0L
  var planningMs = 0L
  /** Per streaming run id: the largest state size any of its batches saw. */
  val stateRows = mutable.Map.empty[java.util.UUID, Long]
  val stateMem = mutable.Map.empty[java.util.UUID, Long]
}

/** One traced interval. `parent` is -1 for a query span. */
final case class Span(qid: Long, id: Int, parent: Int, name: String,
    startUs: Long, endUs: Long)

/** SparkListener that attributes every job, stage and task to the query
  * invocation and phase named by two local properties the harness sets
  * around each query. Local properties are inherited by the threads a
  * query starts (stream executions, broadcast and subquery pools), and the
  * engine's own `setJobGroup` calls use other keys, so they cannot
  * overwrite the attribution. Streaming progress arrives on the same
  * SparkContext bus (child sessions included) and is attributed to the
  * query in flight: one query runs at a time and the bus is drained before
  * the next one starts. A SQL execution belongs to the cell of its first
  * job; its scan bytes are read off its final plan when it ends.
  */
final class Recorder(traced: Boolean) extends SparkListener {
  import Recorder._

  private val cells = mutable.Map.empty[Long, Array[Counters]]
  private val streams = mutable.Map.empty[Long, StreamCounters]
  private val stageOwner = mutable.Map.empty[Int, (Long, Int)]
  private val jobOwner = mutable.Map.empty[Int, (Long, Int, Long)]
  private val executionOwner = mutable.Map.empty[Long, (Long, Int)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var unattributed = 0L
  @volatile var inFlight: Long = -1L

  private def owner(p: Properties): Option[(Long, Int)] =
    for (pr <- Option(p); q <- Option(pr.getProperty(QidKey)))
      yield (q.toLong, Phases.indexOf(pr.getProperty(PhaseKey, Phases.head)).max(0))

  private def cell(q: Long, ph: Int): Counters =
    cells.getOrElseUpdate(q, Array.fill(Phases.size)(new Counters))(ph)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    owner(e.properties) match {
      case Some((q, ph)) =>
        cell(q, ph).jobs += 1
        jobOwner(e.jobId) = (q, ph, e.time)
        e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (q, ph)))
        Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
          .foreach(x => executionOwner.getOrElseUpdate(x.toLong, (q, ph)))
      case None => unattributed += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (q, ph, t0) =>
      if (traced) spans += Span(q, -1, ph, s"job ${e.jobId}", t0 * 1000, e.time * 1000)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val o = owner(e.properties).orElse(stageOwner.get(e.stageInfo.stageId))
    o.foreach { case (q, ph) =>
      stageOwner(e.stageInfo.stageId) = (q, ph)
      cell(q, ph).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOwner.get(e.stageId).foreach { case (q, ph) =>
      val c = cell(q, ph)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val ob = m.outputMetrics.bytesWritten
      val or = m.outputMetrics.recordsWritten
      c.outBytes += ob
      c.outRecords += or
      if (ob > 0 || or > 0) c.writeTasks += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd => synchronized {
      // an execution that ran no job read no file
      executionOwner.remove(x.executionId).foreach { case (q, ph) =>
        cell(q, ph).scanBytes += ScanBytes.ofExecution(x)
      }
    }
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val q = inFlight
      if (q >= 0) {
        val pr = p.progress
        val s = streams.getOrElseUpdate(q, new StreamCounters)
        def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.batches += 1
        s.inputRows += pr.numInputRows
        s.triggerMs += d("triggerExecution")
        s.addBatchMs += d("addBatch")
        s.walCommitMs += d("walCommit") + d("commitOffsets")
        s.planningMs += d("queryPlanning")
        val rows = pr.stateOperators.map(_.numRowsTotal).sum
        val mem = pr.stateOperators.map(_.memoryUsedBytes).sum
        s.stateRows(pr.runId) = s.stateRows.getOrElse(pr.runId, 0L).max(rows)
        s.stateMem(pr.runId) = s.stateMem.getOrElse(pr.runId, 0L).max(mem)
        if (traced) {
          val t0 = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000
          spans += Span(q, -1, 0, s"batch ${pr.batchId}", t0, t0 + d("triggerExecution") * 1000)
        }
      }
    }
    case _ =>
  }

  /** Counters of one query invocation per phase (zeros if it ran no job). */
  def counters(q: Long): Array[Counters] = synchronized {
    cells.getOrElse(q, Array.fill(Phases.size)(new Counters))
  }
  def addScanBytes(q: Long, ph: Int, n: Long): Unit = synchronized { cell(q, ph).scanBytes += n }
  def stream(q: Long): StreamCounters = synchronized {
    streams.getOrElse(q, new StreamCounters)
  }
  def jobs(q: Long): Long = counters(q).map(_.jobs).sum
  def unattributedJobs: Long = synchronized(unattributed)
  /** Spans recorded by the listener (jobs, streaming batches) for `q`;
    * their `parent` field holds the phase index until the harness links
    * them to the phase spans.
    */
  def spansOf(q: Long): Seq[Span] = synchronized(spans.filter(_.qid == q).toSeq)
}

object Recorder {
  val QidKey = "graftbench.qid"
  val PhaseKey = "graftbench.phase"
  val Phases: Seq[String] = Seq("construct", "analysis", "optimization", "planning", "execute")
}
