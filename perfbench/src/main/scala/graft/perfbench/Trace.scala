package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional), so
  * spans recorded by the benchmark and times reported by Spark's
  * listeners share one axis. `stmt` is the statement id the span belongs
  * to, "" outside statements. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, stmt: String)

/** What one timed statement did, gathered from the listeners and the
  * engine's diagnostic counters. */
final class StmtStats(val id: String, val kind: String, val start: Double) {
  var end = 0.0
  val jobWindows = mutable.ArrayBuffer.empty[(Double, Double)]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = counters(k) += v

  /** Wall time covered by at least one running job. */
  def jobCovered: Double = {
    val sorted = jobWindows.map { case (s, e) => (s max start, e min end) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    sorted.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) covered += ce - cs
        cs = s; ce = e
      } else ce = ce max e
    }
    if (!cs.isNaN) covered += ce - cs
    covered / 1000.0
  }
  def seconds: Double = (end - start) / 1000.0
}

/** Clock, spans and the listener side of tracing.
  *
  * With `on = false` no span is kept and only the streaming listener is
  * registered (one event per micro-batch), so the untraced run measures
  * the engine alone. */
final class Tracer(spark: SparkSession, val on: Boolean, cores: Int) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  @volatile var current: StmtStats = _
  val stmts = mutable.ArrayBuffer.empty[StmtStats]

  /** (trigger seconds, add-batch s, planning s, wal-commit s, state rows). */
  val streamBatches =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Array[Double]]())

  private def record(name: String, start: Double, end: Double, parent: Int,
      stmt: String): Unit = spans.synchronized {
    spans += Span(nextId, name, start, end, parent, stmt)
    nextId += 1
  }

  /** Time `body` as a child span of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val start = now
    val id = spans.synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans.synchronized {
        spans += Span(id, name, start, now, parent,
          Option(current).map(_.id).getOrElse(""))
      }
    }
  }

  /** Listener-side span, parented to the statement it fell in. */
  private def external(name: String, start: Double, end: Double, group: String): Unit =
    if (on) {
      val st = Option(current).filter(s => group == null || group == s.id)
      record(name, start, end, 0, st.map(_.id).getOrElse(Option(group).getOrElse("")))
    }

  private val jobStmt = new ConcurrentHashMap[Int, StmtStats]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageStmt = new ConcurrentHashMap[Int, StmtStats]()

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val st = current
        if (st != null) {
          jobStmt.put(e.jobId, st)
          e.stageIds.foreach(stageStmt.put(_, st))
        }
        jobStart.put(e.jobId, e.time.toDouble)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobStmt.remove(e.jobId)
        val t0 = Option(jobStart.remove(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
        if (st != null) st.synchronized {
          st.jobWindows += ((t0, e.time.toDouble))
          st.add("exec.jobs", 1)
        }
        external("exec.job", t0, e.time.toDouble,
          Option(st).map(_.id).orNull)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val st = stageStmt.remove(info.stageId)
        val m = info.taskMetrics
        if (st != null && m != null) st.synchronized {
          st.add("exec.stages", 1)
          st.add("exec.tasks", info.numTasks)
          if (info.numTasks < cores) st.add("exec.narrow_stages", 1)
          st.add("exec.task_s", m.executorRunTime / 1000.0)
          st.add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          st.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          st.add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
          st.add("scan.rows_read", m.inputMetrics.recordsRead.toDouble)
        }
        for (s <- info.submissionTime; c <- info.completionTime)
          external("exec.stage", s.toDouble, c.toDouble, Option(st).map(_.id).orNull)
      }
    })
  }

  /** Register the session-scoped listeners on a session the workload
    * runs in. */
  def attach(session: SparkSession): Unit = {
    if (on) session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val st = current
        qe.tracker.phases.foreach { case (phase, p) =>
          if (st != null) st.synchronized { st.add(s"catalyst.${phase}_s", p.durationMs / 1000.0) }
          external(s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble, null)
        }
        if (st != null) st.synchronized { st.add("catalyst.query_executions", 1) }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }
        val trigger = d.getOrElse("triggerExecution", 0.0)
        val row = Array(trigger, d.getOrElse("addBatch", 0.0), d.getOrElse("queryPlanning", 0.0),
          d.getOrElse("walCommit", 0.0), p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        streamBatches.add(row)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        external("stream.batch", start, start + trigger * 1000.0, null)
      }
    })
  }

  /** The engine's process-global diagnostic counters, read as deltas
    * around each statement (they are never reset). */
  def engineCounters: Map[String, Double] = Map(
    "catalog.descriptor_reads" -> graft.catalog.MetaStore.descriptorReads.get.toDouble,
    "catalog.descriptor_read_s" -> graft.catalog.MetaStore.descriptorReadNanos.get / 1e9,
    "dv.physical_listings" -> graft.plans.ResolveDeletionVectors.physicalListings.get.toDouble,
    "dv.skipped_delta_files" -> graft.plans.ResolveDeletionVectors.skippedDeltaFiles.get.toDouble)

  /** Write every span as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    spans.synchronized {
      spans.sortBy(_.start).foreach { s =>
        sb ++= f"""{"id":${s.id},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"parent":${s.parent},"stmt":"${s.stmt}"}""" + "\n"
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
