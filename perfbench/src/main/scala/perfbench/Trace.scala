package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval; all spans of one operation share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double)

/** One timed operation; pass 0 is set-up. */
final case class Op(id: Long, pass: Int, kind: String, name: String,
    start: Double, end: Double, ok: Boolean, traced: Boolean, err: String)

/** In-memory record of one run: operation samples, spans and per-operation
  * counters, written out once at the end (`Out`).
  *
  * Times are milliseconds since the run's clock origin. Spark events carry
  * epoch milliseconds and are mapped onto the same axis.
  */
final class Recorder {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs).toDouble

  private var nextId = 0L
  def newId(): Long = synchronized { nextId += 1; nextId }

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  /** Per-operation counters (task metrics, planning phases, file sizes). */
  val counters: mutable.Map[Long, mutable.Map[String, Double]] =
    mutable.Map.empty
  /** (pass, enclosing operation or 0, what, ok, detail). */
  val checks: mutable.ArrayBuffer[(Int, Long, String, Boolean, String)] =
    mutable.ArrayBuffer.empty

  def span(s: Span): Unit = synchronized { spans += s }
  /** Open an operation; it is visible to [[opAt]] until [[endOp]]. */
  def beginOp(pass: Int, kind: String, name: String, traced: Boolean): Op =
    synchronized {
      val o = Op(newId(), pass, kind, name, nowMs, Double.MaxValue,
        ok = true, traced, "")
      ops += o
      o
    }
  def endOp(o: Op, ok: Boolean, err: String): Op = synchronized {
    val done = o.copy(end = nowMs, ok = ok, err = err)
    ops(ops.indexWhere(_.id == o.id)) = done
    done
  }
  def add(op: Long, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }
  def check(pass: Int, op: Long, what: String, ok: Boolean,
      detail: String): Boolean = {
    synchronized { checks += ((pass, op, what, ok, detail)) }
    ok
  }

  /** The traced operation whose interval contains `t`, if any. */
  def opAt(t: Double): Option[Op] = synchronized {
    ops.reverseIterator.find(o => o.traced && o.start <= t && t <= o.end)
  }
  /** Innermost recorded span of `op` containing `t` (for jobs that carry no
    * parent property). */
  def spanAt(op: Long, t: Double): Option[Span] = synchronized {
    spans.iterator.filter(s => s.op == op && s.start <= t && t <= s.end)
      .minByOption(s => s.end - s.start)
  }
}

/** Spark-side tracing: job and stage spans, task metrics and Catalyst phase
  * times, attributed to benchmark operations. Registered only for traced
  * passes, so untraced passes run with no benchmark listener attached.
  *
  * Jobs are parented by the `perfbench.span` local property that the
  * benchmark sets on its own thread before each call into the engine; jobs
  * without it (engine-side threads) are parented by time containment.
  */
final class SparkTracer(rec: Recorder) extends SparkListener
    with QueryExecutionListener {
  import SparkTracer.Prop

  private val jobs = mutable.Map.empty[Int, SparkTracer.JobInfo]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = rec.fromEpochMs(e.time)
    val fromProp = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Prop))).map(_.split(':'))
    val (parent, op) = fromProp match {
      case Some(Array(s, o)) => (s.toLong, o.toLong)
      case _ => rec.opAt(t) match {
        case Some(o) => (rec.spanAt(o.id, t).map(_.id).getOrElse(o.id), o.id)
        case None => (0L, 0L)
      }
    }
    jobs(e.jobId) = SparkTracer.JobInfo(parent, op, t)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    if (op != 0L) rec.add(op, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).filter(_.op != 0L).foreach { j =>
      rec.span(Span(jobSpanId(e.jobId), j.span, j.op, s"job",
        j.start, rec.fromEpochMs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for {
        jobId <- stageJob.get(si.stageId)
        j <- jobs.get(jobId) if j.op != 0L
        s <- si.submissionTime
        c <- si.completionTime
      } {
        rec.add(j.op, "stages", 1)
        rec.span(Span(rec.newId(), jobSpanId(jobId), j.op,
          s"stage", rec.fromEpochMs(s), rec.fromEpochMs(c)))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageJob.get(e.stageId).flatMap(jobs.get).map(_.op)
      .getOrElse(0L)
    if (op == 0L) return
    rec.add(op, "tasks", 1)
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
      rec.add(op, "task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      rec.add(op, "task_run_ms", m.executorRunTime.toDouble)
      rec.add(op, "task_cpu_ms", m.executorCpuTime / 1e6)
      rec.add(op, "gc_ms", m.jvmGCTime.toDouble)
      rec.add(op, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      rec.add(op, "spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      rec.add(op, "records_read", m.inputMetrics.recordsRead.toDouble)
      rec.add(op, "bytes_written", m.outputMetrics.bytesWritten.toDouble)
      rec.add(op, "records_written", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  // job span ids live in their own range so stage spans can name them
  private def jobSpanId(jobId: Int): Long = -1000000L - jobId

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val t = rec.fromEpochMs(ph.values.map(_.startTimeMs).min)
      rec.opAt(t).foreach { o =>
        rec.add(o.id, "actions", 1)
        for ((name, p) <- ph)
          rec.add(o.id, s"${name}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
      }
    }
  }
}

object SparkTracer {
  val Prop = "perfbench.span"

  private final case class JobInfo(span: Long, op: Long, start: Double)

  /** Run `body` with tracing listeners attached, draining the listener bus
    * before detaching so every event of the pass is attributed. */
  def around[T](spark: SparkSession, rec: Recorder)(body: => T): T = {
    val t = new SparkTracer(rec)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    try body
    finally {
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(t)
      spark.sparkContext.removeSparkListener(t)
    }
  }
}
