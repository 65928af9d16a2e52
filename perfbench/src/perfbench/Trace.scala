package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation of a workload. `build`, `plan` and `exec` are the
  * three contiguous phases of a DataFrame-returning call: the call
  * itself, forcing the physical plan of its `.count()` aggregate, and
  * running that plan. An eager verb (a commit) is all `build`. */
final case class Op(id: Int, round: Int, kind: String, name: String,
    startMs: Long, wall: Double, build: Double, plan: Double, exec: Double,
    rows: Long, ok: Boolean, err: String,
    exchanges: Int = 0, reused: Int = 0) {
  def endMs: Long = startMs + math.round(wall * 1000)
}

/** Clock and closed-loop operation runner. Untraced, an operation is
  * `build` + `.count()` timed as one; traced, the count is split into
  * plan and exec, and the listener bus is drained after the operation
  * so its Spark events can be attributed to it by time window. */
final class Runner(spark: SparkSession, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = 0

  private def now(): Long = System.nanoTime()
  private def sec(a: Long, b: Long): Double = (b - a) / 1e9

  private def record(round: Int, kind: String, name: String, startMs: Long,
      t0: Long, t1: Long, t2: Long, t3: Long, rows: Long, err: Throwable,
      exch: Int = 0, reused: Int = 0): Op = {
    val op = Op(nextId, round, kind, name, startMs, sec(t0, t3), sec(t0, t1),
      sec(t1, t2), sec(t2, t3), rows, err == null,
      if (err == null) "" else String.valueOf(err.getMessage).linesIterator.nextOption().getOrElse(""),
      exch, reused)
    nextId += 1
    ops += op
    if (traced) org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    if (err != null) System.err.println(s"[perfbench] $kind $name FAILED: ${op.err}")
    op
  }

  private def fatal(e: Throwable): Throwable =
    if (scala.util.control.NonFatal(e)) e else throw e

  /** A DataFrame-returning operation, triggered with `.count()`. */
  def query(round: Int, kind: String, name: String)(build: => DataFrame): Op = {
    val startMs = System.currentTimeMillis()
    val t0 = now()
    var t1 = t0; var t2 = t0; var rows = -1L; var err: Throwable = null
    var exch = 0; var reused = 0
    try {
      val df = build
      t1 = now(); t2 = t1
      if (traced) {
        val cdf = df.groupBy().count()
        cdf.queryExecution.executedPlan
        t2 = now()
        rows = cdf.collect()(0).getLong(0)
        val (e, r) = Plans.exchanges(cdf.queryExecution.executedPlan)
        exch = e; reused = r
      } else rows = df.count()
    } catch { case e: Throwable => err = fatal(e) }
    val t3 = now()
    if (t1 == t0) { t1 = t3; t2 = t3 } else if (!traced) t2 = t1
    record(round, kind, name, startMs, t0, t1, t2, t3, rows, err, exch, reused)
  }

  /** An eager operation (commit, stream drain, cache build). */
  def eager(round: Int, kind: String, name: String)(body: => Long): Op = {
    val startMs = System.currentTimeMillis()
    val t0 = now()
    var rows = -1L; var err: Throwable = null
    try rows = body catch { case e: Throwable => err = fatal(e) }
    val t1 = now()
    record(round, kind, name, startMs, t0, t1, t1, t1, rows, err)
  }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** (exchanges, reused exchanges) in the final physical plan, AQE
    * stages and subqueries included. */
  def exchanges(p: SparkPlan): (Int, Int) = {
    val ex = collectWithSubqueries(p) { case e: Exchange => e }.size
    val re = collectWithSubqueries(p) { case r: ReusedExchangeExec => r }.size
    (ex, re)
  }
}

/** Spark events of the traced run. Jobs are attributed to operations by
  * submission time after the run, so nothing here depends on which
  * operation happens to be running when an event is delivered. */
final class StageAcc {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
}
final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

final class Listener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAcc]
  val completedStages = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    completedStages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Micro-batches of every streaming query in the traced run. */
final class StreamListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[(Long, Double)] // (timestamp ms, trigger s)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches += ((ts, trig / 1e3))
  }
}
