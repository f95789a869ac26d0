package graftbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, gathered from outside graft through Spark's public
  * listeners and kept in memory: the task scheduler (`exec`, shuffle),
  * the planner (`driver`), and the micro-batch engine (`microbatch`,
  * `state`, file `source`). */
final class Trace(spark: SparkSession) {

  private val lock = new Object
  private var tasks = 0L
  private var runMs, gcMs, cpuNs, shufWriteB, shufWriteNs, shufReadB, fetchWaitMs, spillB = 0L
  private var singleTaskStageMs = 0L
  private val running = new AtomicInteger(0)
  private val peak = new AtomicInteger(0)
  private val phases = mutable.Map[String, Long]().withDefaultValue(0L)
  private val queries = new AtomicLong(0)
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      running.decrementAndGet()
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        tasks += 1
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        shufWriteNs += m.shuffleWriteMetrics.writeTime
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spillB += m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (i.numTasks == 1)
        for (s <- i.submissionTime; c <- i.completionTime)
          lock.synchronized { singleTaskStageMs += c - s }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      val ph = qe.tracker.phases
      lock.synchronized { ph.foreach { case (k, v) => phases(k) += v.durationMs } }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Detach, after giving the asynchronous listener bus time to deliver
    * the last events. */
  def close(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** The listener bus delivers asynchronously; wait until the counters
    * stop moving. */
  def settle(): Unit = {
    var last = -1L
    var cur = lock.synchronized(tasks + progress.size + queries.get)
    while (cur != last) {
      Thread.sleep(200)
      last = cur
      cur = lock.synchronized(tasks + progress.size + queries.get)
    }
  }

  /** Engine-layer metrics over everything seen so far; `wallS` is the
    * wall time the tasks ran in. */
  def metrics(wallS: Double): Seq[(String, Double)] = lock.synchronized {
    val data = progress.filter(_.numInputRows > 0).toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def meanDur(k: String) = mean(data.map(dur(_, k)))
    def ops(p: StreamingQueryProgress) = p.stateOperators.toSeq
    val last = data.lastOption
    Seq(
      ("exec.task_s", runMs / 1e3),
      ("exec.cpu_s", cpuNs / 1e9),
      ("exec.busy_cores", if (wallS > 0) runMs / 1e3 / wallS else 0.0),
      ("exec.tasks", tasks.toDouble),
      ("exec.peak_tasks", peak.get.toDouble),
      ("exec.gc_s", gcMs / 1e3),
      ("exec.single_task_stage_s", singleTaskStageMs / 1e3),
      ("shuffle.write_mb", shufWriteB / 1e6),
      ("shuffle.write_s", shufWriteNs / 1e9),
      ("shuffle.read_mb", shufReadB / 1e6),
      ("shuffle.fetch_wait_s", fetchWaitMs / 1e3),
      ("spill.mb", spillB / 1e6),
      ("driver.analysis_s", phases("analysis") / 1e3),
      ("driver.optimization_s", phases("optimization") / 1e3),
      ("driver.planning_s", phases("planning") / 1e3),
      ("driver.queries", queries.get.toDouble),
      ("microbatch.trigger_ms", meanDur("triggerExecution")),
      ("microbatch.add_batch_ms", meanDur("addBatch")),
      ("microbatch.query_planning_ms", meanDur("queryPlanning")),
      ("microbatch.wal_commit_ms", meanDur("walCommit")),
      ("microbatch.commit_offsets_ms", meanDur("commitOffsets")),
      ("microbatch.triggers", progress.size.toDouble),
      ("microbatch.empty_triggers", (progress.size - data.size).toDouble),
      ("source.latest_offset_ms", meanDur("latestOffset")),
      ("source.get_batch_ms", meanDur("getBatch")),
      ("state.commit_ms", mean(data.map(ops(_).map(_.commitTimeMs.toDouble).sum))),
      ("state.update_ms", mean(data.map(ops(_).map(_.allUpdatesTimeMs.toDouble).sum))),
      ("state.rows_total", last.map(ops(_).map(_.numRowsTotal.toDouble).sum).getOrElse(0.0)),
      ("state.memory_bytes", last.map(ops(_).map(_.memoryUsedBytes.toDouble).sum).getOrElse(0.0)),
      ("state.instances", last.map(ops(_).map(_.numStateStoreInstances.toDouble).sum).getOrElse(0.0)))
  }
}

object Trace {
  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    }.getOrElse(0.0)
}
