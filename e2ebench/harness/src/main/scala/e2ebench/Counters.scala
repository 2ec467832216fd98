package e2ebench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative scheduler and executor counters at one instant. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long,
    cpuNs: Long, gcMs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    shuffleBytes - o.shuffleBytes, cpuNs - o.cpuNs, gcMs - o.gcMs)
}

/** Counts what Spark's public listener interface reports: jobs, completed
  * stages, finished tasks, shuffle bytes (read + written), executor CPU
  * time and JVM GC time. Work is attributed to a request by the counter
  * delta over the request's time window, so callers that want exact
  * attribution issue one request at a time. */
final class Counters(spark: SparkSession) extends SparkListener {
  private val jobs, stages, tasks, shuffle, cpu, gc = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      cpu.addAndGet(m.executorCpuTime)
      gc.addAndGet(m.jvmGCTime)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(): Snap = {
    org.apache.spark.E2eBus.drain(spark.sparkContext)
    Snap(jobs.get, stages.get, tasks.get, shuffle.get, cpu.get, gc.get)
  }

  /** Runs `f` and returns its result, its wall time in ms and its counters. */
  def measure[T](f: => T): (T, Double, Snap) = {
    val before = snap()
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    (r, ms, snap() - before)
  }
}

/** One micro-batch of a streaming query, as `StreamingQueryProgress`
  * reports it. */
final case class Trigger(triggerMs: Double, planningMs: Double, addBatchMs: Double,
    walCommitMs: Double, stateRows: Double, stateCommitMs: Double)

/** Collects the progress of every micro-batch that read input. */
final class Progress extends StreamingQueryListener {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      triggers.add(Trigger(d("triggerExecution"), d("queryPlanning"), d("addBatch"),
        d("walCommit"), p.stateOperators.map(_.numRowsTotal).sum.toDouble,
        p.stateOperators.map(_.commitTimeMs).sum.toDouble))
    }
  }
}
