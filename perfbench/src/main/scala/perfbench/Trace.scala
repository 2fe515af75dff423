package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of the traced run, fed by Spark's public listeners
  * and the JVM's MXBeans. Counters are summed over one round and read at
  * its end. Untimed checks run between `pause` and `resume`, so their jobs
  * are not counted.
  */
final class Trace(spark: SparkSession, nproc: Int) {
  import Trace._

  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  @volatile private var paused = false

  private def add(k: String, v: Double): Unit =
    if (!paused) sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("sched.jobs", 1)
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty(PhaseKey) == BuildPhase))
        add("operators.driver_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        add("sched.delay_ms", (delay + m.executorDeserializeTime).toDouble)
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        if (m.inputMetrics.bytesRead > 0) {
          add("scan.tasks", 1)
          add("scan.input_mb", m.inputMetrics.bytesRead / MB)
        }
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.mem_mb", m.memoryBytesSpilled / MB)
        add("spill.disk_mb", m.diskBytesSpilled / MB)
        add("write.output_mb", m.outputMetrics.bytesWritten / MB)
        add("write.output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("planning.analysis_ms", ms("analysis"))
      add("planning.optimization_ms", ms("optimization"))
      add("planning.physical_ms", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.offset_ms", d("latestOffset") + d("getBatch"))
      add("streaming.plan_ms", d("queryPlanning"))
      add("streaming.addbatch_ms", d("addBatch"))
      add("streaming.commit_ms", d("walCommit") + d("commitOffsets"))
      p.stateOperators.foreach { so =>
        add("streaming.state_rows", so.numRowsTotal.toDouble)
        add("streaming.state_commit_ms", so.commitTimeMs.toDouble)
      }
    }
  })

  private val threads = ManagementFactory.getThreadMXBean
  private var gc0 = 0.0

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def pause(): Unit = { drain(); paused = true }
  def resume(): Unit = { drain(); paused = false }

  def roundStart(): Unit = {
    drain()
    sums.clear()
    gc0 = gcSeconds()
    threads.resetPeakThreadCount()
  }

  /** Every per-layer metric of the round that just ended, zero where the
    * round did not use a layer. `timedS` is the round's timed wall time.
    */
  def roundEnd(timedS: Double, extra: Map[String, Double]): Map[String, Double] = {
    drain()
    val got = sums.asScala.map { case (k, v) => k -> v.sum }.toMap ++ extra
    val derived = Map(
      "sched.core_idle_s" -> (nproc * timedS - got.getOrElse("exec.run_s", 0.0)),
      "jvm.gc_s" -> (gcSeconds() - gc0),
      "jvm.threads_peak" -> threads.getPeakThreadCount.toDouble)
    Names.map(n => n -> derived.getOrElse(n, got.getOrElse(n, 0.0))).toMap
  }
}

object Trace {
  /** Local property that marks the jobs a query function starts while it
    * builds its DataFrame, before the benchmark's terminal action.
    */
  val PhaseKey = "perfbench.phase"
  val BuildPhase = "build"
  private val MB = 1024.0 * 1024.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The per-layer metric names, in the order BENCHMARK.json lists them. */
  val Names: Seq[String] = Seq(
    "operators.build_ms", "operators.driver_jobs",
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_ms", "sched.core_idle_s",
    "scan.input_mb", "scan.tasks",
    "exec.run_s", "exec.cpu_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms",
    "spill.mem_mb", "spill.disk_mb",
    "write.output_mb", "write.output_rows",
    "streaming.batches", "streaming.offset_ms", "streaming.plan_ms",
    "streaming.addbatch_ms", "streaming.commit_ms",
    "streaming.state_rows", "streaming.state_commit_ms",
    "jvm.gc_s", "jvm.threads_peak")
}
