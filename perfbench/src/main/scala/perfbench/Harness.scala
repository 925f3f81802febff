package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What every workload shares: the session, timing statistics, the
  * result record the runner prints, and the traced-run probe. */
object Harness {

  /** The session `graft.Bench` builds, at local[cores]. Scratch space
    * (spark.local.dir, the warehouse) stays under the run's work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the stream workload reads per-trigger progress back after a run;
      // the default keeps only the last 100 triggers
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Nearest-rank percentile; NaN on an empty sample. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Live heap after a full collection, in MB. Called only outside timed
    * regions. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** The record one run hands to the runner: end-to-end metrics, the
    * traced per-layer metrics, the workload's own named report, the
    * operation tally with failures by cause, and the run stamp. */
  final class Result(val workload: String) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val stamp = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.LinkedHashMap.empty[String, Long]
    val failureSamples = mutable.ArrayBuffer.empty[String]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    private val attemptedN = new AtomicLong(0L)
    private val born = System.nanoTime()
    private val marks = mutable.LinkedHashMap.empty[String, Double]
    /** Stamps the run's timeline: seconds since the run began, by phase. */
    def mark(phase: String): Unit = {
      marks(phase) = math.round((System.nanoTime() - born) / 1e7) / 100.0
      stamp("timeline_s") = marks.asJava
    }

    def attempt(n: Long = 1L): Unit = { attemptedN.addAndGet(n); () }
    def attempted: Long = attemptedN.get()
    def fail(cause: String, detail: => String, n: Long = 1L): Unit = if (n > 0) synchronized {
      failures(cause) = failures.getOrElse(cause, 0L) + n
      if (failureSamples.size < 20) failureSamples += s"$cause: ${detail.take(300)}"
    }
    def failed: Long = synchronized(failures.values.sum)

    def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
    def rep(name: String, v: Double, unit: String): Unit = report(name) = (v, unit)

    def json: String = {
      val m = new ObjectMapper
      def vals(xs: mutable.LinkedHashMap[String, (Double, String)]) = {
        val n = m.createObjectNode()
        xs.foreach { case (k, (v, u)) =>
          val e = n.putObject(k)
          if (v.isNaN || v.isInfinite) e.putNull("value") else e.put("value", v)
          e.put("unit", u)
        }
        n
      }
      val root = m.createObjectNode()
      root.put("workload", workload)
      root.set("metrics", vals(metrics))
      root.set("layers", vals(layers))
      root.set("report", vals(report))
      root.put("attempted", attempted)
      root.put("failed", failed)
      root.set("failures", m.valueToTree(failures.asJava))
      root.set("failure_samples", m.valueToTree(failureSamples.asJava))
      root.set("stamp", m.valueToTree(stamp.asJava))
      root.set("extra", m.valueToTree(extra.asJava))
      m.writeValueAsString(root)
    }
  }

  /** The traced run's instruments: a SparkListener (jobs, stages, tasks,
    * task time, scan and shuffle bytes), a QueryExecutionListener (one
    * record per executed query: action name, duration, planning time,
    * files and rows its scans read) and a StreamingQueryListener (every
    * trigger's progress). Installed only in the traced run. */
  /** One executed query: its action, duration, planning time, the files
    * and rows its scans read, and whether it ran in the run's own session
    * (a stream's batches run in a clone). */
  final case class Exec(func: String, ms: Double, planMs: Double,
      files: Long, scanRows: Long, mainSession: Boolean)
  /** Listener totals; `streamJobs`/`streamTasks` are those a streaming
    * query submitted. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, inputBytes: Long, shuffleBytes: Long,
      streamJobs: Long, streamTasks: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskMs - o.taskMs, inputBytes - o.inputBytes,
      shuffleBytes - o.shuffleBytes, streamJobs - o.streamJobs, streamTasks - o.streamTasks)
  }

  final class Probe(spark: SparkSession) {

    private val jobs, stages, tasks, taskMs, inputBytes, shuffleBytes,
      streamJobs, streamTasks = new AtomicLong(0L)
    private val streamStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val execs = new ConcurrentLinkedQueue[Exec]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // a streaming query's thread tags every job it submits
        if (e.properties != null && e.properties.getProperty("sql.streaming.queryId") != null) {
          streamJobs.incrementAndGet()
          e.stageIds.foreach(streamStages.add)
        }
        ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (streamStages.contains(e.stageId)) streamTasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          inputBytes.addAndGet(m.inputMetrics.bytesRead)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        ()
      }
    }

    private val planHelper = new AdaptiveSparkPlanHelper {}
    private val execListener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum.toDouble
        val scans = planHelper.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
        def sum(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
        execs.add(Exec(func, durationNs / 1e6, planMs, sum("numFiles"), sum("numOutputRows"),
          qe.sparkSession eq spark))
        ()
      }
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def install(): Probe = {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(execListener)
      spark.streams.addListener(streamListener)
      this
    }
    def remove(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(execListener)
      spark.streams.removeListener(streamListener)
    }
    /** Waits until every event posted so far has reached the listeners. */
    def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    def counts(): Counts = {
      drain()
      Counts(jobs.get, stages.get, tasks.get, taskMs.get, inputBytes.get, shuffleBytes.get,
        streamJobs.get, streamTasks.get)
    }
    def takeExecs(): Seq[Exec] = {
      drain()
      Iterator.continually(execs.poll()).takeWhile(_ != null).toSeq
    }
  }

  /** Host interference over a measured phase: hypervisor steal and JVM
    * safepoint time (graft.HostStat; −1 where the host cannot tell). */
  final class HostWindow {
    private val s0 = graft.HostStat.stealMs()
    private val f0 = graft.HostStat.safepointMs()
    private val g0 = gcMs()
    def stealMs: Long = graft.HostStat.delta(s0, graft.HostStat.stealMs())
    def safepointMs: Long = graft.HostStat.delta(f0, graft.HostStat.safepointMs())
    def gcDeltaMs: Long = gcMs() - g0
  }
}
