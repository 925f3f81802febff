package perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.api.Metrics
import graft.ml.FraudPipeline
import graft.streaming.{BrokerSourceProvider, MiniBroker, MiniBrokerClient, ScoringStream, StreamOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The broker half of `online`: an open loop producing stamped
  * transactions into `MiniBroker`, read by `BrokerSource`, decoded by
  * `StreamOps.kafkaQueueDecode` and scored by a 100-tree depth-5 ensemble
  * through `ScoringStream.attachGbt` into a compacting `ResultStore`. All
  * write path and trigger machinery, with the heavy tree-attribution
  * kernel; no HTTP and no point read. */
object Stream {
  /** Events per second: the steady rate, and the sweep's rungs. */
  val rate = 150.0
  val rates = Seq(100.0, 300.0, 900.0)
  val maxPerTrigger = 500
  val compactEvery = 20
  val backlogRows = 4000
  val topic = "tx"

  private val feats = FraudPipeline.featureNames

  private def payload(id: String, x: Array[Double]): Array[Byte] =
    feats.indices.map(i => s""""${feats(i)}":${x(i)}""")
      .mkString(s"""{"transaction_id":"$id","features":{""", ",", "}}")
      .getBytes(StandardCharsets.UTF_8)

  private def offsetOf(json: String): Long =
    if (json == null || json == "null") 0L else json.trim.toLong

  /** Commit time (epoch ms) and offset range of every trigger that read
    * input: the trigger's start plus its full duration. */
  def commits(ps: Seq[StreamingQueryProgress]): Seq[(Long, Long, Long)] =
    ps.filter(_.numInputRows > 0).map { p =>
      val s = p.sources.head
      (offsetOf(s.startOffset), offsetOf(s.endOffset),
        java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
    }.sortBy(_._1)

  /** Creation stamp → commit latency per produced offset, or None when no
    * committed trigger covers it. */
  def latencies(cs: Seq[(Long, Long, Long)], stamped: Map[Long, Long]): Map[Long, Option[Double]] = {
    val starts = cs.map(_._1).toArray
    stamped.map { case (off, createdMs) =>
      val i = java.util.Arrays.binarySearch(starts, off) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      off -> (if (i >= 0 && off < cs(i)._2) Some((cs(i)._3 - createdMs).toDouble) else None)
    }
  }

  /** The store must hold every produced id exactly once, COMPLETED, with
    * the score the kernel's rule gives; returns failures by cause. */
  def checkStore(rows: Seq[(String, String, Double)], expected: Map[String, Double]): Map[String, Int] = {
    val byId = rows.groupBy(_._1)
    val missing = expected.keys.count(k => !byId.contains(k))
    val dup = byId.count(_._2.size > 1)
    val notDone = rows.count(_._2 != "COMPLETED")
    val wrong = rows.count(r => expected.get(r._1).exists(e => math.abs(e - r._3) > 2e-6))
    val extra = byId.keys.count(k => !expected.contains(k))
    Map("stream_missing" -> missing, "stream_duplicate" -> dup, "stream_not_completed" -> notDone,
      "stream_wrong_score" -> wrong, "stream_unexpected_id" -> extra).filter(_._2 > 0)
  }

  /** One run's broker side: broker, query and store, and the producer. */
  final class Side(spark: SparkSession, a: Main.Args, res: Harness.Result) {
    private val rng = new scala.util.Random(a.seed + 7)
    private val trees = Load.trees()
    private val expected = new ConcurrentHashMap[String, Double]()
    // offset → creation stamp (epoch ms) of the current query's events
    private val stamps = new ConcurrentHashMap[Long, Long]()
    private val wall0 = System.currentTimeMillis()
    private val nano0 = System.nanoTime()
    private def wallMs(nanos: Long): Long = wall0 + (nanos - nano0) / 1000000L

    private var broker: MiniBroker = _
    private var producer: MiniBrokerClient = _
    var q: StreamingQuery = _
    var store: ScoringStream.ResultStore = _
    var registry: Metrics.Registry = _
    @volatile var backlogMax = 0L

    private def produce(id: String, x: Array[Double], createdMs: Long): Long = {
      expected.put(id, Load.gbtScore(trees, x))
      res.attempt()
      val off = producer.produce(topic, payload(id, x))
      stamps.put(off, createdMs)
      off
    }

    def stop(): Unit = if (q != null) { q.stop(); producer.close(); broker.close() }

    /** Set-up: broker, source, decode, scorer and store, started and
      * carried through one first trigger. */
    def setup(i: Int): Unit = {
      stop()
      expected.clear(); stamps.clear()
      broker = new MiniBroker()
      producer = new MiniBrokerClient("127.0.0.1", broker.port)
      val src = spark.readStream.format(classOf[BrokerSourceProvider].getName)
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", topic).option("maxPerTrigger", maxPerTrigger.toString).load()
      store = new ScoringStream.ResultStore(s"${a.work}/stream-store-$i")
      registry = new Metrics.Registry
      q = ScoringStream.attachGbt(StreamOps.kafkaQueueDecode(src), store,
        s"${a.work}/stream-ckpt-$i", feats, trees, compactEvery, registry)
      produce(s"setup-$i", Load.features(rng), System.currentTimeMillis())
      q.processAllAvailable()
    }

    private def committedEnd(): Long = Option(q.lastProgress)
      .map(p => offsetOf(p.sources.head.endOffset)).getOrElse(0L)

    /** One rung: the produced offsets and the scheduler's lateness; waits
      * until the stream has committed them. Backlog (produced, not yet
      * committed) is sampled as it goes. */
    def rung(rate: Double, seconds: Double, tag: String): (Seq[Long], Array[Double]) = {
      val offs = new ConcurrentLinkedQueue[Long]()
      val xs = Array.fill(math.max(1, (rate * seconds).round.toInt))(Load.features(rng))
      val late = Load.openLoop(rate, seconds, System.nanoTime() + 20000000L) { (i, due) =>
        val off = produce(s"$tag-$i", xs(i), wallMs(due))
        offs.add(off)
        if (i % 50 == 0) backlogMax = math.max(backlogMax, off + 1 - committedEnd())
      }
      q.processAllAvailable()
      (offs.asScala.toSeq, late)
    }

    /** Latency of each offset from this query's progress history. */
    def latencyOf(offs: Seq[Long], ps: Seq[StreamingQueryProgress] = q.recentProgress.toSeq): Seq[Double] = {
      val lat = latencies(commits(ps), offs.map(o => o -> stamps.get(o)).toMap)
      res.fail("stream_uncommitted", "produced offsets no trigger committed", lat.count(_._2.isEmpty))
      lat.values.flatten.toSeq
    }

    /** The sweep: each rate for an equal share of `window`, each rung's
      * verdict in the stamp. Returns the highest rate whose P95 is within
      * the SLO while its last event waited no longer than twice the SLO
      * (no growing backlog). */
    def sweep(window: Double): Double = {
      val rungs = rates.map(r => (r, rung(r, window / rates.size, s"r$r")))
      val ps = q.recentProgress.toSeq
      val per = rungs.map { case (rate, (offs, late)) =>
        val l = latencyOf(offs, ps)
        val last = latencies(commits(ps), Map(offs.max -> stamps.get(offs.max)))
          .values.flatten.headOption.getOrElse(Double.PositiveInfinity)
        val ok = Harness.pct(l, 0.95) <= Online.sloMs && last <= 2 * Online.sloMs
        res.stamp(s"stream_rung_$rate") = java.util.Map.of("rate", rate, "n", offs.size,
          "p50_ms", Harness.median(l), "p95_ms", Harness.pct(l, 0.95),
          "late_p99_ms", Harness.pct(late, 0.99), "meets_slo", ok)
        (rate, l, late, ok)
      }
      per.takeWhile(_._4).lastOption.map(_._1).getOrElse(0.0)
    }

    /** A backlog produced at once and drained in capped triggers: the
      * median trigger's rows per second (one in twenty triggers also
      * compacts the store). */
    def capacity(): Double = {
      val from = q.recentProgress.length
      val bx = Array.fill(backlogRows)(Load.features(rng))
      bx.indices.foreach(i => produce(s"cap-$i", bx(i), System.currentTimeMillis()))
      q.processAllAvailable()
      val ps = q.recentProgress.drop(from).filter(_.numInputRows > 0)
      Harness.median(ps.map(p => p.numInputRows * 1000.0 / p.durationMs.get("triggerExecution").longValue))
    }

    /** Output check (untimed): every id produced into this query's store
      * is there once, COMPLETED, with the expected score. */
    def check(): Unit = {
      q.processAllAvailable()
      val rows = spark.read.option("basePath", store.path).parquet(store.path)
        .select(col("transaction_id"), col("status"), col("prediction_score"))
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toSeq
      checkStore(rows, expected.asScala.toMap).foreach { case (cause, n) =>
        res.fail(cause, s"$n ids", n)
      }
    }

    /** Per-layer metrics of a traced rung: the listener's trigger
      * progress, the stream session's executions, and the job counts over
      * the rung. Returns the traced event median. */
    def tracedLayers(offs: Seq[Long], ps: Seq[StreamingQueryProgress],
        execs: Seq[Harness.Exec], d: Harness.Counts): Double = {
      val busy = ps.filter(_.numInputRows > 0)
      val tl = Harness.median(latencyOf(offs))
      def dur(k: String) = busy.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      val trig = dur("triggerExecution")
      val add = dur("addBatch")
      val writes = execs.filter(x => Main.writeActions(x.func)).map(_.ms)
      res.layer("streaming.trigger_p50_ms", Harness.median(trig), "ms")
      res.layer("streaming.trigger_p95_ms", Harness.pct(trig, 0.95), "ms")
      res.layer("streaming.add_batch_p50_ms", Harness.median(add), "ms")
      res.layer("streaming.add_batch_p95_ms", Harness.pct(add, 0.95), "ms")
      res.layer("streaming.latest_offset_p50_ms", Harness.median(dur("latestOffset")), "ms")
      res.layer("streaming.planning_p50_ms", Harness.median(dur("queryPlanning")), "ms")
      res.layer("streaming.wal_commit_p50_ms", Harness.median(dur("walCommit")), "ms")
      res.layer("streaming.commit_offsets_p50_ms", Harness.median(dur("commitOffsets")), "ms")
      res.layer("streaming.engine_share", (trig.sum - add.sum) / trig.sum, "ratio")
      res.layer("streaming.xai_task_p95_ms",
        registry.histogram("xai_task_duration_seconds").percentile(0.95) * 1000, "ms")
      res.layer("streaming.rows_per_trigger", busy.map(_.numInputRows.toDouble).sum / busy.size, "count")
      res.layer("streaming.jobs_per_trigger", d.streamJobs.toDouble / busy.size, "count")
      res.layer("streaming.tasks_per_trigger", d.streamTasks.toDouble / busy.size, "count")
      res.layer("streaming.store_write_p50_ms", Harness.median(writes), "ms")
      res.layer("streaming.store_write_p99_ms", Harness.pct(writes, 0.99), "ms")
      res.layer("streaming.backlog_max", backlogMax.toDouble, "count")
      res.extra("trigger_accounting") = java.util.Map.of(
        "event_e2e_p50_ms", tl,
        "trigger_p50_ms", Harness.median(trig), "add_batch_p50_ms", Harness.median(add),
        "engine_p50_ms", Harness.median(trig.zip(add).map { case (x, y) => x - y }),
        "gap_ms", tl - Harness.median(trig))
      tl
    }
  }
}
