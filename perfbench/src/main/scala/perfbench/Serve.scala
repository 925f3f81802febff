package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{HttpApi, Metrics, ScoringService, Tracing}
import graft.ml.FraudPipeline
import graft.streaming.ScoringStream
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession

/** The HTTP half of `online`: callers of `HttpApi` over `ScoringService`
  * — a closed loop for the steady load, open loops at fixed rates for the
  * sweep. Mostly `POST /predict` (a score job plus a
  * one-directory store write), with `GET /explain/{id}` reads of
  * acknowledged ids skewed toward the newest. Every rung starts from an
  * identical store pre-seeded with a fixed history; the store grows by one
  * directory per predict with no compaction. */
object Serve {
  /** Callers of the steady load, each waiting for its reply. */
  val callers = 2
  /** Requests per second of the sweep's rungs. On a 4-core host one
    * predict costs ~0.5–0.8 s of Spark jobs and the API's four threads
    * top out near 5 predicts/s. */
  val rates = Seq(1.5, 3.0, 4.5)
  val explainShare = 0.4
  val historyRows = 200

  private val mapper = new ObjectMapper
  private val feats = FraudPipeline.featureNames

  final case class Call(kind: String, id: String, rate: Double, due: Long, sent: Long,
      end: Long, status: Int, corrId: String)

  def http(port: Int, method: String, path: String, body: String): (Int, String, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (code, text, c.getHeaderField("X-Correlation-ID"))
  }

  def predictBody(id: String, x: Array[Double]): String =
    s"""{"transaction_id":"$id","features":[${x.mkString(",")}]}"""

  /** The closed form every `/predict` score must equal. */
  def expectedScore(lin: (Seq[Double], Seq[Double], Double), x: Array[Double]): Double = {
    val (coefs, _, b0) = lin
    1.0 / (1.0 + math.exp(-(b0 + coefs.indices.map(i => coefs(i) * x(i)).sum)))
  }

  /** Checks one `/predict` response; returns the failure cause, if any. */
  def checkPredict(lin: (Seq[Double], Seq[Double], Double), x: Array[Double],
      status: Int, body: String): Option[String] =
    if (status != 200) Some(s"predict_http_$status")
    else {
      val score = mapper.readTree(body).get("score").asDouble(Double.NaN)
      if (math.abs(score - expectedScore(lin, x)) > 1e-6) Some("predict_wrong_score") else None
    }

  /** Checks one `/explain/{id}` response for an acknowledged id. */
  def checkExplain(status: Int, body: String): Option[String] =
    if (status == 404) Some("explain_missing")
    else if (status != 200) Some(s"explain_http_$status")
    else if (!mapper.readTree(body).has("shap_values")) Some("explain_malformed")
    else None

  /** Latencies (ms, from when each request was due; in a closed loop,
    * from when it was sent) of one kind's successful calls. */
  def ms(calls: Seq[Call], kind: String): Seq[Double] =
    calls.filter(c => c.kind == kind && c.status == 200).map(c => (c.end - c.due) / 1e6)

  def storeDirs(dir: String): Int = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("batch=")) finally s.close()
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val w = java.nio.file.Files.walk(src)
    try w.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally w.close()
  }

  /** One run's HTTP side: the served model, the history template, and the
    * open-loop client. */
  final class Side(spark: SparkSession, a: Main.Args, res: Harness.Result) {
    private val rng = new scala.util.Random(a.seed)
    private var model: PipelineModel = _
    private var template: String = _
    /** The served model's closed form on raw features (ScoringService). */
    var linear: (Seq[Double], Seq[Double], Double) = _
    private var stores = 0

    /** Set-up: fit the served model, write the history every rung starts
      * from, bring an API up over it (and down again). */
    def setup(i: Int): Unit = {
      model = FraudPipeline.logisticPipeline(feats, maxIter = 5)
        .fit(Analytics.trainingInput(spark, 42L, rows = 1000))
      template = s"${a.work}/serve-template-$i"
      val store = new ScoringStream.ResultStore(template)
      val svc = new ScoringService(spark, model, feats, store)
      linear = svc.linearForm
      // the history: explanations of earlier transactions, written the
      // way predict writes them, as one directory
      val hr = new scala.util.Random(11L)
      val (coefs, mu, b0) = linear
      import spark.implicits._
      val hist = (0 until historyRows).map(h => (s"h$h", feats.zip(Load.features(hr)).toMap))
        .toDF("transaction_id", "features")
      store.upsertLabeled(ScoringStream.scoreBatch(hist, feats, coefs, mu, b0),
        "history", ScoringStream.nextWriteStamp())
      new HttpApi(svc, new Metrics.Registry).start().stop()
    }

    /** A fresh store copied from the template, and an API over it. */
    private def freshApi(tracer: Tracing.Recorder): (HttpApi, String) = {
      stores += 1
      val dir = s"${a.work}/serve-store-$stores"
      copyTree(template, dir)
      val svc = new ScoringService(spark, model, feats, new ScoringStream.ResultStore(dir))
      (new HttpApi(svc, new Metrics.Registry, 0, tracer).start(), dir)
    }

    private val history = (0 until historyRows).map(h => s"h$h")

    /** One request: a predict of `x` under `id`, or (x == null) an
      * explain of an acknowledged id picked by `u`, skewed toward the
      * newest. Checked when `check`; a successful predict's id joins
      * `acked`. */
    private def call(api: HttpApi, id: String, x: Array[Double], u: Double, rate: Double,
        due: Long, acked: CopyOnWriteArrayList[String], calls: ConcurrentLinkedQueue[Call],
        check: Boolean): Unit = {
      val kind = if (x != null) "predict" else "explain"
      val sent = System.nanoTime()
      res.attempt()
      try {
        if (x != null) {
          val (st, body, corr) = http(api.boundPort, "POST", "/predict", predictBody(id, x))
          calls.add(Call(kind, id, rate, due, sent, System.nanoTime(), st, corr))
          if (check) checkPredict(linear, x, st, body).foreach(c => res.fail(c, s"$id: $body"))
          if (st == 200) acked.add(id)
        } else {
          val n = acked.size
          val pick = acked.get(n - 1 - math.min(n - 1, (n * u * u * u).toInt))
          val (st, body, corr) = http(api.boundPort, "GET", s"/explain/$pick", null)
          calls.add(Call(kind, pick, rate, due, sent, System.nanoTime(), st, corr))
          if (check) checkExplain(st, body).foreach(c => res.fail(c, s"$pick: $body"))
        }
      } catch { case e: Throwable => res.fail(s"${kind}_error", e.toString) }
    }

    /** One open-loop rung on its own fresh store: the calls, the
      * scheduler's lateness, the API (still up) and its store. */
    def rung(rate: Double, seconds: Double, tag: String): (Seq[Call], Array[Double], HttpApi, String) = {
      val (api, dir) = freshApi(new Tracing.Recorder)
      val acked = new CopyOnWriteArrayList[String](history.asJava)
      val calls = new ConcurrentLinkedQueue[Call]()
      val pool = Load.clients(a.cores)
      val plan = (0 until math.max(1, (rate * seconds).round.toInt)).map { i =>
        if (rng.nextDouble() < explainShare) (null, null, rng.nextDouble())
        else (s"$tag-$i-${rng.nextInt(1 << 30)}", Load.features(rng), 0.0)
      }
      val late = Load.openLoop(rate, seconds, System.nanoTime() + 20000000L) { (i, due) =>
        val (id, x, u) = plan(i)
        pool.execute(() => call(api, id, x, u, rate, due, acked, calls, check = true))
      }
      Load.await(pool)
      (calls.asScala.toSeq, late, api, dir)
    }

    /** [[callers]] clients in a closed loop on a fresh store for `seconds`,
      * each sending its next request when the last is answered: the
      * calls, the API (still up) and its store. */
    def closed(seconds: Double, tag: String, check: Boolean,
        tracer: Tracing.Recorder = new Tracing.Recorder): (Seq[Call], HttpApi, String) = {
      val (api, dir) = freshApi(tracer)
      val acked = new CopyOnWriteArrayList[String](history.asJava)
      val calls = new ConcurrentLinkedQueue[Call]()
      val pool = Load.clients(callers)
      val end = System.nanoTime() + (seconds * 1e9).toLong
      (0 until callers).foreach { c =>
        val r = new scala.util.Random(rng.nextLong())
        pool.execute { () =>
          var i = 0
          while (System.nanoTime() < end) {
            if (r.nextDouble() < explainShare) call(api, null, null, r.nextDouble(), 0.0,
              System.nanoTime(), acked, calls, check)
            else call(api, s"$tag-$c-$i", Load.features(r), 0.0, 0.0,
              System.nanoTime(), acked, calls, check)
            i += 1
          }
        }
      }
      Load.await(pool)
      (calls.asScala.toSeq, api, dir)
    }

    /** Every acknowledged id must be readable through `/explain`. */
    def verifyAcked(api: HttpApi, calls: Seq[Call]): Unit = {
      val ids = calls.filter(c => c.kind == "predict" && c.status == 200).map(_.id)
      val pool = Load.clients(a.cores)
      ids.foreach { id =>
        pool.execute { () =>
          res.attempt()
          try {
            val (st, body, _) = http(api.boundPort, "GET", s"/explain/$id", null)
            checkExplain(st, body).foreach(c => res.fail(s"acked_$c", id))
          } catch { case e: Throwable => res.fail("acked_error", e.toString) }
        }
      }
      Load.await(pool)
    }

    /** The sweep: each rate for an equal share of `window`, each rung's
      * verdict in the stamp. Returns the highest rate whose P95 is within
      * the SLO and whose last request finished within a second of its due
      * time (no growing backlog). */
    def sweep(window: Double): Double = {
      val rungs = rates.map { rate =>
        val (calls, late, api, _) = rung(rate, window / rates.size, s"r$rate")
        (rate, calls, late, api)
      }.map { case (rate, calls, late, api) =>
        verifyAcked(api, calls)
        api.stop()
        val all = calls.filter(_.status == 200).map(c => (c.end - c.due) / 1e6)
        val lastDue = calls.map(_.due).maxOption.getOrElse(0L)
        val drained = calls.map(_.end).maxOption.forall(e => (e - lastDue) / 1e6 < 1000.0)
        val ok = drained && Harness.pct(all, 0.95) <= Online.sloMs
        res.stamp(s"http_rung_$rate") = java.util.Map.of("rate", rate, "n", calls.size,
          "p95_ms", Harness.pct(all, 0.95), "late_p99_ms", Harness.pct(late, 0.99),
          "drained", drained, "meets_slo", ok)
        (rate, calls, late, ok)
      }
      rungs.takeWhile(_._4).lastOption.map(_._1).getOrElse(0.0)
    }

    /** The traced closed loop, on a fresh store with the API's tracer on:
      * the calls, the API (still up, for [[tracedLayers]]), its store and
      * the tracer. */
    def tracedRung(seconds: Double): (Seq[Call], HttpApi, String, Tracing.Recorder) = {
      val tracer = new Tracing.Recorder
      val (calls, api, dir) = closed(seconds, "traced", check = true, tracer)
      verifyAcked(api, calls)
      (calls, api, dir, tracer)
    }

    /** Splits each traced predict into pool wait, HTTP self time, score
      * and store write (`execs`: the probe's records of the API session),
      * then sends requests one at a time for exact per-operation counts.
      * Call with nothing else running. Returns the traced predict median. */
    def tracedLayers(probe: Harness.Probe, calls: Seq[Call], api: HttpApi, dir: String,
        tracer: Tracing.Recorder, execs: Seq[Harness.Exec]): Double = {
      val spans = tracer.asDataFrame(spark).collect()
        .map(r => (r.getString(0), r.getString(2), r.getLong(5) - r.getLong(4)))
      val roots = spans.filter(_._2.isEmpty).map(s => s._1 -> s._3).toMap
      val childUs = spans.filter(_._2.nonEmpty).groupBy(_._1).map { case (t, xs) => t -> xs.map(_._3).sum }
      val pc = calls.filter(c => c.kind == "predict" && c.status == 200 && roots.contains(c.corrId))
      // client time − root span = the wait for the API's pool; root span −
      // its children = HTTP self time
      val queue = pc.map(c => (c.end - c.sent) / 1e6 - roots(c.corrId) / 1000.0)
      val self = pc.map(c => (roots(c.corrId) - childUs.getOrElse(c.corrId, 0L)) / 1000.0)
      val score = execs.filter(_.func == "head").map(_.ms)
      val writes = execs.filter(x => Main.writeActions(x.func)).map(_.ms)
      val reads = execs.filter(_.func == "collect").map(_.ms)
      val tp = Harness.median(ms(calls, "predict"))
      res.layer("api.queue_p50_ms", Harness.median(queue), "ms")
      res.layer("api.queue_p99_ms", Harness.pct(queue, 0.99), "ms")
      res.layer("api.http_self_p50_ms", Harness.median(self), "ms")
      res.layer("api.score_p50_ms", Harness.median(score), "ms")
      res.layer("api.score_p99_ms", Harness.pct(score, 0.99), "ms")
      res.layer("api.store_write_p50_ms", Harness.median(writes), "ms")
      res.layer("api.store_write_p99_ms", Harness.pct(writes, 0.99), "ms")
      res.layer("api.store_dirs", storeDirs(dir).toDouble, "count")
      res.layer("streaming.store_read_p50_ms", Harness.median(reads), "ms")
      res.layer("streaming.store_read_p99_ms", Harness.pct(reads, 0.99), "ms")
      res.extra("predict_accounting") = java.util.Map.of(
        "predict_p50_ms", tp,
        "queue_p50_ms", Harness.median(queue), "http_self_p50_ms", Harness.median(self),
        "score_p50_ms", Harness.median(score), "store_write_p50_ms", Harness.median(writes),
        "gap_ms", tp - Harness.median(queue) - Harness.median(self) -
          Harness.median(score) - Harness.median(writes))

      val sr = new scala.util.Random(a.seed + 2)
      val perPredict = (1 to 5).map { i =>
        val c0 = probe.counts()
        http(api.boundPort, "POST", "/predict", predictBody(s"probe-$i", Load.features(sr)))
        probe.counts() - c0
      }
      probe.takeExecs()
      val perExplain = (1 to 5).map { i =>
        val c0 = probe.counts()
        http(api.boundPort, "GET", s"/explain/probe-$i", null)
        val d = probe.counts() - c0
        val x = probe.takeExecs().filter(_.func == "collect")
        (d, x.map(_.files).sum, x.map(_.scanRows).sum)
      }
      api.stop()
      res.layer("api.jobs_per_predict", Harness.median(perPredict.map(_.jobs.toDouble)), "count")
      res.layer("api.tasks_per_predict", Harness.median(perPredict.map(_.tasks.toDouble)), "count")
      res.layer("streaming.jobs_per_explain", Harness.median(perExplain.map(_._1.jobs.toDouble)), "count")
      res.layer("streaming.files_per_explain", Harness.median(perExplain.map(_._2.toDouble)), "count")
      // rows the scan examined per row returned (each read returns one)
      res.layer("streaming.rows_per_explain", Harness.median(perExplain.map(_._3.toDouble)), "ratio")
      tp
    }
  }
}
