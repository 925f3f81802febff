package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `online`: the serving system as deployed — the HTTP API and the
  * broker-fed scoring stream on one driver, loaded at once: two callers
  * in a closed loop on the API, an open loop of events at a fixed rate on
  * the broker (see [[Serve]] and [[Stream]]). The traced run adds a sweep
  * of both over a few fixed rates for the highest one within the SLO.
  * Per-request Spark jobs, the HTTP pool, the result store's read and
  * write paths, the trigger machinery and the tree-attribution kernel do
  * the work; query planning of the batch surface does none. */
object Online {
  /** The reference's serving latency limit (P95). */
  val sloMs = 500.0

  private def par[A, B](fa: => A, fb: => B): (A, B) = {
    val f = java.util.concurrent.CompletableFuture.supplyAsync(() => fa)
    val b = fb
    (f.join(), b)
  }

  /** Both loads at once for `seconds`: the HTTP callers' calls
    * (acknowledged ids then read back), and the produced offsets with the
    * producer's lateness. */
  private def steady(http: Serve.Side, stream: Stream.Side, seconds: Double, tag: String) = {
    val ((calls, api, _), (offs, late)) =
      par(http.closed(seconds, tag, check = true), stream.rung(Stream.rate, seconds, tag))
    http.verifyAcked(api, calls)
    api.stop()
    (calls, (offs, late.toSeq))
  }

  def run(spark: SparkSession, a: Main.Args, res: Harness.Result): Unit = {
    val http = new Serve.Side(spark, a, res)
    val stream = new Stream.Side(spark, a, res)
    res.mark("session")
    // ---- set-up: the served model, the API's history store, and the
    // running stream
    val setups = (1 to 3).map(i => Harness.timed { http.setup(i); stream.setup(i) }._2)
    res.metric("setup_s", Harness.median(setups), "s")
    res.mark("setup")

    // ---- warm-up (untimed), both loads at once, long enough for the JIT
    // to settle: after 1.5 s, predict latency still fell by a third across
    // the measured window
    par(http.closed(6.0, "warm", check = false)._2.stop(), stream.rung(Stream.rate, 6.0, "warm"))
    res.mark("warmup")

    // ---- measure: both loads at once at their steady rates, then the
    // stream's drain capacity
    val host = new Harness.HostWindow
    val window = if (a.trace) a.seconds / 2 else a.seconds
    val (calls, (offs, streamLate)) = steady(http, stream, window, "m")
    res.mark("steady")
    val capacity = stream.capacity()
    res.mark("capacity")

    val p = Serve.ms(calls, "predict")
    val e = Serve.ms(calls, "explain")
    val ev = stream.latencyOf(offs)
    res.metric("p50_ms", Harness.median(p), "ms")
    res.metric("secondary_ms", Harness.median(e), "ms")
    res.metric("tertiary_ms", Harness.median(ev), "ms")
    res.metric("capacity_ops_s", capacity, "1/s")
    res.rep("predict_p50_ms", Harness.median(p), "ms")
    res.rep("predict_p99_ms", Harness.pct(p, 0.99), "ms")
    res.rep("explain_p50_ms", Harness.median(e), "ms")
    res.rep("explain_p99_ms", Harness.pct(e, 0.99), "ms")
    res.rep("event_e2e_p50_ms", Harness.median(ev), "ms")
    res.rep("event_e2e_p95_ms", Harness.pct(ev, 0.95), "ms")
    res.rep("event_e2e_p99_ms", Harness.pct(ev, 0.99), "ms")
    res.stamp("samples") = java.util.Map.of("predict", p.size, "explain", e.size, "event", ev.size)
    res.stamp("late_p99_ms") = Harness.pct(streamLate, 0.99)
    res.stamp("steal_ms") = host.stealMs
    res.stamp("safepoint_ms") = host.safepointMs
    res.layer("streaming.store_dirs", Serve.storeDirs(stream.store.path).toDouble, "count")
    res.layer("gen.late_p99_ms", Harness.pct(streamLate, 0.99), "ms")
    res.layer("host.steal_ms", host.stealMs.toDouble, "ms")
    res.layer("host.safepoint_ms", host.safepointMs.toDouble, "ms")
    res.metric("heap_live_mb", Harness.liveHeapMb(), "MB")
    stream.check()
    res.mark("checked")

    if (a.trace) {
      // a stream's batches run in a session cloned when it starts, which
      // carries only the listeners registered before: the traced phase
      // gets its own query, started after the probe
      val probe = new Harness.Probe(spark).install()
      stream.setup(4)
      stream.rung(Stream.rate, 1.0, "warm-traced")
      probe.takeExecs()
      probe.progress.clear()
      val c0 = probe.counts()
      val ((tcalls, api, dir, tracer), (toffs, _)) =
        par(http.tracedRung(window), stream.rung(Stream.rate, window, "traced"))
      val d = probe.counts() - c0
      val execs = probe.takeExecs()
      val te = stream.tracedLayers(toffs, probe.progress.asScala.toSeq, execs.filterNot(_.mainSession), d)
      val tp = http.tracedLayers(probe, tcalls, api, dir, tracer, execs.filter(_.mainSession))
      probe.remove()
      res.layer("trace_overhead_ratio", tp / Harness.median(p), "ratio")
      res.layer("streaming.trace_overhead_ratio", te / Harness.median(ev), "ratio")
      val (g, l) = Load.kernelUsPerRow(spark)
      res.layer("xai.gbt_us_per_row", g, "us")
      res.layer("xai.linear_us_per_row", l, "us")
      res.mark("traced")
      // the rate sweep: both loads stepped up together, each rung's
      // verdict in the stamp
      val (httpMax, streamMax) = par(http.sweep(a.seconds), stream.sweep(a.seconds))
      res.layer("api.max_rate_ops_s", httpMax, "1/s")
      res.layer("streaming.max_rate_ops_s", streamMax, "1/s")
      res.rep("api.max_rate_ops_s", httpMax, "1/s")
      res.rep("streaming.max_rate_ops_s", streamMax, "1/s")
      stream.check()
      res.mark("sweep")
    }
    stream.stop()
  }
}
