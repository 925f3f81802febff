package perfbench

/** Hands every output check a deliberately wrong result and fails unless
  * the check rejects it (and accepts the right one). Run by
  * `perfbench/smoke.py`; needs no Spark session. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var bad = List.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) bad ::= s"$what: got $got, want $want"

    // serve: /predict score against the closed form, /explain payloads
    val lin = (Seq.tabulate(30)(i => 0.01 * (i % 7 - 3)), Seq.fill(30)(0.0), -0.5)
    val x = Array.tabulate(30)(i => math.sin(i + 1.0))
    val right = Serve.expectedScore(lin, x)
    expect("predict right", Serve.checkPredict(lin, x, 200, s"""{"score":$right}"""), None)
    expect("predict wrong score",
      Serve.checkPredict(lin, x, 200, s"""{"score":${right + 1e-3}}"""), Some("predict_wrong_score"))
    expect("predict refused", Serve.checkPredict(lin, x, 503, "{}"), Some("predict_http_503"))
    expect("explain right", Serve.checkExplain(200, """{"shap_values":{}}"""), None)
    expect("explain missing", Serve.checkExplain(404, "{}"), Some("explain_missing"))
    expect("explain malformed", Serve.checkExplain(200, "{}"), Some("explain_malformed"))

    // stream: store contents against the produced ids and kernel scores
    val want = Map("a" -> 0.25, "b" -> 0.5)
    val good = Seq(("a", "COMPLETED", 0.25), ("b", "COMPLETED", 0.5))
    expect("store right", Stream.checkStore(good, want), Map.empty)
    expect("store missing", Stream.checkStore(good.take(1), want).keySet, Set("stream_missing"))
    expect("store duplicate", Stream.checkStore(good :+ good.head, want).keySet, Set("stream_duplicate"))
    expect("store wrong score", Stream.checkStore(Seq(good.head, ("b", "COMPLETED", 0.51)), want).keySet,
      Set("stream_wrong_score"))
    expect("store failed row", Stream.checkStore(Seq(good.head, ("b", "FAILED", Double.NaN)), want).keySet,
      Set("stream_not_completed"))
    expect("store stray id", Stream.checkStore(good :+ (("z", "COMPLETED", 0.1)), want).keySet,
      Set("stream_unexpected_id"))
    // an offset no committed trigger covers has no latency
    expect("uncommitted offset", Stream.latencies(Seq((0L, 10L, 1000L)), Map(5L -> 900L, 12L -> 900L)),
      Map(5L -> Some(100.0), 12L -> None))
    // the tree walk the stream check trusts agrees with a one-node ensemble
    val stump = graft.xai.GbtAttr.FlatTrees(Array(0), Array(0, -1, -1), Array(0.0, 0.0, 0.0),
      Array(1, -1, -1), Array(2, -1, -1), Array(0.0, -0.5, 0.5), Array(1.0))
    expect("tree walk", Load.gbtScore(stump, Array(1.0)), 0.731059)

    // analytics: the training gate
    expect("auc pass", Analytics.checkAuc(0.99), None)
    expect("auc fail", Analytics.checkAuc(0.6), Some("train_auc_gate"))

    bad.reverse.foreach(b => System.err.println(s"SELFTEST FAIL $b"))
    println(if (bad.isEmpty) "SELFTEST OK" else s"SELFTEST FAILED ${bad.size}")
    sys.exit(if (bad.isEmpty) 0 else 1)
  }
}
