package perfbench

import scala.collection.mutable

import graft.api.ScoringService
import graft.ml.{FraudPipeline, Smote}
import graft.streaming.ScoringStream
import graft.xai.LinearShap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `analytics`: one client in a closed loop over a cost-stratified
  * sample of `SparkEntry.queries`, each run cold once and then warm; the
  * traced run adds one training dataflow (stratified split → SMOTE →
  * 5-fold CV with in-fold SMOTE → fit → AUC → linear SHAP). Query
  * planning, job machinery and the ML fit do all the work; the api,
  * streaming and store layers do none. */
object Analytics {
  type Q = (SparkSession, String) => DataFrame

  /** The three query modules; a query's family is the module whose
    * `queries` map supplies it. */
  val families: Seq[(String, Map[String, Q])] = Seq(
    "queries" -> (graft.queries.RelationalQueries.queries ++ graft.queries.ExtQueries.queries),
    "llm" -> graft.llm.LlmQueries.queries,
    "ml" -> graft.ml.MlQueries.queries)

  /** The sample, with each query's family. Picked once from each
    * family's queries that run under 1 s warm on the sf0.001 tables (4
    * cores, best of two): the pool sorted by that time and cut into equal
    * strata, two for `queries` and `llm` and one for `ml`, one query drawn
    * from each. Warm seconds then: q59_coercion 0.114, q209_kde_amount
    * 0.481, q115_window_decontam 0.288, q119_bpe_encode 0.567,
    * q157_calibration 0.280. It is pinned rather than drawn per run: with
    * five queries a run, a per-seed draw moves the median query time by
    * ±10% between seeds, more than the regression bound, and a draw over
    * the query maps would land elsewhere whenever a query is added or
    * removed. The run's seed orders the sample and draws the training
    * data instead. */
  val sample: Seq[(String, String)] = Seq(
    "queries" -> "q59_coercion", "queries" -> "q209_kde_amount",
    "llm" -> "q115_window_decontam", "llm" -> "q119_bpe_encode",
    "ml" -> "q157_calibration")

  /** The analytics tables, read through the program's own loaders. */
  val tables: Seq[(SparkSession, String) => DataFrame] = {
    import graft.Tables._
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  def run(spark: SparkSession, a: Main.Args, res: Harness.Result): Unit = {
    val queries = families.toMap
    val (picked, missing) = sample.partition { case (fam, n) => queries(fam).contains(n) }
    missing.foreach { case (fam, n) =>
      res.attempt(); res.fail("query_missing", s"$n: no such query in $fam")
    }
    // the cold execution writes the result the runner checks against the
    // oracle; warm ones count it, as graft.Bench does
    def exec(fam: String, n: String, out: String = null): Unit =
      if (out == null) queries(fam)(n)(spark, a.data).count()
      else queries(fam)(n)(spark, a.data).write.mode("overwrite").parquet(out)
    res.stamp("queries") = sample.map(_._2).mkString(",")

    res.mark("session")
    // ---- set-up: what a session does before its first query — resolve
    // every table through graft.Tables (listing, footer, schema)
    val setups = (1 to 3).map { _ =>
      Harness.timed(tables.foreach(t => t(spark, a.data).schema))._2
    }
    res.metric("setup_s", Harness.median(setups), "s")
    spark.catalog.clearCache()

    res.mark("setup")
    // ---- prime: each sampled query once, cold, capturing its output, in
    // the sample's fixed order: the first pays the JVM's first-query cost
    val primeS = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val cold = mutable.ArrayBuffer.empty[Double]
    val ok = picked.filter { case (fam, n) =>
      res.attempt()
      try {
        val t = Harness.timed(exec(fam, n, s"${a.work}/out/$n"))._2
        primeS(fam) += t; cold += t * 1000; true
      }
      catch { case e: Throwable => res.fail("query_error", s"$n: $e"); false }
      finally spark.catalog.clearCache()
    }

    res.mark("prime")
    // ---- measure: whole rounds over the sample in the seed's order, warm,
    // until the window is spent (at least two, so each query has a best
    // of two)
    val order = new scala.util.Random(a.seed).shuffle(ok)
    def rounds(seconds: Double, each: (String, String) => Double): Seq[(String, String, Double)] = {
      val out = mutable.ArrayBuffer.empty[(String, String, Double)]
      val t0 = System.nanoTime()
      var last = 0.0
      var n = 0
      do {
        val r0 = System.nanoTime()
        order.foreach { case (fam, q) => out += ((fam, q, each(fam, q))) }
        last = (System.nanoTime() - r0) / 1e9
        n += 1
      } while (n < 2 || (System.nanoTime() - t0) / 1e9 + last <= seconds)
      out.toSeq
    }
    def plain(fam: String, n: String): Double = {
      res.attempt()
      val t = Harness.timed(exec(fam, n))._2
      spark.catalog.clearCache()
      t
    }
    val window = if (a.trace) a.seconds / 2 else a.seconds
    val host = new Harness.HostWindow
    val warm = rounds(window, plain)
    val ms = warm.map(_._3 * 1000)
    res.mark("warm")
    // each query's best warm time, as graft.Bench takes it: the host's
    // speed wanders by a quarter within seconds, the plan's cost does not
    val best = warm.groupBy(_._2).map { case (_, xs) => xs.map(_._3).min * 1000 }
    val geomean = math.exp(best.map(math.log).sum / best.size)
    res.metric("p50_ms", Harness.median(best), "ms")
    // the cold times are single shots early in a young JVM: a host
    // slowdown of a few seconds moves their median by a third, so they are
    // reported, not bounded
    res.metric("secondary_ms", geomean, "ms")
    res.metric("tertiary_ms", best.max, "ms")
    res.metric("capacity_ops_s", best.size / (best.sum / 1000), "1/s")
    res.stamp("steal_ms") = host.stealMs
    res.stamp("safepoint_ms") = host.safepointMs
    res.stamp("samples") = ms.size
    res.rep("query_total_s", best.sum / 1000, "s")
    res.rep("query_geomean_ms", geomean, "ms")
    res.rep("query_cold_p50_ms", Harness.median(cold), "ms")
    val perQuery = warm.groupBy(_._2).map { case (n, xs) => n -> Harness.median(xs.map(_._3)) }

    if (a.trace) {
      val probe = new Harness.Probe(spark).install()
      val per = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
      val traced = rounds(window, { (fam, n) =>
        val c0 = probe.counts()
        probe.takeExecs()
        val t = plain(fam, n)
        val d = probe.counts() - c0
        val plan = probe.takeExecs().map(_.planMs).sum
        per((fam, "jobs")) += d.jobs; per((fam, "stages")) += d.stages
        per((fam, "tasks")) += d.tasks; per((fam, "task_s")) += d.taskMs / 1000.0
        per((fam, "plan_ms")) += plan
        per((fam, "shuffle_mb")) += d.shuffleBytes / 1048576.0
        per((fam, "scan_mb")) += d.inputBytes / 1048576.0
        per((fam, "wall_s")) += t
        t
      })
      val c0 = probe.counts()
      val (stages, trainS) = Harness.timed(train(spark, a.seed, res))
      val dt = probe.counts() - c0
      res.rep("train_s", trainS, "s")
      probe.remove()
      for ((fam, _) <- families) {
        val rounds = math.max(1, traced.count(_._1 == fam) / math.max(1, ok.count(_._1 == fam)))
        def avg(k: String) = per((fam, k)) / rounds
        Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
          "task_s" -> "s", "plan_ms" -> "ms", "shuffle_mb" -> "MB", "scan_mb" -> "MB")
          .foreach { case (k, u) => res.layer(s"$fam.$k", avg(k), u) }
        res.layer(s"$fam.prime_s", primeS(fam), "s")
        res.layer(s"$fam.busy_ratio",
          if (avg("wall_s") > 0) avg("task_s") / (avg("wall_s") * a.cores) else 0.0, "ratio")
      }
      Seq("split", "smote", "cv", "fit", "auc").foreach(k =>
        res.layer(s"ml.train.${k}_s", stages(k), "s"))
      res.layer("xai.train.shap_s", stages("shap"), "s")
      res.layer("ml.train.jobs", dt.jobs.toDouble, "count")
      res.layer("ml.train.tasks", dt.tasks.toDouble, "count")
      res.layer("analytics.gc_ms", host.gcDeltaMs.toDouble, "ms")
      def perQ(xs: Seq[(String, String, Double)]) =
        xs.groupBy(_._2).map { case (n, ys) => n -> Harness.median(ys.map(_._3)) }
      res.layer("trace_overhead_ratio", perQ(traced).values.sum / perQuery.values.sum, "ratio")
    }
    res.layer("host.steal_ms", host.stealMs.toDouble, "ms")
    res.layer("host.safepoint_ms", host.safepointMs.toDouble, "ms")
    res.metric("heap_live_mb", Harness.liveHeapMb(), "MB")

    // the primed outputs, for the runner's oracle check
    res.extra("outputs") = ok.map { case (fam, n) =>
      java.util.Map.of("name", n, "family", fam, "dir", s"${a.work}/out/$n",
        "oracle", graft.SparkEntry.oracleSql.getOrElse(n, ""))
    }.toArray
    res.extra("data") = a.data
  }

  /** The generator's labels are independent of its features, so no model
    * can pass the AUC gate on them. A linear rule over two features, at
    * the generator's own ~1% positive rate, gives the gate something to
    * hold the pipeline to; the features, sizes and stages are unchanged. */
  def trainingInput(spark: SparkSession, seed: Long, rows: Int = 4000): DataFrame =
    FraudPipeline.syntheticCreditcard(spark, rows, seed)
      .withColumn(FraudPipeline.labelCol,
        (col("V1") + col("V2") > 3.29).cast("int"))

  /** The registration gate at its CI threshold (0.95). */
  def checkAuc(auc: Double): Option[String] =
    if (FraudPipeline.aucGate(auc)) None else Some("train_auc_gate")

  /** One training dataflow, each lazy stage forced; returns stage seconds.
    * Records a failure when the test AUC misses the gate. It costs ~30 s
    * of Spark jobs on a 4-core host, three times a run's window, so only
    * the traced run includes it. */
  def train(spark: SparkSession, seed: Long, res: Harness.Result): Map[String, Double] = {
    val feats = FraudPipeline.featureNames
    val order = Seq("Time", "V1")
    val input = trainingInput(spark, seed)
    res.attempt()
    val ((tr, te), split) = Harness.timed {
      val (tr, te) = FraudPipeline.stratifiedSplit(input, order)
      val p = (tr.cache(), te.cache()); p._1.count(); p._2.count(); p
    }
    val (sm, smote) = Harness.timed {
      val s = new Smote(feats, FraudPipeline.labelCol, seed = seed).transform(tr).cache()
      s.count(); s
    }
    val (_, cv) = Harness.timed(FraudPipeline.cvWithSmote(tr, feats, order, k = 5, lrMaxIter = 5, seed = seed))
    val (model, fit) = Harness.timed(FraudPipeline.logisticPipeline(feats, maxIter = 10).fit(sm))
    val (aucV, auc) = Harness.timed(FraudPipeline.auc(model, te))
    val (_, shap) = Harness.timed {
      val (coefs, mu, b0) = new ScoringService(spark, model, feats,
        new ScoringStream.ResultStore(s"${spark.conf.get("spark.local.dir")}/unused-store")).linearForm
      val att = LinearShap.attribute(te, feats, coefs, mu, b0).cache()
      att.write.format("noop").mode("overwrite").save()
      LinearShap.topFeatures(att, feats, 5).collect()
      att.unpersist()
    }
    Seq(tr, te, sm).foreach(_.unpersist())
    checkAuc(aucV).foreach(c => res.fail(c, f"test AUC $aucV%.4f"))
    Map("split" -> split, "smote" -> smote, "cv" -> cv, "fit" -> fit, "auc" -> auc, "shap" -> shap)
  }
}
