package perfbench

import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The load generator and the model shapes the workloads share. */
object Load {

  /** Open-loop schedule: operation i is due at start + i/rate, whether or
    * not earlier ones have finished. The scheduler thread hands each due
    * operation to `submit` (a pool, or inline) and returns, per operation,
    * how late the scheduler itself was — a run whose generator falls
    * behind is reported, never read as fast. */
  def openLoop(rate: Double, seconds: Double, start: Long)(submit: (Int, Long) => Unit): Array[Double] = {
    val n = math.max(1, (rate * seconds).round.toInt)
    val gap = 1e9 / rate
    Array.tabulate(n) { i =>
      val due = start + (i * gap).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      submit(i, due)
      (now - due) / 1e6
    }
  }

  /** A fixed pool of client threads (at most the core count). */
  def clients(n: Int): ExecutorService = Executors.newFixedThreadPool(n, (r: Runnable) => {
    val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
  })

  def await(pool: ExecutorService): Unit = {
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    ()
  }

  /** One transaction's features in the reference's order (Time, V1..V28,
    * Amount), drawn from the generator's distributions. */
  def features(rng: scala.util.Random): Array[Double] =
    (rng.nextDouble() * 172800.0) +: Array.fill(28)(rng.nextGaussian()) :+
      math.exp(rng.nextGaussian() + 3.0)

  /** A gradient-boosted ensemble of the reference's shape (100 trees of
    * depth 5) over V1..V28, built from a fixed seed: the workloads need
    * the attribution kernel's cost, not a fit. */
  def trees(): graft.xai.GbtAttr.FlatTrees = {
    val rng = new scala.util.Random(7L)
    val feat, left, right = scala.collection.mutable.ArrayBuffer.empty[Int]
    val thresh, pred = scala.collection.mutable.ArrayBuffer.empty[Double]
    def add(d: Int): Int = {
      val id = feat.length
      left += -1; right += -1
      pred += (rng.nextDouble() - 0.5) / 5
      if (d == 5) { feat += -1; thresh += 0.0 }
      else {
        feat += 1 + rng.nextInt(28); thresh += rng.nextGaussian()
        val l = add(d + 1); val r = add(d + 1)
        left(id) = l; right(id) = r
      }
      id
    }
    val roots = Array.fill(100)(add(0))
    graft.xai.GbtAttr.FlatTrees(roots, feat.toArray, thresh.toArray,
      left.toArray, right.toArray, pred.toArray, Array.fill(100)(0.1))
  }

  /** The kernel's score, walked independently for the output check:
    * left when x ≤ threshold, margin = Σ weight·leaf, P = σ(2·margin)
    * rounded to six places. */
  def gbtScore(t: graft.xai.GbtAttr.FlatTrees, x: Array[Double]): Double = {
    var margin = 0.0
    t.roots.indices.foreach { i =>
      var node = t.roots(i)
      while (t.feat(node) >= 0)
        node = if (x(t.feat(node)) <= t.thresh(node)) t.left(node) else t.right(node)
      margin += t.weights(i) * t.pred(node)
    }
    BigDecimal(1.0 / (1.0 + math.exp(-2.0 * margin)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Microseconds per row of the two attribution kernels,
    * `ScoringStream.scoreBatchGbt` and `scoreBatch`, over one fixed
    * 20 000-row frame, each forced with a noop write (median of 3). */
  def kernelUsPerRow(spark: SparkSession): (Double, Double) = {
    val names = graft.ml.FraudPipeline.featureNames
    val rows = 20000
    val frame = spark.range(rows).select(
      col("id").cast("string").as("transaction_id"),
      map_from_arrays(typedLit(names),
        array(names.indices.map(i => sin(col("id") * (i + 1))): _*)).as("features")).cache()
    frame.count()
    def us(f: => org.apache.spark.sql.DataFrame): Double = Harness.median((1 to 3).map { _ =>
      Harness.timed(f.write.format("noop").mode("overwrite").save())._2
    }) * 1e6 / rows
    val t = trees()
    val gbt = us(graft.streaming.ScoringStream.scoreBatchGbt(frame, names, t))
    val lin = us(graft.streaming.ScoringStream.scoreBatch(frame, names,
      names.map(_ => 0.1), names.map(_ => 0.0), 0.0))
    frame.unpersist()
    (gbt, lin)
  }
}
