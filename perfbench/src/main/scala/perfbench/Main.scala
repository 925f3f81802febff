package perfbench

/** Entry point of one benchmark run, started by `perfbench/run.py`:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <cores>
  *
  * Prints one `PERFBENCH_RESULT {...}` line on stdout; the runner checks
  * the rest of the outputs and prints the contract's result line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, cores: Int)

  /** QueryExecutionListener action names of a DataFrameWriter save. */
  val writeActions = Set("save", "command", "insertInto", "saveAsTable")

  val workloads: Map[String, (org.apache.spark.sql.SparkSession, Args, Harness.Result) => Unit] =
    Map("analytics" -> Analytics.run, "online" -> Online.run)

  def main(argv: Array[String]): Unit = {
    val Array(w, seed, secs, trace, work, data, cores) = argv
    val a = Args(w, seed.toLong, secs.toDouble, trace == "1", work, data, cores.toInt)
    val run = workloads.getOrElse(w, sys.error(s"unknown workload $w"))
    val res = new Harness.Result(w)
    val t0 = System.nanoTime()
    val spark = Harness.session(a.cores, a.work)
    res.stamp("session_s") = (System.nanoTime() - t0) / 1e9
    res.stamp("cores") = a.cores
    res.stamp("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    res.stamp("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"
    res.stamp("spark") = spark.version
    try run(spark, a, res)
    finally spark.stop()
    println("PERFBENCH_RESULT " + res.json)
  }
}
