package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Benchmark entry point (launched by perfbench/run.py):
  * `perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Writes `<dir>/report.json`; exits 3 when a workload leaves its regime. */
object Main {
  val Workloads = Seq("er_bulk", "er_dense", "docs_stream")

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val work = opts("work")
    val report = new Report(workload, opts("seed").toLong, opts.getOrElse("trace", "0") == "1")
    val seconds = opts("seconds").toInt
    val t0 = System.nanoTime()
    val spark = session(work)
    val meter = new StorageMeter
    spark.sparkContext.addSparkListener(meter)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (workload == "docs_stream") StreamBench.run(spark, report, work, seconds, sessionS, meter)
        else ErBench.run(spark, report, work, seconds, sessionS, meter)
        Files.write(Paths.get(s"$work/report.json"), report.toJson.getBytes("UTF-8"))
        0
      } catch {
        case e: ErBench.RegimeDrift =>
          System.err.println(s"perfbench: $workload left its regime: ${e.getMessage}")
          3
      } finally spark.stop()
    sys.exit(code)
  }
}
