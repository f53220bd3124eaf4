package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark process. run.py builds the arguments:
  *
  *   --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --data TESTDATA_DIR --work DIR --bench BENCH_DIR --stations DIR
  *
  * and reads the record this writes to `<work>/result.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = opts("cores").toInt
    val workDir = opts("work")

    var sessionS = 0.0
    val spark = {
      val t0 = System.nanoTime()
      val s = graft.GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload"),
        cores.toString)
        .config("spark.local.dir", s"$workDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      sessionS = (System.nanoTime() - t0) / 1e9
      s
    }
    val ctx = new Context(spark, workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", cores, opts("data"), workDir, opts("bench"), opts("stations"),
      jvmStartMs)
    ctx.setupTime("session", sessionS)
    try {
      val target = workload match {
        case "station_archive" => Some(StationArchive.run(ctx))
        case "sql_analytics" => QuerySuite.run(ctx, Workloads.sqlAnalytics); None
        case "corpus_ops" => QuerySuite.run(ctx, Workloads.corpusOps); None
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (ctx.tracing) {
        ctx.captureEngineLayers()
        LayerProbes.run(ctx, target.getOrElse(LayerProbes.probeTarget(ctx)))
      }
      ctx.finish()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/result.json"), ctx.resultJson)
    } finally spark.stop()
  }
}
