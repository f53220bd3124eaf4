package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark process: the session, the run's parameters, and the
  * record it hands to the harness (metrics, set-up steps, the facts the
  * correctness check reads, and the attempted/failed operation
  * counts). */
final class Context(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val tracing: Boolean, val cores: Int, val dataDir: String,
    val workDir: String, val benchDir: String, val stationDir: String,
    jvmStartMs: Long) {

  val trace = new Trace(spark, cores)

  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val facts = mutable.LinkedHashMap.empty[String, String]
  private val details = mutable.LinkedHashMap.empty[String, String]
  private val setupSteps = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  /** Whole rounds of the workload's operations in the measured part. */
  var rounds = 1

  def e2e(name: String, value: Double, unit: String): Unit = e2eM(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layerM(name) = (value, unit)
  def fact(name: String, json: String): Unit = facts(name) = json
  def detail(name: String, json: String): Unit = details(name) = json

  /** One named set-up step, timed into `setup.<name>_s`. */
  def setupStep[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupTime(name, (System.nanoTime() - t0) / 1e9)
  }
  def setupTime(name: String, s: Double): Unit =
    setupSteps(name) = setupSteps.getOrElse(name, 0.0) + s

  /** Set-up ends here: process start to the first timed operation,
    * less the time the station generator took to write inputs. */
  def setupDone(): Unit =
    e2e("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3 - generatorS, "s")
  private var generatorS = 0.0

  /** A timed operation; counted by the trace when tracing. */
  def timed[A](body: => A): A = if (tracing) trace.section(body) else body

  /** Runs the station generator (stations.py) and waits for it. */
  def generator(args: String*): Unit = {
    val cmd = Seq("python3", s"$benchDir/stations.py", args.head, stationDir, seed.toString) ++ args.tail
    val t0 = System.nanoTime()
    val p = new ProcessBuilder(cmd: _*).inheritIO().start()
    val rc = p.waitFor()
    generatorS += (System.nanoTime() - t0) / 1e9
    require(rc == 0, s"station generator failed ($rc): ${cmd.mkString(" ")}")
  }

  /** The engine-layer metrics of the workload's timed operations,
    * taken before the layer probes add work of their own. */
  def captureEngineLayers(): Unit =
    trace.layerMetrics(rounds).foreach { case (n, v, u) => layer(n, v, u) }

  def finish(): Unit = {
    if (!tracing) {
      // retained heap: JVM heap in use after full collections; Spark
      // releases shuffle and broadcast state asynchronously, so the
      // least of several collections a moment apart is kept
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      val used = (0 until 5).map { _ =>
        System.gc()
        Thread.sleep(200)
        mem.getHeapMemoryUsage.getUsed
      }
      e2e("retained_heap_mb", used.min / 1048576.0, "MB")
    } else {
      // the untraced metrics of a traced run, for the tracing overhead
      detail("traced_e2e", Json.obj(e2eM.toSeq.map { case (k, (v, _)) => k -> Json.num(v) }))
      layer("setup.session_s", setupSteps.getOrElse("session", 0.0), "s")
      layer("setup.warmup_s", setupSteps.getOrElse("warmup", 0.0), "s")
    }
    detail("setup_steps", Json.obj(setupSteps.toSeq.map { case (k, v) => s"setup.${k}_s" -> Json.num(v) }))
  }

  def resultJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) = Json.obj(m.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metrics(if (tracing) layerM else e2eM),
      "facts" -> Json.obj(facts.toSeq),
      "detail" -> Json.obj(details.toSeq)))
  }
}

object Context {
  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean of nothing")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
