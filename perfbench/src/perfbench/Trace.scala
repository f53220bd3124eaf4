package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.grafttable.{GraftKeyedPartition, GraftPartition}
import graft.sources.sqlite.SqlitePartition

/** Engine-side counters for the per-layer record, taken only through
  * Spark's public listener interfaces and the executed plans' SQL
  * metrics. Counting is switched on around timed sections only
  * ([[section]]); the listener bus is drained at both edges, so events
  * of untimed work never leak into a section. */
final class Trace(spark: SparkSession, val cores: Int) {
  private val counters = mutable.LinkedHashMap.empty[String, AtomicLong]
  private def c(name: String): AtomicLong = counters.getOrElseUpdate(name, new AtomicLong)
  Seq("jobs", "stages", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ns",
    "gc_ms", "spill_bytes", "input_rows", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_records", "fetch_wait_ms", "analysis_ms",
    "optimizer_ms", "physical_ms", "actions", "files_read").foreach(c)

  @volatile private var on = false
  private var sectionNs = 0L

  /** The last write command's QueryExecution, for the plan guard. */
  val lastCommand = new AtomicReference[QueryExecution]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) c("jobs").incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) c("stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      c("tasks").incrementAndGet()
      if (e.taskInfo != null && e.taskInfo.failed) c("failed_tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c("task_run_ms").addAndGet(m.executorRunTime)
        c("task_cpu_ns").addAndGet(m.executorCpuTime)
        c("gc_ms").addAndGet(m.jvmGCTime)
        c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c("input_rows").addAndGet(m.inputMetrics.recordsRead)
        c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
        c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c("shuffle_records").addAndGet(m.shuffleWriteMetrics.recordsWritten)
        c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.logical.isInstanceOf[V2WriteCommand]) lastCommand.set(qe)
      if (on) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
        c("analysis_ms").addAndGet(ms("analysis"))
        c("optimizer_ms").addAndGet(ms("optimization"))
        c("physical_ms").addAndGet(ms("planning"))
        c("actions").incrementAndGet()
        c("files_read").addAndGet(Trace.filesRead(qe.executedPlan))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = ListenerDrain(spark.sparkContext)

  /** Runs `body` with counting on; the wall time joins the idle-core
    * account. */
  def section[A](body: => A): A = {
    drain()
    on = true
    val t0 = System.nanoTime()
    try body
    finally {
      sectionNs += System.nanoTime() - t0
      drain()
      on = false
    }
  }

  def get(name: String): Long = c(name).get

  /** Analysis of a DataFrame happens when it is built, in its own
    * QueryExecution, which no listener sees; the caller adds it. */
  def addAnalysis(qe: QueryExecution): Unit =
    qe.tracker.phases.get("analysis").foreach(p => c("analysis_ms").addAndGet(p.endTimeMs - p.startTimeMs))

  /** The engine-layer metrics, each divided by `per` (rounds). */
  def layerMetrics(per: Double): Seq[(String, Double, String)] = {
    def v(n: String) = get(n).toDouble / per
    val wallS = sectionNs / 1e9 / per
    Seq(
      ("plan.analysis_s", v("analysis_ms") / 1e3, "s"),
      ("plan.optimizer_s", v("optimizer_ms") / 1e3, "s"),
      ("plan.physical_s", v("physical_ms") / 1e3, "s"),
      ("plan.actions", v("actions"), "count"),
      ("exec.jobs", v("jobs"), "count"),
      ("exec.stages", v("stages"), "count"),
      ("exec.tasks", v("tasks"), "count"),
      ("exec.idle_core_s", math.max(0.0, wallS * cores - v("task_run_ms") / 1e3), "s"),
      ("exec.task_run_s", v("task_run_ms") / 1e3, "s"),
      ("exec.task_cpu_s", v("task_cpu_ns") / 1e9, "s"),
      ("exec.gc_s", v("gc_ms") / 1e3, "s"),
      ("exec.spill_bytes", v("spill_bytes"), "bytes"),
      ("exec.failed_tasks", v("failed_tasks"), "count"),
      ("scan.input_rows", v("input_rows"), "rows"),
      ("scan.input_bytes", v("input_bytes"), "bytes"),
      ("scan.files_read", v("files_read"), "count"),
      ("shuffle.write_bytes", v("shuffle_write_bytes"), "bytes"),
      ("shuffle.read_bytes", v("shuffle_read_bytes"), "bytes"),
      ("shuffle.records", v("shuffle_records"), "count"),
      ("shuffle.fetch_wait_s", v("fetch_wait_ms") / 1e3, "s"))
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  /** Files a physical plan read — file-source scans by their
    * `numFiles` SQL metric, graft and SQLite DSv2 scans by the distinct
    * files of their input partitions — AQE stages and subqueries
    * included. */
  def filesRead(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case b: BatchScanExec => b.inputPartitions.flatMap {
        case g: GraftPartition => Seq(g.filePath)
        case k: GraftKeyedPartition => k.files.toSeq.map(_.filePath)
        case s: SqlitePartition => Seq(s.path)
        case _ => Nil
      }.distinct.size.toLong
      case p: SparkPlan => p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Names of the expressions the plan guard protects: every graft
    * expression, Scala UDF and higher-order function, as a multiset. */
  def guarded(plan: LogicalPlan): Map[String, Int] = {
    val names = mutable.ArrayBuffer.empty[String]
    def visit(e: Expression): Unit = e.foreach {
      case u: ScalaUDF => names += "udf:" + u.udfName.getOrElse(u.function.getClass.getName)
      case h: HigherOrderFunction => names += h.prettyName
      case g if g.getClass.getName.startsWith("graft.") => names += g.prettyName
      case _ =>
    }
    def walk(p: LogicalPlan): Unit = p.foreach { node =>
      node.expressions.foreach(visit)
      node.subqueries.foreach(walk)
    }
    walk(plan)
    names.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** The guard's verdict: the expressions of `query` the write dropped,
    * empty when the write keeps every one. */
  def dropped(query: LogicalPlan, write: LogicalPlan): Map[String, Int] = {
    val have = guarded(write)
    guarded(query).collect {
      case (k, n) if have.getOrElse(k, 0) < n => k -> (n - have.getOrElse(k, 0))
    }
  }
}
