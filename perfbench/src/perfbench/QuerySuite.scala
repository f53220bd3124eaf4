package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two query workloads: a fixed list of registered queries, each
  * timed once per pass with its full result materialized through
  * Spark's `noop` sink. One pass is one round; passes repeat until the
  * measuring time is used up (at least one). An untimed warm-up pass
  * precedes them, counts as set-up, and writes every result as parquet
  * for the oracle compare. */
object QuerySuite {
  /** A query workload: the registered queries it times and the
    * ingest-time artifacts those queries are served from. */
  final case class Spec(scale: String, queries: Seq[String],
      artifacts: Seq[(String, (SparkSession, String) => Unit)])

  private def family(name: String): String = name match {
    case n if n.matches("q[0-9]+_.*") => "tpch"
    case n if n.startsWith("q_lake_") || n == "q_merge_upsert" => "lake"
    case n if n.matches("s[0-9]+_.*") || n.startsWith("flagship") => "timeseries"
    case n if n.startsWith("q_") => "relational"
    case n => n.takeWhile(_ != '_')
  }

  def run(ctx: Context, spec: Spec): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.dataDir}/${spec.scale}"
    val registry = graft.SparkEntry.queries
    val missing = spec.queries.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(",")}")
    val queries = spec.queries.map(n => n -> registry(n))

    spec.artifacts.foreach { case (name, build) =>
      ctx.setupStep(name)(build(spark, dir))
    }
    // warm-up: one untimed pass that also dumps every result as one
    // parquet file for the oracle compare, so the timed passes see
    // JIT-compiled, codegen-cached code; its cost shows in setup_s
    val broken = mutable.LinkedHashMap.empty[String, String]
    val dumpDir = s"${ctx.workDir}/dump"
    ctx.setupStep("warmup") {
      queries.foreach { case (n, fn) =>
        try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$n")
        catch { case e: Throwable => broken(n) = s"warm-up: ${e.getMessage}" }
      }
    }
    ctx.setupDone()

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    ctx.timed {
      while (passTimes.isEmpty || System.nanoTime() < deadline) {
        var pass = 0.0
        queries.foreach { case (n, fn) =>
          ctx.trace.lastCommand.set(null)
          val t0 = System.nanoTime()
          val df = try {
            val df = fn(spark, dir)
            materialize(df)
            Some(df)
          } catch { case e: Throwable => broken(n) = e.getMessage; None }
          val dt = (System.nanoTime() - t0) / 1e9
          pass += dt
          df.foreach { df =>
            times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += dt
            if (ctx.tracing) ctx.trace.addAnalysis(df.queryExecution)
            if (passTimes.isEmpty) guard(ctx, df).foreach(broken(n) = _)
          }
        }
        passTimes += pass
      }
    }
    val passes = passTimes.size

    // the oracle SQL is read after the queries ran: some oracles are
    // generated from the artifacts the queries are served from
    val oracles = graft.SparkEntry.oracleSql
    ctx.fact("data_dir", Json.str(dir))
    ctx.fact("dump_dir", Json.str(dumpDir))
    ctx.fact("queries", Json.arr(spec.queries.map(Json.str)))
    ctx.fact("oracle_sql", Json.obj(spec.queries.flatMap(n => oracles.get(n).map(s => n -> Json.str(s)))))
    ctx.fact("broken", Json.obj(broken.toSeq.map { case (n, m) => n -> Json.str(String.valueOf(m)) }))
    ctx.fact("passes", passes.toString)

    // whole rounds: every pass attempts every query; a broken query
    // fails once per pass
    ctx.attempted = queries.size.toLong * passes
    ctx.failed = broken.size.toLong * passes

    val perQuery = times.map { case (n, ts) => n -> Stats.median(ts.toSeq) }
    ctx.e2e("suite_s", Stats.median(passTimes.toSeq), "s")
    ctx.e2e("op_geomean_s", Stats.geomean(perQuery.values.toSeq), "s")
    ctx.detail("query_p50_s", Json.num(Stats.median(perQuery.values.toSeq)))
    ctx.detail("query_s", Json.obj(perQuery.toSeq.map { case (n, t) => n -> Json.num(t) }))
    val families = perQuery.groupBy { case (n, _) => family(n) }
      .map { case (f, qs) => s"family.${f}_s" -> Json.num(qs.values.sum) }
    ctx.detail("families", Json.obj(families.toSeq.sortBy(_._1)))
    ctx.rounds = passes
  }

  /** The plan guard, checked on the first timed pass outside the
    * timing: the noop write must keep every graft, UDF and higher-order
    * expression of the query's own optimized plan. Returns the failure,
    * if any. */
  private def guard(ctx: Context, df: DataFrame): Option[String] = {
    ctx.trace.drain()
    val write = ctx.trace.lastCommand.get()
    if (write == null) Some("plan guard: no write plan captured")
    else {
      val lost = Trace.dropped(df.queryExecution.optimizedPlan, write.optimizedPlan)
      if (lost.isEmpty) None else Some(s"plan guard: write dropped ${lost.mkString(",")}")
    }
  }

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
