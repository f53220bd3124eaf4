package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.operators.CommitLog
import graft.pipeline.{ArchiveJob, Watermark}

/** The reference job end to end: a backfill of H days of S wview
  * station files into a commit-log archive, K cron-style daily runs
  * (one day appended to every station before each; one of those days
  * arrives one sample short at one station and is held back until the
  * sample arrives), a replay of the last day, and one-day range reads
  * of the archive at the latest and at a pinned version. The whole
  * cycle is one round. Every fact the correctness check needs is
  * recorded for the harness, which recomputes the expected archive
  * from the generator's own rows. */
object StationArchive {
  val Stations = 3
  val HistoryDays = 60
  val DailyRuns = 4
  /** Daily run whose day arrives one sample short at station 0. */
  val ShortRun = 1
  val ShortIndex = 144
  /** Commits between commit-log checkpoints: small enough that the
    * daily runs write one. */
  val CheckpointInterval = 3
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)
  /** Day reads per version: the latest and the backfill version. */
  val ReadDays = 3

  def config(stationDir: String, archive: String, state: String,
      n: Int): ArchiveJob.JobConfig =
    ArchiveJob.JobConfig(statePath = state, archivePath = archive,
      instrument = "perfbench", sinkFormat = "commitlog",
      stations = (0 until n).map(i =>
        ArchiveJob.StationSource(s"st$i", s"$stationDir/st$i.sdb")))

  def run(ctx: Context): LayerProbes.Target = {
    val spark = ctx.spark
    spark.conf.set("spark.graft.commitlog.checkpointInterval", CheckpointInterval.toString)
    val stationDir = ctx.stationDir
    val archive = s"${ctx.workDir}/archive"
    val state = s"${ctx.workDir}/state/next_day"
    val cfg = config(stationDir, archive, state, Stations)
    val lastHistory = FirstDay.plusDays(HistoryDays - 1)

    ctx.generator("create", FirstDay.toString, Stations.toString, HistoryDays.toString)
    // set-up: every station file opened once through the SQLite source
    ctx.setupStep("warmup") {
      cfg.stations.foreach(st => ArchiveJob.loadStation(spark, st).count())
    }
    ctx.setupDone()

    val ops = mutable.ArrayBuffer.empty[String]
    var roundS = 0.0
    def op[A](kind: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = ctx.timed(body)
      val dt = (System.nanoTime() - t0) / 1e9
      roundS += dt
      ops += kind
      (r, dt)
    }

    op("reset") { ArchiveJob.resetState(spark, cfg, None, force = true) }
    val (bf, backfillS) = op("backfill") {
      ArchiveJob.run(spark, cfg, today = lastHistory.plusDays(1), perDayCommit = false)
    }
    val backfillVersion = CommitLog.latestVersion(spark, archive)
    ctx.fact("backfill", Json.obj(Seq("status" -> bf.status.toString,
      "days_written" -> bf.daysWritten.toString, "version" -> backfillVersion.toString)))

    val daily = mutable.ArrayBuffer.empty[String]
    val dailyS = mutable.ArrayBuffer.empty[Double]
    var inputRowsDaily = 0L
    (0 until DailyRuns).foreach { k =>
      val day = lastHistory.plusDays(1 + k)
      if (k == ShortRun) ctx.generator("append", day.toString, "--omit", s"0:$ShortIndex")
      else ctx.generator("append", day.toString)
      if (k == ShortRun + 1)
        ctx.generator("fill", day.minusDays(1).toString, "0", ShortIndex.toString)
      val rows0 = ctx.trace.get("input_rows")
      val (r, dt) = op("daily") { ArchiveJob.run(spark, cfg, today = day.plusDays(1)) }
      inputRowsDaily += ctx.trace.get("input_rows") - rows0
      dailyS += dt
      // held-back check, untimed: the short day must not be readable
      val shortRows =
        if (k == ShortRun) dayRead(ctx, archive, day, None).count().toString else "null"
      daily += Json.obj(Seq("day" -> Json.str(day.toString), "status" -> r.status.toString,
        "days_written" -> r.daysWritten.toString,
        "version" -> CommitLog.latestVersion(spark, archive).toString,
        "short_day_rows" -> shortRows))
    }
    ctx.fact("daily", Json.arr(daily.toSeq))
    val lastDay = lastHistory.plusDays(DailyRuns)

    // replay of the last day: the batch ledger must recognize it
    val logDir = new java.io.File(s"$archive/_graft_log")
    def logFiles = Option(logDir.list()).map(_.count(_.endsWith(".json"))).getOrElse(0)
    val before = (CommitLog.latestVersion(spark, archive), logFiles, archiveRows(ctx, archive))
    Watermark.writeNext(state, lastDay)
    val (rp, _) = op("replay") { ArchiveJob.run(spark, cfg, today = lastDay.plusDays(1)) }
    val after = (CommitLog.latestVersion(spark, archive), logFiles, archiveRows(ctx, archive))
    ctx.fact("replay", Json.obj(Seq("day" -> Json.str(lastDay.toString),
      "status" -> rp.status.toString,
      "version_before" -> before._1.toString, "version_after" -> after._1.toString,
      "log_files_before" -> before._2.toString, "log_files_after" -> after._2.toString,
      "rows_before" -> before._3.toString, "rows_after" -> after._3.toString)))

    // downstream readers: one-day reads, latest and pinned
    val readDays = (0 until ReadDays).map(i => FirstDay.plusDays(i * (HistoryDays / ReadDays) + 3))
    val reads = mutable.ArrayBuffer.empty[String]
    val readS = mutable.ArrayBuffer.empty[Double]
    for (pin <- Seq(None, Some(backfillVersion)); day <- readDays) {
      val (_, dt) = op("read") {
        QuerySuite.materialize(dayRead(ctx, archive, day, pin))
      }
      readS += dt
      val agg = dayRead(ctx, archive, day, pin)
        .agg(count(lit(1)), sum(col("dateTime")), sum(col("outTemp"))).collect()(0)
      reads += Json.obj(Seq("day" -> Json.str(day.toString),
        "version" -> pin.fold("null")(_.toString), "rows" -> agg.getLong(0).toString,
        "sum_datetime" -> (if (agg.isNullAt(1)) "null" else agg.getLong(1).toString),
        "sum_outtemp" -> (if (agg.isNullAt(2)) "null" else Json.num(agg.getDouble(2)))))
    }
    ctx.fact("reads", Json.arr(reads.toSeq))

    // the full archive for the row-by-row check
    val dump = s"${ctx.workDir}/archive_dump"
    spark.read.format("graft").load(archive).write.mode("overwrite").parquet(dump)
    ctx.fact("archive_dump", Json.str(dump))
    ctx.fact("state_path", Json.str(state))
    ctx.fact("stations", Stations.toString)
    ctx.fact("first_day", Json.str(FirstDay.toString))
    ctx.fact("history_days", HistoryDays.toString)
    ctx.fact("short", Json.obj(Seq("run" -> ShortRun.toString, "station" -> "0",
      "index" -> ShortIndex.toString)))
    ctx.fact("ops", Json.arr(ops.toSeq.map(Json.str)))

    val rowsArchived = archiveRows(ctx, archive)
    val bytes = Context.treeBytes(new java.io.File(archive))
    val backfillRows = HistoryDays.toLong * 288 * Stations
    ctx.attempted = ops.size
    ctx.rounds = 1
    ctx.e2e("suite_s", roundS, "s")
    ctx.e2e("op_geomean_s", Stats.geomean(dailyS.toSeq), "s")
    ctx.detail("backfill_rows_per_s", Json.num(backfillRows / backfillS))
    ctx.detail("daily_run_s", Json.num(Stats.median(dailyS.toSeq)))
    ctx.detail("archive_read_s", Json.num(Stats.median(readS.toSeq)))
    ctx.detail("archive_bytes_per_row", Json.num(bytes.toDouble / math.max(1L, rowsArchived)))

    val landed = (rowsArchived - backfillRows).toDouble
    LayerProbes.Target(cfg, backfillVersion, readDays.head,
      rowsReadPerRowWritten = inputRowsDaily / math.max(1.0, landed))
  }

  def dayRead(ctx: Context, archive: String, day: LocalDate, pin: Option[Long]): DataFrame = {
    val lo = day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val r = ctx.spark.read.format("graft")
    pin.fold(r)(v => r.option("versionAsOf", v.toString)).load(archive)
      .filter(col("dateTime").between(lo, lo + 86399))
  }

  private def archiveRows(ctx: Context, archive: String): Long =
    ctx.spark.read.format("graft").load(archive).count()
}
