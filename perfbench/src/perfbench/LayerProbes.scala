package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, min}

import graft.operators.CommitLog
import graft.pipeline.ArchiveJob

/** Per-layer probes of the traced run: timed calls into the public
  * functions of `sources.sqlite`, `pipeline`, `operators.CommitLog`,
  * `sources.grafttable` and the `plans` decoders, on inputs the
  * benchmark makes itself. Every traced run reports every probe, so
  * each per-layer metric exists on every workload. */
object LayerProbes {
  /** A station set and the commit-log archive built from it. */
  final case class Target(cfg: ArchiveJob.JobConfig, pinned: Long, day: LocalDate,
      rowsReadPerRowWritten: Double)

  private val Reps = 3
  private val ProbeStations = 2
  private val ProbeDays = 20

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
  private def medianS(body: => Unit): Double = Stats.median((0 until Reps).map(_ => timeS(body)))

  /** The probe stations of a query workload's traced run: a small
    * archive built with a backfill and one daily run, the daily run's
    * read/landed ratio taken on the way. */
  def probeTarget(ctx: Context): Target = {
    val spark = ctx.spark
    val (n, days) = (ProbeStations, ProbeDays)
    val first = StationArchive.FirstDay
    ctx.generator("create", first.toString, n.toString, days.toString)
    val cfg = StationArchive.config(ctx.stationDir, s"${ctx.workDir}/probe_archive",
      s"${ctx.workDir}/probe_state/next_day", n)
    ArchiveJob.resetState(spark, cfg, None, force = true)
    ArchiveJob.run(spark, cfg, today = first.plusDays(days), perDayCommit = false)
    val pinned = CommitLog.latestVersion(spark, cfg.archivePath)
    val day = first.plusDays(days)
    ctx.generator("append", day.toString)
    val rows0 = ctx.trace.get("input_rows")
    ctx.trace.section(ArchiveJob.run(spark, cfg, today = day.plusDays(1)))
    val read = ctx.trace.get("input_rows") - rows0
    Target(cfg, pinned, first, read / (288.0 * n))
  }

  def run(ctx: Context, t: Target): Unit = {
    val spark = ctx.spark
    val cfg = t.cfg
    val station = cfg.stations.head
    val lo = t.day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    def sqlite = spark.read.format("sqlite").option("table", "archive").load(station.path)

    // sources.sqlite
    val stationRows = sqlite.count().toDouble
    val full = medianS(QuerySuite.materialize(sqlite))
    ctx.layer("sqlite.full_scan_s", full, "s")
    ctx.layer("sqlite.full_scan_rows_per_s", stationRows / full, "rows/s")
    ctx.layer("sqlite.day_scan_s",
      medianS(QuerySuite.materialize(sqlite.filter(col("dateTime").between(lo, lo + 86399)))), "s")
    ctx.layer("sqlite.min_s", medianS(sqlite.agg(min(col("dateTime"))).collect()), "s")

    // pipeline
    val probeCfg = cfg.copy(statePath = s"${ctx.workDir}/probe_reset/next_day")
    ctx.layer("pipeline.reset_state_s",
      medianS(ArchiveJob.resetState(spark, probeCfg, None, force = true)), "s")
    val union = ArchiveJob.unionStations(spark, cfg)
    ctx.layer("pipeline.day_counts_s", medianS(ArchiveJob.dayCounts(union, t.day).collect()), "s")
    val unionRows = union.count().toDouble
    ctx.layer("pipeline.convert_rows_per_s",
      unionRows / medianS(QuerySuite.materialize(ArchiveJob.convertUnits(union))), "rows/s")
    ctx.layer("pipeline.output_s",
      medianS(QuerySuite.materialize(ArchiveJob.outputFor(union, t.day, t.day))), "s")
    ctx.layer("pipeline.rows_read_per_row_written", t.rowsReadPerRowWritten, "ratio")

    // operators.CommitLog
    val archive = cfg.archivePath
    ctx.layer("commitlog.resolve_s", medianS(CommitLog.snapshot(spark, archive)), "s")
    ctx.layer("commitlog.pinned_resolve_s",
      medianS(CommitLog.snapshot(spark, archive, Some(t.pinned))), "s")
    ctx.layer("commitlog.versions", CommitLog.versions(spark, archive).size.toDouble, "count")
    ctx.layer("commitlog.checkpoints", CommitLog.checkpointVersions(spark, archive).size.toDouble, "count")
    ctx.layer("commitlog.log_bytes",
      Context.treeBytes(new java.io.File(s"$archive/_graft_log")).toDouble, "bytes")

    // sources.grafttable
    val graftRows = spark.read.format("graft").load(archive).count().toDouble
    ctx.layer("grafttable.rows_per_s",
      graftRows / medianS(QuerySuite.materialize(spark.read.format("graft").load(archive))), "rows/s")
    val files0 = ctx.trace.get("files_read")
    ctx.trace.section(QuerySuite.materialize(StationArchive.dayRead(ctx, archive, t.day, None)))
    ctx.layer("grafttable.files_read_per_day_read",
      (ctx.trace.get("files_read") - files0).toDouble, "count")
    ctx.layer("grafttable.pinned_read_s",
      medianS(QuerySuite.materialize(StationArchive.dayRead(ctx, archive, t.day, Some(t.pinned)))), "s")

    decode(ctx)
  }

  /** One thread of the benchmark JVM calls the public static decode entry
    * points over payloads made by the program's own fixture encoders,
    * in the media fixture's geometry. */
  private def decode(ctx: Context): Unit = {
    import graft.plans._
    val ids = 1 to 400
    def w(id: Int) = id % 23 + 9
    def h(id: Int) = (id * 3) % 19 + 9
    val kinds: Seq[(String, Int => Array[Byte], Array[Byte] => AnyRef)] = Seq(
      ("jpeg_baseline", id => JpegEncode.encodeBlocky(w(id), h(id), id, id % 2 == 0), JpegPixels.parse),
      ("jpeg_color", id => JpegEncode.encodeBlockyColor(w(id), h(id), id, id % 3, id % 2 == 0),
        JpegPixels.parse),
      ("jpeg_progressive", id => JpegEncode.encodeBlockyProgressive(w(id), h(id), id,
        if (id % 5 == 0) 3 else id % 3, id % 2 == 0), JpegPixels.parse),
      ("png", id => PngEncode.encode(id % 5 + 2, id % 4 + 5, id, id % 3 == 0), PngStats.parse),
      ("gif", id => GifEncode.encode(id % 17 + 16, id % 13 + 16, id), GifPixels.parse),
      ("tiff", id => TiffEncode.encode(id % 9 + 4, (id * 3) % 7 + 4, id, id % 84, id % 4 + 1),
        TiffPixels.parse),
      ("gzip", id => GzipEncode.encode(id, id % 120 + 30, id % 3, if (id % 4 == 0) 2 else 1),
        GzipMeta.parse),
      ("pdf", id => PdfEncode.encode(id, id % 24 + 1, id % 8, id % 11 == 0, id % 3), PdfMeta.parse))
    val declined = mutable.LinkedHashMap.empty[String, String]
    kinds.foreach { case (kind, enc, parse) =>
      val payloads = ids.map(enc).filter(_ != null).toArray
      val bytes = payloads.map(_.length.toLong).sum
      def pass(): Int = payloads.count(p => parse(p) != null)
      val ok = pass() // warm
      var n = 0
      val t0 = System.nanoTime()
      while (n < 3 || System.nanoTime() - t0 < 250000000L) { pass(); n += 1 }
      val s = (System.nanoTime() - t0) / 1e9
      ctx.layer(s"decode.${kind}_mb_per_s", bytes * n / s / 1e6, "MB/s")
      declined(kind) = (payloads.length - ok).toString
    }
    ctx.detail("decode_declined", Json.obj(declined.toSeq))
  }
}
