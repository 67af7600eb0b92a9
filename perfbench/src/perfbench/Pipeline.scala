package perfbench

import java.sql.Date
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.{DailyInsights, WeeklyReport}
import graft.ingest.{Channels, Flatten, Lake}
import graft.pipeline.Runner
import graft.schema.{DailyInsight, ReportRow, Schemas, TrendingVideo}

/** The daily batch workloads: each operation is one day of the reference's
  * cron run (lake write, ingest, aggregate) followed by the rolling weekly
  * report, timed from the benchmark around the program's public calls. */
object Pipeline {

  /** Reference scale: 3 regions x 20 videos in the file, and a region the
    * region parameter lists but the file omits. */
  val FileRegions = Seq("QA", "US", "DE")
  val AbsentRegion = "GB"
  val PerRegion = 20
  val Pool = 3000
  /** Days in the warehouse before the first run: more than Spark's 32-path
    * parallel-listing threshold (a year of history does not fit the
    * run-time budget: a day then takes about 20 s on 4 cores). */
  val History = 33

  val FirstDay: LocalDate = LocalDate.of(2025, 10, 6)

  def partitionFiles(table: String, d: LocalDate): Int =
    Main.dataFiles(s"$table/date=$d").size

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val seed = ctx.seed
    val regions = FileRegions :+ AbsentRegion
    val lake = ctx.dir("lake")
    val wh = ctx.dir("warehouse")
    val videosDir = s"$wh/daily_trending_videos"
    val insightsDir = s"$wh/daily_insights"
    val channelsDir = s"$wh/channels"
    val apiRows = Gen.channelApi(seed, Pool)
    def api(s: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(apiRows.asJava, Schemas.channelResponseSchema)
    }
    val expected = mutable.Map.empty[LocalDate, Seq[DailyInsight]]
    val seen = mutable.Set.empty[String]
    var videoRows = 0L

    val apiDf = mutable.Map.empty[SparkSession, DataFrame]
    var selfTested = false
    var lastDay: LocalDate = null

    /** One day. Returns false when the operation failed. */
    def unit(d: LocalDate, timed: Boolean, into: Samples): Boolean = ctx.op(s"day $d") {
      val spark = ctx.spark
      import spark.implicits._
      val channelApi = apiDf.getOrElseUpdate(spark, api(spark))
      val day = Gen.day(seed, d, FileRegions, PerRegion, Pool)
      val payload = Gen.payload(day, seed)
      val ins = Expect.insights(day)
      expected(d) = ins
      val chans = day.videos.map(v => Gen.channelId(v.channel)).distinct
      val newChans = chans.count(c => !seen(c))
      seen ++= chans
      videoRows += day.videos.size
      val bytes0 = Main.dataBytes(wh)
      val files0 = Main.dataFiles(channelsDir).size
      val tr = ctx.tracer
      var n, m = 0L
      var rows: Seq[ReportRow] = Nil
      var html = ""
      var landS, ingS, aggS, dlyS, repS: Span = null
      val (_, cyc) = tr.span("cycle") {
        val (_, dly) = tr.span("daily") {
          val (dir, s1) = tr.span("lake.write")(Lake.writeRawDayText(spark, payload, lake, d))
          val (a, s2) = tr.span("runner.ingest_day")(Runner.runIngestDay(spark, dir, wh, d, regions, channelApi))
          val (b, s3) = tr.span("runner.aggregate_day")(Runner.runAggregateDay(spark, wh, d))
          n = a; m = b; landS = s1; ingS = s2; aggS = s3
        }
        dlyS = dly
        val (_, s4) = tr.span("weekly.compute") {
          rows = WeeklyReport.computeRows(spark.read.parquet(insightsDir).as[DailyInsight], d)
          html = WeeklyReport.renderHtml(rows)
        }
        repS = s4
      }
      lastDay = d
      if (timed) {
        into.add("cycle", "s", cyc.seconds)
        into.add("cycle_cpu", "s", cyc.cpuSeconds)
        into.add("daily", "s", dlyS.seconds)
        into.add("daily_cpu", "s", dlyS.cpuSeconds)
        into.add("report", "s", repS.seconds)
        into.add("rows", "count", n.toDouble)
        into.add("bytes_in", "bytes", payload.length.toDouble)
        into.add("bytes_out", "bytes", (Main.dataBytes(wh) - bytes0).toDouble)
        ctx.settle(into)
      }

      // --- output checks, outside the timed window ---
      val c = ctx.checks
      c.same(s"$d video rows appended", day.videos.size.toLong, n)
      c.same(s"$d insight rows appended", ins.size.toLong, m)
      val gotIns = spark.read.parquet(s"$insightsDir/date=$d")
        .withColumn("date", lit(Date.valueOf(d))).as[DailyInsight].collect().sortBy(_.region).toSeq
      c.same(s"$d insights", ins, gotIns)
      if (!selfTested) {
        selfTested = true
        val wrong = ins.head.copy(total_views = ins.head.total_views + 1) +: ins.tail
        val probe = new Checks
        probe.same("insights", wrong, gotIns)
        c.check("self-test: a wrong expected insight is caught", probe.failed == 1)
      }
      val gotVideos = spark.read.parquet(s"$videosDir/date=$d").groupBy("region")
        .agg(count(lit(1)), sum("duration")).as[(String, Long, Long)].collect().sorted.toSeq
      val wantVideos = day.videos.groupBy(_.region).toSeq
        .map { case (r, vs) => (r, vs.size.toLong, vs.map(_.durationS).sum) }.sorted
      c.same(s"$d video rows and duration per region", wantVideos, gotVideos)
      c.same(s"$d weekly report", Expect.weekly(expected, d), rows)
      c.check(s"$d weekly html", rows.forall(r => html.contains(s"<td>${r.region}</td>")))

      // --- per-layer calls on the same input (traced runs) ---
      if (timed && ctx.trace && (into eq ctx.samples)) {
        ctx.phase("lake.write", landS); ctx.phase("runner.ingest_day", ingS)
        ctx.phase("runner.aggregate_day", aggS); ctx.phase("weekly.compute", repS)
        ctx.engine(cyc)
        val s = ctx.samples
        val dayFiles = partitionFiles(videosDir, d) + partitionFiles(insightsDir, d)
        val newChFiles = Main.dataFiles(channelsDir).size - files0
        s.add("runner.jobs_per_day", "count", (ingS.work.jobs + aggS.work.jobs).toDouble)
        s.add("runner.tasks_per_day", "count", (ingS.work.tasks + aggS.work.tasks).toDouble)
        val discovered = ingS.work.files + aggS.work.files
        s.add("runner.files_discovered_per_day", "count", discovered.toDouble)
        s.add("runner.listing_useful_ratio", "ratio", dayFiles.toDouble / math.max(1L, discovered))
        s.add("runner.output_files_per_day", "count", (dayFiles + newChFiles).toDouble)
        s.add("lake.bytes_per_day", "bytes", payload.length.toDouble)
        val (_, probe) = tr.span("probe.day_exists")(Runner.dayExists(spark, videosDir, d))
        s.add("runner.probe_s", "s", probe.seconds)
        val dir = Lake.rawDayDir(lake, d)
        val (_, fl) = tr.span("probe.flatten") {
          Flatten.ingestDay(spark, dir, regions, d).write.format("noop").mode("overwrite").save()
        }
        s.add("flatten.parse_s", "s", fl.seconds)
        s.add("flatten.tasks_per_day", "count", fl.work.tasks.toDouble)
        s.add("flatten.cpu_busy_ratio", "ratio", fl.work.cpuNs / 1e9 / (fl.seconds * ctx.cores))
        s.add("flatten.rows_per_s", "1/s", day.videos.size / fl.seconds)
        val today = spark.read.parquet(s"$videosDir/date=$d")
          .withColumn("date", lit(Date.valueOf(d))).as[TrendingVideo]
        val (left, ch) = tr.span("probe.channels") {
          Channels.newChannelIds(today, spark.read.parquet(channelsDir).select("id")).count()
        }
        c.same(s"$d channels missing from the dimension after ingest", 0L, left)
        s.add("channels.new_ids_s", "s", ch.seconds)
        s.add("channels.dim_rows", "count", spark.read.parquet(channelsDir).count().toDouble)
        s.add("channels.dim_files", "count", Main.dataFiles(channelsDir).size.toDouble)
        s.add("channels.new_ratio", "ratio", newChans.toDouble / chans.size)
        val (_, di) = tr.span("probe.insights") {
          DailyInsights.compute(spark.read.parquet(videosDir).filter(col("date") === lit(Date.valueOf(d)))
              .select("id", "date", "category_id", "channel_id", "comments_count", "likes_count",
                "views_count", "duration", "title", "publish_date", "region").as[TrendingVideo])
            .write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache()
        s.add("insights.compute_s", "s", di.seconds)
        s.add("insights.shuffle_bytes_per_day", "bytes", di.work.shuffleWrite.toDouble)
        s.add("insights.tasks_per_day", "count", di.work.tasks.toDouble)
        val weekBytes = (0 to 6).map(i => Main.dataBytes(s"$insightsDir/date=${d.minusDays(i.toLong)}")).sum
        s.add("weekly.read_bytes_ratio", "ratio", repS.work.input.toDouble / math.max(1L, weekBytes))
      }
    }

    /** Seeds [[History]] days before [[FirstDay]] with a file layout:
      * files per date partition of the two tables, and files per
      * channel-dimension append (for a day with at least that many new
      * channels). */
    def seedHistory(layout: (Int, Int, Int)): Unit = {
      val spark = ctx.spark
      import spark.implicits._
      val (kv, ki, kc) = layout
      val days = (History to 1 by -1).map { i =>
        Gen.day(seed, FirstDay.minusDays(i.toLong), FileRegions, PerRegion, Pool)
      }
      // a date-partitioned write leaves one file per date in each task that
      // holds the date, so spreading a date's rows over k tasks gives k files
      val vrows = days.zipWithIndex.flatMap { case (day, di) =>
        day.videos.zipWithIndex.map { case (v, j) => ((di % ctx.cores) * kv + j % kv, Gen.row(v, day.date)) }
      }
      val irows = days.zipWithIndex.flatMap { case (day, di) =>
        val ins = Expect.insights(day)
        expected(day.date) = ins
        ins.zipWithIndex.map { case (x, j) => ((di % ctx.cores) * ki + j % ki, x) }
      }
      // each history day appends the channels first seen that day, in files
      // of their own
      val firstSeen = mutable.LinkedHashMap.empty[String, Int]
      days.zipWithIndex.foreach { case (day, di) =>
        day.videos.map(v => Gen.channelId(v.channel)).filterNot(seen).foreach(firstSeen.getOrElseUpdate(_, di))
      }
      seen ++= firstSeen.keys
      videoRows += vrows.size
      val dims = Channels.mkChannels(apiDf.getOrElseUpdate(spark, api(spark)).join(firstSeen.keys.toSeq.toDF("id"), Seq("id"), "left_semi"))
        .collect()
      val byFile = dims.toSeq.zipWithIndex.map { case (c, j) => (firstSeen(c.id) * kc + j % kc, c) }
      val fileIds = byFile.map(_._1).distinct.sorted.zipWithIndex.toMap
      val crows = byFile.map { case (f, c) => (fileIds(f), c) }
      def exact[T: scala.reflect.ClassTag](rows: Seq[(Int, T)], parts: Int) =
        spark.sparkContext.parallelize(rows, ctx.cores).partitionBy(new HashPartitioner(parts)).values
      spark.createDataFrame(exact(vrows, ctx.cores * kv))
        .write.mode("append").partitionBy("date").parquet(videosDir)
      spark.createDataFrame(exact(irows, ctx.cores * ki))
        .write.mode("append").partitionBy("date").parquet(insightsDir)
      spark.createDataFrame(exact(crows, fileIds.size))
        .write.mode("append").parquet(channelsDir)
    }

    // --- set-up: history, then one untimed warm-up day on top of it -------
    // The history copies the file layout a real Runner day leaves. It is
    // seeded with the layout the program leaves today and checked against
    // the warm-up day; if a change to the program changed the files per date
    // partition, the warehouse is seeded again with the counted layout. A
    // channel append writes one file per non-empty slice of the channel
    // fixture (cores slices); the history gives each day up to that many.
    var historyS = 0.0
    def warmUp(layout: (Int, Int)): (Int, Int, Int) = {
      val th = System.nanoTime()
      seedHistory((layout._1, layout._2, ctx.cores))
      historyS = (System.nanoTime() - th) / 1e9
      val ch0 = Main.dataFiles(channelsDir).size
      unit(FirstDay, timed = false, ctx.samples)
      (partitionFiles(videosDir, FirstDay), partitionFiles(insightsDir, FirstDay),
        Main.dataFiles(channelsDir).size - ch0)
    }
    val t0 = System.nanoTime()
    val presumed = (1, 1)
    val counted = warmUp(presumed)
    if ((counted._1, counted._2) != presumed) {
      Seq(lake, wh).foreach(d => scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively())
      expected.clear(); seen.clear(); videoRows = 0L
      warmUp((counted._1, counted._2))
    }
    ctx.setupDone(sessionS + (System.nanoTime() - t0) / 1e9)
    ctx.detailMetric("setup.session_s", "s", sessionS, 1)
    ctx.detailMetric("setup.history_and_warmup_s", "s", (System.nanoTime() - t0) / 1e9, 1)
    ctx.detailMetric("setup.history_s", "s", historyS, 1)
    ctx.detailMetric("history.files_per_partition.videos", "count", counted._1, 1)
    ctx.detailMetric("history.files_per_partition.insights", "count", counted._2, 1)
    ctx.detailMetric("warmup.channel_files_appended", "count", counted._3, 1)
    var day = FirstDay

    // --- timed closed loop, one client ---
    def next(timed: Boolean, into: Samples): Boolean = { day = day.plusDays(1); unit(day, timed, into) }
    while (ctx.samples.sum("cycle") < ctx.seconds && next(timed = true, ctx.samples)) ()
    ctx.publishE2e()

    // --- end-of-run checks ---
    ctx.op("end checks") {
      val spark = ctx.spark
      val c = ctx.checks
      c.same(s"re-running $lastDay ingests nothing", 0L,
        Runner.runIngestDay(spark, Lake.rawDayDir(lake, lastDay), wh, lastDay, regions, apiDf(spark)))
      c.same(s"re-running $lastDay aggregates nothing", 0L, Runner.runAggregateDay(spark, wh, lastDay))
      val ids = spark.read.parquet(channelsDir).select("id").collect().map(_.getString(0))
      c.same("channel dimension has no duplicate ids", ids.length, ids.distinct.length)
      c.check("channel dimension equals the distinct channel ids seen", ids.toSet == seen.toSet,
        s"${ids.toSet.size} ids vs ${seen.size} seen")
      c.same("video rows in the warehouse", videoRows, spark.read.parquet(videosDir).count())
    }

    if (ctx.trace) {
      ctx.publishLayers()
      Seq("runner.probe_s", "flatten.parse_s", "channels.new_ids_s", "insights.compute_s")
        .foreach(n => ctx.detailP50(n + ".p50", n))
      Seq("runner.jobs_per_day", "runner.tasks_per_day", "runner.files_discovered_per_day",
        "runner.listing_useful_ratio", "runner.output_files_per_day", "lake.bytes_per_day",
        "flatten.tasks_per_day", "flatten.cpu_busy_ratio", "flatten.rows_per_s",
        "channels.dim_rows", "channels.dim_files", "channels.new_ratio",
        "insights.shuffle_bytes_per_day", "insights.tasks_per_day", "weekly.read_bytes_ratio")
        .foreach(n => ctx.detailMean(n, n))
      ctx.singleCore(next)
    }
  }
}
