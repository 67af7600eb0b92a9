package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.streaming.Streaming

/** The Structured-Streaming form of the daily cadence: each operation drops
  * one file of events for the next event-time day, then runs the
  * checkpointed ingest, the daily and the weekly aggregate to completion
  * with `Trigger.AvailableNow`. */
object StreamCycles {
  val EventsPerCycle = 50000
  val WarmupCycles = 3

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val seed = ctx.seed
    val in = ctx.dir("stream-in")
    val staging = ctx.dir("stream-staging")
    val events = ctx.dir("events")
    val dailyOut = ctx.dir("daily-agg")
    val weeklyOut = ctx.dir("weekly-agg")
    Files.createDirectories(Paths.get(in))
    val schema = Encoders.product[Gen.Event].schema
    val daily = Expect.dailyModel
    val weekly = Expect.weeklyModel
    var k = 0
    var landed = 0L

    def agg(spark: SparkSession, f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            out: String): StreamingQuery =
      f(spark.readStream.schema(schema).parquet(events)).writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "-ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()

    /** Runs one AvailableNow query to completion inside span `name`. */
    def query(name: String)(start: => StreamingQuery)
        : (Seq[StreamingQueryProgress], Seq[StreamingQueryProgress], Long, Span) = {
      var t0 = 0L
      var runId = ""
      val (p, s) = ctx.tracer.span(name) {
        t0 = System.currentTimeMillis()
        val q = start
        runId = q.runId.toString
        ctx.tracer.alias(runId)
        q.awaitTermination()
        q.recentProgress.toSeq
      }
      (p, ctx.tracer.progress(runId), t0, s)
    }

    def dropped(ps: Seq[StreamingQueryProgress]): Long =
      ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

    def unit(timed: Boolean, into: Samples): Boolean = ctx.op(s"stream cycle $k") {
      val spark = ctx.spark
      val evs = Gen.events(seed, k, EventsPerCycle)
      val wantDaily = daily.feed(evs)
      val wantWeekly = weekly.feed(evs)
      landed += evs.size
      val stage = s"$staging/$k"
      // the file is written by the benchmark, outside every timed span
      spark.createDataFrame(evs).coalesce(1).write.parquet(stage)
      val f = new File(stage).listFiles.find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(in, f"cycle-$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      val inBytes = new File(in, f"cycle-$k%05d.parquet").length
      val out0 = Main.dataBytes(events) + Main.dataBytes(dailyOut) + Main.dataBytes(weeklyOut)
      var ing, dq, wq: (Seq[StreamingQueryProgress], Seq[StreamingQueryProgress], Long, Span) = null
      val (_, cyc) = ctx.tracer.span("cycle") {
        ing = query("stream.ingest")(Streaming.ingestAvailableNow(spark, in, events, events + "-ckpt", schema))
        dq = query("stream.daily_agg")(agg(spark, Streaming.dailyAgg, dailyOut))
        wq = query("stream.weekly_agg")(agg(spark, Streaming.weeklyAgg, weeklyOut))
      }
      if (timed) {
        into.add("cycle", "s", cyc.seconds)
        into.add("cycle_cpu", "s", cyc.cpuSeconds)
        into.add("daily", "s", ing._4.seconds + dq._4.seconds)
        into.add("daily_cpu", "s", ing._4.cpuSeconds + dq._4.cpuSeconds)
        into.add("report", "s", wq._4.seconds)
        into.add("rows", "count", evs.size.toDouble)
        into.add("bytes_in", "bytes", inBytes.toDouble)
        into.add("bytes_out", "bytes",
          (Main.dataBytes(events) + Main.dataBytes(dailyOut) + Main.dataBytes(weeklyOut) - out0).toDouble)
        ctx.settle(into)
      }
      val c = ctx.checks
      c.same(s"cycle $k events ingested", evs.size.toLong, ing._1.map(_.numInputRows).sum)
      c.same(s"cycle $k late groups dropped by the daily aggregate", wantDaily, dropped(dq._1))
      c.same(s"cycle $k late groups dropped by the weekly aggregate", wantWeekly, dropped(wq._1))

      if (timed && ctx.trace && (into eq ctx.samples)) {
        ctx.phase("stream.ingest", ing._4)
        ctx.phase("stream.daily_agg", dq._4); ctx.phase("stream.weekly_agg", wq._4)
        ctx.engine(cyc)
        val s = ctx.samples
        Seq(ing, dq, wq).foreach { case (_, ps, t0, _) =>
          ps.headOption.foreach(p =>
            s.add("stream.query_start_s", "s", (Instant.parse(p.timestamp).toEpochMilli - t0) / 1e3))
          ps.foreach { p =>
            def d(key: String): Double = Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
            s.add("stream.trigger_ms", "ms", d("triggerExecution"))
            s.add("stream.add_batch_ms", "ms", d("addBatch"))
            s.add("stream.commit_ms", "ms", d("walCommit") + d("commitOffsets"))
            s.add("stream.latest_offset_ms", "ms", d("latestOffset"))
          }
        }
        val last = Seq(dq, wq).flatMap(_._2.lastOption).flatMap(_.stateOperators)
        s.add("stream.state_rows", "count", last.map(_.numRowsTotal).sum.toDouble)
        s.add("stream.state_bytes", "bytes", last.map(_.memoryUsedBytes).sum.toDouble)
        s.add("stream.rows_dropped_late", "count", dropped(dq._2).toDouble)
      }
      k += 1
    }

    // three untimed cycles: the first alone leaves the JIT far from warm
    val tw = System.nanoTime()
    (1 to WarmupCycles).foreach(_ => unit(timed = false, ctx.samples))
    val warmS = (System.nanoTime() - tw) / 1e9
    ctx.setupDone(sessionS + warmS)
    ctx.detailMetric("setup.session_s", "s", sessionS, 1)
    ctx.detailMetric("setup.warmup_s", "s", warmS, 1)

    while (ctx.samples.sum("cycle") < ctx.seconds && unit(timed = true, ctx.samples)) ()
    val s = ctx.samples
    ctx.publishE2e()
    if (s.n("cycle") > 0) ctx.detailMetric("stream_cycle_s.p75", "s", s.q("cycle", 0.75), s.n("cycle"))

    ctx.op("end checks") {
      val spark = ctx.spark
      val c = ctx.checks
      c.same("events in the ingested table", landed, spark.read.parquet(events).count())
      def windows(dir: String, key: String) =
        spark.read.parquet(dir).collect().map { r =>
          (r.getAs[java.sql.Date](key).toLocalDate, r.getAs[String]("event_type")) ->
            (r.getAs[Long]("n"), r.getAs[Double]("total_value"))
        }
      val gotDaily = windows(dailyOut, "date")
      c.same("daily windows emitted once each", gotDaily.length, gotDaily.toMap.size)
      c.same("closed daily windows", daily.closed, gotDaily.toMap)
      daily.closed.headOption.foreach { case (key, (n, v)) =>
        val probe = new Checks
        probe.same("closed daily windows", daily.closed.updated(key, (n + 1, v)), gotDaily.toMap)
        c.check("self-test: a wrong expected window count is caught", probe.failed == 1)
      }
      val gotWeekly = windows(weeklyOut, "week_start")
      c.same("weekly windows emitted once each", gotWeekly.length, gotWeekly.toMap.size)
      c.same("closed weekly windows", weekly.closed, gotWeekly.toMap)
      // rows the generator made too late are exactly the rows missing from
      // the closed windows above; check that there were some
      c.check("too-late rows were generated and dropped", daily.dropped > 0 || k <= WarmupCycles)
    }

    if (ctx.trace) {
      ctx.publishLayers()
      Seq("stream.query_start_s", "stream.trigger_ms",
        "stream.add_batch_ms", "stream.commit_ms", "stream.latest_offset_ms")
        .foreach(n => ctx.detailP50(n + ".p50", n))
      Seq("stream.state_rows", "stream.state_bytes", "stream.rows_dropped_late")
        .foreach(n => ctx.detailMean(n, n))
      ctx.detailMetric("stream.too_late_rows_generated", "count", daily.dropped.toDouble, k)
      ctx.singleCore(unit)
    }
  }
}
