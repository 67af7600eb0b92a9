package perfbench

import java.math.{BigDecimal => JBig, RoundingMode}
import java.time.LocalDate
import java.util.Locale
import scala.collection.mutable
import graft.schema.{DailyInsight, ReportRow}

/** Recomputation, outside Spark, of what the program must output, from the
  * generated records alone. Written from the reference's stated semantics,
  * not from the program's code. */
object Expect {

  /** Spark's 2-dp half-even mean: exact decimal sum of values cast to
    * DECIMAL(28,6), division at scale 6 (half-up), then half-even to 2 dp. */
  private def mean2(parts: Seq[JBig]): Double =
    parts.foldLeft(JBig.ZERO)(_ add _)
      .divide(JBig.valueOf(parts.size.toLong), 6, RoundingMode.HALF_UP)
      .setScale(2, RoundingMode.HALF_EVEN).doubleValue

  private def dec(x: Long): JBig = JBig.valueOf(x).setScale(6)
  private def dec(x: Double): JBig = scala.math.BigDecimal(x).bigDecimal.setScale(6, RoundingMode.HALF_UP)

  /** Mode with ties to the lowest value. */
  private def mode(xs: Seq[Long]): Long =
    xs.groupBy(identity).toSeq.map { case (k, v) => (-v.size, k) }.min._2

  /** One daily-insights row per region of the day. */
  def insights(day: Gen.Day): Seq[DailyInsight] = {
    val date = java.sql.Date.valueOf(day.date)
    day.videos.groupBy(_.region).toSeq.sortBy(_._1).map { case (region, vs) =>
      val views = vs.map(_.views)
      val likes = vs.map(_.likes.getOrElse(0L))
      val comments = vs.map(_.comments.getOrElse(0L))
      val tv = views.sum
      val ratio = if (tv > 0) (likes.sum + 2 * comments.sum).toDouble / tv * 1000 else 0.0
      DailyInsight(region, date, tv, mean2(views.map(dec)), views.max,
        likes.sum, mean2(likes.map(dec)), likes.max,
        comments.sum, mean2(comments.map(dec)), comments.max,
        ratio, mode(vs.map(_.category.toLong)))
    }
  }

  /** The weekly report rows for the 7 days ending `end`, from the daily
    * insights the report reads. */
  def weekly(insightsByDate: collection.Map[LocalDate, Seq[DailyInsight]],
             end: LocalDate): Seq[ReportRow] = {
    val week = (0 to 6).flatMap(i => insightsByDate.getOrElse(end.minusDays(i.toLong), Nil))
    week.groupBy(_.region).toSeq.sortBy(_._1).map { case (region, days) =>
      val top = mode(days.map(_.top_category_id))
      val won = days.filter(_.top_category_id == top)
      ReportRow(region, top,
        String.format(Locale.US, "%,d", Long.box(won.map(_.total_views).sum)),
        String.format(Locale.US, "%,d", Long.box(won.map(_.total_likes).sum)),
        mean2(won.map(w => dec(w.engagement_ratio))))
    }
  }

  /** Window results of a stream aggregate: (window start, event type) ->
    * (count, exact value total). */
  type Windows = mutable.Map[(LocalDate, String), (Long, JBig)]

  /** Replays the generated files through the watermark rules of a windowed
    * append-mode aggregate: a file's batch runs with the watermark left by
    * all earlier files (max event time minus `delayMs`), and a row whose
    * window has already ended at that watermark is dropped.
    *
    * The engine drops late rows after map-side partial aggregation, so its
    * `numRowsDroppedByWatermark` counts partial groups: with one file per
    * batch read as one partition, the distinct (window, event type) pairs
    * among the dropped rows. */
  final class StreamModel(delayMs: Long, windowStart: LocalDate => LocalDate, days: Int) {
    val windows: Windows = mutable.Map.empty
    private var maxTs = Long.MinValue
    /** Raw rows dropped so far. */
    var dropped = 0L

    def watermark: Long = if (maxTs == Long.MinValue) Long.MinValue else maxTs - delayMs

    /** Feeds one cycle's file; returns the partial groups the engine should
      * report as dropped. */
    def feed(evs: Seq[Gen.Event]): Long = {
      val wm = watermark
      val groups = mutable.Set.empty[(LocalDate, String)]
      evs.foreach { e =>
        val ms = e.ts.getTime
        val start = windowStart(LocalDate.ofEpochDay(Math.floorDiv(ms, 86400000L)))
        val endMs = start.plusDays(days.toLong).toEpochDay * 86400000L
        if (wm != Long.MinValue && endMs <= wm) {
          dropped += 1
          groups += ((start, e.event_type))
        } else {
          val (n, s) = windows.getOrElse((start, e.event_type), (0L, JBig.ZERO))
          windows((start, e.event_type)) = (n + 1, s.add(dec(e.value)))
        }
      }
      evs.foreach(e => maxTs = math.max(maxTs, e.ts.getTime))
      groups.size.toLong
    }

    /** Windows that have closed at the current watermark. */
    def closed: Map[(LocalDate, String), (Long, Double)] = {
      val wm = watermark
      windows.collect {
        case ((s, t), (n, v)) if s.plusDays(days.toLong).toEpochDay * 86400000L <= wm =>
          (s, t) -> (n, v.doubleValue)
      }.toMap
    }
  }

  def dailyModel = new StreamModel(3600000L, identity, 1)

  /** Weekly windows start on Monday (`Streaming.weeklyAgg` offsets them by
    * 4 days from the Thursday epoch). */
  def weeklyModel = new StreamModel(86400000L,
    d => d.minusDays(Math.floorMod(d.toEpochDay - 4, 7L)), 7)
}

/** Counts operations and output checks; a failed one makes the run fail. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val messages = mutable.ArrayBuffer.empty[String]

  def op(): Unit = attempted += 1
  def fail(msg: String): Unit = { failed += 1; if (messages.size < 20) messages += msg }

  /** Records a check; returns whether it passed. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) fail(s"$name: $detail")
    ok
  }

  def same[T](name: String, expected: T, actual: T): Boolean =
    check(name, expected == actual, s"expected $expected, got $actual")
}
