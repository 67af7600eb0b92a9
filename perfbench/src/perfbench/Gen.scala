package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import graft.schema.TrendingVideo

/** Seeded input generators. Everything the program receives is made here
  * from `--seed`; the same seed gives the same bytes. */
object Gen {

  /** splitmix64 finaliser: decorrelates (seed, stream, key) triples. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, key: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ key))

  private val alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
  private def token(r: SplittableRandom, n: Int): String = {
    val b = new StringBuilder(n)
    (0 until n).foreach(_ => b += alnum.charAt(r.nextInt(alnum.length)))
    b.result()
  }

  private val words = Vector("live", "official", "video", "music", "trailer", "match",
    "highlights", "news", "reaction", "review", "full", "episode", "season", "final",
    "best", "moments", "cup", "league", "song", "remix", "vlog", "podcast", "interview",
    "challenge", "tutorial", "game", "update", "world", "story", "show")
  private def sentence(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" ")

  /** YouTube category ids; drawn with a skew so daily modes sometimes tie. */
  private val categories = Vector(10, 24, 20, 17, 22, 1, 23, 25, 28, 26, 2, 15, 19, 27, 29)

  /** Country codes of the channel fixture. */
  private val countries: Vector[String] = Vector("AE", "AR", "AT", "AU", "BE", "BR", "CA", "CH",
    "CL", "CO", "CZ", "DE", "DK", "EG", "ES", "FI", "FR", "GB", "GR", "HK", "HU", "ID",
    "IE", "IL", "IN", "IT", "JP", "KR", "MA", "MX", "MY", "NG", "NL", "NO", "NZ", "PE",
    "PH", "PK", "PL", "PT", "QA", "RO", "SA", "SE", "SG", "TH", "TR", "TW", "US", "VN")

  def channelId(i: Int): String = f"UC${mix(i.toLong) & 0xFFFFFFFFFFFFL}%012x${i}%010d"

  /** One trending video as the API returns it; `likes`/`comments` None means
    * the field is absent from the JSON. */
  final case class Video(region: String, id: String, channel: Int, category: Int,
                         views: Long, likes: Option[Long], comments: Option[Long],
                         duration: String, durationS: Long, title: String,
                         published: LocalDateTime, tags: Seq[String], blocked: Seq[String])

  final case class Day(date: LocalDate, fileRegions: Seq[String], videos: Vector[Video])

  private def duration(r: SplittableRandom): (String, Long) = r.nextInt(20) match {
    case 0 => val s = 5 + r.nextInt(55); (s"PT${s}S", s.toLong)
    case 1 => val h = 1 + r.nextInt(3); val m = r.nextInt(60); val s = r.nextInt(60)
      (s"PT${h}H${m}M${s}S", h * 3600L + m * 60 + s)
    case 2 => val s = 1 + r.nextInt(59); (s"P1DT${s}S", 86400L + s)
    case 3 => val w = 1 + r.nextInt(2); (s"P${w}W", w * 604800L)
    case _ => val m = 1 + r.nextInt(40); val s = r.nextInt(60); (s"PT${m}M${s}S", m * 60L + s)
  }

  /** A day of trending lists: `perRegion` videos for each region, channels
    * drawn with a skew from a pool of `pool`. Covers the edge cases of the
    * reference's captured day: absent likeCount/commentCount, absent
    * tags/regionRestriction, PT…, P…DT… and P…W durations, and (rarely) a
    * region whose counts are all zero. */
  def day(seed: Long, date: LocalDate, fileRegions: Seq[String], perRegion: Int,
          pool: Int): Day = {
    val r = rng(seed, 1, date.toEpochDay)
    val videos = fileRegions.iterator.flatMap { region =>
      val zero = r.nextInt(40) == 0
      (0 until perRegion).iterator.map { _ =>
        val u = r.nextDouble()
        val ch = (pool * u * u).toInt
        val cat = categories((categories.size * math.pow(r.nextDouble(), 1.7)).toInt)
        val views =
          if (zero) 0L else math.min(5e8, math.exp(10 + 2.2 * r.nextGaussian())).toLong
        val likes = (views * r.nextDouble() * 0.06).toLong
        val comments = (views * r.nextDouble() * 0.004).toLong
        val (dur, durS) = duration(r)
        val pub = date.minusDays(r.nextInt(7).toLong).atStartOfDay()
          .plusSeconds(r.nextInt(86400).toLong)
        Video(region, token(r, 11), ch, cat, views,
          if (r.nextInt(12) == 0) None else Some(likes),
          if (r.nextInt(12) == 0) None else Some(comments),
          dur, durS, sentence(r, 3 + r.nextInt(5)), pub,
          if (r.nextInt(5) == 0) Nil else (0 until 1 + r.nextInt(4)).map(_ => words(r.nextInt(words.size))),
          if (r.nextInt(10) == 0) Seq("RU", "CN").take(1 + r.nextInt(2)) else Nil)
      }
    }.toVector
    Day(date, fileRegions, videos)
  }

  /** The day as the API payload the reference uploads: one JSON object keyed
    * by region code. */
  def payload(d: Day, seed: Long): String = {
    val r = rng(seed, 2, d.date.toEpochDay)
    val b = new java.lang.StringBuilder(d.videos.size * 900 + 1024)
    def q(s: String): Unit = b.append('"').append(s).append('"')
    b.append('{')
    val byRegion = d.videos.groupBy(_.region)
    d.fileRegions.zipWithIndex.foreach { case (region, ri) =>
      if (ri > 0) b.append(',')
      q(region)
      b.append(":{\"kind\":\"youtube#videoListResponse\",\"etag\":")
      q(token(r, 27))
      b.append(",\"nextPageToken\":\"CBQQAA\",\"pageInfo\":{\"totalResults\":200,\"resultsPerPage\":")
      val items = byRegion.getOrElse(region, Vector.empty)
      b.append(items.size).append("},\"items\":[")
      items.zipWithIndex.foreach { case (v, i) =>
        if (i > 0) b.append(',')
        b.append("{\"kind\":\"youtube#video\",\"etag\":"); q(token(r, 27))
        b.append(",\"id\":"); q(v.id)
        b.append(",\"snippet\":{\"publishedAt\":"); q(v.published.toString.take(19) + "Z")
        b.append(",\"channelId\":"); q(channelId(v.channel))
        b.append(",\"title\":"); q(v.title)
        b.append(",\"description\":"); q(sentence(r, 6 + r.nextInt(10)))
        b.append(",\"thumbnails\":{\"default\":{\"url\":\"https://i.ytimg.com/vi/")
          .append(v.id).append("/default.jpg\",\"width\":120,\"height\":90},")
          .append("\"high\":{\"url\":\"https://i.ytimg.com/vi/")
          .append(v.id).append("/hqdefault.jpg\",\"width\":480,\"height\":360}}")
        b.append(",\"channelTitle\":\"Channel ").append(v.channel).append('"')
        if (v.tags.nonEmpty) b.append(",\"tags\":").append(v.tags.map("\"" + _ + "\"").mkString("[", ",", "]"))
        b.append(",\"categoryId\":"); q(v.category.toString)
        b.append(",\"liveBroadcastContent\":\"none\"},\"contentDetails\":{\"duration\":"); q(v.duration)
        b.append(",\"dimension\":\"2d\",\"definition\":\"hd\",\"caption\":\"false\",\"licensedContent\":true")
        if (v.blocked.nonEmpty)
          b.append(",\"regionRestriction\":{\"blocked\":").append(v.blocked.map("\"" + _ + "\"").mkString("[", ",", "]")).append('}')
        b.append("},\"statistics\":{\"viewCount\":"); q(v.views.toString)
        v.likes.foreach { l => b.append(",\"likeCount\":"); q(l.toString) }
        b.append(",\"favoriteCount\":\"0\"")
        v.comments.foreach { c => b.append(",\"commentCount\":"); q(c.toString) }
        b.append("}}")
      }
      b.append("]}")
    }
    b.append('}').toString
  }

  /** The curated row the pipeline should land for a generated video. */
  def row(v: Video, date: LocalDate): TrendingVideo =
    TrendingVideo(v.id, java.sql.Date.valueOf(date), v.category.toString, channelId(v.channel),
      v.comments.getOrElse(0L), v.likes.getOrElse(0L), v.views, v.durationS, v.title,
      Timestamp.from(v.published.toInstant(ZoneOffset.UTC)), v.region)

  /** Channel-API responses for the whole pool, with the optional fields
    * (country, madeForKids, subscriberCount, keywords) sometimes absent.
    * Shaped as [[graft.schema.Schemas.channelResponseSchema]]. */
  def channelApi(seed: Long, pool: Int): Seq[Row] = (0 until pool).map { i =>
    val r = rng(seed, 3, i.toLong)
    val published = LocalDate.of(2006, 1, 1).plusDays(r.nextInt(6500).toLong)
      .atStartOfDay().plusSeconds(r.nextInt(86400).toLong).toString.take(19) + "Z"
    def opt[T](p: Int, v: => T): Any = if (r.nextInt(p) == 0) null else v
    Row(channelId(i),
      Row(s"Channel $i", opt(6, countries(r.nextInt(countries.size))), published),
      if (r.nextInt(4) == 0) null else Row(r.nextInt(3) == 0),
      Row(opt(8, r.nextInt(20000000).toString), r.nextLong(1L << 34).toString, r.nextInt(5000).toString),
      Row(opt(3, sentence(r, 4))))
  }

  /** One event of the stream workload. */
  final case class Event(event_id: Long, ts: Timestamp, event_type: String, value: Double)

  private val eventTypes = Vector("view", "view", "view", "click", "click", "like", "share", "comment")
  val streamStart: LocalDate = LocalDate.of(2025, 1, 6)

  def epochMs(d: LocalDate, secondOfDay: Int): Long =
    d.toEpochDay * 86400000L + secondOfDay * 1000L

  /** The file dropped in stream cycle `k`: `n` events of event-time day
    * `streamStart + k`, written in shuffled order, one at 23:59:59 so the
    * watermark it leaves is known exactly. From cycle 1 on, 2% belong to the
    * last hour of the previous day (out of order but within the 1-hour
    * lateness); from cycle 3 on, 0.5% are three days old: their day has
    * closed, so the daily aggregate must drop them, and the weekly one drops
    * those whose week has closed. */
  def events(seed: Long, k: Int, n: Int): Vector[Event] = {
    val r = rng(seed, 4, k.toLong)
    val today = streamStart.plusDays(k.toLong)
    val nLate = if (k >= 1) n / 50 else 0
    val nTooLate = if (k >= 3) n / 200 else 0
    val evs = (0 until n).map { i =>
      val ms =
        if (i == 0) epochMs(today, 86399)
        else if (i <= nLate) epochMs(today.minusDays(1), 83100 + r.nextInt(3299))
        else if (i <= nLate + nTooLate) epochMs(today.minusDays(3), r.nextInt(86400))
        else epochMs(today, r.nextInt(86399))
      Event(k * 10000000L + i, new Timestamp(ms), eventTypes(r.nextInt(eventTypes.size)),
        r.nextInt(40000) / 4.0)
    }.toArray
    // Fisher-Yates with the seeded stream: file order is not event-time order
    (evs.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = evs(i); evs(i) = evs(j); evs(j) = t
    }
    evs.toVector
  }

  // --- tables of the operator-sentinel workload ---------------------------

  /** Rows shaped as the library's fixture tables (`documents`,
    * `embeddings`, `lineitem`), the inputs of the sentinel keys. */
  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                            l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String, l_linestatus: String,
                            l_shipdate: Timestamp)

  private val docWords = Vector("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Vector("en", "en", "en", "en", "de", "es", "fr", "zh", "en", "es", "fr", "zh", "de")

  /** `n` documents of 10 to 100 words; about one in twenty is a near
    * duplicate of an earlier one (the same text with "dup" appended, or
    * with one word changed), so the similarity joins have pairs to find. */
  def documents(seed: Long, n: Int): Vector[Document] = {
    val r = rng(seed, 5, 0)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val text =
        if (i > 0 && r.nextInt(20) == 0) {
          val base = texts(r.nextInt(texts.size))
          if (r.nextBoolean()) base + " dup"
          else {
            val ws = base.split(" ")
            ws(r.nextInt(ws.length)) = docWords(r.nextInt(docWords.size))
            ws.mkString(" ")
          }
        } else (0 until 10 + r.nextInt(91)).map(_ => docWords(r.nextInt(docWords.size))).mkString(" ")
      texts += text
      Document(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }.toVector
  }

  /** `n` unit vectors of 64 floats around 10 label centroids. */
  def embeddings(seed: Long, n: Int): Vector[Embedding] = {
    val r = rng(seed, 6, 0)
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = { val l = math.sqrt(v.map(x => x * x).sum); v.map(_ / l) }
    val centroids = Vector.fill(10)(unit(Array.fill(dim)(r.nextGaussian())))
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = unit(Array.tabulate(dim)(j => 0.3 * centroids(label)(j) + r.nextGaussian() / 8))
      Embedding(i.toLong, v.map(_.toFloat).toSeq, label)
    }.toVector
  }

  /** `n` order lines over 1992-1998, four to an order. */
  def lineitems(seed: Long, n: Int): Vector[LineItem] = {
    val r = rng(seed, 7, 0)
    val day0 = LocalDate.of(1992, 1, 2)
    (0 until n).map { i =>
      val part = 1 + r.nextInt(200)
      val qty = (1 + r.nextInt(50)).toDouble
      val price = BigDecimal(qty * (900 + part % 1000 + part / 10.0)).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      val ship = day0.plusDays(r.nextInt(2500).toLong)
      LineItem(i / 4 + 1L, part.toLong, 1L + r.nextInt(10), i % 4 + 1, qty, price,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Vector("R", "A", "N")(r.nextInt(3)),
        if (ship.isAfter(LocalDate.of(1995, 6, 17))) "O" else "F",
        Timestamp.from(ship.atStartOfDay().toInstant(ZoneOffset.UTC)))
    }.toVector
  }

  /** Writes the three tables under `dir` as `<name>.parquet`, one file each,
    * with timestamps as TIMESTAMP_MICROS like the fixture files. */
  def writeSentinelTables(spark: SparkSession, dir: String, seed: Long,
                          docs: Int, vecs: Int, lines: Int): Unit = {
    import spark.implicits._
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      documents(seed, docs).toDS().coalesce(1).write.parquet(s"$dir/documents.parquet")
      embeddings(seed, vecs).toDS().coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      lineitems(seed, lines).toDS().coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
