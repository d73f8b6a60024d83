package perfbench

import java.time.LocalDate

import graft.pipeline.{AnalyticsIngest, DataApiIngest, Schemas}
import graft.pipeline.Json._

/** Deterministic stand-ins for the YouTube Data and Analytics APIs.
  *
  * One channel with `videos` uploads; every dimensional report carries
  * `countries` values per (day, video) for each of its three dimensions
  * (country, device, traffic source). Every number is a pure function of
  * `(seed, fetch, key)`, where `fetch` numbers the job run that is calling,
  * so a day-2 run re-observes overlapping days with different values and
  * latest-wins has real work to do. */
final case class SynthSpec(seed: Long, videos: Int, countries: Int, days: Int) {
  require(videos >= 1 && countries >= 1 && countries <= 5 && days >= 2)

  val channelId = s"UC_bench_$seed"
  val uploadsId = s"UU_bench_$seed"
  val videoIds: Seq[String] = (0 until videos).map(i => f"V${seed}%d_$i%04d")

  private def rotate[A](xs: Seq[A]): Seq[A] = {
    val k = Math.floorMod(seed, xs.size.toLong).toInt
    xs.drop(k) ++ xs.take(k)
  }
  val countryCodes: Seq[String] =
    rotate(Seq("US", "PH", "GB", "IN", "JP", "DE", "BR", "CA", "MX", "FR")).take(countries)
  val deviceTypes: Seq[String] =
    rotate(Seq("DESKTOP", "MOBILE", "TABLET", "TV", "GAME_CONSOLE")).take(countries)
  val trafficSources: Seq[String] =
    rotate(Seq("YT_SEARCH", "SUGGESTED", "EXT_URL", "PLAYLIST", "SUBSCRIBER",
      "NOTIFICATION", "SHORTS")).take(countries)
  require(deviceTypes.forall(Schemas.acceptedDeviceTypes.contains))

  /** splitmix64 of the key: small, non-negative and reproducible. */
  def metric(fetch: Int, parts: Any*): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + fetch * 0xBF58476D1CE4E5B9L + parts.mkString("|").hashCode
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    Math.floorMod(z, 1000L)
  }
}

/** The Data API: channels → paginated uploads playlist → chunked videos. */
final class SynthDataClient(spec: SynthSpec, fetch: Int) extends DataApiIngest.DataApiClient {
  private val PageSize = 50

  def getJson(path: String, params: Map[String, String]): JObj = path match {
    case "channels" => JObj.of("items" -> JArr(Seq(JObj.of(
      "id" -> JStr(spec.channelId),
      "snippet" -> JObj.of("title" -> JStr(s"Bench channel ${spec.seed}"),
        "description" -> JStr("synthetic"), "customUrl" -> JStr(s"@bench${spec.seed}"),
        "country" -> JStr(spec.countryCodes.head),
        "publishedAt" -> JStr("2019-05-01T10:00:00Z")),
      "statistics" -> JObj.of(
        "viewCount" -> JStr((10000 + spec.metric(fetch, "ch.views")).toString),
        "subscriberCount" -> JStr((100 + spec.metric(fetch, "ch.subs")).toString),
        "hiddenSubscriberCount" -> JBool(false),
        "videoCount" -> JStr(spec.videos.toString)),
      "contentDetails" -> JObj.of("relatedPlaylists" -> JObj.of(
        "uploads" -> JStr(spec.uploadsId)))))))
    case "playlistItems" =>
      val page = params.get("pageToken").map(_.stripPrefix("p").toInt).getOrElse(0)
      val ids = spec.videoIds.slice(page * PageSize, (page + 1) * PageSize)
      val items = JArr(ids.map(id => JObj.of("contentDetails" -> JObj.of("videoId" -> JStr(id)))))
      if ((page + 1) * PageSize < spec.videos)
        JObj.of("items" -> items, "nextPageToken" -> JStr(s"p${page + 1}"))
      else JObj.of("items" -> items)
    case "videos" =>
      val ids = params("id").split(",").toSeq
      JObj.of("items" -> JArr(ids.map { id =>
        JObj.of(
          "id" -> JStr(id),
          "snippet" -> JObj.of("channelId" -> JStr(spec.channelId),
            "title" -> JStr(s"Video $id"), "description" -> JStr("synthetic"),
            "publishedAt" -> JStr("2024-03-01T08:00:00Z")),
          "statistics" -> JObj.of(
            "viewCount" -> JStr(spec.metric(fetch, id, "views").toString),
            "likeCount" -> JStr(spec.metric(fetch, id, "likes").toString),
            "favoriteCount" -> JStr("0"),
            "commentCount" -> JStr(spec.metric(fetch, id, "comments").toString)),
          "contentDetails" -> JObj.of("duration" -> JStr("PT4M13S")),
          "status" -> JObj.of("privacyStatus" -> JStr("public")))
      }))
    case other => throw new IllegalArgumentException(s"unexpected Data API path $other")
  }
}

/** The Analytics API: channel daily, per-video daily, and the bulk
  * `day,video,<dimension>` reports; anything else answers HTTP 400, which
  * the ingest's fallback chains never reach on this fixture. */
final class SynthAnalyticsClient(spec: SynthSpec, fetch: Int)
    extends AnalyticsIngest.AnalyticsApiClient {

  private def report(headers: Seq[String], rows: Seq[Seq[String]]): JObj = JObj.of(
    "columnHeaders" -> JArr(headers.map(h => JObj.of("name" -> JStr(h),
      "columnType" -> JStr("DIMENSION"), "dataType" -> JStr("STRING")))),
    "rows" -> JArr(rows.map(r => JArr(r.map(JStr(_))))))

  def queryReports(params: Map[String, String]): Either[JVal, JObj] = {
    val start = LocalDate.parse(params("startDate"))
    val end = LocalDate.parse(params("endDate"))
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).map(_.toString).toSeq
    val dims = params("dimensions")
    def m(parts: Any*): String = spec.metric(fetch, parts: _*).toString
    params.get("filters") match {
      case None if dims == "day" => Right(report(
        Seq("day", "views", "likes", "comments", "estimatedMinutesWatched",
          "subscribersGained", "subscribersLost"),
        days.map(d => Seq(d, m(d, "v"), m(d, "l"), m(d, "c"), m(d, "w"), m(d, "g"), m(d, "x")))))
      case Some(f) if dims == "day" =>
        val video = f.stripPrefix("video==")
        Right(report(
          Seq("day", "views", "likes", "comments", "estimatedMinutesWatched", "averageViewDuration"),
          days.map(d => Seq(d, m(video, d, "v"), m(video, d, "l"), m(video, d, "c"),
            m(video, d, "w"), s"${m(video, d, "a")}.5"))))
      case None if dims.startsWith("day,video,") =>
        val dim = dims.stripPrefix("day,video,")
        val values = dim match {
          case "country" => spec.countryCodes
          case "deviceType" => spec.deviceTypes
          case "insightTrafficSourceType" => spec.trafficSources
          case _ => return Left(JObj.of("http_status" -> JInt(400)))
        }
        Right(report(Seq("day", "video", dim, "views", "estimatedMinutesWatched"),
          for (d <- days; v <- spec.videoIds; x <- values)
            yield Seq(d, v, x, m(d, v, x, "v"), m(d, v, x, "w"))))
      case _ => Left(JObj.of("http_status" -> JInt(400)))
    }
  }
}
