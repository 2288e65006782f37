package perfbench

import scala.jdk.CollectionConverters._

final case class Reply(status: Int, body: String)

/** One scripted request and the reply the model expects. `kind` groups
  * requests for the latency metrics; `points` is the number of points a
  * POST carries or a DELETE removes.
  */
final case class Req(method: String, path: String, body: String, kind: String,
                     points: Int, check: Reply => Option[String]) {
  def verify(r: Reply): Option[String] =
    if (r.status != 200) Some(s"$method $path: status ${r.status}: ${r.body.take(200)}")
    else check(r).map(e => s"$method $path: $e")
}

object Kinds {
  val PostOne = "post_one"
  val PostBatch = "post_batch"
  /** A POST of points older than the series' newest point on disk. */
  val Backfill = "post_backfill"
  val Sync = "sync"
  val GetTail = "get_tail"
  val GetScan = "get_scan"
  val GetMeta = "get_meta"
  val Delete = "delete"
  val gets: Set[String] = Set(GetTail, GetScan, GetMeta)
  val posts: Set[String] = Set(PostOne, PostBatch, Backfill)
}

/** Request constructors, each with its reply check. */
object Reqs {
  private def exact(want: String): Reply => Option[String] = r =>
    if (r.body == want) None else Some(s"want $want, got ${r.body.take(200)}")

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def postOne(series: String): Req =
    Req("POST", s"/ts/$series", """{"value": 42}""", Kinds.PostOne, 1,
      exact("""{"ingested":1,"quarantined":0}"""))

  /** A tagged, timestamped array POST; adds its points to the model. */
  def postBatch(m: SeriesModel, pts: Seq[(Long, Double, Int, Int)],
                kind: String = Kinds.PostBatch): Req = {
    pts.foreach { case (t, v, l, k) => m.add(t, v, l, k) }
    val body = pts.map { case (t, v, l, k) =>
      s"""{"timestamp": $t, "tag": ${Points.tagJson(l, k)}, "value": $v}"""
    }.mkString("[", ", ", "]")
    Req("POST", s"/ts/${m.name}", body, kind, pts.size,
      exact(s"""{"ingested":${pts.size},"quarantined":0}"""))
  }

  def sync: Req = Req("GET", "/ctl/ts/sync", "", Kinds.Sync, 0, exact("""{"status":"ok"}"""))
  def status: Req = Req("GET", "/info/status", "", Kinds.GetMeta, 0, exact("""{"status":"ok"}"""))

  def names(all: Seq[String]): Req =
    Req("GET", "/ts/names", "", Kinds.GetMeta, 0,
      exact(all.sorted.map(Json.str).mkString("[", ",", "]")))

  def length(route: String, n: Long): Req =
    Req("GET", s"/ts/$route", "", Kinds.GetMeta, 0, exact(s"""{"length":$n}"""))

  /** A raw read: the reply's timestamps, in order, and each value. */
  def points(route: String, kind: String, ms: Seq[SeriesModel], want: Seq[Long]): Req = {
    val valueOf = (t: Long) => ms.iterator.map(m => (m, m.lowerBound(t)))
      .collectFirst { case (m, i) if i < m.size && m.ts(i) == t => m.vs(i) }.get
    val wantVals = want.map(valueOf)
    Req("GET", s"/ts/$route", "", kind, 0, r => {
      val got = Json.parse(r.body).elements().asScala.toSeq
      val gotTs = got.map(_.get("timestamp").asLong())
      if (gotTs != want)
        Some(s"timestamps differ: ${gotTs.size} vs ${want.size} points, " +
          s"first ${gotTs.headOption} vs ${want.headOption}")
      else if (got.map(_.get("value").asDouble()) != wantVals) Some("values differ")
      else None
    })
  }

  def aggregate(route: String, agg: String, want: Option[Double]): Req =
    Req("GET", s"/ts/$route", "", Kinds.GetScan, 0, r => want match {
      case None => exact("{}")(r)
      case Some(w) =>
        val node = Json.parse(r.body).get(agg)
        if (node != null && close(node.asDouble(), w)) None
        else Some(s"want {$agg: $w}, got ${r.body.take(200)}")
    })

  def deleteRange(m: SeriesModel, t1: Long, t2: Long): Req = {
    val n = m.deleteRange(t1, t2)
    Req("DELETE", s"/ts/${m.name}/range/$t1/$t2", "", Kinds.Delete, n,
      exact(s"""{"deleted":$n}"""))
  }
}
