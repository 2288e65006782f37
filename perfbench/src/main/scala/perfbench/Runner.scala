package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

/** One completed request. Times are epoch ms with sub-ms digits; `error`
  * is a transport error, a non-200 reply or a failed reply check. */
final case class Rec(id: Int, req: Req, startMs: Double, endMs: Double,
                     replyBytes: Int, rows: Int, error: Option[String]) {
  def latencyMs: Double = endMs - startMs
}

final case class Cycle(recs: Seq[Rec], wallS: Double)

/** One closed-loop client: it sends its next request only after the
  * previous reply arrived. */
object Runner {
  private val ids = new AtomicInteger()
  /** epoch ms = this offset + nanoTime / 1e6, one clock for every span. */
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs(): Double = epochOffsetMs + System.nanoTime() / 1e6

  /** Replays the prepared script once. */
  def cycle(p: Prepared): Cycle = {
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    val t0 = System.nanoTime()
    val recs = p.script.map(send(http, p.base, _))
    Cycle(recs, (System.nanoTime() - t0) / 1e9)
  }

  private def send(http: HttpClient, base: String, req: Req): Rec = {
    val b = HttpRequest.newBuilder(URI.create(base + req.path)).timeout(Duration.ofSeconds(120))
    val built = req.method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(BodyPublishers.ofString(req.body))
    }
    val id = ids.incrementAndGet()
    val t0 = nowMs()
    val reply = try {
      val r = http.send(built.build(), HttpResponse.BodyHandlers.ofString())
      Right(Reply(r.statusCode(), r.body()))
    } catch { case e: Exception => Left(s"${req.method} ${req.path}: $e") }
    val t1 = nowMs()
    reply match {
      case Left(err) => Rec(id, req, t0, t1, 0, 0, Some(err))
      case Right(r) =>
        val err = try req.verify(r) catch {
          case e: Exception => Some(s"${req.method} ${req.path}: unreadable reply: $e")
        }
        // rows returned: a wire point array's length, else one object
        val rows = if (r.body.startsWith("[")) util.Try(Json.parse(r.body).size()).getOrElse(0) else 1
        Rec(id, req, t0, t1, r.body.getBytes("UTF-8").length, rows, err)
    }
  }
}
