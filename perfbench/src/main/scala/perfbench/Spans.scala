package perfbench

/** One traced interval. Spans of one request share `req` (-1 = set-up or
  * direct layer calls outside any request); `parent` is the span that
  * caused this one (0 = none). Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, req: Int, layer: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs

  def toJson: String = Json.obj(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "req" -> req.toString,
    "layer" -> Json.str(layer), "name" -> Json.str(name),
    "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs)))
}

object Spans {

  /** A span's duration minus the part of its interval its children cover
    * (overlapping children count once, parts outside the parent not at all). */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.durMs - Stats.unionLength(children.map(c =>
      (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs))))

  /** The program's layers, named after the source file a Spark job's call
    * site points into (the stage name reads e.g. `collect at
    * TieredStore.scala:298`). Anything else is `other`.
    */
  val layerOfFile: Map[String, String] = Map(
    "HttpBinding.scala" -> "HttpBinding",
    "Wire.scala" -> "HttpBinding",
    "Router.scala" -> "Router",
    "JsonIngest.scala" -> "JsonIngest",
    "TieredStore.scala" -> "TieredStore",
    "VersionedStore.scala" -> "VersionedStore",
    "ShardStore.scala" -> "VersionedStore",
    "DurableWrite.scala" -> "VersionedStore",
    "TimeSeries.scala" -> "TimeSeries",
    "Tags.scala" -> "TimeSeries")

  val layers: Seq[String] =
    Seq("HttpBinding", "Router", "JsonIngest", "TieredStore", "VersionedStore", "TimeSeries")

  private val CallSite = """^\S+ at ([^:\s]+):\d+.*""".r

  def layerOfCallSite(callSite: String): String = callSite match {
    case CallSite(file) => layerOfFile.getOrElse(file, "other")
    case _ => "other"
  }
}
