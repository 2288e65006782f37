package perfbench

/** A reported number: `value` is None when too few samples support it
  * (see [[Stats.reportable]]); `n` is the sample count behind it. */
final case class Metric(value: Option[Double], unit: String, n: Int) {
  def toJson: String = Json.obj(Seq(
    "value" -> value.fold("null")(Json.num), "unit" -> Json.str(unit), "n" -> n.toString))
}

/** The end-to-end metrics of the untraced cycles. */
object EndToEnd {
  /** The metrics BENCHMARK.json lists. It holds one set for every
    * workload, so these are the ones both workloads have; the per-kind
    * metrics go to the report line. */
  val contract: Seq[String] = Seq("setup_s", "requests_per_s", "latency_p50_ms")

  def compute(w: Workload, setupS: Double, cycles: Seq[Cycle], failed: Int,
              diskBytesPerPoint: Option[Double]): Seq[(String, Metric)] = {
    val recs = cycles.flatMap(_.recs)
    val ok = recs.filter(_.error.isEmpty)
    val wall = cycles.map(_.wallS).sum
    def lat(p: Rec => Boolean): Seq[Double] = ok.filter(p).map(_.latencyMs)
    def pct(name: String, q: Double, xs: Seq[Double]) = name -> Metric(Stats.percentile(xs, q), "ms", xs.size)
    val all = lat(_ => true)
    val postOne = lat(_.req.kind == Kinds.PostOne)
    val batch = lat(_.req.kind == Kinds.PostBatch)
    val gets = lat(r => Kinds.gets(r.req.kind))
    val points = ok.filter(r => Kinds.posts(r.req.kind)).map(_.req.points).sum
    val common = Seq(
      "setup_s" -> Metric(Some(setupS), "s", 1),
      "requests_per_s" -> Metric(Some(recs.size / wall), "1/s", recs.size),
      "latency_p50_ms" -> Metric(Stats.percentile(all, 0.5), "ms", all.size),
      "failed_share" -> Metric(Some(failed.toDouble / math.max(1, recs.size)), "ratio", recs.size))
    val posts = Seq(pct("post_one_p50_ms", 0.5, postOne), pct("post_one_p90_ms", 0.9, postOne))
    val reads = Seq(pct("get_p50_ms", 0.5, gets), pct("get_p90_ms", 0.9, gets))
    common ++ (w match {
      case Ingest => posts ++ Seq(
        pct("post_batch_p50_ms", 0.5, batch),
        "ingest_points_per_s" -> Metric(Some(points / wall), "1/s", points),
        "disk_bytes_per_point" -> Metric(diskBytesPerPoint, "B", points),
        pct("get_p50_ms", 0.5, gets),
        pct("delete_p50_ms", 0.5, lat(_.req.kind == Kinds.Delete)))
      case _ => reads ++ Seq(
        pct("get_tail_p50_ms", 0.5, lat(_.req.kind == Kinds.GetTail)),
        pct("get_scan_p50_ms", 0.5, lat(_.req.kind == Kinds.GetScan)))
    })
  }
}
