package perfbench

/** Per-layer metrics of one traced cycle. Spark jobs belong to the layer
  * whose source file their call site names ([[Spans.layerOfCallSite]]). The
  * one client has one request in flight at a time, so a job or query
  * belongs to the request whose interval contains it.
  */
object Layers {

  /** (name, unit, better) of every metric a traced run prints. */
  val contract: Seq[(String, String, String)] = Seq(
    ("HttpBinding.reply_ms", "ms", "lower"),
    ("HttpBinding.reply_kb", "KiB", "lower"),
    ("HttpBinding.driver_self_ms", "ms", "lower"),
    ("Router.jobs_per_post", "count", "lower"),
    ("Router.ack_ms_per_post", "ms", "lower"),
    ("JsonIngest.us_per_point_small", "us", "lower"),
    ("JsonIngest.us_per_point_large", "us", "lower"),
    ("TieredStore.jobs_per_post", "count", "lower"),
    ("TieredStore.job_ms_per_post", "ms", "lower"),
    ("TieredStore.tasks_per_post_first", "count", "lower"),
    ("TieredStore.tasks_per_post_last", "count", "lower"),
    ("TieredStore.readlast_ms", "ms", "lower"),
    ("TieredStore.m1_share", "ratio", "higher"),
    ("TieredStore.forced_flushes", "count", "lower"),
    ("VersionedStore.commits", "count", "lower"),
    ("VersionedStore.commit_ms", "ms", "lower"),
    ("VersionedStore.bytes_written_per_point", "B", "lower"),
    ("VersionedStore.files_read_per_get", "count", "lower"),
    ("VersionedStore.rows_scanned_per_row_returned", "ratio", "lower"),
    ("TimeSeries.plan_ms_per_get", "ms", "lower"),
    ("spark.jobs_per_request", "count", "lower"),
    ("spark.jobs_per_post_one", "count", "lower"),
    ("spark.stages_per_request", "count", "lower"),
    ("spark.tasks_per_request", "count", "lower"),
    ("spark.task_ms_per_request", "ms", "lower"),
    ("spark.job_wall_ms_per_request", "ms", "lower"),
    ("spark.failed_tasks", "count", "lower")) ++
    Spans.layers.map(l => (s"$l.self_ms_per_request", "ms", "lower"))

  /** A direct `explodeBatches` + `ingest` call on one array body. */
  final case class IngestCall(reqId: Int, points: Int, startMs: Double, endMs: Double)

  final case class Traced(recs: Seq[Rec], jobs: Seq[JobRec], execs: Seq[ExecRec],
                          commits: Int, calls: Seq[IngestCall])

  /** Which request each job and query belongs to. */
  final class Attribution(t: Traced) {
    private val sorted = t.recs.sortBy(_.startMs).toIndexedSeq
    /** Listener times are whole ms on the same clock: allow 1 ms either side. */
    private def recAt(ms: Double): Option[Rec] =
      sorted.takeWhile(_.startMs - 1 <= ms).lastOption.filter(ms <= _.endMs + 1)
    private val jobRec: Map[Int, Rec] =
      t.jobs.flatMap(j => recAt(j.startMs.toDouble).map(j.id -> _)).toMap
    private val execRec: Map[Long, Rec] = t.execs.flatMap { e =>
      t.jobs.find(j => e.execId.isDefined && j.execId == e.execId).flatMap(j => jobRec.get(j.id))
        .orElse(recAt(e.startMs.toDouble)).map(e.id -> _)
    }.toMap
    val jobsOf: Map[Int, Seq[JobRec]] =
      t.jobs.flatMap(j => jobRec.get(j.id).map(_.id -> j)).groupMap(_._1)(_._2)
    val execsOf: Map[Int, Seq[ExecRec]] =
      t.execs.flatMap(e => execRec.get(e.id).map(_.id -> e)).groupMap(_._1)(_._2)
    def jobs(r: Rec): Seq[JobRec] = jobsOf.getOrElse(r.id, Nil)
    def execs(r: Rec): Seq[ExecRec] = execsOf.getOrElse(r.id, Nil)
    def isAttributed(j: JobRec): Boolean = jobRec.contains(j.id)
    def reqOf(j: JobRec): Option[Rec] = jobRec.get(j.id)
    def reqOf(e: ExecRec): Option[Rec] = execRec.get(e.id)
  }

  private def planPhases(e: ExecRec): Seq[(String, Long, Long)] =
    e.phases.filter(p => Set("analysis", "optimization", "planning")(p._1))

  /** The layer a query's planning is charged to: the one whose file makes
    * the call that runs it. A reply query is run by HttpBinding's render,
    * but its plan is the route's: TimeSeries for a GET, Router otherwise. */
  def planLayer(e: ExecRec, r: Option[Rec]): String = e.layer match {
    case "HttpBinding" => if (r.exists(x => Kinds.gets(x.req.kind))) "TimeSeries" else "Router"
    case l => l
  }

  /** The spans of a traced cycle: requests; the Spark jobs and query
    * planning phases inside them; the direct JsonIngest calls. */
  final case class SpanSet(requests: Seq[Span], inner: Seq[Span], calls: Seq[Span]) {
    def all: Seq[Span] = requests ++ inner ++ calls
  }

  def spans(t: Traced, a: Attribution): SpanSet = {
    var next = 0L
    def id(): Long = { next += 1; next }
    val reqSpans = t.recs.map(r => r.id -> Span(id(), 0, r.id, "HttpBinding",
      s"${r.req.method} ${r.req.path}", r.startMs, r.endMs)).toMap
    def under(r: Option[Rec]): (Long, Int) = r.fold((0L, -1))(x => (reqSpans(x.id).id, x.id))
    val jobSpans = t.jobs.map { j =>
      val (parent, req) = under(a.reqOf(j))
      Span(id(), parent, req, j.layer, s"job ${j.id}, ${j.tasks} tasks: ${j.callSite}",
        j.startMs.toDouble, j.endMs.toDouble)
    }
    val planSpans = t.execs.flatMap { e =>
      val (parent, req) = under(a.reqOf(e))
      val layer = planLayer(e, a.reqOf(e))
      planPhases(e).map { case (ph, s, en) =>
        Span(id(), parent, req, layer, s"$ph of query ${e.id}", s.toDouble, en.toDouble)
      }
    }
    val callSpans = t.calls.map(c => Span(id(), reqSpans.get(c.reqId).fold(0L)(_.id), c.reqId,
      "JsonIngest", s"explodeBatches+ingest ${c.points} points", c.startMs, c.endMs))
    SpanSet(reqSpans.values.toSeq.sortBy(_.id), jobSpans ++ planSpans, callSpans)
  }

  def compute(t: Traced, ackedPoints: Int): (Seq[(String, Metric)], Seq[Span]) = {
    val a = new Attribution(t)
    val ss = spans(t, a)
    val recs = t.recs
    val n = math.max(1, recs.size)
    def kind(p: String => Boolean): Seq[Rec] = recs.filter(r => p(r.req.kind))
    val gets = kind(Kinds.gets)
    val posts = kind(Kinds.posts).sortBy(_.id)
    def layerJobs(r: Rec, layer: String): Seq[JobRec] = a.jobs(r).filter(_.layer == layer)
    def meanOf(rs: Seq[Rec])(f: Rec => Double): Double = Stats.mean(rs.map(f))
    def m(name: String, v: Double, count: Int): (String, Metric) = {
      val unit = contract.find(_._1 == name).map(_._2).getOrElse(sys.error(s"unlisted $name"))
      name -> Metric(Some(v), unit, count)
    }
    val children = ss.inner.filter(_.parent != 0).groupBy(_.parent)
    val reqSpan = ss.requests.map(s => s.req -> s).toMap
    def selfOf(r: Rec): Double = reqSpan.get(r.id).fold(0.0)(s =>
      Spans.selfMs(s, children.getOrElse(s.id, Nil)))
    def union(ss: Seq[Span]): Double = Stats.unionLength(ss.map(s => (s.startMs, s.endMs)))
    val tails = gets.filter(r => r.req.path.contains("/last/") || r.req.path.endsWith("/latest"))
    val tenth = math.max(1, math.round(posts.size / 10.0).toInt)
    def tasksTiered(rs: Seq[Rec]) = meanOf(rs)(r => layerJobs(r, "TieredStore").map(_.tasks).sum)
    val jobs = t.jobs
    def wall(js: Seq[JobRec]): Double = js.map(_.wallMs).sum
    val rowsReturned = gets.map(_.rows).sum
    val postOne = kind(_ == Kinds.PostOne)
    val busy = union(ss.requests)
    // HttpBinding's own jobs (the reply render) are its self time
    val covered = union(ss.inner.filter(_.layer != "HttpBinding"))
    val getPlanMs = (r: Rec) => a.execs(r).filter(planLayer(_, Some(r)) == "TimeSeries")
      .flatMap(planPhases).map(p => (p._3 - p._2).toDouble).sum
    val metrics = Seq(
      m("HttpBinding.reply_ms", meanOf(gets)(r => wall(layerJobs(r, "HttpBinding"))), gets.size),
      m("HttpBinding.reply_kb", meanOf(gets)(_.replyBytes / 1024.0), gets.size),
      m("HttpBinding.driver_self_ms", meanOf(recs.filter(_.req.kind != Kinds.Sync))(selfOf),
        recs.count(_.req.kind != Kinds.Sync)),
      m("Router.jobs_per_post", meanOf(posts)(r => layerJobs(r, "Router").size), posts.size),
      m("Router.ack_ms_per_post", meanOf(posts)(r => wall(layerJobs(r, "Router"))), posts.size),
      m("JsonIngest.us_per_point_small", usPerPoint(t.calls.filter(_.points <= 100)),
        t.calls.count(_.points <= 100)),
      m("JsonIngest.us_per_point_large", usPerPoint(t.calls.filter(_.points >= 1000)),
        t.calls.count(_.points >= 1000)),
      m("TieredStore.jobs_per_post", meanOf(posts)(r => layerJobs(r, "TieredStore").size), posts.size),
      m("TieredStore.job_ms_per_post", meanOf(posts)(r => wall(layerJobs(r, "TieredStore"))), posts.size),
      m("TieredStore.tasks_per_post_first", tasksTiered(posts.take(tenth)), math.min(tenth, posts.size)),
      m("TieredStore.tasks_per_post_last", tasksTiered(posts.takeRight(tenth)), math.min(tenth, posts.size)),
      m("TieredStore.readlast_ms", meanOf(tails)(r => wall(layerJobs(r, "TieredStore"))), tails.size),
      m("TieredStore.m1_share", meanOf(tails)(r =>
        if (a.jobs(r).nonEmpty && a.execs(r).forall(_.parquetScans == 0)) 1.0 else 0.0), tails.size),
      // a GET that writes files commits the buffer it had to flush first
      m("TieredStore.forced_flushes", gets.count(r => a.jobs(r).exists(_.bytesWritten > 0)), gets.size),
      m("VersionedStore.commits", t.commits, 1),
      m("VersionedStore.commit_ms",
        if (t.commits == 0) 0.0 else wall(jobs.filter(_.layer == "VersionedStore")) / t.commits, t.commits),
      m("VersionedStore.bytes_written_per_point",
        if (ackedPoints == 0) 0.0 else jobs.map(_.bytesWritten).sum.toDouble / ackedPoints, ackedPoints),
      m("VersionedStore.files_read_per_get", meanOf(gets)(r => a.execs(r).map(_.filesRead).sum.toDouble), gets.size),
      m("VersionedStore.rows_scanned_per_row_returned",
        if (rowsReturned == 0) 0.0
        else gets.flatMap(a.execs).map(_.rowsScanned).sum.toDouble / rowsReturned, rowsReturned),
      m("TimeSeries.plan_ms_per_get", meanOf(gets)(getPlanMs), gets.size),
      m("spark.jobs_per_request", jobs.size.toDouble / n, recs.size),
      m("spark.jobs_per_post_one",
        if (postOne.isEmpty) 0.0
        else Stats.quantile(postOne.map(a.jobs(_).size.toDouble), 0.5), postOne.size),
      m("spark.stages_per_request", jobs.map(_.stages).sum.toDouble / n, recs.size),
      m("spark.tasks_per_request", jobs.map(_.tasks).sum.toDouble / n, recs.size),
      m("spark.task_ms_per_request", jobs.map(_.taskMs).sum.toDouble / n, recs.size),
      m("spark.job_wall_ms_per_request", wall(jobs) / n, recs.size),
      m("spark.failed_tasks", jobs.map(_.failedTasks).sum, jobs.size)) ++
      Spans.layers.map { l =>
        val v = l match {
          case "HttpBinding" => busy - covered
          // no request runs a job from JsonIngest's file; its own time is
          // that of the direct calls
          case "JsonIngest" => union(ss.calls)
          case _ => union(ss.inner.filter(_.layer == l))
        }
        m(s"$l.self_ms_per_request", v / n, recs.size)
      }
    (metrics, ss.all)
  }

  private def usPerPoint(cs: Seq[IngestCall]): Double =
    if (cs.isEmpty) 0.0 else cs.map(c => (c.endMs - c.startMs) * 1000.0).sum / cs.map(_.points).sum
}
