package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic, without Spark: statistics, spans,
  * attribution and the seeded generators. Run with `sbt test` in perfbench/. */
class BenchSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.reportable(0.5, 1))
    assert(!Stats.reportable(0.9, 99) && Stats.reportable(0.9, 100))
    assert(!Stats.reportable(0.99, 999) && Stats.reportable(0.99, 1000))
    val xs = (1 to 50).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).isEmpty)
    assert(Stats.percentile(xs, 0.5).contains(25.5))
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).exists(v => math.abs(v - 90.1) < 1e-9))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("quantiles interpolate between closest ranks") {
    assert(Stats.quantile(Seq(3.0, 1.0, 2.0, 4.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val parent = Span(1, 0, 1, "HttpBinding", "req", 0, 100)
    val kids = Seq(
      Span(2, 1, 1, "TieredStore", "a", 10, 30),
      Span(3, 1, 1, "TieredStore", "b", 20, 40), // overlaps a: counted once
      Span(4, 1, 1, "VersionedStore", "c", 90, 120)) // half outside the parent
    assert(Spans.selfMs(parent, kids) == 100 - 30 - 10)
    assert(Spans.selfMs(parent, Nil) == 100)
    assert(Stats.unionLength(Seq((0.0, 1.0), (5.0, 6.0), (0.5, 2.0))) == 3.0)
  }

  test("a job belongs to the layer whose source file its call site names") {
    assert(Spans.layerOfCallSite("collect at TieredStore.scala:298") == "TieredStore")
    assert(Spans.layerOfCallSite("count at Router.scala:157") == "Router")
    assert(Spans.layerOfCallSite("parquet at ShardStore.scala:50") == "VersionedStore")
    assert(Spans.layerOfCallSite("collect at HttpBinding.scala:114") == "HttpBinding")
    assert(Spans.layerOfCallSite(
      "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") == "other")
    assert(Spans.layerOfCallSite("") == "other")
  }

  test("a job belongs to the request whose interval contains it") {
    val req = Reqs.status
    val recs = Seq(Rec(1, req, 1000.0, 1100.0, 15, 1, None),
      Rec(2, req, 1100.5, 1200.0, 15, 1, None))
    val jobs = Seq(new JobRec(7, 1050, "collect at HttpBinding.scala:114", None, 1),
      new JobRec(8, 1150, "collect at TieredStore.scala:353", None, 1),
      new JobRec(9, 5000, "collect at TieredStore.scala:353", None, 1))
    val t = Layers.Traced(recs, jobs, Nil, 0, Nil)
    val a = new Layers.Attribution(t)
    assert(a.jobs(recs(0)).map(_.id) == Seq(7))
    assert(a.jobs(recs(1)).map(_.id) == Seq(8))
    assert(!a.isAttributed(jobs(2)))
    assert(jobs.map(_.layer) == Seq("HttpBinding", "TieredStore", "TieredStore"))
  }

  test("a query's planning goes to the layer that runs it; a reply's plan to the route's layer") {
    def exec(site: String) = ExecRec(1, Some(1), site, Nil, 0, 0, 0)
    def rec(r: Req) = Some(Rec(1, r, 0, 1, 0, 0, None))
    val reply = exec("collect at HttpBinding.scala:114")
    assert(Layers.planLayer(reply, rec(Reqs.status)) == "TimeSeries")
    assert(Layers.planLayer(reply, rec(Reqs.postOne("s0"))) == "Router")
    assert(Layers.planLayer(exec("count at Router.scala:120"), rec(Reqs.postOne("s0"))) == "Router")
    assert(Layers.planLayer(exec("collect at TieredStore.scala:354"), rec(Reqs.status)) == "TieredStore")
  }

  test("at the ingest spill threshold every series spills twice and the buffer never empties") {
    import Ingest._
    // the store's rule: a POST spills its series once its buffer holds the
    // threshold; a read or DELETE of a series flushes its buffer first
    val buf = Array.fill(Series.size)(0L)
    val spills = Array.fill(Series.size)(0)
    for (step <- Skeleton) {
      step match {
        case One(s) => buf(s) += 1
        case Batch(s, size) => buf(s) += size
        case Backfill(s) => buf(s) += 1
        case Last(s) => buf(s) = 0
        case Delete(s, _) => buf(s) = 0
      }
      step match {
        case One(_) | Batch(_, _) | Backfill(_) =>
          buf.indices.filter(buf(_) >= SpillThreshold).foreach { s => buf(s) = 0; spills(s) += 1 }
        case _ =>
      }
      assert(buf.sum > 0, s"buffer empty after $step")
    }
    assert(spills.toSeq == Seq.fill(Series.size)(2))
  }

  private def shape(rs: Seq[Req]): Seq[(String, String, String)] = rs.map(r => (r.method, r.path, r.body))

  private def readScript(seed: Long): Seq[Req] = {
    val ms = Read.Series.map(new SeriesModel(_))
    val sz = Read.Size(perSeries = 512, commits = 1, tail = 64)
    Workloads.preloadModel(seed, ms, 0, sz.perSeries.toLong * ms.size)
    Read.script(seed, ms, sz)
  }

  private def ingestScript(seed: Long): Seq[Req] =
    Ingest.script(seed, Ingest.Series.map(new SeriesModel(_)), Points.Base)

  test("a seed fixes every generated request; another seed changes them") {
    for (gen <- Seq[Long => Seq[Req]](ingestScript, readScript)) {
      assert(shape(gen(5)) == shape(gen(5)))
      assert(shape(gen(5)) != shape(gen(6)))
      // sizes are fixed by the workload, not by the seed
      assert(gen(5).map(r => (r.method, r.kind, r.points)) == gen(6).map(r => (r.method, r.kind, r.points)))
    }
  }

  test("the preload formulas agree with the model's point values") {
    val ms = Read.Series.map(new SeriesModel(_))
    Workloads.preloadModel(3, ms, 0, 80)
    assert(ms.forall(_.size == 10))
    assert(ms(2).ts(4) == Points.Base + 4 * Points.Step + 2)
    assert(ms(2).vs(4) == Points.value(3, 4 * 8 + 2))
    assert(ms(2).deleteRange(ms(2).ts(1), ms(2).ts(3)) == 3 && ms(2).size == 7)
  }

  test("aggregates follow the reference's empty-input semantics") {
    assert(Aggregates("sum", Array.empty).contains(0.0))
    assert(Aggregates("count", Array.empty).contains(0.0))
    assert(Aggregates("max", Array.empty).isEmpty)
    assert(Aggregates("sd", Array(1.0)).isEmpty)
    assert(Aggregates("median", Array(1.0, 4.0, 2.0, 3.0)).contains(2.5))
  }
}
