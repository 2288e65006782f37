package perfbench

import graft.GraftSession
import graft.sources.{JsonIngest, VersionedStore}
import java.io.File
import java.nio.file.Files

/** The serving benchmark: replays a workload's fixed scripts over loopback
  * HTTP against fresh `TieredStore`s behind `HttpBinding`, checks every
  * reply against the generator's model, and prints the metrics. The last
  * stdout line is the result; the line before it is the full report.
  *
  * {{{
  *   perfbench.Main --workload ingest|read --seed N --seconds S
  *                  --trace 0|1 --out DIR
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong & 0x7fffffffL
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = new File(opts.getOrElse("out", "perfbench-out"))
    val stores = new File(out, s"stores-${ProcessHandle.current().pid()}")
    stores.mkdirs()
    val code = try run(w, seed, seconds, traced, out, stores) finally deleteTree(stores)
    sys.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
                  out: File, stores: File): Int = {
    val t0 = System.nanoTime()
    val spark = GraftSession.create(s"local[${Runtime.getRuntime.availableProcessors()}]")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val env = new Env(spark, seed, stores)
    val errors = collection.mutable.ArrayBuffer.empty[String]

    // set-up proper; the root is opened several times and the median kept
    val first = w.prepare(env, opens = 3)

    // one untimed cycle warms JIT and codegen for every request shape
    val tw = System.nanoTime()
    val warm = w.warmup(env, first)
    val warmCycle = Runner.cycle(warm)
    if (warm ne first) warm.close()
    errors ++= (warmCycle.recs.flatMap(_.error) ++ warm.after()).map("warm-up: " + _)
    val warmupS = secs(tw)
    val setupS = sessionS + warmupS + first.preloadS + Stats.quantile(first.openS, 0.5)

    // timed cycles: another starts while less than `seconds` have passed
    val cycles = collection.mutable.ArrayBuffer.empty[Cycle]
    // a failed request or post-cycle check counts once in `failed`
    var failed = 0
    var attempted = 0
    def check(c: Cycle, p: Prepared, what: String): Unit = {
      val errs = c.recs.flatMap(_.error) ++ p.after()
      errors ++= errs.map(what + _)
      failed += errs.size
      attempted += c.recs.size
    }
    var diskBytes = Option.empty[Double]
    var p = first
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val cpu0 = HostCpu.sample()
    var more = true
    while (more) {
      val c = Runner.cycle(p)
      cycles += c
      check(c, p, "")
      if (w == Ingest) {
        def points(kinds: String => Boolean) =
          c.recs.filter(r => r.error.isEmpty && kinds(r.req.kind)).map(_.req.points).sum
        val live = points(Kinds.posts) - points(_ == Kinds.Delete)
        diskBytes = Some(treeBytes(new File(p.root)).toDouble / live)
      }
      more = System.nanoTime() < deadline
      if (!w.reusable) { p.close(); if (more) p = w.prepare(env, opens = 1) }
    }
    val steal = HostCpu.stealShare(cpu0, HostCpu.sample())
    val e2e = EndToEnd.compute(w, setupS, cycles.toSeq, failed, diskBytes)

    val layer = if (!traced) None else {
      val tp = if (w.reusable) p else w.prepare(env, opens = 1)
      val (t, acked, cycle) = tracedCycle(env, tp)
      check(cycle, tp, "traced: ")
      if (!w.reusable) tp.close()
      val (metrics, spans) = Layers.compute(t, acked)
      val spanFile = new File(out, s"spans-${w.name}-seed$seed.jsonl")
      Files.writeString(spanFile.toPath, spans.map(_.toJson).mkString("", "\n", "\n"))
      // every cycle replays the same script: compare request by request,
      // the traced latency against the median untraced one at that position
      val diffs = cycle.recs.zipWithIndex.collect { case (r, i) if r.error.isEmpty =>
        r.latencyMs - Stats.quantile(cycles.toSeq.map(_.recs(i).latencyMs), 0.5)
      }
      val overhead = if (diffs.isEmpty) 0.0 else Stats.quantile(diffs, 0.5)
      Some((metrics, overhead, spanFile))
    }
    if (w.reusable) p.close()
    spark.stop()

    val correct = errors.isEmpty
    val report = Seq(
      "report" -> Json.str(w.name), "seed" -> seed.toString,
      "cycle_wall_s" -> cycles.map(c => Json.num(c.wallS)).mkString("[", ",", "]"),
      "host_steal_share" -> steal.fold("null")(Json.num),
      "setup_parts_s" -> Json.obj(Seq("session" -> Json.num(sessionS),
        "warmup" -> Json.num(warmupS), "preload" -> Json.num(first.preloadS),
        "open_median" -> Json.num(Stats.quantile(first.openS, 0.5)))),
      "end_to_end" -> Json.obj(e2e.map { case (k, m) => k -> m.toJson })) ++
      layer.toSeq.flatMap { case (metrics, overhead, spanFile) => Seq(
        "per_layer" -> Json.obj(metrics.map { case (k, m) => k -> m.toJson }),
        "tracing_overhead_ms" -> Json.num(overhead),
        "spans" -> Json.str(spanFile.getPath))
      } :+ ("errors" -> errors.take(10).map(Json.str).mkString("[", ",", "]"))
    println(Json.obj(report))

    val chosen: Seq[(String, Metric)] = layer match {
      case Some((metrics, _, _)) => metrics
      case None => e2e.filter(m => EndToEnd.contract.contains(m._1))
    }
    val fields = chosen.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value.getOrElse(0.0)), "unit" -> Json.str(m.unit)))
    }
    println(Json.obj(Seq(
      "correct" -> (correct && chosen.forall(_._2.value.isDefined)).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(fields))))
    0
  }

  /** One cycle with the listeners on, then the direct JsonIngest calls. */
  private def tracedCycle(env: Env, p: Prepared): (Layers.Traced, Int, Cycle) = {
    val spark = env.spark
    def commits(): Int = VersionedStore.versions(spark, p.root).size
    val tracer = new Tracer(spark).start()
    val before = commits()
    val c = Runner.cycle(p)
    val after = commits()
    tracer.drain()
    val (lo, hi) = (c.recs.map(_.startMs).min - 1, c.recs.map(_.endMs).max + 1)
    val jobs = tracer.jobList.filter(j => j.startMs >= lo && j.startMs <= hi)
    val execs = tracer.execList.filter(e => e.startMs >= lo && e.startMs <= hi)
    tracer.stop()
    // time JsonIngest alone on the script's array bodies (the cycle just
    // compiled the same plans)
    import spark.implicits._
    val calls = p.arrayBodies.map { case (series, body, points) =>
      val s = Runner.nowMs()
      val r = JsonIngest.ingest(JsonIngest.explodeBatches(Seq((series, body)).toDF("series", "json")), 0L)
      val got = r.good.count()
      val e = Runner.nowMs()
      require(got == points, s"JsonIngest kept $got of $points points")
      Layers.IngestCall(c.recs.find(_.req.body == body).fold(-1)(_.id), points, s, e)
    }
    val acked = c.recs.filter(r => r.error.isEmpty && Kinds.posts(r.req.kind)).map(_.req.points).sum
    (Layers.Traced(c.recs, jobs, execs, after - before, calls), acked, c)
  }

  /** The host's CPU steal while timing: a noisy neighbour shows here. */
  private object HostCpu {
    def sample(): Option[Array[Long]] = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    }.toOption
    def stealShare(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
      for (x <- a; y <- b if x.length > 7 && y.length > 7 && y.sum > x.sum)
        yield (y(7) - x(7)).toDouble / (y.sum - x.sum)
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
