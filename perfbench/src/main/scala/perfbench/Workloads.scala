package perfbench

import graft.api.HttpBinding
import graft.model.Canon
import graft.sources.TieredStore
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run shares: the session, the seed and a scratch directory for
  * store roots inside the checkout. */
final class Env(val spark: SparkSession, val seed: Long, val workDir: java.io.File) {
  private val roots = new java.util.concurrent.atomic.AtomicInteger()
  def freshRoot(tag: String): String =
    new java.io.File(workDir, s"$tag-${roots.incrementAndGet()}").getAbsolutePath
}

/** A store behind a bound `HttpBinding`, with the script one cycle replays
  * on it. `after` runs the post-cycle checks. `preloadS` and `openS` time the
  * set-up.
  */
final class Prepared(val store: TieredStore, val binding: HttpBinding, val root: String,
                     val script: IndexedSeq[Req],
                     val after: () => Seq[String], val preloadS: Double,
                     val openS: Seq[Double], val arrayBodies: Seq[(String, String, Int)]) {
  def base: String = s"http://127.0.0.1:${binding.boundPort}"
  def close(): Unit = binding.stop()
}

trait Workload {
  def name: String
  /** Whether one store serves every cycle (the script does not mutate it). */
  def reusable: Boolean
  /** Builds a fresh store and its script; `opens` is how many times the
    * preloaded root is opened. */
  def prepare(env: Env, opens: Int): Prepared
  /** What the untimed warm-up cycle runs on, given the store that will be
    * timed. */
  def warmup(env: Env, timed: Prepared): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(Ingest, Read)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Opens the root `n` times, each a fresh store, timing each open. */
  def openTimed(env: Env, root: String, n: Int): Seq[(TieredStore, Double)] =
    (0 until n).map { _ =>
      val t = System.nanoTime(); val st = new TieredStore(env.spark, root); (st, secs(t))
    }

  /** The binding's clock: POST number p is stamped `liveBase + p * Step`,
    * so the generator knows every server-assigned timestamp. */
  def clockFrom(liveBase: Long): () => Long = {
    val n = new AtomicLong()
    () => liveBase + n.getAndIncrement() * Points.Step
  }

  /** Canonical rows for point ids [lo, hi) of a preload over `names`:
    * id -> series `names(id % n)`, slot `id / n`, and the shared
    * [[Points]] formulas (a series' index offsets its timestamps, so no
    * two series share one). */
  def preloadFrame(spark: SparkSession, seed: Long, names: IndexedSeq[String],
                   lo: Long, hi: Long): DataFrame = {
    val n = names.size
    spark.range(lo, hi, 1, math.max(1, spark.sparkContext.defaultParallelism)).select(
      element_at(array(names.map(lit): _*), (col("id") % n + 1).cast("int")).as(Canon.SERIES),
      (lit(Points.Base) + expr(s"id div $n") * Points.Step + col("id") % n).as(Canon.TS_US),
      array(
        struct(lit("loc").as("name"),
          pmod(col("id") * 7919L + seed, lit(5L)).cast("string").as("value")),
        struct(lit("kind").as("name"),
          concat(lit("k"), pmod(col("id") * 31L + seed, lit(3L)).cast("string")).as("value"))
      ).as(Canon.TAG),
      (pmod(col("id") * 2654435761L + (seed * 97L + 17L), lit(1000003L)) % 2000 / 4.0)
        .as(Canon.VALUE),
      col("id").as(Canon.RID))
  }

  def preloadModel(seed: Long, models: IndexedSeq[SeriesModel], lo: Long, hi: Long): Unit = {
    val n = models.size
    var id = lo
    while (id < hi) {
      val k = (id % n).toInt
      models(k).add(Points.Base + (id / n) * Points.Step + k, Points.value(seed, id),
        Points.loc(seed, id), Points.kind(seed, id))
      id += 1
    }
  }

  /** Disk history in `commits` appends of equal size, `opens` timed opens
    * of the root, then a sorted memory tail (slots after the disk data) of
    * `tail` points per series. Returns the serving store and timings. */
  def preload(env: Env, root: String, models: IndexedSeq[SeriesModel], perSeries: Int,
              commits: Int, tail: Int, opens: Int): (TieredStore, Double, Seq[Double]) = {
    val names = models.map(_.name)
    val n = names.size.toLong
    val total = perSeries * n
    val t0 = System.nanoTime()
    val first = new TieredStore(env.spark, root)
    for (c <- 0 until commits)
      first.appendDisk(preloadFrame(env.spark, env.seed, names,
        c * total / commits, (c + 1) * total / commits))
    val diskS = secs(t0)
    val opened = openTimed(env, root, opens)
    val store = opened.lastOption.fold(first)(_._1)
    val t1 = System.nanoTime()
    val tailIds = (total, total + tail * n)
    if (tail > 0)
      store.ingest(preloadFrame(env.spark, env.seed, names, tailIds._1, tailIds._2)
        .withColumn(TieredStore.SEQ, col(Canon.RID)), TieredStore.SEQ, Long.MaxValue)
    val tailS = secs(t1)
    preloadModel(env.seed, models, 0, total)
    preloadModel(env.seed, models, tailIds._1, tailIds._2)
    (store, diskS + tailS, opened.map(_._2))
  }

  /** A tagged, timestamped array of `size` points in POST slot `p`. */
  def arrayPoints(seed: Long, p: Int, size: Int, slotTs: Long): Seq[(Long, Double, Int, Int)] =
    (0 until size).map { j =>
      val id = p * 10000L + j
      (slotTs + 1 + j * 100L, Points.value(seed, id), Points.loc(seed, id), Points.kind(seed, id))
    }

  /** `last/n` over several series: the union, ordered like the reply. */
  def lastOf(ms: Seq[SeriesModel], n: Int): Seq[Long] =
    ms.flatMap(_.lastTs(n)).sorted(Ordering[Long].reverse)
}

/** 1 client posting to 4 series, mostly the reference client's single-point
  * POST plus tagged array POSTs, with one backfill, the read it forces to
  * flush and a range DELETE, ending with a sync. */
object Ingest extends Workload {
  val name = "ingest"
  val reusable = false
  /** The reference's `--shard-size`: at 2 points each series spills twice in
    * [[Skeleton]], while another series always keeps the buffer non-empty. */
  val SpillThreshold = 2L
  val Series: IndexedSeq[String] = (0 until 4).map(i => s"s$i")

  /** One step of the script, on series `s` (an index into [[Series]]). */
  sealed trait Step
  /** The reference client's `{"value": 42}` POST, stamped by the server. */
  final case class One(s: Int) extends Step
  /** A tagged, timestamped array POST of `size` points. */
  final case class Batch(s: Int, size: Int) extends Step
  /** A one-point array POST timestamped inside the series' spilled data. */
  final case class Backfill(s: Int) extends Step
  /** `last/10`; right after a [[Backfill]] it takes the M3 flush-then-read path. */
  final case class Last(s: Int) extends Step
  /** A range DELETE of `n` of the series' spilled points. */
  final case class Delete(s: Int, n: Int) extends Step

  val Skeleton: Seq[Step] = Seq(
    One(0), One(1), Batch(2, 10), One(0), One(3), Batch(1, 100), One(2), One(3),
    Batch(0, 1000), One(1), One(3), One(2), Backfill(0), Last(0), Delete(0, 50),
    One(3), One(2), One(1))
  /** The warm-up: every request shape of [[Skeleton]], on few points. A
    * full [[Skeleton]] would warm more but costs 14 s more per run. */
  val MiniSkeleton: Seq[Step] = Seq(
    One(0), Batch(1, 10), Backfill(1), Last(1), Delete(1, 3), One(0), One(2))

  def script(seed: Long, models: IndexedSeq[SeriesModel], liveBase: Long,
             steps: Seq[Step] = Skeleton): IndexedSeq[Req] = {
    val r = new Rng(seed * 131 + 3)
    // the binding stamps its POST number p with liveBase + p * Step
    var p = -1
    def slot(): Long = { p += 1; liveBase + p * Points.Step }
    def after(from: Int): Int = from + r.nextInt(math.max(1, from / 2))
    val reqs = steps.map {
      case One(s) => models(s).add(slot(), 42.0); Reqs.postOne(models(s).name)
      case Batch(s, size) =>
        val t = slot(); Reqs.postBatch(models(s), Workloads.arrayPoints(seed, p, size, t))
      case Backfill(s) =>
        slot()
        // halfway between two points of the series' last array, below its disk max
        val m = models(s); val i = after(m.size / 2); val id = p * 10000L
        Reqs.postBatch(m, Seq((m.ts(i) + 50, Points.value(seed, id), Points.loc(seed, id),
          Points.kind(seed, id))), Kinds.Backfill)
      case Last(s) =>
        val m = models(s); Reqs.points(s"${m.name}/last/10", Kinds.GetTail, Seq(m), m.lastTs(10))
      case Delete(s, n) =>
        val m = models(s); val a = after(m.size / 8)
        Reqs.deleteRange(m, m.ts(a), m.ts(a + n - 1))
    }
    (reqs :+ Reqs.sync).toIndexedSeq
  }

  def prepare(env: Env, opens: Int): Prepared = prepare(env, opens, Skeleton)

  /** A throwaway store: the script mutates the timed one. */
  def warmup(env: Env, timed: Prepared): Prepared = prepare(env, 1, MiniSkeleton)

  private def prepare(env: Env, opens: Int, steps: Seq[Step]): Prepared = {
    val root = env.freshRoot("ingest")
    val opened = Workloads.openTimed(env, root, math.max(1, opens))
    val models = Series.map(new SeriesModel(_))
    val reqs = script(env.seed, models, Points.Base, steps)
    val binding = new HttpBinding(opened.last._1, spillThreshold = SpillThreshold,
      clock = Workloads.clockFrom(Points.Base)).start()
    val bodies = reqs.filter(_.kind == Kinds.PostBatch)
      .map(r => (r.path.stripPrefix("/ts/"), r.body, r.points))
    new Prepared(opened.last._1, binding, root, reqs,
      () => reopenCheck(env.spark, root, models), 0.0, opened.map(_._2), bodies)
  }

  /** After the final sync, a fresh store on the same root must hold every
    * acknowledged point that was not deleted: same series, timestamps and
    * values. */
  def reopenCheck(spark: SparkSession, root: String, models: Seq[SeriesModel]): Seq[String] = {
    val got = new TieredStore(spark, root).snapshot
      .select(Canon.SERIES, Canon.TS_US, Canon.VALUE).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val want = models.flatMap(m => m.ts.indices.map(i => (m.name, m.ts(i), m.vs(i)))).sorted
    if (got == want) Nil
    else Seq(s"reopened store holds ${got.size} points, want ${want.size}; " +
      s"first difference ${got.zipAll(want, null, null).find(p => p._1 != p._2)}")
  }
}

/** 1 client sending GETs to a store preloaded with a spilled history and a
  * sorted memory tail; no ingest runs. */
object Read extends Workload {
  val name = "read"
  val reusable = true
  val Series: IndexedSeq[String] = (0 until 8).map(i => s"r$i")

  final case class Size(perSeries: Int, commits: Int, tail: Int)
  val Full = Size(perSeries = 125000, commits = 5, tail = 256)

  /** One pass over the reference read grammar. The seed picks series and
    * offsets; sizes are fixed so every seed costs the same. */
  def script(seed: Long, ms: IndexedSeq[SeriesModel], sz: Size): IndexedSeq[Req] = {
    val r = new Rng(seed * 31 + 7)
    def pick(): SeriesModel = ms(r.nextInt(ms.size))
    // k distinct series, consecutive from a seeded start
    def run(k: Int): Seq[SeriesModel] = {
      val a = r.nextInt(ms.size); (0 until k).map(i => ms((a + i) % ms.size))
    }
    def slotTs(m: SeriesModel, i: Int): Long = m.ts(i)
    val tail = collection.mutable.ArrayBuffer.empty[Req]
    val s1 = pick(); val n1 = 20 + r.nextInt(20)
    tail += Reqs.points(s"${s1.name}/last/$n1", Kinds.GetTail, Seq(s1), s1.lastTs(n1))
    val s2 = pick()
    tail += Reqs.points(s"${s2.name}/latest", Kinds.GetTail, Seq(s2), s2.lastTs(1))
    val s3 = pick(); val n3 = 20 + r.nextInt(20)
    tail += Reqs.points(s"${s3.name}/first/$n3", Kinds.GetTail, Seq(s3), s3.firstTs(n3))
    val s4 = pick()
    tail += Reqs.points(s"${s4.name}/earliest", Kinds.GetTail, Seq(s4), s4.firstTs(1))
    val multi = run(3); val n5 = 5 + r.nextInt(5)
    tail += Reqs.points(s"${multi.map(_.name).mkString(",")}/last/$n5", Kinds.GetTail,
      multi, Workloads.lastOf(multi, n5))
    val scan = collection.mutable.ArrayBuffer.empty[Req]
    // since: the newest ~500 points, across the memory tail and the disk
    val s6 = pick(); val from = slotTs(s6, s6.size - 450 - r.nextInt(100))
    scan += Reqs.points(s"${s6.name}/since/$from", Kinds.GetScan, Seq(s6), s6.sinceTs(from))
    // range: 1,000 points from the middle of the disk history
    val s7 = pick(); val a = sz.perSeries / 4 + r.nextInt(sz.perSeries / 2)
    val (t1, t2) = (slotTs(s7, a), slotTs(s7, math.min(a + 999, s7.size - 1)))
    scan += Reqs.points(s"${s7.name}/range/$t1/$t2", Kinds.GetScan, Seq(s7), s7.rangeTs(t1, t2))
    for (agg <- Aggregates.all) {
      val s = pick()
      scan += Reqs.aggregate(s"${s.name}/since/0/$agg", agg, Aggregates(agg, s.values()))
    }
    val s8 = pick(); val l = r.nextInt(5)
    scan += Reqs.aggregate(s"${s8.name}/since/0/filter/loc/equals/$l/sum", "sum",
      Aggregates("sum", s8.values(s8.hasLoc(l))))
    val s9 = pick(); val k = s"k${r.nextInt(3)}"
    scan += Reqs.aggregate(s"${s9.name}/since/0/filter/kind/contains/$k/mean", "mean",
      Aggregates("mean", s9.values(s9.kindContains(k))))
    val meta = collection.mutable.ArrayBuffer.empty[Req]
    val s10 = pick()
    meta += Reqs.length(s"${s10.name}/length", s10.size)
    meta += Reqs.length(s"${s10.name}/memory/length", sz.tail)
    meta += Reqs.length(s"${s10.name}/disk/length", sz.perSeries)
    val pair = run(2)
    meta += Reqs.length(s"${pair.map(_.name).mkString(",")}/length", pair.map(_.size.toLong).sum)
    meta += Reqs.names(ms.map(_.name))
    meta += Reqs.status
    // interleave the classes so no stretch of the pass is all one kind
    val groups = Seq(tail, scan, meta).map(_.iterator)
    Iterator.continually(groups.flatMap(g => if (g.hasNext) Some(g.next()) else None))
      .takeWhile(_.nonEmpty).flatten.toIndexedSeq
  }

  /** The timed store itself: the script never mutates it, and a
    * long-running server has warm caches. */
  def warmup(env: Env, timed: Prepared): Prepared = timed

  def prepare(env: Env, opens: Int): Prepared = {
    val sz = Full
    val root = env.freshRoot("read")
    val models = Series.map(new SeriesModel(_))
    val (store, preloadS, openS) =
      Workloads.preload(env, root, models, sz.perSeries, sz.commits, sz.tail, opens)
    val binding = new HttpBinding(store).start()
    new Prepared(store, binding, root, script(env.seed, models, sz), () => Nil,
      preloadS, openS, Nil)
  }
}
