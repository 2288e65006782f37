package graft.tools

import graft.{Graft, GraftSession}
import graft.sources.TieredStore
import graft.streaming.Ingest
import org.apache.spark.sql.streaming.Trigger

/** Long-session soak of the STREAMING tiered-ingest path (r7 VERDICT
  * item 8): a production `startTieredFileStream` runs for weeks, so the
  * per-micro-batch buffer lifecycle — driver-side per-series queues,
  * per-series spill — must hold *beyond* the few batches the unit specs
  * drive. This probe feeds `waves` waves of wire JSON through a real file
  * stream (each wave = ≥1 micro-batch via `processAllAvailable`), with
  * the spill threshold sized so every few waves cycle buffer→disk, and
  * asserts after EVERY wave:
  *
  *  - **buffer bounded**: after a batch's spill check every series holds
  *    fewer points than the threshold;
  *  - **no cached blocks**: live cached RDDs stay at the stream's own
  *    transient few (the buffer lives on the driver heap, not in Spark
  *    blocks);
  *  - **tracked bounds bounded** by true series cardinality;
  *  - **reads stay right**: every 10 waves, `readLast` over all series
  *    must return exactly n·series rows and `lengthSplit`'s total must
  *    equal the points fed so far (minus live deletes);
  *  - **live mutations interleave** (r11): every 25 waves a DELETE of a
  *    disjoint past window of s0 runs against the SAME store the stream
  *    is ingesting into (the HTTP DELETE scenario under load — store
  *    lock serializes the partition swap against micro-batch appends;
  *    its count must be exactly the 200 s0 rows of that window), and
  *    every 50 waves a live `compactDisk` (manifest-chain commit + expiry) must
  *    leave the total unchanged.
  *
  * Exit: nonzero on any violation; prints one summary row per 10 waves.
  * Run: `sbt "runMain graft.tools.TieredIngestSoak 150"` (~3-4 min).
  */
object TieredIngestSoak {
  /** Cached RDDs a file stream may hold transiently between batches. */
  private val StreamCachedRdds = 4

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(150)
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    Graft.register(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val base = java.nio.file.Files.createTempDirectory("tiered_soak").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val storeDir = s"$base/store"
    new java.io.File(inDir).mkdirs()
    val store = new TieredStore(spark, storeDir)

    val series = (0 until 5).map(i => s"s$i")
    val threshold = 130L
    val pointsPerWave = 200 // 40/series/wave; threshold 130 → spill ~ every 4 waves
    val q = Ingest.startTieredFileStream(spark, inDir, store, ckpt,
      spillThreshold = threshold, Trigger.ProcessingTime("50 milliseconds"),
      maxFilesPerTrigger = Some(1))

    def liveCachedRdds(): Int = spark.sparkContext.getRDDStorageInfo.length

    var fed = 0L
    var deletedTotal = 0L
    var failed = false
    def fail(msg: String): Unit = { println(s"[soak] FAIL $msg"); failed = true }

    val t0 = System.nanoTime()
    var wave = 0
    while (wave < waves && !failed) {
      val lines = (0 until pointsPerWave).map { j =>
        val ts = 1704067200000000L + fed + j // strictly increasing arrivals
        s"""{"series": "${series(((fed + j) % 5).toInt)}", "point": {"timestamp": $ts, "value": ${j % 97}}}"""
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$inDir/wave$wave%05d.jsonl"),
        lines.mkString("\n").getBytes)
      fed += pointsPerWave
      q.processAllAvailable()

      val buffered = store.bufferedCount()
      if (buffered >= series.size * threshold)
        fail(s"wave $wave: $buffered buffered points, threshold $threshold x ${series.size} series")
      val bounds = store.trackedBounds
      if (bounds > series.size)
        fail(s"wave $wave: tracked bounds $bounds > ${series.size} series")
      val rdds = liveCachedRdds()
      if (rdds > StreamCachedRdds)
        fail(s"wave $wave: $rdds cached RDDs (block leak)")

      // live mutations against the actively-ingesting store: a DELETE of
      // the disjoint past window [fed-2000, fed-1001] (offsets mod 5 == 0
      // are s0's -> exactly 200 rows), then periodically a live compaction
      if (wave % 25 == 24 && fed > 3000) {
        val base = 1704067200000000L
        val del = store.delete(Seq("s0"), base + fed - 2000, base + fed - 1001)
        if (del != 200L) fail(s"wave $wave: live delete removed $del != 200")
        deletedTotal += del
        if (wave % 50 == 49) {
          store.compactDisk()
          val total = store.lengthSplit(series)
            .agg(org.apache.spark.sql.functions.sum("len")).head().getLong(0)
          if (total != fed - deletedTotal)
            fail(s"wave $wave: post-compact total $total != ${fed - deletedTotal}")
        }
      }

      if (wave % 10 == 9) {
        val last = store.readLast(series, 3)
        val got = last.count()
        if (got != 3L * series.size) fail(s"wave $wave: readLast rows $got != ${3 * series.size}")
        val total = store.lengthSplit(series)
          .agg(org.apache.spark.sql.functions.sum("len")).head().getLong(0)
        if (total != fed - deletedTotal)
          fail(s"wave $wave: lengthSplit total $total != ${fed - deletedTotal}")
        val heap = (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) >> 20
        println(f"[soak] wave ${wave + 1}%4d fed=$fed%8d buffered=$buffered rdds=$rdds " +
          f"bounds=$bounds heapMB=$heap wall=${(System.nanoTime() - t0) / 1e9}%7.1fs")
      }
      wave += 1
    }

    q.stop()
    // final: drain the buffer; the store must equal everything fed
    store.sync()
    val diskTotal = store.snapshot.count()
    if (diskTotal != fed - deletedTotal)
      fail(s"post-sync snapshot $diskTotal != ${fed - deletedTotal} " +
        s"(fed $fed - deleted $deletedTotal)")
    val finalRdds = liveCachedRdds()
    if (finalRdds > StreamCachedRdds) fail(s"final cached RDDs $finalRdds")
    println(f"[soak] done: $wave waves, $fed points, final rdds=$finalRdds, " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs " +
      (if (failed) "RESULT: FAIL" else "RESULT: OK"))
    spark.stop()
    if (failed) sys.exit(1)
  }
}
