package graft

import graft.model.Canon.{Datapoint, TagEntry}
import graft.sources.TieredStore
import org.apache.spark.sql.functions._

/** M1-M3/I2: the dual-tier read semantics (reference
  * `src/timeseries.re:357-434`, `src/membufq.re:17-41`) — tier decisions,
  * the forced-flush mutation lifecycle, and the plan-level proof that the
  * M1 fast path never touches the disk tier.
  */
class TieredStoreSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1704067200000000L // 2024-01-01 UTC
  private def dp(s: String, ts: Long, rid: Long) =
    Datapoint(s, ts, Some(Seq(TagEntry("k", "1"))), rid.toDouble, rid)

  /** Buffer frame arriving in the given row order (seq = position). */
  private def arriving(rows: Seq[Datapoint]) =
    rows.zipWithIndex.map { case (d, i) => (d, i.toLong) }
      .toDF("d", TieredStore.SEQ)
      .select(col("d.*"), col(TieredStore.SEQ))

  private def freshSorted(): TieredStore = {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk((0L until 100L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    st.appendMemory(
      arriving((0L until 20L).map(i => dp("a", T0 + 1000000L + i * 1000L, 100 + i))),
      TieredStore.SEQ)
    st
  }

  test("M1 fast path: sorted beyond-disk buffer satisfying n plans NO disk scan") {
    val st = freshSorted()
    val q = st.readLast(Seq("a"), 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan)
    val rids = q.select("rid").as[Long].collect().toSeq
    assert(rids == (119L to 110L by -1L)) // newest 10, memory only
  }

  test("M2 memory-then-disk: qualified but short buffer merges with disk") {
    val st = freshSorted()
    val q = st.readLast(Seq("a"), 30)
    assert(q.queryExecution.executedPlan.toString.contains("FileScan"))
    val rids = q.select("rid").as[Long].collect().toSeq
    // all 20 buffered + the 10 newest on disk, globally ordered desc
    assert(rids == ((119L to 100L by -1L) ++ (99L to 90L by -1L)))
    // the read did not flush: the split is unchanged
    val split = st.lengthSplit(Seq("a")).head()
    assert(split.getLong(1) == 20L && split.getLong(2) == 100L)
  }

  test("M3 forced flush: an overlapping buffer is flushed, then read from disk") {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk((0L until 100L by 2L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    // odd timestamps interleave INSIDE the disk range -> never qualifies
    st.appendMemory(
      arriving((1L until 100L by 2L).map(i => dp("a", T0 + i * 1000L, i))),
      TieredStore.SEQ)
    val before = st.lengthSplit(Seq("a")).head()
    assert(before.getLong(1) == 50L && before.getLong(2) == 50L)
    val rids = st.readLast(Seq("a"), 10).select("rid").as[Long].collect().toSeq
    assert(rids == (99L to 90L by -1L)) // correct merged answer
    val after = st.lengthSplit(Seq("a")).head()
    assert(after.getLong(1) == 0L && after.getLong(2) == 100L) // buffer moved to disk
  }

  test("an out-of-arrival-order buffer degrades to flush, never a wrong answer") {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk((0L until 50L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    // beyond the disk bound but arriving NEWEST-FIRST: is_ascending fails
    st.appendMemory(
      arriving((69L to 50L by -1L).map(i => dp("a", T0 + i * 1000L, i))),
      TieredStore.SEQ)
    val rids = st.readLast(Seq("a"), 25).select("rid").as[Long].collect().toSeq
    assert(rids == (69L to 45L by -1L))
    assert(st.lengthSplit(Seq("a")).head().getLong(1) == 0L)
  }

  test("tier decisions are per series; branches union into one result") {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk(((0L until 40L).map(i => dp("a", T0 + i * 1000L, i)) ++
      (0L until 40L).map(i => dp("b", T0 + i * 1000L, 1000 + i))).toDF())
    // "a" buffers a sorted beyond-bound tail (fast), "b" buffers overlap (flush)
    st.appendMemory(
      arriving((0L until 10L).map(i => dp("a", T0 + 100000L + i * 1000L, 100 + i)) ++
        (0L until 10L).map(i => dp("b", T0 + 5000L + i * 100L, 2000 + i))),
      TieredStore.SEQ)
    val got = st.readLast(Seq("a", "b"), 5)
      .select("series", "rid").as[(String, Long)].collect().toSeq
    assert(got.filter(_._1 == "a").map(_._2) == (109L to 105L by -1L))
    assert(got.filter(_._1 == "b").map(_._2) == Seq(1039L, 1038L, 1037L, 1036L, 1035L))
    // only b flushed; a's buffer intact
    val split = st.lengthSplit(Seq("a", "b")).collect()
    assert(split.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 10L, 40L), ("b", 0L, 50L)))
  }

  test("S3 ingest spill policy: a series spills at the threshold, others stay buffered") {
    val st = new TieredStore(spark, tmpDir("tier"))
    // each batch: 4 points of "a", 1 of "b" (the per-series shard-size check)
    def batch(i: Long) = arriving(
      (0L until 4L).map(j => dp("a", T0 + (i * 4 + j) * 1000L, i * 4 + j)) :+
        dp("b", T0 + i * 1000L, 1000 + i))
    st.ingest(batch(0L), TieredStore.SEQ, spillThreshold = 10L)
    assert(st.bufferedCount() == 5L) // both below threshold
    st.ingest(batch(1L), TieredStore.SEQ, spillThreshold = 10L)
    assert(st.bufferedCount() == 10L)
    st.ingest(batch(2L), TieredStore.SEQ, spillThreshold = 10L)
    assert(st.bufferedCount() == 3L) // a hit 12 >= 10 and spilled; b's 3 stay
    val split = st.lengthSplit(Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(split == Seq(("a", 0L, 12L), ("b", 3L, 0L)))
    // nothing lost across the spill boundary
    assert(st.readLast(Seq("a", "b"), 12).count() == 15L)
  }

  test("a timestamp TIE between buffer min and disk max never takes the M1 path") {
    // r7 advice (high): disk holds (ts=T, rid=5); the buffer holds (ts=T,
    // rid=1) plus later points. Under (ts desc, rid desc) the DISK row at
    // the shared timestamp outranks the buffered one — a >= bound check
    // would qualify M1 (memory-only) and drop rid=5 from the answer.
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk(Seq(dp("a", T0, 5), dp("a", T0 - 1000L, 4)).toDF())
    st.appendMemory(
      arriving(Seq(dp("a", T0, 1), dp("a", T0 + 1000L, 2), dp("a", T0 + 2000L, 3))),
      TieredStore.SEQ)
    val rids = st.readLast(Seq("a"), 3).select("rid").as[Long].collect().toSeq
    assert(rids == Seq(3L, 2L, 5L)) // at ts=T0 the disk rid 5 outranks mem rid 1
    // and the flat snapshot agrees (tier invisibility at the tie)
    val flat = graft.operators.TimeSeries
      .readLast(st.snapshot, Seq("a"), 3).select("rid").as[Long].collect().toSeq
    assert(flat == rids)
  }

  test("returned frames are immutable snapshots across subsequent mutations") {
    val st = freshSorted() // 100 on disk, 20 buffered
    val snap = st.snapshot
    val split = st.lengthSplit(Seq("a"))
    // an append after a snapshot: the next snapshot sees it, the earlier not
    st.appendMemory(arriving(Seq(dp("a", T0 + 999000L, 999L))), TieredStore.SEQ)
    val snap2 = st.snapshot
    st.flush(Seq("a")) // moves the 21 buffered rows to disk
    // evaluated AFTER the flush, the pre-flush snapshots must not double-count
    assert(snap.count() == 120L)
    assert(snap2.count() == 121L)
    val r = split.head()
    assert(r.getLong(1) == 20L && r.getLong(2) == 100L)
    // while a fresh read sees the post-flush state
    val r2 = st.lengthSplit(Seq("a")).head()
    assert(r2.getLong(1) == 0L && r2.getLong(2) == 121L)
    assert(st.snapshot.count() == 121L)
  }

  test("the buffer holds no Spark blocks over many batches") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val st = new TieredStore(spark, tmpDir("tier"))
    (0L until 25L).foreach { i =>
      st.ingest(arriving(Seq(dp("a", T0 + i * 1000L, i))), TieredStore.SEQ,
        spillThreshold = 7L)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before, s"the memory tier persisted RDDs: $before -> $after")
    assert(st.bufferedCount() == 4L) // 25 = 3 spills of 7 + 4 buffered
    // nothing lost across 25 appends + spills
    assert(st.readLast(Seq("a"), 25).count() == 25L)
  }

  test("series-cardinality cap: untracked series degrade to correct merge/flush reads") {
    val st = new TieredStore(spark, tmpDir("tier"), maxTrackedSeries = 4)
    val many = (0 until 10).flatMap(s =>
      (0L until 5L).map(i => dp(f"s$s%02d", T0 + i * 1000L, s * 100L + i)))
    st.appendDisk(many.toDF())
    assert(st.trackedBounds == 4) // map capped, not grown
    // s09 is untracked; a beyond-bound buffer must NOT shortcut to M1
    st.appendMemory(
      arriving((5L until 8L).map(i => dp("s09", T0 + i * 1000L, 900L + i))),
      TieredStore.SEQ)
    val rids = st.readLast(Seq("s09"), 5).select("rid").as[Long].collect().toSeq
    assert(rids == Seq(907L, 906L, 905L, 904L, 903L))
    // a TRACKED series still rides the fast path with no disk scan
    st.appendMemory(
      arriving((5L until 10L).map(i => dp("s00", T0 + i * 1000L, i))),
      TieredStore.SEQ)
    val q = st.readLast(Seq("s00"), 3)
    assert(!q.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(q.select("rid").as[Long].collect().toSeq == Seq(9L, 8L, 7L))
  }

  test("automatic bucketed-layout election: crossing the threshold migrates live, content identical") {
    val root = tmpDir("tier_elect")
    val st = new TieredStore(spark, root, electBucketsAt = 8)
    def rows(lo: Int, hi: Int) = (lo until hi).flatMap(s =>
      (0L until 5L).map(i => dp(f"e$s%02d", T0 + i * 1000L, s * 100L + i)))
    val tail = dp("e00", T0 + 9000000L, 99999L) // buffered tail the
    // migration must leave untouched (it rewrites the DISK tier only)
    st.appendDisk(rows(0, 5).toDF()) // 5 series: under the threshold
    st.appendMemory(arriving(Seq(tail)), TieredStore.SEQ)
    assert(st.layout.isEmpty && st.diskVersions.last.buckets.isEmpty)
    // crossing the threshold elects the bucketed layout INSIDE the same
    // mutation — no operator call changes, no reopen needed
    st.appendDisk(rows(5, 10).toDF()) // 10 tracked series >= 8
    assert(st.layout.contains(TieredStore.ElectedBuckets))
    val tip = st.diskVersions.last
    assert(tip.op == "compact" && tip.buckets.contains(TieredStore.ElectedBuckets),
      s"expected an electing compact at the tip, got $tip")
    assert(st.diskVersions.size == 1, "election must expire the flat history")
    assert(StoreTestUtil.fp(st.snapshot) ==
      StoreTestUtil.fp((rows(0, 10) :+ tail).toDF()),
      "election changed the store content")
    // the elected layout prunes reads on the bucket partition column
    val p = st.readLast(Seq("e03"), 100).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("bucket"), p)
    // reopen with DEFAULT args adopts the persisted layout (the ctor
    // argument only seeds new stores), and mutations keep working
    val re = new TieredStore(spark, root)
    assert(re.layout.contains(TieredStore.ElectedBuckets))
    assert(re.delete(Seq("e03"), T0, T0 + 100000L) == 5L)
    assert(re.lengthSplit(Seq("e03")).isEmpty) // fully deleted: no row
    assert(re.lengthSplit(Seq("e04")).select("len").as[Long].head() == 5L)
  }

  test("bucketed layout is read-invisible; deletes spare co-resident series") {
    val rows = (0L until 200L).map(i => dp(s"s${i % 10}", T0 + i * 1000L, i))
    val flat = new TieredStore(spark, tmpDir("tier_flat"))
    val buck = new TieredStore(spark, tmpDir("tier_buck"), seriesBuckets = Some(8))
    flat.appendDisk(rows.toDF())
    buck.appendDisk(rows.toDF())
    val tail = (0L until 10L).map(i => dp("s3", T0 + 10000000L + i * 1000L, 1000 + i))
    flat.appendMemory(arriving(tail), TieredStore.SEQ)
    buck.appendMemory(arriving(tail), TieredStore.SEQ)
    val allIds = (0 until 10).map(i => s"s$i")
    def dump(st: TieredStore, ids: Seq[String], n: Int) =
      st.readLast(ids, n).select("series", "ts_us", "rid")
        .as[(String, Long, Long)].collect().toSeq
    def split(st: TieredStore) = st.lengthSplit(allIds)
      .as[(String, Long, Long, Long)].collect().toSeq
    val ids = Seq("s1", "s3", "s7")
    assert(dump(buck, ids, 25) == dump(flat, ids, 25))
    assert(split(buck) == split(flat))
    // the bucketed disk read PRUNES on the bucket partition column —
    // the queried ids' buckets reach the scan as a partition filter
    val p = buck.readLast(Seq("s1"), 1000).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("bucket"), p)
    // live delete behaves identically; s3's bucket-mates survive intact
    val want = flat.delete(Seq("s3"), T0, T0 + 50000L)
    assert(want == 5L)
    assert(buck.delete(Seq("s3"), T0, T0 + 50000L) == want)
    assert(dump(buck, allIds, 50) == dump(flat, allIds, 50))
    assert(split(buck) == split(flat))
  }

  test("router routes run against the live store; tier routes answer the split") {
    val st = freshSorted() // 100 on disk, 20 buffered
    val series = Seq("a")
    val viaStore = graft.api.Router.run(st, "a/last/15").select("rid").as[Long].collect().toSeq
    assert(viaStore == st.readLast(series, 15).select("rid").as[Long].collect().toSeq)
    assert(graft.api.Router.run(st, "a/memory/length").head().getLong(0) == 20L)
    assert(graft.api.Router.run(st, "a/disk/length").head().getLong(0) == 100L)
    assert(graft.api.Router.run(st, "a/length").head().getLong(0) == 120L)
    // xargs routes fall through to the snapshot and see BOTH tiers
    val mean = graft.api.Router.run(st, "a/since/0/mean")
    assert(mean.count() == 1L)
  }

  test("I7 health route answers through the router grammar") {
    val df = (0L until 3L).map(i => dp("a", T0 + i, i)).toDF()
    val rows = graft.api.Router.run(df, "info/status").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "ok")
  }
}
