package graft

import graft.model.Canon.{Datapoint, TagEntry}
import graft.sources.{TieredStore, VersionedStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-atomicity of the unified manifest protocol (VERDICT r11/r12
  * item 1): every disk-tier mutation commits through the
  * [[VersionedStore]] manifest CAS, so it is ALL-OR-NOTHING — a writer
  * that dies after staging its data dir but before the CAS leaves the
  * chain at the pre-mutation version plus one inert orphan dir; there is
  * no torn intermediate state and no roll-forward to run. Also covers
  * the live store's time-travel/CDC dividend, skip persistence across
  * appends (the ADVICE r12 resurrection bug), torn-manifest loud
  * failure, and plain reopen: a fresh instance over an existing root
  * must see the disk tier (presence + per-series bounds) instead of
  * treating it as empty.
  */
class TieredStoreRecoverySpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1704067200000000L
  private def dp(s: String, ts: Long, rid: Long) =
    Datapoint(s, ts, Some(Seq(TagEntry("k", "1"))), rid.toDouble, rid)

  /** 2 series × 100 points each, rid = series offset + i. */
  private def seedRows: Seq[Datapoint] =
    (0L until 100L).flatMap(i =>
      Seq(dp("a", T0 + i * 1000L, i), dp("b", T0 + i * 1000L, 1000 + i)))

  private def fp(df: DataFrame): (Long, Long) = StoreTestUtil.fp(df)

  private def crashScenario(buckets: Option[Int]): Unit = {
    val root = tmpDir("tier_crash")
    val st = new TieredStore(spark, root, seriesBuckets = buckets)
    st.appendDisk(seedRows.toDF())
    // a delete whose writer died AFTER staging the survivors dir but
    // BEFORE the manifest CAS: the commit never happened, so the store
    // still reads the PRE-delete content — all-or-nothing, the opposite
    // failure mode of the former swap protocol's torn listing
    val survivors = seedRows.toDF()
      .filter(!col("ts_us").between(T0 + 25000L, T0 + 74000L))
    val orphan = s"$root/data/d00000099-delete-deadbeef"
    buckets match {
      case Some(b) => graft.sources.ShardStore.appendBucketed(survivors, orphan, b)
      case None    => graft.sources.ShardStore.append(survivors, orphan)
    }
    val reopened = new TieredStore(spark, root, seriesBuckets = buckets)
    assert(fp(reopened.snapshot) == fp(seedRows.toDF()),
      s"an uncommitted staging dir changed store content (buckets=$buckets)")
    // the orphan is inert and INSIDE the grace window: the open must not
    // sweep a dir a concurrent writer may be about to commit
    assert(new java.io.File(orphan).exists(), "in-grace orphan swept at open")
    VersionedStore.sweepOrphanData(spark, root, graceMs = 0L)
    assert(!new java.io.File(orphan).exists(), "post-grace orphan not collected")
    // the store stays fully operational: the delete re-run commits cleanly
    assert(reopened.delete(Seq("a", "b"), T0 + 25000L, T0 + 74000L) == 100L)
    val expected = seedRows.toDF()
      .filter(!col("ts_us").between(T0 + 25000L, T0 + 74000L))
    assert(fp(reopened.snapshot) == fp(expected))
    // committed data dirs are never swept, however old they look
    VersionedStore.sweepOrphanData(spark, root, graceMs = 0L)
    assert(fp(new TieredStore(spark, root, seriesBuckets = buckets).snapshot)
      == fp(expected))
  }

  test("crashed (uncommitted) delete leaves the pre-delete version; orphan GC honors grace (flat)") {
    crashScenario(None)
  }

  test("crashed (uncommitted) delete leaves the pre-delete version; orphan GC honors grace (bucketed)") {
    crashScenario(Some(4))
  }

  test("live-store time travel + CDC across a delete; compactDisk expires history") {
    val root = tmpDir("tier_tt")
    val st = new TieredStore(spark, root)
    st.appendDisk(seedRows.toDF())
    val v1 = st.diskVersions.last.version
    assert(st.delete(Seq("a"), T0 + 25000L, T0 + 74000L) == 50L)
    val v2 = st.diskVersions.last.version
    val expected = seedRows.toDF().filter(
      !(col("series") === "a" && col("ts_us").between(T0 + 25000L, T0 + 74000L)))
    // time travel: the pre-delete version stays exactly readable
    assert(fp(st.readDiskAt(v1)) == fp(seedRows.toDF()))
    assert(fp(st.readDiskAt(v2)) == fp(expected))
    // CDC: the delete surfaces as 50 'delete' changes, no inserts (the
    // survivors dir's rows carry their old rids and cancel in the diff)
    val ch = st.diskChanges(v1, v2)
    assert(ch.filter(col(VersionedStore.CHANGE_TYPE) === "delete").count() == 50L)
    assert(ch.filter(col(VersionedStore.CHANGE_TYPE) === "insert").count() == 0L)
    // retainHistory: compaction without the space reclaim keeps history
    st.compactDisk(retainHistory = true)
    assert(fp(st.readDiskAt(v1)) == fp(seedRows.toDF()))
    assert(fp(st.snapshot) == fp(expected))
    // the default compact expires superseded versions (OPTIMIZE+VACUUM):
    // old versions stop being readable, the live content is unchanged
    st.compactDisk()
    intercept[IllegalArgumentException] { st.readDiskAt(v1) }
    assert(fp(st.snapshot) == fp(expected))
    assert(st.diskVersions.size == 1 && st.diskVersions.last.op == "compact")
  }

  test("delete skips survive later appends and reopens; escaped series names round-trip") {
    val root = tmpDir("tier_skips")
    val st = new TieredStore(spark, root)
    val odd = "a b:c%7" // space, colon, percent — all escaped in partition paths
    val oddRows = (0L until 20L).map(i => dp(odd, T0 + i * 1000L, i))
    val bRows = (0L until 20L).map(i => dp("b", T0 + i * 1000L, 100 + i))
    st.appendDisk((oddRows ++ bRows).toDF())
    assert(st.delete(Seq(odd), T0, T0 + 100000L) == 20L)
    val tip = st.diskVersions.last
    assert(tip.skips.nonEmpty && tip.skips.forall(_._2.startsWith("series=")),
      s"partition-scoped delete must commit skip exclusions, got ${tip.skips}")
    // the ADVICE r12 resurrection bug: an append after a delete must carry
    // the parent's skips — without that the deleted partition reappears
    val bMore = (20L until 30L).map(i => dp("b", T0 + i * 1000L, 100 + i))
    st.appendDisk(bMore.toDF())
    assert(fp(st.snapshot) == fp((bRows ++ bMore).toDF()),
      "append after delete resurrected the deleted partition")
    assert(fp(new TieredStore(spark, root).snapshot) == fp((bRows ++ bMore).toDF()),
      "reopen diverges from the in-process view")
  }

  test("a torn manifest fails LOUDLY on open (never a silent empty version)") {
    val root = tmpDir("tier_torn")
    val st = new TieredStore(spark, root)
    st.appendDisk(seedRows.toDF())
    val torn = new java.io.File(root, "_manifests/v00000099.txt")
    assert(torn.createNewFile())
    val e = intercept[IllegalStateException] { new TieredStore(spark, root) }
    assert(e.getMessage.contains("corrupt manifest"), e.getMessage)
    // remediation: remove the torn file; the chain is intact again
    assert(torn.delete())
    assert(fp(new TieredStore(spark, root).snapshot) == fp(seedRows.toDF()))
  }

  test("reopen hydration respects the bounds cap: untracked series degrade, stay correct") {
    val root = tmpDir("tier_cap_reopen")
    new TieredStore(spark, root).appendDisk(seedRows.toDF()) // 2 series
    // cap 0 -> NO series tracked after hydration (deterministic: with a
    // nonzero cap, WHICH series lands in rows.take(cap) depends on
    // aggregate output order), overflow set -> every series must read
    // right via the conservative merge path even with an overlapping
    // buffer
    val reopened = new TieredStore(spark, root, maxTrackedSeries = 0)
    assert(reopened.trackedBounds == 0 && reopened.boundsOverflowed)
    reopened.appendMemory(
      Seq((dp("b", T0 + 50500L, 7777L), 0L)).toDF("d", TieredStore.SEQ)
        .select(col("d.*"), col(TieredStore.SEQ)),
      TieredStore.SEQ)
    val last = reopened.readLast(Seq("b"), 1).select("rid").as[Long].collect()
    assert(last.toSeq == Seq(1099L), s"capped reopen mis-read: ${last.toSeq}")
    // the MIXED state (0 < cap < series count): exactly one series
    // tracked (whichever the aggregate emitted first — unspecified),
    // overflow set, and BOTH series must read right with overlapping
    // buffers — covering the tracked and the conservative untracked
    // path regardless of which series drew which
    val mixed = new TieredStore(spark, root, maxTrackedSeries = 1)
    assert(mixed.trackedBounds == 1 && mixed.boundsOverflowed,
      s"mixed hydration state: ${mixed.trackedBounds} bounds")
    mixed.appendMemory(
      Seq((dp("a", T0 + 50500L, 8888L), 0L), (dp("b", T0 + 50500L, 9999L), 1L))
        .toDF("d", TieredStore.SEQ)
        .select(col("d.*"), col(TieredStore.SEQ)),
      TieredStore.SEQ)
    val lastA = mixed.readLast(Seq("a"), 1).select("rid").as[Long].collect()
    val lastB = mixed.readLast(Seq("b"), 1).select("rid").as[Long].collect()
    assert(lastA.toSeq == Seq(99L) && lastB.toSeq == Seq(1099L),
      s"mixed-cap reopen mis-read: a=${lastA.toSeq} b=${lastB.toSeq}")
  }

  test("plain reopen hydrates disk presence and per-series bounds") {
    val root = tmpDir("tier_reopen")
    val st = new TieredStore(spark, root)
    st.appendDisk(seedRows.toDF())
    val reopened = new TieredStore(spark, root)
    // presence: the disk tier is visible without any write
    assert(fp(reopened.snapshot) == fp(seedRows.toDF()))
    // bounds: a buffer that OVERLAPS the reopened disk range must not
    // qualify for the memory-only path — last-1 of series a is the disk
    // tail (rid 99), not the older buffered point
    reopened.appendMemory(
      Seq((dp("a", T0 + 50500L, 7777L), 0L)).toDF("d", TieredStore.SEQ)
        .select(col("d.*"), col(TieredStore.SEQ)),
      TieredStore.SEQ)
    val last = reopened.readLast(Seq("a"), 1).select("rid").as[Long].collect()
    assert(last.toSeq == Seq(99L),
      s"reopened store mis-qualified an overlapping buffer: got ${last.toSeq}")
  }
}
