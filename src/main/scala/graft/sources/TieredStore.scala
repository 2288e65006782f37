package graft.sources

import graft.functions.Tags
import graft.model.Canon
import graft.model.Canon._
import graft.operators.{TimeSeries => TS}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._

/** M1-M3 + I2: the dual-tier store — an in-memory arrival buffer layered
  * over a [[VersionedStore]] manifest-chain disk tier, replicating the
  * reference's membuf-plus-shards read semantics
  * (`/root/reference/src/timeseries.re:357-434`, `src/membufq.re:17-41`).
  *
  * The reference keeps a per-series FIFO of not-yet-spilled points and
  * answers reads by one of three paths:
  *  - **M1 fast path**: when the buffer is internally time-sorted AND lies
  *    entirely beyond the disk tier's cached bound, a `last n` that the
  *    buffer can satisfy alone never touches disk (`timeseries.re:363-382`);
  *  - **M2 memory-then-disk**: same qualification but the buffer is short
  *    of `n` — take all of memory, fill the leftover from disk
  *    (`timeseries.re:384-434`);
  *  - **M3 forced flush**: the buffer overlaps the disk range (out-of-order
  *    arrivals) — flush it to disk first, then read disk only
  *    (`timeseries.re:357-361`).
  *
  * Spark-first mapping: like the reference's membuf, the memory tier lives
  * on the driver — one FIFO per series ([[TieredStore.SeriesQueue]]) of
  * canonical rows in arrival order, with the metadata membufq keeps up to
  * date as it goes (`src/membufq.re:17-47`): length, min/max ts and an
  * arrival-order `ascending` flag. An append collects its slice once and
  * updates them, so its cost tracks the batch, not the buffer; the spill
  * check, the tier qualification, [[bufferedCount]] and a flush's disk
  * bounds read them and run no Spark job. A `last n` builds its memory
  * side as a `LocalRelation` of each series' n newest points; a flush or
  * sync writes its rows from one broadcast copy in one task; a snapshot's
  * memory side is one broadcast copy of the whole buffer, built by the
  * first snapshot after a change and reused until the next. The M2 merge
  * is `union` + the same `WindowGroupLimit` top-n every flat read uses —
  * Catalyst, not hand-merging.
  *
  * **Durability protocol (unified, r13)**: every disk-tier mutation —
  * spill, sync, direct append, delete, compaction — commits a version on
  * the [[VersionedStore]] manifest chain. The manifest CAS is the single
  * commit point, so each mutation is all-or-nothing: a crash mid-write
  * leaves the chain at the previous version plus one inert orphan data
  * dir ([[VersionedStore.sweepOrphanData]] collects it at the next open).
  * This replaces the former marker-committed in-place dir swap and its
  * roll-forward machinery entirely, and gives the LIVE store time travel
  * ([[readDiskAt]]) and CDC ([[diskChanges]]) for free. Deletes stay
  * partition-scoped (manifest `skip` exclusions + one survivors dir —
  * the Iceberg partition-overwrite idea), so delete cost tracks the
  * affected partitions' data, not store size. [[compactDisk]] collapses
  * the live set to one dir and by default expires the superseded history
  * (the OPTIMIZE + VACUUM pairing), which is where space is reclaimed.
  *
  * **Snapshot contract**: every frame this class returns (readLast,
  * snapshot, lengthSplit) is built under the store lock from an immutable
  * copy of the buffered rows it needs (a `LocalRelation` or a broadcast)
  * plus parquet relations whose file listing Spark pins at construction —
  * an immutable snapshot of the store at call time. No later append or
  * flush can change or release that copy, however many follow: there is
  * no retire depth to outlive. Committed data dirs are immutable, so a
  * snapshot stays valid across later mutations; only [[compactDisk]]'s
  * history expiry removes files, after which a stale reader fails LOUDLY
  * (file-not-found) — never a silently doubled or stale answer.
  *
  * Driver-side state beyond the buffer is the per-series disk bounds — the
  * `disk_range` the reference's membuf caches (`src/membufq.re:45-47`),
  * bounded by series cardinality and CAPPED at `maxTrackedSeries` entries:
  * a store pointed at more series than the cap stops tracking new bounds
  * and conservatively degrades those series' reads to the always-correct
  * merge/flush paths (reads stay flat, memory stays bounded, answers stay
  * right).
  *
  * Scale notes (100 TB): the memory tier is an ingest BUFFER on the driver
  * heap — per series below the spill threshold (reference `--shard-size`)
  * plus one batch, so in total about threshold × buffered series + one
  * batch, never corpus size; a deployment sizes the driver (or the
  * threshold) for that. A snapshot adds one broadcast copy of that
  * buffer per change that a read follows (the superseded copy is freed
  * once no frame refers to it); a `last n` copies only each series' n
  * newest points. The disk tier is the
  * partitioned ShardStore layout under manifest versioning, whose
  * series/day pruning does the heavy lifting; plan size is bounded by the
  * number of distinct skip sets (≈ deletes since the last compact), never
  * by spill count ([[VersionedStore.rawGroups]]). The M1 verdict's value
  * at scale is skipping the disk scan ENTIRELY for hot-tail reads (the
  * common monitoring access pattern). Divergences from the reference,
  * documented: (1) membufq's `is_ascending` compares only the NEWEST
  * buffered point against the disk bound (`src/membufq.re:23-27`), which
  * admits a buffer whose tail dips below it; we require the whole buffer
  * beyond the bound. (2) The bound check is STRICT
  * (`min(buffer ts) > disk max ts`): at a shared timestamp the
  * (ts desc, rid desc) order can rank a disk row above a buffered one, so a
  * tie must not qualify for the memory-only path — it degrades to the
  * merge/flush paths, never to a wrong answer.
  *
  * Mutations are serialized on the store instance — the concurrency model
  * the reference enforces globally (`src/main.re:225-227`) — and each
  * lands at cached-tip + 1, so the manifest CAS additionally rejects any
  * out-of-band writer racing the same root.
  *
  * @param seriesBuckets the layout a NEW store is created with: None =
  *   the reference-faithful `series=/day=` layout (one dir per series —
  *   perfect pruning, right for the reference's handful-of-series
  *   model); Some(b) = the bucketed high-cardinality layout
  *   (`bucket=/day=`, series as an ordinary column). Reads are
  *   layout-invisible (same rows, same order — property-tested). The
  *   layout is per-COMMIT manifest state: on reopen the persisted
  *   chain's tip is authoritative (a flat store may have been elected
  *   bucketed since), and this argument only seeds creation.
  * @param electBucketsAt automatic layout election (VERDICT r11/r12
  *   item 4): once a FLAT store's tracked series cardinality reaches
  *   this threshold, the next mutation migrates the disk tier to the
  *   bucketed layout ([[TieredStore.ElectedBuckets]] buckets) via one
  *   [[VersionedStore.compactAs]] commit + history expiry — past
  *   roughly [[TieredStore.BucketLayoutThreshold]] series the flat
  *   layout's per-series directory creation dominates sync cost
  *   (ManySeriesProbe: ~36ms/series/sync flat vs seconds/5k bucketed),
  *   and without election the store silently degrades. One-time cost =
  *   one disk-tier rewrite, measured in SCALE.md. Set Int.MaxValue to
  *   pin the flat layout forever.
  */
final class TieredStore(spark: SparkSession, val root: String,
                        val maxTrackedSeries: Int = TieredStore.DefaultMaxTrackedSeries,
                        val seriesBuckets: Option[Int] = None,
                        val electBucketsAt: Int = TieredStore.BucketLayoutThreshold) {
  import TieredStore._

  /** The memory tier: one FIFO per buffered series, in first-arrival
    * order. Read and written only under the store lock. */
  private val mem = scala.collection.mutable.LinkedHashMap.empty[String, SeriesQueue]
  /** The whole buffer as a frame, built by the first [[snapshot]] after
    * the buffer last changed; `None` until then. */
  private var memFrame: Option[Shared] = None
  /** Per-series (min ts, max ts) of everything flushed to disk; the analog
    * of the membuf's cached `disk_range` (`src/membufq.re:45-47`).
    */
  private val diskBounds = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  /** True once any series' bounds were dropped on the cap: an ABSENT
    * bounds entry then means "unknown", not "no disk data". */
  @volatile private var boundsOverflow = false
  @volatile private var diskNonEmpty = false
  /** Cached tip of the disk tier's manifest chain — refreshed after every
    * committed mutation, so reads plan without re-listing manifests. */
  @volatile private var tip: Option[VersionedStore.Commit] = None
  /** The disk tier's CURRENT physical layout — the tip manifest's, which
    * [[maybeElect]] can move from flat to bucketed (see `electBucketsAt`). */
  @volatile private var curLayout: Option[Int] = seriesBuckets

  // ---- open/reopen: collect any crashed writer's orphan data dirs, then
  // rebuild the reference's startup membuf metadata for a pre-existing
  // root: disk presence plus per-series bounds, via ONE column-pruned
  // (series, ts_us) aggregate whose output is series-cardinality-bounded
  // (and capped) — without it a reopened store would treat its disk tier
  // as empty and mis-qualify buffers for the M1 memory-only path. A fresh
  // scratch root (every streaming/test store) skips all of this on a
  // single manifest listing. No roll-forward exists to run: the manifest
  // CAS left every prior mutation either fully committed or fully absent.
  locally {
    refreshTip()
    tip.foreach { t =>
      // the persisted chain is authoritative on reopen: a store created
      // flat may have been elected bucketed since; the ctor arg only
      // seeds NEW stores
      curLayout = t.buckets
      VersionedStore.sweepOrphanData(spark, root)
      if (t.dirs.nonEmpty) hydrateBounds()
    }
  }

  /** The disk tier's current physical layout (None = flat `series=/day=`). */
  def layout: Option[Int] = curLayout

  private def refreshTip(): Unit =
    tip = VersionedStore.versions(spark, root).lastOption

  /** Cap-bounded reopen hydration: per-series bounds via one aggregate,
    * but the COLLECT is limited to maxTrackedSeries+1 rows — a store
    * holding millions of series must not pull one row per series to the
    * driver just to discard the overflow (every other bounds call
    * site is buffer- or ids-bounded). On overflow the untracked series
    * degrade to the conservative merge/flush paths via boundsOverflow,
    * exactly like cap eviction during normal operation. */
  private def hydrateBounds(): Unit = {
    // clamp before the +1 (Int.MaxValue would overflow to a negative
    // limit); the orderBy makes WHICH series get tracked bounds under a
    // partial cap deterministic (series order), not plan-order luck
    val cap = math.min(maxTrackedSeries, Int.MaxValue - 1)
    val rows = readStore.groupBy(SERIES)
      .agg(min(TS_US).as("lo"), max(TS_US).as("hi"))
      .orderBy(SERIES)
      .limit(cap + 1)
      .collect()
    if (rows.nonEmpty) diskNonEmpty = true
    rows.take(cap).foreach { r =>
      diskBounds.put(r.getString(0), (r.getLong(1), r.getLong(2)))
    }
    if (rows.length > cap) boundsOverflow = true
  }

  private def canonSel(df: DataFrame): DataFrame =
    df.select(col(SERIES), col(TS_US), col(TAG), col(VALUE), col(RID))

  /** Disk append as a manifest version (layout recorded per commit). */
  private def appendStore(df: DataFrame): Unit = {
    VersionedStore.append(df, root, curLayout)
    refreshTip()
  }

  /** Automatic bucketed-layout election (see `electBucketsAt`): called at
    * the end of every ingest-path mutation, under the store lock. One
    * [[VersionedStore.compactAs]] commit rewrites the live content
    * bucketed and flips the manifest layout marker; the superseded flat
    * history is expired (space reclaimed, same policy as [[compactDisk]]).
    * Reads before/after are property-identical — the layout is invisible
    * above the physical tier. */
  private def maybeElect(): Unit =
    if (curLayout.isEmpty && diskHasData && diskBounds.size >= electBucketsAt) {
      VersionedStore.compactAs(spark, root, Some(ElectedBuckets))
      VersionedStore.expire(spark, root, keepLast = 1)
      curLayout = Some(ElectedBuckets)
      refreshTip()
    }

  /** Whole disk tier at the cached tip, canonical form. */
  private def readStore: DataFrame =
    tip.fold(local(Nil))(c => VersionedStore.contentOf(spark, root, c))

  /** The given canonical rows as a `LocalRelation`: an immutable copy.
    * For a few rows only: the optimizer folds and compares a
    * `LocalRelation`'s rows on the driver, and its scan ships them inside
    * every task — at a deep buffer that cost more than the query. */
  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Canon.schema)

  /** The given canonical rows as a frame read from ONE broadcast of an
    * immutable copy: `slices` tasks each take a contiguous share of it.
    * The plan holds only the broadcast handle, so planning cost is flat
    * and the rows reach each executor once, not inside every task of
    * every query. */
  private def shared(rows: Vector[Row], slices: Int): Shared = {
    val b = spark.sparkContext.broadcast(rows)
    val k = math.max(1, math.min(slices, rows.size))
    Shared(spark.createDataFrame(spark.sparkContext.parallelize(0 until k, k).flatMap { i =>
      val all = b.value
      all.slice(i * all.size / k, (i + 1) * all.size / k)
    }, Canon.schema), b)
  }

  /** The buffer changed: a built [[memFrame]] no longer matches it. Its
    * executor copies go at once; frames already handed out keep the
    * driver's copy, which Spark's ContextCleaner frees once they are
    * unreachable. */
  private def bufferChanged(): Unit = {
    memFrame.foreach(_.rows.unpersist(blocking = false))
    memFrame = None
  }

  /** Direct-to-disk append (the batch ingest path). An empty frame is a
    * no-op — no empty version bloating the chain. */
  def appendDisk(df: DataFrame): Unit = this.synchronized {
    val slice = canonSel(df)
    val bounds = collectBounds(slice)
    if (bounds.nonEmpty) { appendStore(slice); applyBounds(bounds); maybeElect() }
  }

  /** Buffer points in the memory tier: ONE collect of the slice, then each
    * row joins its series' queue. `seqCol` orders the slice's rows among
    * themselves — the FIFO position in the reference's membuf
    * (`src/membufq.re:9`); across calls, arrival order is call order.
    */
  def appendMemory(df: DataFrame, seqCol: String): Unit =
    this.synchronized { bufferRows(df, seqCol) }

  /** [[appendMemory]]'s body; returns the series the slice appended to. */
  private def bufferRows(df: DataFrame, seqCol: String): Set[String] = {
    val rows = df.select(col(SERIES), col(TS_US), col(TAG), col(VALUE), col(RID),
        col(seqCol).cast(LongType))
      .collect()
      .sortBy(_.getLong(5)) // stable: equal positions keep collect order
    if (rows.nonEmpty) bufferChanged()
    rows.map { r =>
      mem.getOrElseUpdate(r.getString(0), new SeriesQueue)
        .add(Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4)))
      r.getString(0)
    }.toSet
  }

  /** M3 / S6: flush the named series' buffered points to the disk tier. */
  def flush(ids: Seq[String]): Unit = this.synchronized { flushLocked(ids) }

  /** S6 `ctl/ts/sync` (reference `src/main.re:188`, `timeseries_sync` →
    * `Timeseries.flush`): flush EVERY buffered series to disk in one
    * commit. Idempotent — a second sync on an empty buffer is a no-op.
    */
  def sync(): Unit = this.synchronized { flushLocked(mem.keys.toSeq) }

  /** Moves the named series' queues to the disk tier as one commit. Their
    * disk bounds come from the queues' counters; a queue leaves the buffer
    * only once its rows are committed. The rows are written by ONE task:
    * each task writes its own file into every (series, day) directory it
    * touches, so more slices would multiply the files later scans open
    * until a compaction. */
  private def flushLocked(ids: Seq[String]): Unit = {
    val moving = ids.distinct.flatMap(s => mem.get(s).map(s -> _))
    if (moving.nonEmpty) {
      val out = shared(moving.flatMap(_._2.rows).toVector, slices = 1)
      appendStore(out.frame)
      out.rows.destroy() // nothing else reads this copy
      moving.foreach(m => mem.remove(m._1))
      bufferChanged()
      applyBounds(moving.map { case (s, q) => (s, q.minTs, q.maxTs) })
      maybeElect()
    }
  }

  /** Per-series (min, max) ts of a disk-bound slice — bounded by series
    * cardinality, capped at maxTrackedSeries by [[applyBounds]]. Computed
    * BEFORE the disk commit so an all-empty slice commits nothing. */
  private def collectBounds(slice: DataFrame): Seq[(String, Long, Long)] =
    slice.groupBy(SERIES).agg(min(TS_US), max(TS_US)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  private def applyBounds(bounds: Seq[(String, Long, Long)]): Unit = {
    if (bounds.nonEmpty) diskNonEmpty = true
    bounds.foreach { case (s, lo, hi) =>
      if (diskBounds.contains(s) || diskBounds.size < maxTrackedSeries)
        diskBounds.updateWith(s) {
          case Some((l, h)) => Some((math.min(l, lo), math.max(h, hi)))
          case None         => Some((lo, hi))
        }
      else boundsOverflow = true // untracked: this series degrades to M2/M3
    }
  }

  private def diskHasData: Boolean = diskNonEmpty

  /** Pruned disk read: the prune runs on each RAW relation (partition
    * columns intact) so the series/bucket predicates land on PARTITION
    * columns and prune at listing time, before the canon projection
    * drops them. */
  private def prunedCanon(c: VersionedStore.Commit,
                          prune: DataFrame => DataFrame): DataFrame =
    if (c.dirs.isEmpty) local(Nil)
    else VersionedStore.rawGroups(spark, root, c)
      .map(r => canonSel(prune(r))).reduce(_ unionByName _)

  private def disk(ids: Seq[String]): DataFrame =
    (tip, diskHasData) match {
      case (Some(c), true) => prunedCanon(c, curLayout match {
        case Some(b) =>
          val bs = ids.map(ShardStore.bucketOf(_, b)).distinct
          raw => raw.filter(col(ShardStore.BUCKET).isin(bs: _*))
            .filter(col(SERIES).isin(ids: _*))
        case None => raw => raw.filter(col(SERIES).isin(ids: _*))
      })
      case _ => local(Nil)
    }

  /** Buffer lies STRICTLY beyond everything on disk for this series. A tie
    * (buffer min ts == disk max ts) must NOT qualify: under (ts desc,
    * rid desc) a disk row at the shared timestamp can outrank a buffered
    * one, so ties take the always-correct merge/flush paths. A series with
    * cap-evicted (unknown) bounds is conservatively not-beyond.
    */
  private def beyondDisk(s: String, q: SeriesQueue): Boolean =
    diskBounds.get(s) match {
      case Some((_, hi)) => q.minTs > hi
      case None          => !boundsOverflow
    }

  /** Q1 `last n` through the tier decision (`timeseries.re:357-382`):
    * per queried series — M1 memory-only when the sorted-and-beyond buffer
    * holds ≥ n points, M2 memory∪disk top-n when it qualifies but is short,
    * M3 flush-then-disk when it overlaps the disk range. The three branches
    * union into one declarative plan; a query whose every series takes M1
    * plans NO disk scan at all (asserted by `TieredStoreSpec`).
    */
  def readLast(ids: Seq[String], n: Int): DataFrame = this.synchronized {
    require(ids.nonEmpty, "tiered readLast needs explicit series ids")
    val qualified = ids.filter(s =>
      mem.get(s).forall(q => q.ascending && beyondDisk(s, q)))
    val fast = qualified.filter(s => mem.get(s).exists(_.rows.size >= n))
    val merge = qualified.diff(fast)
    val toFlush = ids.diff(qualified)
    if (toFlush.nonEmpty) flushLocked(toFlush)
    val branches = Seq(
      if (fast.isEmpty) None else Some(TS.readLast(newest(fast, n), fast, n)),
      if (merge.isEmpty) None
      else Some(TS.readLast(newest(merge, n).unionByName(disk(merge)), merge, n)),
      if (toFlush.isEmpty) None else Some(TS.readLast(disk(toFlush), toFlush, n))
    ).flatten
    branches.reduce(_ unionByName _).orderBy(col(TS_US).desc, col(RID).desc)
  }

  /** The memory side of a `last n` over QUALIFIED series: each queue's
    * rows that can rank in its top n. A qualified queue is ascending, so
    * they are its suffix from the n-th newest point, widened to the
    * points tied with it (the plan's rid tie-break picks among those).
    */
  private def newest(ids: Seq[String], n: Int): DataFrame =
    local(ids.distinct.flatMap(mem.get).flatMap { q =>
      if (q.rows.size <= n) q.rows
      else if (n <= 0) Nil
      else {
        val cut = q.rows(q.rows.size - n).getLong(1)
        q.rows.drop(q.rows.lastIndexWhere(_.getLong(1) < cut) + 1)
      }
    })

  /** The session this store plans against (for router ack frames). */
  private[graft] def session: SparkSession = spark

  /** D1 against the LIVE store — the reference's DELETE verb composed
    * end-to-end (`/root/reference/src/main.re:97-118` →
    * `src/timeseries.re:295-303`): flush the touched series' buffers
    * first (the reference flushes membufs before touching shards), then
    * commit a manifest version without the matched rows, so every
    * subsequent read of this store sees fewer points. Returns the
    * deleted-point count — the observable effect behind the reference's
    * bare "ok" reply.
    *
    * Matched-row semantics, not the reference's delete-by-timestamp-
    * membership quirk (`timeseries.re:264-272` removes ANY point sharing
    * a timestamp with a matched one) — the documented divergence
    * SURVEY §7.5 #6, shared with [[graft.operators.TimeSeries.deleteRange]].
    *
    * Physical shape ([[VersionedStore.deletePartitions]]): the rewrite
    * unit is the PARTITION — the touched series' `series=` partitions in
    * the flat layout, the touched buckets' `bucket=` partitions in the
    * bucketed one (co-resident series in an affected bucket are carried
    * through the survivors dir unchanged). Survivors are fully
    * materialized in a fresh data dir BEFORE the manifest CAS publishes
    * the version — all-or-nothing, no crash window, no roll-forward.
    * Only affected partitions are ever read or rewritten; the rest of
    * the store is carried by manifest reference, so the cost scales with
    * the affected partitions' data, not store size. The deleted rows
    * stay readable at earlier versions until [[compactDisk]] expires
    * them. Per-series disk bounds are recomputed from the rewritten
    * partitions (a shrunken range can re-qualify future buffers for the
    * M1 fast path).
    */
  def delete(ids: Seq[String], fromUs: Long, toUs: Long,
             pipe: Seq[Tags.Group] = Nil): Long = this.synchronized {
    require(ids.nonEmpty, "tiered delete needs explicit series ids")
    flushLocked(ids)
    if (!diskHasData) return 0L
    val c = tip.getOrElse(return 0L)
    val matched = coalesce(
      col(SERIES).isin(ids: _*) && col(TS_US).between(fromUs, toUs) &&
        (if (pipe.isEmpty) lit(true) else Tags.predicate(col(TAG), pipe)),
      lit(false))
    // rows of every partition the delete touches (see scaladoc): flat —
    // exactly the ids' series partitions; bucketed — the ids' buckets
    // whole, so co-resident series ride into the survivors dir
    val affected = prunedCanon(c, curLayout match {
      case Some(b) =>
        val bs = ids.map(ShardStore.bucketOf(_, b)).distinct
        raw => raw.filter(col(ShardStore.BUCKET).isin(bs: _*))
      case None => raw => raw.filter(col(SERIES).isin(ids: _*))
    })
    val deleted = affected.filter(matched).count()
    if (deleted == 0L) return 0L
    VersionedStore.deletePartitions(affected.filter(!matched), root,
      affectedPartitionNames(ids), c.version, curLayout)
    refreshTip()
    diskNonEmpty = tip.exists(_.dirs.nonEmpty) // conservative: an
    // all-partitions-skipped tip still plans a (cheap, empty) scan
    ids.foreach(diskBounds.remove)
    if (diskHasData) applyBounds(collectBounds(disk(ids)))
    deleted
  }

  /** Which top-level partition names a delete of `ids` excludes from the
    * parent dirs. Flat layout: the ids' own `series=` partitions, ENCODED
    * the way Spark writes partition paths (escapePathName) so the
    * manifest skip lines match what [[VersionedStore.dirFrameRaw]]
    * decodes. Bucketed: the ids' bucket partitions (plain integers, no
    * escaping).
    */
  private def affectedPartitionNames(ids: Seq[String]): Seq[String] =
    curLayout match {
      case Some(b) =>
        ids.map(x => s"${ShardStore.BUCKET}=${ShardStore.bucketOf(x, b)}").distinct
      case None =>
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
        ids.map(x => s"$SERIES=${escapePathName(x)}").distinct
    }

  /** The live disk tier's committed version chain — time travel + CDC,
    * free from the unified manifest protocol (VERDICT r11/r12 item 1).
    * History spans back to the last space-reclaiming [[compactDisk]]. */
  def diskVersions: Seq[VersionedStore.Commit] =
    VersionedStore.versions(spark, root)

  /** Time travel over the LIVE store's disk tier: its content exactly as
    * of version `v` (the buffer is not part of committed history). */
  def readDiskAt(v: Int): DataFrame = VersionedStore.readAt(spark, root, v)

  /** CDC over the LIVE store's disk tier ([[VersionedStore.readChanges]]). */
  def diskChanges(fromV: Int, toV: Int): DataFrame =
    VersionedStore.readChanges(spark, root, fromV, toV)

  /** LIVE file-hygiene compaction of the disk tier (the reference's S4
    * overlap-merge runs on every spill, `timeseries.re:119-156`; here
    * compaction is optional hygiene because overlapping files are
    * correct — see [[ShardStore]]): commit a version whose single data
    * dir holds the coalesced live content, then (by default) expire the
    * superseded history — the OPTIMIZE + VACUUM pairing, and the point
    * where deleted rows' space is actually reclaimed. With
    * `retainHistory = true` the old versions stay time-travel-readable
    * and no file is removed. The memory buffer is untouched. Cost is one
    * read+write of the disk tier; run it on the maintenance cadence, not
    * the ingest path.
    */
  def compactDisk(retainHistory: Boolean = false): Unit = this.synchronized {
    if (!diskHasData) return
    VersionedStore.compact(spark, root)
    if (!retainHistory) VersionedStore.expire(spark, root, keepLast = 1)
    refreshTip()
  }

  /** The whole store as one canonical frame (memory ∪ disk) — the input
    * for every route that has no tier-aware fast path (since/range/aggs:
    * they read both tiers anyway, and Catalyst prunes the disk side).
    * Built under the lock: the memory side is a broadcast copy of the
    * buffer, the disk side the cached tip's relations — an immutable
    * snapshot per the class contract. The memory side is built by the
    * first snapshot after the buffer changes and reused by every later
    * one until the next change, so a read-mostly store copies its buffer
    * once, not per GET.
    */
  def snapshot: DataFrame = this.synchronized {
    val m = if (mem.isEmpty) None else Some(memFrame.getOrElse {
      val f = shared(mem.values.flatMap(_.rows).toVector,
        spark.sparkContext.defaultParallelism)
      memFrame = Some(f); f
    }.frame)
    (m ++ (if (diskHasData) Some(readStore) else None))
      .reduceOption(_ unionByName _).getOrElse(local(Nil))
  }

  /** Number of buffered points (the membuf length, from the counters). */
  def bufferedCount(): Long = this.synchronized(mem.values.map(_.rows.size.toLong).sum)

  /** Whether any series' bounds were dropped on the cap (tests). */
  private[graft] def boundsOverflowed: Boolean = boundsOverflow

  /** Number of series with tracked disk bounds, for lifecycle tests. */
  private[graft] def trackedBounds: Int = diskBounds.size

  /** S3 ingest-side spill policy (reference `--shard-size`,
    * `src/main.re:10`; spill at `timeseries.re:158-168`): buffer the
    * batch, then flush each series whose buffer has reached
    * `spillThreshold` points — the reference's PER-SERIES shard-size
    * check, batch-granular (a micro-batch is this design's arrival
    * unit), so a series' buffer holds < threshold + one batch.
    */
  def ingest(batch: DataFrame, seqCol: String, spillThreshold: Long): Unit =
    this.synchronized {
      // only a series this batch appended to can have reached the threshold
      val full = bufferRows(batch, seqCol).toSeq.filter(mem(_).rows.size >= spillThreshold)
      if (full.nonEmpty) flushLocked(full)
    }

  /** I2: per-series memory/disk length split
    * (`/root/reference/src/timeseries.re:187-213`, routes
    * `memory/length` + `disk/length`, `src/main.re:184-185`).
    * Snapshot semantics as [[snapshot]].
    */
  def lengthSplit(ids: Seq[String]): DataFrame = this.synchronized {
    import spark.implicits._
    val m = ids.distinct.flatMap(s => mem.get(s).map(q => (s, q.rows.size.toLong)))
      .toDF(SERIES, "mem_len")
    val d = disk(ids).groupBy(SERIES).agg(count(lit(1)).as("disk_len"))
    // full-outer of two series-cardinality aggregates — never a data join
    m.join(d, Seq(SERIES), "full_outer")
      .select(col(SERIES),
        coalesce(col("mem_len"), lit(0L)).as("mem_len"),
        coalesce(col("disk_len"), lit(0L)).as("disk_len"))
      .withColumn("len", col("mem_len") + col("disk_len"))
      .orderBy(SERIES)
  }
}

object TieredStore {
  /** Arrival-order column of a batch handed to [[TieredStore.ingest]] or
    * `appendMemory`: orders the batch's rows among themselves (membuf
    * FIFO position). */
  val SEQ = "__seq"

  /** A frame over one broadcast copy of canonical rows, and that copy. */
  private final case class Shared(frame: DataFrame, rows: Broadcast[Vector[Row]])

  /** One series' buffered points in arrival order, with the metadata the
    * reference's membufq keeps as it goes (`src/membufq.re:17-47`). */
  private final class SeriesQueue {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var minTs: Long = Long.MaxValue
    var maxTs: Long = Long.MinValue
    /** No point arrived with a ts below its predecessor's: the arrival-order
      * `is_ascending` (`src/membufq.re:17-28`). */
    var ascending = true

    def add(r: Row): Unit = {
      val ts = r.getLong(1)
      if (rows.nonEmpty && ts < rows.last.getLong(1)) ascending = false
      minTs = math.min(minTs, ts)
      maxTs = math.max(maxTs, ts)
      rows += r
    }
  }

  /** Rough series-cardinality point where the flat `series=/day=` layout's
    * per-series directory creation starts to dominate write cost
    * (ManySeriesProbe: ~36ms/series/sync on local disk); past it,
    * construct the store with `seriesBuckets = Some(n)` (64-1024 buckets
    * — enough write parallelism, bounded dir count).
    */
  val BucketLayoutThreshold = 512

  /** Cap on driver-tracked per-series disk bounds (the membuf metadata).
    * ~48 bytes/entry → a few tens of MB at the cap; beyond it new series
    * degrade to the merge/flush read paths instead of growing the map.
    */
  val DefaultMaxTrackedSeries: Int = 1 << 20

  /** Bucket count an automatic election migrates to: enough write
    * parallelism for the threshold cardinality, bounded dir count
    * (buckets×days per write, independent of series count); series
    * stays row-group-sorted inside each bucket, so growth far past the
    * threshold still prunes well. */
  val ElectedBuckets = 64

}
