package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Scale-adaptive partitioning for the STREAMING queries (guide §2:
  * derive partitioning from input size, never from a constant tuned for
  * either local mode or the cluster).
  *
  * Why streams need this and batch queries don't: a stateful stream pins
  * its state-store partition count to `spark.sql.shuffle.partitions` at
  * checkpoint creation, and AQE never coalesces a streaming aggregation
  * exchange — so the bench contract's batch default (= core count)
  * costs core-count state-store instances (open/commit per trigger) and
  * core-count sink files PER TRIGGER no matter how small the input.
  * Measured in r16 (`R16StreamProbe`): state partitions 32→4 was −1.0s
  * and the complete-mode snapshot rewrite −0.75s on the q_stream_crawl
  * shape alone, all of it fixed per-trigger machinery over a few MB of
  * input.
  *
  * The derivation is volume-proportional — `ceil(inputBytes / target)`,
  * at least 1 — so it is 1-2 partitions at bench scale: nothing here
  * reads the core count, and a bigger corpus gets MORE state partitions
  * under the identical rule. `target` defaults to 32 MiB of input per
  * state partition (state for these queries is an aggregation over the
  * input, orders of magnitude smaller than the input itself) and is
  * configurable per deployment via
  * `spark.graft.stream.bytesPerStatePartition`. At the default, 100 TB of
  * input derives 3,276,800 state partitions, far more than a state store
  * should carry; a corpus-scale deployment raises the target (e.g. 32 GiB
  * gives 3,200).
  */
object StreamTuning {

  val TargetConf = "spark.graft.stream.bytesPerStatePartition"
  val DefaultTargetBytes: Long = 32L * 1024 * 1024

  /** Volume-derived state/shuffle partition count: ceil(bytes/target),
    * minimum 1. Grows without bound with input volume by design.
    */
  def statePartitions(inputBytes: Long, targetBytes: Long = DefaultTargetBytes): Int = {
    require(targetBytes > 0, s"target bytes must be positive, got $targetBytes")
    val p = (inputBytes + targetBytes - 1) / targetBytes
    math.max(1L, math.min(p, Int.MaxValue.toLong)).toInt
  }

  /** Total size of the regular files directly under `dir` — the staged
    * stream input directories are flat (no nested parquet dirs). Listed
    * through the Hadoop `FileSystem` of the dir's URI with the session's
    * Hadoop conf, so HDFS/S3/ABFS inputs size the same as local ones; a
    * missing dir is 0 bytes.
    */
  def inputBytes(spark: SparkSession, dir: String): Long = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) 0L
    else fs.listStatus(path).filter(_.isFile).map(_.getLen).sum
  }

  /** A session for running ONE stream whose shuffle (= state store and
    * sink) partition count is derived from `inDir`'s volume. A fresh
    * `newSession` (shared context, isolated SQL conf) rather than a
    * set-and-restore on the caller's session: the bench warms queries on
    * a thread pool, and SQLConf is per-session, not per-thread — a
    * restore would race concurrently-planning batch queries.
    */
  def sessionFor(s: SparkSession, inDir: String): SparkSession = {
    val target = s.conf.getOption(TargetConf).map(_.toLong)
      .getOrElse(DefaultTargetBytes)
    val parts = statePartitions(inputBytes(s, inDir), target)
    val ss = s.newSession()
    graft.Graft.register(ss) // session-scoped functions + excluded rules
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ss
  }
}
