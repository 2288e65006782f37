package graft.streaming

import graft.sources.{JsonIngest, ShardStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S1/S3/S6: streaming ingest — the membuf analog (SURVEY.md §2.1).
  *
  * The reference buffers points per series in an in-memory FIFO and spills
  * fixed-size shards (`/root/reference/src/membuf.re`,
  * `src/timeseries.re:158-168`). In Spark the buffer is the micro-batch:
  * `readStream` accumulates between triggers, `foreachBatch` appends to the
  * partitioned store. `flush`/`sync` (`src/main.re:154-157`) maps to the
  * checkpoint commit at each batch boundary; exactly-once lands via the
  * checkpoint + idempotent parquet append.
  */
object Ingest {

  /** Watch `inDir` for text files of wire JSON (one object per line,
    * filename prefix = series id is NOT assumed — each line carries its
    * series in a 2-column json: {"series": s, "point": {...}}), validate,
    * and append to the ShardStore at `storePath`.
    */
  def startFileStream(spark: SparkSession, inDir: String, storePath: String,
                      checkpoint: String,
                      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val lines = spark.readStream.text(inDir)
    val wire = lines.select(
      get_json_object(col("value"), "$.series").as("series"),
      get_json_object(col("value"), "$.point").as("json"))
    wire.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = JsonIngest.ingest(batch, ingestTimeUs = batchId) // deterministic per batch
        ShardStore.append(r.good, storePath)
        ()
      }
      .start()
  }

  /** Batch-mode convenience: validate + append in one shot (the reference's
    * POST-then-sync path collapsed).
    */
  def ingestBatch(wire: DataFrame, storePath: String, ingestTimeUs: Long): JsonIngest.Result = {
    val r = JsonIngest.ingest(wire, ingestTimeUs)
    ShardStore.append(r.good, storePath)
    r
  }

  /** The full reference ingest cycle, tiered: file stream → validate →
    * MEMORY BUFFER → per-series spill at `spillThreshold` points (the
    * `--shard-size` membuf discipline, reference `src/timeseries.re:158-168`)
    * — hot-tail reads against the store take the TieredStore fast paths
    * between spills. Each batch's good rows are collected once into the
    * store's driver-side queues, so a batch must fit the driver heap.
    * Arrival sequence within a batch is the content-derived rid: the lines
    * of one micro-batch have no arrival order of their own (their row
    * order follows how the file source splits the batch), while rid is
    * stable across replays, so a checkpoint-recovered batch re-buffers
    * identically. Batches arrive in batchId order under the streaming
    * engine's serial foreachBatch contract.
    */
  def startTieredFileStream(spark: SparkSession, inDir: String,
                            store: graft.sources.TieredStore, checkpoint: String,
                            spillThreshold: Long,
                            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import graft.sources.TieredStore
    val reader = maxFilesPerTrigger.foldLeft(spark.readStream)(
      (r, n) => r.option("maxFilesPerTrigger", n))
    val lines = reader.text(inDir)
    val wire = lines.select(
      get_json_object(col("value"), "$.series").as("series"),
      get_json_object(col("value"), "$.point").as("json"))
    wire.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = JsonIngest.ingest(batch, ingestTimeUs = batchId)
        store.ingest(r.good.withColumn(TieredStore.SEQ, col("rid")),
          TieredStore.SEQ, spillThreshold)
        ()
      }
      .start()
  }
}
