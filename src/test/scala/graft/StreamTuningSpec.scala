package graft

import graft.streaming.StreamTuning

/** Pins the r17 scale-adaptive stream partitioning (guide §2): the
  * state/sink partition count is a pure function of input volume — 1 at
  * bench scale, growing linearly at corpus scale — never of the core
  * count, and the derived session carries it without touching the
  * caller's session (the bench warms queries concurrently on one shared
  * session).
  */
class StreamTuningSpec extends SparkSuite {

  test("statePartitions is volume-proportional, floored at 1, core-blind") {
    assert(StreamTuning.statePartitions(0L) == 1)
    assert(StreamTuning.statePartitions(1L) == 1)
    assert(StreamTuning.statePartitions(StreamTuning.DefaultTargetBytes) == 1)
    assert(StreamTuning.statePartitions(StreamTuning.DefaultTargetBytes + 1) == 2)
    // 100 TB at the default target: ~3.3M partitions, linear in volume
    assert(StreamTuning.statePartitions(100L * 1024 * 1024 * 1024 * 1024) ==
      (100L * 1024 * 1024 * 1024 * 1024 / StreamTuning.DefaultTargetBytes).toInt)
    // custom target
    assert(StreamTuning.statePartitions(10L, 4L) == 3)
  }

  test("inputBytes sums only the flat files of the staged dir") {
    val d = tmpDir("stream_tuning_")
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "a.parquet"),
      Array.fill[Byte](100)(1))
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "b.parquet"),
      Array.fill[Byte](23)(1))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(d, "sub"))
    assert(StreamTuning.inputBytes(spark, d) == 123L)
    assert(StreamTuning.inputBytes(spark, d + "/does-not-exist") == 0L)
  }

  test("inputBytes lists through the Hadoop FileSystem: a file: URI sizes like its path") {
    val d = tmpDir("stream_tuning_uri_")
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "a.json"), Array.fill[Byte](77)(1))
    val uri = new java.io.File(d).toURI.toString
    assert(uri.startsWith("file:/"), uri)
    assert(StreamTuning.inputBytes(spark, uri) == 77L)
    assert(StreamTuning.inputBytes(spark, uri + "does-not-exist") == 0L)
  }

  test("sessionFor derives shuffle partitions from the dir and isolates the caller") {
    val d = tmpDir("stream_tuning_sess_")
    // 2.5 targets of input → 3 partitions under a tiny test target
    spark.conf.set(StreamTuning.TargetConf, "50")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "in.bin"),
        Array.fill[Byte](125)(1))
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      val ss = StreamTuning.sessionFor(spark, d)
      assert(ss.conf.get("spark.sql.shuffle.partitions") == "3")
      // caller session untouched (pooled warmup threads share it)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      // the graft session surface is re-registered on the clone
      assert(ss.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64")))
      assert(ss.conf.get("spark.sql.optimizer.excludedRules")
        .contains("InferFiltersFromGenerate"))
    } finally spark.conf.unset(StreamTuning.TargetConf)
  }
}
