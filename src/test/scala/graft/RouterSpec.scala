package graft

import graft.api.{Router, Wire}
import graft.model.Canon.{Datapoint, TagEntry}

/** Route-string parity: the reference's exact URL queries, interpreted. */
class RouterSpec extends SparkSuite {
  import spark.implicits._

  private def tag(pairs: (String, String)*) = Some(pairs.map { case (n, v) => TagEntry(n, v) })

  lazy val df = Seq(
    Datapoint("s1", 100L, tag("loc" -> "1", "sci" -> "lang"), 1.0, 1),
    Datapoint("s1", 200L, tag("loc" -> "2", "sci" -> "perp"), 2.0, 2),
    Datapoint("s1", 300L, None, 4.0, 3),
    Datapoint("s2", 150L, tag("loc" -> "1"), 10.0, 4),
    Datapoint("s2", 250L, tag("loc" -> "2"), 20.0, 5)
  ).toDF()

  test("read routes") {
    assert(Router.run(df, "s1,s2/last/1").select("rid").as[Long].collect().toSet == Set(3L, 5L))
    assert(Router.run(df, "s1/first/2").select("rid").as[Long].collect().toSeq == Seq(1L, 2L))
    assert(Router.run(df, "s1,s2/since/200").count() == 3)
    assert(Router.run(df, "s2/range/100/200/count").as[Double].head() == 1.0)
    assert(Router.run(df, "names").as[String].collect().toSeq == Seq("s1", "s2"))
    assert(Router.run(df, "s1/length").as[Long].head() == 3L)
  }

  test("xargs filter + aggregate routes") {
    // multi-value OR: the name repeats per value (zip semantics, shard.re:176-180)
    assert(Router.run(df, "s1,s2/last/10/filter/loc,loc/equals/1,2/sum")
      .as[Double].head() == 33.0)
    assert(Router.run(df, "s1/last/10/filter/sci/contains/per")
      .select("rid").as[Long].collect().toSeq == Seq(2L))
    assert(Router.run(df, "s1,s2/since/0/mean").as[Double].head() == 37.0 / 5)
  }

  test("delete routes return survivors; bad routes reject") {
    assert(Router.runDelete(df, "s1/range/100/200").select("rid").as[Long]
      .collect().toSet == Set(3L, 4L, 5L))
    intercept[IllegalArgumentException] { Router.run(df, "s1/lastish/3") }
    intercept[IllegalArgumentException] { Router.run(df, "s1/last/3/p99") }
    intercept[IllegalArgumentException] { Router.run(df, "s1/last/3/filter/a/like/b") }
  }

  test("every reference GET route string dispatches (main.re:177-192)") {
    // ts_us chosen so s1 spans two utc-day shards, s2 one
    val day = 86400000000L
    val idx = Seq(
      Datapoint("s1", 100L, None, 1.0, 1),
      Datapoint("s1", day + 500L, None, 2.0, 2),
      Datapoint("s2", 300L, None, 3.0, 3)
    ).toDF()
    // the five routes wired in r8, flat-frame overload:
    assert(Router.run(idx, "s1,s2/index/length").as[Long].head() == 3L)
    val shards = Router.run(idx, "s1/index")
      .select("shard_day_us", "min_ts_us", "max_ts_us", "length")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(shards == Seq((0L, 100L, 100L, 1L), (day, day + 500L, day + 500L, 1L)))
    // a comma list on the single-id index route must REJECT, not filter
    // for a series literally named "s1,s2" (plausible-looking empty frame)
    intercept[IllegalArgumentException] { Router.run(idx, "s1,s2/index") }
    assert(Router.run(idx, "info/ts/names").as[String].collect().toSeq == Seq("s1", "s2"))
    assert(Router.run(idx, "info/ts/stats").select("series", "length")
      .as[(String, Long)].collect().toSeq == Seq(("s1", 2L), ("s2", 1L)))
    assert(Router.run(idx, "ctl/ts/sync").head().getString(0) == "ok")
    // full reference URL paths replay with the ts/ prefix intact
    assert(Router.run(idx, "ts/s1/last/1").select("rid").as[Long].head() == 2L)
    assert(Router.run(idx, "/ts/s1,s2/length").as[Long].head() == 3L)
    // every GET route shape from the reference dispatch table runs
    val all = Seq("ts/s1/last/2", "ts/s1/latest", "ts/s1/first/2", "ts/s1/earliest",
      "ts/s1/since/0", "ts/s1/range/0/500", "ts/s1/length", "ts/s1,s2/index/length",
      "ts/s1/index", "info/ts/names", "info/ts/stats", "info/status", "ctl/ts/sync")
    all.foreach(r => assert(Router.run(idx, r).collect().nonEmpty, r))
  }

  test("ctl/ts/sync against a live store flushes every buffered series") {
    import graft.sources.TieredStore
    import org.apache.spark.sql.functions.col
    val st = new TieredStore(spark, tmpDir("routersync"))
    st.appendDisk(Seq(Datapoint("s1", 100L, None, 1.0, 1)).toDF())
    st.appendMemory(
      Seq(Datapoint("s1", 900L, None, 2.0, 2), Datapoint("s2", 901L, None, 3.0, 3))
        .toDF().withColumn(TieredStore.SEQ, col("rid")),
      TieredStore.SEQ)
    assert(st.bufferedCount() == 2L)
    assert(Router.run(st, "ctl/ts/sync").head().getString(0) == "ok")
    assert(st.bufferedCount() == 0L)
    val split = st.lengthSplit(Seq("s1", "s2")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(split == Seq(("s1", 0L, 2L), ("s2", 0L, 1L)))
    // store overload also replays ts-prefixed reference paths
    assert(Router.run(st, "ts/s1/memory/length").as[Long].head() == 0L)
    assert(Router.run(st, "ts/s1,s2/disk/length").as[Long].head() == 3L)
    // idempotent second sync
    assert(Router.run(st, "ctl/ts/sync").head().getString(0) == "ok")
  }

  test("POST ts/<id>: single point, batch array, quarantine — read back through GET") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_post"))
    // single object (reference post_req `O(_)` branch)
    val r1 = Router.runPost(st, "ts/s1",
      """{"timestamp": 1704067200000000, "value": 1.5}""")
      .as[(Long, Long)].head()
    assert(r1 == ((1L, 0L)))
    // array body (the `A(lis)` branch) with one invalid element: good
    // elements land, the bad one quarantines (count surfaced)
    val r2 = Router.runPost(st, "ts/s1",
      """[{"timestamp": 1704067200000001, "value": 2.5},
        | {"nope": 1},
        | {"timestamp": 1704067200000002, "tag": [{"loc": "x"}], "value": 3.5}]""".stripMargin)
      .as[(Long, Long)].head()
    assert(r2 == ((2L, 1L)))
    // the posted points answer through the GET surface, tier-invisibly
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 3L)
    assert(Router.run(st, "ts/s1/last/1").select("value").as[Double].head() == 3.5)
    assert(Router.run(st, "ts/s1/last/10/filter/loc/equals/x/count").as[Double].head() == 1.0)
    // tiny spill threshold: the POST path spills per series like the
    // streaming ingest (buffer drains to disk, answers unchanged)
    val r3 = Router.runPost(st, "ts/s2",
      """[{"timestamp": 1, "value": 1}, {"timestamp": 2, "value": 2}]""",
      spillThreshold = 2L).as[(Long, Long)].head()
    assert(r3 == ((2L, 0L)))
    assert(Router.run(st, "ts/s2/disk/length").as[Long].head() == 2L)
    intercept[IllegalArgumentException] { Router.runPost(st, "ts/a/b/c", "{}") }
  }

  test("POST array body: elements whose ts no Long holds quarantine beside good ones") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_post_bad_ts"))
    val r = Router.runPost(st, "ts/s1",
      """[{"timestamp": 5, "value": 1},
        | {"timestamp": "NaN", "value": 2},
        | {"value": 3, "timestamp": 1e30},
        | {"timestamp": 6, "value": 4}]""".stripMargin)
      .as[(Long, Long)].head()
    assert(r == ((2L, 2L)))
    assert(Router.run(st, "ts/s1/last/10").select("ts_us", "value").as[(Long, Double)]
      .collect().toSeq == Seq((6L, 4.0), (5L, 1.0)))
  }

  test("DELETE against a live store: buffer flush, shard rewrite, reads see it") {
    import graft.sources.TieredStore
    import org.apache.spark.sql.functions.col
    val st = new TieredStore(spark, tmpDir("router_delete"))
    st.appendDisk(Seq(
      Datapoint("s1", 100L, tag("u" -> "3"), 1.0, 1),
      Datapoint("s1", 200L, tag("u" -> "5"), 2.0, 2),
      Datapoint("s1", 300L, None, 4.0, 3),
      Datapoint("s2", 150L, tag("u" -> "3"), 10.0, 4)).toDF())
    // a buffered point inside the delete range: the reference flushes
    // membufs before touching shards (timeseries.re:295-303) — ours must
    // flush it and then delete it from the rewritten partition
    st.appendMemory(Seq(Datapoint("s1", 400L, tag("u" -> "3"), 8.0, 5)).toDF()
      .withColumn(TieredStore.SEQ, col("rid")), TieredStore.SEQ)
    assert(st.bufferedCount() == 1L)
    val ack = Router.runDelete(st, "ts/s1/range/100/400/filter/u/equals/3")
    assert(ack.select("deleted").as[Long].head() == 2L) // rid 1 (disk) + rid 5 (was buffered)
    assert(st.bufferedCount() == 0L)
    // subsequent GETs through the SAME store see the deletion; the
    // untouched series is unaffected
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 2L)
    assert(Router.run(st, "ts/s1/since/0").select("rid").as[Long].collect().toSet
      == Set(2L, 3L))
    assert(Router.run(st, "ts/s2/length").as[Long].head() == 1L)
    // since-form, no pipe
    assert(Router.runDelete(st, "ts/s1/since/300").select("deleted").as[Long].head() == 1L)
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 1L)
    // disk bounds were recomputed from the rewritten partition: a fresh
    // buffered tail must still merge with the surviving disk row, never
    // shadow it (stale-absent bounds would elect a memory-only read)
    st.appendMemory(Seq(Datapoint("s1", 350L, None, 9.0, 6)).toDF()
      .withColumn(TieredStore.SEQ, col("rid")), TieredStore.SEQ)
    assert(Router.run(st, "ts/s1/last/2").select("rid").as[Long].collect().toSet
      == Set(2L, 6L))
    // deleting a series' every point removes its partition entirely
    assert(Router.runDelete(st, "ts/s2/since/0").select("deleted").as[Long].head() == 1L)
    assert(Router.run(st, "ts/s2/length").as[Long].head() == 0L)
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 2L)
    // no-match delete is a clean zero; grammar violations reject
    assert(Router.runDelete(st, "ts/s1/range/5000/6000").select("deleted").as[Long].head() == 0L)
    intercept[IllegalArgumentException] { Router.runDelete(st, "ts/s1/nope/1") }
  }

  test("wire JSON: reference field order, tag omitted when absent") {
    val rows = Wire.toJsonRows(Router.run(df, "s1/first/3"))
      .as[String].collect()
    assert(rows(0) ==
      """{"timestamp":100,"tag":[{"loc":"1"},{"sci":"lang"}],"value":1.0}""")
    assert(rows(2) == """{"timestamp":300,"value":4.0}""") // untagged → no tag key
    val agg = Wire.aggToJson(Router.run(df, "s1/last/10/sum")).as[String].head()
    assert(agg == """{"sum":7.0}""")
  }
}
