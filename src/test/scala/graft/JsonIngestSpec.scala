package graft

import graft.functions.Tags
import graft.operators.{TimeSeries => TS}
import graft.sources.JsonIngest

/** S1/S2 wire-shape validation + the ported reference fixtures
  * (FIXTURES.md §1; data from /root/reference/test/butterflies.json,
  * /root/reference/test/honeybees.json — the InfluxDB-tutorial corpus).
  */
class JsonIngestSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 999000000L

  private def wire(rows: (String, String)*) =
    rows.toDF("series", "json")

  test("accepts exactly the four shapes, field order significant") {
    val r = JsonIngest.ingest(wire(
      "s" -> """{"value": 1}""",
      "s" -> """{"tag": [{"a":"b"}], "value": 2}""",
      "s" -> """{"timestamp": 10, "value": 3}""",
      "s" -> """{"timestamp": 11, "tag": [{"a":"b"}], "value": 4}""",
      // rejects:
      "s" -> """{"value": 5, "timestamp": 12}""",          // wrong order
      "s" -> """{"timestamp": 13, "value": 6, "tag": []}""", // wrong order
      "s" -> """{"value": "x"}""",                          // non-numeric
      "s" -> """{"value": "NaN"}""",                        // string token, not number
      "s" -> """{"value": "42"}""",                         // numeric-LOOKING string
      "s" -> """{"tag": [{"a":"b"}]}""",                    // no value
      "s" -> """{}""",                                      // empty
      "s" -> """{"Value": 7}""",                            // case-sensitive
      "s" -> """{"timestamp": "t", "value": 8}""",          // non-numeric ts
      // invalid rows whose parsed ts no Long holds: quarantined, not a
      // failed cast
      "s" -> """{"timestamp": "NaN", "value": 1}""",        // string ts → NaN
      "s" -> """{"value": 1, "timestamp": 1e30}"""          // wrong order, huge ts
    ), T0)
    assert(r.good.count() == 4)
    assert(r.bad.count() == 11)
    assert(r.good.select("value").as[Double].collect().toSet == Set(1.0, 2.0, 3.0, 4.0))
  }

  test("server timestamp assigned when absent; client float timestamps truncate") {
    val r = JsonIngest.ingest(wire(
      "s" -> """{"value": 1}""",
      "s" -> """{"timestamp": 1000000.9, "value": 2}"""), T0)
    val got = r.good.select("ts_us", "value").as[(Long, Double)].collect().toMap
    assert(got(T0.toLong) == 1.0)
    // Int64.of_float truncation (timeseries.re:73): .9 dropped, not rounded
    // (at float64-exact magnitudes; huge timestamps inherit float64 rounding
    // in the reference too, since its wire type is a float)
    assert(got.contains(1000000L))
  }

  test("tag wire form: ordered array of single-key objects, duplicates kept") {
    val r = JsonIngest.ingest(wire(
      "s" -> """{"tag": [{"loc":"1"},{"loc":"2"},{"sci":"x"}], "value": 1}"""), T0)
    val tags = r.good.selectExpr("tag.name", "tag.value").as[(Seq[String], Seq[String])].head()
    assert(tags == (Seq("loc", "loc", "sci"), Seq("1", "2", "x")))
  }

  test("re-ingest idempotence: identical batches yield identical rids") {
    val batch = wire(
      "s" -> """{"timestamp": 10, "value": 1}""",
      "s" -> """{"timestamp": 10, "value": 1}""", // byte-identical duplicate
      "s" -> """{"timestamp": 10, "value": 2}""",
      "t" -> """{"timestamp": 10, "value": 1}""")
    val a = JsonIngest.ingest(batch, T0).good
      .select("series", "ts_us", "value", "rid").as[(String, Long, Double, Long)]
      .collect().toSet
    // different partition layout, same content → same row set incl. rids
    val b = JsonIngest.ingest(batch.repartition(7), T0).good
      .select("series", "ts_us", "value", "rid").as[(String, Long, Double, Long)]
      .collect().toSet
    assert(a == b)
    assert(a.size == 4) // the duplicate row got a distinct seq-derived rid
  }

  // ---- ported fixtures: butterflies + honeybees (8 points each) ----

  private val butterflies = Seq(
    (1439856000000000L, Seq("location" -> "1", "scientist" -> "langstroth"), 12.0),
    (1439856000000000L, Seq("location" -> "1", "scientist" -> "perpetua"), 1.0),
    (1439856360000000L, Seq("location" -> "1", "scientist" -> "langstroth"), 11.0),
    (1439856360000000L, Seq("location" -> "1", "scientist" -> "perpetua"), 3.0),
    (1439877240000000L, Seq("location" -> "2", "scientist" -> "langstroth"), 2.0),
    (1439877600000000L, Seq("location" -> "2", "scientist" -> "langstroth"), 1.0),
    (1439877960000000L, Seq("location" -> "2", "scientist" -> "perpetua"), 8.0),
    (1439878320000000L, Seq("location" -> "2", "scientist" -> "perpetua"), 7.0))

  private val honeybees = Seq(
    (1439856000000000L, Seq("location" -> "1", "scientist" -> "langstroth"), 23.0),
    (1439856000000000L, Seq("location" -> "1", "scientist" -> "perpetua"), 30.0),
    (1439856360000000L, Seq("location" -> "1", "scientist" -> "langstroth"), 28.0),
    (1439856360000000L, Seq("location" -> "1", "scientist" -> "perpetua"), 28.0),
    (1439877240000000L, Seq("location" -> "2", "scientist" -> "langstroth"), 11.0),
    (1439877600000000L, Seq("location" -> "2", "scientist" -> "langstroth"), 10.0),
    (1439877960000000L, Seq("location" -> "2", "scientist" -> "perpetua"), 23.0),
    (1439878320000000L, Seq("location" -> "2", "scientist" -> "perpetua"), 22.0))

  private def toWire(series: String, pts: Seq[(Long, Seq[(String, String)], Double)]) =
    pts.map { case (ts, tags, v) =>
      val tagJson = tags.map { case (n, w) => s"""{"$n":"$w"}""" }.mkString("[", ",", "]")
      series -> s"""{"timestamp": $ts, "tag": $tagJson, "value": $v}"""
    }

  lazy val bees = {
    val r = JsonIngest.ingest(wire(toWire("butterflies", butterflies) ++
      toWire("honeybees", honeybees): _*), T0)
    r.good.cache()
  }

  test("fixture golden: butterflies filter scientist=perpetua sum = 19") {
    val got = TS.aggregate(
      TS.tagFilter(TS.selectSeries(bees, Seq("butterflies")),
        Seq(Tags.Group("scientist", Seq("perpetua"), Tags.Eq))), TS.Sum)
    assert(got.as[Double].head() == 19.0)
  }

  test("fixture golden: location contains '1' count = 4 per dataset") {
    for (s <- Seq("butterflies", "honeybees")) {
      val got = TS.aggregate(
        TS.tagFilter(TS.selectSeries(bees, Seq(s)),
          Seq(Tags.Group("location", Seq("1"), Tags.Contains))), TS.Count)
      assert(got.as[Double].head() == 4.0, s)
    }
  }

  test("fixture golden: multi-series union mean over all 16 points") {
    val got = TS.aggregate(
      TS.readRange(bees, Seq("butterflies", "honeybees"),
        1439856000000000L, 1439878320000000L), TS.Mean)
    val expected = (butterflies ++ honeybees).map(_._3).sum / 16.0
    assert(math.abs(got.as[Double].head() - expected) < 1e-12)
  }

  test("fixture: duplicate timestamps across and within series are preserved") {
    assert(TS.readRange(bees, Nil, 1439856000000000L, 1439856000000000L).count() == 4)
  }
}
