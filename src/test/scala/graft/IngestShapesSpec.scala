package graft

import graft.sources.JsonIngest

/** q_ingest_shapes: the S1/S2 wire-grammar query over the checked-in
  * fixture (src/main/resources/graft/ingest_wire.jsonl). The expected
  * rows below were cross-computed with the DuckDB oracle SQL from
  * SparkEntry.oracleSql("q_ingest_shapes") over the same file — pinning
  * them here makes the cross-engine agreement a unit-level contract
  * (the driver re-checks it end-to-end through Verify + DuckDB).
  */
class IngestShapesSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1700000000000000L

  test("fixture resolves from the classpath") {
    assert(new java.io.File(SparkEntry.wireFixturePath).isFile)
  }

  test("explodeBatches splits arrays in order, preserves key order, drops empty batches") {
    val wire = Seq(
      ("b", """[{"value": 1}, {"timestamp": 21, "value": 2}]"""),
      ("e", """[]"""),
      ("s", """{"value": 9}"""),
      ("g", """not json at all""")).toDF("series", "json")
    val out = JsonIngest.explodeBatches(wire).as[(String, String)].collect().toSet
    assert(out == Set(
      ("b", """{"value":1}"""),
      ("b", """{"timestamp":21,"value":2}"""),
      ("s", """{"value": 9}"""),
      ("g", """not json at all""")))
  }

  /** The per-index JSONPath explode `explodeBatches` used before its
    * one-pass form — the reference for each element's text, which rid
    * hashes. */
  private def perIndexExplode(wire: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val nArr = json_array_length(col("json"))
    val singles = wire.filter(nArr.isNull).select(col("series"), col("json"), lit(0).as("pos"))
    val elems = wire.filter(nArr.isNotNull && nArr > 0)
      .select(col("series"), col("json"), explode(sequence(lit(0), nArr - 1)).as("pos"))
      .select(col("series"),
        expr("get_json_object(json, concat('$[', pos, ']'))").as("json"), col("pos"))
    singles.unionByName(elems)
  }

  test("one-pass explode yields the per-index explode's element texts byte for byte") {
    // every body JsonIngestSpec and the wire fixture ingest, alone and as
    // array elements, plus string, number, null, nested and malformed ones
    val objects = Seq(
      """{"value": 1}""", """{"tag": [{"a":"b"}], "value": 2}""",
      """{"timestamp": 10, "value": 3}""", """{"timestamp": 11, "tag": [{"a":"b"}], "value": 4}""",
      """{"value": 5, "timestamp": 12}""", """{"timestamp": 13, "value": 6, "tag": []}""",
      """{"value": "x"}""", """{"value": "NaN"}""", """{"value": "42"}""",
      """{"tag": [{"a":"b"}]}""", """{}""", """{"Value": 7}""", """{"timestamp": "t", "value": 8}""",
      """{"timestamp": 1000000.9, "value": 2}""",
      """{"tag": [{"loc":"1"},{"loc":"2"},{"sci":"x"}], "value": 1}""",
      """{"timestamp": 1439856000000000, "tag": [{"location":"1"},{"scientist":"langstroth"}], "value": 12.0}""",
      """{ "value" :  1.50 , "timestamp":1e3 }""", """{"value": -0.0}""",
      """{"value": 12345678901234567890}""", "{\"tag\": [{\"k\":\"\\u00e9 \\\"q\\\" é\"}], \"value\": 1}",
      """{"nested": {"x": [1, {"y": null}]}, "value": 1}""", """{"value": true}""")
    val fixture = spark.read.schema("series STRING, json STRING")
      .json(SparkEntry.wireFixturePath).as[(String, String)].collect().toSeq
    val elements = objects ++ Seq(
      "\"str\"", "\"with \\\"escapes\\\" \\u00e9\"", "42", "-7.25", "1E+2",
      "null", "true", "[1, [2, {\"a\": null}]]", "[]", "{}")
    val bodies = fixture ++ objects.map("o" -> _) ++
      objects.map(o => "a" -> s"[$o]") ++
      fixture.map { case (_, j) => "f" -> s"[$j]" } ++
      Seq("all" -> elements.mkString("[", ",", "]"),
        "m" -> """[{"value": 1}, {"value":""", // malformed arrays pass through whole
        "m" -> "[1, 2,]", "m" -> "[", "m" -> "not json at all", "m" -> "",
        "m" -> "[1, 2] trailing", "m" -> """[{"value": 1}] {}""", "m" -> "[null, null]")
    val wire = bodies.toDF("series", "json")
    def texts(df: org.apache.spark.sql.DataFrame) =
      df.select("series", "pos", "json").as[(String, Int, Option[String])].collect().sorted.toSeq
    val want = texts(perIndexExplode(wire))
    val got = texts(JsonIngest.explodeIndexed(wire).withColumnRenamed(JsonIngest.POS, "pos"))
    assert(want.size > 100, s"too few elements compared: ${want.size}")
    assert(got == want, got.diff(want).take(5).mkString("\n") + "\nvs\n" +
      want.diff(got).take(5).mkString("\n"))
  }

  test("tag grammar enforced at ingest: non-array / null / empty-object tags quarantine") {
    val wire = Seq(
      ("s", """{"tag": "notalist", "value": 1}"""),
      ("s", """{"tag": null, "value": 1}"""),
      ("s", """{"tag": [{}], "value": 1}"""),
      ("s", """{"tag": [], "value": 1}"""), // empty ARRAY is fine (no tags)
      ("s", """{"tag": [{"a":"1","b":"2"}], "value": 2}""") // multi-key: first entry
    ).toDF("series", "json")
    val r = JsonIngest.ingest(wire, T0)
    assert(r.good.count() == 2)
    assert(r.bad.count() == 3)
  }

  test("q_ingest_shapes matches the DuckDB-computed golden rows exactly") {
    val got = SparkEntry.queries("q_ingest_shapes")(spark, "unused")
      .as[(Boolean, String, Option[Long], Option[String], Option[Double], Option[String])]
      .collect().toSeq
    val expected = Seq[(Boolean, String, Option[Long], Option[String], Option[Double], Option[String])](
      (false, "b2", None, None, None, Some("""{"value":5,"timestamp":23}""")),
      (false, "m", None, None, None, Some("""5""")),
      (false, "m", None, None, None, Some("""null""")),
      (false, "m", None, None, None, Some("""{"Value": 1}""")),
      (false, "m", None, None, None, Some("""{"tag": "notalist", "value": 1}""")),
      (false, "m", None, None, None, Some("""{"tag": [{"a":"b"}]}""")),
      (false, "m", None, None, None, Some("""{"tag": null, "value": 1}""")),
      (false, "m", None, None, None, Some("""{"timestamp": "7", "value": 1}""")),
      (false, "m", None, None, None, Some("""{"timestamp": "t", "value": 8}""")),
      (false, "m", None, None, None, Some("""{"timestamp": 1, "value": 2, "tag": []}""")),
      (false, "m", None, None, None, Some("""{"value":""")),
      (false, "m", None, None, None, Some("""{"value": "42"}""")),
      (false, "m", None, None, None, Some("""{"value": "NaN"}""")),
      (false, "m", None, None, None, Some("""{"value": "x"}""")),
      (false, "m", None, None, None, Some("""{"value": 1, "extra": 2}""")),
      (false, "m", None, None, None, Some("""{"value": 5, "timestamp": 12}""")),
      (false, "m", None, None, None, Some("""{"value": true}""")),
      (false, "m", None, None, None, Some("""{}""")),
      (true, "b1", Some(21L), None, Some(2.0), None),
      (true, "b1", Some(22L), Some("k=v"), Some(3.0), None),
      (true, "b1", Some(T0), None, Some(1.0), None),
      (true, "b2", Some(T0), Some("x=y"), Some(6.0), None),
      (true, "b2", Some(T0), None, Some(4.0), None),
      (true, "s1", Some(T0), None, Some(7.5), None),
      (true, "s1", Some(T0), None, Some(42.0), None),
      (true, "s2", Some(T0), Some(""), Some(3.0), None),
      (true, "s2", Some(T0), Some("location=1,scientist=langstroth"), Some(12.0), None),
      (true, "s2", Some(T0), Some("location=1,scientist=langstroth"), Some(12.0), None),
      (true, "s3", Some(-5L), None, Some(2.0), None),
      (true, "s3", Some(1000L), None, Some(1.0), None),
      (true, "s3", Some(1439856000000000L), None, Some(12.0), None),
      (true, "s4", Some(11L), Some("a=1"), Some(5.0), None),
      (true, "s4", Some(1439856000000000L), Some("location=2"), Some(28.0), None))
    assert(got.size == expected.size,
      s"row count ${got.size} != ${expected.size}\n${got.mkString("\n")}")
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"row $i: got $g, expected $e")
    }
  }
}
