package graft.sources

import graft.model.Canon
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1/S2: JSON wire-format ingest (SURVEY.md §1.2, §2.1).
  *
  * The reference accepts exactly four JSON shapes, field order significant
  * (`/root/reference/src/timeseries.re:64-78`):
  *   {"value": n} | {"tag": [...], "value": n} |
  *   {"timestamp": t, "value": n} | {"timestamp": t, "tag": [...], "value": n}
  * Anything else → 400. A body may be one object or an array of objects
  * (`src/main.re:60-67`) — as a DataFrame source that distinction vanishes:
  * rows are rows.
  *
  * Semantics preserved:
  *  - field-ORDER-sensitive shape check via `json_object_keys` (the
  *    reference pattern-matches the assoc list literally);
  *  - server-assigned µs timestamp when absent (`src/timeseries.re:37-44`);
  *  - client float timestamps truncated toward zero (`Int64.of_float`,
  *    `src/timeseries.re:73`) — Spark double→long cast truncates identically;
  *  - wire tag = array of single-key objects → ordered ARRAY<STRUCT> keeping
  *    duplicate names (`src/shard.re:39-49`).
  *
  * Everything is built-in expressions — validation is a predicate, so
  * ingest is one codegen'd pass with no UDFs and no driver-side loops.
  */
object JsonIngest {

  /** Parsed payload schema (permissive; shape check is separate). */
  private val wireSchema = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("tag", ArrayType(MapType(StringType, StringType))),
    StructField("value", DoubleType)))

  private val acceptedShapes = Seq(
    Seq("value"),
    Seq("tag", "value"),
    Seq("timestamp", "value"),
    Seq("timestamp", "tag", "value"))

  /** DuckDB-`json_type`-equivalent numeric-TOKEN check via the variant
    * reader: true iff the JSON value at `path` is a number token.
    * `from_json`'s DoubleType COERCES numeric-looking strings — it parses
    * `"42"`, `"NaN"`, `"Infinity"` to doubles — while the reference's
    * wire grammar (and the DuckDB oracle's
    * `json_type IN ('DOUBLE','BIGINT','UBIGINT')`) admits only number
    * tokens. `schema_of_variant` surfaces the token's own type: numbers
    * land in the integral/floating family (big integers as DECIMAL —
    * DuckDB's UBIGINT case), strings stay STRING.
    */
  private def isNumberToken(json: Column, path: String): Column = {
    val tok = try_variant_get(try_parse_json(json), path, "variant")
    val t = schema_of_variant(tok)
    tok.isNotNull &&
      (t.isin("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE") ||
        t.startsWith("DECIMAL"))
  }

  /** Shape check: the object's key list must equal one of the four accepted
    * shapes IN ORDER, and `value` (plus `timestamp` if present) must be a
    * JSON NUMBER token (not a numeric-looking string — see
    * [[isNumberToken]]).
    *
    * The tag grammar (array of non-empty objects, `src/shard.re:39-49`) is
    * enforced HERE, at ingest — a deliberate divergence from the reference,
    * whose `validate_json` accepts any `tag` value and then throws on the
    * READ path when `make_native_tag` meets a non-list (a malformed tag
    * poisons the stored shard). An engine validates before storing.
    */
  def isValidShape(json: Column): Column = {
    val keys = json_object_keys(json)
    val shapeOk = acceptedShapes
      .map(s => keys === array(s.map(lit): _*))
      .reduce(_ || _)
    val parsed = from_json(json, wireSchema)
    val valueOk = parsed.getField("value").isNotNull && isNumberToken(json, "$.value")
    val tsOk = !array_contains(keys, "timestamp") ||
      (parsed.getField("timestamp").isNotNull && isNumberToken(json, "$.timestamp"))
    val tagField = parsed.getField("tag")
    // when the `tag` key is present it must have parsed as an array whose
    // every element is a non-empty object (head-of-assoc-list must exist)
    val tagOk = !array_contains(keys, "tag") ||
      (tagField.isNotNull &&
        !exists(tagField, m => m.isNull || size(map_entries(m)) === lit(0)))
    shapeOk && valueOk && tsOk && tagOk
  }

  /** Element-position column [[explodeIndexed]] adds: the element's index
    * in its array body, 0 for a single-object body. */
  val POS = "__pos"

  /** Validity column [[parse]] adds: the row passed [[isValidShape]]. */
  val VALID = "__valid"

  /** S2: a wire payload may be ONE object or an ARRAY of objects — the
    * reference's batch POST (`src/main.re:60-67` dispatches `` `O`` vs
    * `` `A`` and validates each element). Splits array payloads into
    * per-element rows `(series, json)`; see [[explodeIndexed]].
    */
  def explodeBatches(wire: DataFrame): DataFrame = explodeIndexed(wire).drop(POS)

  /** [[explodeBatches]] plus each element's position ([[POS]]). The array
    * is split in ONE parse of the body: `from_json` as `array<string>`
    * hands each element back as its raw text — Jackson copies a
    * non-string token's structure in document order, so the
    * key-ORDER-sensitive shape check still sees the wire order, a string
    * element is its unquoted value and a null element the text `null` —
    * byte-identical to the per-index `get_json_object(json, '$[i]')` this
    * replaces (pinned by `IngestShapesSpec`), so the content-derived rid
    * is unchanged, and an n-element body costs O(n), not O(n²).
    * Single-object (and unparseable) payloads pass through verbatim at
    * position 0; an empty array contributes nothing.
    *
    * Divergence note: the reference iterates a batch sequentially and
    * ABORTS at the first invalid element — elements before it are already
    * written, the rest never processed (an HTTP-transactionality artifact
    * of `Lwt_list.iter_s` + `failwith`). The engine validates per element:
    * good elements land, bad ones quarantine — same accepted grammar,
    * saner batch semantics.
    */
  def explodeIndexed(wire: DataFrame): DataFrame = {
    val nArr = json_array_length(col("json"))
    val singles = wire.filter(nArr.isNull)
      .select(col("series"), col("json"), lit(0).as(POS))
    val elems = wire.filter(nArr.isNotNull)
      .select(col("series"),
        posexplode(from_json(col("json"), ArrayType(StringType))).as(Seq(POS, "json")))
      // a JSON null element is the only one `from_json` hands back as SQL
      // NULL; the per-index path gave its text
      .select(col("series"), coalesce(col("json"), lit("null")).as("json"), col(POS))
    singles.unionByName(elems)
  }

  final case class Result(good: DataFrame, bad: DataFrame)

  /** Ingest wire rows `(series STRING, json STRING)` → canonical datapoints
    * + quarantined invalid rows (the 400 path, kept as data not exceptions).
    *
    * @param ingestTimeUs server-assigned timestamp for shapes without one
    *                     (injected for determinism; the reference reads the
    *                     wall clock per point, `src/timeseries.re:37-44`)
    */
  def ingest(wire: DataFrame, ingestTimeUs: Long): Result = {
    val good = parse(wire, ingestTimeUs).filter(col(VALID))
      .select(Canon.schema.fieldNames.toSeq.map(col): _*)
    val bad = wire.filter(!coalesce(isValidShape(col("json")), lit(false)))
    Result(good, bad)
  }

  /** Every wire row parsed in one pass: the wire's columns other than
    * `json`, the canonical datapoint columns (meaningful only on valid
    * rows) and [[VALID]]. [[ingest]] splits it into its two sides; a
    * caller that needs both sides of one request collects it once.
    */
  def parse(wire: DataFrame, ingestTimeUs: Long): DataFrame = {
    val carried = wire.columns.toSeq.filterNot(Set("series", "json")).map(col)
    wire.select(carried ++ Seq(col("series"), col("json"),
        coalesce(isValidShape(col("json")), lit(false)).as(VALID),
        from_json(col("json"), wireSchema).as("p")): _*)
      .select(carried ++ Seq(
        col("series"),
        // cast only valid rows: an invalid one may carry a double no Long
        // holds (`"NaN"` coerced by from_json, an out-of-order 1e30),
        // whose ANSI cast would fail the whole batch instead of
        // quarantining that row
        coalesce(when(col(VALID), col("p.timestamp").cast(LongType)), lit(ingestTimeUs))
          .as(Canon.TS_US),
        // array of single-key objects → ordered (name,value) structs;
        // a multi-key object contributes its first entry, like the
        // reference's head-of-assoc-list parse.
        transform(col("p.tag"), m => {
          val e = get(map_entries(m), lit(0))
          struct(e.getField("key").as("name"), e.getField("value").as("value"))
        }).as(Canon.TAG),
        col("p.value").as(Canon.VALUE),
        col("json"),
        col(VALID)): _*)
      // rid is CONTENT-DERIVED: hash of (series, payload, intra-batch seq
      // among byte-identical rows). monotonically_increasing_id() would
      // depend on the partition layout, so re-ingesting the same batch
      // yielded different rids. The seq window's order among identical
      // rows is arbitrary but the rows are identical, so the emitted row
      // SET is deterministic; rid stays a unique (ts, rid) sort tiebreak.
      // Validity is a function of the payload, so numbering invalid rows
      // too leaves every valid row's seq unchanged.
      .withColumn(Canon.RID, xxhash64(col("series"), col("json"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("series"), col("json"))
          .orderBy(col("series")))))
      .drop("json")
  }
}
