package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/** CDC envelope semantics, batch form — decode, unwrap, op routing,
  * latest-state materialization (SURVEY.md §2.B, §3.2).
  *
  * Everything here is declarative DataFrame code inside whole-stage
  * codegen. NOTE on parse-schema pruning: Catalyst does NOT narrow the
  * `from_json` schema through [[decode]]'s `event.payload` projection
  * (verified on the physical plan), so operators with a statically
  * known field set pass a pruned read schema explicitly
  * ([[graft.model.Schemas.envelopeUnwrap]]/[[graft.model.Schemas
  * .envelopeLatest]]) — the engine-side equivalent of the reference's
  * unwrap SMT doing early projection (adx-sink-config.json:15-16),
  * applied at the parser.
  */
object Cdc {

  /** Parse raw JSON envelope bytes/strings into the typed envelope struct.
    * Equivalent of the sink's JSON parse (`adx-sink-config.json:9`);
    * schema-on-read with a fixed StructType, never inference.
    */
  def decode(raw: DataFrame, valueCol: String = "value",
             schema: StructType = Schemas.envelope): DataFrame =
    raw.withColumn("event", from_json(col(valueCol).cast("string"), schema))
       .select(col("event.payload").as("payload"))

  /** ExtractNewRecordState-compatible unwrap (adx-sink-config.json:15-16,
    * README.md:317-340): project `payload.after.*`, drop the envelope.
    * The SMT's default also drops delete events (null `after` /
    * tombstones) — made explicit here with `dropDeletes`.
    */
  def unwrap(envelopes: DataFrame, dropDeletes: Boolean = true): DataFrame = {
    val base = if (dropDeletes) envelopes.filter(col("payload.op") =!= "d") else envelopes
    base.select(col("payload.after.*"))
  }

  /** Sink projection (README.md:121): the deliberate int→string cast of
    * orderid/custid plus the reordered columns (city before amount). */
  def sinkProjection(flat: DataFrame): DataFrame =
    flat.select(
      col("orderid").cast("string").as("orderid"),
      col("custid").cast("string").as("custid"),
      col("city"),
      col("amount"))

  /** Dead-letter view: raw lines the fixed-schema decode could not
    * parse (payload is null after from_json). Pair with [[unwrap]] —
    * which silently drops them — to route undecodable input to a
    * quarantine sink instead of failing the stream. */
  def deadLetters(raw: DataFrame, valueCol: String = "value",
                  schema: StructType = Schemas.envelope): DataFrame =
    raw.withColumn("event", from_json(col(valueCol).cast("string"), schema))
      .filter(col("event.payload").isNull)
      .select(col(valueCol))

  /** Route events by op ("c"/"u"/"d"/"r", README.md:288). */
  def byOp(envelopes: DataFrame): Map[String, DataFrame] =
    Seq("c", "u", "d", "r").map { o =>
      o -> envelopes.filter(col("payload.op") === o)
    }.toMap

  /** Latest-state view over an append-only CDC log (SURVEY.md §1.4):
    * per key, keep the event with the highest (orderCol) — `source.lsn`
    * is the DB total-order token — then apply deletes (a key whose latest
    * event is a delete disappears). Idempotent under at-least-once replay
    * (duplicate events collapse because they share the same orderCol).
    *
    * Scale note: expressed as max_by — a pure hash aggregate with
    * map-side partial combine, so each executor reduces its partitions
    * to one candidate row per key BEFORE the shuffle, and nothing is
    * sorted. (A row_number window is the textbook phrasing but shuffles
    * every event and sorts each partition; at 100 TB with replay-heavy
    * logs the partial-agg version moves a fraction of the data.) Ties in
    * orderCol only occur for at-least-once replays of the *same* event,
    * so whichever copy max_by keeps, the projected row is identical.
    */
  def latestState(envelopes: DataFrame,
                  keyCol: Column,
                  orderCol: Column): DataFrame =
    latestByKey(
      // project BEFORE the shuffle: only op + after travel (the before
      // image and the 11-field source struct don't survive this
      // operator, so they must not survive the exchange either)
      envelopes.select(keyCol.as("__key"), orderCol.as("__ord"),
        col("payload.op").as("op"), col("payload.after").as("after")),
      "__key", "__ord")
      .filter(col("op") =!= "d")
      .select(col("after.*"))

  /** The latest-state rule, shared by the batch view ([[latestState]])
    * and the upsert sink's merge ([[graft.streaming.Sinks.upsertByKey]]):
    * per `keyCol`, the whole row with the highest `ordCol` wins. */
  def latestByKey(rows: DataFrame, keyCol: String, ordCol: String): DataFrame =
    rows.groupBy(col(keyCol))
      .agg(max_by(struct(rows.columns.map(col).toIndexedSeq: _*), col(ordCol)).as("s"))
      .select(col("s.*"))

  /** Inverse of decode, for egress tests: render rows as Debezium-shaped
    * JSON envelopes (JsonConverter analog, pg-source-config.json:13).
    * Null fields are rendered EXPLICITLY (`"before":null`), matching
    * Connect's JsonConverter (README.md:264-293 shows explicit nulls) —
    * and keeping the decode side off Spark's per-row missing-field
    * defaults path (ResolveDefaultColumns work per parsed row). */
  def encodeInserts(rows: DataFrame, tsMs: Column, lsn: Column): DataFrame =
    rows.select(to_json(struct(
      struct(
        lit(null).cast(Schemas.orderRow).as("before"),
        struct(col("orderid"), col("custid"), col("amount"), col("city")).as("after"),
        struct(
          lit("1.9.5").as("version"), lit("postgresql").as("connector"),
          lit("myserver").as("name"), tsMs.as("ts_ms"),
          lit("false").as("snapshot"), lit("inventory").as("db"),
          lit("inventory").as("schema"), lit("orders_info").as("table"),
          lsn.as("txId"), lsn.as("lsn"), lit(null).cast("long").as("xmin")
        ).as("source"),
        lit("c").as("op"), tsMs.as("ts_ms"),
        lit(null).cast("string").as("transaction")
      ).as("payload")
    ), Map("ignoreNullFields" -> "false")).as("value"))
}
