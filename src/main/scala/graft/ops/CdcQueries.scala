package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.model.Schemas

/** The CDC operator family exercised end-to-end as driver-verifiable
  * queries: a deterministic Debezium-shaped event log is synthesized from
  * the `orders_info` derivation ([[Tables.ordersInfo]]), rendered to JSON
  * envelope strings (JsonConverter analog, pg-source-config.json:13),
  * parsed back ([[Cdc.decode]]), then unwrapped / materialized. Because
  * encode∘decode is the identity, every query's oracle is plain SQL over
  * the same derivation — the round trip itself is what's under test.
  *
  * Event-log shape (all integer-arithmetic, mirrored in the oracles):
  *  - every row: one insert  (op "c", lsn = orderid*10)
  *  - orderid %% 10 == 0: an update  (op "u", amount+7, lsn = orderid*10+1)
  *  - orderid %% 17 == 0: a delete  (op "d", after=null, lsn = orderid*10+2)
  *  - orderid %% 13 == 0: the insert replayed verbatim (at-least-once
  *    duplicate, docker-compose.yaml:35-37 offset semantics)
  */
object CdcQueries {

  /** The rendered envelope logs, memoized in [[graft.Memo]] (tag
    * `cdc_log:<name>`). All seven `cdc_*` queries start from one of
    * three synthetic logs; without sharing, each query re-renders the
    * same to_json derivation (~2.5 s apiece at sf0.1 — ≈15 s of pure
    * fixture rebuilding per bench run). The memo caches the *fixture*,
    * not the operator under test: decode/unwrap/materialize plans
    * downstream are unchanged, so correctness hashes are identical.
    * Released entries are unpersisted. */
  private def memoLog(name: String, spark: SparkSession, sfDir: String)
                     (build: => DataFrame): DataFrame =
    // DISK_ONLY, not the default heap-deserialized cache (r15 verdict
    // #1): three JSON-string logs held deserialized on-heap for the
    // whole sweep contributed to the peak RSS that paged the driver
    // host. Serialized-on-disk blocks re-read in ~the time the block
    // transfer costs, and model the durable topic a real CDC pipeline
    // replays from anyway.
    // REPARTITION before the persist (r20, guide §2.5 input skew): the
    // log renders from a single-row-group parquet scan, so the cached
    // blocks — and therefore EVERY downstream cdc_* query's JSON parse
    // (~500k Jackson invocations at sf0.1) — otherwise live on ONE
    // core. A real CDC topic is many-partitioned at the broker; the
    // round-robin spread models exactly that (row order is not part of
    // any cdc query's contract — ordering comes from the lsn column).
    graft.Memo.cached(spark, sfDir, s"cdc_log:$name", (_: DataFrame).unpersist()) {
      build.repartition(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  private val nullRow: Column = lit(null).cast(Schemas.orderRow)

  private def rowStruct(amount: Column): Column =
    struct(col("orderid"), col("custid"), amount.cast("int").as("amount"), col("city"))

  /** Render one event class as a full Debezium envelope JSON string. */
  private def envelopeJson(before: Column, after: Column, op: String,
                           lsn: Column, snapshot: String = "false"): Column = {
    val src = struct(
      lit("1.9.5.Final").as("version"), lit("postgresql").as("connector"),
      lit("myserver").as("name"), (lsn * 1000L).as("ts_ms"),
      lit(snapshot).as("snapshot"), lit("inventory").as("db"),
      lit("inventory").as("schema"), lit("orders_info").as("table"),
      lsn.as("txId"), lsn.as("lsn"), lit(null).cast("long").as("xmin"))
    // Explicit nulls ("schema":null, "before":null), matching Connect's
    // JsonConverter output (README.md:264-293) — and keeping decode off
    // Spark's per-row missing-field defaults path.
    to_json(struct(
      lit(null).cast("string").as("schema"),
      struct(before.as("before"), after.as("after"), src.as("source"),
        lit(op).as("op"), (lsn * 1000L).as("ts_ms"),
        lit(null).cast("string").as("transaction")).as("payload")),
      Map("ignoreNullFields" -> "false")).as("value")
  }

  /** Insert-only event log (what the reference generator actually emits —
    * op "c" only, main.go:81-92). */
  def insertLog(spark: SparkSession, sfDir: String): DataFrame =
    memoLog("insert", spark, sfDir) {
      val oi = Tables.ordersInfo(spark, sfDir)
      oi.select(envelopeJson(nullRow, rowStruct(col("amount")), "c", col("orderid") * 10L))
    }

  /** Full mixed-op event log incl. updates, deletes, and replayed
    * duplicates, as raw JSON envelope strings in column `value`. */
  def eventLog(spark: SparkSession, sfDir: String): DataFrame =
    memoLog("event", spark, sfDir) {
      val oi = Tables.ordersInfo(spark, sfDir)
      val inserts = oi.select(
        envelopeJson(nullRow, rowStruct(col("amount")), "c", col("orderid") * 10L))
      val updates = oi.filter(col("orderid") % 10 === 0).select(
        envelopeJson(rowStruct(col("amount")), rowStruct(col("amount") + 7), "u",
          col("orderid") * 10L + 1L))
      val deletes = oi.filter(col("orderid") % 17 === 0).select(
        envelopeJson(rowStruct(col("amount")), nullRow, "d", col("orderid") * 10L + 2L))
      val replays = oi.filter(col("orderid") % 13 === 0).select(
        envelopeJson(nullRow, rowStruct(col("amount")), "c", col("orderid") * 10L))
      inserts.unionAll(updates).unionAll(deletes).unionAll(replays)
    }

  /** q: decode+unwrap+sink-projection of the insert-only log — the
    * reference's ExtractNewRecordState SMT plus the ADX sink DDL's
    * int→string casts and column reorder (README.md:121, §1.2/T5/T7).
    * Decodes with the pruned `after`+`op` read schema ([[Schemas
    * .envelopeUnwrap]]): the parser materializes only what the unwrap
    * keeps (measured ~2× on the full-envelope parse). */
  def unwrapSink(spark: SparkSession, sfDir: String): DataFrame =
    Cdc.sinkProjection(Cdc.unwrap(
      Cdc.decode(insertLog(spark, sfDir), schema = Schemas.envelopeUnwrap)))

  /** q: unwrap of the mixed log with delete-drop semantics (SMT default,
    * README.md:317-340) — c/u/r rows flattened, d rows dropped. */
  def unwrapMixed(spark: SparkSession, sfDir: String): DataFrame =
    Cdc.unwrap(Cdc.decode(eventLog(spark, sfDir), schema = Schemas.envelopeUnwrap),
      dropDeletes = true)

  /** q: latest-state materialization of the mixed log (SURVEY.md §1.4):
    * per-key max-lsn event wins; deleted keys disappear; replayed
    * duplicates collapse. Pruned read schema: before/after/lsn/op. */
  def latestState(spark: SparkSession, sfDir: String): DataFrame =
    Cdc.latestState(Cdc.decode(eventLog(spark, sfDir), schema = Schemas.envelopeLatest),
      keyCol = coalesce(col("payload.after.orderid"), col("payload.before.orderid")),
      orderCol = col("payload.source.lsn"))

  /** q: the CDC→serving handoff END-TO-END (r12 verdict item 7 — the
    * engine's two halves previously met only in specs): the SAME mixed
    * envelope log as [[latestState]] replays through the STREAMING
    * path — file-source stream → stateless decode to one upsert row per
    * event ([[graft.streaming.Materializer.startUpsert]]) →
    * [[graft.streaming.Sinks.upsertByKey]] versioned MERGE table, the
    * only latest-state store, tombstones included (Trigger.AvailableNow;
    * per-batch-id overwrite = exactly-once on at-least-once delivery) —
    * and the final snapshot of live rows is COMPACTED
    * into a bucketed serving table (bucketBy the upsert key, the
    * Memo/prepareServedTable seam every served layout uses). The
    * registered query reads the bucketed table; the oracle is
    * [[latestState]]'s, reused verbatim — ingest → layout → query
    * proven as one path. ServingHandoffSpec pins stream ≡ batch and
    * the zero-Exchange bucketed scan on an orderid aggregate. */
  def latestServed(spark: SparkSession, sfDir: String): DataFrame = {
    val table = "graft_latest_" + graft.Memo.pathDigest(sfDir)
    // Cross-session reuse (r17 verdict #5: this build — a full
    // streaming upsert + bucketed compact — was the heaviest driver
    // cold at 18.4 s PER COLD SESSION): the compacted table persists
    // in the warehouse dir, so a later session with an unchanged
    // corpus fingerprint re-registers the bucketed files instead of
    // replaying the stream. The streaming path itself stays covered
    // every build (and by ServingHandoffSpec / RestartRecoverySpec).
    graft.Memo.cachedServedTable(spark, sfDir, "cdc_latest_served",
        table, bucketCols = Seq("orderid"), buildTag = "r18") {
      // the event-log copy, every upsert version and the stream
      // checkpoint: none of it outlives the compacted table
      val scratch = java.nio.file.Files.createTempDirectory("graft_cdc_serve")
      try {
        eventLog(spark, sfDir).write.parquet(s"$scratch/input")
        val stream = spark.readStream.schema("value STRING")
          .parquet(s"$scratch/input")
        val q = graft.streaming.Materializer.startUpsert(stream,
          tablePath = s"$scratch/upsert", checkpointPath = s"$scratch/ck",
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
        graft.streaming.Sinks.readLatest(spark, s"$scratch/upsert")
          .write.bucketBy(graft.Memo.ServingBuckets, "orderid").sortBy("orderid")
          .mode("overwrite").saveAsTable(table)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile): Unit
    }.select(col("orderid"), col("custid"), col("amount"), col("city"))
  }

  /** q: per-op event counts over the mixed log (op router coverage,
    * README.md:288). */
  def opCounts(spark: SparkSession, sfDir: String): DataFrame =
    Cdc.decode(eventLog(spark, sfDir), schema = Schemas.envelopeUnwrap)
      .groupBy(col("payload.op").as("op"))
      .agg(count(lit(1)).as("n"))

  /** Snapshot-then-stream log (S3, README.md:280): an initial-snapshot
    * read of every row (op "r", source.snapshot=true) followed by live
    * updates for orderid %% 7 == 0 (amount+11, higher lsn). */
  def snapshotLog(spark: SparkSession, sfDir: String): DataFrame =
    memoLog("snapshot", spark, sfDir) {
      val oi = Tables.ordersInfo(spark, sfDir)
      val snap = oi.select(envelopeJson(nullRow, rowStruct(col("amount")), "r",
        col("orderid") * 10L, snapshot = "true"))
      val live = oi.filter(col("orderid") % 7 === 0).select(
        envelopeJson(rowStruct(col("amount")), rowStruct(col("amount") + 11), "u",
          col("orderid") * 10L + 5L))
      snap.unionAll(live)
    }

  /** q: snapshot→stream handoff materialization — latest state after the
    * backfill plus live tail, the batch shape of Structured Streaming's
    * `startingOffsets=earliest` bootstrap (SURVEY.md §2.A-S3). */
  def snapshotHandoff(spark: SparkSession, sfDir: String): DataFrame =
    Cdc.latestState(Cdc.decode(snapshotLog(spark, sfDir), schema = Schemas.envelopeLatest),
      keyCol = coalesce(col("payload.after.orderid"), col("payload.before.orderid")),
      orderCol = col("payload.source.lsn"))

  /** q: literal JSON-path column mapping (T4, README.md:123 —
    * OrdersEventMapping binds each sink column to a `$.field` path) over
    * the raw envelope strings, with the sink DDL's string casts (T5).
    * One `get_json_object` hop to the shared `$.payload.after` prefix,
    * then `json_tuple` fans the four leaf paths out of that small blob
    * in a single parse — same path-per-column semantics as four
    * independent `$.payload.after.X` extractions, but the 600-byte
    * envelope is parsed once per row instead of four times (measured
    * ~2× on the bench). */
  def jsonPathMapping(spark: SparkSession, sfDir: String): DataFrame =
    insertLog(spark, sfDir)
      .select(get_json_object(col("value"), "$.payload.after").as("after"))
      .select(json_tuple(col("after"), "orderid", "custid", "city", "amount")
        .as(Seq("orderid", "custid", "city", "amount")))
      .select(col("orderid"), col("custid"), col("city"),
        col("amount").cast("int").as("amount"))

  /** q: update audit — before/after images side by side with the delta,
    * the change-review query an upsert pipeline exposes (envelope
    * `before` is only populated for u/d ops, README.md:268). */
  def updateDiffs(spark: SparkSession, sfDir: String): DataFrame =
    Cdc.decode(eventLog(spark, sfDir), schema = Schemas.envelopeLatest)
      .filter(col("payload.op") === "u")
      .select(
        col("payload.after.orderid").as("orderid"),
        col("payload.before.amount").as("old_amount"),
        col("payload.after.amount").as("new_amount"),
        (col("payload.after.amount") - col("payload.before.amount")).as("delta"))

  /** q: dead-letter quarantine — the insert log with deterministically
    * corrupted lines mixed in (orderid %% 31 == 0 rows become non-JSON
    * garbage); [[Cdc.deadLetters]] must surface exactly the corrupt
    * raws and nothing else, the routing contract that keeps a poison
    * message from failing the stream. */
  def deadLetterQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val corrupt = Tables.ordersInfo(spark, sfDir)
      .filter(col("orderid") % 31 === 0)
      .select(concat(lit("corrupt{"), col("orderid").cast("string")).as("value"))
    Cdc.deadLetters(insertLog(spark, sfDir).unionAll(corrupt))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_dead_letters" -> deadLetterQuarantine _,
    "cdc_unwrap_sink" -> unwrapSink _,
    "cdc_unwrap_mixed" -> unwrapMixed _,
    "cdc_latest_state" -> latestState _,
    "cdc_latest_served" -> latestServed _,
    "cdc_op_counts" -> opCounts _,
    "cdc_snapshot_handoff" -> snapshotHandoff _,
    "cdc_json_mapping" -> jsonPathMapping _,
    "cdc_update_diffs" -> updateDiffs _,
  )

  val oracleSql: Map[String, String] = Map(
    "cdc_dead_letters" ->
      s"""${Sql.ordersInfoCte}
         |SELECT concat('corrupt{', CAST(orderid AS VARCHAR)) AS value
         |FROM orders_info WHERE orderid % 31 = 0""".stripMargin,
    "cdc_unwrap_sink" ->
      s"""${Sql.ordersInfoCte}
         |SELECT CAST(orderid AS VARCHAR) AS orderid, CAST(custid AS VARCHAR) AS custid,
         |       city, amount
         |FROM orders_info""".stripMargin,
    "cdc_unwrap_mixed" ->
      s"""${Sql.ordersInfoCte}
         |SELECT orderid, custid, amount, city FROM orders_info
         |UNION ALL
         |SELECT orderid, custid, CAST(amount + 7 AS INTEGER) AS amount, city
         |FROM orders_info WHERE orderid % 10 = 0
         |UNION ALL
         |SELECT orderid, custid, amount, city FROM orders_info WHERE orderid % 13 = 0""".stripMargin,
    "cdc_latest_state" ->
      s"""${Sql.ordersInfoCte}
         |SELECT orderid, custid,
         |       CAST(CASE WHEN orderid % 10 = 0 THEN amount + 7 ELSE amount END AS INTEGER) AS amount,
         |       city
         |FROM orders_info WHERE orderid % 17 <> 0""".stripMargin,
    // the streaming-materialized serving table must change HOW the
    // state is produced (stateful stream → MERGE sink → bucketed
    // compaction), never WHAT it is — oracle reused verbatim.
    "cdc_latest_served" ->
      s"""${Sql.ordersInfoCte}
         |SELECT orderid, custid,
         |       CAST(CASE WHEN orderid % 10 = 0 THEN amount + 7 ELSE amount END AS INTEGER) AS amount,
         |       city
         |FROM orders_info WHERE orderid % 17 <> 0""".stripMargin,
    "cdc_op_counts" ->
      s"""${Sql.ordersInfoCte}
         |SELECT op, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |  SELECT 'c' AS op FROM orders_info
         |  UNION ALL SELECT 'u' FROM orders_info WHERE orderid % 10 = 0
         |  UNION ALL SELECT 'd' FROM orders_info WHERE orderid % 17 = 0
         |  UNION ALL SELECT 'c' FROM orders_info WHERE orderid % 13 = 0)
         |GROUP BY op""".stripMargin,
    "cdc_snapshot_handoff" ->
      s"""${Sql.ordersInfoCte}
         |SELECT orderid, custid,
         |       CAST(CASE WHEN orderid % 7 = 0 THEN amount + 11 ELSE amount END AS INTEGER) AS amount,
         |       city
         |FROM orders_info""".stripMargin,
    "cdc_json_mapping" ->
      s"""${Sql.ordersInfoCte}
         |SELECT CAST(orderid AS VARCHAR) AS orderid, CAST(custid AS VARCHAR) AS custid,
         |       city, amount
         |FROM orders_info""".stripMargin,
    "cdc_update_diffs" ->
      s"""${Sql.ordersInfoCte}
         |SELECT orderid, amount AS old_amount,
         |       CAST(amount + 7 AS INTEGER) AS new_amount,
         |       CAST(7 AS INTEGER) AS delta
         |FROM orders_info WHERE orderid % 10 = 0""".stripMargin,
  )
}
