package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.cdc.Cdc
import graft.model.Schemas

/** Kill/resume recovery for the upsert materializer ACROSS SparkSessions
  * (r15 verdict #5: the at-least-once→exactly-once claim was proven only
  * within one session). The scenario a real deployment hits:
  *
  *  1. session 1 ingests a file-backed envelope stream and is then
  *     killed — AFTER the sink wrote a version directory for an
  *     in-flight micro-batch but BEFORE the checkpoint committed it
  *     (simulated by planting a debris `v=N+1` with wrong rows);
  *  2. a NEW SparkSession resumes from the same checkpoint with more
  *     input queued, including a stale replay BELOW a tombstoned key's
  *     delete-lsn — rejected only if the tombstone the table keeps in
  *     its committed version is what the resumed merge starts from;
  *  3. the recovered run must re-execute the uncommitted batch id,
  *     OVERWRITE the debris (Sinks.upsertByKey merges from versions
  *     strictly below the batch id), and land exactly the batch
  *     latest-state oracle over the full log.
  *
  * In-JVM `spark.newSession()` is the honest cross-session form local
  * mode allows (fresh session state; checkpoint, file-source log and
  * table, tombstones included, all recovered from disk — nothing
  * survives in the session object).
  *
  * A kill between a version's `_SUCCESS` and its summary sidecar leaves
  * a committed version that dashboard reads answer by scanning; the
  * retried batch rewrites both.
  */
class RestartRecoverySpec extends SparkSpec {

  private def env(orderid: Int, amount: Int, lsn: Long, op: String = "c"): String = {
    val after =
      if (op == "d") "null"
      else s"""{"orderid":$orderid,"custid":${orderid * 10},"amount":$amount,"city":"Austin"}"""
    val before = if (op == "c") "null"
      else s"""{"orderid":$orderid,"custid":${orderid * 10},"amount":0,"city":"Austin"}"""
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"version":"1.9.5","connector":"postgresql","name":"m","ts_ms":$lsn,"snapshot":"false","db":"d","schema":"s","table":"t","txId":$lsn,"lsn":$lsn,"xmin":null},"op":"$op","ts_ms":$lsn,"transaction":null}}"""
  }

  test("kill mid-batch, resume in a new session: debris overwritten, state " +
       "recovered, table equals the batch oracle") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-restart").toString
    val in = s"$root/in"; val table = s"$root/table"; val ckpt = s"$root/ckpt"

    def runToCompletion(s: org.apache.spark.sql.SparkSession): Unit = {
      val stream = s.readStream.schema("value STRING").parquet(in)
      val q = Materializer.startUpsert(stream, tablePath = table,
        checkpointPath = ckpt, trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }

    // phase A: inserts incl. key 5, which is then tombstoned
    Seq(env(1, 100, 10), env(2, 150, 20), env(5, 500, 50), env(5, 0, 51, op = "d"))
      .toDF("value").write.mode("append").parquet(in)
    runToCompletion(spark)
    val versionsA = Paths.get(table).toFile.list().filter(_.startsWith("v=")).toSeq
    val vMax = versionsA.map(_.stripPrefix("v=").toLong).max

    // the kill: batch vMax+1 wrote its version directory but never
    // committed — plant recognizable debris there
    Seq((-1, 9999L, false, -1, -999, "DEBRIS"))
      .toDF("orderid", "lsn", "deleted", "custid", "amount", "city")
      .write.parquet(s"$table/v=${vMax + 1}")

    // phase B input: genuine update + delete + insert, a verbatim
    // at-least-once replay of key 1's insert, and a stale resurrection
    // of tombstoned key 5 BELOW its delete-lsn
    Seq(env(1, 120, 11, op = "u"), env(2, 0, 21, op = "d"),
        env(4, 300, 40), env(1, 100, 10), env(5, 555, 49))
      .toDF("value").write.mode("append").parquet(in)

    // resume from the same checkpoint in a NEW session
    runToCompletion(spark.newSession())

    // exactly-once accounting: the resumed run re-used batch id vMax+1
    // (overwriting the debris) — no skipped or duplicated version
    val snapshot = Sinks.readLatest(spark, table)
    val versionsB = Paths.get(table).toFile.list().filter(_.startsWith("v=")).toSeq
    assert(versionsB.map(_.stripPrefix("v=").toLong).max == vMax + 1,
      s"resumed batch must re-execute id ${vMax + 1}, saw $versionsB")
    assert(snapshot.filter(col("city") === "DEBRIS").isEmpty,
      "the uncommitted batch's debris must be overwritten on replay")

    // the table equals the batch latest-state oracle over the FULL log
    val decoded = Cdc.decode(spark.read.parquet(in), schema = Schemas.envelopeLatest)
    val oracle = Cdc.latestState(decoded,
      keyCol = coalesce(col("payload.after.orderid"), col("payload.before.orderid")),
      orderCol = col("payload.source.lsn"))
    val got = snapshot.select(col("orderid"), col("custid"), col("amount"), col("city"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty,
      "recovered upsert table must be row-identical to the batch oracle")
    // and the stale resurrection specifically lost to the tombstone
    // recovered from the table's last committed version
    assert(snapshot.filter(col("orderid") === 5).isEmpty,
      "tombstoned key must not be resurrected by a stale replay after restart")
    assert(got.count() == 2) // keys 1 (updated) and 4
  }

  test("killed after _SUCCESS but before the summary: reads scan, the retried " +
       "batch rewrites the summary") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-restart-summary").toString
    val in = s"$root/in"; val table = s"$root/table"; val ckpt = s"$root/ckpt"
    def runToCompletion(s: org.apache.spark.sql.SparkSession): Unit =
      Materializer.startUpsert(s.readStream.schema("value STRING").parquet(in),
        tablePath = table, checkpointPath = ckpt, trigger = Trigger.AvailableNow())
        .awaitTermination()
    def dashboard() = graft.kql.KqlParser.run(graft.ops.ReferenceQueries.kqlTotalText,
      Map("Orders" -> Sinks.readLatest(spark, table)))
    def fires(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def totals(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    Seq(env(1, 100, 10), env(2, 150, 20), env(3, 70, 30)).toDF("value")
      .write.mode("append").parquet(in)
    runToCompletion(spark)
    val vMax = Paths.get(table).toFile.list().filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong).max

    // the kill: batch vMax+1 committed its version (a stale merge here)
    // but died before writing the summary and before the checkpoint
    Sinks.upsertByKey(spark, Seq(StatefulLatestState.KeyState(9, 90L, false, 90, 900, "Austin"))
      .toDF(), table, newVersion = vMax + 1)
    assert(Files.deleteIfExists(Paths.get(s"$table/v=${vMax + 1}/_summary")))
    val fallback = dashboard()
    assert(!fires(fallback), "a committed version without a summary must be scanned")
    assert(totals(fallback) == Map("Austin" -> 1220L))

    Seq(env(1, 120, 11, op = "u"), env(2, 0, 21, op = "d"), env(4, 300, 40))
      .toDF("value").write.mode("append").parquet(in)
    runToCompletion(spark.newSession())

    assert(new java.io.File(s"$table/v=${vMax + 1}/_summary").exists(),
      "the retried batch must rewrite the summary")
    val served = dashboard()
    assert(fires(served))
    assert(totals(served) == Map("Austin" -> 490L)) // keys 1 (120), 3 (70), 4 (300)
  }
}
