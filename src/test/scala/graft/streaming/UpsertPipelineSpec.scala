package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** End-to-end upsert materialization: envelope stream → stateless
  * upsert rows → versioned MERGE table, the only latest-state store.
  * The queryable snapshot always reflects every processed change, across
  * micro-batches, and deletes hold against stale replays. */
class UpsertPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def env(orderid: Int, amount: Int, lsn: Long, op: String = "c"): String = {
    val after =
      if (op == "d") "null"
      else s"""{"orderid":$orderid,"custid":${orderid * 10},"amount":$amount,"city":"Austin"}"""
    val before = if (op == "c") "null"
      else s"""{"orderid":$orderid,"custid":${orderid * 10},"amount":0,"city":"Austin"}"""
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"version":"1.9.5","connector":"postgresql","name":"m","ts_ms":$lsn,"snapshot":"false","db":"d","schema":"s","table":"t","txId":$lsn,"lsn":$lsn,"xmin":null},"op":"$op","ts_ms":$lsn,"transaction":null}}"""
  }

  test("stream -> stateful upserts -> versioned table, across micro-batches") {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val table = Files.createTempDirectory("graft-upsert-e2e").toString + "/orders"
    val ckpt = Files.createTempDirectory("graft-upsert-ckpt").toString

    val q = Materializer.startUpsert(
      source.toDF().select(col("value")),
      tablePath = table, checkpointPath = ckpt,
      trigger = Trigger.ProcessingTime(0))
    try {
      source.addData(env(1, 100, 10), env(2, 150, 20))
      q.processAllAvailable()
      assert(Sinks.readLatest(spark, table)
        .select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq ==
        Seq((1, 100), (2, 150)))

      source.addData(env(1, 120, 11, op = "u"), env(2, 0, 21, op = "d"),
        env(3, 170, 30))
      q.processAllAvailable()
      assert(Sinks.readLatest(spark, table)
        .select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq ==
        Seq((1, 120), (3, 170)))
    } finally q.stop()
  }

  test("restart from checkpoint: per-key state survives, lsn guard holds across restarts") {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val table = Files.createTempDirectory("graft-upsert-restart").toString + "/orders"
    val ckpt = Files.createTempDirectory("graft-upsert-restart-ckpt").toString
    def start() = Materializer.startUpsert(
      source.toDF().select(col("value")),
      tablePath = table, checkpointPath = ckpt,
      trigger = Trigger.ProcessingTime(0))

    val q1 = start()
    try {
      source.addData(env(1, 100, 10), env(2, 0, 20, op = "d"))
      q1.processAllAvailable()
    } finally q1.stop()

    // Restart on the same checkpoint. The table's rows and tombstones
    // are the recovered state: a STALE lower-lsn replay of key 1 and a
    // resurrection attempt of tombstoned key 2 must both lose to them,
    // while a genuine update lands.
    val q2 = start()
    try {
      source.addData(env(1, 55, 9), env(2, 999, 19), env(1, 130, 11, op = "u"))
      q2.processAllAvailable()
      assert(Sinks.readLatest(spark, table)
        .select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq ==
        Seq((1, 130)))
    } finally q2.stop()
  }

  private def amounts(table: String): Seq[(Int, Int)] =
    Sinks.readLatest(spark, table)
      .select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq

  /** Run `batches` through one startUpsert query, one micro-batch each,
    * and hand the stopped query and the table path to `check`. */
  private def pipeline(name: String, batches: Seq[String]*)(
      check: (org.apache.spark.sql.streaming.StreamingQuery, String) => Unit): Unit = {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val table = Files.createTempDirectory(name).toString + "/orders"
    val q = Materializer.startUpsert(source.toDF().select(col("value")),
      tablePath = table, checkpointPath = Files.createTempDirectory(name + "-ckpt").toString,
      trigger = Trigger.ProcessingTime(0))
    try batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    check(q, table)
  }

  test("stateless pipeline: no state operator, and a delete survives a stale replay in a later batch") {
    pipeline("graft-upsert-stale",
      Seq(env(1, 100, 10), env(2, 150, 20)),
      Seq(env(1, 0, 11, op = "d")),
      Seq(env(1, 100, 10))) { (q, table) =>
      assert(q.lastProgress.stateOperators.isEmpty, "startUpsert must keep no streaming state")
      assert(amounts(table) == Seq((2, 150)))
    }
  }

  test("a delete wins over a lower-lsn replay of the same key in the same batch") {
    pipeline("graft-upsert-same",
      Seq(env(1, 100, 10), env(2, 150, 20)),
      Seq(env(1, 0, 11, op = "d"), env(1, 100, 10), env(2, 150, 20))) { (_, table) =>
      assert(amounts(table) == Seq((2, 150)))
    }
  }

  test("a higher-lsn re-insert after a delete brings the key back with its new values") {
    pipeline("graft-upsert-reinsert",
      Seq(env(1, 100, 10)),
      Seq(env(1, 0, 11, op = "d")),
      Seq(env(1, 175, 12))) { (_, table) =>
      assert(amounts(table) == Seq((1, 175)))
      assert(Sinks.readLatest(spark, table).select("custid", "city").as[(Int, String)]
        .collect().toSeq == Seq((10, "Austin")))
    }
  }

  test("upsertByKey writes the tombstone row into v=N and readLatest hides it") {
    val table = Files.createTempDirectory("graft-upsert-tomb").toString + "/orders"
    def batch(rows: (Int, Long, Boolean, Int)*) =
      rows.toDF("orderid", "lsn", "deleted", "amount")
    Sinks.upsertByKey(spark, batch((1, 10L, false, 100), (2, 20L, false, 150)),
      table, newVersion = 1)
    Sinks.upsertByKey(spark, batch((2, 21L, true, 0)), table, newVersion = 2)
    assert(spark.read.parquet(s"$table/v=2")
      .select("orderid", "lsn", "deleted").as[(Int, Long, Boolean)].collect().sorted.toSeq ==
      Seq((1, 10L, false), (2, 21L, true)))
    assert(amounts(table) == Seq((1, 100)))
  }
}
