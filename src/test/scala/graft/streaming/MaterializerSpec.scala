package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** End-to-end streaming materialization (SURVEY.md §3.2) via MemoryStream:
  * envelope JSON in → micro-batch → idempotent parquet out; replayed
  * events are deduplicated; windowed event-time aggregation works. */
class MaterializerSpec extends SparkSpec {
  import spark.implicits._

  private def env(orderid: Int, amount: Int, city: String, lsn: Long,
                  op: String = "c"): String =
    s"""{"schema":null,"payload":{"before":null,
       |"after":{"orderid":$orderid,"custid":${orderid * 10},"amount":$amount,"city":"$city"},
       |"source":{"version":"1.9.5","connector":"postgresql","name":"myserver",
       |"ts_ms":${lsn * 1000},"snapshot":"false","db":"inventory","schema":"inventory",
       |"table":"orders_info","txId":$lsn,"lsn":$lsn,"xmin":null},
       |"op":"$op","ts_ms":${lsn * 1000},"transaction":null}}""".stripMargin.replace("\n", "")

  test("materializer writes unwrapped batches; replayed events are dropped") {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val out = Files.createTempDirectory("graft-out").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val q = Materializer.start(
      source.toDF().select(col("value")),
      outPath = out, checkpointPath = ckpt,
      trigger = Trigger.ProcessingTime(0))
    try {
      source.addData(env(1, 100, "Seattle", 1), env(2, 150, "Austin", 2))
      q.processAllAvailable()
      val firstRows = spark.read.parquet(s"$out/batch=*").count()
      assert(firstRows == 2)

      // at-least-once replay: the same lsn+op arrives again → deduped
      source.addData(env(1, 100, "Seattle", 1), env(3, 175, "Chicago", 3))
      q.processAllAvailable()
      val all = spark.read.parquet(s"$out/batch=*")
      assert(all.count() == 3)
      assert(all.select("orderid").as[String].collect().sorted.toSeq == Seq("1", "2", "3"))
    } finally q.stop()
  }

  test("replay-dedup state is bounded: keys are evicted once the watermark passes them") {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val q = Materializer.start(
      source.toDF().select(col("value")),
      outPath = Files.createTempDirectory("graft-evict-out").toString,
      checkpointPath = Files.createTempDirectory("graft-evict-ckpt").toString,
      trigger = Trigger.ProcessingTime(0))
    def stateRows(): Long = q.lastProgress.stateOperators.head.numRowsTotal
    try {
      source.addData(env(1, 100, "Seattle", 1), env(2, 150, "Austin", 2),
        env(3, 175, "Chicago", 3))
      q.processAllAvailable()
      assert(stateRows() == 3)
      // an event an hour later moves the 10-minute watermark past the
      // first three keys: their state must go, only the new key stays
      source.addData(env(4, 200, "Denver", 3600))
      q.processAllAvailable()
      assert(stateRows() == 1, "dedup state must not grow with every event")
    } finally q.stop()
  }

  test("windowed city stats aggregate by event time with watermark") {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val agg = Materializer.windowedCityStats(source.toDF().select(col("value")))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("city_stats").start()
    try {
      source.addData(env(1, 100, "Seattle", 1), env(2, 150, "Seattle", 2),
        env(3, 200, "Austin", 100))
      q.processAllAvailable()
      val rows = spark.table("city_stats")
        .select("city", "orders", "total").collect()
      val seattle = rows.find(_.getString(0) == "Seattle").get
      assert(seattle.getLong(1) == 2 && seattle.getLong(2) == 250)
    } finally q.stop()
  }

  test("Trigger.AvailableNow: drains the backlog, self-terminates, resumes incrementally") {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val out = Files.createTempDirectory("graft-an-out").toString
    val ckpt = Files.createTempDirectory("graft-an-ckpt").toString
    def drain(): Unit = {
      val q = Materializer.start(
        source.toDF().select(col("value")),
        outPath = out, checkpointPath = ckpt,
        trigger = Trigger.AvailableNow())
      assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    }
    // backlog exists BEFORE the query starts — the backfill shape
    source.addData(env(1, 100, "Seattle", 1), env(2, 150, "Austin", 2))
    drain()
    assert(spark.read.parquet(s"$out/batch=*").count() == 2)
    // a second scheduled drain on the same checkpoint processes ONLY
    // the new arrivals — incremental batch-over-stream
    source.addData(env(3, 175, "Chicago", 3))
    drain()
    val all = spark.read.parquet(s"$out/batch=*")
    assert(all.count() == 3)
    assert(all.select("orderid").as[String].collect().sorted.toSeq == Seq("1", "2", "3"))
  }

  test("restart from checkpoint: offsets AND dedup state survive, output stays exactly-once") {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val out = Files.createTempDirectory("graft-restart-out").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    def start() = Materializer.start(
      source.toDF().select(col("value")),
      outPath = out, checkpointPath = ckpt,
      trigger = Trigger.ProcessingTime(0))

    val q1 = start()
    try {
      source.addData(env(1, 100, "Seattle", 1), env(2, 150, "Austin", 2))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart on the same checkpoint: committed offsets must not be
    // re-read, and the dropDuplicates state store must come back so a
    // replay of lsn 1 ACROSS the restart is still dropped
    val q2 = start()
    try {
      source.addData(env(1, 100, "Seattle", 1), env(3, 175, "Chicago", 3))
      q2.processAllAvailable()
      val all = spark.read.parquet(s"$out/batch=*")
      assert(all.count() == 3, "restart must neither lose nor duplicate rows")
      assert(all.select("orderid").as[String].collect().sorted.toSeq == Seq("1", "2", "3"))
    } finally q2.stop()
  }
}
