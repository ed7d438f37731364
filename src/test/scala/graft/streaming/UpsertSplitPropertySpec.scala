package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Micro-batch-split invariance for the upsert pipeline
  * (`Materializer.startUpsert` → versioned MERGE table): for a
  * randomized mixed-op CDC log (creates/updates/deletes/replays across
  * keys), EVERY partitioning of the events into micro-batches must
  * produce the identical final table, tombstones included — its live
  * rows must equal the batch `Cdc.latestState` materialization of the
  * same log, and its tombstones must be exactly the keys that view
  * drops. This is the property that makes the pipeline deployable: batch
  * boundaries are an accident of trigger timing, never semantics. */
class UpsertSplitPropertySpec extends SparkSpec {
  import spark.implicits._

  private def env(orderid: Int, amount: Int, lsn: Long, op: String): String = {
    val city = s"C${orderid % 3}"
    val after =
      if (op == "d") "null"
      else s"""{"orderid":$orderid,"custid":${orderid * 10},"amount":$amount,"city":"$city"}"""
    val before =
      if (op == "c") "null"
      else s"""{"orderid":$orderid,"custid":${orderid * 10},"amount":0,"city":"$city"}"""
    s"""{"schema":null,"payload":{"before":$before,"after":$after,
       |"source":{"version":"1.9.5","connector":"postgresql","name":"myserver",
       |"ts_ms":${lsn * 1000},"snapshot":"false","db":"inventory","schema":"inventory",
       |"table":"orders_info","txId":$lsn,"lsn":$lsn,"xmin":null},
       |"op":"$op","ts_ms":${lsn * 1000},"transaction":null}}""".stripMargin.replace("\n", "")
  }

  /** A randomized event log: 40 events over 8 keys with increasing lsn
    * and ~25% replayed duplicates appended out of order. */
  private def randomLog(seed: Long): Seq[String] = {
    val gen = Gen.listOfN(40, for {
      key <- Gen.chooseNum(1, 8)
      op <- Gen.frequency(5 -> Gen.const("c"), 3 -> Gen.const("u"), 2 -> Gen.const("d"))
      amt <- Gen.chooseNum(1, 999)
    } yield (key, op, amt))
    val base = gen.pureApply(Gen.Parameters.default, Seed(seed))
      .zipWithIndex.map { case ((k, op, a), i) => env(k, a, i + 1L, op) }
    val replays = Gen.listOfN(10, Gen.chooseNum(0, base.length - 1))
      .pureApply(Gen.Parameters.default, Seed(seed + 1)).map(base)
    base ++ replays
  }

  /** Run the upsert pipeline over `events` delivered in the given
    * batches; return the final (orderid, amount, deleted) per key of the
    * table's newest version, and its live rows as `readLatest` serves
    * them. */
  private def finalState(batches: Seq[Seq[String]], name: String)
      : (Set[(Int, Int, Boolean)], Set[(Int, Int)]) = {
    implicit val sql = spark.sqlContext
    val source = MemoryStream[String]
    val table = Files.createTempDirectory(name).toString + "/orders"
    val q = Materializer.startUpsert(source.toDF().select(col("value")),
      tablePath = table, checkpointPath = Files.createTempDirectory(name + "-ckpt").toString,
      trigger = Trigger.ProcessingTime(0))
    try batches.foreach { b =>
      if (b.nonEmpty) { source.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val newest = new java.io.File(table).list().filter(_.startsWith("v="))
      .maxBy(_.stripPrefix("v=").toLong)
    val all = spark.read.parquet(s"$table/$newest")
      .select("orderid", "amount", "deleted")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2))).toSet
    val live = Sinks.readLatest(spark, table).select("orderid", "amount")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    (all, live)
  }

  test("final table is invariant under micro-batch partitioning; live rows and deletes match batch") {
    for (seed <- Seq(41L, 42L)) {
      val log = randomLog(seed)
      // three partitionings: one batch, one event per batch, random cuts
      val oneShot = Seq(log)
      val perEvent = log.map(Seq(_))
      val cuts = Gen.listOfN(5, Gen.chooseNum(1, log.length - 1))
        .pureApply(Gen.Parameters.default, Seed(seed + 2))
        .distinct.sorted
      val random = (Seq(0) ++ cuts ++ Seq(log.length)).sliding(2).map {
        case Seq(a, b) => log.slice(a, b) }.toSeq
      val runs = Seq(oneShot, perEvent, random).zip(Seq("a", "b", "c")).map {
        case (batches, tag) => finalState(batches, s"graft-split-$tag-$seed") }
      val (s1, _) = runs.head
      runs.tail.foreach { case (s, _) =>
        assert(s == s1, s"final table diverged across partitionings (seed $seed)") }

      // live rows must equal the batch materialization of the same log,
      // and the tombstones must be exactly the log's keys it drops
      val decoded = graft.cdc.Cdc.decode(log.toDF("value"))
      val key = coalesce(col("payload.after.orderid"), col("payload.before.orderid"))
      val batch = graft.cdc.Cdc.latestState(decoded,
        keyCol = key, orderCol = col("payload.source.lsn"))
        .select("orderid", "amount")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val logKeys = decoded.select(key).as[Int].collect().toSet
      runs.foreach { case (_, live) =>
        assert(live == batch, s"served live rows != batch view (seed $seed)") }
      assert(s1.collect { case (k, _, true) => k } == logKeys -- batch.map(_._1),
        s"tombstones != keys the batch view drops (seed $seed)")
    }
  }
}
