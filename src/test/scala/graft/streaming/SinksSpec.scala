package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sink layout: partition pruning actually prunes, and compaction
  * collapses micro-batch small files without changing the data. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write prunes non-matching partitions at the scan") {
    val out = Files.createTempDirectory("graft-part").toString + "/t"
    val df = Seq((1, "Seattle"), (2, "Austin"), (3, "Seattle"))
      .toDF("orderid", "city")
    Sinks.writePartitioned(df, out, "city")
    assert(new java.io.File(s"$out/city=Seattle").exists())

    val pruned = spark.read.parquet(out).filter(col("city") === "Seattle")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 2)
    assert(!plan.contains("city=Austin"), "pruned partition must not be scanned")
  }

  test("compaction collapses many small files, preserving rows exactly") {
    val in = Files.createTempDirectory("graft-small").toString + "/in"
    val out = Files.createTempDirectory("graft-compact").toString + "/out"
    spark.range(1000).toDF("id").repartition(20).write.parquet(in)
    assert(parquetFiles(in) == 20)

    Sinks.compact(spark, in, out, targetFiles = 2)
    assert(parquetFiles(out) <= 2)
    assert(spark.read.parquet(out).agg(sum("id")).head().getLong(0) == 499500L)
  }

  private def parquetFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("keyed upsert sink: updates win by lsn, tombstones delete, replay is idempotent") {
    val table = Files.createTempDirectory("graft-upsert").toString + "/orders"
    def batch(rows: (Int, Long, Boolean, Int)*) =
      rows.toDF("orderid", "lsn", "deleted", "amount")

    Sinks.upsertByKey(spark, batch((1, 10L, false, 100), (2, 20L, false, 150)),
      table, newVersion = 1)
    Sinks.upsertByKey(spark, batch((1, 11L, false, 120), (2, 21L, true, 0),
      (3, 30L, false, 170)), table, newVersion = 2)

    val latest = Sinks.readLatest(spark, table)
      .select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq
    assert(latest == Seq((1, 120), (3, 170))) // 1 updated, 2 deleted, 3 inserted

    // replayed stale batch (at-least-once): merges to the same state
    Sinks.upsertByKey(spark, batch((1, 10L, false, 100)), table, newVersion = 3)
    val after = Sinks.readLatest(spark, table)
      .select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq
    assert(after == latest, "stale replay must not regress state")

    // old snapshot still readable (versioned dirs)
    assert(spark.read.parquet(s"$table/v=1").count() == 2)
  }

  test("snapshot rows with a null tombstone flag (pre-evolution) stay live") {
    val table = Files.createTempDirectory("graft-nulltomb").toString + "/orders"
    // v=1 simulates a snapshot written before the pipeline tracked
    // tombstones: no `deleted` column at all
    Seq((1, 10L, 100)).toDF("orderid", "lsn", "amount")
      .write.parquet(s"$table/v=1")
    // post-evolution batch carries the tombstone column; the merge
    // backfills v=1's rows with NULL deleted — which must mean "live"
    Sinks.upsertByKey(spark,
      Seq((2, 20L, false, 150)).toDF("orderid", "lsn", "deleted", "amount"),
      table, newVersion = 2)
    val latest = Sinks.readLatest(spark, table)
      .select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq
    assert(latest == Seq((1, 100), (2, 150)),
      "null tombstone flags must not delete pre-evolution rows")
  }

  test("readLatest ignores an uncommitted version directory (no _SUCCESS)") {
    val table = Files.createTempDirectory("graft-uncommitted").toString + "/orders"
    Sinks.upsertByKey(spark,
      Seq((1, 10L, false, 100)).toDF("orderid", "lsn", "deleted", "amount"),
      table, newVersion = 1)
    // a crashed writer's debris: part files present, no _SUCCESS marker
    val partial = new java.io.File(s"$table/v=99")
    assert(partial.mkdirs())
    Files.write(java.nio.file.Paths.get(s"$table/v=99/part-00000.parquet"),
      Array[Byte](1, 2, 3))
    val latest = Sinks.readLatest(spark, table)
      .select("orderid").as[Int].collect().toSeq
    assert(latest == Seq(1), "half-written v=99 must not be visible as latest")
  }

  test("upsert sink survives additive schema evolution (new column backfills null)") {
    val table = Files.createTempDirectory("graft-evolve").toString + "/orders"
    Sinks.upsertByKey(spark,
      Seq((1, 10L, false, 100)).toDF("orderid", "lsn", "deleted", "amount"),
      table, newVersion = 1)
    // producer adds a column mid-stream
    Sinks.upsertByKey(spark,
      Seq((2, 20L, false, 150, "web")).toDF("orderid", "lsn", "deleted", "amount", "channel"),
      table, newVersion = 2)
    val latest = Sinks.readLatest(spark, table)
    assert(latest.columns.contains("channel"))
    assert(latest.filter(col("orderid") === 1).select("channel").head().isNullAt(0))
    assert(latest.filter(col("orderid") === 2).select("channel").head().getString(0) == "web")
  }

  test("the latest committed version is found below the bound among many versions") {
    val table = Files.createTempDirectory("graft-versions").toString + "/orders"
    def version(v: Int): Unit =
      Seq((1, v.toLong, false, v * 10)).toDF("orderid", "lsn", "deleted", "amount")
        .coalesce(1).write.parquet(s"$table/v=$v")
    (1 to 31).foreach(version)
    // uncommitted: a crashed writer's complete part files, no _SUCCESS
    Seq(31, 17).foreach(v => assert(new java.io.File(s"$table/v=$v/_SUCCESS").delete()))
    def amounts(df: org.apache.spark.sql.DataFrame) =
      df.select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq

    assert(amounts(Sinks.readLatest(spark, table)) == Seq((1, 300)),
      "the uncommitted highest version must be skipped")
    // a retried batch 18 merges from v=16: v=17 is uncommitted
    Sinks.upsertByKey(spark, Seq((2, 1L, false, 7)).toDF("orderid", "lsn", "deleted", "amount"),
      table, newVersion = 18)
    assert(amounts(spark.read.parquet(s"$table/v=18")) == Seq((1, 160), (2, 7)))
    // batch 1 merges from nothing
    Sinks.upsertByKey(spark, Seq((3, 1L, false, 9)).toDF("orderid", "lsn", "deleted", "amount"),
      table, newVersion = 1)
    assert(amounts(spark.read.parquet(s"$table/v=1")) == Seq((3, 9)))
  }

  /** Spark jobs started by `body`. The listener bus delivers events in
    * order, so once a marker job submitted after `body` has arrived,
    * every job of `body` has been seen. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("probe")(body)
      inGroup("marker")(sc.parallelize(Seq(1), 1).count(): Unit)
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains("marker"), "marker job never reached the listener")
      groups.asScala.count(_ == "probe")
    } finally sc.removeSparkListener(listener)
  }

  test("readLatest starts no Spark job and reads the version's own schema") {
    val table = Files.createTempDirectory("graft-readpath").toString + "/orders"
    Sinks.upsertByKey(spark,
      Seq((1, 10L, false, 100)).toDF("orderid", "lsn", "deleted", "amount"),
      table, newVersion = 1)
    Sinks.upsertByKey(spark,
      Seq((2, 20L, false, 150, "web")).toDF("orderid", "lsn", "deleted", "amount", "channel"),
      table, newVersion = 2)
    var latest: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { latest = Sinks.readLatest(spark, table) } == 0,
      "a snapshot read must not run a schema-inference job")
    assert(latest.schema == spark.read.parquet(s"$table/v=2").schema)
    assert(latest.columns.contains("channel"))
    assert(latest.count() == 2)
  }

  test("the summary is observed inside the upsert's write: no extra Spark job") {
    val table = Files.createTempDirectory("graft-observed").toString + "/orders"
    def batch(v: Int) = (1 to 50).map(k => StatefulLatestState.KeyState(
      k, v * 100L + k, k % 5 == 0, k, 100 + k, s"C${k % 3}")).toDF()
    Sinks.upsertByKey(spark, batch(1), table, newVersion = 1)
    val jobs = jobsStartedBy(Sinks.upsertByKey(spark, batch(2), table, newVersion = 2))
    val plain = jobsStartedBy(Sinks.upsertByKey(spark, batch(3).drop("city"), table, newVersion = 3))
    assert(jobs == plain, s"the observed write ran $jobs jobs, the plain write $plain")
    assert(new java.io.File(s"$table/v=2/_summary").exists())
    assert(!new java.io.File(s"$table/v=2/._summary.crc").exists(), "the sidecar has no .crc twin")
    assert(!new java.io.File(s"$table/v=3/_summary").exists(), "a city-less version has no summary")
  }

  test("a pre-evolution version without the tombstone column reads as all-live") {
    val table = Files.createTempDirectory("graft-pretomb").toString + "/orders"
    Seq((1, 10L, 100), (2, 20L, 150)).toDF("orderid", "lsn", "amount")
      .write.parquet(s"$table/v=1")
    val latest = Sinks.readLatest(spark, table)
    assert(latest.schema == spark.read.parquet(s"$table/v=1").schema)
    assert(latest.select("orderid", "amount").as[(Int, Int)].collect().sorted.toSeq ==
      Seq((1, 100), (2, 150)))
  }
}
