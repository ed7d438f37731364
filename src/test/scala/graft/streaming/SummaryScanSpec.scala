package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.kql.KqlParser
import graft.ops.ReferenceQueries
import graft.streaming.StatefulLatestState.KeyState

/** The dashboard's `summarize … by city` over [[Sinks.readLatest]] is
  * answered from the sink's per-version summary ([[SummaryScan]]), with
  * exactly the scan's answer; every other shape keeps its scan. */
class SummaryScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val texts = Seq(ReferenceQueries.kqlAvgText, ReferenceQueries.kqlTotalText,
    ReferenceQueries.kqlCountText)

  /** A table of three versions: inserts, then updates, deletes and a
    * stale replay. */
  private def table(): String = {
    val t = Files.createTempDirectory("graft-summary").toString + "/orders"
    val cities = Seq("Austin", "Seattle", "New York")
    def row(k: Int, lsn: Long, amount: Int, deleted: Boolean = false) =
      KeyState(k, lsn, deleted, k % 13, amount, cities(k % 3))
    Sinks.upsertByKey(spark, (1 to 300).map(k => row(k, k, 100 + k % 97)).toDF(), t, 1)
    Sinks.upsertByKey(spark, ((1 to 300 by 7).map(k => row(k, 1000L + k, 50 + k % 11)) ++
      (2 to 300 by 11).map(k => row(k, 2000L + k, 0, deleted = true))).toDF(), t, 2)
    Sinks.upsertByKey(spark, (Seq(row(2, 5, 999)) ++ (301 to 320).map(k => row(k, 3000L + k, k))).toDF(), t, 3)
    t
  }

  private def dashboard(text: String, snap: DataFrame): DataFrame =
    KqlParser.run(text, Map("Orders" -> snap))

  private def ruleOff[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", classOf[SummaryScan].getName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def fires(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[LocalRelation])

  private def scans(df: DataFrame): Boolean =
    collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.nonEmpty

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The perfbench dashboard's forced read: row count plus
    * bit_xor(xxhash64) over every output column. */
  private def checksum(df: DataFrame): Row =
    df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)),
      lit(0L))).head()

  test("the three dashboard texts over readLatest read the summary, not the version") {
    val t = table()
    texts.foreach { text =>
      val df = dashboard(text, Sinks.readLatest(spark, t))
      assert(fires(df), s"rule did not fire:\n${df.queryExecution.optimizedPlan}")
      assert(!scans(df), s"parquet scan left in:\n${df.queryExecution.executedPlan}")
      val (offRows, offSum, offScans) = ruleOff {
        val off = dashboard(text, Sinks.readLatest(spark, t))
        (sorted(off), checksum(off), scans(off))
      }
      assert(offScans, "with the rule excluded the version is scanned")
      assert(sorted(df) == offRows)
      assert(checksum(dashboard(text, Sinks.readLatest(spark, t))) == offSum)
    }
  }

  test("near misses keep their scan") {
    val t = table()
    val snap = Sinks.readLatest(spark, t)
    val misses = Seq(
      "Orders | where amount > 150 | summarize avg_sales = avg(amount) by city",
      "Orders | summarize total = sum(amount) by custid",
      "Orders | summarize top = max(amount) by city")
    misses.foreach { text =>
      val df = dashboard(text, snap)
      assert(!fires(df) && scans(df), s"rule fired on: $text")
      assert(sorted(df) == ruleOff(sorted(dashboard(text, Sinks.readLatest(spark, t)))))
    }
    // the registered reference query reads ordersInfo, which has no summary
    val ref = ReferenceQueries.queries("kql_avg_by_city")(spark, sfDir)
    assert(!fires(ref) && scans(ref))
  }

  test("a version whose summary was deleted answers through the scan") {
    val t = table()
    val expected = texts.map(text => sorted(dashboard(text, Sinks.readLatest(spark, t))))
    assert(new java.io.File(s"$t/v=3/_summary").delete())
    texts.zip(expected).foreach { case (text, exp) =>
      val df = dashboard(text, Sinks.readLatest(spark, t))
      assert(!fires(df) && scans(df))
      assert(sorted(df) == exp)
    }
  }

  test("an overflowing sum writes no summary, so reads keep the scan") {
    val t = Files.createTempDirectory("graft-summary-overflow").toString + "/orders"
    Sinks.upsertByKey(spark, Seq((1, 1L, false, Long.MaxValue, "Austin"), (2, 2L, false, 1L, "Austin"))
      .toDF("orderid", "lsn", "deleted", "amount", "city"), t, 1)
    assert(!new java.io.File(s"$t/v=1/_summary").exists())
    val df = dashboard(ReferenceQueries.kqlCountText, Sinks.readLatest(spark, t))
    assert(!fires(df) && scans(df))
    assert(sorted(df).map(r => (r.getString(0), r.getLong(1))) == Seq(("Austin", 2L)))
  }

  test("null amounts, null cities and null tombstone flags match the scan") {
    val t = Files.createTempDirectory("graft-summary-null").toString + "/orders"
    val rows = Seq[(Int, Long, java.lang.Boolean, java.lang.Integer, String)](
      (1, 1L, false, 10, "Austin"), (2, 2L, false, null, "Austin"),
      (3, 3L, null, 7, null), (4, 4L, false, null, null), (5, 5L, true, 99, null),
      (6, 6L, false, null, "Boise"), (7, 7L, true, 5, "Boise"), (8, 8L, null, 3, "Seattle"))
    Sinks.upsertByKey(spark, rows.toDF("orderid", "lsn", "deleted", "amount", "city"), t, 1)
    assert(new java.io.File(s"$t/v=1/_summary").exists())
    val both = Seq("Orders | summarize n = count(), s = sum(amount), a = avg(amount) by city") ++ texts
    both.foreach { text =>
      val df = dashboard(text, Sinks.readLatest(spark, t))
      assert(fires(df), s"rule did not fire on: $text")
      assert(sorted(df) == ruleOff(sorted(dashboard(text, Sinks.readLatest(spark, t)))), text)
    }
    val got = sorted(dashboard(both.head, Sinks.readLatest(spark, t)))
    assert(got.map(r => (Option(r.getString(0)), r.getLong(1))).toSet ==
      Set((None, 2L), (Some("Austin"), 2L), (Some("Boise"), 1L), (Some("Seattle"), 1L)))
    assert(got.exists(r => r.getString(0) == "Boise" && r.isNullAt(2) && r.isNullAt(3)),
      "a group without a non-null amount sums and averages to null")
  }
}
