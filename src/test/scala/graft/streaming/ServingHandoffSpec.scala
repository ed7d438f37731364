package graft.streaming

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the CDC→serving handoff (r12 verdict item 7): the streaming
  * path (file stream → StatefulLatestState upserts → versioned MERGE
  * sink → bucketed compaction) must produce EXACTLY the batch
  * latest-state view, and the compacted table must carry the bucket
  * layout (an orderid aggregate plans with zero Exchange above the
  * scan — AQE and broadcast off, BucketedServeSpec's discipline). */
class ServingHandoffSpec extends SparkSpec {

  test("stream-materialized serving table equals the batch latest-state view") {
    val served = graft.ops.CdcQueries.latestServed(spark, sfDir)
    val batch = graft.ops.CdcQueries.latestState(spark, sfDir)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty,
      "stream-materialized state must be row-identical to the batch view")
    assert(served.count() > 0)
  }

  test("the compacted table is bucketed and an orderid aggregate does not shuffle it") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.ops.CdcQueries.latestServed(spark, sfDir).collect() // ensure table exists
      val table = spark.catalog.listTables().collect()
        .map(_.name).find(_.startsWith("graft_latest_")).get
      val agg = spark.table(table).groupBy(col("orderid"))
        .agg(max(col("lsn")).as("mx"))
      val plan = agg.queryExecution.executedPlan
      def servedScanNoJoinBelow(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table.startsWith("graft_latest_"))
        case other => other.children.exists(servedScanNoJoinBelow)
      }
      val bad = plan.collect {
        case e: ShuffleExchangeExec if servedScanNoJoinBelow(e.child) => e
      }
      assert(bad.isEmpty,
        s"orderid aggregate must ride the bucket layout, not shuffle:\n${bad.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("a cold build of the served table leaves no scratch dir behind") {
    def scratchDirs(): Set[String] = Option(
      new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.startsWith("graft_cdc_serve")).toSet)
    graft.ops.CdcQueries.latestServed(spark, sfDir).collect()
    val table = "graft_latest_" + graft.Memo.pathDigest(sfDir)
    // forget the entry AND the written table (with its reuse marker),
    // so the next call replays the full stream build
    graft.Memo.invalidate(sfDir)
    graft.Memo.prepareServedTable(spark, table)
    val before = scratchDirs()
    val c0 = graft.Memo.computeCount
    assert(graft.ops.CdcQueries.latestServed(spark, sfDir).count() > 0)
    assert(graft.Memo.computeCount > c0 && spark.catalog.tableExists(table),
      "the call must have rebuilt the served table")
    assert(scratchDirs() == before)
  }
}
