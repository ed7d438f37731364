package graft.ops

import graft.{Memo, SparkSpec}
import graft.ext.Dedup

/** Session-lifetime cache hygiene for the persisted intermediates held
  * in [[graft.Memo]] (the CDC envelope-log fixtures and the
  * incremental-dedup base index). Drives the per-session release call
  * (the same release the application-end listener runs) and pins the
  * advisor's scenario: after release, a query in the same JVM starts
  * cold — nothing stale is served, nothing stays pinned in the block
  * manager, and re-running still yields correct results. */
class SessionHygieneSpec extends SparkSpec {

  test("envelope-log cache: populated by cdc queries, emptied by eviction, rebuilds cold") {
    val rows = CdcQueries.queries("cdc_unwrap_sink")(spark, sfDir).count()
    val c0 = Memo.computeCount
    CdcQueries.queries("cdc_json_mapping")(spark, sfDir).collect() // same insert log
    assert(Memo.computeCount == c0, "a second cdc query must hit the memoized log")
    Memo.release(spark)
    // cold re-run: rebuilds the fixture and still answers correctly
    assert(CdcQueries.queries("cdc_unwrap_sink")(spark, sfDir).count() == rows)
    assert(Memo.computeCount == c0 + 1, "a released log must rebuild")
    Memo.release(spark)
  }

  test("envelope-log fixtures persist DISK_ONLY (r16: heap-deserialized " +
       "log caches contributed to the sweep RSS that paged the bench host)") {
    val log = CdcQueries.eventLog(spark, sfDir)
    assert(log.storageLevel == org.apache.spark.storage.StorageLevel.DISK_ONLY,
      s"expected DISK_ONLY, got ${log.storageLevel}")
    Memo.release(spark)
    assert(log.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release must unpersist the log")
  }

  test("base-index cache: one index per (session, corpus), emptied by eviction, rebuilds cold") {
    // Snapshot the persisted-RDD set (the suite JVM's session is shared;
    // other suites may legitimately hold caches) — the contract is that
    // release returns EXACTLY to this snapshot.
    Memo.release(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val c0 = Memo.computeCount
    val r1 = Dedup.incrementalCleaned(spark, sfDir).count()
    assert(Memo.computeCount == c0 + 1)
    assert(spark.sparkContext.getPersistentRDDs.keySet.size > before.size,
      "the memoized index should pin its bands frame")
    // repeated invocation reuses the memoized index, never stacks a second
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.incrementalCleaned(spark, sfDir).count()
    assert(Memo.computeCount == c0 + 1)
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)
    Memo.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "release must free everything the index pinned")
    val r2 = Dedup.incrementalCleaned(spark, sfDir).count()
    assert(r1 == r2)
    assert(Memo.computeCount == c0 + 2, "a released index must rebuild")
    Memo.release(spark)
  }
}
