package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[Memo]] seam's lifecycle contract (r11 advice: the old
  * per-file memo had no invalidation and pinned entries for the JVM
  * lifetime): corpus-fingerprint staleness detection, explicit
  * invalidation, release actions run on eviction and invalidation,
  * and the compute counter Bench uses to label cold runs. */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("same (session, dir, tag) computes once; counter tracks cold derivations") {
    val dir = Files.createTempDirectory("memo").toString
    Files.writeString(java.nio.file.Paths.get(dir, "t.txt"), "v1")
    var computed = 0
    def get() = Memo.cached(spark, dir, "probe") {
      computed += 1
      spark.range(3).toDF("id").localCheckpoint(true)
    }
    val c0 = Memo.computeCount
    assert(get().count() == 3)
    assert(get().count() == 3)
    assert(computed == 1)
    assert(Memo.computeCount == c0 + 1)
  }

  test("rewriting a file under the corpus dir changes the key (stale entry unreachable)") {
    val dir = Files.createTempDirectory("memo").toString
    val f = java.nio.file.Paths.get(dir, "t.txt")
    Files.writeString(f, "v1")
    var computed = 0
    def get() = Memo.cached(spark, dir, "probe") {
      computed += 1
      spark.range(3).toDF("id").localCheckpoint(true)
    }
    get(); get()
    assert(computed == 1)
    // rewrite with different content length => size component changes
    // even when the filesystem's mtime granularity is coarse
    Files.writeString(f, "v2-different-length")
    get()
    assert(computed == 2, "rewrite must miss the stale entry")
  }

  test("invalidate(dir) forces recompute; other dirs unaffected") {
    val dirA = Files.createTempDirectory("memoA").toString
    val dirB = Files.createTempDirectory("memoB").toString
    var a = 0; var b = 0
    def getA() = Memo.cached(spark, dirA, "probe") {
      a += 1; spark.range(1).toDF("id").localCheckpoint(true)
    }
    def getB() = Memo.cached(spark, dirB, "probe") {
      b += 1; spark.range(1).toDF("id").localCheckpoint(true)
    }
    getA(); getB()
    Memo.invalidate(dirA)
    getA(); getB()
    assert(a == 2 && b == 1)
  }

  test("distinct tags under one dir are independent entries") {
    val dir = Files.createTempDirectory("memo").toString
    val x = Memo.cached(spark, dir, "t1") {
      spark.range(1).toDF("id").localCheckpoint(true)
    }
    val y = Memo.cached(spark, dir, "t2") {
      spark.range(2).toDF("id").localCheckpoint(true)
    }
    assert(x.count() == 1 && y.count() == 2)
  }

  test("cachedServedDir: marker skips the build across entries; buildTag bump rebuilds") {
    val corpus = Files.createTempDirectory("memoC").toString
    Files.writeString(java.nio.file.Paths.get(corpus, "t.txt"), "v1")
    var built = 0
    def get(tag: String, build: String) =
      Memo.cachedServedDir(spark, corpus, tag, "graft_memospec_", build) { dir =>
        built += 1
        spark.range(4).toDF("id").write.mode("overwrite").parquet(dir)
      }
    assert(get("s1", "v1").count() == 4)
    assert(built == 1)
    // a DIFFERENT Memo entry (new tag — what a fresh session's empty
    // cache looks like to the seam) finds the marker and skips compute
    assert(get("s2", "v1").count() == 4)
    assert(built == 1, "marker hit must not rebuild")
    // derivation-logic version bump invalidates the layout
    assert(get("s3", "v2").count() == 4)
    assert(built == 2, "buildTag bump must rebuild")
    // corpus rewrite invalidates the marker too
    Files.writeString(java.nio.file.Paths.get(corpus, "t.txt"), "v2-longer")
    assert(get("s4", "v2").count() == 4)
    assert(built == 3, "fingerprint change must rebuild")
  }

  test("cachedServedTable: re-registers existing bucketed files without rebuild") {
    val corpus = Files.createTempDirectory("memoT").toString
    Files.writeString(java.nio.file.Paths.get(corpus, "t.txt"), "v1")
    var built = 0
    val table = "graft_memospec_srv"
    def get(tag: String) =
      Memo.cachedServedTable(spark, corpus, tag, table, Seq("id"), "v1") {
        built += 1
        spark.range(8).toDF("id")
          .write.bucketBy(Memo.ServingBuckets, "id").sortBy("id")
          .mode("overwrite").saveAsTable(table)
      }
    assert(get("t1").count() == 8)
    assert(built == 1)
    // simulate a fresh session's empty catalog: drop ONLY the catalog
    // entry (external-ize first so the files survive), then a new Memo
    // entry must re-register instead of rebuilding
    spark.sessionState.catalog.externalCatalog
      .alterTable(spark.sessionState.catalog.externalCatalog
        .getTable("default", table)
        .copy(tableType =
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL))
    spark.sql(s"DROP TABLE `$table`")
    assert(get("t2").count() == 8)
    assert(built == 1, "marker hit must re-register, not rebuild")
    // and the re-registered table still carries the bucket spec
    val bucketSpec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
    assert(bucketSpec.exists(_.bucketColumnNames == Seq("id")))
  }

  /** A persisted `rows`-row entry under `dir`, materialized; returns the
    * frame and the persisted-RDD ids it added. (Distinct row counts keep
    * the plans distinct, so no test shares another's cached blocks.) */
  private def persistedEntry(dir: String, tag: String, rows: Int): (DataFrame, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Memo.cached(spark, dir, tag, (_: DataFrame).unpersist()) {
      spark.range(0, rows, 1, 1).toDF("id").persist()
    }
    assert(df.count() == rows && df.storageLevel != StorageLevel.NONE)
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.nonEmpty, "the persisted entry should pin blocks")
    (df, added)
  }

  private def assertReleased(df: DataFrame, added: Set[Int]): Unit = {
    assert(df.storageLevel == StorageLevel.NONE, "release must unpersist the entry")
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(added).isEmpty,
      "release must free the entry's blocks")
  }

  test("LRU eviction of a persisted entry releases its blocks") {
    val dir = Files.createTempDirectory("memoLru").toString
    val (df, added) = persistedEntry(dir, "lru", 7)
    (1 to Memo.MaxEntries).foreach { i =>
      Memo.cached(spark, dir, s"filler$i", (_: String) => ())(s"v$i")
    }
    assertReleased(df, added)
  }

  test("invalidate of a persisted entry releases its blocks") {
    val dir = Files.createTempDirectory("memoInv").toString
    val (df, added) = persistedEntry(dir, "inv", 9)
    Memo.invalidate(dir)
    assertReleased(df, added)
  }

  test("rewriting a file under the corpus dir makes the next call miss the stale envelope log") {
    val dir = Files.createTempDirectory("memoCdc")
    // a minimal corpus: the `orders` columns the CDC fixtures derive from
    def writeOrders(n: Int): Unit = {
      val tmp = Files.createTempDirectory("memoCdcW").toString
      spark.range(1, n + 1, 1, 1).selectExpr("id AS o_orderkey", "id * 3 AS o_custkey")
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve("orders.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeOrders(40)
    val log1 = graft.ops.CdcQueries.insertLog(spark, dir.toString)
    assert(log1.count() == 40)
    assert(graft.ops.CdcQueries.insertLog(spark, dir.toString) eq log1)
    writeOrders(25)
    val c0 = Memo.computeCount
    val log2 = graft.ops.CdcQueries.insertLog(spark, dir.toString)
    assert(Memo.computeCount == c0 + 1, "the rewrite must miss the stale log")
    assert(log2.count() == 25)
    Memo.invalidate(dir.toString)
  }
}
