package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-corpus table loaders plus the derived reference-shaped source table.
  *
  * `ordersInfo` reconstructs the reference's Postgres table
  * `inventory.orders_info` (orders-generator/main.go:15-20: orderid PK,
  * custid 1..1000, amount 100..199, city in a fixed 6-city domain,
  * main.go:47) deterministically from the driver corpus's `orders` table,
  * using pure integer arithmetic so the exact same derivation is
  * expressible in the DuckDB oracle (see [[Sql.ordersInfoCte]]).
  */
object Tables {

  val cities: Seq[String] =
    Seq("New Delhi", "Seattle", "New York", "Austin", "Chicago", "Cleveland")

  /** Process-wide parquet schema memo. Schema inference on a bare
    * `spark.read.parquet` runs a footer-reading Spark job
    * (SchemaMergeUtils.mergeSchemasInParallel) on EVERY call — measured
    * at ~85% of a KQL stage-pipeline translation and ~60 ms per table
    * read, paid again by every query construction. So the schema is
    * inferred once per key and passed explicitly thereafter — the
    * DataFrames produced are identical, only the inference job
    * disappears. The key is everything the inferred schema depends on:
    * the path, the file's size and mtime (one status call — a rewrite
    * in place re-infers), and the session's nanosAsLong setting (the
    * events.ts flavor [[events]] reads). */
  private val schemaMemo = new scala.collection.concurrent.TrieMap[
    (String, Long, Long, String), org.apache.spark.sql.types.StructType]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = (path, st.getLen, st.getModificationTime,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    val schema = schemaMemo.getOrElseUpdate(key, spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as three parquet flavors across corpus
    * regenerations: TIMESTAMP(NANOS) (vectorized reader rejects it —
    * read as raw nanos via the legacy conf and divide; values ~1.7e18
    * exceed double's 53-bit mantissa, so `DIV`, never `/`), naive
    * TIMESTAMP(MICROS) (inferred TIMESTAMP_NTZ — instant functions like
    * `unix_micros` reject it), and UTC-adjusted MICROS. Normalize all
    * three to the engine's contract: TIMESTAMP (LTZ) under the UTC
    * session, wall-clock preserved. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Reference-shaped `orders_info` rows (main.go:15-20 domains), derived
    * from `orders.parquet` with integer-only arithmetic (no float casts —
    * Spark truncates double→int, DuckDB rounds; integers sidestep that). */
  def ordersInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val cityCol = cities.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (c, i)) => when(col("o_orderkey") % 6 === i, c).otherwise(acc)
    }
    orders(spark, sfDir).select(
      col("o_orderkey").cast("int").as("orderid"),
      (col("o_custkey") % 1000 + 1).cast("int").as("custid"),
      ((col("o_orderkey") * 7919 + col("o_custkey")) % 100 + 100).cast("int").as("amount"),
      cityCol.as("city"))
  }
}

/** Shared DuckDB-oracle SQL fragments, kept textually adjacent to the
  * Spark derivations they must mirror. */
object Sql {

  /** DuckDB CTE mirroring [[Tables.ordersInfo]] exactly. */
  val ordersInfoCte: String =
    """WITH orders_info AS (
      |  SELECT CAST(o_orderkey AS INTEGER) AS orderid,
      |         CAST(o_custkey % 1000 + 1 AS INTEGER) AS custid,
      |         CAST((o_orderkey * 7919 + o_custkey) % 100 + 100 AS INTEGER) AS amount,
      |         CASE CAST(o_orderkey % 6 AS INTEGER)
      |           WHEN 0 THEN 'New Delhi' WHEN 1 THEN 'Seattle' WHEN 2 THEN 'New York'
      |           WHEN 3 THEN 'Austin' WHEN 4 THEN 'Chicago' ELSE 'Cleveland' END AS city
      |  FROM orders)""".stripMargin
}
