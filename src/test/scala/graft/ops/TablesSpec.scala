package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** [[Tables.table]]'s process-wide schema memo must be keyed on
  * everything the inferred schema depends on: a parquet file rewritten
  * in place with a different schema is re-inferred, not served the
  * stale schema. */
class TablesSpec extends SparkSpec {

  test("a parquet file rewritten in place with a new schema is re-inferred") {
    val dir = Files.createTempDirectory("graft-tables").toString
    def writeT(df: DataFrame): Unit = {
      val tmp = Files.createTempDirectory("graft-tables-w").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(dir, "t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    writeT(spark.range(3).toDF("a"))
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    writeT(spark.range(3).selectExpr("id AS a", "id * 2 AS b"))
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("a", "b"))
    assert(t.selectExpr("sum(b)").head().getLong(0) == 6L)
  }
}
