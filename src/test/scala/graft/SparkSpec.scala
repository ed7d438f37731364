package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started by `body`. The listener bus delivers events in
    * order, so once a marker job submitted after `body` has arrived,
    * every job of `body` has been seen. */
  def jobsStartedBy(body: => Unit): Int = {
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
}
