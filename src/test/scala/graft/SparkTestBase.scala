package graft

import org.apache.spark.graftx.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; Spark
  * reuses it across suites via getOrCreate).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(dir: String = "sf0.001") = s"/root/testdata/$dir"

  /** Spark jobs started while `body` runs (AQE stages and broadcasts
    * count, as they do in a traced run).
    */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(counter)
    try { body; ListenerBusBridge.drain(sc); n.get }
    finally sc.removeSparkListener(counter)
  }
}
