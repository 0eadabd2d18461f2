package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared spec base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs. A sentinel job marks the end:
    * its start event arrives after every earlier one on the listener bus.
    */
  def jobsDuring(body: => Unit): Int = {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val Sentinel = "sparkspec.sentinel"
    val started = new AtomicInteger()
    val drained = new AtomicBoolean()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null)) drained.set(true)
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Sentinel, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!drained.get()) {
        assert(System.currentTimeMillis() < deadline, "listener bus did not drain")
        Thread.sleep(2)
      }
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}
