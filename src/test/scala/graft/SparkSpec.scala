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

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.SparkListenerJobStart
    eventsDuring(body).count(_.isInstanceOf[SparkListenerJobStart])
  }

  /** Job starts and other (e.g. SQL execution) events posted while `body`
    * runs, in order. A sentinel job marks the end: its start event arrives
    * after every earlier one on the listener bus.
    */
  def eventsDuring(body: => Unit): Seq[org.apache.spark.scheduler.SparkListenerEvent] = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicBoolean
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    val sc = spark.sparkContext
    val Sentinel = "sparkspec.sentinel"
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val drained = new AtomicBoolean()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null)) drained.set(true)
        else if (!drained.get()) events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (!drained.get()) events.add(e)
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
      events.toArray(Array.empty[SparkListenerEvent]).toSeq
    } finally sc.removeSparkListener(listener)
  }
}
