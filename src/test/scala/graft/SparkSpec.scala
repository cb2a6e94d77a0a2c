package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

/** Counts the Spark jobs a block starts. Listener events arrive
  * asynchronously but in posting order, so the window is fenced by two
  * sentinel jobs run from the calling thread: jobs seen after the
  * opening sentinel and before the closing one are the block's. */
object Jobs {
  private val Tag = "graft.test.sentinel"

  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.atomic.AtomicInteger(0) // sentinels seen
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val closed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == id)) {
          if (seen.incrementAndGet() == 2) closed.countDown()
        } else if (seen.get == 1) jobs.incrementAndGet()
    }
    def sentinel(): Unit = {
      sc.setLocalProperty(Tag, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tag, null)
    }
    sc.addSparkListener(l)
    try {
      sentinel()
      val r = body
      sentinel()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
