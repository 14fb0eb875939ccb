package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked test JVM; getOrCreate
  * dedupes). Deliberately NOT stopped per-suite so later suites reuse it. */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** Jobs the body starts, counted by a listener. Listener events arrive
    * in order, so once a marker job run afterwards has been seen, every
    * job of the body has been seen too. */
  protected def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (group, marker) = ("spec-body", "spec-marker")
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never reported")
      seen.get()
    } finally sc.removeSparkListener(l)
  }
}
