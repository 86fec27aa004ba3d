package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites: one local session (getOrCreate —
  * every suite in the forked test JVM reuses it), UTC, shuffle partitions
  * pinned to cores.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session(4, "graft-test")
  val sf: String = "/root/testdata/sf0.001"

  /** The Spark jobs `body` runs, counted on a job tag. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-spec-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        if (p.exists(_.getProperty("spark.job.tags", "").split(',').contains(tag)))
          jobs.incrementAndGet()
        if (p.exists(_.getProperty("graft.spec.marker") == tag)) drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val r = try body finally sc.removeJobTag(tag)
      // listener delivery is asynchronous but in order: once a job started
      // after `body` is seen, so is every job of `body`
      sc.setLocalProperty("graft.spec.marker", tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
