package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (same configs as Verify/Bench,
  * via the shared [[graft.Sessions]] builder). */
object SparkSuite {
  lazy val session: SparkSession = Sessions.local("4", "graft-test")

  val sf: String = "/root/testdata/sf0.001"

  /** The one ledger walk ([[graft.plans.AuditSweep.walk]]) over `sf`,
    * taken by whichever of its three readers runs first: OperatorSpec's
    * run check and AuditSweepSpec's two censuses. */
  lazy val ledger: Seq[graft.plans.AuditSweep.Walked] =
    graft.plans.AuditSweep.walk(session, sf)

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous but ordered, so once a marker job submitted after `body`
    * has been seen, every job `body` started has been counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = session.sparkContext
    val marker = s"jobs-during-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == marker)
          flushed.countDown()
        else jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
