package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, [[Session]] confs, 4 cores). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** The number of Spark jobs `body` starts on this thread. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => done.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // the bus delivers in order: once the marker job is seen, so is
      // every job `body` started
      sc.setJobGroup(s"$group-end", group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(30, TimeUnit.SECONDS), "the marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
