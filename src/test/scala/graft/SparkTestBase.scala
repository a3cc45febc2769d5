package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Specs run in the profile session (`Harness.session`): the same
  * session, made active and default, whatever the suite order. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session()
  val sf: String = "/root/testdata/sf0.001"

  /** The stages of every job `body` starts. A fence job runs after it
    * and the listener waits for that job's start: the bus delivers
    * events in order, so every earlier job has been seen by then. */
  def jobsOf(body: => Unit): Seq[Seq[StageInfo]] = {
    val fenceName = s"fence-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == fenceName))
          fenced.countDown()
        else jobs.add(j.stageInfos)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(fenceName)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence job was never seen")
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}
