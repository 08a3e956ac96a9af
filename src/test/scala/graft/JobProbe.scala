package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Records the Spark jobs a block of driver code starts: each job is
  * reported by the names of its stages (`<action> at <File>.scala:<line>`
  * — the call site of the action). Jobs are attributed through a fresh
  * job group on the calling thread, and a marker job run after the
  * block drains the asynchronous listener bus before the list is read.
  */
object JobProbe {
  def jobsOf[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e.stageInfos.map(_.name).mkString("; "))
          case Some(g) if g == group + "-marker" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job probe")
      val r = f
      sc.setJobGroup(group + "-marker", "job probe marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
      (r, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
