package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block of driver code starts, for mechanism tests that pin
  * how many jobs (and stages) an operator costs.
  */
object JobWatch {

  /** Jobs started, and the stages they planned: a job whose stage count
    * exceeds one has a shuffle boundary. */
  final case class Counts(jobs: Int, stages: Int)

  /** Jobs `body` starts: counted by job group, closed by a sentinel job in
    * the same group (the listener bus delivers in order, so once the
    * sentinel is seen every job before it has been counted). */
  def apply(spark: SparkSession)(body: => Unit): Counts = {
    val sc = spark.sparkContext
    val group = s"job-watch-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "sentinel")
            done.countDown()
          else {
            jobs.incrementAndGet()
            stages.addAndGet(e.stageInfos.size)
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Counts(jobs.get, stages.get)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
