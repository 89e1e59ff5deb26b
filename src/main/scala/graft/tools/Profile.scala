package graft.tools

import graft.{CacheRegistry, Session, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-query profile of any catalog query on the engine session Bench
  * times. Each query runs once cold (first execution in this JVM), then
  * `iters` times hot; every run is a `count()`, as in the bench, followed
  * by `CacheRegistry.releaseAll()`. Per query it prints one JSON line
  * (cold_s, hot_p50_s, hot_min_s), then the last hot run's Spark jobs
  * with wall time and description (else call site), and its stages of
  * at least 200 ms.
  * In local mode each BroadcastExchange build is its own job, so a
  * storm of serial broadcast builds shows up as a long job list.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <iters> <q1> [q2 ...]
  * (SPARK_GRAFT_CPUS, default 32, sets the session's cores, as in Bench).
  */
object Profile {

  /** Jobs and stages seen since the last `clear()`, under one lock. */
  private final class Recorder extends SparkListener {
    private val open = mutable.Map[Int, (Long, String)]()
    private val jobs = mutable.ArrayBuffer[(Int, Long, String)]()
    private val stages = mutable.ArrayBuffer[(Int, Long, Int, String)]()

    def clear(): Unit = synchronized {
      open.clear(); jobs.clear(); stages.clear()
    }
    def snapshot()
        : (Vector[(Int, Long, String)], Vector[(Int, Long, Int, String)]) =
      synchronized((jobs.toVector, stages.toVector))

    // The engine sets no job description, so a job without one is named
    // by its result stage (the highest stage id), whose name is the
    // action's call site, e.g. `collect at Closure.scala:<line>`.
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      open(js.jobId) = (js.time, Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse(""))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      open.remove(je.jobId).foreach { case (t0, d) =>
        jobs += ((je.jobId, je.time - t0, d))
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = sc.stageInfo
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        stages += ((si.stageId, ms, si.numTasks, si.name.take(80)))
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark =
      Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)

    // Listener events arrive asynchronously; let the previous run's drain.
    def settle(): Unit = Thread.sleep(300)
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      CacheRegistry.releaseAll()
      s
    }

    args.drop(2).foreach { n =>
      val cold = run(n)
      val hot = Vector.fill(iters) { settle(); rec.clear(); run(n) }
      settle()
      val (jobs, stages) = rec.snapshot()
      val sorted = hot.sorted
      println(f"""{"q":"$n","cold_s":$cold%.3f,"hot_p50_s":${sorted(iters / 2)}%.3f,"hot_min_s":${sorted.head}%.3f,"iters":$iters}""")
      println(f"== $n last hot run ${hot.last}%.3f s, ${jobs.size} jobs, " +
        f"job-time sum ${jobs.map(_._2).sum / 1e3}%.3f s")
      jobs.sortBy(_._1).foreach { case (id, ms, d) =>
        println(f"  job $id%4d $ms%6d ms  ${d.take(90)}")
      }
      stages.filter(_._2 >= 200).sortBy(-_._2).take(12).foreach {
        case (id, ms, nt, nm) =>
          println(f"  stage $id%4d $ms%6d ms  $nt%4d tasks  $nm")
      }
    }
    spark.stop()
  }
}
