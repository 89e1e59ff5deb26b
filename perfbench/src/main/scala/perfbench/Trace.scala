package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Spans around the harness's calls into the engine, plus per-span Spark
  * job counts.
  *
  * A span is (name, start, end, parent, request id). While a span is open
  * its id is the thread's Spark job group, so every job the call triggers
  * is attributed to it by [[JobCounts]]. Spans are kept in memory and
  * written out when the run ends. With tracing off, [[Tracer.call]] and
  * [[Tracer.span]] only run their bodies.
  */
/** The local property Spark reads the job group from. */
object JobGroup { final val Key = "spark.jobGroup.id" }

final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, request: Long, buildNs: Long, planNs: Long,
    actionPlanNs: Long = 0L) {
  def durNs: Long = endNs - startNs
}

final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var request = 0L
  private var open = List.empty[Long]

  val GroupPrefix = "perfbench-"
  private def group(id: Long) = s"$GroupPrefix$id"

  /** Start a new request: spans opened until the next call share its id. */
  def newRequest(): Unit = request += 1

  private def withSpan[T](name: String)(
      body: (Long => Unit, ((Long, Long)) => Unit) => T): T = {
    if (!enabled) return body(_ => (), _ => ())
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(JobGroup.Key)
    open = id :: open
    sc.setLocalProperty(JobGroup.Key, group(id))
    var build = 0L
    var plan = (0L, 0L)
    val t0 = System.nanoTime()
    try body(b => build = b, p => plan = p)
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(JobGroup.Key, prevGroup)
      spans += Span(id, name, t0, t1, parent, request, build, plan._1, plan._2)
    }
  }

  /** A span around a call that returns something other than a DataFrame;
    * all of it is build time (until the call returns). */
  def span[T](name: String)(body: => T): T = withSpan(name) { (setBuild, _) =>
    val t0 = System.nanoTime()
    val out = body
    setBuild(System.nanoTime() - t0)
    out
  }

  /** A span around an engine call that returns a DataFrame and the action
    * the harness runs on it. Records the build time (until the DataFrame
    * is returned: the call's eager driver work, which includes the
    * DataFrame's eager analysis) and the planning time of its query
    * (parsing, analysis, optimization and planning, from the query's
    * planning tracker), with the part the action paid (optimization and
    * planning) kept apart so shares of the span do not count analysis
    * twice. */
  def call[T](name: String)(build: => DataFrame)(act: DataFrame => T): T =
    withSpan(name) { (setBuild, setPlan) =>
      val t0 = System.nanoTime()
      val df = build
      setBuild(System.nanoTime() - t0)
      val out = act(df)
      if (enabled) setPlan(Tracer.planningNs(df))
      out
    }

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover. */
  def selfNs: Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty)
        .map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = hi max b
      }
      if (hi > lo) covered += hi - lo
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def spanId(groupId: String): Option[Long] =
    Option(groupId).filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toLong)

  /** Spans as JSON lines. */
  def jsonLines: Seq[String] = spans.toSeq.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent},"request":${s.request},""" +
      s""""build_ns":${s.buildNs},"plan_ns":${s.planNs},""" +
      s""""action_plan_ns":${s.actionPlanNs}}""")
}

object Tracer {
  /** Planning time of a DataFrame's query: all phases, and the part
    * (optimization and planning) that runs when an action executes. */
  def planningNs(df: DataFrame): (Long, Long) = {
    val phases = df.queryExecution.tracker.phases
    def ns(names: String*) = names.flatMap(phases.get).map(_.durationMs).sum * 1000000L
    (ns("parsing", "analysis", "optimization", "planning"),
      ns("optimization", "planning"))
  }
}

/** Spark listener that attributes jobs, tasks, shuffle bytes and executor
  * CPU to the span whose job group submitted them. */
final class JobCounts(tracer: Tracer) extends SparkListener {
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
    var cpuNs = 0L
    val taskMs = mutable.ArrayBuffer[Double]()
  }
  private val bySpan = mutable.Map[Long, Counts]()
  private val stageSpan = mutable.Map[Int, Long]()
  private var sentinelSeen = Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g: String = Option(e.properties).map(_.getProperty(JobGroup.Key)).orNull
    tracer.spanId(g).foreach { id =>
      bySpan.getOrElseUpdate(id, new Counts).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
    if (g != null && g.startsWith("sentinel-")) sentinelSeen += g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val c = bySpan.getOrElseUpdate(id, new Counts)
      c.tasks += 1
      c.taskMs += e.taskInfo.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def counts(spanId: Long): Option[Counts] = synchronized(bySpan.get(spanId))

  def seen(sentinel: String): Boolean = synchronized(sentinelSeen(sentinel))
}

object JobCounts {
  /** Wait until the listener bus has delivered every event posted before
    * now: run a one-task job under a sentinel group and wait for the
    * listener to see it. Task-end events of earlier jobs precede it. */
  def drain(sc: SparkContext, counts: JobCounts, timeoutMs: Long = 10000): Unit = {
    val g = s"sentinel-${System.nanoTime()}"
    val prev = sc.getLocalProperty(JobGroup.Key)
    sc.setLocalProperty(JobGroup.Key, g)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobGroup.Key, prev)
    val end = System.currentTimeMillis() + timeoutMs
    while (!counts.seen(g) && System.currentTimeMillis() < end) Thread.sleep(5)
    // The sentinel's own task-end follows its job start; give the bus the
    // same chance to flush it before readers proceed.
    Thread.sleep(50)
  }
}
