package perfbench

import scala.collection.mutable

/** Metric names, units and the per-layer derivation. The names here are
  * the ones BENCHMARK.json declares; a self-test keeps the two in step. */
object Metrics {
  final case class M(name: String, unit: String)

  /** End-to-end metrics, printed by every untraced run. What an
    * operation is depends on the workload: an authorization request, a
    * churn step from mutation to fresh answer, or a change event from its
    * due time to the end of the micro-batch that merged it. ops_per_s is
    * requests, steps or drained events per second. */
  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s"), M("op_p50_ms", "ms"), M("ops_per_s", "1/s"))

  /** Modules the harness spans, in the order it reports them. */
  val Spans: Seq[String] = Seq(
    "Prepared.wotPathCount", "Prepared.bind", "GraphQueries.r4AbacDecision",
    "GraphQueries.j8HierVcCount", "DynamicReplay.chainCount",
    "DynamicReplay.mutateStep", "Snapshot.rewire",
    "FuncQueries.u2VcRoundtrip", "FuncQueries.u1SigRoundtrip")

  val SpanFields: Seq[M] = Seq(
    M("calls", "count"), M("self_ms_p50", "ms"), M("build_ms_p50", "ms"),
    M("plan_ms_p50", "ms"), M("jobs", "count"), M("tasks", "count"),
    M("shuffle_kb", "KiB"), M("task_skew", "ratio"), M("cpu_ms", "ms"))

  val Stream: Seq[M] = Seq(
    M("CdcStream.addBatch_ms_p50", "ms"), M("CdcStream.queryPlanning_ms_p50", "ms"),
    M("CdcStream.getBatch_ms_p50", "ms"), M("CdcStream.walCommit_ms_p50", "ms"),
    M("CdcStream.commitOffsets_ms_p50", "ms"),
    M("CdcStream.triggerExecution_ms_max", "ms"),
    M("CdcStream.rows_per_batch_p50", "count"),
    M("CdcStream.backlog_files_max", "count"),
    M("CdcStream.gen_lateness_ms_max", "ms"))

  val Kernels: Seq[M] = Seq(
    M("DidVc.verifyVc.us", "us"), M("DidVc.signVc.us", "us"),
    M("CryptoFunctions.verify.us", "us"), M("JsonCanon.canonicalize.us", "us"))

  /** Runtime figures of the timed phase. The live heap is measured after
    * a forced full collection; it swings by 2x between runs (the engine
    * keeps per-job and per-query history on the heap), so it is a layer
    * figure, not a bounded end-to-end metric. */
  val Runtime: Seq[M] = Seq(
    M("jvm.gc_ms", "ms"), M("jvm.jit_ms", "ms"), M("jvm.live_heap_mb", "MB"),
    M("spark.storage_mb", "MB"))

  val Overhead = M("trace.overhead_pct", "%")

  val PerLayer: Seq[M] =
    Spans.flatMap(s => SpanFields.map(f => M(s"$s.${f.name}", f.unit))) ++
      Stream ++ Kernels ++ Runtime :+ Overhead

  /** Per-call figures of every span named in [[Spans]]: medians over its
    * calls, and task skew as the slowest task over the median task of all
    * its jobs. A module the workload does not call reports zeros. */
  def spanFigures(tracer: Tracer, counts: JobCounts): Map[String, Double] = {
    val self = tracer.selfNs
    val out = mutable.Map[String, Double]()
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Spans.foreach { name =>
      val ss = tracer.spans.toSeq.filter(_.name == name)
      val cs = ss.map(s => counts.counts(s.id))
      val taskMs = cs.flatten.flatMap(_.taskMs)
      def per(f: counts.Counts => Double) = med(cs.map(_.map(f).getOrElse(0.0)))
      val fig = Map(
        "calls" -> ss.size.toDouble,
        "self_ms_p50" -> med(ss.map(s => self(s.id) / 1e6)),
        "build_ms_p50" -> med(ss.map(_.buildNs / 1e6)),
        "plan_ms_p50" -> med(ss.map(_.planNs / 1e6)),
        "jobs" -> per(_.jobs.toDouble),
        "tasks" -> per(_.tasks.toDouble),
        "shuffle_kb" -> per(_.shuffleBytes / 1024.0),
        "task_skew" -> (if (taskMs.isEmpty) 0.0
          else taskMs.max / math.max(1.0, Stats.median(taskMs))),
        "cpu_ms" -> per(_.cpuNs / 1e6))
      SpanFields.foreach(f => out(s"$name.${f.name}") = fig(f.name))
    }
    out.toMap
  }

  /** Where each span name's self time went, one row per name and a
    * total: `build` until the call returned (its eager driver work,
    * including the DataFrame's analysis), `plan` the optimization and
    * planning its action paid, `exec` the rest (running the jobs and
    * collecting the answer), and `all_planning` every planning-tracker
    * phase, the analysis inside `build` included. Shares are percent. */
  def layerShares(tracer: Tracer): Seq[Seq[(String, String)]] = {
    val self = tracer.selfNs
    def row(name: String, ss: Seq[Span]): Seq[(String, String)] = {
      val selfMs = ss.map(s => self(s.id)).sum / 1e6
      def pct(ns: Long) = num(if (selfMs > 0) 100 * ns / 1e6 / selfMs else 0.0)
      val build = ss.map(_.buildNs).sum
      val plan = ss.map(_.actionPlanNs).sum
      Seq("span" -> q(name), "calls" -> ss.size.toString, "self_ms" -> num(selfMs),
        "build_pct" -> pct(build), "plan_pct" -> pct(plan),
        "exec_pct" -> pct(ss.map(s => self(s.id)).sum - build - plan),
        "all_planning_pct" -> pct(ss.map(_.planNs).sum))
    }
    val all = tracer.spans.toSeq
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) => row(n, ss) } :+
      row("total", all)
  }

  /** Micro-batch phase figures of the open-loop stream. A batch's input
    * row count covers every scan of the batch in the merge plan, so rows
    * are divided by `readsPerEvent` to count events. */
  def streamFigures(batches: Seq[ProgressLog.Batch], perFile: Int,
      readsPerEvent: Long, lateness: Seq[Double]): Map[String, Double] = {
    val events = batches.map(_.rows.toDouble / readsPerEvent)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def phase(k: String) = med(batches.map(_.durationMs(k)))
    Map(
      "CdcStream.addBatch_ms_p50" -> phase("addBatch"),
      "CdcStream.queryPlanning_ms_p50" -> phase("queryPlanning"),
      "CdcStream.getBatch_ms_p50" -> phase("getBatch"),
      "CdcStream.walCommit_ms_p50" -> phase("walCommit"),
      "CdcStream.commitOffsets_ms_p50" -> phase("commitOffsets"),
      "CdcStream.triggerExecution_ms_max" ->
        batches.map(_.durationMs("triggerExecution")).maxOption.getOrElse(0.0),
      "CdcStream.rows_per_batch_p50" -> med(events),
      "CdcStream.backlog_files_max" ->
        events.map(_ / perFile).maxOption.getOrElse(0.0),
      "CdcStream.gen_lateness_ms_max" -> lateness.maxOption.getOrElse(0.0))
  }

  /** A number as JSON (finite, full precision). */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not finite")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  /** The result line: exactly correct, attempted, failed and metrics. */
  def resultLine(attempted: Long, failed: Long, ms: Seq[(M, Double)]): String = {
    val body = ms.map { case (m, v) =>
      s"${q(m.name)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(m.unit)}}"
    }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}"""
  }
}
