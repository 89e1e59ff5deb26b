package perfbench

import graft.CacheRegistry
import graft.queries.{FuncQueries, GraphQueries, Prepared}
import graft.scenario.DynamicReplay
import graft.state.Snapshot
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** What one run shares with its workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val seed: Long, val data: Gen.Tables, val workDir: java.io.File,
    val traced: Boolean)

/** Tally of a timed phase. `lat` holds one latency per operation; in a
  * traced run, about half the operations are traced, and `byKind` keeps
  * each latency with its operation kind and whether it was traced, for
  * the tracing-overhead estimate. */
final class Outcome {
  val lat = mutable.ArrayBuffer[Double]()
  val byKind = mutable.ArrayBuffer[(String, Boolean, Double)]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Units of work completed and the seconds they took: decisions,
    * steps, drained events or verified credentials. */
  var work = 0.0
  var workSeconds = 0.0
  /** Rate the ops_per_s metric reports, when it is not work/workSeconds. */
  var rate: Option[Double] = None
  /** Median latency the op_p50_ms metric reports, when it is not the
    * plain median of `lat`. */
  var p50: Option[Double] = None
  /** Workload-specific figures printed beside the result. */
  val notes = mutable.LinkedHashMap[String, String]()

  def opsPerS: Double = rate.getOrElse(work / workSeconds)
  def opP50: Double = p50.getOrElse(Stats.median(lat.toSeq))

  /** Record one operation's answer against its expectation. */
  def check[T](what: => String, expected: T, got: T): Boolean = {
    attempted += 1
    val ok = expected == got
    if (!ok) fail(s"$what: expected $expected, got $got", counted = true)
    ok
  }

  /** Record a failed operation (an error, or a wrong answer). */
  def fail(msg: String, counted: Boolean = false): Unit = {
    if (!counted) attempted += 1
    failed += 1
    if (failures.size < 20) failures += msg
  }
}

/** One benchmark workload: set-up, which the harness repeats against
  * fresh copies of the inputs and times, and a timed phase. */
trait Workload {
  /** One set-up against the inputs in `dir`: resolve tables, prepare, and
    * make the first call of every operation. */
  def setup(dir: String, out: Outcome): Unit
  /** Drop what [[setup]] built, before the next repetition. */
  def teardown(): Unit = CacheRegistry.releaseAll()
  /** Untimed operations between set-up and the timed phase. */
  def warmup(seconds: Double, out: Outcome): Unit
  /** The timed phase. */
  def run(seconds: Double, out: Outcome): Unit
  /** Stop anything still running. */
  def close(): Unit = ()
}

object Workloads {
  val Names: Seq[String] =
    Seq("authz_read", "topology_churn", "cdc_ingest")

  def apply(name: String, c: Ctx): Workload = name match {
    case "authz_read" => new AuthzRead(c)
    case "topology_churn" => new TopologyChurn(c)
    case "cdc_ingest" => new CdcIngest(c)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** Whether operation `i` of a traced run is traced: a fixed hash, so
    * the choice follows no period of a workload's schedule. */
  def tracedOp(i: Int): Boolean = ((i * 0x9E3779B1) >>> 16 & 1) == 0

  /** Tracing overhead (%): per operation kind, the median traced latency
    * over the median untraced one, then the median over kinds that have
    * both; 0 when none has. */
  def overheadPct(samples: Seq[(String, Boolean, Double)]): Double = {
    val ratios = samples.groupBy(_._1).values.flatMap { s =>
      val (t, u) = s.partition(_._2)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_._3)) / Stats.median(u.map(_._3)))
    }.toSeq
    if (ratios.isEmpty) 0.0 else (Stats.median(ratios) - 1) * 100
  }

  /** Closed loop with one client: run `op` until `seconds` elapse and at
    * least `minOps` operations have run; return how many ran. `kind`
    * names operation i for the mix weighting and the tracing-overhead
    * estimate. */
  def closedLoop(c: Ctx, seconds: Double, out: Outcome, kind: Int => String,
      minOps: Int = 1)(op: Int => Unit): Int = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i < minOps || System.nanoTime() < end) {
      val traced = c.traced && tracedOp(i)
      c.tracer.enabled = traced
      c.tracer.newRequest()
      val s = System.nanoTime()
      try op(i)
      catch { case e: Exception => out.fail(s"op $i: $e") }
      val ms = (System.nanoTime() - s) / 1e6
      out.lat += ms
      out.byKind += ((kind(i), traced, ms))
      i += 1
    }
    c.tracer.enabled = c.traced
    out.workSeconds = (System.nanoTime() - t0) / 1e9
    // Drift within the run: a warm-up still in progress shows here.
    if (out.lat.size >= 4) {
      val (a, b) = out.lat.splitAt(out.lat.size / 2)
      out.notes("p50_first_half_ms") = f"${Stats.median(a.toSeq)}%.1f"
      out.notes("p50_second_half_ms") = f"${Stats.median(b.toSeq)}%.1f"
    }
    i
  }

  /** The first operation index at or after `done` that starts a round of
    * `round` operations. */
  def nextRound(done: Int, round: Int): Int = (done + round - 1) / round * round

  /** Weigh every operation kind by its share of a nominal mix (kind ->
    * operations per round of the schedule), so each run weighs the mix
    * alike however far into a round it got: the median over samples
    * weighted by share / count of their kind, and the rate of one client
    * in a closed loop, 1 / (mean latency), from each kind's mean latency.
    * The timed phases run at least one whole round, so every kind has
    * run. */
  def weighByMix(out: Outcome, mix: Map[String, Double]): Unit = {
    val byKind = out.byKind.groupBy(_._1)
    val missing = mix.keySet -- byKind.keySet
    require(missing.isEmpty, s"kinds of the mix never ran: ${missing.mkString(", ")}")
    val mean = byKind.map { case (k, v) => k -> v.map(_._3).sum / v.size }
    out.rate = Some(mix.values.sum * 1000 / mix.map { case (k, n) => n * mean(k) }.sum)
    out.p50 = Some(Stats.weightedPercentile(
      out.byKind.toSeq.collect { case (k, _, ms) if mix.contains(k) =>
        ms -> mix(k) / byKind(k).size }, 0.5))
  }

  /** Driver-side reachability over a delegation forest given as a parent
    * array (-1 = HQ): how many drones lie within `depth` hops of `root`. */
  def reachable(parents: Array[Int], root: Int, depth: Int): Long = {
    val children = Array.fill(parents.length + 1)(mutable.ArrayBuffer[Int]())
    val hq = parents.length
    parents.indices.foreach(k =>
      children(if (parents(k) < 0) hq else parents(k)) += k)
    var frontier = Seq(if (root < 0) hq else root)
    var n = 0L
    for (_ <- 1 to depth) {
      frontier = frontier.flatMap(children(_))
      n += frontier.size
    }
    n
  }

  /** The base delegation forest: drones 0..fanout-1 report to HQ, drone k
    * to drone k - fanout. */
  def baseParents(n: Int, fanout: Int): Array[Int] =
    Array.tabulate(n)(k => if (k < fanout) -1 else k - fanout)
}

import Workloads._

/** authz_read: static graph, repeating parameters; prepared WoT binds,
  * ABAC decisions, rooted chain counts, and rarer hierarchy VC counts and
  * credential batch round trips. */
final class AuthzRead(c: Ctx) extends Workload {
  import c._
  private val nC = data.nCustomers
  private val reqs = Gen.authzRequests(seed, nC, 2000)
  private var dir = ""
  private var pq: Prepared.PreparedQuery = _
  private var base: DataFrame = _
  private val parents = baseParents(nC, DynamicReplay.DefaultFanout)

  private val expectAbac: Seq[(String, Long)] = {
    // Linear subgroup chain G0 -> ... -> G24, permission on G24, walk
    // bounded at 10 hops: a user is granted once iff 24 - nation <= 10.
    Seq(0, 7, 13, 42).map(k => (s"C$k", data.customers(k).nation))
      .collect { case (u, g) if 24 - g <= 10 => (u, 1L) }.sortBy(_._1)
  }
  private val expectHier: Long = {
    val nations = data.nationRegion.indices.filter(data.nationRegion(_) == 0).toSet
    val custs = data.customers.filter(c => nations(c.nation)).map(_.key).toSet
    val orders = data.orders.filter(o => custs(o.cust)).map(_.key).toSet
    data.lines.count(l => orders(l.order)).toLong
  }
  /** Closed form on the linear trust chain E0 -> E1 -> ...: one path iff
    * both ends exist and 0 < anchor - client <= length. */
  private def expectBind(b: Gen.Bind): Long = {
    val d = b.anchor - b.client
    if (b.anchor >= 0 && b.anchor < nC && d > 0 && d <= b.length) 1L else 0L
  }

  private def exec(r: Gen.AuthzReq, out: Outcome): Unit = r match {
    case b: Gen.Bind =>
      val got = tracer.call("Prepared.bind")(pq.bind(Map(
          "client" -> s"E${b.client}", "anchor" -> s"E${b.anchor}",
          "length" -> b.length)))(df => long(df.collect()(0), 0))
      out.check(s"bind $b", expectBind(b), got)
    case Gen.Abac =>
      val got = tracer.call("GraphQueries.r4AbacDecision")(
          GraphQueries.r4AbacDecision(spark, dir))(
        _.collect().toSeq.map(r => (r.getString(0), long(r, 1))))
      out.check("r4AbacDecision", expectAbac, got)
    case ch: Gen.Chain =>
      val got = tracer.call("DynamicReplay.chainCount")(
          DynamicReplay.chainCount(spark, base, ch.depth, ch.root.toString))(
        df => long(df.collect()(0), 0))
      out.check(s"chainCount $ch", reachable(parents, ch.root, ch.depth), got)
    case Gen.Hier =>
      val got = tracer.call("GraphQueries.j8HierVcCount")(
          GraphQueries.j8HierVcCount(spark, dir))(df => long(df.collect()(0), 0))
      out.check("j8HierVcCount", expectHier, got)
    case Gen.Cred(true) =>
      val got = tracer.call("FuncQueries.u2VcRoundtrip")(
        FuncQueries.u2VcRoundtrip(spark, dir))(df => long(df.collect()(0), 0))
      if (out.check("u2VcRoundtrip verified", nC.toLong, got)) verified += got
    case Gen.Cred(false) =>
      val got = tracer.call("FuncQueries.u1SigRoundtrip")(
        FuncQueries.u1SigRoundtrip(spark, dir))(df => long(df.collect()(0), 0))
      if (out.check("u1SigRoundtrip verified", data.nOrders.toLong, got)) verified += got
  }

  /** Credentials verified by the timed phase's round trips. */
  private var verified = 0L

  def setup(d: String, out: Outcome): Unit = {
    dir = d
    Seq("customer", "nation", "region", "orders", "lineitem")
      .foreach(graft.Tables(spark, dir, _))
    pq = tracer.span("Prepared.wotPathCount")(Prepared.wotPathCount(spark, dir))
    base = DynamicReplay.baseDelegation(spark, dir)
    Seq(Gen.Bind(1, 5, 10), Gen.Abac, Gen.Chain(1, 4), Gen.Hier,
        Gen.Cred(true), Gen.Cred(false)).foreach(exec(_, out))
  }

  /** First request of the timed phase. */
  private var start = 0

  /** First one bind at every length the requests use: the bound length
    * is a literal in the bind's generated code, so each length compiles
    * its own code on first use, and a timed phase that met new lengths
    * would slow down by how few it had met. Then requests from the start
    * of the list; the timed phase starts at the first even block the
    * warm-up did not reach, so it repeats none of the warm-up's requests,
    * and its first block always holds the same chain depths. */
  def warmup(seconds: Double, out: Outcome): Unit = {
    Gen.BindLengths.foreach(n => exec(Gen.Bind(0, n, n), out))
    val done = closedLoop(c, seconds, out, i => reqs(i).kind)(i => exec(reqs(i), out))
    start = nextRound(done, 2 * Gen.AuthzBlock)
  }

  /** Whole blocks are not needed, but the first one is: it holds every
    * kind of the mix. */
  def run(seconds: Double, out: Outcome): Unit = {
    verified = 0L
    def req(i: Int) = reqs((start + i) % reqs.size)
    closedLoop(c, seconds, out, req(_).kind, minOps = Gen.AuthzBlock)(
      i => exec(req(i), out))
    out.work = out.lat.size
    weighByMix(out, Gen.AuthzMix)
    out.byKind.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.notes(s"ops.$k") = v.size.toString
      out.notes(s"ops.${k}_p50_ms") = f"${Stats.median(v.map(_._3).toSeq)}%.1f"
    }
    // Credentials per second of the round trips that produced them.
    val credMs = out.byKind.collect { case ("cred", _, ms) => ms }.sum
    out.notes("cred_verified_per_s") = f"${if (credMs > 0) verified * 1000 / credMs else 0.0}%.1f"
  }
}

/** topology_churn: each step mutates the delegation snapshot (UPDATE-style
  * or delete+insert rewire), materializes it, then counts the chain from
  * HQ; cycles restart from the base snapshot. */
final class TopologyChurn(c: Ctx) extends Workload {
  import c._
  private val nC = data.nCustomers
  private val modulo = DynamicReplay.DefaultModulo
  private val steps = Gen.churnSteps(seed, DynamicReplay.DefaultCycle, modulo, 500)
  private var dir = ""
  private var base: DataFrame = _
  private var cur: DataFrame = _
  private val baseP = baseParents(nC, DynamicReplay.DefaultFanout)
  private var parents = baseP.clone()

  private def exec(s: Gen.ChurnStep, out: Outcome): Unit = {
    if (s.first) { cur = base; parents = baseP.clone() }
    val settled =
      if (s.rewire) tracer.call("Snapshot.rewire") {
        val batch = graft.Tables.customer(spark, dir)
          .filter(col("c_custkey") % modulo === s.family)
          .select(col("c_custkey").as("drone_id"))
        Snapshot.rewire(cur, batch,
          batch.select(col("drone_id"), lit("HQ").as("hq_id")))
      }(_.localCheckpoint())
      else tracer.call("DynamicReplay.mutateStep")(
        DynamicReplay.mutateStep(cur, s.family, modulo))(_.localCheckpoint())
    parents.indices.foreach(k => if (k % modulo == s.family) parents(k) = -1)
    val got = tracer.call("DynamicReplay.chainCount")(
        DynamicReplay.chainCount(spark, settled, s.depth))(
      df => long(df.collect()(0), 0))
    out.check(s"churn $s", reachable(parents, -1, s.depth), got)
    cur = settled
    // The step's traversal cached its edge table; the next step reads a
    // new snapshot, so release it as a long-lived session must.
    CacheRegistry.releaseAll()
  }

  def setup(d: String, out: Outcome): Unit = {
    dir = d
    graft.Tables.customer(spark, dir)
    base = DynamicReplay.baseDelegation(spark, dir)
    Seq(Gen.ChurnStep(first = true, 4, 1, rewire = false),
        Gen.ChurnStep(first = false, 4, 2, rewire = true))
      .foreach(exec(_, out))
  }

  private val cycle = DynamicReplay.DefaultCycle.size
  /** First step of the timed phase: the first cycle start the warm-up did
    * not reach. */
  private var start = 0

  def warmup(seconds: Double, out: Outcome): Unit = {
    val done = closedLoop(c, seconds, out, i => s"step${i % cycle}")(
      i => exec(steps(i % steps.size), out))
    start = nextRound(done, cycle)
  }

  /** At least one whole cycle, so every place in it is measured. */
  def run(seconds: Double, out: Outcome): Unit = {
    closedLoop(c, seconds, out, i => s"step${i % cycle}", minOps = cycle)(
      i => exec(steps((start + i) % steps.size), out))
    out.work = out.lat.size
    // A step's cost depends on its place in the cycle (its depth, and how
    // far the cycle has cut the forest): weigh the places alike.
    weighByMix(out, (0 until cycle).map(p => s"step$p" -> 1.0).toMap)
  }
}

/** cdc_ingest: an open-loop generator writes Debezium envelope files into
  * a watched directory at a fixed rate while CdcStream merges them into a
  * pre-populated snapshot; then staged backlogs are drained. Events follow
  * the reference capture benchmark's c:u:d mix ([[Gen.CdcGen]]), and a
  * backlog is applied 500 events per micro-batch, the reference's recovery
  * batch. */
final class CdcIngest(c: Ctx) extends Workload {
  import c._
  val InitialRows = 500
  val TickMs = 100
  val PerTick = 20 // 200 events/s
  val BacklogFiles = 4
  val BacklogPerFile = 500

  private val initial: Map[Long, String] =
    (0 until InitialRows).map(k => k.toLong -> s"n${k}_init").toMap
  private val initialKeys: Seq[Long] = initial.keys.toSeq.sorted
  private def initialDf: DataFrame = {
    import spark.implicits._
    initial.toSeq.sortBy(_._1).toDF("id", "name")
  }

  val progress = new ProgressLog
  spark.streams.addListener(progress)

  private var query: StreamingQuery = _
  private var handle: CdcStream.SnapshotHandle = _
  /** Events merged before the timed phase: the set-up's and the
    * warm-up's. */
  private var warm: Seq[Gen.CdcEvent] = Nil
  /** Generator of the latest set-up's stream; the open loop continues it. */
  private var gen: Gen.CdcGen = _
  private var reps = 0

  /** Write a file of envelopes atomically into a watched directory. The
    * file source orders new files by modification time, so each file gets
    * a distinct one, `mtimeMs`, in event order. */
  private def writeFile(dir: java.io.File, name: String,
      events: Seq[Gen.CdcEvent], mtimeMs: Long): Unit = {
    val tmp = new java.io.File(workDir, s".$name.tmp")
    java.nio.file.Files.writeString(tmp.toPath,
      events.map(Gen.envelope).mkString("", "\n", "\n"))
    require(tmp.setLastModified(mtimeMs), s"cannot stamp $tmp")
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def startStream(dir: java.io.File, h: CdcStream.SnapshotHandle,
      maxFiles: Int): StreamingQuery = {
    val cfg = graft.GraftConfig(cdcSource = "file",
      cdcSourcePath = dir.getPath, cdcMaxFilesPerTrigger = maxFiles)
    tracer.span("CdcStream.start")(
      CdcStream.start(CdcStream.parse(CdcStream.source(spark, cfg)), h))
  }

  private def snapshotOf(h: CdcStream.SnapshotHandle): Map[Long, String] =
    h.snapshot.collect().map(r => long(r, 0) -> r.getString(1)).toMap

  private def checkSnapshot(what: String, h: CdcStream.SnapshotHandle,
      events: Seq[Gen.CdcEvent], out: Outcome): Unit = {
    val want = Gen.replay(initial, events)
    val got = snapshotOf(h)
    if (want != got) {
      val diff = (want.keySet ++ got.keySet).toSeq.sorted
        .filter(k => want.get(k) != got.get(k)).take(3)
        .map(k => s"$k: ${want.get(k)} vs ${got.get(k)}")
      // Every event behind a wrong snapshot counts as failed.
      out.attempted += events.size
      out.failed += events.size
      out.failures += s"$what snapshot differs in ${(want.keySet ++ got.keySet)
        .count(k => want.get(k) != got.get(k))} keys, e.g. ${diff.mkString("; ")}"
    } else out.attempted += events.size
  }

  def setup(d: String, out: Outcome): Unit = {
    reps += 1
    val watch = new java.io.File(workDir, s"cdc-watch-$reps")
    watch.mkdirs()
    handle = new CdcStream.SnapshotHandle(spark)
    handle.set(initialDf)
    query = startStream(watch, handle, 0)
    gen = new Gen.CdcGen(seed + reps, initialKeys)
    warm = gen.next(PerTick, firstSeq = 1)
    writeFile(watch, "warm.json", warm, System.currentTimeMillis() - 1000)
    query.processAllAvailable()
    // The source's row count covers every scan of a batch in the merge
    // plan; calibrate how many times the plan reads each event.
    val b = progress.awaitRows(query.id, 0, 1L).filter(_.rows > 0)
    require(b.nonEmpty && b.head.rows % PerTick == 0,
      s"warm-up batch reported ${b.map(_.rows)} rows for $PerTick events")
    readsPerEvent = b.head.rows / PerTick
  }

  /** How many times the merge plan reads each event of a batch. */
  var readsPerEvent = 1L

  /** An untimed open loop on the stream the timed phase measures: the
    * first four or five micro-batches after set-up run slower while the
    * batch path is compiled, and would otherwise weigh on the timed
    * events. Half the given length covers them. */
  def warmup(seconds: Double, out: Outcome): Unit = {
    val events = gen.next(ticks(seconds / 2) * PerTick, firstSeq = 100000)
    val before = progress.batches(query.id).count(_.rows > 0)
    feed("warmup", events)
    query.processAllAvailable()
    progress.awaitRows(query.id, before, events.size * readsPerEvent)
    warm ++= events
  }

  override def teardown(): Unit = {
    if (query != null) query.stop()
    CacheRegistry.releaseAll()
  }

  def run(seconds: Double, out: Outcome): Unit = {
    openLoop(seconds * 0.55, out)
    drain(seconds * 0.45, out)
  }

  private def ticks(seconds: Double): Int = math.max(1, (seconds * 1000 / TickMs).toInt)

  /** Write `events` into the watched directory from a generator thread,
    * one file of PerTick events every TickMs from 20 ms on. Returns the
    * due times and send times (ns, System.nanoTime) and the wall-clock
    * instant of due-time origin `nano0`. */
  private def feed(tag: String, events: IndexedSeq[Gen.CdcEvent])
      : (IndexedSeq[Long], Seq[Long], java.time.Instant, Long) = {
    val watch = new java.io.File(workDir, s"cdc-watch-$reps")
    val nTicks = events.size / PerTick
    val wall0 = java.time.Instant.now()
    val nano0 = System.nanoTime()
    val epoch0 = wall0.toEpochMilli
    val due = OpenLoop.schedule(nano0 + 20000000L, TickMs * 1000000L, nTicks)
    val sent = new Array[Long](nTicks)
    val writer = new Thread(() => {
      for (i <- 0 until nTicks) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        writeFile(watch, f"$tag-$i%06d.json",
          events.slice(i * PerTick, (i + 1) * PerTick),
          epoch0 + (due(i) - nano0) / 1000000L)
        sent(i) = System.nanoTime()
      }
    }, "perfbench-cdc-generator")
    writer.start()
    writer.join()
    (due, sent.toSeq, wall0, nano0)
  }

  /** Open loop: one file of PerTick events every TickMs. Each event is
    * timed from its due time to the end of the micro-batch that merged
    * it. Files land in order, and each micro-batch takes every file
    * present, so batches consume the events as consecutive runs. */
  private def openLoop(seconds: Double, out: Outcome): Unit = {
    val events = gen.next(ticks(seconds) * PerTick, firstSeq = 200000)
    val id = query.id
    val batchesBefore = progress.batches(id).count(_.rows > 0)
    val (due, sent, wall0, nano0) = feed("tick", events)
    query.processAllAvailable()
    val batches = progress.awaitRows(id, batchesBefore,
      events.size * readsPerEvent).filter(_.rows > 0)
    val done = OpenLoop.completions(batches.map(_.rows / readsPerEvent),
      batches.map(_.endMs))
    // Batch ends are wall-clock ms; due times map onto the same clock.
    val dueNsWall = due.map(d =>
      wall0.getEpochSecond * 1000000000L + wall0.getNano + (d - nano0))
    if (done.size != events.size)
      out.fail(s"open loop: ${done.size} of ${events.size} events accounted to batches")
    else out.lat ++= OpenLoop.latenciesMs(
      events.indices.map(i => dueNsWall(i / PerTick)), done.map(_ * 1000000L))
    val late = OpenLoop.latenessMs(due, sent)
    out.notes("gen_lateness_ms_max") = f"${late.max}%.3f"
    out.notes("open_loop_batches") = batches.size.toString
    out.notes("open_loop_events") = events.size.toString
    openBatches = batches
    lateness = late
    checkSnapshot("open loop", handle, warm ++ events, out)
    query.stop()
    query = null
  }

  /** Recovery apply rate: stage a backlog of envelope files, then start a
    * fresh stream and let it merge all of it, one file of 500 events per
    * micro-batch. Repeated; the reported rate is the median over the
    * drains' micro-batches of a batch's events over its trigger time,
    * which a few slow batches or stream starts do not move. */
  private def drain(seconds: Double, out: Outcome): Unit = {
    val rates = mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var j = 0
    while (j < 2 || System.nanoTime() < end) {
      val dir = new java.io.File(workDir, s"cdc-backlog-$j")
      dir.mkdirs()
      val events = new Gen.CdcGen(seed + 1000 + j, initialKeys)
        .next(BacklogFiles * BacklogPerFile, firstSeq = 1000000)
      val stamp = System.currentTimeMillis() - 1000L * BacklogFiles
      events.grouped(BacklogPerFile).zipWithIndex.foreach { case (g, i) =>
        writeFile(dir, f"backlog-$i%04d.json", g, stamp + 1000L * i) }
      val h = new CdcStream.SnapshotHandle(spark)
      h.set(initialDf)
      val traced = c.traced && tracedOp(j)
      tracer.enabled = traced
      tracer.newRequest()
      val t0 = System.nanoTime()
      val q = startStream(dir, h, 1)
      q.processAllAvailable()
      val s = (System.nanoTime() - t0) / 1e9
      q.stop()
      tracer.enabled = c.traced
      val batches = progress.awaitRows(q.id, 0, events.size * readsPerEvent)
      if (batches.map(_.rows).sum != events.size * readsPerEvent)
        out.fail(s"drain $j: batches report ${batches.map(_.rows).sum} rows " +
          s"for ${events.size} events")
      rates ++= batches.map(b =>
        b.rows.toDouble / readsPerEvent * 1000 / b.durationMs("triggerExecution"))
      out.byKind += (("drain", traced, s * 1000))
      out.work += events.size
      out.workSeconds += s
      checkSnapshot(s"drain $j", h, events, out)
      j += 1
    }
    out.rate = Some(Stats.median(rates.toSeq))
    out.notes("drains") = j.toString
    out.notes("drain_batches") = rates.size.toString
    // Whole drains, stream start included: the reference's total recovery.
    out.notes("drain_total_eps") = f"${out.work / out.workSeconds}%.1f"
  }

  var openBatches: Seq[ProgressLog.Batch] = Nil
  var lateness: Seq[Double] = Nil

  override def close(): Unit = {
    if (query != null) query.stop()
    spark.streams.removeListener(progress)
  }
}

/** Micro-batch progress of every streaming query, as reported by the
  * engine's StreamingQueryProgress. */
final class ProgressLog extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  import ProgressLog.Batch
  private val log = mutable.Map[java.util.UUID, mutable.ArrayBuffer[Batch]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def dur(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    log.getOrElseUpdate(p.id, mutable.ArrayBuffer[Batch]()) += Batch(
      p.batchId, p.numInputRows, start + dur("triggerExecution").toLong,
      Seq("addBatch", "queryPlanning", "getBatch", "walCommit",
        "commitOffsets", "triggerExecution").map(k => k -> dur(k)).toMap)
  }

  def batches(id: java.util.UUID): Seq[Batch] =
    synchronized(log.get(id).map(_.toSeq).getOrElse(Nil))

  /** Non-empty batches after the first `skip` of them, once they add up
    * to `rows` input rows (the listener is asynchronous). */
  def awaitRows(id: java.util.UUID, skip: Int, rows: Long,
      timeoutMs: Long = 20000): Seq[Batch] = {
    val end = System.currentTimeMillis() + timeoutMs
    def now = batches(id).filter(_.rows > 0).drop(skip)
    var got = now
    while (got.map(_.rows).sum < rows && System.currentTimeMillis() < end) {
      Thread.sleep(10)
      got = now
    }
    got
  }
}

object ProgressLog {
  final case class Batch(id: Long, rows: Long, endMs: Long,
      durationMs: Map[String, Double])
}
