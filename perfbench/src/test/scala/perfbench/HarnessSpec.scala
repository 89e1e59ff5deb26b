package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Self-tests of the harness itself: no Spark session, no engine calls. */
class HarnessSpec extends AnyFunSuite {

  // ---- percentiles ----

  test("a tail percentile needs ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.beyond(200, 0.95) == 10)
    assert(Stats.tail(xs, 0.95).contains(190.0))
    assert(Stats.tail(xs.take(199), 0.95).isEmpty)
    assert(Stats.tail(xs.take(100), 0.90).contains(90.0))
    assert(Stats.tail(xs.take(99), 0.90).isEmpty)
    assert(Stats.samplesNeeded(0.95) == 200)
    assert(Stats.samplesNeeded(0.90) == 100)
    assert(Stats.samplesNeeded(0.99) == 1000)
  }

  test("nearest-rank percentiles and the median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 0.5) == 3.0)
    assert(Stats.percentile(xs, 1.0) == 5.0)
    assert(Stats.percentile(xs, 0.01) == 1.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("weighted percentiles weigh samples, not counts") {
    // Three fast samples of a kind that is 3/4 of the mix and three slow
    // ones of a kind that is 1/4: the weighted median is a fast one.
    val xs = Seq(1.0, 2.0, 3.0).map(_ -> 0.25) ++ Seq(10.0, 11.0, 12.0).map(_ -> 1.0 / 12)
    assert(Stats.weightedPercentile(xs, 0.5) == 2.0)
    assert(Stats.weightedPercentile(xs, 0.8) == 10.0)
    assert(Stats.weightedPercentile(xs.map(_._1 -> 1.0), 0.5) == 3.0)
  }

  // ---- open loop ----

  test("open-loop requests are timed from their due time") {
    val due = OpenLoop.schedule(1000000000L, 100000000L, 4)
    assert(due == IndexedSeq(1000000000L, 1100000000L, 1200000000L, 1300000000L))
    // A 250 ms stall holds the first request; the ones due during the
    // stall are charged the wait as well, not only their own service.
    val done = Seq(1260000000L, 1270000000L, 1280000000L, 1310000000L)
    assert(OpenLoop.latenciesMs(due, done) == Seq(260.0, 170.0, 80.0, 10.0))
  }

  test("generator lateness is how far behind schedule a request went out") {
    val due = Seq(0L, 100000000L, 200000000L)
    val sent = Seq(1000000L, 100000000L, 235000000L)
    assert(OpenLoop.latenessMs(due, sent) == Seq(1.0, 0.0, 35.0))
    // Early sends are not negative lateness.
    assert(OpenLoop.latenessMs(Seq(10L), Seq(5L)) == Seq(0.0))
  }

  test("batch completions cover the stream in order") {
    assert(OpenLoop.completions(Seq(2L, 0L, 3L), Seq(10L, 20L, 30L)) ==
      IndexedSeq(10L, 10L, 30L, 30L, 30L))
  }

  // ---- seeded generators ----

  test("the same seed gives the same requests, another seed different ones") {
    assert(Gen.authzRequests(7, 3000, 50) == Gen.authzRequests(7, 3000, 50))
    assert(Gen.authzRequests(7, 3000, 50) != Gen.authzRequests(8, 3000, 50))
    assert(Gen.churnSteps(7, Seq(4, 8, 12), 20, 30) == Gen.churnSteps(7, Seq(4, 8, 12), 20, 30))
    assert(Gen.churnSteps(7, Seq(4, 8, 12), 20, 30) != Gen.churnSteps(8, Seq(4, 8, 12), 20, 30))
    def cdc(seed: Long) = new Gen.CdcGen(seed, 0L until 500L).next(1000, 1)
    assert(cdc(7) == cdc(7))
    assert(cdc(7) != cdc(8))
    assert(Gen.tables(7, 300, 300) == Gen.tables(7, 300, 300))
    assert(Gen.tables(7, 300, 300) != Gen.tables(8, 300, 300))
  }

  test("every authz block carries the same mix") {
    val reqs = Gen.authzRequests(3, 3000, 40)
    reqs.grouped(Gen.AuthzBlock).zipWithIndex.foreach { case (b, i) =>
      assert(b.count(_.isInstanceOf[Gen.Bind]) == 30)
      // The warm-up binds every length a request can ask for.
      assert(b.collect { case x: Gen.Bind => x.length }.forall(Gen.BindLengths.contains))
      assert(b.count(_ == Gen.Abac) == 2)
      assert(b.count(_ == Gen.Hier) == 1)
      assert(b.collect { case c: Gen.Chain => c.depth }.sorted ==
        (if (i % 2 == 0) Seq(4, 12) else Seq(8, 16)))
      // Every chain root has 16 levels below it in a 3000-drone forest.
      assert(b.collect { case c: Gen.Chain => c.root }.forall(_ < 3000 - 64 * 16))
      assert(b.collect { case c: Gen.Cred => c.vc } == Seq(i % 2 == 0))
    }
    val kinds = reqs.map(_.kind).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(kinds == Gen.AuthzMix.map { case (k, n) => k -> (n * 40).toInt })
  }

  test("churn cycles restart at the base and mutate distinct families") {
    val steps = Gen.churnSteps(5, Seq(4, 8, 12, 16, 12, 8, 4), 20, 10)
    steps.grouped(7).foreach { c =>
      assert(c.map(_.first) == true +: Seq.fill(6)(false))
      assert(c.map(_.depth) == Seq(4, 8, 12, 16, 12, 8, 4))
      assert(c.map(_.family).distinct.size == 7)
      assert(c.take(4).map(_.family % 4).sorted == Seq(0, 1, 2, 3))
    }
    // Mechanics alternate, so any run of steps mixes them evenly.
    assert(steps.sliding(2).forall { case Seq(a, b) => a.rewire != b.rewire })
  }

  test("cdc events follow the reference c:u:d mix over live keys") {
    val gen = new Gen.CdcGen(2, 0L until 50L)
    val ev = gen.next(2000, 100)
    assert(ev.map(_.seq) == (100L until 2100L))
    // 2:1:1 in every run of four events.
    ev.grouped(4).foreach(g => assert(g.map(_.op).sorted == Seq("c", "c", "d", "u")))
    // Creates insert fresh keys; updates and deletes hit live ones.
    var live = (0L until 50L).toSet
    ev.foreach { e =>
      assert(live(e.id) == (e.op != "c"), e)
      live = if (e.op == "d") live - e.id else live + e.id
    }
    assert(live.size == 50 + 2000 / 4)
    // The next batch continues from the keys this one left.
    gen.next(400, 5000).foreach { e =>
      assert(live(e.id) == (e.op != "c"), e)
      live = if (e.op == "d") live - e.id else live + e.id
    }
  }

  test("cdc replay is last-writer-wins") {
    val ev = new Gen.CdcGen(2, 0L until 50L).next(2000, 100)
    val init = (0 until 50).map(k => k.toLong -> "init").toMap
    val want = ev.foldLeft(init) { (s, e) =>
      if (e.op == "d") s - e.id else s + (e.id -> e.name) }
    assert(Gen.replay(init, ev.reverse) == want)
    assert(Gen.envelope(Gen.CdcEvent(9, "d", 3, "x")).contains(
      """"after":null,"before":{"id":3,"name":"x"},"op":"d""""))
  }

  test("driver-side chain reachability on a fanout forest") {
    // 3 chains under HQ: 0 -> 3 -> 6 -> 9, 1 -> 4 -> 7, 2 -> 5 -> 8.
    val p = Workloads.baseParents(10, 3)
    assert(Workloads.reachable(p, -1, 1) == 3)
    assert(Workloads.reachable(p, -1, 16) == 10)
    assert(Workloads.reachable(p, 0, 2) == 2)
    assert(Workloads.reachable(p, 9, 4) == 0)
    p(6) = -1 // re-point drone 6 at HQ
    assert(Workloads.reachable(p, -1, 1) == 4)
    assert(Workloads.reachable(p, 0, 16) == 1)
  }

  // ---- spans ----

  test("self time is the span minus the union of its children") {
    val t = new Tracer(null)
    t.spans ++= Seq(
      Span(1, "req", 0, 100, 0, 1, 0, 0),
      Span(2, "a", 10, 40, 1, 1, 0, 0),
      Span(3, "b", 30, 50, 1, 1, 0, 0),
      Span(4, "c", 90, 120, 1, 1, 0, 0))
    val self = t.selfNs
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 30 && self(4) == 30)
  }

  test("layer shares split each span name's self time") {
    val t = new Tracer(null)
    // Two calls of "q": 100 ms each, 20 ms build and 10 ms action planning
    // (30 ms of planning in all); one "p" span, all build.
    t.spans ++= Seq(
      Span(1, "q", 0, 100000000L, 0, 1, 20000000L, 30000000L, 10000000L),
      Span(2, "q", 200000000L, 300000000L, 0, 2, 20000000L, 30000000L, 10000000L),
      Span(3, "p", 400000000L, 450000000L, 0, 3, 50000000L, 0, 0))
    val rows = Metrics.layerShares(t).map(_.toMap)
    assert(rows.map(_("span")) == Seq("\"p\"", "\"q\"", "\"total\""))
    val q = rows(1)
    assert(q("calls") == "2" && q("self_ms") == "200")
    assert(q("build_pct") == "20" && q("plan_pct") == "10" && q("exec_pct") == "70")
    assert(q("all_planning_pct") == "30")
    assert(rows(2)("build_pct") == "36" && rows(2)("exec_pct") == "56")
  }

  test("traced operations follow no period of a schedule") {
    Seq(2, 3, 7, 21).foreach { period =>
      (0 until period).foreach { phase =>
        val picks = (phase until 2000 by period).map(Workloads.tracedOp)
        assert(picks.count(identity) > picks.size / 4, s"period $period phase $phase")
        assert(picks.count(!_) > picks.size / 4, s"period $period phase $phase")
      }
    }
  }

  test("tracing overhead compares traced and untraced operations of a kind") {
    val s = Seq(("a", true, 110.0), ("a", false, 100.0), ("b", true, 330.0),
      ("b", false, 300.0), ("c", true, 5.0))
    assert(math.abs(Workloads.overheadPct(s) - 10.0) < 1e-9)
    assert(Workloads.overheadPct(s.take(1)) == 0.0)
  }

  test("mix weighting gives every run the nominal mix") {
    // Kind "a" is 3 of 4 per round; this run happened to serve 1 a, 3 b.
    val out = new Outcome
    out.byKind ++= Seq(("a", false, 10.0), ("b", false, 100.0),
      ("b", false, 100.0), ("b", false, 100.0))
    Workloads.weighByMix(out, Map("a" -> 3.0, "b" -> 1.0))
    assert(out.opP50 == 10.0)
    assert(math.abs(out.opsPerS - 4 * 1000 / (3 * 10.0 + 100.0)) < 1e-9)
    // A mix some kind of which never ran has no weighting.
    val partial = new Outcome
    partial.byKind ++= Seq(("a", false, 5.0), ("a", false, 7.0))
    assertThrows[IllegalArgumentException](
      Workloads.weighByMix(partial, Map("a" -> 3.0, "b" -> 1.0)))
  }

  test("a closed loop runs a whole round however short its time") {
    val c = new Ctx(null, new Tracer(null), 1, null, null, traced = false)
    val out = new Outcome
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    assert(Workloads.closedLoop(c, 0.0, out, i => s"k${i % 3}", minOps = 7)(seen += _) == 7)
    assert(seen == (0 until 7) && out.lat.size == 7)
    assert(out.byKind.map(_._1).distinct.sorted == Seq("k0", "k1", "k2"))
    // The timed phase starts at the next round the warm-up did not reach.
    assert(Workloads.nextRound(0, 72) == 0)
    assert(Workloads.nextRound(25, 72) == 72)
    assert(Workloads.nextRound(72, 72) == 72)
    assert(Workloads.nextRound(73, 7) == 77)
  }

  test("stream figures count events, not the merge plan's reads of them") {
    val b = Seq(ProgressLog.Batch(0, 400, 10, Map.empty.withDefaultValue(1.0)),
      ProgressLog.Batch(1, 80, 20, Map.empty.withDefaultValue(1.0)))
    val f = Metrics.streamFigures(b, 20, 2, Seq(3.0))
    assert(f("CdcStream.rows_per_batch_p50") == 120.0)
    assert(f("CdcStream.backlog_files_max") == 10.0)
  }

  // ---- metric names against BENCHMARK.json ----

  private lazy val bench: JsonNode =
    new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def entries(key: String): Seq[JsonNode] = bench.get(key).elements.asScala.toSeq

  test("BENCHMARK.json declares exactly the metrics the harness emits") {
    def declared(key: String) =
      entries(key).map(e => Metrics.M(e.get("name").asText, e.get("unit").asText))
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
    assert(entries("workloads").map(_.get("name").asText) == Workloads.Names)
    assert(entries("end_to_end").exists(e => e.get("name").asText == "setup_s" &&
      e.get("unit").asText == "s" && e.get("better").asText == "lower"))
  }

  test("metric names and units follow the name grammar") {
    val name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
    val unit = "[A-Za-z0-9_/%.-]{1,16}".r
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    all.foreach { m =>
      assert(name.matches(m.name), m.name)
      assert(unit.matches(m.unit), m.unit)
    }
    assert(all.map(_.name).distinct.size == all.size)
    assert(Metrics.PerLayer.size <= 100)
    Workloads.Names.foreach(w => assert(name.matches(w), w))
  }

  test("the result line has exactly the four keys") {
    val line = Metrics.resultLine(12, 0,
      Metrics.EndToEnd.map(m => m -> 1.25))
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames.asScala.toSeq.sorted ==
      Seq("attempted", "correct", "failed", "metrics"))
    assert(node.get("correct").asBoolean && node.get("attempted").asLong == 12)
    assert(node.get("metrics").get("op_p50_ms").get("value").asDouble == 1.25)
    assert(!new ObjectMapper().readTree(Metrics.resultLine(3, 1, Nil))
      .get("correct").asBoolean)
  }
}
