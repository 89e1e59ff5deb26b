package graft

import graft.graph.Traverse
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class TraverseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def edges(pairs: (String, String)*) =
    pairs.toDF("parent", "child")

  test("linear chain: one path per level") {
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d")
    val out = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 5)
      .select("node", "lvl").as[(String, Int)].collect().sorted
    assert(out.toSeq == Seq(("b", 1), ("c", 2), ("d", 3)))
  }

  test("bag semantics: diamond yields two paths to the sink") {
    // a -> b -> d ; a -> c -> d : two distinct paths, no dedup.
    val e = edges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
    val out = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 2)
    assert(out.filter($"node" === "d").count() == 2)
  }

  test("payload/carry columns shadowing node or lvl are rejected up front") {
    // The cached-level frontier projects by bare name; a payload column
    // named like nodeCol, or a carry named 'lvl', would hit
    // AMBIGUOUS_REFERENCE mid-loop. Must fail fast with a named error.
    val ePayload = Seq(("a", "b", "x")).toDF("parent", "child", "node")
    val e1 = intercept[IllegalArgumentException] {
      Traverse.expand(Seq("a").toDF("node"), ePayload, maxDepth = 2)
    }
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    val seedLvl = Seq(("a", 9)).toDF("node", "lvl")
    val e2 = intercept[IllegalArgumentException] {
      Traverse.expand(seedLvl, edges("a" -> "b"), maxDepth = 2)
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("wrong expectTinyFrontier hint: counted, probe-corrected, cost bounded to one cadence window") {
    // Broad 2-level fan-out (50 then 1000 nodes) with probeThreshold=10:
    // hinting tiny here is WRONG. The contract: (a) the contradiction is
    // counted; (b) semantics are unchanged; (c) only the levels inside the
    // first cadence window (checkpointEvery=2 → levels 1,2) lose their
    // cache — after the first probe corrects the hint, caching resumes,
    // so the wrong-hint run plants exactly 2 fewer per-level caches than
    // the unhinted run. That pins the worst-case recompute of a wrong
    // hint at sum(1..checkpointEvery) uncached edge probes.
    val fan = ((1 to 50).map(i => ("s", s"c$i")) ++
      (for { i <- 1 to 50; j <- 1 to 20 } yield (s"c$i", s"c${i}_$j"))).toSeq
    val e = fan.toDF("parent", "child")
    val seed = Seq("s").toDF("node")
    def run(hint: Boolean): (Set[(String, Int)], Int, Long) = {
      CacheRegistry.releaseAll()
      val before = Traverse.hintContradictedCount.get
      val out = Traverse.expand(seed, e, maxDepth = 4, checkpointEvery = 2,
        probeThreshold = 10, expectTinyFrontier = hint)
        .select("node", "lvl").as[(String, Int)].collect().toSet
      (out, CacheRegistry.size, Traverse.hintContradictedCount.get - before)
    }
    val (unhinted, unhintedRegs, unhintedHits) = run(hint = false)
    val (hinted, hintedRegs, hintedHits) = run(hint = true)
    assert(hinted == unhinted, "semantics must not depend on the hint")
    assert(unhintedHits == 0L)
    assert(hintedHits == 1L, "wrong hint must be counted at the first probe")
    assert(hintedRegs == unhintedRegs - 2,
      s"only the first cadence window (2 levels) may go uncached: " +
        s"hinted=$hintedRegs unhinted=$unhintedRegs")
    // A RIGHT hint (genuinely tiny linear walk) is never counted.
    val chain = edges("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    val before = Traverse.hintContradictedCount.get
    Traverse.expand(Seq("a").toDF("node"), chain, maxDepth = 4,
      checkpointEvery = 2, expectTinyFrontier = true)
      .count()
    assert(Traverse.hintContradictedCount.get == before)
    CacheRegistry.releaseAll()
  }

  test("cycle: duplicates exactly up to the depth bound (no visited set)") {
    val e = edges("a" -> "b", "b" -> "a")
    val out = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 4)
    // paths: b(1), a(2), b(3), a(4) — one row per level
    assert(out.count() == 4)
  }

  test("depth monotonicity: result(d) subset of result(d+1)") {
    val e = edges("a" -> "b", "b" -> "c", "b" -> "d", "c" -> "e")
    val d2 = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 2).count()
    val d3 = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 3).count()
    assert(d2 <= d3)
  }

  test("mutated edge sets are not served from a previous run's level caches") {
    // The per-level caches must key on the edge plan: an expand over a
    // snapshot-mutated edge set (different logical plan, same shape) has
    // to recompute, never alias the previous run's cached levels.
    val e1 = edges("a" -> "b", "b" -> "c")
    val out1 = Traverse.expand(Seq("a").toDF("node"), e1, maxDepth = 5)
      .select("node", "lvl").as[(String, Int)].collect().sorted
    assert(out1.toSeq == Seq(("b", 1), ("c", 2)))
    val e2 = graft.state.Snapshot.rewire(e1,
      Seq("c").toDF("child"), edges("b" -> "x", "x" -> "y"))
    val out2 = Traverse.expand(Seq("a").toDF("node"), e2, maxDepth = 5)
      .select("node", "lvl").as[(String, Int)].collect().sorted
    assert(out2.toSeq == Seq(("b", 1), ("x", 2), ("y", 3)))
    graft.CacheRegistry.releaseAll()
  }

  test("early exit stops at fixpoint before the bound") {
    val e = edges("a" -> "b")
    val out = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 100,
      checkpointEvery = 1)
    assert(out.count() == 1)
  }

  test("carry and payload columns propagate") {
    val e = Seq(("a", "b", "t1"), ("b", "c", "t2"))
      .toDF("parent", "child", "child_type")
    val seed = Seq(("orig", "a")).toDF("origin", "node")
    val out = Traverse.expand(seed, e, maxDepth = 3)
      .select("origin", "child_type", "node", "lvl")
      .as[(String, String, String, Int)].collect().sorted
    assert(out.toSeq == Seq(("orig", "t1", "b", 1), ("orig", "t2", "c", 2)))
  }

  test("keepPaths materializes distinct path strings for each bag row") {
    val e = edges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
    val paths = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 2,
        keepPaths = true)
      .filter($"node" === "d").select("path").as[String].collect().toSet
    assert(paths == Set("a->b->d", "a->c->d"),
      "diamond yields two distinct materialized paths")
  }
}
