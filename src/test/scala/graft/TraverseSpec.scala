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

  /** The walks `out`'s rows stand for: `sum(n)`, 0 when there are none. */
  private def walks(out: org.apache.spark.sql.DataFrame): Long =
    out.agg(coalesce(sum($"n"), lit(0L))).as[Long].head()

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
    assert(walks(out.filter($"node" === "d")) == 2)
  }

  test("payload/carry columns shadowing node or lvl are rejected up front") {
    // The frontier projects by bare name; a payload column named like
    // nodeCol, or a carry named 'lvl' or 'n', would hit
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
    val seedN = Seq(("a", 9L)).toDF("node", "n")
    val e3 = intercept[IllegalArgumentException] {
      Traverse.expand(seedN, edges("a" -> "b"), maxDepth = 2)
    }
    assert(e3.getMessage.contains("reserved"), e3.getMessage)
    val payloadN = Seq(("a", "b", 1L)).toDF("parent", "child", "n")
    val e4 = intercept[IllegalArgumentException] {
      Traverse.expand(Seq("a").toDF("node"), payloadN, maxDepth = 2)
    }
    assert(e4.getMessage.contains("reserved"), e4.getMessage)
  }

  test("cycle: duplicates exactly up to the depth bound (no visited set)") {
    val e = edges("a" -> "b", "b" -> "a")
    val out = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 4)
    // paths: b(1), a(2), b(3), a(4) — one walk per level
    assert(walks(out) == 4)
  }

  test("depth monotonicity: result(d) subset of result(d+1)") {
    val e = edges("a" -> "b", "b" -> "c", "b" -> "d", "c" -> "e")
    val d2 = walks(Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 2))
    val d3 = walks(Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 3))
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
    CacheRegistry.releaseAll()
    val out = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 100)
    // The edge cache and one cache per level walked: the first cadence
    // checkpoint sees the empty frontier and ends the walk.
    assert(CacheRegistry.size < 10, s"${CacheRegistry.size} caches planted")
    assert(walks(out) == 1)
    CacheRegistry.releaseAll()
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
