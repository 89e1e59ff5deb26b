package graft

import graft.graph.{Closure, Traverse}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests for the recursion operator (SURVEY.md §5 plan):
  * depth monotonicity and bag-semantics walk counting on random graphs.
  * Raw ScalaCheck generators sampled with a fixed seed (no scalatestplus
  * bridge in the offline dependency set); each case spins Spark jobs, so
  * the sample count is small but the cases are re-derivable.
  */
class TraversePropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Random DAG: edges only go from lower to higher node id — acyclic by
  // construction, so brute-force path enumeration terminates.
  private val dagGen: Gen[List[(String, String)]] = for {
    n <- Gen.choose(2, 8)
    edges <- Gen.listOf(for {
      a <- Gen.choose(0, n - 2)
      b <- Gen.choose(a + 1, n - 1)
    } yield (s"v$a", s"v$b"))
  } yield edges.distinct

  private def samples(count: Int): Seq[List[(String, String)]] =
    (0 until count).flatMap(i =>
      dagGen(Gen.Parameters.default, Seed(42L + i))).filter(_.nonEmpty)

  test("depth monotonicity: result(d) rows are identical within result(d+1)") {
    samples(8).foreach { edges =>
      val e = edges.toDF("parent", "child")
      val seed = Seq("v0").toDF("node")
      val d = 1 + edges.size % 4
      def counts(depth: Int) =
        Traverse.expand(seed, e, depth).groupBy("node", "lvl").agg(sum("n"))
          .as[(String, Int, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
      val rd = counts(d)
      val rd1 = counts(d + 1)
      rd.foreach { case (k, c) =>
        assert(rd1.getOrElse(k, 0L) == c,
          s"depth-$d rows must persist in depth-${d + 1} run (edges=$edges)")
      }
    }
  }

  /** Brute force: every walk of 1..depth edges from each (origin, node)
    * seed, one at a time, counted per (origin, tag, node, lvl) — the tag
    * is the payload of the walk's last edge. A null node extends no walk.
    */
  private def enumerate(es: Seq[(String, String, String)],
      seeds: Seq[(String, String)], depth: Int): Map[(String, String, String, Int), Long] = {
    val n = scala.collection.mutable.Map[(String, String, String, Int), Long]()
    def walk(origin: String, end: String, lvl: Int): Unit =
      if (end != null) es.filter(_._1 == end).foreach { case (_, c, tag) =>
        n((origin, tag, c, lvl)) = n.getOrElse((origin, tag, c, lvl), 0L) + 1
        if (lvl < depth) walk(origin, c, lvl + 1)
      }
    seeds.foreach { case (o, s) => walk(o, s, 1) }
    n.toMap
  }

  test("path counts on random DAGs equal brute-force enumeration") {
    samples(8).foreach { edges =>
      val e = edges.toDF("parent", "child")
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def paths(from: String, depth: Int): Long =
        if (depth == 0) 0L
        else adj.getOrElse(from, Nil).map(n => 1L + paths(n, depth - 1)).sum
      val expected = paths("v0", 8)
      val got = Traverse.expand(Seq("v0").toDF("node"), e, 8)
        .agg(sum("n")).as[Long].head()
      assert(got == expected, s"edges=$edges")
    }
    // Generated graphs with a payload column: edges drawn with replacement
    // from a small pool (duplicates, self-loops, cycles, null ends) of
    // ASCII, multi-byte and 300-char ids; several seeds per graph, with
    // carry values, duplicates and a null node.
    val ids = Seq("a", "b", "é", "节点", "\uD83D\uDE81drone", "w" * 300,
      "w" * 299 + "x", null)
    val caseGen = for {
      pool <- Gen.choose(1, 5).flatMap(Gen.pick(_, ids)).map(_.toSeq)
      edges <- Gen.choose(0, 9).flatMap(Gen.listOfN(_, Gen.zip(
        Gen.oneOf(pool), Gen.oneOf(pool), Gen.oneOf("t", "ü", null))))
      seeds <- Gen.choose(1, 3).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.oneOf("o1", "o2", null), Gen.oneOf(pool))))
      depth <- Gen.choose(1, 6)
    } yield (edges, seeds, depth)
    val generated = (1 to 16).flatMap(i =>
      caseGen(Gen.Parameters.default, Seed(501L + i)))
    assert(generated.exists(_._1.exists(e => e._1 == e._2)))
    assert(generated.exists(_._1.exists(e => e._1 == null || e._2 == null)))
    assert(generated.exists(c => c._1.distinct.size < c._1.size))
    for ((es, seeds, depth) <- generated) withClue(s"depth $depth seeds $seeds edges $es: ") {
      val e = es.toDF("parent", "child", "tag")
      val got = Traverse.expand(seeds.toDF("origin", "node"), e, depth)
        .groupBy("origin", "tag", "node", "lvl").agg(sum("n"))
        .as[(String, String, String, Int, Long)].collect()
        .map(r => (r._1, r._2, r._3, r._4) -> r._5).toMap
      assert(got == enumerate(es, seeds, depth))
      val parentChild = e.select("parent", "child")
      seeds.map(_._2).filter(_ != null).distinct.foreach { root =>
        val rooted = Traverse.expand(Seq(root).toDF("node"), parentChild, depth)
          .agg(coalesce(sum("n"), lit(0L))).as[Long].head()
        assert(Closure.walkCountFrom(parentChild, root, depth).contains(rooted),
          s"root $root")
      }
      CacheRegistry.releaseAll()
    }
    // a→b→c→d→e→f with 4 copies of a self-loop on c: 7,427,413 walks of
    // length ≤ 13 — a bag walk lists each as a row, the counted walk keeps
    // one row per node and level.
    val loops = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f")) ++ Seq.fill(4)(("c", "c"))
    val le = loops.toDF("parent", "child")
    val started = System.nanoTime()
    val total = Traverse.expand(Seq("a").toDF("node"), le, 13)
      .agg(sum("n")).as[Long].head()
    val seconds = (System.nanoTime() - started) / 1e9
    CacheRegistry.releaseAll()
    assert(total == 7427413L && Closure.walkCountFrom(le, "a", 13).contains(total))
    assert(seconds < 3.0, f"depth-13 walk took $seconds%.2f s")
  }

  test("multi-seed carry columns partition the bag per origin") {
    // The ABAC shape: several seeds with a carry column. Each origin's
    // slice of the output must equal a single-seed run from that origin.
    samples(6).foreach { edges =>
      val e = edges.toDF("parent", "child")
      val seeds = Seq(("o0", "v0"), ("o1", "v1")).toDF("origin", "node")
      val multi = Traverse.expand(seeds, e, 6)
        .select("origin", "node", "lvl", "n").as[(String, String, Int, Long)]
        .collect().groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3, r._4)).sorted.toSeq).toMap
      Seq("o0" -> "v0", "o1" -> "v1").foreach { case (origin, root) =>
        val single = Traverse.expand(Seq(root).toDF("node"), e, 6)
          .select("node", "lvl", "n").as[(String, Int, Long)].collect().sorted.toSeq
        assert(multi.getOrElse(origin, Nil) == single,
          s"origin $origin diverged (edges=$edges)")
      }
      graft.CacheRegistry.releaseAll()
    }
  }

  test("keepPaths materializes exactly the brute-force path strings") {
    samples(6).foreach { edges =>
      val e = edges.toDF("parent", "child")
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def walk(prefix: String, from: String, depth: Int): Seq[String] =
        if (depth == 0) Nil
        else adj.getOrElse(from, Nil).flatMap { n =>
          val p = s"$prefix->$n"
          p +: walk(p, n, depth - 1)
        }
      val expected = walk("v0", "v0", 5).sorted
      val got = Traverse.expand(Seq("v0").toDF("node"), e, 5, keepPaths = true)
        .select("path", "n").as[(String, Long)].collect()
        .flatMap { case (p, k) => Seq.fill(k.toInt)(p) }.sorted.toSeq
      assert(got == expected, s"edges=$edges")
      graft.CacheRegistry.releaseAll()
    }
  }
}
