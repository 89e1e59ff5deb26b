package graft

import graft.graph.{Closure, Traverse}
import org.apache.spark.sql.functions.{col, sum, when}
import org.scalatest.funsuite.AnyFunSuite

/** Closure correctness: bag path multiplicities must equal the expanded
  * frontier walk's row counts — the closure is a physical rewrite of the
  * walk, never a semantic change.
  */
class ClosureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("diamond multiplicity: two paths to the sink, counted not deduped") {
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("parent", "child")
    val rows = Closure.closureSmall(e, maxDepth = 3)
      .as[(String, String, Int, Long)].collect().toSet
    assert(rows.contains(("a", "b", 1, 1L)))
    assert(rows.contains(("a", "c", 1, 1L)))
    assert(rows.contains(("a", "d", 2, 2L)), s"diamond must count 2: $rows")
  }

  test("closure equals the expanded walk on random graphs (bag semantics)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val nodes = ('a' to 'h').map(_.toString)
    val edgeGen = for {
      p <- Gen.oneOf(nodes); c <- Gen.oneOf(nodes) if p != c
    } yield (p, c)
    (1 to 3).foreach { i =>
      val es = Gen.listOfN(12, edgeGen)(Gen.Parameters.default, Seed(7L + i))
        .getOrElse(Nil).distinct
      val e = es.toDF("parent", "child")
      val closure = Closure.closureSmall(e, maxDepth = 4)
        .as[(String, String, Int, Long)].collect()
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._4).sum).toMap
      nodes.take(3).foreach { src =>
        val walked = Traverse.expand(Seq(src).toDF("node"), e, maxDepth = 4)
          .groupBy("node").count()
          .as[(String, Long)].collect().toMap
        CacheRegistry.releaseAll()
        val fromClosure = closure.collect {
          case ((s, d), n) if s == src => d -> n
        }
        assert(fromClosure == walked,
          s"seed $src case $i: closure $fromClosure != walk $walked")
      }
    }
  }

  test("closureAuto refuses over-cap graphs, memoizes file-backed ones") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("parent", "child")
    assert(Closure.closureAuto(e, maxDepth = 2, maxEdges = 2L,
        maxDistributedEdges = 2L).isEmpty,
      "3 edges over BOTH caps must refuse every closure tier")
    // In-memory edges (LocalRelation): computed, not memoized — two
    // different graphs must not share a closure.
    val g1 = Closure.closureAuto(e, maxDepth = 3).get
      .as[(String, String, Int, Long)].collect().toSet
    val e2 = Seq(("x", "y")).toDF("parent", "child")
    val g2 = Closure.closureAuto(e2, maxDepth = 3).get
      .as[(String, String, Int, Long)].collect().toSet
    assert(g1 != g2 && g2 == Set(("x", "y", 1, 1L)))
  }

  test("distributed closure is bit-identical to the driver closure") {
    // The doubling decomposition (exact-L prefix ⋈ ≤ext suffix) must
    // reproduce closureSmall's rows exactly — same (src, dst, lvl)
    // set, same bag multiplicities — on shapes that exercise diamonds
    // (multiplicity merging), cycles (walks revisit nodes), and odd
    // depths (the final partial round, ext < covered).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val nodes = ('a' to 'h').map(_.toString)
    val edgeGen = for {
      p <- Gen.oneOf(nodes); c <- Gen.oneOf(nodes) if p != c
    } yield (p, c)
    val cases = (1 to 3).map { i =>
      Gen.listOfN(12, edgeGen)(Gen.Parameters.default, Seed(31L + i))
        .getOrElse(Nil).distinct
    } :+ Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a"))
    for (es <- cases; depth <- Seq(1, 3, 4, 7)) {
      val e = es.toDF("parent", "child")
      val small = Closure.closureSmall(e, maxDepth = depth)
        .as[(String, String, Int, Long)].collect().toSet
      val dist = Closure.closureDistributed(e, maxDepth = depth).get
        .as[(String, String, Int, Long)].collect().toSet
      assert(dist == small, s"depth $depth edges $es")
    }
  }

  test("distributed closure bails to None past the row cap") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("parent", "child")
    assert(Closure.closureDistributed(e, maxDepth = 8, maxRows = 5L).isEmpty,
      "a closure larger than maxRows must return None, not materialize")
  }

  test("closureAuto uses the distributed tier between the caps") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("parent", "child")
    // Driver cap 2 < 3 edges <= distributed cap: the middle tier must
    // produce the same closure the driver path would.
    val viaAuto = Closure.closureAuto(e, maxDepth = 3, maxEdges = 2L)
      .get.as[(String, String, Int, Long)].collect().toSet
    val viaSmall = Closure.closureSmall(e, maxDepth = 3)
      .as[(String, String, Int, Long)].collect().toSet
    assert(viaAuto == viaSmall)
    // Both caps exceeded: still None — the walk stays the plan.
    assert(Closure.closureAuto(e, maxDepth = 3, maxEdges = 2L,
      maxDistributedEdges = 2L).isEmpty)
  }

  test("a null node ends a walk and never bridges two") {
    // Traverse.expand joins on parent = node and a null key never joins:
    // a→null is a walk of length 1, and null→b extends no walk.
    val e = Seq[(String, String)](("a", null), (null, "b"), ("b", "c"))
      .toDF("parent", "child")
    val walked = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 3)
      .as[(String, Int)].collect().toSeq
    CacheRegistry.releaseAll()
    assert(walked == Seq((null, 1)))
    val rows = Closure.closureSmall(e, maxDepth = 3)
      .as[(String, String, Int, Long)].collect().toSet
    assert(rows == Set(("a", null, 1, 1L), ("b", "c", 1, 1L)))
    assert(Closure.closureIndex(e, maxDepth = 3).pathCount("a", "b", 3) == 0L)
    assert(Closure.walkCountFrom(e, "a", 3) == Some(1L))
  }

  test("closureSmall fails loudly on path-multiplicity overflow") {
    // A small complete digraph under the edge cap grows bag counts as
    // ~(n-1)^lvl: 20 nodes, depth 20 → 19^20 ≈ 4e25 >> Long.MaxValue.
    // A silent wrap would return wrong (possibly negative) path counts;
    // the contract is a nameable ArithmeticException instead.
    val nodes = (0 until 20).map(i => s"n$i")
    val dense = (for (a <- nodes; b <- nodes if a != b) yield (a, b))
      .toDF("parent", "child")
    val ex = intercept[ArithmeticException] {
      Closure.closureSmall(dense, maxDepth = 20).count()
    }
    assert(ex.getMessage.contains("overflow"))
  }

  test("index lookups equal closureSmall's filter + sum on generated graphs") {
    // For every (src, dst, L): PathIndex.pathCount == sum(n_paths) over
    // closureSmall rows with that src and dst and lvl <= L. Node pools mix
    // ASCII, multi-byte and 300-char ids; edges are drawn with
    // replacement (duplicates) and may be self-loops or close cycles;
    // the fixed cases add a diamond and an empty edge set.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val ids = Seq("a", "b", "c", "d", "é", "节点", "\uD83D\uDE81drone",
      "w" * 300, "w" * 299 + "x")
    val graphGen = for {
      pool <- Gen.choose(1, 6).flatMap(Gen.pick(_, ids))
      edges <- Gen.choose(0, 14).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.oneOf(pool.toSeq), Gen.oneOf(pool.toSeq))))
      depth <- Gen.choose(1, 5)
    } yield (edges, depth)
    val generated = (1 to 12).flatMap(i =>
      graphGen(Gen.Parameters.default, Seed(101L + i)))
    val diamond = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "a"), ("a", "b"))
    val cases = generated ++ Seq((diamond, 4), (Seq.empty[(String, String)], 3))
    assert(generated.exists { case (es, _) => es.exists(e => e._1 == e._2) })
    for ((es, depth) <- cases) {
      val e = es.toDF("parent", "child")
      val index = Closure.closureIndex(e, maxDepth = depth)
      val lens = Seq(-1L, 0L, 1L, depth.toLong)
      val sums = lens.map(l => sum(when(col("lvl") <= l, col("n_paths"))))
      val want = Closure.closureSmall(e, maxDepth = depth)
        .groupBy(col("src"), col("dst")).agg(sums.head, sums.tail: _*)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          lens.indices.map(i => if (r.isNullAt(i + 2)) 0L else r.getLong(i + 2)))
        .toMap
      val nodes = (es.flatMap(e => Seq(e._1, e._2)) :+ "absent").distinct
      for (s <- nodes; d <- nodes; (l, i) <- lens.zipWithIndex) {
        val expected = want.get((s, d)).fold(0L)(_(i))
        assert(index.pathCount(s, d, l) == expected,
          s"($s, $d, L=$l) depth $depth edges $es")
      }
    }
    // The diamond's duplicate a→b edge makes three walks a→b→d, a→b→d,
    // a→c→d.
    assert(Closure.closureIndex(diamond.toDF("parent", "child"), maxDepth = 2)
      .pathCount("a", "d", 2) == 3L)
  }

  test("closureIndex fails loudly on path-multiplicity overflow") {
    val nodes = (0 until 20).map(i => s"n$i")
    val dense = (for (a <- nodes; b <- nodes if a != b) yield (a, b))
      .toDF("parent", "child")
    val ex = intercept[ArithmeticException] {
      Closure.closureIndex(dense, maxDepth = 20)
    }
    assert(ex.getMessage.contains("overflow"))
  }

  test("pathCountsAuto serves the driver tier as a memoized index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pc").toString
    Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("parent", "child")
      .write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
    // A closure frame memoized first does not hide the driver tier.
    Closure.closureAuto(e, maxDepth = 3)
    val first = Closure.pathCountsAuto(e, maxDepth = 3)
    val index = first.flatMap(_.left.toOption)
      .getOrElse(fail(s"driver tier must serve an index: $first"))
    assert(index.pathCount("a", "c", 2) == 2L && index.pathCount("a", "c", 1) == 1L)
    assert(Closure.pathCountsAuto(e, maxDepth = 3).flatMap(_.left.toOption)
      .exists(_ eq index), "a repeated call must hit the memo")
    // A zero driver cap takes the distributed tier: the closure frame.
    val dist = Closure.pathCountsAuto(e, maxDepth = 3, maxEdges = 0L)
      .flatMap(_.toOption).getOrElse(fail("distributed tier must serve the frame"))
    assert(dist.as[(String, String, Int, Long)].collect().toSet ==
      Closure.closureSmall(e, maxDepth = 3).as[(String, String, Int, Long)]
        .collect().toSet)
    assert(Closure.pathCountsAuto(e, maxDepth = 3, maxEdges = 2L,
      maxDistributedEdges = 2L).isEmpty)
  }

  test("distributed closure fails loudly past Long-range multiplicities") {
    // Same dense graph: 19^20 ≈ 4e25 fits DECIMAL(38,0) but not Long —
    // the final range check must throw, never truncate on the cast.
    val nodes = (0 until 20).map(i => s"n$i")
    val dense = (for (a <- nodes; b <- nodes if a != b) yield (a, b))
      .toDF("parent", "child")
    intercept[ArithmeticException] {
      Closure.closureDistributed(dense, maxDepth = 20).get.count()
    }
  }

  test("file-backed plan keys change when the files are overwritten") {
    // Root paths alone would serve a stale closure/checkpoint after an
    // in-place overwrite; the key folds the listing (length + modTime),
    // so the rewritten table must miss the memo.
    val dir = java.nio.file.Files.createTempDirectory("graft_pk").toString
    Seq(("a", "b")).toDF("parent", "child")
      .write.mode("overwrite").parquet(dir)
    val k1 = graft.PlanKeys.planKey(spark.read.parquet(dir))
    assert(k1.isDefined)
    Thread.sleep(5) // ensure a distinct mtime even on coarse clocks
    Seq(("x", "y"), ("y", "z")).toDF("parent", "child")
      .write.mode("overwrite").parquet(dir)
    val k2 = graft.PlanKeys.planKey(spark.read.parquet(dir))
    assert(k2.isDefined && k1 != k2,
      "overwritten table produced the same plan key — stale-memo hazard")
  }
}
