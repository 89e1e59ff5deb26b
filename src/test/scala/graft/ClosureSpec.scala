package graft

import graft.graph.{Closure, Traverse}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Closure correctness: bag path multiplicities must equal the expanded
  * frontier walk's summed `n` — the closure is a physical rewrite of the
  * walk, never a semantic change. The reference is [[enumerate]], a
  * brute-force walk enumerator that shares no code with either tier.
  */
class ClosureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  type Rows = Set[(String, String, Int, Long)]

  /** Every walk of 1..maxDepth edges, one at a time, counted per (src,
    * dst, lvl). An edge from a null parent is a walk of its own, and no
    * walk continues through a null node: the distributed frame's rows.
    */
  private def enumerate(es: Seq[(String, String)], maxDepth: Int): Rows = {
    val n = scala.collection.mutable.Map[(String, String, Int), Long]()
    def walk(src: String, end: String, lvl: Int): Unit = {
      n((src, end, lvl)) = n.getOrElse((src, end, lvl), 0L) + 1
      if (lvl < maxDepth && end != null)
        es.filter(_._1 == end).foreach(e => walk(src, e._2, lvl + 1))
    }
    es.foreach(e => walk(e._1, e._2, 1))
    n.map { case ((s, d, l), k) => (s, d, l, k) }.toSet
  }

  /** The rows a [[Closure.PathIndex]] answers from: no null end. */
  private def indexed(rows: Rows): Rows =
    rows.filter(r => r._1 != null && r._2 != null)

  /** A closure frame's rows, summed per (src, dst, lvl): every consumer
    * sums n_paths, and the distributed frame keeps a duplicate edge as two
    * lvl-1 rows. */
  private def collected(df: DataFrame): Rows =
    df.as[(String, String, Int, Long)].collect()
      .groupMapReduce(r => (r._1, r._2, r._3))(_._4)(_ + _)
      .map { case ((s, d, l), k) => (s, d, l, k) }.toSet

  /** `index` against `want` for every pair of `nodes` and every length. */
  private def assertIndex(index: Closure.PathIndex, want: Rows,
      nodes: Seq[String], lens: Seq[Long], clue: => String): Unit =
    for (s <- nodes; d <- nodes; l <- lens) {
      val expected = want.iterator
        .collect { case (`s`, `d`, lvl, k) if lvl <= l => k }.sum
      assert(index.pathCount(s, d, l) == expected, s"($s, $d, L=$l) $clue")
    }

  test("diamond multiplicity: two paths to the sink, counted not deduped") {
    val es = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
    assert(enumerate(es, 3).contains(("a", "d", 2, 2L)))
    val index = Closure.closureIndex(es.toDF("parent", "child"), maxDepth = 3)
    assert(index.pathCount("a", "b", 1) == 1L && index.pathCount("a", "c", 1) == 1L)
    assert(index.pathCount("a", "d", 1) == 0L)
    assert(index.pathCount("a", "d", 2) == 2L, "diamond must count 2")
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
      val index = Closure.closureIndex(e, maxDepth = 4)
      nodes.take(3).foreach { src =>
        val walked = Traverse.expand(Seq(src).toDF("node"), e, maxDepth = 4)
          .groupBy("node").agg(org.apache.spark.sql.functions.sum("n"))
          .as[(String, Long)].collect().toMap
        CacheRegistry.releaseAll()
        val fromIndex = nodes.map(d => d -> index.pathCount(src, d, 4))
          .filter(_._2 > 0).toMap
        assert(fromIndex == walked,
          s"seed $src case $i: index $fromIndex != walk $walked")
      }
    }
  }

  test("pathCountsAuto refuses over-cap graphs, never shares in-memory ones") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("parent", "child")
    assert(Closure.pathCountsAuto(e, maxDepth = 2, maxEdges = 2L,
        maxDistributedEdges = 2L).isEmpty,
      "3 edges over BOTH caps must refuse every closure tier")
    // In-memory edges (LocalRelation): computed, not memoized — two
    // different graphs must not share a closure.
    def index(df: DataFrame) =
      Closure.pathCountsAuto(df, maxDepth = 3).flatMap(_.left.toOption).get
    val g1 = index(e)
    val g2 = index(Seq(("x", "y")).toDF("parent", "child"))
    assert(g1.pathCount("a", "d", 3) == 1L && g1.pathCount("x", "y", 3) == 0L)
    assert(g2.pathCount("x", "y", 3) == 1L && g2.pathCount("a", "d", 3) == 0L)
  }

  test("distributed closure is bit-identical to the driver closure") {
    // The doubling decomposition (exact-L prefix ⋈ ≤ext suffix) must
    // reproduce every walk — same (src, dst, lvl) set, same bag
    // multiplicities — on shapes that exercise diamonds (multiplicity
    // merging), cycles (walks revisit nodes), odd depths (the final
    // partial round, ext < covered), duplicates, self-loops and null ends;
    // the driver tier's index answers the same counts.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val nodes = ('a' to 'h').map(_.toString)
    val edgeGen = for {
      p <- Gen.oneOf(nodes); c <- Gen.oneOf(nodes) if p != c
    } yield (p, c)
    val cases = (1 to 3).map { i =>
      Gen.listOfN(12, edgeGen)(Gen.Parameters.default, Seed(31L + i))
        .getOrElse(Nil).distinct
    } ++ Seq(Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a")),
      Seq(("a", null), (null, "b"), ("b", "c"), ("b", "c"), ("c", "c"),
        ("c", "a")))
    for (es <- cases; depth <- Seq(1, 3, 4, 7)) {
      val e = es.toDF("parent", "child")
      val want = enumerate(es, depth)
      val dist = Closure.closureDistributed(e, maxDepth = depth).get
      assert(collected(dist) == want, s"depth $depth edges $es")
      assertIndex(Closure.closureIndex(e, maxDepth = depth), indexed(want),
        nodes, Seq(depth.toLong), s"depth $depth edges $es")
    }
  }

  test("distributed closure bails to None past the row cap") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("parent", "child")
    assert(Closure.closureDistributed(e, maxDepth = 8, maxRows = 5L).isEmpty,
      "a closure larger than maxRows must return None, not materialize")
  }

  test("pathCountsAuto's gate: index up to the driver cap, frame past it") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    def tier(es: Seq[(String, String)], maxEdges: Long,
        maxDistributedEdges: Long = Closure.DefaultMaxDistributedEdges) =
      Closure.pathCountsAuto(es.toDF("parent", "child"), maxDepth = 3,
        maxEdges = maxEdges, maxDistributedEdges = maxDistributedEdges)
    // Exactly `cap` edges stay on the driver, and the index is the closure.
    val atCap = tier(chain.take(3), 3L).flatMap(_.left.toOption)
      .getOrElse(fail("3 edges at a cap of 3 must take the driver tier"))
    assertIndex(atCap, enumerate(chain.take(3), 3), Seq("a", "b", "c", "d"),
      Seq(1L, 3L), "at the cap")
    // One past it, the distributed frame, with the same rows.
    val past = tier(chain, 3L).flatMap(_.toOption)
      .getOrElse(fail("4 edges past a cap of 3 must take the distributed tier"))
    assert(collected(past) == enumerate(chain, 3))
    assert(tier(chain, 3L, maxDistributedEdges = 4L).exists(_.isRight))
    // Past both caps: no closure, the caller walks.
    assert(tier(chain, 3L, maxDistributedEdges = 3L).isEmpty)
    // A zero cap still admits an empty edge set.
    assert(tier(Seq.empty, 0L).exists(_.isLeft))
  }

  test("a null node ends a walk and never bridges two") {
    // Traverse.expand joins on parent = node and a null key never joins:
    // a→null is a walk of length 1, and null→b extends no walk.
    val es = Seq[(String, String)](("a", null), (null, "b"), ("b", "c"))
    val e = es.toDF("parent", "child")
    val walked = Traverse.expand(Seq("a").toDF("node"), e, maxDepth = 3)
      .as[(String, Int, Long)].collect().toSeq
    CacheRegistry.releaseAll()
    assert(walked == Seq((null, 1, 1L)))
    val want = enumerate(es, 3)
    assert(want == Set(("a", null, 1, 1L), (null, "b", 1, 1L),
      (null, "c", 2, 1L), ("b", "c", 1, 1L)))
    assert(collected(Closure.closureDistributed(e, maxDepth = 3).get) == want)
    assertIndex(Closure.closureIndex(e, maxDepth = 3), indexed(want),
      Seq("a", "b", "c"), Seq(1L, 3L), "null ends")
    assert(Closure.walkCountFrom(e, "a", 3) == Some(1L))
  }

  test("index lookups equal the walk enumerator on generated graphs") {
    // For every (src, dst, L): PathIndex.pathCount == the walks src→dst of
    // length <= L. Node pools mix ASCII, multi-byte and 300-char ids;
    // edges are drawn with replacement (duplicates) and may be self-loops
    // or close cycles; the fixed cases add a diamond, null ends and an
    // empty edge set.
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
    val nullEnds = Seq[(String, String)](("a", null), (null, "b"),
      ("b", "c"), ("a", "b"), ("b", null))
    val cases = generated ++ Seq((diamond, 4), (nullEnds, 3),
      (Seq.empty[(String, String)], 3))
    assert(generated.exists { case (es, _) => es.exists(e => e._1 == e._2) })
    for ((es, depth) <- cases) {
      val index = Closure.closureIndex(es.toDF("parent", "child"), maxDepth = depth)
      val nodes = (es.flatMap(e => Seq(e._1, e._2)) :+ "absent").distinct
        .filter(_ != null)
      assertIndex(index, indexed(enumerate(es, depth)), nodes,
        Seq(-1L, 0L, 1L, depth.toLong), s"depth $depth edges $es")
    }
    // The diamond's duplicate a→b edge makes three walks a→b→d, a→b→d,
    // a→c→d.
    assert(Closure.closureIndex(diamond.toDF("parent", "child"), maxDepth = 2)
      .pathCount("a", "d", 2) == 3L)
  }

  test("closureIndex fails loudly on path-multiplicity overflow") {
    // A small complete digraph under the edge cap grows bag counts as
    // ~(n-1)^lvl: 20 nodes, depth 20 → 19^20 ≈ 4e25 >> Long.MaxValue.
    // A silent wrap would return wrong (possibly negative) path counts;
    // the contract is a nameable ArithmeticException instead.
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
    val es = Seq(("a", "b"), ("b", "c"), ("a", "c"))
    es.toDF("parent", "child").write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
    val first = Closure.pathCountsAuto(e, maxDepth = 3)
    val index = first.flatMap(_.left.toOption)
      .getOrElse(fail(s"driver tier must serve an index: $first"))
    assert(index.pathCount("a", "c", 2) == 2L && index.pathCount("a", "c", 1) == 1L)
    assert(Closure.pathCountsAuto(e, maxDepth = 3).flatMap(_.left.toOption)
      .exists(_ eq index), "a repeated call must hit the memo")
    // A zero driver cap takes the distributed tier: the closure frame.
    val dist = Closure.pathCountsAuto(e, maxDepth = 3, maxEdges = 0L)
      .flatMap(_.toOption).getOrElse(fail("distributed tier must serve the frame"))
    assert(collected(dist) == enumerate(es, 3))
    assert(Closure.pathCountsAuto(e, maxDepth = 3, maxEdges = 2L,
      maxDistributedEdges = 2L).isEmpty)
  }

  test("a cold driver-tier build reads the edges once") {
    // The bounded collect is its own size probe: no count job before it.
    val dir = java.nio.file.Files.createTempDirectory("graft_once").toString
    Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("parent", "child")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
    var built: Option[Either[Closure.PathIndex, DataFrame]] = None
    val cold = JobWatch(spark) { built = Closure.pathCountsAuto(e, maxDepth = 3) }
    assert(built.exists(_.isLeft), s"3 edges must take the driver tier: $built")
    val collect = JobWatch(spark)(
      e.limit(Closure.DriverPreferredMaxEdges.toInt + 1).collect())
    assert(cold.jobs <= collect.jobs, s"cold build $cold vs one collect $collect")
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
