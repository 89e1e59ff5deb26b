package graft

import graft.graph.GraphAlgos
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the degree-ordered triangle counter: closed-form graphs,
  * brute-force parity fuzz, input normalization, and the no-cartesian
  * plan property.
  */
class GraphAlgosSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphAlgos.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("K5: every node sits in C(4,2)=6 triangles") {
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val got = counts(k5)
    assert(got == (0L until 5L).map(_ -> 6L).toMap)
  }

  test("bipartite graphs are triangle-free") {
    val bip = for (a <- 0L until 4L; b <- 10L until 14L) yield (a, b)
    assert(counts(bip).isEmpty)
  }

  test("duplicates, self-loops, and reversed orientations normalize away") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L))
    assert(counts(messy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("fuzz: parity with brute-force triangle enumeration") {
    val rnd = new scala.util.Random(909)
    for (_ <- 0 until 4) {
      val n = 12
      val edges = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if rnd.nextDouble() < 0.4
      } yield (a, b)).toSeq
      val es = edges.toSet
      val want = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        c <- (b + 1) until n.toLong
        if es((a, b)) && es((b, c)) && es((a, c))
      } yield Seq(a, b, c)).flatten
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(counts(edges) == want, "diverged from brute force")
    }
  }

  test("pagerank: symmetric graphs converge to uniform rank") {
    // On a regular (here: complete) graph every node ends at exactly 1/N.
    val k4 = for (a <- 0L until 4L; b <- (a + 1) until 4L) yield (a, b)
    val ranks = GraphAlgos.pageRank(k4.toDF("src", "dst"), iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(ranks.size == 4)
    ranks.values.foreach(r => assert(math.abs(r - 0.25) < 1e-12))
  }

  test("pagerank: ranks sum to 1 and order follows degree") {
    // Star plus a pendant: hub must outrank leaves, leaves outrank none.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (4L, 5L))
    val ranks = GraphAlgos.pageRank(star.toDF("src", "dst"), iterations = 30)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    assert(ranks(0L) > ranks(4L), "hub must outrank mid-degree node")
    assert(ranks(4L) > ranks(5L), "degree-2 node must outrank pendant")
    assert(math.abs(ranks(1L) - ranks(2L)) < 1e-12, "symmetric leaves equal")
  }

  test("pagerank matches a driver-side power iteration exactly") {
    val rnd = new scala.util.Random(311)
    val n = 8
    val edges = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong
      if rnd.nextDouble() < 0.5
    } yield (a, b)).toSeq
    val got = GraphAlgos.pageRank(edges.toDF("src", "dst"), iterations = 15)
      .as[(Long, Double)].collect().toMap
    // Driver reference on the same undirected expansion.
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val nodes = adj.keys.toSeq.sorted
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 15) {
      r = nodes.map { v =>
        val in = nodes.filter(u => adj(u).contains(v))
          .map(u => r(u) / adj(u).size).sum
        v -> (0.15 / nodes.size + 0.85 * in)
      }.toMap
    }
    nodes.foreach(v => assert(math.abs(got(v) - r(v)) < 1e-9,
      s"node $v: ${got(v)} vs ${r(v)}"))
  }

  test("plan: three hash joins, no cartesian or nested loop") {
    val plan = GraphAlgos.triangleCounts(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  private def ssspOf(edges: Seq[(Long, Long, Long)], src: Long,
      hops: Int): Map[Long, Long] =
    GraphAlgos.sssp(edges.toDF("src", "dst", "w"),
        Seq(src).toDF("node"), maxHops = hops)
      .as[(Long, Long)].collect().toMap

  test("sssp: weighted path graph yields cumulative distances") {
    // 0 -1-> 1 -2-> 2 -3-> 3 (directed); dist = prefix sums.
    val e = Seq((0L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 3L))
    assert(ssspOf(e, 0L, 8) == Map(0L -> 0L, 1L -> 1L, 2L -> 3L, 3L -> 6L))
  }

  test("sssp: bounded hops are the semantics, not a convergence cutoff") {
    // Expensive direct edge (10) vs cheap 3-hop detour (3x2=6): within
    // 1 hop the direct edge wins; with 3 hops the detour replaces it.
    val e = Seq((0L, 9L, 10L),
      (0L, 1L, 2L), (1L, 2L, 2L), (2L, 9L, 2L))
    assert(ssspOf(e, 0L, 1)(9L) == 10L)
    assert(ssspOf(e, 0L, 3)(9L) == 6L)
  }

  test("sssp: cycles never lower costs below the acyclic optimum") {
    // 0 <-> 1 (weight 1 each way) plus 1 -> 2: the 2-cycle must not
    // produce distances below the simple-path costs.
    val e = Seq((0L, 1L, 1L), (1L, 0L, 1L), (1L, 2L, 1L))
    assert(ssspOf(e, 0L, 8) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("sssp fuzz: parity with driver-side Bellman-Ford") {
    val rnd = new scala.util.Random(515)
    for (_ <- 0 until 3) {
      val n = 10
      val edges = (for {
        a <- 0L until n.toLong; b <- 0L until n.toLong
        if a != b && rnd.nextDouble() < 0.3
      } yield (a, b, 1L + rnd.nextInt(9))).toSeq
      val hops = 5
      val got = ssspOf(edges, 0L, hops)
      // Driver Bellman-Ford, same bounded-hop semantics.
      var dist = Map(0L -> 0L)
      for (_ <- 1 to hops) {
        val relaxed = edges.flatMap { case (s, t, w) =>
          dist.get(s).map(ds => t -> (ds + w))
        }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).min }
      }
      assert(got == dist, "diverged from driver Bellman-Ford")
    }
  }

  test("wcc labels two disjoint triangles with their min members") {
    val twoTris = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val labs = graft.pipeline.Dedup.components(
        twoTris.toDF("src", "dst"), aCol = "src", bCol = "dst")
      .as[(Long, Long)].collect().toMap
    assert(labs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("k-core peels pendants and keeps the clique") {
    // K5 (every node degree 4) plus a pendant chain hanging off node 0:
    // the 3-core must be exactly the K5 — the chain peels away over
    // multiple rounds (each peel exposes the next pendant).
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val chain = Seq((0L, 10L), (10L, 11L), (11L, 12L))
    val core = GraphAlgos.kCore((k5 ++ chain).toDF("src", "dst"), k = 3)
      .as[(Long, Long)].collect().toMap
    assert(core.keySet == (0L until 5L).toSet, "only the clique survives")
    assert(core.values.forall(_ >= 3), "every core degree is >= k")
    assert(core(0L) == 4L, "pendant edges must not count in core degree")
  }

  test("k-core fuzz: parity with driver-side peeling on random graphs") {
    val rnd = new scala.util.Random(717)
    for (trial <- 0 until 3) {
      val n = 14
      val edges = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if rnd.nextDouble() < 0.35
      } yield (a, b)).toSeq
      val k = 3
      // Driver reference: peel to fixpoint on the undirected edge set.
      var es = edges.toSet
      var stable = false
      while (!stable) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, o) => v -> o.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(e => keep(e._1) && keep(e._2))
        stable = next == es
        es = next
      }
      val wantDeg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
      val got = GraphAlgos.kCore(edges.toDF("src", "dst"), k)
        .as[(Long, Long)].collect().toMap
      assert(got == wantDeg, s"trial $trial diverged from driver peel")
    }
  }

  test("k-core of a sparse graph is empty, and that converges cleanly") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val core = GraphAlgos.kCore(path.toDF("src", "dst"), k = 2)
      .collect()
    assert(core.isEmpty, "a path has no 2-core")
  }

  test("sssp plan: equi-joins only, no cartesian or nested loop") {
    val df = GraphAlgos.sssp(
      Seq((0L, 1L, 1L), (1L, 2L, 2L)).toDF("src", "dst", "w"),
      Seq(0L).toDF("node"), maxHops = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  private def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    GraphAlgos.labelPropagation(edges.toDF("src", "dst"), rounds)
      .as[(Long, Long)].collect().toMap

  /** Driver-side reference: the same synchronous vote. */
  private def lpaModel(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      labels = adj.map { case (n, nbrs) =>
        val freq = nbrs.map(labels).groupBy(identity).view.mapValues(_.size)
        n -> freq.toSeq.map { case (l, c) => (-c, l) }.min._2
      }
    }
    labels
  }

  test("label propagation: closed forms — triangle absorbs, star oscillates") {
    val k3 = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    assert(lpa(k3, 5) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val twoTris = k3 ++ Seq((10L, 11L), (11L, 12L), (10L, 12L))
    assert(lpa(twoTris, 5) ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // A star has no stable labeling under synchronous votes: it
    // oscillates with period 2 — the FIXED-round contract makes that a
    // deterministic answer, not a convergence failure.
    val star = (1L to 4L).map(0L -> _)
    assert(lpa(star, 5) == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    assert(lpa(star, 4) == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("label propagation: random-graph parity with the driver model") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 30 + trial * 10
      val edges = (1 to n * 2).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      assert(lpa(edges, 4) == lpaModel(edges, 4), s"trial $trial")
    }
  }

  test("clustering coefficient: gate parity with the driver definition") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.GraphQueries.g6ClusteringCoeff(spark, sf)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // Driver truth: rebuild the co-supplier graph and check every node
    // with degree >= 2 via direct neighborhood-edge counting.
    val edges = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 49.5)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .as[(Long, Long)].collect().groupBy(_._1)
      .values.flatMap { g =>
        val s = g.map(_._2).distinct.sorted
        for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
      }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = adj.collect { case (n, nb) if nb.size >= 2 =>
      val tri = nb.toSeq.combinations(2).count {
        case Seq(u, v) => adj(u).contains(v)
      }.toLong
      n -> ((nb.size.toLong, tri,
        2.0 * tri / (nb.size.toLong * (nb.size - 1))))
    }
    assert(got == want)
    got.values.foreach { case (_, _, c) =>
      assert(c >= 0.0 && c <= 1.0, "coefficient must be a ratio")
    }
  }

  test("common-neighbor link prediction: never an existing edge, exact on a known graph") {
    import graft.queries.GraphQueries
    val sf = "/root/testdata/sf0.001"
    val rows = GraphQueries.g8CommonNeighbors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // Rebuild the co-supplier edge set driver-side.
    val edges = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 49.5)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .as[(Long, Long)].collect().groupBy(_._1)
      .values.flatMap { g =>
        val s = g.map(_._2).distinct.sorted
        for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
      }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { case (u, v, cn, j) =>
      assert(u < v, "pairs must be canonical")
      assert(!edges.contains((u, v)), s"($u,$v) is already an edge")
      val common = (adj(u) & adj(v)).size.toLong
      assert(common == cn, s"cn mismatch for ($u,$v)")
      val union = (adj(u) | adj(v)).size.toLong
      assert(math.abs(j - cn.toDouble / union) < 1e-12)
      assert(j > 0.0 && j <= 1.0)
    }
    // Completeness: every qualifying non-adjacent pair appears.
    val want = adj.keySet.toSeq.sorted.combinations(2).count {
      case Seq(u, v) => !edges.contains((u, v)) && (adj(u) & adj(v)).size >= 2
    }
    assert(rows.length == want)
  }

  test("assortativity: star is perfectly disassortative; parity with Pearson") {
    // K1,3: every edge pairs a degree-3 hub with a degree-1 leaf -> r = -1.
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val rStar = graft.graph.GraphAlgos.assortativity(star).head()
    assert(rStar.getLong(0) == 6L)
    assert(math.abs(rStar.getDouble(1) - (-1.0)) < 1e-12)
    // Mixed graph: compare against driver-side Pearson over (deg, deg)
    // endpoint pairs in both directions.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (4L, 5L))
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    val pairs = edges.flatMap(e =>
      Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
    val m = pairs.length.toDouble
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxy = pairs.map(p => p._1 * p._2).sum
    val (sxx, syy) = (pairs.map(p => p._1 * p._1).sum,
      pairs.map(p => p._2 * p._2).sum)
    val want = (m * sxy - sx * sy) /
      (math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy))
    val got = graft.graph.GraphAlgos
      .assortativity(edges.toDF("src", "dst")).head().getDouble(1)
    assert(math.abs(got - want) < 1e-12)
  }

  test("hits: closed form on a bipartite triple; max-normalized") {
    // edges 1->10, 1->11, 2->10; two rounds by hand:
    //   a1: 10 -> 2/2 = 1, 11 -> 1/2      h1: 1 -> 1, 2 -> (1)/(1.5) = 2/3
    //   a2 raw: 10 -> 1 + 2/3, 11 -> 1    a2: 10 -> 1, 11 -> 1/(5/3) = 0.6
    //   h2 raw: 1 -> 1.6, 2 -> 1          h2: 1 -> 1, 2 -> 0.625
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val got = graft.graph.GraphAlgos.hits(e, iterations = 2).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(got(1L)._1 - 1.0) < 1e-12)
    assert(math.abs(got(2L)._1 - 0.625) < 1e-12)
    assert(math.abs(got(10L)._2 - 1.0) < 1e-12)
    assert(math.abs(got(11L)._2 - 0.6) < 1e-9)
    // Bipartite: hubs carry no authority and vice versa (exact zeros).
    assert(got(1L)._2 == 0.0 && got(10L)._1 == 0.0)
    // Max normalization: the top score on each side is exactly 1.
    assert(got.values.map(_._1).max == 1.0 && got.values.map(_._2).max == 1.0)
  }

  test("personalized pagerank: closed form on a star; walk mass conserved") {
    // Star 1-2, 1-3, seed {1}, d=0.85, 2 iterations by hand:
    //   r1: 1 -> 0.15, 2 -> 0.425, 3 -> 0.425
    //   r2: 1 -> 0.85·0.85 + 0.15 = 0.8725, 2/3 -> 0.85·0.075 = 0.06375
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = graft.graph.GraphAlgos
      .personalizedPageRank(edges, seeds, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.8725) < 1e-12)
    assert(math.abs(got(2L) - 0.06375) < 1e-12)
    assert(math.abs(got(3L) - 0.06375) < 1e-12)
    // Undirected graph => no dangling mass: Σ rank == 1 at any iteration.
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // Unreached components stay EXACTLY absent: add an isolated edge.
    val withIsland = edges.unionByName(Seq((8L, 9L)).toDF("src", "dst"))
    val got2 = graft.graph.GraphAlgos
      .personalizedPageRank(withIsland, seeds, iterations = 3)
      .collect().map(r => r.getLong(0)).toSet
    assert(got2 == Set(1L, 2L, 3L), "walk must not invent island mass")
  }

  private def treeBtw(edges: Seq[(String, String)],
      depth: Int): Map[String, Long] =
    GraphAlgos.treeBetweenness(edges.toDF("parent", "child"), depth)
      .as[(String, Long)].collect().toMap

  /** Brute-force tree betweenness: for every unordered pair, walk both
    * ancestor chains to the LCA and count the interior nodes.
    */
  private def bruteTreeBtw(edges: Seq[(String, String)]): Map[String, Long] = {
    val parent = edges.map { case (p, c) => c -> p }.toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def chain(v: String): List[String] =
      v :: parent.get(v).map(chain).getOrElse(Nil)
    val acc = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      ci = chain(nodes(i)); cj = chain(nodes(j))
      if ci.last == cj.last // same component
    } {
      val shared = ci.reverse.zip(cj.reverse).takeWhile(p => p._1 == p._2)
      val lca = shared.last._1
      val path = ci.takeWhile(_ != lca) ++ List(lca) ++
        cj.takeWhile(_ != lca).reverse
      path.drop(1).dropRight(1).foreach(v => acc(v) += 1L)
    }
    nodes.map(v => v -> acc(v)).toMap
  }

  test("tree betweenness: hand values on the path a-b-c-d-e") {
    val p5 = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    // Interior load of a path: pairs crossing each node.
    val want = Map("a" -> 0L, "b" -> 3L, "c" -> 4L, "d" -> 3L, "e" -> 0L)
    assert(treeBtw(p5, 4) == want)
    assert(bruteTreeBtw(p5) == want, "brute-force harness self-check")
  }

  test("tree betweenness: star center carries all C(k,2) pairs") {
    val star = (1 to 6).map(i => "hub" -> s"n$i")
    val got = treeBtw(star, 1)
    assert(got("hub") == 15L && (1 to 6).forall(i => got(s"n$i") == 0L))
    // A height-1 forest fits maxDepth = 1 exactly.
    val stars = Seq("h1" -> "a", "h1" -> "b", "h1" -> "c", "h2" -> "d")
    assert(treeBtw(stars, 1) == bruteTreeBtw(stars))
  }

  test("tree betweenness: fuzz parity with pair enumeration on forests") {
    val rnd = new scala.util.Random(1404)
    for (trial <- 0 until 4) {
      val n = 18
      val roots = 1 + trial % 3 // 1..3 trees in the forest
      // Parent drawn from [0, i/2): strictly earlier (acyclic) and the
      // index at least halves per hop up, so height <= log2(n)+1 and
      // the round-per-level walk stays cheap.
      val edges = (roots until n).map { i =>
        s"v${rnd.nextInt(math.max(1, i / 2))}" -> s"v$i"
      }
      assert(treeBtw(edges, depth = 6) == bruteTreeBtw(edges),
        s"diverged from brute force on trial $trial")
    }
  }

  private def treeDist(edges: Seq[(String, String)],
      depth: Int): Map[String, (Long, Long)] =
    GraphAlgos.treeDistanceSums(edges.toDF("parent", "child"), depth)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  /** Brute-force distance sums via the ancestor-chain walk. */
  private def bruteTreeDist(
      edges: Seq[(String, String)]): Map[String, Long] = {
    val parent = edges.map { case (p, c) => c -> p }.toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def chain(v: String): List[String] =
      v :: parent.get(v).map(chain).getOrElse(Nil)
    val acc = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      ci = chain(nodes(i)); cj = chain(nodes(j))
      if ci.last == cj.last
    } {
      val shared = ci.reverse.zip(cj.reverse).takeWhile(p => p._1 == p._2)
      val d = (ci.length - shared.length) + (cj.length - shared.length)
      acc(nodes(i)) += d.toLong
      acc(nodes(j)) += d.toLong
    }
    nodes.map(v => v -> acc(v)).toMap
  }

  test("tree distance sums: hand values on the path a-b-c-d-e") {
    val p5 = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    val got = treeDist(p5, 4)
    val want = Map("a" -> 10L, "b" -> 7L, "c" -> 6L, "d" -> 7L, "e" -> 10L)
    assert(got.view.mapValues(_._1).toMap == want)
    assert(got.values.forall(_._2 == 5L), "component size rides along")
  }

  test("tree distance sums: star hub at distance 1 from every leaf") {
    val star = (1 to 6).map(i => "hub" -> s"n$i")
    val got = treeDist(star, 1)
    assert(got("hub")._1 == 6L)
    assert((1 to 6).forall(i => got(s"n$i")._1 == 11L)) // 1 + 2·5
    val stars = Seq("h1" -> "a", "h1" -> "b", "h1" -> "c", "h2" -> "d")
    assert(treeDist(stars, 1).view.mapValues(_._1).toMap ==
      bruteTreeDist(stars))
  }

  test("tree distance sums: fuzz parity + the betweenness identity") {
    val rnd = new scala.util.Random(777)
    for (trial <- 0 until 3) {
      val n = 16
      val edges = (1 until n).map { i =>
        s"v${rnd.nextInt(math.max(1, i / 2))}" -> s"v$i"
      }
      val got = treeDist(edges, 6)
      assert(got.view.mapValues(_._1).toMap == bruteTreeDist(edges),
        s"diverged from brute force on trial $trial")
      // Single tree: Σ btw = Σ_pairs (dist − 1) = ΣS/2 − C(n,2).
      val btwSum = treeBtw(edges, 6).values.sum
      val nNodes = got.size.toLong
      val distSum = got.values.map(_._1).sum
      assert(btwSum == distSum / 2 - nNodes * (nNodes - 1) / 2,
        s"centrality identity broke on trial $trial")
    }
  }

  test("tree betweenness: duplicate identical edges normalize away") {
    val p3dup = Seq("a" -> "b", "a" -> "b", "b" -> "c", "b" -> "c")
    assert(treeBtw(p3dup, 2) == Map("a" -> 0L, "b" -> 1L, "c" -> 0L))
  }

  test("tree betweenness: loud guards on non-forests and shallow depth") {
    val twoParents = Seq("a" -> "c", "b" -> "c")
    val e1 = intercept[IllegalArgumentException](treeBtw(twoParents, 2))
    assert(e1.getMessage.contains("not a forest"))
    val cycle = Seq("a" -> "b", "b" -> "a")
    val e2 = intercept[IllegalArgumentException](treeBtw(cycle, 3))
    assert(e2.getMessage.contains("no root"))
    val deep = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val e3 = intercept[IllegalArgumentException](treeBtw(deep, 1))
    assert(e3.getMessage.contains("no root"))
    // Height 2 at maxDepth = 1: the ancestor-pair table must not seed
    // the first hop, or b would find its root a and pass.
    val h2 = Seq("a" -> "b", "b" -> "c")
    val e4 = intercept[IllegalArgumentException](treeBtw(h2, 1))
    assert(e4.getMessage.contains("no root"))
    val e5 = intercept[IllegalArgumentException](treeDist(h2, 1))
    assert(e5.getMessage.contains("no root"))
  }
}
