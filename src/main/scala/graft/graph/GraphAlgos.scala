package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond reachability (Traverse/Closure):
  * algorithms whose naive relational form explodes on exactly the graphs
  * that matter at scale, implemented in their degree-aware forms.
  *
  * Storage footprint of the lazy-checkpoint loops (accepted trade-off,
  * r14 ADVICE #3): a fixed-round operator whose rounds are truncated
  * with `localCheckpoint(eager = false)` holds every round's score
  * vector persisted simultaneously while the caller's one action runs —
  * O(rounds · |V|) rows, NOT O(rounds · |E|) (only the |V|-sized
  * vectors checkpoint; the edge set persists once), all registered with
  * [[graft.CacheRegistry]] and released right after the query's action.
  * At the 100 TB target that is bounded by rounds(≤20) × the node
  * vector (~16 B/node + id), evictable to disk under MEMORY_AND_DISK —
  * orders of magnitude under the edge set the job already holds. The
  * alternative (eager per-round unpersist) needs a job barrier per
  * round, which r14 measured as the dominant local-mode cost. The
  * ACCUMULATING unions (tree-sweep frontiers) are deliberately NOT
  * checkpointed per round — that held O(rounds²) cumulative copies for
  * no lineage benefit (fixed r15).
  */
object GraphAlgos {

  /** Per-node triangle participation counts via degree-ordered edge
    * direction (the compact-forward scheme): every undirected edge is
    * directed from its lower-rank endpoint to the higher, where rank is
    * the (degree, id) tuple — so every triangle has exactly ONE apex node
    * holding two out-edges, each triangle is enumerated exactly once, and
    * the wedge join fans out only over out-adjacencies, which the
    * ordering bounds by O(√m) on ANY graph. The naive undirected wedge
    * join fans out Σ deg² — a single hub node in a 100 TB edge set makes
    * that quadratic; degree-ordering caps total wedge work at O(m^{3/2})
    * regardless of skew. Three hash joins, no cartesian anywhere.
    *
    * Input may contain duplicates, self-loops, or either orientation;
    * normalized internally. Returns (node, n_tri) for nodes in ≥ 1
    * triangle; per-node counts are orientation-independent, so the
    * result is comparable against any exact enumeration.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // The normalized edge set feeds three branches (degree aggregate,
    // wedge build, closing-edge probe); checkpoint it once or every
    // branch replays the caller's whole edge derivation — 113 exchange
    // nodes observed for g6's plan before this, 10 after.
    val und = graft.CacheRegistry.register(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint())
    val deg = und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // Directed low-rank -> high-rank, carrying the destination's rank so
    // the wedge join can order neighbor pairs without another join.
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val dir = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v"),
          col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      // Three consumers (both wedge sides + the closing-edge probe);
      // checkpointed so each reads the directed edges, not the two
      // degree joins that build them.
      .localCheckpoint()
    graft.CacheRegistry.register(dir)
    // Wedges from each apex u: ordered out-neighbor pairs (v, w); the
    // closing edge (v, w) is itself directed v -> w by the same rank.
    val e1 = dir.select(col("u"), col("v"), col("dv"))
    val e2 = dir.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val wedges = e1.join(e2, "u")
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    val triangles = wedges
      .join(dir.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** PageRank over the undirected view of `edges` (each edge contributes
    * both directions, so every node has out-degree ≥ 1 — no dangling
    * mass to redistribute). Fixed `iterations` of the power method at
    * `damping`: rank' = (1−d)/N + d·Σ_in rank/deg.
    *
    * Scale shape: the degree table joins once; each iteration is one
    * contributions join + one keyed sum — two shuffles on node — and the
    * rank vector is localCheckpointed every few rounds (previous
    * checkpoint released) so lineage stays shallow instead of replaying
    * k join-aggregates from parquet. At 100 TB the edge set is the big
    * side and stays partitioned by src across iterations; only the
    * k-element rank vector moves.
    *
    * Returns (node, rank) as exact doubles — callers gate on rounded
    * values (float sum ORDER differs across engines; the values agree to
    * ~1e-12 after 20 iterations, so 6-decimal rounding is stable).
    */
  def pageRank(edges: DataFrame, iterations: Int = 20,
      damping: Double = 0.85, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val out = graft.CacheRegistry.register(
      dir.join(deg, "src").localCheckpoint())
    // One aggregate returns N and the max node-id length: the byte-derived
    // broadcast gate (r15) decides whether the |V|-row rank vector fits a
    // broadcast. When it does, the per-round join builds a broadcast of
    // the RANKS side and the big cached edge table never re-exchanges —
    // Catalyst cannot make that call itself because the vector is
    // RDD-backed (no stats). Past the gate (100 TB-scale |V|) the hint
    // vanishes and the keyed-shuffle plan is unchanged.
    val st = out.agg(count_distinct(col("src")).as("n"),
      max(length(col("src").cast("string"))).as("kl")).head()
    val n = st.getLong(0)
    val bcRanks = fitsBroadcast(n, if (st.isNullAt(1)) 0L
      else st.getInt(1).toLong, 8)
    val base = (1.0 - damping) / n
    var ranks = graft.CacheRegistry.register(deg.select(
      col("src").as("node"), lit(1.0 / n).as("rank")).localCheckpoint())
    for (i <- 1 to iterations) {
      val contribs = out
        .join(bcIf(bcRanks)(ranks), out("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
      explainRound("pageRank contribs", i, contribs)
      ranks = contribs.groupBy(col("node"))
        .agg((lit(base) + lit(damping) * sum(col("c"))).as("rank"))
      // Shallow lineage without job barriers (r14): LAZY
      // localCheckpoint(eager=false) on the r12-tuned every-4 cadence —
      // lineage truncates immediately (the frame is RDD-backed) but
      // materialization defers to the caller's single action, so the
      // per-cadence eager scheduler barriers are gone. Values are
      // unchanged — same per-round arithmetic, only the trigger moves.
      // Kept at the cadence (not every round): each lazy checkpoint
      // still pays a physical-plan compilation at call time, and 20
      // compilations measurably beat the job savings at test scale.
      if (i % 4 == 0 || i == iterations)
        ranks = graft.CacheRegistry.register(
          ranks.localCheckpoint(eager = false))
    }
    ranks
  }

  /** HITS (hubs & authorities) on a DIRECTED graph — the link-analysis
    * companion to [[pageRank]]: authority(d) = Σ hub(s) over in-edges,
    * hub(s) = Σ authority(d) over out-edges, iterated. Normalization is
    * by the MAX score, not the usual L2 norm — max is order-independent
    * where a distributed Σx² encodes partition order into low bits;
    * the ranking fixed point is identical and the cross-engine contract
    * (round-6 after k rounds, the g2 discipline) stays clean.
    *
    * Per iteration: two equi-joins + two keyed sums (the edge set is
    * the partitioned big side, only the score vectors move) + two
    * 1-row max aggregates broadcast back — the allowed scalar
    * crossJoin shape. localCheckpoint on the pageRank cadence keeps
    * lineage shallow. Returns (node, hub, auth) with 0.0 for sides a
    * node does not participate in.
    */
  def hits(edges: DataFrame, iterations: Int = 8, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = graft.CacheRegistry.register(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().localCheckpoint())
    // Byte-derived broadcast gate over the LARGER score vector (hubs =
    // distinct src, authorities = distinct dst), measured in one pass of
    // the cached edge set (r15): under the gate every per-round join
    // broadcasts the score side and the bulk edge table never
    // re-exchanges — 2·iterations exchanges of the big side gone. Past
    // the gate the keyed-shuffle plan is unchanged.
    val st = e.agg(
      greatest(count_distinct(col("src")), count_distinct(col("dst")))
        .as("n"),
      greatest(max(length(col("src").cast("string"))),
        max(length(col("dst").cast("string")))).as("kl")).head()
    val bcVec = fitsBroadcast(st.getLong(0),
      if (st.isNullAt(1)) 0L else st.getInt(1).toLong, 8)
    var hub = graft.CacheRegistry.register(
      e.select(col("src").as("node")).distinct()
        .withColumn("h", lit(1.0)).localCheckpoint())
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      // The RAW aggregates are checkpointed, not the normalized vectors:
      // the scalar-max branch reads each raw frame a second time, so an
      // untruncated chain both doubles per round (2^k plan copies by
      // round k — measured 80 s for 8 rounds at sf0.1) and recomputes
      // every join-aggregate twice. r14: the checkpoints are LAZY
      // (eager=false — lineage truncated immediately, materialization
      // deferred to the caller's single action), so the 2·iterations
      // eager job barriers are gone while max + normalize stay two
      // cheap reads of one cached 15-20k-row frame per round.
      val fromHub = e.join(bcIf(bcVec)(hub), e("src") === hub("node"))
        .groupBy(col("dst").as("anode")).agg(sum(col("h")).as("ar"))
      explainRound("hits auth-from-hub", i, fromHub)
      val aRaw = graft.CacheRegistry.register(
        fromHub.localCheckpoint(eager = false))
      val aMax = aRaw.agg(max(col("ar")).as("am"))
      auth = aRaw.crossJoin(broadcast(aMax))
        .select(col("anode").as("node"), (col("ar") / col("am")).as("a"))
      val hRaw = graft.CacheRegistry.register(
        e.join(bcIf(bcVec)(auth), e("dst") === auth("node"))
          .groupBy(e("src").as("hnode")).agg(sum(col("a")).as("hr"))
          .localCheckpoint(eager = false))
      val hMax = hRaw.agg(max(col("hr")).as("hm"))
      hub = hRaw.crossJoin(broadcast(hMax))
        .select(col("hnode").as("node"), (col("hr") / col("hm")).as("h"))
    }
    hub.select(col("node"), col("h"))
      .join(auth.select(col("node"), col("a")), Seq("node"), "outer")
      .select(col("node"), coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("auth"))
  }

  /** Degree assortativity (Newman): Pearson correlation of endpoint
    * degrees over the directed edge list (each undirected edge counted
    * in both directions). One degree aggregate, two equi-joins to
    * decorate endpoints, then ONE aggregate of exact BIGINT power sums —
    * degrees are integers, so no float accumulates anywhere and the
    * closed Pearson form is a single identical DOUBLE tree on any
    * engine (the a15/a17 exact-sums lesson applied at design time).
    * Returns (m, r); r is NaN on regular graphs (zero degree variance),
    * matching SQL's 0/0 semantics.
    */
  def assortativity(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val dir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(
        edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val dx = deg.select(col("src").as("u"), col("deg").as("x"))
    val dy = deg.select(col("src").as("v"), col("deg").as("y"))
    dir.join(dx, col("src") === col("u"))
      .join(dy, col("dst") === col("v"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .selectExpr("m",
        """(CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          | / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          |    * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
          | AS r""".stripMargin.replace("\n", " "))
  }

  /** Personalized PageRank: random walk with restart — teleport mass
    * returns to the SEED set only, so ranks measure proximity to the
    * seeds rather than global centrality (the "related items from these
    * examples" primitive behind seed-expansion curation: grow a
    * training-data domain from a few hand-labeled documents).
    *
    * rank_{i+1}(v) = d·Σ_{u→v} rank_i(u)/deg(u) + (1−d)/|S|·1_{v∈S},
    * seeded rank_0 = 1/|S| on S. Nodes never touched by walk mass are
    * simply absent (rank exactly 0) — the vector stays sparse, which is
    * the point at scale: iteration cost is proportional to the REACHED
    * subgraph, not |V|.
    *
    * Same two-shuffle-per-round shape as [[pageRank]] (contributions
    * join + keyed sum, full-outer with the tiny seed base), same
    * localCheckpoint cadence. Callers gate on rounded ranks, as g2 does.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 15, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val out = graft.CacheRegistry.register(
      dir.join(deg, "src").localCheckpoint())
    val s = seeds.select(col(seeds.columns.head).as("node")).distinct()
    val nSeeds = s.count()
    require(nSeeds > 0, "personalized pagerank requires a non-empty seed set")
    // (1.0 - damping) / nSeeds as engine-identical IEEE ops — the oracle
    // must spell the same (1.0 - d) / |S| tree, NOT a folded literal
    // (0.15 parsed as a literal is a different double than 1.0 - 0.85).
    val seedBase = graft.CacheRegistry.register(s.select(col("node"),
      lit((1.0 - damping) / nSeeds).as("b")).localCheckpoint())
    // Byte-derived broadcast gate (r15): the walk vector is bounded by
    // |V|, measured in one pass of the cached out-edge table. Under the
    // gate each round's join broadcasts the rank side and the bulk edge
    // table never re-exchanges; past it the keyed-shuffle plan stands.
    val vst = out.agg(count_distinct(col("src")).as("n"),
      max(length(col("src").cast("string"))).as("kl")).head()
    val bcRanks = fitsBroadcast(vst.getLong(0),
      if (vst.isNullAt(1)) 0L else vst.getInt(1).toLong, 8)
    var ranks = graft.CacheRegistry.register(
      s.select(col("node"), lit(1.0 / nSeeds).as("rank")).localCheckpoint())
    for (i <- 1 to iterations) {
      val contribs = out
        .join(bcIf(bcRanks)(ranks), out("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
      explainRound("ppr contribs", i, contribs)
      ranks = contribs.groupBy(col("node"))
        .agg(sum(col("c")).as("sc"))
        .join(seedBase, Seq("node"), "outer")
        .select(col("node"),
          (lit(damping) * coalesce(col("sc"), lit(0.0)) +
            coalesce(col("b"), lit(0.0))).as("rank"))
      // Lazy lineage truncation on the every-4 cadence (see pageRank).
      if (i % 4 == 0 || i == iterations)
        ranks = graft.CacheRegistry.register(
          ranks.localCheckpoint(eager = false))
    }
    ranks
  }

  /** Bounded-hop weighted shortest path (Bellman-Ford): cheapest cost to
    * reach each node from the `source` frame using at most `maxHops`
    * edges. `edges` must carry integer weights in `wCol` (BIGINT min is
    * exact and order-independent — the cross-engine pin; float costs
    * would need a rounding gate).
    *
    * Each round is one equi-join (frontier ⋈ edges on node=src) + one
    * keyed min — two shuffles — and the distance vector is
    * localCheckpointed on the pageRank cadence so lineage stays shallow.
    * The bounded-hop form is the semantics, not a convergence shortcut:
    * "cheapest path using ≤ k edges" is well-defined on any graph
    * (cycles included, since rounds only ever lower a node's cost) and
    * matches an oracle that unrolls the same k relaxation rounds. At
    * scale the edge set is the big partitioned side; only the ≤|V|-row
    * distance vector moves between rounds — the same shape that makes
    * pageRank viable on a 100 TB edge set.
    *
    * Returns (node, dist) for nodes reachable within `maxHops`.
    */
  def sssp(edges: DataFrame, source: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      wCol: String = "w"): DataFrame = {
    val e = graft.CacheRegistry.register(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w")).localCheckpoint())
    // r15 note: the byte-derived broadcast gate (pageRank/HITS/PPR/LP
    // discipline) was measured HERE and REVERTED — isolated A/B at
    // sf0.1 showed +10% (hot p50 1.34 → 1.48 s): the frontier is tiny
    // and grows per round, so each round pays a fresh broadcast build +
    // the extra stats action, while the eager-every-2 checkpoint
    // cadence already bounds the exchange cost on this shape.
    var dist = source.select(col(source.columns.head).as("node"),
      lit(0L).as("dist")).localCheckpoint()
    var lastCp = dist
    for (i <- 1 to maxHops) {
      val relaxed = e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      // The cadence is load-bearing in BOTH directions here: `dist`
      // feeds each round TWICE (join side + union side), so without a
      // materialization barrier the logical plan DOUBLES per round.
      // Measured at sf0.1 (8 hops, 3.6k-edge graph): no mid-run
      // checkpoints 21.7 s (2^k subplan copies swamp planning and
      // execution), every 4th round 2.12 s, every round 1.53 s, every
      // 2nd round 1.36 s — each checkpoint is an eager job, so the
      // optimum balances plan growth against barrier count; every 2nd
      // round wins at both test scales and is the committed cadence.
      // r14 note: the lazy localCheckpoint(eager=false) variant used by
      // the once-per-round-lineage operators was tried here too —
      // better in isolated A/B (p50 2.15 → 1.62 s) but SLOWER in two
      // consecutive official bench runs (+6.5%, +23.6%), so the
      // bench-measured eager-every-2 cadence stands.
      if (i % 2 == 0 || i == maxHops) {
        dist = dist.localCheckpoint()
        lastCp.unpersist()
        lastCp = dist
      }
    }
    // The final checkpoint outlives this call (the caller's action reads
    // it) — registered so the session-hygiene hook releases it after.
    graft.CacheRegistry.register(dist)
  }

  /** k-core decomposition: the maximal subgraph in which every node has
    * degree ≥ k, computed by iterative peeling — drop nodes under
    * degree k, recompute, repeat until stable. Each round is one
    * degree aggregate + two LEFT SEMI joins (hash, never nested-loop),
    * and the edge set only ever SHRINKS, so at 100 TB later rounds get
    * cheaper, not costlier; the peel is the standard prelude that
    * carves the dense region out of a web-scale graph before running
    * anything quadratic-ish (triangles, community detection) on it.
    *
    * Converges in ≤ maxRounds or fails loud (`require`), which keeps
    * the fixed-round oracle honest: peeling is idempotent after the
    * fixed point, so an oracle that unrolls exactly maxRounds equals
    * the true k-core whenever convergence is proven here.
    *
    * Returns (node, deg) for core members with their in-core degrees.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var lastCp = e
    var n = e.count()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val next = e
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
      val m = next.count()
      converged = m == n
      n = m
      lastCp.unpersist()
      lastCp = next
      e = next
      round += 1
    }
    require(converged, s"kCore did not converge in $maxRounds rounds")
    graft.CacheRegistry.register(e)
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Synchronous label propagation (community detection) for a FIXED
    * number of rounds: labels start as node ids; each round every node
    * takes the most frequent label among its neighbors, smallest label
    * breaking ties. Fixed rounds + the deterministic tie-break make the
    * result a pure function of the graph — no convergence coin-flips,
    * so it can sit under a cross-engine oracle (the DuckDB twin unrolls
    * the same rounds as chained materialized CTEs). This differs from
    * WCC (min-label closure): frequency voting splits a connected
    * component into dense cores. Per round: one join (undirected edges ⋈
    * labels) + one (node, label) count + one per-node arg-max window —
    * all keyed shuffles, label table localCheckpointed per round so
    * lineage stays shallow. At 100 TB the edge set stays partitioned by
    * neighbor across rounds; only the |V|-row label table moves.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = graft.CacheRegistry.register(edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionByName(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .distinct()
      .localCheckpoint())
    // Byte-derived broadcast gate (r15): the label vector is |V| rows of
    // two node-id strings, measured in one pass of the cached edge set.
    // Under the gate each round's vote join broadcasts the label side
    // and the bulk edge table never re-exchanges; past it the
    // keyed-shuffle plan stands.
    val st = und.agg(count_distinct(col("u")).as("n"),
      max(length(col("u").cast("string"))).as("kl")).head()
    val kl = if (st.isNullAt(1)) 0L else st.getInt(1).toLong
    val bcLabels = fitsBroadcast(st.getLong(0), kl, 2L * kl + 16L)
    var labels = graft.CacheRegistry.register(
      und.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node"))
        .localCheckpoint())
    (1 to rounds).zipWithIndex.foreach { case (_, r0) =>
      val votes = und
        .join(bcIf(bcLabels)(labels.select(col("node").as("v"), col("lbl"))),
          "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      explainRound("labelPropagation votes", r0 + 1, votes)
      // Per-node arg-max as an AGGREGATE (r14, the a13/d30 trick —
      // guide §2.3 "aggregate before you shuffle"): min(struct(−c, lbl))
      // is exactly the window's (c desc, lbl asc) head, but the second
      // exchange now carries one partial best per (task, node) instead
      // of every (node, label) vote, and the per-partition sort the
      // row_number needed is gone. −c on BIGINT is exact, so the
      // elected labels are identical.
      // Lazy lineage truncation per round (see pageRank): the label
      // vector is RDD-backed immediately, materialized once by the
      // caller's single action — no per-round job barrier.
      labels = graft.CacheRegistry.register(votes
        .groupBy(col("u").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl")))
          .as("best"))
        .select(col("node"), col("best.lbl").as("lbl"))
        .localCheckpoint(eager = false))
    }
    labels
  }

  /** Exact betweenness centrality on a rooted forest. On a tree the
    * unique-path structure collapses Brandes' algorithm to subtree-size
    * algebra: removing node v splits its component (size `Nc`) into its
    * child subtrees (sizes `s_i`) and the remainder (`Nc − size(v)`), and
    * the number of unordered endpoint pairs {s,t}, s ≠ v ≠ t, whose path
    * crosses v is
    *
    *   C(Nc−1, 2) − Σ_i C(s_i, 2) − C(Nc − size(v), 2)
    *
    * (pairs not avoiding v = all pairs minus pairs confined to one side).
    * All-integer arithmetic — an exact hash-pinnable result with no
    * sampling and no per-pair work, where general-graph betweenness
    * needs |V| BFS sweeps.
    *
    * Plan shape: `maxDepth` bottom-up rounds compute subtree sizes (one
    * groupBy(parent) + left join per round, localCheckpointed so lineage
    * stays shallow), `maxDepth` top-down rounds propagate each
    * component's root, then the formula is one child-side aggregate plus
    * keyed joins. Work is O(E) per round for `2·maxDepth` rounds — at
    * 100 TB the edge set shuffles on node keys a bounded number of
    * times and no path set ever materializes.
    *
    * Duplicate identical edges normalize away (the pageRank input
    * contract — the driver testdata's lineitem carries repeated
    * (orderkey, linenumber) pairs). Loud guards for everything else:
    * every child must have exactly one DISTINCT parent, and every node
    * must reach a root within `maxDepth` hops — a cycle or an
    * undersized `maxDepth` reds the require instead of silently
    * dropping nodes through the inner joins.
    */
  /** Shared forest prelude for the tree-centrality family, rebuilt in
    * the r14 optimization pass around the LEAF/INTERNAL split (guide
    * §1.2 — fix the distributed algorithm first): in any rooted forest
    * the leaves are the bulk of the rows (the R→N→C→O→L hierarchy at
    * sf0.1: 600k of 765k edges point at leaves) and every leaf's DP
    * value is closed-form — size 1, subtree-distance 0, betweenness 0 —
    * so the iterative sweeps run over the INTERNAL edge set only
    * (~165k rows here, 4.6× smaller joins), leaves fold into each
    * internal node's base case as one `leaf-children count` aggregate,
    * and a single full-edge pass at the end extends per-node results to
    * the leaves. Also: the eager per-round localCheckpoint barriers on
    * the linear-lineage loops are gone (one materialization per sweep),
    * and the two forest-guard count actions collapse into one
    * aggregate. Arithmetic is unchanged — the split recursion unfolds
    * to exactly the original per-level sums (oracles + fuzz parity
    * re-pinned green). Measured at sf0.1 (official bench cold cells,
    * before → after the split + lazy truncation + size-adaptive
    * broadcasts): g13 11.5 → ~7.8 s, g14 21.6 → ~11.9 s; the residual
    * is ~15 small keyed stages at the local-mode per-stage floor
    * (OPTIMIZATION_r14.md "Not yet optimized").
    */
  private final case class ForestFrames(
      e: DataFrame,         // (parent, child) distinct, checkpointed
      nInternal: Long,      // number of distinct parents
      // Broadcast hint for an internal-node frame whose non-key columns
      // take the given bytes per row: on while it fits the byte gate.
      bc: Long => DataFrame => DataFrame,
      parents: DataFrame,   // (node) the internal nodes, checkpointed
      leafEdges: DataFrame, // e rows whose child is a leaf
      eInt: DataFrame,      // e rows whose child is internal
      leafCnt: DataFrame,   // (node, lc): per-parent leaf-children count
      anc: DataFrame,       // (desc, anc): internal proper-ancestor pairs
      sizeInt: DataFrame,   // (node, size): exact sizes, internal nodes
      compInt: DataFrame)   // (node, root, depth, nc, td): internal nodes

  /** Size-adaptive broadcast hint for per-round score/frontier vectors
    * (r14 wave 3, generalized r15): these frames are RDD-backed
    * (localCheckpoint), so Catalyst sees no size estimate and every
    * per-round join SHUFFLES the bulk edge side — but the operators
    * already measure the vector's row count, so the decision Spark
    * cannot make statically is made here from measured bytes. Past the
    * gate the hint vanishes and the keyed-shuffle plan (the 100 TB
    * shape) is unchanged. AQE would reach the same join strategy only
    * AFTER paying each exchange write.
    *
    * The gate is BYTE-derived, not row-derived (r14 ADVICE #4 — the old
    * 2M-row gate assumed ~64 MB framed, but long node-id strings
    * multiply that): each row is charged its measured max key length
    * twice (the UnsafeRow string + the HashedRelation copy) plus ~48 B
    * of row/pointer overhead plus the value columns. The budget is PER
    * BROADCAST and deliberately conservative because several such
    * broadcasts are concurrently live inside one job (sizes + leaf
    * counts + frontier + compInt in the tree sweeps: up to ~6), so the
    * worst-case concurrent footprint is ~6× the budget on the driver
    * and each executor. GRAFT_BROADCAST_BUDGET_MB overrides the default
    * 64 MB for bigger drivers; 0 disables forced broadcasts entirely.
    */
  private val BroadcastBudgetBytes: Long =
    sys.env.get("GRAFT_BROADCAST_BUDGET_MB").map(_.toLong)
      .getOrElse(64L) << 20
  private[graft] def fitsBroadcast(rows: Long, maxKeyLen: Long,
      valueBytes: Long): Boolean =
    rows * (2L * maxKeyLen + 48L + valueBytes) <= BroadcastBudgetBytes
  private[graft] def bcIf(small: Boolean)(df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  // Plan-evidence hook: the per-round join plans of the iterative
  // operators never appear in the returned frame's explain (the loop
  // materializes through localCheckpoint, so only the tail survives).
  // With GRAFT_EXPLAIN_ROUNDS set, the FIRST round of each loop prints
  // its formatted physical plan — off (one env check) in normal runs.
  private val ExplainRounds = sys.env.contains("GRAFT_EXPLAIN_ROUNDS")
  private[graft] def explainRound(tag: String, round: Int,
      df: DataFrame): Unit =
    if (ExplainRounds && round <= 2) {
      println(s"---- per-round plan [$tag] round $round ----")
      df.explain("formatted")
    }

  private def forestFrames(edges: DataFrame, maxDepth: Int,
      parentCol: String, childCol: String, who: String): ForestFrames = {
    require(maxDepth >= 1, s"need maxDepth >= 1, got $maxDepth")
    val e = graft.CacheRegistry.register(edges
      .select(col(parentCol).as("parent"), col(childCol).as("child"))
      .distinct()
      .localCheckpoint())
    // Forest guard in ONE pass (was two count actions): every child has
    // exactly one DISTINCT parent <=> rows == distinct children. The
    // same pass measures the max node-id length for the byte-derived
    // broadcast gate (UTF-8 bytes, not characters) and the internal-node
    // count (r15 — the separate parents.count() action is gone).
    val g = e.agg(count(lit(1)).as("ne"),
      count_distinct(col("child")).as("nch"),
      count_distinct(col("parent")).as("npar"),
      greatest(max(octet_length(col("parent").cast("string"))),
        max(octet_length(col("child").cast("string")))).as("klen")).head()
    require(g.getLong(0) == g.getLong(1),
      s"$who input is not a forest: some child has > 1 parent")
    val keyLen = if (g.isNullAt(3)) 0L else g.getInt(3).toLong

    // Internal nodes = nodes with children; everything else is a leaf.
    val parents = graft.CacheRegistry.register(
      e.select(col("parent").as("node")).distinct().localCheckpoint())
    val nInternal = g.getLong(2)
    // Every gated frame below holds at most one row per internal node;
    // each is charged its own value columns: 8 bytes per long or int
    // slot, plus the id bytes for a string value.
    val bc = (valueBytes: Long) =>
      bcIf(fitsBroadcast(nInternal, keyLen, valueBytes)) _
    // Split the edge set by the child's side in one flagging join — the
    // parents set broadcasts under the measured threshold, so the bulk
    // edge set is never exchanged for the split.
    val flagged = graft.CacheRegistry.register(
      e.join(bc(8L)(
          parents.select(col("node").as("child"), lit(1).as("is_int"))),
          Seq("child"), "left")
        .select(col("parent"), col("child"), col("is_int").isNotNull
          .as("int_child"))
        .localCheckpoint())
    val eInt = flagged.filter(col("int_child"))
      .select(col("parent"), col("child"))
    val leafEdges = flagged.filter(!col("int_child"))
      .select(col("parent"), col("child"))
    val leafCnt = graft.CacheRegistry.register(
      leafEdges.groupBy(col("parent").as("node"))
        .agg(count(lit(1)).as("lc")).localCheckpoint())

    // Internal proper-ancestor PAIRS (desc, anc), exact-distance layers:
    //   P_1 = eInt reversed; P_k = P_{k−1} extended one hop up.
    // Internal depths are ≤ maxDepth−1 for any guard-passing forest
    // (the deepest node is a leaf), so maxDepth−2 extension rounds
    // cover every chain; at maxDepth = 1 no internal node may have a
    // parent, so P_1 is empty and the coverage guard below fires on any
    // deeper forest. Lazy loop (linear lineage, only the layer
    // truncates — the union is a linear chain over truncated layers);
    // |anc| = Σ_v depth(v) ≤ |internal|·(maxDepth−1), the same
    // O(V·depth) volume the former per-round sweeps shuffled in
    // aggregate. This ONE table replaces the r14 prelude's FOUR loops
    // (top-down root propagation, bottom-up sizes, bottom-up distance
    // sums, top-down re-rooting — ~3.5·maxDepth serial joins and their
    // broadcast-build driver round-trips, the measured local-mode cost)
    // with the closed-form aggregates below and in treeDistanceSums
    // (r15, guide §1.2).
    var layer = eInt.where(lit(maxDepth >= 2)).select(col("child").as("desc"),
      col("parent").as("anc")).localCheckpoint(eager = false)
    graft.CacheRegistry.register(layer)
    var anc = layer
    (1 to maxDepth - 2).foreach { _ =>
      val up = graft.CacheRegistry.register(layer
        .join(bc(8L + keyLen)(eInt.select(col("child").as("anc"),
          col("parent").as("up"))), "anc")
        .select(col("desc"), col("up").as("anc"))
        .localCheckpoint(eager = false))
      anc = anc.unionByName(up)
      layer = up
    }

    // Roots, and root/depth per internal node FROM the pair table:
    // depth(v) = |ancestors(v)|, root(v) = v's ancestor that is a root.
    // Coverage guard unchanged in meaning: a cycle has no root to pair
    // with, and a node deeper than maxDepth−1 tops out before reaching
    // its root, so comp misses it and the require fires.
    val roots = parents.join(e.select(col("child").as("node")), Seq("node"),
      "left_anti")
    val depths = anc.groupBy(col("desc").as("node"))
      .agg(count(lit(1)).as("depth"))
    val comp = graft.CacheRegistry.register(
      roots.select(col("node"), col("node").as("root"), lit(0L).as("depth"))
        .unionByName(
          anc.join(bc(0L)(roots.select(col("node").as("anc"))), "anc")
            .select(col("desc").as("node"), col("anc").as("root"))
            .join(bc(8L)(depths), "node")
            .select(col("node"), col("root"), col("depth")))
        .localCheckpoint(eager = false)) // the guard count materializes
    require(comp.count() == nInternal,
      s"$who: some node has no root within $maxDepth hops " +
        "(cycle, or maxDepth smaller than the forest height)")

    // Exact subtree sizes in ONE aggregate over the pair table:
    //   size(v) = 1 + lc(v) + Σ_{desc u of v} (1 + lc(u))
    // (internal descendants each bring themselves + their leaf children;
    // v brings itself + its own leaf children).
    val descAgg = anc
      .join(bc(8L)(leafCnt.withColumnRenamed("node", "desc")),
        Seq("desc"), "left")
      .groupBy(col("anc").as("node"))
      .agg((count(lit(1)) + sum(coalesce(col("lc"), lit(0L)))).as("dsum"))
    val sizeInt = graft.CacheRegistry.register(
      parents
        .join(bc(8L)(leafCnt), Seq("node"), "left")
        .join(bc(8L)(descAgg), Seq("node"), "left")
        .select(col("node"), (lit(1L) + coalesce(col("lc"), lit(0L)) +
          coalesce(col("dsum"), lit(0L))).as("size"))
        .localCheckpoint())

    // Per-root totals: nc = size(root) (the root's subtree IS the
    // component) and td = Σ_{u ∈ comp} depth(u) over ALL nodes — each
    // internal node contributes its depth plus depth+1 for each of its
    // leaf children.
    val rootStats = comp
      .join(bc(8L)(leafCnt), Seq("node"), "left")
      .groupBy(col("root"))
      .agg(sum(col("depth") + coalesce(col("lc"), lit(0L)) *
        (col("depth") + lit(1L))).as("td"))
      .join(bc(8L)(sizeInt.select(col("node").as("root"),
        col("size").as("nc"))), "root")
    val compInt = comp.join(bc(16L)(rootStats), "root") // (root, td, nc)
    ForestFrames(e, nInternal, bc, parents, leafEdges, eInt, leafCnt,
      anc, sizeInt, compInt)
  }

  // C(n,2) in pure LONG arithmetic: `/` on Columns is DOUBLE division
  // (lossy past 2^53 — real at 100 TB component sizes), so halve the
  // always-even product with an integer shift instead.
  private def c2(n: Column): Column = shiftright(n * (n - lit(1L)), 1)

  def treeBetweenness(edges: DataFrame, maxDepth: Int,
      parentCol: String = "parent", childCol: String = "child"): DataFrame = {
    val f = forestFrames(edges, maxDepth, parentCol, childCol,
      "treeBetweenness")

    // Per-parent sum of C(child_subtree, 2) — leaf children contribute
    // C(1,2) = 0, so only INTERNAL child edges enter the aggregate.
    val childSq = f.eInt
      .join(f.bc(8L)(f.sizeInt.withColumnRenamed("node", "child")),
        "child")
      .groupBy(col("parent")).agg(sum(c2(col("size"))).as("childsq"))
    val internal = f.sizeInt
      .join(f.bc(8L)(f.compInt.select(col("node"), col("nc"))), "node")
      .join(f.bc(8L)(childSq.withColumnRenamed("parent", "node")),
        Seq("node"), "left")
      .select(col("node"),
        (c2(col("nc") - lit(1L)) - coalesce(col("childsq"), lit(0L))
          - c2(col("nc") - col("size"))).cast("long").as("btw"))
    // Leaves exactly: size 1, childsq 0 ⇒ btw = C(nc−1,2) − C(nc−1,2) = 0
    // for ANY component size — emitted as literals, no join.
    internal.unionByName(
      f.leafEdges.select(col("child").as("node"), lit(0L).as("btw")))
  }

  /** Per-node sum of tree distances to every other node in its component
    * — the denominator of closeness centrality, exact. The classic
    * re-rooting DP: a bottom-up pass computes D(v) = Σ_c (D(c) +
    * size(c)) (distances confined to v's subtree), then a top-down pass
    * shifts the root across each edge with
    *
    *   S(child) = S(parent) + Nc − 2·size(child)
    *
    * (moving the root one hop toward `child` brings its size(child)
    * descendants one step closer and pushes the other Nc − size(child)
    * nodes one step away). Two `maxDepth`-round sweeps of keyed
    * joins — O(E) per round, all-integer — where textbook closeness
    * needs a BFS per node. Returns (node, dist_sum: long, nc: long)
    * with nc the node's component size, so closeness (Nc−1)/dist_sum
    * is one division downstream. Same input contract and guards as
    * [[treeBetweenness]].
    */
  def treeDistanceSums(edges: DataFrame, maxDepth: Int,
      parentCol: String = "parent", childCol: String = "child"): DataFrame = {
    val f = forestFrames(edges, maxDepth, parentCol, childCol,
      "treeDistanceSums")

    // Closed form over the prelude's ancestor-pair table (r15 — replaces
    // the bottom-up D sweep + top-down re-rooting sweep, ~2·maxDepth
    // serial joins, with ONE join + aggregate). From
    //   dist(u,v) = depth(u) + depth(v) − 2·depth(lca(u,v))
    // and  Σ_u depth(lca(u,v)) = Σ_{a ∈ anc*(v)} size(a) − Nc
    // (|anc*(u) ∩ anc*(v)| = depth(lca)+1; a ∈ anc*(v) is shared by
    // exactly the size(a) nodes of a's subtree):
    //   S(v) = td + Nc·depth(v) + 2·Nc − 2·Σ_{a ∈ anc*(v)} size(a)
    // — pure integer arithmetic, identical values to the sweeps it
    // replaces (fuzz parity + the g13/g14 centrality identity pin it).
    val ancSize = f.anc
      .join(f.bc(8L)(f.sizeInt.withColumnRenamed("node", "anc")), "anc")
      .groupBy(col("desc").as("node")).agg(sum(col("size")).as("asum"))
    val internal = f.compInt
      .join(f.bc(8L)(f.sizeInt), "node")
      .join(f.bc(8L)(ancSize), Seq("node"), "left")
      .select(col("node"),
        (col("td") + col("nc") * col("depth") + lit(2L) * col("nc") -
          lit(2L) * (col("size") + coalesce(col("asum"), lit(0L))))
          .as("dist_sum"),
        col("nc"))
    // Leaves in ONE full-edge pass, re-rooting closed form
    // S(leaf) = S(parent) + Nc − 2 (size(leaf) = 1) — unchanged.
    val s = graft.CacheRegistry.register(internal.localCheckpoint())
    val leaves = f.leafEdges
      .join(f.bc(16L)(s.select(col("node").as("parent"),
        col("dist_sum").as("sp"), col("nc"))), "parent")
      .select(col("child").as("node"),
        (col("sp") + col("nc") - lit(2L)).as("dist_sum"), col("nc"))
    s.unionByName(leaves)
  }
}
