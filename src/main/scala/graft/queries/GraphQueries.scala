package graft.queries

import graft.Tables
import graft.graph.{Closure, GraphData, Traverse}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Recursion / variable-length traversal family (SURVEY.md §2.3 J7-J11 and
  * §2.5 R1-R5) over the graph encodings in [[graft.graph.GraphData]], each
  * with a recursive-CTE DuckDB oracle on the same parquet tables.
  *
  * Traversals use [[graft.graph.Traverse.expand]], or the closure tiers of
  * [[graft.graph.Closure]] for dimension-sized graphs — bag/path semantics
  * (UNION ALL, no dedup) like the reference's `WITH RECURSIVE` and Cypher
  * `*1..d` constructs, with each walk row standing for `n` walks: the
  * counting queries sum `n` where the reference counts rows.
  */
object GraphQueries {

  /** Shared oracle fragment: the hierarchy edge list (must stay in lockstep
    * with GraphData.hierarchyEdges).
    */
  private val edgesCte =
    """edges AS (
      |  SELECT 'R' || n_regionkey AS parent, 'N' || n_nationkey AS child, 'Nation' AS child_type FROM nation
      |  UNION ALL SELECT 'N' || c_nationkey, 'C' || c_custkey, 'Customer' FROM customer
      |  UNION ALL SELECT 'C' || o_custkey, 'O' || o_orderkey, 'Order' FROM orders
      |  UNION ALL SELECT 'O' || l_orderkey, 'L' || l_orderkey || '_' || l_linenumber, 'Line' FROM lineitem
      |)""".stripMargin

  private def seed(spark: SparkSession, node: String): DataFrame = {
    import spark.implicits._
    Seq(node).toDF("node")
  }

  /** S2: graph vertex scan — all ids of one label (reference:
    * `MATCH (d:Drone) RETURN d.id`,
    * demo_did_graph/02_topology_dynamic/benchmark_scenario_c.py:225).
    */
  def s2VertexScan(spark: SparkSession, d: String): DataFrame =
    GraphData.hierarchyEdges(spark, d)
      .filter(col("child_type") === "Order")
      .select(col("child").as("id"))
      .orderBy(col("id"))

  /** S3: filtered vertex scan — candidates excluding the anchor (reference:
    * `MATCH (e:Entity) WHERE e.did <> $a RETURN e.did`,
    * demo_did_graph/04_web_of_trust/benchmark_scenario_d.py:195).
    */
  def s3FilteredVertexScan(spark: SparkSession, d: String): DataFrame =
    GraphData.trustChain(spark, d)
      .select(col("child").as("did"))
      .filter(col("did") =!= "E1")
      .orderBy(col("did"))

  /** J6: FK-integrity join — every fact row must resolve both dimension
    * FKs (reference: vc_test ⋈ did_issuer ⋈ did_subject,
    * demo_did_graph/scripts/traversal_verify.py:68-73).
    */
  def j6FkIntegrity(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val c = Tables.customer(spark, d)
    val n = Tables.nation(spark, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .agg(count(lit(1)).as("resolved"))
  }

  /** R1: recursive delegation chain from one root, per-level path counts
    * (reference: demo_did_graph/common/bench_utils.py:9-34).
    */
  def r1ChainLevels(spark: SparkSession, d: String): DataFrame =
    Traverse.expand(seed(spark, "R0"),
        GraphData.hierarchyEdges(spark, d).drop("child_type"), maxDepth = 3)
      .groupBy(col("lvl")).agg(sum(col("n")).as("n"))
      .orderBy(col("lvl"))

  /** R1 via native `WITH RECURSIVE` (SPARK-24497): the same chain as
    * [[r1ChainLevels]] planned as one Catalyst UnionLoop instead of the
    * driver-side join loop; falls back to the loop on runtimes without
    * recursive-CTE support.
    */
  def r1ChainLevelsRcte(spark: SparkSession, d: String): DataFrame = {
    val edges = GraphData.hierarchyEdges(spark, d).drop("child_type")
    val perLevel =
      if (Traverse.nativeRcteSupported(spark))
        Traverse.expandRcte(spark, edges, "R0", maxDepth = 3)
          .groupBy(col("lvl")).agg(count(lit(1)).as("n"))
      else Traverse.expand(seed(spark, "R0"), edges, maxDepth = 3)
          .groupBy(col("lvl")).agg(sum(col("n")).as("n"))
    perLevel.orderBy(col("lvl"))
  }

  /** R2: Cypher-style var-length `*1..4` with endpoint label filter
    * (reference: demo_did_graph/01_multi_layer/benchmark_scenario_c.py:47-53).
    */
  def r2VarlenEndpoint(spark: SparkSession, d: String): DataFrame =
    Traverse.expand(seed(spark, "R0"),
        GraphData.hierarchyEdges(spark, d), maxDepth = 4)
      .filter(col("child_type") === "Line")
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))

  /** R5: role-tagged full-hierarchy expansion — carries the edge's
    * `child_type` payload, counts per (role, lvl)
    * (reference: demo_did_graph/01_multi_layer/benchmark_scenario_a.py:48-66).
    */
  def r5RoleTagged(spark: SparkSession, d: String): DataFrame =
    Traverse.expand(seed(spark, "R0"),
        GraphData.hierarchyEdges(spark, d), maxDepth = 4)
      .groupBy(col("child_type"), col("lvl")).agg(sum(col("n")).as("n"))
      .orderBy(col("child_type"), col("lvl"))

  /** J8/Q4 (flagship): var-length path to the drone level, then reverse
    * expand to the asserting "VC" — here: orders reached from region R0,
    * joined back to their lineitems, counted
    * (reference: `(hq)-[:DELEGATES*1..d]->(dr:Drone)<-[:ASSERTS]-(v:VC)`,
    * demo_did_graph/01_multi_layer/benchmark_scenario_c.py:47-53).
    */
  def j8HierVcCount(spark: SparkSession, d: String): DataFrame = {
    val drones = Traverse.expand(seed(spark, "R0"),
        GraphData.hierarchyEdges(spark, d), maxDepth = 3)
      .filter(col("child_type") === "Order")
      .select(col("node"), col("n"))
    val vc = Tables.lineitem(spark, d)
      .select(concat(lit("O"), col("l_orderkey").cast("string")).as("onode"))
    drones.join(vc, drones("node") === vc("onode"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("vc_count"))
  }

  /** J7: fixed 2-hop graph pattern (Issuer -ISSUED-> VC -ASSERTS-> Subject
    * analog: nation -> customer -> order), counted per nation
    * (reference: demo_did_graph/scripts/traversal_verify.py:119-122).
    */
  def j7TwoHop(spark: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(spark, d)
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d)
    n.join(c, n("n_nationkey") === c("c_nationkey"))
      .join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      .orderBy(col("n_name"))
  }

  /** R3/J9: web-of-trust path count source→anchor within L hops, bag
    * semantics (reference: demo_did_graph/04_web_of_trust/
    * benchmark_scenario_d.py:200-203 — `count(path)`).
    * Chain shape makes the answer 1 iff dist(source, anchor) <= L.
    */
  def r3WotPathCount(spark: SparkSession, d: String): DataFrame = {
    val chain = GraphData.trustChain(spark, d)
    // The trust graph is a dimension: pathCountsAuto picks its closure
    // tier by size, memoized across runs. Below the driver gate the count
    // is one PathIndex lookup returned as a local row (no Spark job, the
    // prepared binds' form); up to 10M edges it is a filter + sum over
    // the cached distributed closure. Only past that (a trust graph that
    // is a fact table) does the per-query frontier walk stay the plan.
    Closure.pathCountsAuto(chain, maxDepth = 20) match {
      case Some(Left(index)) =>
        Prepared.nPathsRow(spark, index.pathCount("E0", "E15", 20))
      case Some(Right(closure)) =>
        closure.filter(col("src") === "E0" && col("dst") === "E15")
          .agg(coalesce(sum(col("n_paths")), lit(0L)).as("n_paths"))
      case None =>
        Traverse.expand(seed(spark, "E0"), chain, maxDepth = 20)
          .filter(col("node") === "E15")
          .agg(coalesce(sum(col("n")), lit(0L)).as("n_paths"))
    }
  }

  /** R3 through the DISTRIBUTED closure tier, forced by a zero driver
    * cap: same semantics and oracle as [[r3WotPathCount]], but the bag
    * closure is built with log2(d) shuffle joins
    * ([[graft.graph.Closure.closureDistributed]]) instead of the driver
    * BFS — the gate pins the middle regime a hierarchy past the driver
    * cap takes at scale (e.g. the sf1 trust chain).
    */
  def r3WotPathCountDist(spark: SparkSession, d: String): DataFrame = {
    val chain = GraphData.trustChain(spark, d)
    val closure = Closure.pathCountsAuto(chain, maxDepth = 20, maxEdges = 0L)
      .flatMap(_.toOption)
      .getOrElse(sys.error("distributed closure tier unavailable"))
    closure.filter(col("src") === "E0" && col("dst") === "E15")
      .agg(coalesce(sum(col("n_paths")), lit(0L)).as("n_paths"))
  }

  /** R3 with materialized paths: the Cypher `RETURN path` surface —
    * enumerate the actual trust paths from the client toward the anchor
    * (reference shape: demo_did_graph/04_web_of_trust/
    * benchmark_scenario_d.py:200-203, which counts `path` objects). A row
    * is repeated `n` times, one per walk, as the reference's bag lists it.
    */
  def r3WotPathList(spark: SparkSession, d: String): DataFrame =
    Traverse.expand(seed(spark, "E0"), GraphData.trustChain(spark, d),
        maxDepth = 8, keepPaths = true)
      .select(col("path"), col("node"), col("lvl"),
        explode(sequence(lit(1L), col("n"))))
      .select(col("path"), col("node"), col("lvl"))
      .orderBy(col("lvl"))

  /** Prepared-statement surface: one parameterized WoT reachability query
    * ([[Prepared.wotPathCount]]) bound three times with different
    * client/anchor/length parameters — the reference's prepare-once,
    * bind-per-iteration protocol (05_abac/benchmark_scenario_b.py:264-299).
    * Third binding's length (5) is below the 15-hop distance ⇒ 0 paths.
    */
  def prepWotCount(spark: SparkSession, d: String): DataFrame = {
    val pq = Prepared.wotPathCount(spark, d)
    def one(client: String, len: Int, anchor: String) =
      pq.bind(Map("client" -> client, "length" -> len, "anchor" -> anchor))
        .select(lit(client).as("client"), lit(anchor).as("anchor"),
          lit(len).as("len"), col("n_paths"))
    one("E0", 20, "E15")
      .unionByName(one("E3", 5, "E8"))
      .unionByName(one("E0", 5, "E15"))
      .orderBy(col("client"), col("anchor"), col("len"))
  }

  /** R4/J10: ABAC permission decision — member hop, bounded subgroup walk,
    * permission join, per-user path count (reference SQL twin:
    * demo_did_graph/04_web_of_trust/benchmark_scenario_a.py:267-278).
    * Users whose group chain cannot reach the permission-holding top group
    * within the bound produce no row (decision = deny).
    */
  def r4AbacDecision(spark: SparkSession, d: String): DataFrame =
    abacDecision(
      GraphData.abacMember(spark, d)
        .filter(col("user_id").isin("C0", "C7", "C13", "C42")),
      GraphData.abacSubgroup(spark, d),
      GraphData.abacPermission(spark, d).filter(col("resource_id") === "RES0"),
      maxDepth = 10)

  /** The ABAC decision over any membership (user_id, group_id), subgroup
    * hierarchy (parent, child) and permission rows (group_id): per user,
    * the walks of length 0..maxDepth from one of its groups to a
    * permission row's group, summed as a bag — (user_id, n) sorted by
    * user_id, no row for a user with none. A null id matches nothing.
    *
    * The hierarchy is a dimension (25 groups in r4), so the plan comes
    * from its measured size — one [[graft.graph.Closure.pathCountsAuto]]
    * call picks the arm:
    *   - driver tier (under `maxEdges`): the group → grant-count map
    *     ([[graft.graph.Closure.walksInto]], memoized per subgroup and
    *     permission content, so a warm decision reads no permission
    *     table) answers the membership read once under `maxMembers`
    *     rows, returned as a local frame; collecting it starts no further
    *     job. Past `maxMembers` the membership scan joins the map as a
    *     broadcast local relation; a permission bag past the driver cap
    *     takes the distributed closure frame's plan;
    *   - distributed tier (under `maxDistributedEdges`): the closure frame
    *     joined to the permission rows, with the lvl-0 self grant, as ONE
    *     broadcast over a single scan of the membership side;
    *   - else the [[Traverse.expand]] frontier walk, its `n` summed.
    * Every arm returns the same schema and rows.
    */
  def abacDecision(member: DataFrame, subgroup: DataFrame, perm: DataFrame,
      maxDepth: Int,
      maxEdges: Long = Closure.DriverPreferredMaxEdges,
      maxDistributedEdges: Long = Closure.DefaultMaxDistributedEdges,
      maxMembers: Long = Closure.DriverPreferredMaxEdges): DataFrame = {
    val users = member.select(col("user_id"), col("group_id").as("node"))
    // users ⋈ (group → grants), summed per user.
    def joined(grants: DataFrame) =
      users.join(broadcast(grants), users("node") === grants("src"))
        .groupBy(col("user_id")).agg(sum(col("n_paths")).as("n"))
        .orderBy(col("user_id"))
    // Walked reach (closure ⋈ perm on dst) plus lvl-0 self-reach (a perm
    // row grants the group itself, path count 1) fold into one broadcast.
    // sum(n_paths) ≡ count(*) over the expanded bag walk.
    def overClosure(closure: DataFrame) = joined(
      closure.join(perm, closure("dst") === perm("group_id"))
        .select(col("src"), col("n_paths"))
        .unionByName(perm.select(col("group_id").as("src"), lit(1L).as("n_paths"))))
    Closure.pathCountsAuto(subgroup, maxDepth, maxEdges = maxEdges,
        maxDistributedEdges = maxDistributedEdges) match {
      case Some(Left(index)) =>
        Closure.walksInto(index, maxDepth, perm, "group_id") match {
          case Some(grants) =>
            Closure.collectUnder(users, maxMembers) match {
              case Some(rows) => grantedLocally(users, rows, grants)
              case None =>
                import member.sparkSession.implicits._
                joined(grants.toSeq.toDF("src", "n_paths"))
            }
          // A negative driver cap forces the distributed frame.
          case None => overClosure(Closure.pathCountsAuto(subgroup, maxDepth,
              maxEdges = -1L).flatMap(_.toOption).get)
        }
      case Some(Right(closure)) => overClosure(closure)
      case None =>
        val reach = users.withColumn("lvl", lit(0)).withColumn("n", lit(1L))
          .union(Traverse.expand(users, subgroup, maxDepth = maxDepth))
        reach.join(perm, reach("node") === perm("group_id"))
          .groupBy(col("user_id")).agg(sum(col("n")).as("n"))
          .orderBy(col("user_id"))
    }
  }

  /** [[abacDecision]]'s driver-local answer: the collected (user_id, node)
    * rows summed against the grant map, as a local frame sorted as
    * `orderBy(user_id)` sorts — nulls first, then by UTF-8 bytes.
    */
  private def grantedLocally(users: DataFrame,
      rows: Array[Row], grants: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val n = scala.collection.mutable.HashMap[Option[String], Long]()
    rows.foreach { r =>
      grants.get(r.getString(1)).foreach { k =>
        val u = Option(r.getString(0))
        n(u) = Math.addExact(n.getOrElse(u, 0L), k)
      }
    }
    val byUser = Ordering.Option(Ordering.by[String, UTF8String](UTF8String.fromString))
    val out = n.toSeq.sortBy(_._1)(byUser).map { case (u, k) => Row(u.orNull, k) }
    users.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(users.schema("user_id"), StructField("n", LongType))))
  }

  /** R4 Cypher twin: the reference's Cypher formulation walks `MEMBER_OF*`
    * while the SQL twin walks the subgroup chain — an intentional semantic
    * divergence (SURVEY.md §2.5 R4, 05_abac/benchmark_scenario_c.py:167-170).
    * MEMBER_OF edges only go user→group, so the transitive walk reaches
    * exactly the direct groups: permission holds only for users directly in
    * the permission-holding group. Both formulations are exposed; each pins
    * its own oracle.
    */
  def r4AbacCypherTwin(spark: SparkSession, d: String): DataFrame = {
    val member = GraphData.abacMember(spark, d)
    val perm = GraphData.abacPermission(spark, d)
      .filter(col("resource_id") === "RES0")
    member.join(perm, member("group_id") === perm("group_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"))
  }

  /** J11: zero-hop cross pattern — cartesian of two point lookups producing
    * a new edge row (reference: `MATCH (hq),(d) CREATE (hq)-[:DELEGATES]->(d)`,
    * demo_did_graph/02_topology_dynamic/benchmark_scenario_c.py:58-64).
    */
  def j11EdgeCreate(spark: SparkSession, d: String): DataFrame = {
    val hq = Tables.region(spark, d).filter(col("r_regionkey") === 0)
      .select(concat(lit("R"), col("r_regionkey").cast("string")).as("parent"))
    val drone = Tables.customer(spark, d).filter(col("c_custkey") === 5)
      .select(concat(lit("C"), col("c_custkey").cast("string")).as("child"))
    hq.crossJoin(drone).withColumn("label", lit("DELEGATES"))
  }

  /** G1: per-node triangle counts over the co-supplier graph (suppliers
    * linked when both ship the same part near capacity — the sparse
    * projection; without the quantity filter every supplier pair shares
    * SOME part and the graph is complete, which counts nothing but
    * C(n,3)). [[graft.graph.GraphAlgos.triangleCounts]]: degree-ordered
    * compact-forward — wedge fan-out bounded O(√m) per node however
    * skewed the graph; the oracle enumerates the same triangles by a
    * 3-way relational self-join, so hash equality pins the directed
    * scheme against the naive definition.
    */
  def g1Triangles(spark: SparkSession, d: String): DataFrame =
    graft.graph.GraphAlgos.triangleCounts(coSupplierEdges(spark, d))
      .orderBy(col("node"))

  /** Shared graph for the g-family: suppliers linked when both ship the
    * same part near capacity (see g1's scaladoc for why the quantity
    * filter keeps the projection sparse). One edge per unordered pair.
    */
  private def coSupplierEdges(spark: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(spark, d)
      .filter(col("l_quantity") >= 49.5)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val a = ps.select(col("l_partkey"), col("l_suppkey").as("src"))
    val b = ps.select(col("l_partkey"), col("l_suppkey").as("dst"))
    a.join(b, "l_partkey").filter(col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  /** G6: local clustering coefficient — per node with degree ≥ 2,
    * 2·triangles / (deg·(deg−1)): how close the neighborhood is to a
    * clique, the standard cohesion metric next to raw triangle counts.
    * Reuses [[graft.graph.GraphAlgos.triangleCounts]] (degree-ordered,
    * O(m^1.5) wedge work bounded under any skew) plus one degree
    * aggregate and a left join for triangle-free nodes. The coefficient
    * is ONE double division of exact integers — correctly rounded IEEE,
    * so the gate compares full precision, no rounding band.
    */
  def g6ClusteringCoeff(spark: SparkSession, d: String): DataFrame = {
    // Checkpointed: the degree branch and the triangle kernel both read
    // it; without this each re-derives the lineitem self-join.
    val edges = graft.CacheRegistry.register(
      coSupplierEdges(spark, d).localCheckpoint())
    val deg = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(graft.graph.GraphAlgos.triangleCounts(edges), Seq("node"), "left")
      .filter(col("deg") >= 2)
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1))).as("coeff"))
      .orderBy(col("node"))
  }

  /** R6: per-node subtree rollup — how many leaf lineitems sit under
    * EVERY node of the R→N→C→O→L hierarchy, in one query.
    *
    * r14 optimization (guide §1.2 — fix the distributed algorithm
    * first): the rollup needs only per-ancestor LEAF-WALK counts, not
    * the full (ancestor, descendant, lvl) closure the previous form
    * materialized (~3 rows per edge at sf0.1) and then threw 3/4 of
    * away. The bag-exact bounded DP computes the same numbers in
    * maxDepth rounds of one join + one keyed sum over the EDGE set:
    *   f_k(v) = |{(v,c) edge rows : c is a leaf}| + Σ_{(v,c)} f_{k−1}(c)
    * — walks of length ≤ k from v ending at an L node, multiplicities
    * included exactly as the closure's n_paths (duplicate edge rows fan
    * the join out the same way they fanned the closure's prefix join).
    * f_maxDepth over the R→N→C→O→L levels equals the closure rollup
    * row-for-row (nodes with no leaf walk have no row on either side);
    * the unchanged DuckDB recursive-CTE oracle re-pins the hash. At
    * scale this is O(E) per round with nothing materialized beyond the
    * |V|-row count vector — the closure tier stays available for
    * queries that genuinely need arbitrary (src, dst) pairs.
    */
  def r6SubtreeRollup(spark: SparkSession, d: String): DataFrame = {
    val maxDepth = 4
    val e = graft.CacheRegistry.register(
      GraphData.hierarchyEdges(spark, d).select(col("parent"), col("child"))
        .localCheckpoint())
    val directL = graft.CacheRegistry.register(
      e.filter(col("child").startsWith("L"))
        .groupBy(col("parent").as("node"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .localCheckpoint())
    var f = directL
    (2 to maxDepth).foreach { _ =>
      val fromBelow = e
        .join(f.withColumnRenamed("node", "child"), "child")
        .groupBy(col("parent").as("node"))
        .agg(sum(col("cnt")).as("cnt"))
      f = directL.withColumnRenamed("cnt", "dc")
        .join(fromBelow.withColumnRenamed("cnt", "bc"), Seq("node"), "full")
        .select(col("node"),
          (coalesce(col("dc"), lit(0L)) + coalesce(col("bc"), lit(0L)))
            .as("cnt"))
    }
    f.select(col("node").as("src"), col("cnt").cast("long").as("n_lines"))
      .orderBy(col("src"))
  }

  /** G8: common-neighbor link prediction over the co-supplier graph —
    * for every non-adjacent pair sharing ≥2 neighbors, the common-
    * neighbor count and the neighborhood Jaccard cn/(deg_u+deg_v−cn):
    * the classic "who should be connected next" scores. The wedge
    * enumeration is ONE self-join of the undirected adjacency on the
    * middle node followed by a (u,v) count — exactly the triangle
    * kernel's join shape, so the per-wedge work is linear in Σdeg² and
    * AQE's skew split covers hub middles; existing edges drop via a
    * left-anti join on the canonical (u<v) key rather than a per-pair
    * membership probe. Jaccard is one exact-integer division in
    * DOUBLE — bit-equal cross-engine, no rounding band.
    */
  def g8CommonNeighbors(spark: SparkSession, d: String): DataFrame = {
    val edges = graft.CacheRegistry.register(
      coSupplierEdges(spark, d).localCheckpoint())
    val adj = edges.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(edges.select(col("dst").as("node"), col("src").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val x = adj.select(col("node").as("u"), col("nbr").as("w"))
    val y = adj.select(col("node").as("v"), col("nbr").as("w"))
    val cn = x.join(y, "w").filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
    cn.join(edges, cn("u") === edges("src") && cn("v") === edges("dst"),
        "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast("double") / (col("du") + col("dv") - col("cn")))
          .as("jaccard"))
      .orderBy(col("u"), col("v"))
  }

  /** G12: Adamic–Adar link prediction over the co-supplier graph — the
    * g8 candidate set (non-adjacent pairs sharing ≥2 neighbors) scored
    * by Σ_w 1/ln(deg(w)) over the common neighbors w, the classic
    * rare-neighbors-count-more refinement of the common-neighbor count.
    * Same single wedge self-join as g8/g1 (linear in Σdeg², AQE skew
    * split covers hub middles); the middle node's degree rides INTO the
    * wedge join as a broadcast-sized (node, deg) attach, so the score
    * is one map-side 1/ln(deg) sum in the same aggregate that counts
    * the wedge — no per-pair neighborhood re-probe. Every middle has
    * deg ≥ 2 by construction (it neighbors both endpoints), so ln(deg)
    * is never 0. The ln-sum is rounded to 4 decimals (the t5/bm25
    * contract: rounding absorbs last-ulp ln and summation-order
    * differences between engines). Reference behavior: link-prediction
    * scoring is the graph-analytics surface of the reference's AQL
    * 1-hop neighborhood traversal (demo_offline/06_arango/02initdb.py:
    * 46-52, `FOR v,e,p IN 1..1 OUTBOUND ... RETURN v`) — re-expressed
    * as one declarative wedge aggregate.
    */
  def g12AdamicAdar(spark: SparkSession, d: String): DataFrame = {
    val edges = graft.CacheRegistry.register(
      coSupplierEdges(spark, d).localCheckpoint())
    val adj = edges.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(edges.select(col("dst").as("node"), col("src").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val x = adj.join(
        deg.select(col("node").as("nbr"), col("deg").as("wdeg")), "nbr")
      .select(col("node").as("u"), col("nbr").as("w"), col("wdeg"))
    val y = adj.select(col("node").as("v"), col("nbr").as("w"))
    val aa = x.join(y, "w").filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(lit(1.0) / log(col("wdeg").cast("double"))).as("aa_raw"))
      .filter(col("cn") >= 2)
    aa.join(edges, aa("u") === edges("src") && aa("v") === edges("dst"),
        "left_anti")
      .select(col("u"), col("v"), col("cn"),
        round(col("aa_raw"), 4).as("adamic_adar"))
      .orderBy(col("u"), col("v"))
  }

  /** G13: exact betweenness centrality over the delegation hierarchy
    * ([[graft.graph.GraphAlgos.treeBetweenness]]) — for every node, the
    * number of unordered endpoint pairs whose unique tree path crosses
    * it, the load/chokepoint measure of a command hierarchy (which
    * relay concentrates the most pair traffic). On a forest Brandes
    * collapses to subtree-size algebra — C(Nc−1,2) − Σ C(child,2) −
    * C(Nc−size,2) — so the result is exact integer arithmetic, no
    * sampling, no per-pair work: 2·depth keyed rounds over the edge
    * set where general-graph betweenness needs |V| BFS sweeps. Output
    * is the per-level profile (count / max / sum of betweenness by
    * node type): leaves pin at 0, the R/N/C strata expose the
    * concentration gradient. Sums accumulate in DECIMAL(38,0) (they
    * pass 2^63 at planet scale) and present as DOUBLE — the o21/q1
    * decimal contract. Reference behavior: the centrality view of the
    * same delegation hierarchy the reference expands level-by-level
    * (demo_did_graph/01_multi_layer/benchmark_scenario_a.py:48-66);
    * the oracle recomputes the algebra level-structured in DuckDB.
    */
  def g13TreeBetweenness(spark: SparkSession, d: String): DataFrame =
    graft.graph.GraphAlgos.treeBetweenness(
        GraphData.hierarchyEdges(spark, d).drop("child_type"), maxDepth = 4)
      .withColumn("node_type", substring(col("node"), 1, 1))
      .groupBy(col("node_type"))
      .agg(count(lit(1)).as("n_nodes"),
        max(col("btw")).as("max_btw"),
        sum(col("btw").cast("decimal(38,0)")).cast("double").as("sum_btw"))
      .orderBy(col("node_type"))

  /** G14: exact closeness centrality over the delegation hierarchy
    * ([[graft.graph.GraphAlgos.treeDistanceSums]]) — per-node sums of
    * tree distances via the O(n) re-rooting DP (bottom-up subtree
    * distance sums, then S(child) = S(parent) + Nc − 2·size(child)
    * across each edge), where textbook closeness needs a BFS per node.
    * The complement of g13: betweenness measures pair traffic THROUGH a
    * relay, closeness measures how near a node sits to its whole
    * component (dispatch latency of a command node). Output is the
    * per-level profile: count, max/decimal-sum of the exact integer
    * distance sums, and the best closeness (Nc−1)/S rounded at 6 — the
    * g2 double contract. Reference behavior: the centrality view of the
    * delegation hierarchy the reference expands level-by-level
    * (demo_did_graph/01_multi_layer/benchmark_scenario_a.py:48-66).
    */
  def g14Closeness(spark: SparkSession, d: String): DataFrame =
    graft.graph.GraphAlgos.treeDistanceSums(
        GraphData.hierarchyEdges(spark, d).drop("child_type"), maxDepth = 4)
      .withColumn("node_type", substring(col("node"), 1, 1))
      .groupBy(col("node_type"))
      .agg(count(lit(1)).as("n_nodes"),
        max(col("dist_sum")).as("max_dist"),
        sum(col("dist_sum").cast("decimal(38,0)")).cast("double")
          .as("sum_dist"),
        round(max((col("nc") - lit(1L)).cast("double") / col("dist_sum")), 6)
          .as("max_closeness"))
      .orderBy(col("node_type"))

  /** G7: label-propagation communities over the co-supplier graph —
    * 5 fixed synchronous rounds, most-frequent neighbor label with
    * smallest-label tie-break ([[graft.graph.GraphAlgos.labelPropagation]]).
    * Fixed rounds + deterministic tie-break make the result a pure
    * function of the graph, so the oracle unrolls the SAME 5 rounds as
    * chained MATERIALIZED CTEs (the g5 lesson: DuckDB inlines plain
    * CTEs and a per-round multi-reference unroll goes exponential).
    * Distinct from g4/WCC: frequency voting splits a connected
    * component into dense cores (5 communities vs 2 components here).
    */
  def g7LabelPropagation(spark: SparkSession, d: String): DataFrame =
    graft.graph.GraphAlgos.labelPropagation(
        coSupplierEdges(spark, d), rounds = 5)
      .orderBy(col("node"))

  /** G2: PageRank over the same co-supplier graph as g1 — 20 fixed
    * power-method iterations at damping 0.85
    * ([[graft.graph.GraphAlgos.pageRank]]). The oracle UNROLLS the same
    * 20 iterations as chained CTEs in DuckDB and both sides round to 6
    * decimals: the arithmetic is identical, only float summation order
    * differs (~1e-12 after 20 rounds), so the rounded fixed point is an
    * exact cross-engine pin — not a derived-bound gate.
    */
  def g2Pagerank(spark: SparkSession, d: String): DataFrame =
    graft.graph.GraphAlgos.pageRank(coSupplierEdges(spark, d),
        iterations = 20, damping = 0.85)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy(col("node"))

  /** G9: personalized PageRank from the 5 smallest co-supplier nodes —
    * random walk with restart
    * ([[graft.graph.GraphAlgos.personalizedPageRank]], 15 iterations at
    * damping 0.85): ranks measure proximity to the seed set, the
    * seed-expansion primitive (grow a curation domain from a few
    * labeled examples). The oracle unrolls the same 15 rounds as
    * MATERIALIZED CTEs with the teleport spelled as the SAME
    * (1.0 − 0.85)/|S| IEEE tree (a folded 0.03 literal is a different
    * double); both sides round to 6 decimals — same contract as g2.
    */
  def g9Ppr(spark: SparkSession, d: String): DataFrame = {
    val e = coSupplierEdges(spark, d)
    val seeds = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().orderBy(col("node")).limit(5)
    graft.graph.GraphAlgos.personalizedPageRank(e, seeds,
        iterations = 15, damping = 0.85)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .filter(col("rank") > 0)
      .orderBy(col("node"))
  }

  /** G3: bounded-hop weighted shortest path over the co-supplier graph
    * ([[graft.graph.GraphAlgos.sssp]], 8 Bellman-Ford rounds from the
    * minimum-id node). Edge weight `1 + (src+dst) % 7` is a deterministic
    * BIGINT both engines compute identically (and is symmetric, so both
    * directions of an undirected edge agree); min over BIGINT costs is
    * exact, so the gate is a hash pin, not a rounded one. The oracle
    * unrolls the same 8 relaxation rounds as chained CTEs — bounded-hop
    * cost is the semantics, well-defined on cyclic graphs.
    */
  def g3Sssp(spark: SparkSession, d: String): DataFrame = {
    val und = coSupplierEdges(spark, d)
    val e = und
      .unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7)
    val source = e.select(col("src").as("node"))
      .agg(min(col("node")).as("node"))
    graft.graph.GraphAlgos.sssp(e, source, maxHops = 8)
      .orderBy(col("node"))
  }

  /** G4: weakly connected components over the co-supplier graph —
    * min-label delta iteration ([[graft.pipeline.Dedup.components]], the
    * same distributed tier that canonicalizes near-dup clusters in d6;
    * here exercised as a first-class graph-analytics operator so the
    * g-family covers triangles / PageRank / shortest path / components).
    * The oracle recomputes reachability as a recursive min-label closure
    * (UNION-dedup'd so it terminates on cycles). Component ids are the
    * min member id — engine-independent, so the gate is a hash pin.
    */
  def g4Wcc(spark: SparkSession, d: String): DataFrame =
    graft.pipeline.Dedup.components(coSupplierEdges(spark, d),
        aCol = "src", bCol = "dst")
      .select(col("node"), col("lab").as("comp"))
      .orderBy(col("node"))

  /** G5: k-core decomposition of the co-supplier graph
    * ([[graft.graph.GraphAlgos.kCore]], k=5) — iterative peel to the
    * maximal subgraph of min-degree 5 (6 effective peels at sf0.01/0.1;
    * the engine proves convergence with a loud `require`, the oracle
    * unrolls 12 fixed rounds, and peeling is idempotent past the fixed
    * point so the two agree exactly). Output is each core member with
    * its in-core degree — a BIGINT hash pin.
    */
  def g5Kcore(spark: SparkSession, d: String): DataFrame =
    graft.graph.GraphAlgos.kCore(coSupplierEdges(spark, d), k = 5)
      .orderBy(col("node"))

  /** The g5 oracle: 12 unrolled peel rounds (idempotent after the
    * fixed point the engine proves it reaches).
    */
  private def g5Oracle(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: each round references its
    // predecessor three times, and DuckDB inlines plain CTEs — 3^12
    // copies of the base scan ("too many open files", observed).
    val chain = (1 to rounds).map { i =>
      s"""e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN (SELECT src FROM (SELECT src, count(*) AS c
         |        FROM e${i - 1} GROUP BY src) dsrc WHERE c >= $k) ka
         |    ON e.src = ka.src
         |  JOIN (SELECT src FROM (SELECT src, count(*) AS c
         |        FROM e${i - 1} GROUP BY src) ddst WHERE c >= $k) kb
         |    ON e.dst = kb.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
       |  WHERE l_quantity >= 49.5),
       |eu AS (
       |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
       |  FROM ps a JOIN ps b
       |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
       |e0 AS (SELECT s AS src, t AS dst FROM eu
       |       UNION ALL SELECT t, s FROM eu),
       |$chain
       |SELECT src AS node, count(*) AS deg FROM e$rounds
       |GROUP BY src ORDER BY node""".stripMargin
  }

  /** The g3 oracle: the same 8 relaxation rounds unrolled as chained
    * CTEs (the g2Oracle pattern — recursive CTEs disallow the per-step
    * min aggregate).
    */
  private def g3Oracle(hops: Int): String = {
    val chain = (1 to hops).map { i =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d${i - 1}.dist + e.w AS dist
         |    FROM e JOIN d${i - 1} ON e.src = d${i - 1}.node) u
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
       |  WHERE l_quantity >= 49.5),
       |eu AS (
       |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
       |  FROM ps a JOIN ps b
       |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
       |e AS (
       |  SELECT s AS src, t AS dst, 1 + (s + t) % 7 AS w FROM eu
       |  UNION ALL SELECT t, s, 1 + (s + t) % 7 FROM eu),
       |d0 AS (
       |  SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM e),
       |$chain
       |SELECT node, dist FROM d$hops ORDER BY node""".stripMargin
  }

  /** The g2 oracle: the same power iteration unrolled as chained CTEs
    * (recursive CTEs disallow the per-step aggregate; generation is the
    * d3SimhashOracle pattern).
    */
  /** G10: degree assortativity — Pearson correlation of endpoint degrees
    * over the directed edge list (both directions, the standard Newman
    * form): do hubs attach to hubs? One degree aggregate, two equi-joins
    * to decorate endpoints, then a single aggregate of exact BIGINT
    * power sums (degrees are integers — no float accumulates anywhere,
    * the a15/a17 lesson) with the closed Pearson form in ONE identical
    * DOUBLE tree. No rounding band needed: both engines derive the same
    * doubles from the same integers.
    */
  def g10Assortativity(spark: SparkSession, d: String): DataFrame =
    graft.graph.GraphAlgos.assortativity(coSupplierEdges(spark, d))

  /** G11: HITS hubs & authorities over the DIRECTED customer→part
    * purchase bipartite graph ([[graft.graph.GraphAlgos.hits]], 8
    * rounds, max-normalized — order-independent where an L2 norm would
    * encode partition order into low bits): big buyers are hubs,
    * popular parts authorities. Round-6 contract, same as g2/g9.
    */
  def g11Hits(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val l = Tables.lineitem(spark, d)
    val e = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(concat(lit("C"), col("o_custkey").cast("string")).as("src"),
        concat(lit("P"), col("l_partkey").cast("string")).as("dst"))
    graft.graph.GraphAlgos.hits(e, iterations = 8)
      .select(col("node"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("auth"))
      .orderBy(col("node"))
  }

  /** DuckDB oracle for `g11_hits`: the same 8 rounds unrolled — every
    * CTE MATERIALIZED (the g5/g7 lesson), max-normalization per round
    * via a scalar subquery over the round's raw scores.
    */
  private def g11Oracle(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""a${i}r AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(h${i - 1}.h) AS ar
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node
         |  GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         |  SELECT node, ar / (SELECT max(ar) FROM a${i}r) AS a
         |  FROM a${i}r),
         |h${i}r AS MATERIALIZED (
         |  SELECT e.src AS node, sum(a$i.a) AS hr
         |  FROM e JOIN a$i ON e.dst = a$i.node
         |  GROUP BY e.src),
         |h$i AS MATERIALIZED (
         |  SELECT node, hr / (SELECT max(hr) FROM h${i}r) AS h
         |  FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT 'C' || o_custkey AS src, 'P' || l_partkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, 1.0 AS h FROM e),
       |$chain
       |SELECT COALESCE(h.node, a.node) AS node,
       |  round(COALESCE(h.h, 0.0), 6) AS hub,
       |  round(COALESCE(a.a, 0.0), 6) AS auth
       |FROM h$iters h FULL JOIN a$iters a ON h.node = a.node
       |ORDER BY node""".stripMargin
  }

  /** DuckDB oracle for `g9_ppr`: the same 15 restart rounds unrolled as
    * MATERIALIZED CTEs (the g5/g7 exponential-inline lesson); the
    * teleport is spelled (1.0 − 0.85)/|S| so both engines execute the
    * identical IEEE tree.
    */
  private def g9Oracle(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT COALESCE(c.node, sb.node) AS node,
         |    0.85 * COALESCE(c.sc, 0.0) + COALESCE(sb.b, 0.0) AS rank
         |  FROM (
         |    SELECT e.dst AS node, sum(r${i - 1}.rank / deg.deg) AS sc
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) c
         |  FULL JOIN sb ON sb.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
       |  WHERE l_quantity >= 49.5),
       |eu AS MATERIALIZED (
       |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
       |  FROM ps a JOIN ps b
       |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
       |e AS MATERIALIZED (
       |  SELECT s AS src, t AS dst FROM eu
       |  UNION ALL SELECT t, s FROM eu),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e
       |  GROUP BY src),
       |sb0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 5),
       |sb AS MATERIALIZED (
       |  SELECT node, (1.0 - 0.85) / (SELECT count(*) FROM sb0) AS b
       |  FROM sb0),
       |r0 AS MATERIALIZED (
       |  SELECT node, 1.0 / (SELECT count(*) FROM sb0) AS rank FROM sb0),
       |$chain
       |SELECT node, round(rank, 6) AS rank FROM r$iters
       |WHERE round(rank, 6) > 0
       |ORDER BY node""".stripMargin
  }

  private def g2Oracle(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    0.15 / (SELECT count(*) FROM deg)
         |      + 0.85 * sum(r${i - 1}.rank / deg.deg) AS rank
         |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
       |  WHERE l_quantity >= 49.5),
       |eu AS (
       |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
       |  FROM ps a JOIN ps b
       |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
       |e AS (SELECT s AS src, t AS dst FROM eu
       |      UNION ALL SELECT t, s FROM eu),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (
       |  SELECT src AS node, 1.0 / (SELECT count(*) FROM deg) AS rank
       |  FROM deg),
       |$chain
       |SELECT node, round(rank, 6) AS rank FROM r$iters
       |ORDER BY node""".stripMargin
  }

  /** DuckDB oracle for `g7_label_propagation`: the same fixed-round
    * synchronous vote, unrolled as chained CTEs. Every CTE is
    * MATERIALIZED — DuckDB inlines plain CTEs, and `und` is referenced
    * by all `rounds` rounds (the g5 exponential-unroll lesson).
    */
  private def g7Oracle(rounds: Int): String = {
    def round(i: Int): String = {
      val prev = if (i > 1) s"r${i - 1}" else "l0"
      s"""r$i AS MATERIALIZED (
         |  SELECT u AS node, lbl FROM (
         |    SELECT und.u, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY und.u
         |        ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM und JOIN $prev l ON und.v = l.node
         |    GROUP BY und.u, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    }
    s"""WITH ps AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
       |  WHERE l_quantity >= 49.5),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
       |  FROM ps a JOIN ps b
       |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
       |und AS MATERIALIZED (
       |  SELECT s AS u, t AS v FROM e UNION SELECT t, s FROM e),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS node, u AS lbl FROM und),
       |${(1 to rounds).map(round).mkString(",\n")}
       |SELECT node, lbl FROM r$rounds ORDER BY node""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g1_triangles" -> g1Triangles,
    "g8_common_neighbors" -> g8CommonNeighbors,
    "g12_adamic_adar" -> g12AdamicAdar,
    "g13_tree_betweenness" -> g13TreeBetweenness,
    "g14_closeness" -> g14Closeness,
    "r6_subtree_rollup" -> r6SubtreeRollup,
    "g6_clustering_coeff" -> g6ClusteringCoeff,
    "g7_label_propagation" -> g7LabelPropagation,
    "g2_pagerank" -> g2Pagerank,
    "g9_ppr" -> g9Ppr,
    "g10_assortativity" -> g10Assortativity,
    "g11_hits" -> g11Hits,
    "g3_sssp" -> g3Sssp,
    "g4_wcc" -> g4Wcc,
    "g5_kcore" -> g5Kcore,
    "s2_vertex_scan" -> s2VertexScan,
    "s3_filtered_vertex_scan" -> s3FilteredVertexScan,
    "j6_fk_integrity" -> j6FkIntegrity,
    "r1_chain_levels" -> r1ChainLevels,
    "r1_chain_levels_rcte" -> r1ChainLevelsRcte,
    "r2_varlen_endpoint" -> r2VarlenEndpoint,
    "r5_role_tagged" -> r5RoleTagged,
    "j8_hier_vc_count" -> j8HierVcCount,
    "j7_two_hop" -> j7TwoHop,
    "r3_wot_path_count" -> r3WotPathCount,
    "r3_wot_path_count_dist" -> r3WotPathCountDist,
    "prep_wot_count" -> prepWotCount,
    "r3_wot_path_list" -> r3WotPathList,
    "r4_abac_decision" -> r4AbacDecision,
    "r4_abac_cypher_twin" -> r4AbacCypherTwin,
    "j11_edge_create" -> j11EdgeCreate)

  /** Oracle for `prep_wot_count`: one recursive block per binding, the
    * bound values inlined (DuckDB has no named-parameter surface) over the
    * same derived trust chain.
    */
  private def prepWotOracle(bindings: Seq[(String, Int, String)]): String = {
    val blocks = bindings.zipWithIndex.map { case ((client, len, _), i) =>
      s"""p$i(node, lvl) AS (
         |  SELECT child, 1 FROM trust WHERE parent = '$client'
         |  UNION ALL
         |  SELECT t.child, p.lvl + 1 FROM p$i p JOIN trust t ON t.parent = p.node
         |  WHERE p.lvl < $len
         |)""".stripMargin
    }
    val selects = bindings.zipWithIndex.map { case ((client, len, anchor), i) =>
      s"SELECT '$client' AS client, '$anchor' AS anchor, $len AS len, " +
        s"(SELECT count(*) FROM p$i WHERE node = '$anchor') AS n_paths"
    }
    s"""WITH RECURSIVE trust AS (
       |  SELECT 'E' || a.c_custkey AS parent, 'E' || b.c_custkey AS child
       |  FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
       |),
       |${blocks.mkString(",\n")}
       |${selects.mkString("\nUNION ALL ")}
       |ORDER BY client, anchor, len""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // g13: the subtree-size algebra recomputed level-structured on the
    // raw tables (sizes bottom-up via LEFT JOINs so childless customers
    // and orders keep size 1; C(n,2) spelled n*(n-1)//2 — DuckDB `//`
    // is integer division, `/` is float). lx dedupes the testdata's
    // repeated (orderkey, linenumber) pairs, mirroring the engine's
    // edge normalization. Sums go HUGEINT (exact) and present as
    // DOUBLE, mirroring the Spark DECIMAL(38,0)->DOUBLE leg.
    "g13_tree_betweenness" ->
      """WITH lx AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem),
        |osz AS MATERIALIZED (
        |  SELECT o.o_orderkey, o.o_custkey, 1 + count(l.l_orderkey) AS sz
        |  FROM orders o LEFT JOIN lx l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o.o_orderkey, o.o_custkey),
        |csz AS MATERIALIZED (
        |  SELECT c.c_custkey, c.c_nationkey,
        |    1 + coalesce(sum(o.sz), 0) AS sz,
        |    coalesce(sum(o.sz * (o.sz - 1) // 2), 0) AS childsq
        |  FROM customer c LEFT JOIN osz o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey, c.c_nationkey),
        |nsz AS MATERIALIZED (
        |  SELECT n.n_nationkey, n.n_regionkey,
        |    1 + coalesce(sum(c.sz), 0) AS sz,
        |    coalesce(sum(c.sz * (c.sz - 1) // 2), 0) AS childsq
        |  FROM nation n LEFT JOIN csz c ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_nationkey, n.n_regionkey),
        |rsz AS MATERIALIZED (
        |  SELECT n.n_regionkey, 1 + sum(n.sz) AS nc,
        |    sum(n.sz * (n.sz - 1) // 2) AS childsq
        |  FROM nsz n GROUP BY n.n_regionkey),
        |btw AS (
        |  SELECT 'L' AS node_type, 0 AS btw FROM lx
        |  UNION ALL
        |  SELECT 'O', (r.nc - 1) * (r.nc - 2) // 2
        |    - (r.nc - o.sz) * (r.nc - o.sz - 1) // 2
        |  FROM osz o JOIN csz c ON o.o_custkey = c.c_custkey
        |    JOIN nsz n ON c.c_nationkey = n.n_nationkey
        |    JOIN rsz r ON n.n_regionkey = r.n_regionkey
        |  UNION ALL
        |  SELECT 'C', (r.nc - 1) * (r.nc - 2) // 2 - c.childsq
        |    - (r.nc - c.sz) * (r.nc - c.sz - 1) // 2
        |  FROM csz c JOIN nsz n ON c.c_nationkey = n.n_nationkey
        |    JOIN rsz r ON n.n_regionkey = r.n_regionkey
        |  UNION ALL
        |  SELECT 'N', (r.nc - 1) * (r.nc - 2) // 2 - n.childsq
        |    - (r.nc - n.sz) * (r.nc - n.sz - 1) // 2
        |  FROM nsz n JOIN rsz r ON n.n_regionkey = r.n_regionkey
        |  UNION ALL
        |  SELECT 'R', (r.nc - 1) * (r.nc - 2) // 2 - r.childsq FROM rsz r)
        |SELECT node_type, count(*)::BIGINT AS n_nodes,
        |  max(btw)::BIGINT AS max_btw, CAST(sum(btw) AS DOUBLE) AS sum_btw
        |FROM btw GROUP BY node_type ORDER BY node_type""".stripMargin,
    // g14: the re-rooting DP replayed level-structured — D bottom-up
    // (dsub = Σ_child dsub + sz), then S shifted down one level at a
    // time with S(child) = S(parent) + nc − 2·sz(child). Same lx dedupe
    // and decimal-sum presentation as g13; closeness division done in
    // DOUBLE on both sides before the round-6.
    "g14_closeness" ->
      """WITH lx AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem),
        |osz AS MATERIALIZED (
        |  SELECT o.o_orderkey, o.o_custkey, 1 + count(l.l_orderkey) AS sz,
        |    count(l.l_orderkey) AS dsub
        |  FROM orders o LEFT JOIN lx l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o.o_orderkey, o.o_custkey),
        |csz AS MATERIALIZED (
        |  SELECT c.c_custkey, c.c_nationkey,
        |    1 + coalesce(sum(o.sz), 0) AS sz,
        |    coalesce(sum(o.dsub + o.sz), 0) AS dsub
        |  FROM customer c LEFT JOIN osz o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey, c.c_nationkey),
        |nsz AS MATERIALIZED (
        |  SELECT n.n_nationkey, n.n_regionkey,
        |    1 + coalesce(sum(c.sz), 0) AS sz,
        |    coalesce(sum(c.dsub + c.sz), 0) AS dsub
        |  FROM nation n LEFT JOIN csz c ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_nationkey, n.n_regionkey),
        |rsz AS MATERIALIZED (
        |  SELECT n.n_regionkey, 1 + sum(n.sz) AS nc,
        |    sum(n.dsub + n.sz) AS s
        |  FROM nsz n GROUP BY n.n_regionkey),
        |sn AS MATERIALIZED (
        |  SELECT n.n_nationkey, r.n_regionkey, r.nc,
        |    r.s + r.nc - 2 * n.sz AS s
        |  FROM nsz n JOIN rsz r ON n.n_regionkey = r.n_regionkey),
        |sc AS MATERIALIZED (
        |  SELECT c.c_custkey, sn.nc, sn.s + sn.nc - 2 * c.sz AS s
        |  FROM csz c JOIN sn ON c.c_nationkey = sn.n_nationkey),
        |so AS MATERIALIZED (
        |  SELECT o.o_orderkey, sc.nc, sc.s + sc.nc - 2 * o.sz AS s
        |  FROM osz o JOIN sc ON o.o_custkey = sc.c_custkey),
        |dist AS (
        |  SELECT 'L' AS node_type, so.s + so.nc - 2 AS s, so.nc
        |  FROM lx l JOIN so ON l.l_orderkey = so.o_orderkey
        |  UNION ALL SELECT 'O', s, nc FROM so
        |  UNION ALL SELECT 'C', s, nc FROM sc
        |  UNION ALL SELECT 'N', s, nc FROM sn
        |  UNION ALL SELECT 'R', s, nc FROM rsz)
        |SELECT node_type, count(*)::BIGINT AS n_nodes,
        |  max(s)::BIGINT AS max_dist, CAST(sum(s) AS DOUBLE) AS sum_dist,
        |  round(max((nc - 1)::DOUBLE / s), 6) AS max_closeness
        |FROM dist GROUP BY node_type ORDER BY node_type""".stripMargin,
    "g2_pagerank" -> g2Oracle(20),
    "g9_ppr" -> g9Oracle(15),
    "g11_hits" -> g11Oracle(8),
    "g10_assortativity" ->
      """WITH ps AS MATERIALIZED (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_quantity >= 49.5),
        |eu AS MATERIALIZED (
        |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
        |  FROM ps a JOIN ps b
        |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |e AS MATERIALIZED (
        |  SELECT s AS src, t AS dst FROM eu
        |  UNION ALL SELECT t, s FROM eu),
        |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e
        |  GROUP BY src),
        |j AS (
        |  SELECT dx.deg AS x, dy.deg AS y
        |  FROM e JOIN deg dx ON e.src = dx.src
        |  JOIN deg dy ON e.dst = dy.src),
        |s AS (
        |  SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM j)
        |SELECT CAST(m AS BIGINT) AS m,
        |  (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |  / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |     * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |  AS r
        |FROM s""".stripMargin,
    "g3_sssp" -> g3Oracle(8),
    "g5_kcore" -> g5Oracle(5, 12),
    "g4_wcc" ->
      """WITH RECURSIVE ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_quantity >= 49.5),
        |eu AS (
        |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
        |  FROM ps a JOIN ps b
        |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |e AS (SELECT s AS ea, t AS eb FROM eu
        |      UNION SELECT t, s FROM eu),
        |nodes AS (SELECT DISTINCT ea AS node FROM e),
        |reach(node, lab) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.eb, r.lab FROM reach r JOIN e ON e.ea = r.node
        |)
        |SELECT node, min(lab) AS comp FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,
    "g1_triangles" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_quantity >= 49.5),
        |e AS (
        |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
        |  FROM ps a JOIN ps b
        |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |tri AS (
        |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM e e1 JOIN e e2 ON e1.t = e2.s
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |n AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS n_tri FROM n
        |GROUP BY node ORDER BY node""".stripMargin,
    "r6_subtree_rollup" ->
      s"""WITH RECURSIVE $edgesCte,
        |anc AS (
        |  SELECT parent AS src, child AS dst, child_type FROM edges
        |  UNION ALL
        |  SELECT a.src, e.child, e.child_type
        |  FROM anc a JOIN edges e ON e.parent = a.dst)
        |SELECT src, count(*)::BIGINT AS n_lines
        |FROM anc WHERE child_type = 'Line'
        |GROUP BY src ORDER BY src""".stripMargin,
    "g8_common_neighbors" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_quantity >= 49.5),
        |e AS (
        |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
        |  FROM ps a JOIN ps b
        |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |adj AS (SELECT s AS node, t AS nbr FROM e
        |        UNION ALL SELECT t, s FROM e),
        |d AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
        |cn AS (
        |  SELECT x.node AS u, y.node AS v, count(*)::BIGINT AS cn
        |  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT u, v, cn,
        |  CAST(cn AS DOUBLE) / (du.deg + dv.deg - cn) AS jaccard
        |FROM cn JOIN d du ON du.node = u JOIN d dv ON dv.node = v
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = u AND e.t = v)
        |ORDER BY u, v""".stripMargin,
    // g12: the g8 wedge CTEs with the middle degree attached before the
    // wedge join; score = sum(1/ln(deg_w)) rounded 4 (the ln-sum band).
    "g12_adamic_adar" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_quantity >= 49.5),
        |e AS (
        |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
        |  FROM ps a JOIN ps b
        |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |adj AS (SELECT s AS node, t AS nbr FROM e
        |        UNION ALL SELECT t, s FROM e),
        |d AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
        |aa AS (
        |  SELECT x.node AS u, y.node AS v, count(*)::BIGINT AS cn,
        |    sum(1.0 / ln(dw.deg::DOUBLE)) AS aa_raw
        |  FROM adj x
        |  JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
        |  JOIN d dw ON dw.node = x.nbr
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT u, v, cn, round(aa_raw, 4) AS adamic_adar
        |FROM aa
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = u AND e.t = v)
        |ORDER BY u, v""".stripMargin,
    "g6_clustering_coeff" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_quantity >= 49.5),
        |e AS (
        |  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
        |  FROM ps a JOIN ps b
        |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |tri AS (
        |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM e e1 JOIN e e2 ON e1.t = e2.s
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |n AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |tc AS (SELECT node, count(*) AS n_tri FROM n GROUP BY node),
        |d AS (
        |  SELECT node, count(*) AS deg FROM
        |    (SELECT s AS node FROM e UNION ALL SELECT t FROM e)
        |  GROUP BY node)
        |SELECT d.node, d.deg, coalesce(tc.n_tri, 0) AS n_tri,
        |  2.0 * coalesce(tc.n_tri, 0) / (d.deg * (d.deg - 1)) AS coeff
        |FROM d LEFT JOIN tc USING (node)
        |WHERE d.deg >= 2 ORDER BY node""".stripMargin,
    "g7_label_propagation" -> g7Oracle(5),
    "s2_vertex_scan" ->
      "SELECT 'O' || o_orderkey AS id FROM orders ORDER BY id",
    "s3_filtered_vertex_scan" ->
      """SELECT 'E' || b.c_custkey AS did
        |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        |WHERE 'E' || b.c_custkey <> 'E1'
        |ORDER BY did""".stripMargin,
    "j6_fk_integrity" ->
      """SELECT count(*) AS resolved FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "r1_chain_levels" ->
      s"""WITH RECURSIVE $edgesCte,
        |chain AS (
        |  SELECT child AS node, 1 AS lvl FROM edges WHERE parent = 'R0'
        |  UNION ALL
        |  SELECT e.child, c.lvl + 1 FROM chain c JOIN edges e ON e.parent = c.node
        |  WHERE c.lvl < 3
        |)
        |SELECT lvl, count(*) AS n FROM chain GROUP BY lvl ORDER BY lvl""".stripMargin,
    "r1_chain_levels_rcte" ->
      s"""WITH RECURSIVE $edgesCte,
        |chain AS (
        |  SELECT child AS node, 1 AS lvl FROM edges WHERE parent = 'R0'
        |  UNION ALL
        |  SELECT e.child, c.lvl + 1 FROM chain c JOIN edges e ON e.parent = c.node
        |  WHERE c.lvl < 3
        |)
        |SELECT lvl, count(*) AS n FROM chain GROUP BY lvl ORDER BY lvl""".stripMargin,
    "r2_varlen_endpoint" ->
      s"""WITH RECURSIVE $edgesCte,
        |chain AS (
        |  SELECT child AS node, child_type, 1 AS lvl FROM edges WHERE parent = 'R0'
        |  UNION ALL
        |  SELECT e.child, e.child_type, c.lvl + 1 FROM chain c JOIN edges e ON e.parent = c.node
        |  WHERE c.lvl < 4
        |)
        |SELECT count(*) AS n FROM chain WHERE child_type = 'Line'""".stripMargin,
    "r5_role_tagged" ->
      s"""WITH RECURSIVE $edgesCte,
        |chain AS (
        |  SELECT child AS node, child_type, 1 AS lvl FROM edges WHERE parent = 'R0'
        |  UNION ALL
        |  SELECT e.child, e.child_type, c.lvl + 1 FROM chain c JOIN edges e ON e.parent = c.node
        |  WHERE c.lvl < 4
        |)
        |SELECT child_type, lvl, count(*) AS n FROM chain
        |GROUP BY child_type, lvl ORDER BY child_type, lvl""".stripMargin,
    "j8_hier_vc_count" ->
      s"""WITH RECURSIVE $edgesCte,
        |chain AS (
        |  SELECT child AS node, child_type, 1 AS lvl FROM edges WHERE parent = 'R0'
        |  UNION ALL
        |  SELECT e.child, e.child_type, c.lvl + 1 FROM chain c JOIN edges e ON e.parent = c.node
        |  WHERE c.lvl < 3
        |)
        |SELECT count(*) AS vc_count
        |FROM chain JOIN lineitem ON chain.node = 'O' || l_orderkey
        |WHERE chain.child_type = 'Order'""".stripMargin,
    "j7_two_hop" ->
      """SELECT n_name, count(*) AS n
        |FROM nation
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "prep_wot_count" -> prepWotOracle(
      Seq(("E0", 20, "E15"), ("E3", 5, "E8"), ("E0", 5, "E15"))),
    "r3_wot_path_count" ->
      """WITH RECURSIVE trust AS (
        |  SELECT 'E' || a.c_custkey AS parent, 'E' || b.c_custkey AS child
        |  FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        |),
        |paths AS (
        |  SELECT child AS node, 1 AS lvl FROM trust WHERE parent = 'E0'
        |  UNION ALL
        |  SELECT t.child, p.lvl + 1 FROM paths p JOIN trust t ON t.parent = p.node
        |  WHERE p.lvl < 20
        |)
        |SELECT count(*) AS n_paths FROM paths WHERE node = 'E15'""".stripMargin,
    "r3_wot_path_count_dist" ->
      """WITH RECURSIVE trust AS (
        |  SELECT 'E' || a.c_custkey AS parent, 'E' || b.c_custkey AS child
        |  FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        |),
        |paths AS (
        |  SELECT child AS node, 1 AS lvl FROM trust WHERE parent = 'E0'
        |  UNION ALL
        |  SELECT t.child, p.lvl + 1 FROM paths p JOIN trust t ON t.parent = p.node
        |  WHERE p.lvl < 20
        |)
        |SELECT count(*) AS n_paths FROM paths WHERE node = 'E15'""".stripMargin,
    "r3_wot_path_list" ->
      """WITH RECURSIVE trust AS (
        |  SELECT 'E' || a.c_custkey AS parent, 'E' || b.c_custkey AS child
        |  FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        |),
        |paths AS (
        |  SELECT 'E0' || '->' || child AS path, child AS node, 1 AS lvl
        |  FROM trust WHERE parent = 'E0'
        |  UNION ALL
        |  SELECT p.path || '->' || t.child, t.child, p.lvl + 1
        |  FROM paths p JOIN trust t ON t.parent = p.node
        |  WHERE p.lvl < 8
        |)
        |SELECT path, node, lvl FROM paths ORDER BY lvl""".stripMargin,
    "r4_abac_decision" ->
      """WITH RECURSIVE member AS (
        |  SELECT 'C' || c_custkey AS user_id, 'G' || c_nationkey AS group_id
        |  FROM customer WHERE 'C' || c_custkey IN ('C0','C7','C13','C42')
        |),
        |sub AS (
        |  SELECT 'G' || a.n_nationkey AS parent, 'G' || b.n_nationkey AS child
        |  FROM nation a JOIN nation b ON b.n_nationkey = a.n_nationkey + 1
        |),
        |reach AS (
        |  SELECT user_id, group_id AS node, 0 AS lvl FROM member
        |  UNION ALL
        |  SELECT r.user_id, s.child, r.lvl + 1 FROM reach r JOIN sub s ON s.parent = r.node
        |  WHERE r.lvl < 10
        |),
        |perm AS (
        |  SELECT 'G' || (SELECT max(n_nationkey) FROM nation) AS group_id,
        |         'RES' || r_regionkey AS resource_id
        |  FROM region
        |)
        |SELECT user_id, count(*) AS n
        |FROM reach JOIN perm ON perm.group_id = reach.node
        |WHERE perm.resource_id = 'RES0'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "r4_abac_cypher_twin" ->
      """WITH member AS (
        |  SELECT 'C' || c_custkey AS user_id, 'G' || c_nationkey AS group_id
        |  FROM customer
        |),
        |perm AS (
        |  SELECT 'G' || (SELECT max(n_nationkey) FROM nation) AS group_id,
        |         'RES' || r_regionkey AS resource_id
        |  FROM region
        |)
        |SELECT user_id, count(*) AS n
        |FROM member JOIN perm ON perm.group_id = member.group_id
        |WHERE perm.resource_id = 'RES0'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "j11_edge_create" ->
      """SELECT 'R' || r_regionkey AS parent, 'C' || c_custkey AS child,
        |  'DELEGATES' AS label
        |FROM region CROSS JOIN customer
        |WHERE r_regionkey = 0 AND c_custkey = 5""".stripMargin)
}
