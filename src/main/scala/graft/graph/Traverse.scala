package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bounded variable-length traversal — the engine's core graph operator.
  *
  * Re-expresses the reference's recursive constructs Spark-first:
  *   - PostgreSQL `WITH RECURSIVE` delegation chains
  *     (reference: demo_did_graph/common/bench_utils.py:9-34)
  *   - Cypher var-length `-[:DELEGATES*1..d]->` patterns
  *     (reference: demo_did_graph/01_multi_layer/benchmark_scenario_c.py:47-53)
  *   - Web-of-trust path counting `*1..L`
  *     (reference: demo_did_graph/04_web_of_trust/benchmark_scenario_a.py:214-224)
  *   - ABAC reachability
  *     (reference: demo_did_graph/04_web_of_trust/benchmark_scenario_a.py:267-278)
  *
  * Semantics: the reference's bag (`UNION ALL`, no dedup, no visited set),
  * kept as multiplicities. Every walk of length 1..maxDepth counts once, so
  * a cycle or a duplicate edge multiplies walks exactly as PostgreSQL's
  * RecursiveUnion multiplies rows, and the depth bound is the only
  * termination guarantee. The walks are not listed one row each: a row
  * stands for `n` of them, and `sum(n)` over any grouping of the output is
  * the reference's `count(*)` over that grouping. Seed rows (level 0) are
  * not emitted. A null node ends a walk: no equality join matches it.
  *
  * Execution: each level joins the frontier (carry, node, n) to the edges
  * and sums the next frontier per (carry, node) — Pregel's message
  * combiner, and the rule the driver BFS in [[Closure]] applies — so the
  * frontier holds at most one row per distinct (carry, node), however many
  * walks reach it. Overflow fails loudly: `sum` under ANSI (Spark's
  * default) raises ArithmeticException past Long range.
  *   - The edge table is persisted once and reused by every level; each
  *     level broadcasts the frontier when it fits, or AQE shuffles it.
  *   - Each level's output is lazily persisted, so the union of levels and
  *     the next frontier read it once: without it, union branch k would
  *     re-derive the whole join prefix, sum(1..d) edge probes instead of d.
  *   - Every [[CheckpointEvery]] levels the frontier is `localCheckpoint`ed,
  *     which bounds lineage (reference depths reach 16:
  *     demo_did_graph/02_topology_dynamic/benchmark_scenario_a.py:111), and
  *     the walk stops there if the frontier is empty.
  *
  * Contract:
  *   - `edges` must have `parentCol` and `childCol`; any *other* column of
  *     `edges` is per-edge payload emitted on each output row (describing
  *     the last edge of the walk — e.g. `child_type` for the role-tagged
  *     expansion of benchmark_scenario_a.py:48-66).
  *   - `seed` must have `nodeCol`; any other column of `seed` is a carry
  *     column propagated unchanged (e.g. the walk's origin). Carry names
  *     must not collide with payload names, and neither may be named
  *     `nodeCol`, `lvl` or `n`.
  *   - `keepPaths` adds the carry column `path` ("seed->a->b"), the Cypher
  *     `RETURN path` surface; only walks over duplicate edges share a row.
  *   - Output columns: carry ++ payload ++ `nodeCol` (the walk's end) ++
  *     `lvl` (its length, 1-based) ++ `n` (bigint not null, the walks the
  *     row stands for).
  */
object Traverse {

  /** Levels between frontier checkpoints. */
  private val CheckpointEvery = 4

  def expand(
      seed: DataFrame,
      edges: DataFrame,
      maxDepth: Int,
      parentCol: String = "parent",
      childCol: String = "child",
      nodeCol: String = "node",
      keepPaths: Boolean = false): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val pathSeed =
      if (keepPaths) seed.withColumn("path", col(nodeCol)) else seed

    val payloadCols = edges.columns.filterNot(c => c == parentCol || c == childCol).toSeq
    val carryCols = pathSeed.columns.filterNot(_ == nodeCol).toSeq
    val overlap = carryCols.intersect(payloadCols)
    require(overlap.isEmpty, s"seed carry columns collide with edge payload columns: $overlap")
    // The frontier and the output are projected by bare name, so a
    // payload or carry column shadowing an output column would hit
    // AMBIGUOUS_REFERENCE (or silently alias) mid-loop.
    val reserved = (payloadCols ++ carryCols).filter(Set(nodeCol, "lvl", "n"))
    require(reserved.isEmpty,
      s"edge payload / seed carry columns collide with reserved output columns ($nodeCol, lvl, n): $reserved")

    // Registered so callers can release it after materializing the result
    // (graft.CacheRegistry.releaseAll). Not pre-partitioned on the join
    // key: a repartition("__parent") bought nothing at sf1 and cost +40%
    // on the depth-20 trust chain. MEMORY_AND_DISK explicitly, for it and
    // the level caches: a MEMORY_ONLY eviction recomputes the whole join
    // prefix (the r12 driver capture saw the flagship traversal degrade
    // 9x that way at 20.9 GB RSS), a disk-backed block is only re-read.
    val e = graft.CacheRegistry.register(
      edges
        .withColumnRenamed(parentCol, "__parent")
        .withColumnRenamed(childCol, "__child")
        .persist(StorageLevel.MEMORY_AND_DISK))

    // Carry columns pass through unchanged except `path`, which extends
    // with the newly reached node on every step.
    val carried = carryCols.map {
      case "path" if keepPaths =>
        concat(col("f.path"), lit("->"), col("e.__child")).as("path")
      case c => col(s"f.$c")
    }
    val outCols = carried ++ payloadCols.map(c => col(s"e.$c")) :+
      col("e.__child").as(nodeCol)

    var frontier = pathSeed.withColumn("n", lit(1L)) // carry ++ node ++ n
    val levels = Seq.newBuilder[DataFrame]
    var lvl = 1
    var done = false
    while (lvl <= maxDepth && !done) {
      val levelOut = graft.CacheRegistry.register(frontier.alias("f")
        .join(e.alias("e"), col(s"f.$nodeCol") === col("e.__parent"))
        .select(outCols :+ lit(lvl).as("lvl") :+ col("f.n"): _*)
        .persist(StorageLevel.MEMORY_AND_DISK))
      levels += levelOut
      if (lvl < maxDepth) {
        // coalesce: a group's sum is never null, but Spark types it
        // nullable, and `n` is bigint not null.
        frontier = levelOut.groupBy((carryCols :+ nodeCol).map(col): _*)
          .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
        if (lvl % CheckpointEvery == 0) {
          frontier = frontier.localCheckpoint(true)
          done = frontier.isEmpty
        }
      }
      lvl += 1
    }
    levels.result().reduce(_ union _)
  }

  /** True iff the runtime supports native `WITH RECURSIVE` (SPARK-24497,
    * shipped in Spark 4.x). Probed once per JVM; [[expandRcte]] uses the
    * native form and the iterative [[expand]] loop is the portable
    * fallback with identical bag semantics.
    */
  def nativeRcteSupported(spark: org.apache.spark.sql.SparkSession): Boolean =
    rcteProbe.synchronized {
      rcteProbe.getOrElseUpdate((), try {
        spark.sql("WITH RECURSIVE __p AS (SELECT 1 AS n UNION ALL " +
          "SELECT n + 1 FROM __p WHERE n < 2) SELECT * FROM __p").collect()
        true
      } catch { case _: Exception => false })
    }
  private val rcteProbe = scala.collection.mutable.Map[Unit, Boolean]()

  /** Native recursive-CTE expansion: same contract as [[expand]] for the
    * no-carry, no-payload case (node + lvl output). Catalyst plans the
    * whole recursion as one UnionLoop operator instead of a driver loop —
    * one job, no per-level lineage growth.
    */
  def expandRcte(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
      seedNode: String, maxDepth: Int,
      parentCol: String = "parent", childCol: String = "child"): DataFrame = {
    // Unique view name (identityHashCode can collide after GC); the seed is
    // bound as a named parameter, never interpolated — a quote in the seed
    // must not break or inject SQL. Column names and the depth bound are
    // code-owned identifiers/literals, not user data.
    val view = s"__graft_edges_${rcteViewId.incrementAndGet()}"
    // Materialize the edge table behind the view: UnionLoop re-plans and
    // re-executes the view subtree on EVERY recursion step, and that
    // per-step planning bypasses cache substitution — a `.cache()` here
    // never matches (the plan dump shows raw LogicalRelations, not
    // InMemoryRelation, inside the loop), so a derived edge set re-pays
    // its scans+joins maxDepth times per query. localCheckpoint rewrites
    // the view plan itself to a memory-backed LogicalRDD scan, which
    // needs no lookup to be reused; the checkpoint RDD is released by
    // the ContextCleaner once the plan is unreachable.
    materializeForRcte(edges).createOrReplaceTempView(view)
    try {
      // The frontier (chain) is broadcast into the edge scan each step:
      // the per-step planner sees a stats-less LogicalRDD on both sides
      // and would otherwise shuffle the full edge set once per level.
      val out = spark.sql(
        s"""WITH RECURSIVE chain AS (
           |  SELECT $childCol AS node, 1 AS lvl FROM $view WHERE $parentCol = :seed
           |  UNION ALL
           |  SELECT /*+ BROADCAST(c) */ e.$childCol, c.lvl + 1 FROM chain c
           |  JOIN $view e ON e.$parentCol = c.node
           |  WHERE c.lvl < $maxDepth
           |) SELECT node, lvl FROM chain""".stripMargin,
        Map("seed" -> seedNode))
      // Analysis is eager, so the resolved plan no longer needs the view.
      spark.catalog.dropTempView(view)
      out
    } catch {
      case e: Exception => spark.catalog.dropTempView(view); throw e
    }
  }
  private val rcteViewId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val rcteEdgeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Materialize an edge DataFrame for use behind a recursive-CTE view.
    * UnionLoop re-plans the loop body per step WITHOUT cache
    * substitution (PLANS.md "UnionLoop bypasses cache substitution"), so
    * a plain `.cache()` behind the view is silently ignored and a
    * derived edge set re-executes every step. localCheckpoint rewrites
    * the plan itself into a memory-backed LogicalRDD scan; checkpoints
    * are memoized per content-aware plan key (PlanKeys — same
    * foreign-corpus guard as the closure/index memos) so a resident
    * service pays the materialization once, not per query. Unkeyable
    * plans (LocalRelation) checkpoint per call.
    */
  def materializeForRcte(edges: DataFrame): DataFrame =
    graft.PlanKeys.planKey(edges) match {
      case Some(k) =>
        if (rcteEdgeMemo.size > 32) rcteEdgeMemo.clear()
        rcteEdgeMemo.computeIfAbsent(k, _ => edges.localCheckpoint())
      case None => edges.localCheckpoint()
    }
}
