package graft.queries

import graft.graph.{Closure, GraphData}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Parameterized prepared-query surface (reference:
  * demo_did_graph/05_abac/benchmark_scenario_b.py:264-299 — a recursive
  * CTE prepared once with `%(client)s` / `%(length)s` / `%(anchor)s`
  * placeholders, then executed per binding inside the benchmark loop).
  *
  * Preparation does the heavy lifting once, and a bind answers one
  * binding: from a driver-resident index when the trust graph is
  * dimension-sized, else through `spark.sql(text, args)` named-parameter
  * binding. Values bind as literals (injection-safe, like the psycopg
  * parameter dict — never string interpolation), and the statement text
  * is stable across bindings so repeated executions hit the session's
  * parse/plan cache.
  */
object Prepared {

  /** A prepared statement: `bind` answers one parameter map. Bindings are
    * validated driver-side before anything executes, so a guard fires even
    * under plans where column pruning would eliminate an in-SQL guard
    * expression (a bare `.count()` prunes unused projections, raise_error
    * included).
    */
  final class PreparedQuery private[queries] (answer: Map[String, Any] => DataFrame) {
    def bind(args: Map[String, Any]): DataFrame = answer(args)
  }

  /** The reference's parameterized WoT reachability count: how many trust
    * paths from `:client` reach `:anchor` within `:length` hops.
    *
    * Preparation builds the ≤`maxDepth`-hop bag closure of the trust graph
    * in the form its tier serves point probes from
    * ([[graft.graph.Closure.pathCountsAuto]] — memoized per content key,
    * so re-preparing the same graph is a cache hit):
    *   - a dimension-sized graph (the driver tier) gets a driver-resident
    *     [[graft.graph.Closure.PathIndex]], and each bind is one lookup
    *     returned as a one-row local DataFrame: collecting it starts no
    *     Spark job (perfbench authz_read on 4 cores: ~8 ms per bind,
    *     where a filter + sum over the cached closure ran 2 jobs and 5
    *     tasks in ~170 ms);
    *   - a larger graph (the distributed tier) keeps the cached closure
    *     behind a view, and each bind is a three-predicate filter + sum
    *     over it through `spark.sql(text, args)`;
    *   - past the distributed cap (a fact table, not a dimension) the
    *     native recursive CTE is the plan ([[wotPathCountRcte]]).
    * Every arm returns one row, `n_paths bigint`, and runs the same
    * validation: a bind with `:length > maxDepth` raises (the closure only
    * covers `maxDepth` hops — silently undercounting is the one wrong
    * answer), as does a missing or mistyped parameter.
    */
  def wotPathCount(spark: SparkSession, sfDir: String,
      maxDepth: Int = 20): PreparedQuery =
    Closure.pathCountsAuto(GraphData.trustChain(spark, sfDir), maxDepth) match {
      case Some(Left(index)) =>
        new PreparedQuery(args => {
          val (client, anchor, length) = wotArgs(args, maxDepth)
          nPathsRow(spark, index.pathCount(client, anchor, length))
        })
      case Some(Right(closure)) => overClosure(spark, closure, maxDepth)
      case None => wotPathCountRcte(spark, sfDir)
    }

  /** The SQL arms' output schema: `n_paths bigint`, never null. */
  private val NPathsSchema =
    StructType(Seq(StructField("n_paths", LongType, nullable = false)))

  /** A driver-tier path count as a one-row local frame in the SQL arms'
    * schema: collecting it starts no Spark job.
    */
  private[graft] def nPathsRow(spark: SparkSession, n: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(n)), NPathsSchema)

  /** The distributed tier's statement: a filter + sum over a closure frame
    * (src, dst, lvl, n_paths), registered under a view of its own.
    */
  private[graft] def overClosure(spark: SparkSession, closure: DataFrame,
      maxDepth: Int): PreparedQuery = {
    val view = uniqueView("wot_closure")
    closure.createOrReplaceTempView(view)
    sqlStatement(spark, maxDepth,
      s"""SELECT cast(coalesce(sum(n_paths), 0) as bigint) AS n_paths
         |FROM $view
         |WHERE src = :client AND dst = :anchor AND lvl <= :length""".stripMargin)
  }

  /** Native recursive-CTE form — the fallback when the graph is too large
    * to materialize a closure, and the surface that exercises Spark's
    * UnionLoop bind protocol directly (kept under test; the
    * r1_chain_levels_rcte gate pins the same executor). It has no depth
    * cap, so `:length` is only type-checked; a `:length` below 1 counts
    * no path, as on the closure arms.
    */
  def wotPathCountRcte(spark: SparkSession, sfDir: String): PreparedQuery = {
    // Materialized (NOT merely cached) behind the view: UnionLoop's
    // per-step re-plan bypasses cache substitution, so a .cache() here
    // is silently ignored and every binding re-pays the customer
    // self-join per recursion level — the Traverse.materializeForRcte
    // scaladoc and PLANS.md carry the plan-dump evidence. The checkpoint
    // is memoized per content key, which is exactly the prepared-
    // statement contract: prepare once, bind many.
    val view = uniqueView("web_trust")
    graft.graph.Traverse.materializeForRcte(
        GraphData.trustChain(spark, sfDir))
      .createOrReplaceTempView(view)
    sqlStatement(spark, Long.MaxValue,
      s"""WITH RECURSIVE path(node, lvl) AS (
        |  SELECT child, 1 FROM $view WHERE parent = :client AND :length >= 1
        |  UNION ALL
        |  SELECT /*+ BROADCAST(p) */ w.child, p.lvl + 1 FROM path p
        |  JOIN $view w ON w.parent = p.node
        |  WHERE p.lvl < :length
        |) SELECT count(*) AS n_paths FROM path WHERE node = :anchor""".stripMargin)
  }

  private def sqlStatement(spark: SparkSession, maxDepth: Long,
      sql: String): PreparedQuery =
    new PreparedQuery(args => { wotArgs(args, maxDepth); spark.sql(sql, args) })

  /** A session-global view name no other statement uses: statements bind
    * by re-parsing their text, so a shared name would let a later
    * preparation over another graph silently rebind every earlier one.
    * Each view lives as long as the session, like its statement may.
    */
  private def uniqueView(prefix: String): String =
    s"__graft_${prefix}_${viewId.incrementAndGet()}"
  private val viewId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The one check every WoT arm runs on a binding: exactly `client` and
    * `anchor` as strings and `length` as an Int or Long no greater than
    * `maxDepth`. Anything else raises — a `length` of another type would
    * reach SQL as a cast value past the depth guard.
    */
  private def wotArgs(args: Map[String, Any],
      maxDepth: Long): (String, String, Long) = {
    require(args.keySet == Set("client", "anchor", "length"),
      "WoT bind takes client, anchor and length; got " +
        args.keySet.toSeq.sorted.mkString(", "))
    def mistyped(k: String, want: String): Nothing = {
      val v = args(k)
      throw new IllegalArgumentException(s"bind $k must be $want, got " +
        (if (v == null) "null" else s"${v.getClass.getSimpleName} $v"))
    }
    def string(k: String) = args(k) match {
      case s: String => s
      case _ => mistyped(k, "a String")
    }
    val length = args("length") match {
      case n: Int => n.toLong
      case n: Long => n
      case _ => mistyped("length", "an Int or Long")
    }
    require(length <= maxDepth,
      s"bind length $length exceeds prepared maxDepth $maxDepth")
    (string("client"), string("anchor"), length)
  }
}
