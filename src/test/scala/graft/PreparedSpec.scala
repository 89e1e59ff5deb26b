package graft

import graft.graph.{Closure, GraphData}
import graft.queries.{GraphQueries, Prepared}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the prepared-statement surface: every arm — the driver-tier
  * index, the distributed tier's SQL over the closure and the native
  * recursive CTE — must agree on every binding (same bag semantics, same
  * one-row `n_paths` schema), a bind that would undercount or that
  * carries a mistyped parameter must raise, and statements must keep
  * answering for the graph they were prepared over.
  */
class PreparedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val sfBig = "/root/testdata/sf0.01"

  private def args(client: Any, length: Any, anchor: Any) =
    Map[String, Any]("client" -> client, "length" -> length, "anchor" -> anchor)

  /** The distributed tier's statement over `dir`'s trust chain, forced by
    * a zero driver cap. */
  private def distributed(dir: String) =
    Prepared.overClosure(spark, Closure.pathCountsAuto(
        GraphData.trustChain(spark, dir), 20, maxEdges = 0L)
      .flatMap(_.toOption).get, 20)

  private def jobsIn(body: => Unit): Int = JobWatch(spark)(body).jobs

  test("closure-backed bind matches the recursive-CTE twin per binding") {
    val pq = Prepared.wotPathCount(spark, sf)
    val dist = distributed(sf)
    val rcte = Prepared.wotPathCountRcte(spark, sf)
    for ((c, l, a) <- Seq(("E0", 20, "E15"), ("E3", 5, "E8"),
        ("E0", 5, "E15"), ("E2", 13, "E15"), ("E2", 0, "E3"), ("E2", -1, "E3"),
        ("E4", 1, "E5"), ("E5", 1, "E4"), ("E7", 20, "nope"), ("nope", 3, "E1"))) {
      val want = rcte.bind(args(c, l, a)).as[Long].head()
      for ((arm, got) <- Seq("index" -> pq, "distributed" -> dist)
          .map { case (n, q) => n -> q.bind(args(c, l, a)).as[Long].head() })
        assert(got == want, s"binding ($c,$l,$a): $arm $got vs rcte $want")
    }
  }

  test("bind length past the prepared maxDepth raises, never undercounts") {
    val pq = Prepared.wotPathCount(spark, sf, maxDepth = 4)
    val e = intercept[Exception] {
      pq.bind(Map[String, Any]("client" -> "E0", "length" -> 5,
        "anchor" -> "E3")).count()
    }
    assert(e.getMessage != null)
  }

  test("every arm rejects missing, stray and mistyped parameters at bind") {
    val arms = Seq("index" -> Prepared.wotPathCount(spark, sf),
      "distributed" -> distributed(sf),
      "rcte" -> Prepared.wotPathCountRcte(spark, sf))
    val bad = Seq(
      // A string length would reach SQL as a cast past the depth guard.
      "string length" -> args("E0", "25", "E15"),
      "short length" -> args("E0", 3.toShort, "E3"),
      "null length" -> args("E0", null, "E3"),
      "int client" -> args(0, 3, "E3"),
      "null anchor" -> args("E0", 3, null),
      "missing anchor" -> Map[String, Any]("client" -> "E0", "length" -> 3),
      "missing length" -> Map[String, Any]("client" -> "E0", "anchor" -> "E3"),
      "stray key" -> (args("E0", 3, "E3") + ("depth" -> 3)))
    for ((arm, pq) <- arms; (what, binding) <- bad)
      withClue(s"$arm, $what: ") {
        intercept[IllegalArgumentException](pq.bind(binding))
      }
    // The depth guard itself holds on both closure arms, Long lengths too;
    // the recursive CTE has no prepared depth to exceed.
    for ((arm, pq) <- arms.take(2)) withClue(s"$arm: ") {
      intercept[IllegalArgumentException](pq.bind(args("E0", 21L, "E15")))
    }
    assert(arms(2)._2.bind(args("E0", 21L, "E15")).as[Long].head() == 1L)
  }

  test("statements keep answering for the graph they were prepared over") {
    // E155 exists only in sf0.01 (150 vs 1,500 customers): a statement
    // prepared over sf0.001 must count 0 even after another statement
    // was prepared over sf0.01.
    val binding = args("E145", 10, "E155")
    val small = Prepared.wotPathCountRcte(spark, sf)
    val big = Prepared.wotPathCountRcte(spark, sfBig)
    assert(small.bind(binding).as[Long].head() == 0L)
    assert(big.bind(binding).as[Long].head() == 1L)
    val smallDist = distributed(sf)
    val bigDist = distributed(sfBig)
    assert(smallDist.bind(binding).as[Long].head() == 0L)
    assert(bigDist.bind(binding).as[Long].head() == 1L)
  }

  test("a driver-tier bind starts no Spark job and keeps the SQL schema") {
    val pq = Prepared.wotPathCount(spark, sf)
    val binding = args("E0", 20, "E15")
    pq.bind(binding).collect() // first use of the session's code paths
    var rows: Array[org.apache.spark.sql.Row] = null
    assert(jobsIn { rows = pq.bind(binding).collect() } == 0)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
    // The counter sees the SQL arm's jobs.
    val dist = distributed(sf)
    assert(jobsIn(dist.bind(binding).collect()) > 0)
    val schema = pq.bind(binding).schema
    assert(schema == dist.bind(binding).schema)
    assert(schema == Prepared.wotPathCountRcte(spark, sf).bind(binding).schema)
    // r3 answers the same binding from the same index.
    var r3: Array[org.apache.spark.sql.Row] = null
    assert(jobsIn { r3 = GraphQueries.r3WotPathCount(spark, sf).collect() } == 0)
    assert(r3.toSeq == rows.toSeq)
    assert(GraphQueries.r3WotPathCountDist(spark, sf).schema == schema)
    // prepWotCount unions three binds by name.
    val got = GraphQueries.prepWotCount(spark, sf)
      .as[(String, String, Int, Long)].collect().toSeq
    assert(got == Seq(("E0", "E15", 5, 0L), ("E0", "E15", 20, 1L),
      ("E3", "E8", 5, 1L)))
  }
}
