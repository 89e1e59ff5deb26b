package graft

import graft.graph.Closure
import graft.scenario.DynamicReplay
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Both tiers of the rooted chain count: the driver BFS under the edge gate
  * and the Traverse walk past it must give the same `n` on every graph
  * shape, and the driver tier must cost only its bounded collect.
  */
class ChainCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A delegation snapshot with one (hq_id → drone_id) row per edge. */
  private def delegation(es: Seq[(String, String)]) =
    es.toDF("hq_id", "drone_id")

  /** 10 drones, fanout 2: two chains of depth 5 under HQ. */
  private val forest = Seq.tabulate(10)(k =>
    (if (k < 2) "HQ" else (k - 2).toString, k.toString))

  test("driver tier and forced walk give the same n on generated graphs") {
    val ids = Seq("HQ", "a", "b", "é", "节点", "🚁drone",
      "w" * 300, "w" * 299 + "x", null)
    // Edges drawn with replacement from a small pool: duplicates,
    // self-loops, cycles and null ends; the root may be absent.
    val graphGen = for {
      pool <- Gen.choose(1, 6).flatMap(Gen.pick(_, ids))
      edges <- Gen.choose(0, 10).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.oneOf(pool.toSeq), Gen.oneOf(pool.toSeq))))
      root <- Gen.oneOf(pool.filter(_ != null).toSeq :+ "absent")
      depth <- Gen.choose(1, 4)
    } yield (edges, root, depth)
    val generated = (1 to 14).flatMap(i =>
      graphGen(Gen.Parameters.default, Seed(307L + i)))
    val cyclic = Seq(("HQ", "a"), ("HQ", "a"), ("a", "a"), ("a", "b"),
      ("b", "HQ"))
    val nullEnds = Seq[(String, String)](("HQ", null), (null, "a"),
      ("HQ", "b"), ("b", null), (null, null), ("a", "b"))
    val wide = Seq(("w" * 300, "节点"), ("节点", "🚁drone"))
    val fixed = Seq(
      (forest, "HQ", 16), (forest, "HQ", 1), (forest, "absent", 16),
      (cyclic, "HQ", 16), (nullEnds, "HQ", 16), (wide, "w" * 300, 16),
      (Seq.empty[(String, String)], "HQ", 1),
      (Seq.empty[(String, String)], "HQ", 16))
    val cases = generated ++ fixed
    assert(generated.exists(_._1.exists(e => e._1 == e._2)))
    assert(generated.exists(_._1.exists(e => e._1 == null || e._2 == null)))
    for ((es, root, depth) <- cases) withClue(s"root $root depth $depth edges $es: ") {
      val d = delegation(es)
      val driver = DynamicReplay.chainCount(spark, d, depth, root)
      // A negative cap: a zero cap still admits the empty edge set.
      val walk = DynamicReplay.chainCount(spark, d, depth, root, maxEdges = -1L)
      // The walk arm aggregates its walk rows; the driver arm is a literal.
      def aggregates(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.isInstanceOf[Aggregate]
      assert(!aggregates(driver) && aggregates(walk), "each arm must take its own tier")
      assert(driver.schema == walk.schema)
      assert(driver.as[Long].collect().toSeq == walk.as[Long].collect().toSeq)
      CacheRegistry.releaseAll()
    }
    def n(es: Seq[(String, String)], root: String, depth: Int) =
      DynamicReplay.chainCount(spark, delegation(es), depth, root).as[Long].head()
    assert(n(forest, "HQ", 16) == 10L && n(forest, "HQ", 1) == 2L)
    assert(n(nullEnds, "HQ", 16) == 3L, "null ends count once and stop")
  }

  test("a dense graph overflows loudly on the driver tier, never wraps") {
    // 20 self-loops: 20^lvl walks end at r, past Long range at lvl 15.
    val loops = delegation(Seq.fill(20)(("r", "r")))
    intercept[ArithmeticException](
      DynamicReplay.chainCount(spark, loops, 16, "r").collect())
    // r → K4 with self-loops: 4^(lvl-1) walks end at each node, inside
    // Long range at lvl 32, but the walks over all levels are not.
    val k4 = Seq("a", "b", "c", "d")
    val dense = delegation(k4.map(("r", _)) ++
      (for (x <- k4; y <- k4) yield (x, y)))
    val ex = intercept[ArithmeticException](
      DynamicReplay.chainCount(spark, dense, 32, "r").collect())
    assert(ex.getMessage.contains("walk count overflow"))
  }

  test("on a checkpointed snapshot the driver tier costs only its collect") {
    val snapshot = delegation(Seq.tabulate(40)(k =>
      (if (k < 4) "HQ" else (k - 4).toString, k.toString))).localCheckpoint()
    val edges = DynamicReplay.edges(snapshot)
    // First use of the session's code paths.
    DynamicReplay.chainCount(spark, snapshot, 8).collect()
    val collect = JobWatch(spark)(
      edges.limit(Closure.DriverPreferredMaxEdges.toInt + 1).collect())
    var rows: Array[org.apache.spark.sql.Row] = null
    val driver = JobWatch(spark) {
      rows = DynamicReplay.chainCount(spark, snapshot, 8).collect()
    }
    assert(driver.jobs <= collect.jobs && driver.jobs <= 2, s"$driver vs $collect")
    assert(driver.stages == driver.jobs, s"a driver-tier count must not shuffle: $driver")
    assert(rows.map(_.getLong(0)).toSeq == Seq(32L), "four chains, 8 deep")
    var walked: Array[org.apache.spark.sql.Row] = null
    val walk = JobWatch(spark) {
      walked = DynamicReplay.chainCount(spark, snapshot, 8, maxEdges = 0L).collect()
    }
    CacheRegistry.releaseAll()
    assert(walk.jobs > driver.jobs, s"walk $walk vs driver $driver")
    assert(walked.toSeq == rows.toSeq)
    assert(DynamicReplay.chainCount(spark, snapshot, 8).schema ==
      DynamicReplay.chainCount(spark, snapshot, 8, maxEdges = 0L).schema)
  }
}
