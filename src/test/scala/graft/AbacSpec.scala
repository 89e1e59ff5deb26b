package graft

import graft.queries.GraphQueries.abacDecision
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The ABAC decision's four arms — the driver-local answer from the grant
  * map, the over-cap membership join against it, the distributed closure
  * frame and the frontier walk — must give the same rows in the same order
  * and the same schema on every graph shape; the driver-local arm must cost
  * one membership read, and its memoized grant map must never go stale.
  */
class AbacSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def member(rows: Seq[(String, String)]) = rows.toDF("user_id", "group_id")
  private def subgroup(rows: Seq[(String, String)]) = rows.toDF("parent", "child")
  private def perm(groups: Seq[String]) = groups.toDF("group_id")

  /** The four arms, each forced onto its own tier. A negative cap forces
    * the tier past it: a zero cap still admits an empty input. */
  private def arms(m: DataFrame, s: DataFrame, p: DataFrame,
      depth: Int): Seq[(String, DataFrame)] = Seq(
    "driver" -> abacDecision(m, s, p, depth),
    "over-cap members" -> abacDecision(m, s, p, depth, maxMembers = -1L),
    "distributed" -> abacDecision(m, s, p, depth, maxEdges = -1L),
    "walk" -> abacDecision(m, s, p, depth, maxEdges = -1L,
      maxDistributedEdges = -1L))

  private def rows(df: DataFrame) =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  /** Every arm's rows and schema against the driver-local arm's. */
  private def agree(m: DataFrame, s: DataFrame, p: DataFrame,
      depth: Int): Seq[(String, Long)] = {
    val all = arms(m, s, p, depth)
    val (_, driver) = all.head
    assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation],
      "the driver arm must answer with a local frame")
    val want = rows(driver)
    for ((name, df) <- all.tail) {
      assert(!df.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"$name must take its own tier")
      assert(df.schema == driver.schema, s"$name schema")
      assert(rows(df) == want, s"$name rows")
      CacheRegistry.releaseAll()
    }
    want
  }

  // Multi-byte ids on both sides of the UTF-16 / UTF-8 order split: Java
  // sorts "🚁" (a surrogate pair) before "ｱ" (U+FF71), Spark after.
  private val groups = Seq("g0", "g1", "g2", "é", "节点", "🚁",
    "ｱ", "w" * 300, "w" * 299 + "x", null)
  private val users = Seq("u", "é", "ｱ", "🚁drone",
    "v" * 300, "C0", null)

  test("all four arms agree on generated ABAC graphs") {
    val caseGen = for {
      pool <- Gen.choose(1, 6).flatMap(Gen.pick(_, groups)).map(_.toSeq)
      edges <- Gen.choose(0, 8).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.oneOf(pool), Gen.oneOf(pool))))
      // "nowhere" is a group in no edge and no permission row.
      members <- Gen.choose(0, 8).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.oneOf(users), Gen.oneOf(pool :+ "nowhere"))))
      perms <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.oneOf(pool)))
      depth <- Gen.choose(1, 10)
    } yield (members, edges, perms, depth)
    val generated = (1 to 12).flatMap(i =>
      caseGen(Gen.Parameters.default, Seed(601L + i)))
    assert(generated.size == 12)
    // A diamond with a duplicate edge, a self-loop and a cycle back to
    // the top; duplicate permission rows; a user in two groups, one in a
    // group nothing reaches, one in a null group and a null user.
    val tangled = Seq(("g0", "g1"), ("g0", "g2"), ("g1", "g3"), ("g2", "g3"),
      ("g0", "g1"), ("g2", "g2"), ("g3", "g0"), (null, "g1"), ("g3", null))
    val tangledMembers = Seq(("u", "g0"), ("u", "g3"), ("v", "nowhere"),
      ("w", null), (null, "g1"), ("ｱ", "g2"), ("🚁", "g2"),
      ("u", "g0"))
    val tangledPerms = Seq("g3", "g3", "g0", null)
    val fixed = Seq(
      (tangledMembers, tangled, tangledPerms, 1),
      (tangledMembers, tangled, tangledPerms, 10),
      (tangledMembers, tangled, Seq.empty[String], 2),
      (Seq.empty[(String, String)], tangled, tangledPerms, 2),
      (tangledMembers, Seq.empty[(String, String)], tangledPerms, 1))
    val cases = generated ++ fixed
    assert(generated.exists(_._2.exists(e => e._1 == e._2)))
    assert(generated.exists(_._4 == 1))
    val answers = for ((ms, es, ps, depth) <- cases)
      yield withClue(s"depth $depth members $ms edges $es perms $ps: ") {
        agree(member(ms), subgroup(es), perm(ps), depth)
      }
    // The tangled graph at depth 1, by hand. Grants per group (g3 holds
    // two permission rows, g0 one): g0 = 1 (itself); g1 = 2 and g2 = 2
    // (one hop to g3); g3 = 2 (itself) + 1 (one hop to g0). The null user
    // sorts first, and "ｱ" before "🚁" as their UTF-8 bytes do.
    assert(answers(generated.size) == Seq(
      (null, 2L), ("u", 1L + 3L + 1L), ("ｱ", 2L), ("🚁", 2L)))
    assert(answers.slice(generated.size + 2, generated.size + 4)
      .forall(_.isEmpty), "no permission or no member: no row")
  }

  /** `df` written as one parquet file under `dir`, read back. */
  private def parquet(df: DataFrame, dir: String): DataFrame = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("a warm driver-tier decision is one single-stage job; stale grants never") {
    val root = java.nio.file.Files.createTempDirectory("graft_abac").toString
    val s = parquet(subgroup((0 until 24).map(k => (s"G$k", s"G${k + 1}"))),
      s"$root/subgroup")
    val m = parquet(member((0 until 50).map(k => (s"C$k", s"G${k % 25}"))),
      s"$root/member").filter($"user_id".isin("C0", "C7", "C13", "C42"))
    val top = parquet(perm(Seq("G24")), s"$root/perm")
    // Only C42 (in G17) is within 10 hops of G24. The first decision
    // builds the grant map; a fresh read of the same file hits it.
    assert(rows(abacDecision(m, s, top, 10)) == Seq(("C42", 1L)))
    val reread = spark.read.parquet(s"$root/perm")
    var got: Seq[(String, Long)] = Nil
    val driver = JobWatch(spark) { got = rows(abacDecision(m, s, reread, 10)) }
    assert(got == Seq(("C42", 1L)))
    assert(driver.jobs <= 1 && driver.stages == driver.jobs,
      s"a warm decision reads the membership once: $driver")
    val overCap = JobWatch(spark) {
      got = rows(abacDecision(m, s, top, 10, maxMembers = 0L))
    }
    assert(got == Seq(("C42", 1L)))
    assert(overCap.jobs > driver.jobs, s"over-cap $overCap vs driver $driver")
    val schemas = arms(m, s, top, 10).map(_._2.schema)
    assert(schemas.distinct.size == 1, schemas.mkString("; "))
    CacheRegistry.releaseAll()
    // Overwritten in place, the permission moves down the chain: a grant
    // map memoized for the old file would still answer C42.
    val moved = parquet(perm(Seq("G7", "G13")), s"$root/perm")
    assert(rows(abacDecision(m, s, moved, 10)) ==
      Seq(("C0", 1L), ("C13", 1L), ("C7", 2L)))
  }

  test("a permission bag past the driver cap joins the closure frame") {
    val s = subgroup(Seq(("g0", "g1")))
    val m = member(Seq(("u", "g0"), ("v", "g1")))
    val p = perm(Seq.fill(graft.graph.Closure.DriverPreferredMaxEdges.toInt + 1)("g1"))
    val df = abacDecision(m, s, p, 2)
    assert(!df.queryExecution.analyzed.isInstanceOf[LocalRelation])
    val n = graft.graph.Closure.DriverPreferredMaxEdges + 1
    assert(rows(df) == Seq(("u", n), ("v", n)))
  }
}
