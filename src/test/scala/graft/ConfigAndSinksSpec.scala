package graft

import graft.graph.{GraphData, Traverse}
import graft.state.Snapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConfigAndSinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("config loader parses reference-shaped JSON with defaults") {
    val cfg = GraftConfig.parse(
      """{"headquarters_id": "HQ9", "scale_up_nodes": [10, 20],
        |"depths": [4], "iterations": 7, "unknown_key": {"x": 1}}""".stripMargin)
    assert(cfg.headquartersId == "HQ9")
    assert(cfg.scaleUpNodes == Seq(10, 20))
    assert(cfg.depths == Seq(4))
    assert(cfg.iterations == 7)
    assert(cfg.chunkSize == 500)   // default
    assert(cfg.randomSeed == 42L)  // default
  }

  test("orc sink + source round-trips rows and schema exactly") {
    import spark.implicits._
    val df = Seq((1L, "alpha", 3.5), (2L, "beta", -1.0), (3L, null, 0.0))
      .toDF("id", "name", "score")
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_orc_spec").toString
    df.write.mode("overwrite").orc(path)
    val back = spark.read.schema(df.schema).orc(path)
    // file sources normalize nullability to true; names+types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("truncate empties the snapshot but keeps the schema") {
    import spark.implicits._
    val snap = Seq((1, "a")).toDF("id", "v")
    val t = Snapshot.truncate(snap)
    assert(t.count() == 0)
    assert(t.schema == snap.schema)
  }

  test("native rcte expansion matches the iterative loop") {
    import spark.implicits._
    assume(Traverse.nativeRcteSupported(spark))
    // The loop's walks per level, summed, against the rCTE's rows.
    def agree(edges: org.apache.spark.sql.DataFrame, root: String,
        depth: Int): Unit = {
      val loop = Traverse.expand(Seq(root).toDF("node"), edges, depth)
        .groupBy("lvl").agg(sum("n")).orderBy("lvl")
        .as[(Int, Long)].collect().toSeq
      val rcte = Traverse.expandRcte(spark, edges, root, depth)
        .groupBy("lvl").count().orderBy("lvl")
        .as[(Int, Long)].collect().toSeq
      assert(loop == rcte)
      graft.CacheRegistry.releaseAll()
    }
    val sf = "/root/testdata/sf0.001"
    agree(GraphData.hierarchyEdges(spark, sf).drop("child_type"), "R0", 3)
    // Generated graphs past the forest: edges drawn with replacement from
    // a small pool give duplicates, self-loops and cycles.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val ids = Seq("R0", "a", "b", "é", "节点", "w" * 300)
    val caseGen = for {
      pool <- Gen.choose(2, 5).flatMap(Gen.pick(_, ids)).map(_.toSeq :+ "R0")
      edges <- Gen.choose(1, 10).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.oneOf(pool), Gen.oneOf(pool))))
      depth <- Gen.choose(1, 5)
    } yield (edges, depth)
    val generated = (1 to 8).flatMap(i =>
      caseGen(Gen.Parameters.default, Seed(701L + i)))
    val cyclic = Seq(("R0", "a"), ("R0", "a"), ("a", "a"), ("a", "b"),
      ("b", "R0"))
    val cases = generated :+ ((cyclic, 6))
    assert(generated.exists(c => c._1.distinct.size < c._1.size))
    assert(generated.exists(_._1.exists(e => e._1 == e._2)))
    for ((es, depth) <- cases) withClue(s"depth $depth edges $es: ") {
      agree(es.toDF("parent", "child"), "R0", depth)
    }
  }

  test("rcte edge-checkpoint memo never serves a foreign edge set") {
    // Same guard class as the Similarity index memo: driver-local edge
    // sets have no content identity (PlanKeys → None), so consecutive
    // rCTE runs over DIFFERENT in-memory graphs of identical schema must
    // each see their own edges, not a memoized checkpoint of the other's.
    import spark.implicits._
    assume(Traverse.nativeRcteSupported(spark))
    val chainA = Seq(("R0", "a1"), ("a1", "a2")).toDF("parent", "child")
    val chainB = Seq(("R0", "b1")).toDF("parent", "child")
    val outA = Traverse.expandRcte(spark, chainA, "R0", 3)
      .as[(String, Int)].collect().toSet
    val outB = Traverse.expandRcte(spark, chainB, "R0", 3)
      .as[(String, Int)].collect().toSet
    assert(outA == Set(("a1", 1), ("a2", 2)))
    assert(outB == Set(("b1", 1)), s"memo leaked corpus A into B: $outB")
    // File-backed edges DO memoize: same plan twice → same checkpoint.
    val sf = "/root/testdata/sf0.001"
    val edges = GraphData.hierarchyEdges(spark, sf).drop("child_type")
    val r1 = Traverse.expandRcte(spark, edges, "R0", 2).count()
    val r2 = Traverse.expandRcte(spark, edges, "R0", 2).count()
    assert(r1 == r2)
  }

  test("csv result sink round-trips the reference layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Seq(("q1", "sf0.1", 4, 12.5, 15.0, 16.0, 80.0))
      .toDF("scenario", "scale_up", "depth", "p50_ms", "p95_ms", "p99_ms", "tps")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq ==
      Seq("scenario", "scale_up", "depth", "p50_ms", "p95_ms", "p99_ms", "tps"))
    assert(back.count() == 1)
  }
}
