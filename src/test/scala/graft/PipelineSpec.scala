package graft

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-duplicate tests for the approximate pipeline operators — the
  * oracle gate can't check MinHash/SimHash/LSH (not SQL-expressible), so
  * detection quality is pinned here.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches the birds fly south for winter"

  private def corpus = Seq(
    (0L, base, "s0"),
    (1L, base + " every single day", "s0"),                  // near-dup of 0
    (2L, base.replace("quick", "slow"), "s0"),               // near-dup of 0
    (3L, "completely different content about spark engines and parquet files and shuffles", "s0"),
    (4L, base, "s0"),                                        // exact dup of 0
    (5L, "another unrelated document mentioning streams watermarks and state stores only", "s0"))
    .toDF("doc_id", "text", "source")

  test("exact dedup collapses identical texts") {
    val out = Dedup.exact(corpus).collect()
    assert(out.length == 5) // 6 docs, one exact pair
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(1) == 2L))
  }

  test("minhash lsh finds planted near-duplicates, skips unrelated") {
    val pairs = Dedup.minHashLsh(corpus, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L)), "exact dup must be found")
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 2L)),
      "at least one near-dup found")
    assert(!pairs.contains((3L, 5L)), "unrelated docs must not pair")
  }

  test("minhash lsh always pairs exact duplicates on random corpora") {
    // Identical texts → identical shingle sets → identical signatures →
    // same bucket in EVERY band: exact duplicates are caught
    // deterministically, not probabilistically. Fuzz it across random
    // corpora with planted copies (raw ScalaCheck, fixed seeds — the
    // TraversePropertySpec pattern).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val doc = Gen.listOfN(8, word).map(_.mkString(" "))
    (1 to 4).foreach { i =>
      val docs = Gen.listOfN(12, doc)(Gen.Parameters.default, Seed(99L + i))
        .getOrElse(Nil)
      val planted = docs.zipWithIndex.map { case (t, j) => (j.toLong, t) } ++
        docs.take(3).zipWithIndex.map { case (t, j) => (100L + j, t) } // copies
      val df = planted.toDF("doc_id", "text")
      val pairs = Dedup.minHashLsh(df, threshold = 0.99)
        .select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      (0 until 3).foreach { j =>
        assert(pairs.contains((j.toLong, 100L + j)) ||
          pairs.contains((100L + j, j.toLong)),
          s"case $i: planted copy $j not paired (pairs=$pairs)")
      }
      graft.CacheRegistry.releaseAll()
    }
  }

  test("simhash hamming distance small for near-dups, large for unrelated") {
    val fp = Dedup.simHashFingerprint(corpus).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(ham(0L, 4L) == 0, "identical docs, identical fingerprints")
    assert(ham(0L, 1L) < ham(0L, 3L), "near-dup closer than unrelated")
  }

  test("ngram jaccard ranks planted pairs above unrelated") {
    val out = Dedup.ngramJaccard(corpus, blockCol = "source", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(out.contains((0L, 4L)))
    assert(!out.contains((0L, 3L)))
  }

  test("prefix-filtered ngram jaccard is bit-identical to the exhaustive form") {
    // The AllPairs prefix filter is an optimization, not an approximation:
    // candidates it prunes provably cannot reach the threshold, and
    // survivors are re-verified exactly. Fuzz equality across random
    // corpora (duplicate-heavy, tiny vocab → dense overlaps) and across
    // thresholds, including 1.0 (prefix collapses to a single token) and
    // a low 0.3 (prefix ≈ whole set).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val doc = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    for (i <- 1 to 3; t <- Seq(0.3, 0.7, 0.9, 1.0)) {
      val docs = Gen.listOfN(16, doc)(Gen.Parameters.default, Seed(400L + i))
        .getOrElse(Nil)
      val rows = docs.zipWithIndex.map { case (txt, j) =>
        (j.toLong, txt, s"s${j % 2}")
      } ++ docs.take(4).zipWithIndex.map { case (txt, j) =>
        (200L + j, txt, s"s${j % 2}") // planted copies
      }
      val df = rows.toDF("doc_id", "text", "source")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))
      val fast = Dedup.ngramJaccard(df, "source", threshold = t)
        .collect().map(key).toSet
      val full = Dedup.ngramJaccardFull(df, "source", threshold = t)
        .collect().map(key).toSet
      assert(fast == full, s"seed=$i t=$t: prefix path diverged " +
        s"(only-fast=${fast -- full}, only-full=${full -- fast})")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("containment: one-sided prefix path matches driver brute force") {
    // Same contract as the Jaccard fuzz: the prefix bound only prunes
    // provably-sub-threshold candidates — now with the asymmetric
    // denominator, where only the probe side's size matters and pairs
    // are ordered (a→b and b→a judged independently).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val doc = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    for (i <- 1 to 3; t <- Seq(0.5, 0.8, 1.0)) {
      val docs = Gen.listOfN(16, doc)(Gen.Parameters.default, Seed(700L + i))
        .getOrElse(Nil)
      val rows = docs.zipWithIndex.map { case (txt, j) =>
        (j.toLong, txt, s"s${j % 2}")
      } ++ docs.take(3).zipWithIndex.map { case (txt, j) =>
        // Planted containers: the copy plus extra words fully contains
        // the original (containment 1.0 one way, lower the other).
        (300L + j, txt + " alpha beta gamma delta", s"s${j % 2}")
      }
      val df = rows.toDF("doc_id", "text", "source")
      val got = Dedup.containmentPairs(df, "source", threshold = t)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .toSet
      val sets = rows.map { case (id, txt, src) =>
        (id, src, txt.split(" ").filter(_.nonEmpty).toSet)
      }
      val want = (for {
        (a, sa, wa) <- sets; (b, sb, wb) <- sets
        if a != b && sa == sb
        inter = (wa & wb).size
        if inter.toDouble / wa.size >= t
      } yield (a, b, inter, wa.size)).toSet
      assert(got == want, s"seed=$i t=$t: " +
        s"(only-got=${got -- want}, only-want=${want -- got})")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("components resolves chains and leaves islands separate") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L,
      "chain 1-2-3 collapses to min label 1")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(30L) == 30L && comp(31L) == 30L)
    graft.CacheRegistry.releaseAll()
  }

  test("components matches union-find on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = for {
      a <- Gen.choose(0L, 29L); b <- Gen.choose(0L, 29L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    (1 to 3).foreach { i =>
      val edges = Gen.listOfN(25, edgeGen)(Gen.Parameters.default, Seed(700L + i))
        .getOrElse(Nil).distinct
      // Driver-side union-find as the oracle.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map { n =>
        val members = nodes.filter(m => find(m) == find(n))
        n -> members.min
      }.toMap
      val got = Dedup.components(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed $i: components diverged from union-find")
      // Tier parity: the driver union-find tier must produce the exact
      // same (node, lab) assignment AND the same column types as the
      // distributed delta iteration.
      val small = Dedup.componentsSmall(edges.toDF("doc_a", "doc_b"))
      assert(small.schema.fields.map(_.dataType).toSeq ==
        Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.LongType))
      assert(small.as[(Long, Long)].collect().toMap == expected,
        s"seed $i: componentsSmall diverged from union-find")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("componentsAuto tiers: small pair lists take the driver path, " +
      "string ids keep string min semantics") {
    val pairs = Seq(("d10", "d2"), ("d2", "d03"), ("x1", "x2"))
      .toDF("doc_a", "doc_b")
    // String min is lexicographic: min("d10","d2","d03") = "d03".
    val expect = Map("d10" -> "d03", "d2" -> "d03", "d03" -> "d03",
      "x1" -> "x1", "x2" -> "x1")
    val viaSmall = Dedup.componentsSmall(pairs).as[(String, String)]
      .collect().toMap
    val viaDist = Dedup.components(pairs).as[(String, String)]
      .collect().toMap
    val viaAuto = Dedup.componentsAuto(pairs).as[(String, String)]
      .collect().toMap
    assert(viaSmall == expect && viaDist == expect && viaAuto == expect)
    // Over-cap pair lists must fall through to the distributed tier.
    val big = Dedup.componentsAuto(pairs, maxDriverPairs = 2L)
      .as[(String, String)].collect().toMap
    assert(big == expect)
    graft.CacheRegistry.releaseAll()
  }

  test("a driver-tier componentsAuto reads its pairs once") {
    // The bounded collect is its own size probe: no count job before it.
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_once").toString
    Seq(("d10", "d2"), ("d2", "d03"), ("x1", "x2")).toDF("doc_a", "doc_b")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val pairs = spark.read.parquet(dir)
    var comp: org.apache.spark.sql.DataFrame = null
    val auto = JobWatch(spark) { comp = Dedup.componentsAuto(pairs) }
    assert(comp.as[(String, String)].collect().toMap == Map("d10" -> "d03", "d2" -> "d03", "d03" -> "d03",
      "x1" -> "x1", "x2" -> "x1"))
    val collect = JobWatch(spark)(pairs.select("doc_a", "doc_b")
      .limit(Dedup.DefaultMaxDriverPairs.toInt + 1).collect())
    assert(auto.jobs <= collect.jobs, s"componentsAuto $auto vs one collect $collect")
  }

  test("hash sampling is content-deterministic, order- and partition-blind") {
    import graft.pipeline.Sampling
    val docs = (0 until 400)
      .map(i => (i.toLong, s"document number $i body", s"s${i % 4}"))
      .toDF("doc_id", "text", "source")
    val once = Sampling.hashSample(docs, 0.25).select("doc_id")
      .as[Long].collect().toSet
    val again = Sampling.hashSample(
        docs.repartition(13).orderBy(desc("doc_id")), 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(once == again, "sample membership must not depend on layout")
    assert(math.abs(once.size - 100) < 50, s"~25% of 400 expected, got ${once.size}")
    // fraction edges
    assert(Sampling.hashSample(docs, 0.0).isEmpty)
    assert(Sampling.hashSample(docs, 1.0).count() == 400)
  }

  test("stratified quota keeps every block at or under quota, deterministically") {
    import graft.pipeline.Sampling
    // skewed blocks: 300 docs in s0, 12 in s1, 3 in s2
    val docs = ((0 until 300).map(i => (i.toLong, s"alpha doc $i", "s0")) ++
      (300 until 312).map(i => (i.toLong, s"beta doc $i", "s1")) ++
      (312 until 315).map(i => (i.toLong, s"gamma doc $i", "s2")))
      .toDF("doc_id", "text", "source")
    val out = Sampling.stratifiedQuota(docs, "source", quota = 5)
    val perBlock = out.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    assert(perBlock("s0") == 5 && perBlock("s1") == 5 && perBlock("s2") == 3,
      s"quota caps big blocks, small blocks survive whole: $perBlock")
    val again = Sampling.stratifiedQuota(docs.repartition(7), "source", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
  }

  test("unigram logprob ranks in-distribution text above gibberish") {
    import graft.pipeline.TextAnalysis
    val docs = (Seq(
      (0L, "the cat sat on the mat"),          // common corpus words
      (1L, "qzxv wplk jmrt bbnf hgty")         // five singletons
    ) ++ (2L to 20L).map(i =>
      (i, "the cat and the dog sat on the mat and the rug")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._3 > out(1L)._3,
      s"fluent doc must outscore gibberish: ${out(0L)._3} vs ${out(1L)._3}")
    assert(out(0L)._2 == 6 && out(1L)._2 == 5, "token counts")
    // Deterministic across layouts (the oracle contract).
    val shuffled = TextAnalysis.unigramLogProb(docs.repartition(7))
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(shuffled(0L) == out(0L)._3 && shuffled(1L) == out(1L)._3)
  }

  test("pii redaction counts, scrubs, and is idempotent") {
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (0L, "mail a@b.co and c.d+x@e-f.org, see https://x.io/p?q=1 call 010-1234-5678"),
      (1L, "no pii here at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs)
      .select("doc_id", "n_email", "n_url", "n_phone", "redacted")
      .as[(Long, Int, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._2 == 2 && out(0L)._3 == 1 && out(0L)._4 == 1, s"${out(0L)}")
    assert(out(0L)._5 ==
      "mail <EMAIL> and <EMAIL>, see <URL> call <PHONE>")
    assert(out(1L)._2 == 0 && out(1L)._5 == "no pii here at all")
    // Idempotent: redacting already-redacted text changes nothing.
    val again = TextAnalysis.redactPii(
        Seq((0L, out(0L)._5)).toDF("doc_id", "text"))
      .select("redacted").as[String].head()
    assert(again == out(0L)._5)
    // URL-first ordering: a URL with userinfo is consumed whole by the
    // URL pattern — the email pattern must not split it. Counts are
    // per-pattern over the original text, so the span counts under both
    // kinds (documented overlap).
    val uinfo = TextAnalysis.redactPii(
        Seq((0L, "visit https://user@host.io/x now")).toDF("doc_id", "text"))
      .select("n_email", "n_url", "redacted")
      .as[(Int, Int, String)].head()
    assert(uinfo == ((1, 1, "visit <URL> now")), s"$uinfo")
  }

  test("contamination flags docs sharing eval 3-grams, skips clean docs") {
    import graft.pipeline.Contamination
    val evalSet = Seq((100L, "the capital of france is paris"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "everyone knows the capital of france is paris obviously"), // contaminated
      (1L, "completely unrelated text about spark shuffles and joins"), // clean
      (2L, "capital of france trivia"))  // shares "capital of france"
      .toDF("doc_id", "text")
    val out = Contamination.overlap(corpus, evalSet)
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.contains(0L) && !out.contains(1L) && out.contains(2L))
    // doc 0: 7 distinct 3-shingles, 4 of them inside the eval sentence
    assert(out(0L)._2 == 7 && out(0L)._3 == 4)
    assert(out(2L)._3 == 1, "'capital of france' is the single shared shingle")
    graft.CacheRegistry.releaseAll()
  }

  test("cosine pairs and brute-force ANN agree on planted vectors") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(0.99f, 0.1f, 0f, 0f), 0),  // near 0
      (2L, Array(0f, 1f, 0f, 0f), 0),
      (3L, Array(0f, 0f, 1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosinePairs(vecs, "label", 0.9, dim = 4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
    val exact = Similarity.cosinePairsExact(vecs, "label", 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(exact == pairs, "LSH candidate path matches the exact all-pairs form")
    val top = Similarity.bruteForceTopK(vecs, 0L, 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(top.head == 1L)
  }

  test("lsh bucket ANN returns same top hit as brute force on clusters") {
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextFloat() * 0.01f)
    val c1 = Array.fill(64)(rnd.nextFloat())
    val c2 = Array.fill(64)(rnd.nextFloat() - 1f)
    val vecs = ((0L to 9L).map(i => (i, jitter(c1), 0)) ++
      (10L to 19L).map(i => (i, jitter(c2), 1))).toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteForceTopK(vecs, 0L, 3)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshBucketTopK(vecs, 0L, 3, numPlanes = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(lsh.nonEmpty && lsh.subsetOf((1L to 9L).toSet),
      "lsh probe stays in the query's cluster")
    assert(brute.intersect(lsh).nonEmpty)
  }

  test("ivf ANN recovers planted clusters like brute force") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextFloat() * 0.01f)
    val c1 = Array.fill(64)(rnd.nextFloat())
    val c2 = Array.fill(64)(rnd.nextFloat() - 2f)
    val vecs = ((0L to 9L).map(i => (i, jitter(c1), 0)) ++
      (10L to 19L).map(i => (i, jitter(c2), 1))).toDF("vec_id", "embedding", "label")
    val ivf = Similarity.ivfTopK(vecs, 0L, 3, nClusters = 2, nProbe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.nonEmpty && ivf.subsetOf((1L to 9L).toSet),
      "probe must stay in the query's learned cluster")
    val brute = Similarity.bruteForceTopK(vecs, 0L, 3)
      .select("vec_id").as[Long].collect().toSet
    assert(brute.intersect(ivf).nonEmpty)
  }

  test("index memo never serves a foreign corpus's artifacts (driver-local plans)") {
    // Two same-schema LocalRelations canonicalize to the same plan STRING,
    // and every localCheckpoint'd plan prints 'LogicalRDD [...]' — a
    // plan-string memo key would hand corpus B corpus A's centering means
    // and k-means index. planKey must either distinguish them (RDD id) or
    // decline to memoize (LocalRelation).
    def mk(shift: Float) =
      (0L to 9L).map(i => (i, Array.fill(8)(shift + i * 0.01f)))
        .toDF("vec_id", "embedding")
    val a = mk(0f)
    val b = mk(100f)
    val ma = Similarity.dimMeans(a, 8, "embedding")
    val mb = Similarity.dimMeans(b, 8, "embedding")
    assert(math.abs(ma.head) < 1.0 && math.abs(mb.head - 100.0) < 1.0,
      s"LocalRelation corpora must each get their own means: $ma vs $mb")
    // Checkpointed twins — the mutated-snapshot shape.
    val ca = mk(0f).localCheckpoint(true)
    val cb = mk(100f).localCheckpoint(true)
    val mca = Similarity.dimMeans(ca, 8, "embedding")
    val mcb = Similarity.dimMeans(cb, 8, "embedding")
    assert(math.abs(mca.head) < 1.0 && math.abs(mcb.head - 100.0) < 1.0,
      s"checkpointed corpora must each get their own means: $mca vs $mcb")
  }

  test("cosinePairsAuto picks exact under budget, LSH above; same result") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, d)
    val auto = Similarity.cosinePairsAuto(emb, "label", 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val forcedLsh = Similarity.cosinePairsAuto(emb, "label", 0.4, pairBudget = 0L)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(auto == forcedLsh, "both branches agree on the gate corpus")
  }

  test("hammingMasks enumerates exactly the popcount<=h masks") {
    assert(Similarity.hammingMasks(4, 2).toSet ==
      (0L until 16L).filter(m => java.lang.Long.bitCount(m) <= 2).toSet)
    assert(Similarity.hammingMasks(8, 0) == Seq(0L))
    // Direct combination counts — no 2^n blowup: C(40,0)+C(40,1)+C(40,2).
    assert(Similarity.hammingMasks(40, 2).length == 1 + 40 + 40 * 39 / 2)
    assert(Similarity.hammingMasks(62, 1).length == 63)
  }

  test("ANN recall floors hold at the gate scale") {
    // sf0.01 is the driver's correctness-gate scale; the synthetic
    // embeddings differ per sf, so floors are pinned where the gate runs.
    val d = "/root/testdata/sf0.01"
    val lsh = graft.queries.PipelineQueries.annLshRecall(spark, d)
      .select("recall").as[Double].head()
    assert(lsh >= 0.8, s"LSH recall@10 $lsh below 0.8 floor")
    val ivf = graft.queries.PipelineQueries.annIvfRecall(spark, d)
      .select("meets_floor").as[Boolean].head()
    assert(ivf, "IVF recall@10 below 0.8 floor")
  }

  test("native minhash_sig is bit-identical to the relational explode/groupBy form") {
    val sets = corpus.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("shset"))
    val native = sets.select(col("doc_id"),
        Dedup.minhashSig(col("shset"), 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    // The relational twin the expression replaced.
    val sh = sets.select(col("doc_id"), explode(col("shset")).as("sh"))
    val aggs = (0 until 32).map(i => min(xxhash64(lit(i), col("sh"))).as(s"mh$i"))
    val relational = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until 32).map(i => col(s"mh$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == relational)
  }

  test("native shingles match the declarative transform/sequence form") {
    val data = Seq("one two three four five", "a b c", "a b", "", "single")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = data.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    val w = split(col("text"), "\\s+")
    val slid = transform(sequence(lit(0), size(w) - lit(3)),
      i => concat_ws(" ", (0 until 3).map(j => element_at(w, i + lit(j + 1))): _*))
    val declarative = data.select(col("doc_id"),
        when(size(w) >= 3, slid).otherwise(array(concat_ws(" ", w))).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native == declarative)
  }

  test("native simhash64 is bit-identical to the relational vote/aggregate form") {
    val native = Dedup.simHashFingerprint(corpus)
      .as[(Long, Long)].collect().toMap
    // The relational twin the expression replaced.
    val w = corpus.select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("w"))
      .withColumn("hx", substring(sha2(col("w"), 256), 1, 16))
    val nibbled = w.select(col("doc_id") +:
      (0 until 16).map(i =>
        conv(substring(col("hx"), i + 1, 1), 16, 10).cast("int").as(s"n$i")): _*)
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col(s"n${15 - j / 4}"), j % 4)
          .bitwiseAND(lit(1)) === 1, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val relational = nibbled.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(native == relational)
  }

  test("minhash banding recall is 1.0 vs exact shingle Jaccard at the gate scale") {
    val r = graft.queries.PipelineQueries
      .d2MinhashRecall(spark, "/root/testdata/sf0.01")
      .select("n_exact", "recall").as[(Int, Double)].head()
    assert(r._1 > 0, "gate corpus must contain planted near-dup pairs")
    assert(r._2 == 1.0, s"minhash LSH pair recall must be 1.0, got ${r._2}")
    graft.CacheRegistry.releaseAll()
  }

  test("shingleJaccardPairs matches brute-force jaccard on the planted corpus") {
    val got = Dedup.shingleJaccardPairs(corpus, threshold = 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // Brute force over the 6-doc corpus using the same shingle expression.
    val sets = corpus.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).toSet.intersect(sets(b).toSet).size
      uni = sets(a).toSet.union(sets(b).toSet).size
      if uni > 0 && inter.toDouble / uni >= 0.2
    } yield (a, b)).toSet
    assert(got == want, s"inverted-index pairs $got != brute-force $want")
    graft.CacheRegistry.releaseAll()
  }

  test("pairRecall: LSH cosine pairs find every exact pair; empty set is 1.0") {
    val d = "/root/testdata/sf0.001"
    val r = graft.queries.PipelineQueries.d5CosineLshRecall(spark, d)
      .as[(String, Int, Double)].head()
    assert(r._1 == "cosine_lsh" && r._2 > 0 && r._3 == 1.0,
      s"LSH pair recall must be 1.0 on the gate corpus, got $r")
    val none = Similarity.pairRecall(
      spark.emptyDataset[(Long, Long)].toDF("vec_a", "vec_b"),
      spark.emptyDataset[(Long, Long)].toDF("vec_a", "vec_b"), "x")
      .select("recall").as[Double].head()
    assert(none == 1.0)
  }

  test("langid picks marked language; und when no markers") {
    val docs = Seq(
      (0L, "we saw the dog and the cat near the house"),
      (1L, "vimos el perro y el gato cerca de la casa el dia"),
      (2L, "xyz qrs tuv"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "en")
    assert(out(1L) == "es")
    assert(out(2L) == "und")
  }

  test("multimodal fake decode: feature shape and determinism") {
    val media = Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
    val f1 = Multimodal.fakeDecodeFeatures(media).orderBy("doc_id").limit(3).collect()
    val f2 = Multimodal.fakeDecodeFeatures(media).orderBy("doc_id").limit(3).collect()
    assert(f1.sameElements(f2), "stub decode is deterministic")
    assert(f1.head.getSeq[Float](2).length == 8)
    assert(f1.head.getInt(1) > 0)
  }

  test("repetition metrics: planted loop dominates, short docs all-zero") {
    val docs = Seq(
      (0L, "a b a b a b"),        // bigrams: ab,ba,ab,ba,ab -> 5 total, 2 distinct, top 3, dup 5
      (1L, "x y z"),              // xy,yz -> 2 total, 2 distinct, top 1, dup 0
      (2L, "solo"),               // < 2 tokens -> zeros
      (3L, "")).toDF("doc_id", "text")
    val byId = TextAnalysis.repetition(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
    assert(byId(0L) == ((5, 2, 3, 5)))
    assert(byId(1L) == ((2, 2, 1, 0)))
    assert(byId(2L) == ((0, 0, 0, 0)))
    // "" splits to one empty token -> fewer than 2 tokens -> zeros.
    assert(byId(3L) == ((0, 0, 0, 0)))
  }

  test("t12 bigram logprob: deterministic contexts score 0, ambiguous negative") {
    // In "a b a b a b" every context predicts its successor uniquely
    // EXCEPT where the corpus makes it ambiguous; in a corpus of one
    // doc with a strict alternation, each bigram is its context's only
    // continuation -> avg ln(1) = 0. Adding a doc that forks "a"'s
    // continuation drags doc 0's score negative.
    val solo = Seq((0L, "a b a b a b")).toDF("doc_id", "text")
    val s = TextAnalysis.bigramLogProb(solo).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(0L) == 0.0, "unique continuations must score ln(1) = 0")
    val forked = Seq((0L, "a b a b a b"), (1L, "a c a c")).toDF("doc_id", "text")
    val f = TextAnalysis.bigramLogProb(forked).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(f(0L) < 0.0 && f(1L) < 0.0,
      "forked contexts must lower both docs' scores")
    assert(f(0L) > f(1L),
      "the doc holding more of the context mass must score higher")
  }

  test("t11 edit distance matches a driver-side unit-cost DP") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val sfDir = "/root/testdata/sf0.001"
    val prefixes = Tables.documents(spark, sfDir)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = graft.queries.PipelineQueries.t11EditDistance(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(got.nonEmpty)
    got.take(50).foreach { case (id, dist) =>
      assert(dist == lev(prefixes(id), prefixes(id + 1)),
        s"doc $id distance")
    }
  }
}
