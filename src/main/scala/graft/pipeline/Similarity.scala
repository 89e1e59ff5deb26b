package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] / [[cosinePairs]]: exact cosine via
  *    `zip_with`/`aggregate` expressions — fully codegen'd, no UDF. The
  *    brute-force scan is the correctness baseline; it broadcasts the query
  *    vector and reads the corpus once (embarrassingly parallel, no
  *    shuffle).
  *  - [[lshBucketTopK]]: random-hyperplane LSH — each vector gets a
  *    `numPlanes`-bit bucket id from the signs of dot products with seeded
  *    pseudo-random hyperplanes; search probes only the query's bucket.
  *    This is the 100 TB path: bucket ids partition the corpus, the probe
  *    is a partition-pruned scan, and recall is tuned by numPlanes /
  *    multi-probe. (An IVF variant would k-means the corpus instead; the
  *    plumbing is identical — cluster id replaces bucket id.)
  *
  * All accumulation is left-to-right over the array in double precision —
  * deterministic for a given row, independent of partitioning.
  */
object Similarity {

  /** Dot product of two float/double-array columns, accumulated
    * left-to-right in double — a native codegen'd expression
    * ([[graft.functions.VecDotExpr]]); the declarative
    * `aggregate(zip_with(...))` twin it replaced produced bit-identical
    * results but paid an interpreted lambda dispatch per element plus an
    * intermediate array per row (higher-order functions are not
    * whole-stage-codegen'd).
    */
  def dot(a: Column, b: Column): Column = {
    graft.functions.VecDotExpr.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("vec_dot", a, b)
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k nearest by cosine to one query vector (given as the row of
    * `vectors` with id `queryId`). Returns (id, sim) — sim rounded for
    * cross-engine stability, id as tiebreak.
    */
  def bruteForceTopK(vectors: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = vectors.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"))
    vectors.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosine(col(vecCol), col("qvec")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Matryoshka (MRL) two-stage top-k: rank by cosine over the FIRST
    * `prefixDims` coordinates to a `shortlist`, then rerank only the
    * shortlist by full-dimension cosine and keep `k` — the
    * prefix-truncation trick of Matryoshka Representation Learning
    * (Kusupati et al., NeurIPS'22): MRL-trained embeddings front-load
    * information, so a d/4 prefix scan buys most of the ranking at a
    * quarter of the multiply-adds and memory bandwidth.
    *
    * Scale shape: stage 1 is the ONLY corpus-sized pass and it reads
    * `prefixDims/d` of the vector bytes (columnar stores can even prune
    * the page reads); stage 2 reranks a BOUNDED list. Both stages are
    * round-then-rank (cosines to 4 decimals, ties by id) so the result
    * is engine-exact and the quality loss vs the exact full-dim top-k
    * is measurable — the v8 gate pins the overlap as a pure function
    * of the corpus, replayed exactly by the DuckDB oracle.
    * Returns (idCol, sim) — full-dim cosine — of the final k.
    */
  def matryoshkaTopK(vectors: DataFrame, queryId: Long, k: Int,
      prefixDims: Int, shortlist: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need 1 <= k <= shortlist, got k=$k shortlist=$shortlist")
    require(prefixDims >= 1, s"need prefixDims >= 1, got $prefixDims")
    val q = vectors.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"),
        slice(col(vecCol), 1, prefixDims).as("qpre"))
    // A zero-norm prefix (information living entirely past prefixDims)
    // must rank LAST in stage 1, not divide by zero under ANSI — the
    // honest semantics: the prefix scan knows nothing about that vector.
    val pre = slice(col(vecCol), 1, prefixDims)
    val preSim = when(norm(pre) > 0 && norm(col("qpre")) > 0,
      round(cosine(pre, col("qpre")), 4)).otherwise(lit(-2.0))
    val stage1 = vectors.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("qvec"), preSim.as("pre_sim"))
      .orderBy(col("pre_sim").desc, col(idCol))
      .limit(shortlist)
    stage1
      .select(col(idCol), round(cosine(col(vecCol), col("qvec")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** MMR (maximal-marginal-relevance) diversified re-rank of a bounded
    * candidate list — the standard RAG diversification pass (Carbonell &
    * Goldstein '98): greedily select `select` documents maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), so near-duplicate hits don't
    * crowd the context window. Step 1's score is λ·rel (the penalty max
    * over the empty set is 0).
    *
    * Scale shape: the DATA-sized work is the candidate generation — the
    * distributed [[bruteForceTopK]] / IVF / PQ top-`candidates` scan —
    * and the re-rank itself is greedy over that BOUNDED list (RAG
    * rerankers run at candidates ≤ a few hundred), so it collects
    * candidates×(dim+1) doubles and runs the O(candidates²·select) loop
    * on the driver: the kCenterCoreset bounded-collect discipline, never
    * a corpus-sized pull. Relevance and pairwise cosines round to 4
    * decimals BEFORE the greedy argmax (round-then-rank, ties by id
    * ascending) so the selection is engine-exact; emitted scores round
    * to 6.
    *
    * Returns (sel_rank 1..select, id, mmr).
    */
  def mmrRerank(vectors: DataFrame, queryId: Long, candidates: Int,
      select: Int, lambda: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(candidates >= 1 && select >= 1 && select <= candidates,
      s"need 1 <= select <= candidates, got select=$select candidates=$candidates")
    require(lambda >= 0 && lambda <= 1, s"need 0 <= lambda <= 1, got $lambda")
    val spark = vectors.sparkSession
    val cand = bruteForceTopK(vectors, queryId, candidates, idCol, vecCol)
      .join(vectors.select(col(idCol),
        col(vecCol).cast("array<double>").as("e")), idCol)
      .select(col(idCol), col("sim"), col("e"))
      .collect() // bounded: `candidates` rows, the re-rank working set
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
      .sortBy { case (id, rel, _) => (-rel, id) }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dotp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dotp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      r4(dotp / (math.sqrt(na) * math.sqrt(nb)))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val remaining = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Double, Array[Double])] ++ cand
    var step = 1
    while (step <= select && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel, e) =>
        val penalty =
          if (chosen.isEmpty) 0.0
          else chosen.iterator.map { case (_, se) => cos(e, se) }.max
        (id, lambda * rel - (1 - lambda) * penalty, e)
      }
      val (bid, bscore, be) =
        scored.minBy { case (id, sc, _) => (-sc, id) }
      selected += ((step, bid,
        BigDecimal(bscore).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      chosen += ((bid, be))
      remaining.filterInPlace { case (id, _, _) => id != bid }
      step += 1
    }
    import spark.implicits._
    selected.toSeq.toDF("sel_rank", idCol, "mmr")
  }

  /** Exact cosine near-duplicate pairs within a blocking column — the
    * reference all-pairs form, O(B²) per block. Kept for small-block
    * verification; [[cosinePairs]] (LSH candidate generation + exact
    * verify) is the production entry point.
    */
  def cosinePairsExact(vectors: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(blockCol), col(idCol), col(vecCol),
      norm(col(vecCol)).as("nrm"))
    val a = v.select(col(blockCol), col(idCol).as("vec_a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = v.select(col(blockCol), col(idCol).as("vec_b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    a.join(b, Seq(blockCol))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim"))
  }

  /** Cosine near-duplicate pairs via banded random-hyperplane LSH candidate
    * generation + exact verify (the `Dedup.minHashLsh` shape): each vector
    * gets `bands` keys of `numPlanes/bands` sign bits from seeded
    * hyperplanes over the mean-centered vector; a pair is a candidate iff
    * it agrees on ALL bits of at least one band, and only candidates reach
    * the exact cosine check. The join key is (block, band, bucket) — never
    * the bare block — so one hot block key no longer implies an O(B²) task.
    *
    * Recall is 1 - (1 - p^r)^b with p = 1 - θ/π: banding must be sized to
    * the threshold. At near-dup thresholds (≥0.8) a few wide bands prune
    * hard; at the gate's low 0.4 threshold the defaults (32 planes, 16
    * bands of 2) hold recall at ~1 - 3e-4 per borderline pair — verified
    * exhaustively against [[cosinePairsExact]] on all test scales — while
    * still cutting each block into 4-way buckets per band. Output contract
    * is identical to [[cosinePairsExact]].
    */
  def cosinePairs(vectors: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      numPlanes: Int = 32, bands: Int = 16, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(numPlanes % bands == 0, "numPlanes must divide into bands")
    val r = numPlanes / bands
    val planes = hyperplanes(numPlanes, dim, seed)
    val means = typedlit(dimMeans(vectors, dim, vecCol))
    val bits = planes.map(p =>
      when(dotCentered(col(vecCol), means, typedlit(p)) > 0, 1L).otherwise(0L))
    val bandKeys = array((0 until bands).map { b =>
      (0 until r).map(i => bits(b * r + i) * lit(1L << i)).reduce(_ + _)
    }: _*)

    // Signatures + norms computed once and cached: feeds both the band
    // join and the exact-verify join.
    val v = graft.CacheRegistry.register(
      vectors.select(col(blockCol), col(idCol), col(vecCol),
        norm(col(vecCol)).as("nrm"), bandKeys.as("bandkeys")).cache())

    val banded = v.select(col(blockCol), col(idCol),
      posexplode(col("bandkeys")).as(Seq("band", "bucket")))
    val a = banded.select(col(blockCol), col(idCol).as("vec_a"),
      col("band"), col("bucket"))
    val b = banded.select(col(blockCol), col(idCol).as("vec_b"),
      col("band"), col("bucket"))
    val candidates = a.join(b, Seq(blockCol, "band", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()

    candidates
      .join(v.select(col(idCol).as("vec_a"), col(vecCol).as("va"),
        col("nrm").as("na")), "vec_a")
      .join(v.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim"))
  }

  /** Cost-based pair search: pick the exact all-pairs form when the
    * measured per-block fan-out is bounded, the LSH candidate path above
    * it. The statistic is Σ block_size² — the exact join's output bound —
    * computed with one tiny aggregation (driver reads a single number,
    * like the IVF centroid ranking). Defaults give exact up to ~5M
    * candidate pairs — seconds of work — while a 100 TB corpus with a hot
    * block key lands far above the budget and takes the banded-LSH plan.
    * Both branches produce identical output whenever LSH recall is 1.0
    * (gated by `d5_cosine_lsh_recall`); the choice is a cost decision,
    * not a semantic one.
    */
  def cosinePairsAuto(vectors: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pairBudget: Long = 5000000L): DataFrame = {
    // sum() over zero groups is NULL — an empty corpus must read as zero
    // fan-out (exact branch over nothing), not an NPE. The statistic is
    // summed in decimal: a single ≳2^32-row block would overflow count²
    // in Long arithmetic to a NEGATIVE value and silently route a huge
    // corpus to the exact all-pairs branch.
    val fanOutRow = vectors.groupBy(col(blockCol)).count()
      .agg(sum(col("count").cast("decimal(19,0)") *
        col("count").cast("decimal(19,0)"))).head()
    val fanOut: java.math.BigDecimal =
      if (fanOutRow.isNullAt(0)) java.math.BigDecimal.ZERO
      else fanOutRow.getDecimal(0)
    if (fanOut.compareTo(java.math.BigDecimal.valueOf(pairBudget)) <= 0)
      cosinePairsExact(vectors, blockCol, threshold, idCol, vecCol)
    else cosinePairs(vectors, blockCol, threshold, idCol, vecCol)
  }

  /** Recall@k of an approximate ANN result against the exact baseline,
    * computed in-engine: |approx ∩ exact| / |exact| over the id column.
    * One output row `(method, k, recall)` — the quality gate that keeps
    * the bucketed/cluster-pruned ANN paths honest (a mis-sized LSH grid or
    * under-probed IVF silently returns far neighbors; this row makes that
    * a red gate instead of a quiet quality loss).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, method: String,
      idCol: String = "vec_id"): DataFrame = {
    val e = exact.select(col(idCol))
    val hits = e.join(approx.select(col(idCol)), Seq(idCol), "left_semi")
    e.agg(count(lit(1)).as("k"))
      .crossJoin(hits.agg(count(lit(1)).as("hits")))
      .select(lit(method).as("method"), col("k").cast("int").as("k"),
        round(col("hits").cast("double") / col("k"), 4).as("recall"))
  }

  /** All bit masks over `numPlanes` bits with popcount ≤ `maxHamming`,
    * enumerated directly as C(numPlanes, 0..maxHamming) bit-position
    * combinations — never the 2^numPlanes power set, which at production
    * plane counts (24+) would burn millions of driver iterations and
    * overflow outright at numPlanes ≥ 63.
    */
  def hammingMasks(numPlanes: Int, maxHamming: Int): Seq[Long] = {
    require(numPlanes >= 1 && numPlanes <= 62,
      s"numPlanes must be in [1, 62], got $numPlanes")
    (0 to math.min(maxHamming, numPlanes)).flatMap(h =>
      (0 until numPlanes).combinations(h).map(_.map(1L << _).sum))
  }

  /** Pair-level recall of an approximate near-dup pair set against the
    * exact pair set: |approx ∩ exact| / |exact| over (vec_a, vec_b). The
    * quality self-check for [[cosinePairs]]: its LSH candidate generation
    * can in principle miss a borderline pair (documented ~3e-4 per pair at
    * the gate threshold), and without this row such a miss would surface
    * only as an opaque hash mismatch on the pair gate — here it reads as a
    * named recall drop. Empty exact set ⇒ recall 1.0 (nothing to find).
    */
  def pairRecall(exact: DataFrame, approx: DataFrame, method: String)
      : DataFrame = {
    val e = exact.select(col("vec_a"), col("vec_b"))
    val hits = e.join(approx.select(col("vec_a"), col("vec_b")),
      Seq("vec_a", "vec_b"), "left_semi")
    e.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("hits")))
      .select(lit(method).as("method"), col("n_exact").cast("int").as("n_exact"),
        when(col("n_exact") === 0, 1.0)
          .otherwise(round(col("hits").cast("double") / col("n_exact"), 4))
          .as("recall"))
  }

  /** Deterministic pseudo-random hyperplanes (seeded). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Mean-centered dot product `Σ (v[i]-m[i])·p[i]` — native fused kernel
    * ([[graft.functions.VecDotCenteredExpr]]); the zip_with-centering it
    * replaced re-evaluated an interpreted per-element lambda once per
    * PLANE reference.
    */
  def dotCentered(vec: Column, means: Column, plane: Column): Column = {
    graft.functions.VecDotCenteredExpr.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("vec_dot_centered", vec, means, plane)
  }

  /** Bucket id column: sign bits of mean-centered dot products with the
    * hyperplanes.
    */
  def lshBucket(vec: Column, means: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dotCentered(vec, means, typedlit(p)) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Per-dimension corpus mean (one tiny aggregation; at scale this is a
    * sampled statistic computed once and persisted with the index).
    * Hyperplane LSH needs centered data: uncentered all-positive embeddings
    * share the sign of `sum(plane)` on almost every plane, collapsing the
    * corpus into one bucket.
    */
  /** Memo key for per-corpus index artifacts — see [[graft.PlanKeys]]
    * for why the plan string alone is not collision-free.
    */
  private def planKey(df: DataFrame): Option[String] =
    graft.PlanKeys.planKey(df)

  // Memoized like the IVF model below: the centering statistic is an index
  // artifact, not query work — persisted with the index at scale, computed
  // once per (corpus plan, dim) in a session here.
  private val dimMeanCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()

  def dimMeans(vectors: DataFrame, dim: Int, vecCol: String): Seq[Double] = {
    def compute(): Seq[Double] = {
      val row = vectors.select(
        (0 until dim).map(i =>
          avg(element_at(col(vecCol), i + 1)).as(s"m$i")): _*).head()
      (0 until dim).map(row.getDouble)
    }
    planKey(vectors) match {
      case Some(key) =>
        dimMeanCache.computeIfAbsent(s"$key:$dim:$vecCol", _ => compute())
      case None => compute()
    }
  }

  /** IVF (inverted-file) ANN: k-means the corpus once (seeded, MLlib),
    * store each vector under its cluster id, and probe only the
    * `nProbe` clusters whose centroids are nearest the query. The
    * centroid table is tiny (k rows) and lives broadcast; the probe is a
    * cluster-pruned scan — at 100 TB the cluster id is the partition key
    * and unprobed partitions are never read. Same plumbing as
    * [[lshBucketTopK]] with learned buckets instead of random ones.
    */
  // The trained index is memoized per (corpus identity, k): building the
  // IVF index is a multi-job k-means fit and belongs OUT of the query
  // path — at scale the centroids are persisted alongside the data and
  // queries only rank them. Keyed via planKey (canonicalized plan +
  // per-leaf content discriminator), so a different corpus — including a
  // mutated/checkpointed snapshot, which mints a fresh RDD id — trains
  // its own index, and driver-local corpora with no nameable identity
  // skip the memo and refit. The seeded fit is deterministic, so a memo
  // hit is bit-identical to a refit. Bounded: one entry per distinct
  // (corpus, k) in the session.
  private val ivfModels = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.ml.clustering.KMeansModel]()

  def ivfTopK(vectors: DataFrame, queryId: Long, k: Int, nClusters: Int = 16,
      nProbe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = vectors.sparkSession
    val ml = vectors.withColumn("features",
      array_to_vector(col(vecCol).cast("array<double>")))
    def fit() = new KMeans().setK(nClusters).setSeed(42L).setMaxIter(10).fit(ml)
    val model = planKey(ml) match {
      case Some(key) => ivfModels.computeIfAbsent(s"$key:$nClusters", _ => fit())
      case None => fit() // driver-local corpus: no stable identity, refit
    }
    val assigned = model.transform(ml).withColumnRenamed("prediction", "cluster")
    // Rank clusters by centroid distance to the query vector (driver-side:
    // k centroids only).
    val qVec = ml.filter(col(idCol) === queryId)
      .select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    val probe = model.clusterCenters.zipWithIndex
      .sortBy { case (c, _) => org.apache.spark.ml.linalg.Vectors.sqdist(c, qVec) }
      .take(nProbe).map(_._2)
    val q = assigned.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"))
    assigned.filter(col("cluster").isin(probe.toIndexedSeq.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosine(col(vecCol), col("qvec")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Approximate top-k via multi-probe LSH: candidates come from every
    * bucket within Hamming distance `probeHamming` of the query's bucket
    * (probing ONLY the exact bucket loses any neighbor that disagrees on a
    * single sign bit — for sign-bit LSH a neighbor at angle θ flips each
    * bit independently with probability θ/π, so single-bucket recall decays
    * as (1-θ/π)^numPlanes and multi-probe is the standard production fix).
    * The probe set is enumerated on the query side — C(numPlanes, ≤h) rows
    * — and broadcast, so the scan side keeps a pruned equi-join on the
    * bucket key: at 100 TB the bucket is the partition key and unprobed
    * partitions are never read. Probe sizing is a recall/cost dial: wide
    * radius over few planes for near-uniform corpora (the synthetic test
    * vectors have true-neighbor sims of only ~0.3), narrow radius over
    * 16-24 planes for clustered real embeddings.
    */
  def lshBucketTopK(vectors: DataFrame, queryId: Long, k: Int,
      numPlanes: Int = 8, dim: Int = 64, probeHamming: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val means = typedlit(dimMeans(vectors, dim, vecCol))
    val bucketed = vectors.withColumn("bucket",
      lshBucket(col(vecCol), means, planes))
    val masks = hammingMasks(numPlanes, probeHamming)
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*))
          .as("bucket"))
    bucketed.join(broadcast(q), Seq("bucket"))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        round(cosine(col(vecCol), col("qvec")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** V1: per-label centroid quality — element-wise mean embedding per
    * label plus each vector's cosine to its own centroid, averaged: the
    * cluster-cohesion summary a semantic-dedup or classifier-probe
    * pipeline reads per class. Pure relational decomposition — ONE
    * `posexplode` (rows × dims), a (label, pos) mean, and a re-join
    * that computes v·c, v·v, c·c as grouped sums — so the vector math
    * stays in codegen'd aggregates with no array UDF anywhere, and the
    * shuffle carries (labels × dims) centroid cells, never the vectors
    * twice. Cosines round at 6 decimals: float32 inputs are exact in
    * DOUBLE, sum-order drift is ~1e-14 relative, so both engines land
    * on the same rounded value.
    */
  def labelCentroidCohesion(vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cells = vectors.select(col("label"), col(idCol),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
    val centroid = cells.groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("c"))
    val joined = cells.join(centroid, Seq("label", "pos"))
    val perVec = joined.groupBy(col("label"), col(idCol))
      .agg(sum(col("v") * col("c")).as("vc"),
        sum(col("v") * col("v")).as("vv"),
        sum(col("c") * col("c")).as("cc"))
      .select(col("label"),
        (col("vc") / (sqrt(col("vv")) * sqrt(col("cc")))).as("cos"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("cos")), 6).as("avg_cos"))
  }

  /** V2: k-NN JOIN within label blocks — EVERY vector's top-k nearest
    * same-label neighbors, not one query's ([[bruteForceTopK]]). The
    * self-join keys on the label, so the pair explosion is bounded by
    * the largest block, never n²; the per-query top-k is the rank
    * filter Catalyst rewrites to WindowGroupLimit (each map task keeps
    * its local top-k per query BEFORE the window exchange). For
    * unblocked corpora the scale path is LSH/IVF candidates feeding
    * the same window — this operator pins the exact blocked form.
    */
  def knnJoinByLabel(vectors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col("label"), col(idCol), col(vecCol))
    val a = v.select(col("label"), col(idCol).as("qid"),
      col(vecCol).as("qvec"))
    val b = v.select(col("label"), col(idCol).as("nid"),
      col(vecCol).as("nvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    a.join(b, "label")
      .filter(col("qid") =!= col("nid"))
      .select(col("label"), col("qid"), col("nid"),
        round(cosine(col("qvec"), col("nvec")), 4).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** V5: hard-negative mining for contrastive training — for every
    * vector, the top-`k` most similar vectors of a DIFFERENT label: the
    * negatives that sit closest to the decision boundary, the ones a
    * contrastive or reranker training set actually wants (random
    * negatives are trivially easy; these are the hard ones).
    *
    * All-pairs across labels is the n² trap, so mining routes through
    * per-label mean prototypes first: each query picks its most-similar
    * FOREIGN label by prototype cosine, then ranks only that label's
    * members — candidate fan-out is bounded by one label block per
    * query, the [[knnJoinByLabel]] blocking discipline turned
    * cross-class. Routing stays in the [[prototypicality]] relational
    * cell decomposition (centroid = per-(label,pos) avg, cosine from
    * three partial sums) so the DuckDB oracle replays it exactly; the
    * cell⋈centroid join fans out by (labels−1), fine for classifier-ish
    * label counts — a corpus with huge L swaps the router for the d33
    * literal-kernel or IVF form and keeps the same member-ranking tail.
    * Both ranks follow the round-then-rank contract (prototype cosine
    * at 6, member cosine at 4, ties on the id) so the emitted lists are
    * engine-exact. Returns (qid, label, neg_label, rk, nid, sim).
    */
  def hardNegatives(vectors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = vectors.select(col("label"), col(idCol),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
    val centroid = cells.groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("c"))
      .select(col("label").as("neg_label"), col("pos"), col("c"))
    // Prototype cosine of every query against every FOREIGN centroid;
    // the centroid table is labels×dim rows — always broadcast.
    val pc = cells.join(broadcast(centroid), "pos")
      .filter(col("label") =!= col("neg_label"))
      .groupBy(col("label"), col(idCol), col("neg_label"))
      .agg(sum(col("v") * col("c")).as("vc"),
        sum(col("v") * col("v")).as("vv"),
        sum(col("c") * col("c")).as("cc"))
      .select(col("label"), col(idCol), col("neg_label"),
        round(col("vc") / (sqrt(col("vv")) * sqrt(col("cc"))), 6)
          .as("pcos"))
    // argmax by (pcos desc, neg_label asc) — the min(struct) idiom.
    val routed = pc.groupBy(col(idCol), col("label"))
      .agg(min(struct((-col("pcos")).as("np"), col("neg_label")))
        .as("pick"))
      .select(col(idCol).as("qid"), col("label"),
        col("pick.neg_label").as("neg_label"))
    val q = vectors.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .join(routed, "qid")
    val m = vectors.select(col("label").as("neg_label"),
      col(idCol).as("nid"), col(vecCol).as("nvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    q.join(m, "neg_label")
      .select(col("qid"), col("label"), col("neg_label"), col("nid"),
        round(cosine(col("qvec"), col("nvec")), 4).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("label"), col("neg_label"),
        col("rk"), col("nid"), col("sim"))
  }

  // PQ codebooks are memoized per (corpus identity, m, codebookSize) for
  // the same reason as ivfModels: training is m small k-means fits that
  // belong out of the query path; the seeded fits are deterministic, so
  // a memo hit is bit-identical to a refit.
  private val pqModels = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  /** Product-quantization codebooks (Jégou, Douze, Schmid — "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * splits into `m` contiguous subspaces of dim/m dimensions, each
    * quantized independently by its own `codebookSize`-centroid k-means.
    * Returns codebooks(sub)(code) = centroid array. Each fit sees only
    * (rows × dim/m) data; at corpus scale the standard practice is
    * training on a sample — the fits are tiny either way.
    */
  def pqCodebooks(vectors: DataFrame, m: Int, codebookSize: Int, dim: Int,
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val subDim = dim / m
    // The m subspace fits are INDEPENDENT seeded jobs (seed 42+s each);
    // running them from a small driver thread pool overlaps each fit's
    // straggler tail with the next fit's tasks (guide §2.6) instead of
    // serializing m × maxIter scheduler round-trips. Results are
    // byte-identical — each fit's seed, data slice, and iteration count
    // are unchanged; only the submission order overlaps.
    def fit(): Array[Array[Array[Double]]] = {
      val out = new Array[Array[Array[Double]]](m)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(m, 4))
      try {
        (0 until m).map { s =>
          pool.submit(new Runnable {
            def run(): Unit = {
              val sub = vectors.select(array_to_vector(
                slice(col(vecCol).cast("array<double>"), s * subDim + 1,
                  subDim)).as("features"))
              out(s) = new KMeans().setK(codebookSize).setSeed(42L + s)
                .setMaxIter(10).fit(sub).clusterCenters.map(_.toArray)
            }
          })
        }.foreach(_.get())
      } catch {
        // A failed fit surfaces as the ORIGINAL SparkException, not the
        // pool's ExecutionException wrapper, and the failure path cancels
        // queued/running sibling fits instead of letting them hold
        // driver/executor resources to completion (r14 ADVICE).
        case e: java.util.concurrent.ExecutionException =>
          pool.shutdownNow()
          throw Option(e.getCause).getOrElse(e)
      } finally pool.shutdown()
      out
    }
    planKey(vectors) match {
      case Some(key) =>
        // dim and vecCol are part of the key (ADVICE r11): a second call
        // on the same corpus with a different dim or vector column must
        // train its own codebooks, not silently reuse wrong-shape ones.
        // dim is derivable from subDim but including it is cheap insurance.
        pqModels.computeIfAbsent(s"$key:$m:$codebookSize:$dim:$vecCol",
          _ => fit())
      case None => fit()
    }
  }

  // Encoded codes are memoized alongside the codebooks (ADVICE r11: only
  // the codebooks were memoized, so every PQ query re-encoded the whole
  // corpus — at scale the codes table IS the index artifact, built once
  // and persisted with the data). A memo hit re-registers the cached
  // plan with CacheRegistry: releaseAll() between catalog queries only
  // unpersists the blocks, the deterministic plan re-caches on next use.
  private val pqCodesCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  // Corpus row counts, memoized per corpus identity (an index statistic,
  // not query work): sizing pqTopK's default shortlist must not run a
  // full-scan count() action per query.
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def corpusCount(vectors: DataFrame): Long = planKey(vectors) match {
    case Some(key) =>
      corpusCounts.computeIfAbsent(key, _ => vectors.count()).longValue()
    case None => vectors.count()
  }

  /** PQ encoding as a pure relational argmin — no vector UDF anywhere:
    * explode vectors to (id, sub, subpos, x) cells, join the broadcast
    * codebook cells on (sub, subpos), partial-aggregate the squared
    * distance per (id, sub, code), and take the per-(id, sub) argmin
    * with the min(struct) idiom (ties → smallest code). Emits
    * (idCol, sub, code) — dim/m·log2(codebookSize) bits per subspace,
    * the 32x memory cut that makes billion-vector rerank feasible.
    */
  def pqEncode(vectors: DataFrame, codebooks: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val cb = codebooks.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.flatMap { case (c, k) =>
        c.zipWithIndex.map { case (v, p) => (s, k, p, v) } }
    }.toIndexedSeq.toDF("sub", "code", "sp", "c")
    val cells = vectors.select(col(idCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos0", "x")))
      .select(col(idCol), (col("pos0") / subDim).cast("int").as("sub"),
        pmod(col("pos0"), lit(subDim)).cast("int").as("sp"), col("x"))
    cells.join(broadcast(cb), Seq("sub", "sp"))
      .groupBy(col(idCol), col("sub"), col("code"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col(idCol), col("sub"), col("best.code").as("code"))
  }

  /** PQ-ADC top-k (asymmetric distance computation): the UNQUANTIZED
    * query builds its m × codebookSize table of squared subspace
    * distances to every centroid (a tiny broadcast), and each database
    * vector's approximate distance is m table LOOKUPS summed over its
    * codes — by construction exactly ‖q − recon(v)‖², the distance to
    * the vector's reconstruction (spec-pinned identity). The corpus-side
    * plan never touches raw vectors after encoding: one equi-join on
    * (sub, code) against the broadcast table + a per-id sum — at 100 TB
    * the scan reads m bytes of codes per vector instead of the
    * embedding, and the only exchange is the id-keyed partial-sum.
    */
  def pqAdcScores(vectors: DataFrame, queryId: Long, m: Int,
      codebookSize: Int, dim: Int, idCol: String,
      vecCol: String): DataFrame = {
    val cbs = pqCodebooks(vectors, m, codebookSize, dim, vecCol)
    val codes = pqCodesOf(vectors, cbs, m, codebookSize, dim, idCol, vecCol)
    val qTable = pqQueryTable(vectors, queryId, cbs, m, dim, idCol, vecCol)
    codes.join(broadcast(qTable), Seq("sub", "code"))
      .groupBy(col(idCol)).agg(sum(col("qd2")).as("adc2"))
      .filter(col(idCol) =!= queryId)
  }

  /** The memoized corpus codes table for a trained codebook set — the
    * persisted index artifact at scale ([[pqAdcScores]]'s cache,
    * factored out so [[ivfPqTopK]] reads the same codes).
    */
  private def pqCodesOf(vectors: DataFrame,
      cbs: Array[Array[Array[Double]]], m: Int, codebookSize: Int,
      dim: Int, idCol: String, vecCol: String): DataFrame =
    planKey(vectors) match {
      case Some(key) =>
        graft.CacheRegistry.register(pqCodesCache.computeIfAbsent(
          s"$key:$m:$codebookSize:$dim:$vecCol:$idCol",
          _ => pqEncode(vectors, cbs, idCol, vecCol)).cache())
      case None => pqEncode(vectors, cbs, idCol, vecCol)
    }

  /** The query's m × codebookSize table of squared subspace distances
    * to every centroid — the tiny broadcast side of ADC.
    */
  private def pqQueryTable(vectors: DataFrame, queryId: Long,
      cbs: Array[Array[Array[Double]]], m: Int, dim: Int,
      idCol: String, vecCol: String): DataFrame = {
    val subDim = dim / m
    val q = vectors.filter(col(idCol) === queryId)
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos0", "x")))
      .select((col("pos0") / subDim).cast("int").as("sub"),
        pmod(col("pos0"), lit(subDim)).cast("int").as("sp"), col("x"))
    val spark = vectors.sparkSession
    import spark.implicits._
    val cb = cbs.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.flatMap { case (c, kk) =>
        c.zipWithIndex.map { case (v, p) => (s, kk, p, v) } }
    }.toIndexedSeq.toDF("sub", "code", "sp", "c")
    q.join(cb, Seq("sub", "sp"))
      .groupBy(col("sub"), col("code"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("qd2"))
  }

  /** PQ search = ADC shortlist + exact rerank (the faiss IVFPQ+refine
    * production shape): ADC ranks the WHOLE corpus from codes alone and
    * keeps a `shortlist` (default 5k) of candidates; only those rows'
    * raw vectors are read back for the exact Euclidean rerank to top-k.
    * At 100 TB the scan side touches m bytes of codes per vector and the
    * rerank touches `shortlist` raw vectors — the recall knob is the
    * shortlist size, not a rescan. (Codes-only ADC ranking is kept in
    * [[pqAdcScores]]; on this synthetic near-uniform corpus its @10
    * recall is ~0.2 — inter-point distance gaps are smaller than the
    * quantization distortion — which is exactly why the rerank stage
    * exists in every production PQ system.)
    *
    * Default shortlist = max(5k, corpus/10): near-uniform corpora (this
    * testdata) have recall ∝ shortlist FRACTION, so a fixed L would make
    * the quality gate decade-dependent; clustered real embeddings reach
    * the same recall at a small fixed L, which callers pass explicitly —
    * at billion-vector scale a 10% rerank is not the intent, the dial is.
    */
  def pqTopK(vectors: DataFrame, queryId: Long, k: Int, m: Int = 8,
      codebookSize: Int = 16, dim: Int = 64, shortlist: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Default shortlist: the memoized corpus-count statistic (never a
    // per-query full-scan action — ADVICE r11), Long math clamped to
    // Int.MaxValue so a >21B-row corpus degrades to "rerank a lot"
    // instead of overflowing negative.
    val l = if (shortlist > 0) shortlist
            else math.min(math.max(5L * k, corpusCount(vectors) / 10),
              Int.MaxValue.toLong).toInt
    val cand = pqAdcScores(vectors, queryId, m, codebookSize, dim, idCol, vecCol)
      .orderBy(col("adc2").asc, col(idCol))
      .limit(l)
      .select(col(idCol))
    val q = vectors.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"))
    vectors.join(broadcast(cand), Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(sqrt(dot(col(vecCol), col(vecCol)) + dot(col("qvec"), col("qvec"))
          - lit(2.0) * dot(col(vecCol), col("qvec"))), 4).as("dist"))
      .orderBy(col("dist").asc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ top-k — the two indexes composed the way faiss's IVFPQ
    * deploys them at billion-vector scale: the COARSE quantizer (the
    * memoized IVF k-means) routes the query to its `nProbe` nearest
    * inverted lists, PQ-ADC ranks ONLY those lists' members from their
    * codes, and the exact rerank reads raw vectors for the shortlist
    * alone. Versus [[pqTopK]] (ADC over the whole corpus) the scan
    * shrinks by ~nProbe/nClusters; versus [[ivfTopK]] (exact distances
    * inside the probed lists) the probed lists are read as m-byte codes
    * instead of raw vectors. This is the non-residual variant (codes
    * quantize raw vectors, not list residuals): residual encoding buys
    * finer cells at the cost of per-list query tables — m×codebookSize
    * per probe instead of one shared table — and on near-uniform
    * synthetic data the residual gain is noise, so the shared-table
    * shape is the honest one to pin.
    *
    * Scale shape: cluster assignment is the partition key of the codes
    * table at scale, so probing prunes partitions; here the probe
    * filter is a broadcast-semi on the assigned ids. The ADC join +
    * id-keyed sum and the shortlist/rerank are [[pqTopK]]'s plan,
    * restricted to probed members before the per-id sum (the semi-join
    * sits UNDER the aggregate, so unprobed codes never reach it).
    */
  def ivfPqTopK(vectors: DataFrame, queryId: Long, k: Int,
      nClusters: Int = 16, nProbe: Int = 4, m: Int = 8,
      codebookSize: Int = 16, dim: Int = 64, shortlist: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(nProbe >= 1 && nProbe <= nClusters,
      s"nProbe must be in [1, $nClusters], got $nProbe")
    val ml = vectors.withColumn("features",
      array_to_vector(col(vecCol).cast("array<double>")))
    def fit() = new KMeans().setK(nClusters).setSeed(42L).setMaxIter(10).fit(ml)
    val model = planKey(ml) match {
      case Some(key) => ivfModels.computeIfAbsent(s"$key:$nClusters", _ => fit())
      case None => fit()
    }
    val qVec = ml.filter(col(idCol) === queryId)
      .select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    val probe = model.clusterCenters.zipWithIndex
      .sortBy { case (c, _) => org.apache.spark.ml.linalg.Vectors.sqdist(c, qVec) }
      .take(nProbe).map(_._2)
    val probed = model.transform(ml)
      .filter(col("prediction").isin(probe.toIndexedSeq.map(Integer.valueOf): _*))
      .select(col(idCol))
    val cbs = pqCodebooks(vectors, m, codebookSize, dim, vecCol)
    val codes = pqCodesOf(vectors, cbs, m, codebookSize, dim, idCol, vecCol)
      .join(probed, Seq(idCol), "left_semi")
    val qTable = pqQueryTable(vectors, queryId, cbs, m, dim, idCol, vecCol)
    val l = if (shortlist > 0) shortlist
            else math.min(math.max(5L * k, corpusCount(vectors) / 10),
              Int.MaxValue.toLong).toInt
    val cand = codes.join(broadcast(qTable), Seq("sub", "code"))
      .groupBy(col(idCol)).agg(sum(col("qd2")).as("adc2"))
      .filter(col(idCol) =!= queryId)
      .orderBy(col("adc2").asc, col(idCol))
      .limit(l)
      .select(col(idCol))
    val q = vectors.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"))
    vectors.join(broadcast(cand), Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(sqrt(dot(col(vecCol), col(vecCol)) + dot(col("qvec"), col("qvec"))
          - lit(2.0) * dot(col(vecCol), col("qvec"))), 4).as("dist"))
      .orderBy(col("dist").asc, col(idCol))
      .limit(k)
  }

  /** Persist a trained PQ index — codebooks (m × codebookSize × subDim
    * cells) and the encoded corpus codes — as parquet, the "the index
    * artifact is built once and stored WITH the data" claim made
    * concrete: at scale the codes table is written next to the corpus
    * and every query session reloads it instead of re-encoding.
    * Layout: `<path>/codebooks` = (sub, code, sp, c),
    * `<path>/codes` = (idCol, sub, code).
    */
  def pqSaveIndex(vectors: DataFrame, path: String, m: Int = 8,
      codebookSize: Int = 16, dim: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cbs = pqCodebooks(vectors, m, codebookSize, dim, vecCol)
    cbs.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.flatMap { case (c, kk) =>
        c.zipWithIndex.map { case (v, p) => (s, kk, p, v) } }
    }.toIndexedSeq.toDF("sub", "code", "sp", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    pqCodesOf(vectors, cbs, m, codebookSize, dim, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Reload [[pqSaveIndex]]'s codebooks into the in-memory form. */
  def pqLoadCodebooks(spark: SparkSession, path: String)
      : Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("sub"), col("code"), col("sp"), col("c")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val sd = rows.map(_.getInt(2)).max + 1
    val out = Array.fill(m, ks, sd)(0.0)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
      r.getDouble(3))
    out
  }

  /** ADC scores served from a RELOADED index ([[pqSaveIndex]] output):
    * the query builds its table against the loaded codebooks and joins
    * the stored codes — no touch of the raw corpus beyond the one query
    * row. The ARTIFACT is bit-identical to the in-memory index (codes
    * and codebook cells, spec-pinned exactly); the served score matches
    * to summation-order ulps (~1e-16 relative — the per-id m-term sum
    * folds in partition order, and parquet round-trip re-partitions),
    * which rounding at any output precision absorbs.
    */
  def pqAdcScoresFromIndex(spark: SparkSession, path: String,
      query: DataFrame, queryId: Long, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cbs = pqLoadCodebooks(spark, path)
    // Caller/artifact parameter agreement is load-bearing (the r12
    // Dedup.saveNearDupIndex advisory class): the codebook artifact
    // fixes (m, subDim); a caller asking for different ones would
    // subspace the query differently from the stored codes and return
    // silently wrong ADC distances.
    require(cbs.length == m && cbs(0)(0).length * m == dim,
      s"PQ index at $path was built with m=${cbs.length}, " +
        s"dim=${cbs(0)(0).length * cbs.length} but this query asked for " +
        s"(m=$m, dim=$dim) — rebuild the index or match its parameters")
    val codes = spark.read.parquet(s"$path/codes")
    val qTable = pqQueryTable(query, queryId, cbs, m, dim, idCol, vecCol)
    codes.join(broadcast(qTable), Seq("sub", "code"))
      .groupBy(col(idCol)).agg(sum(col("qd2")).as("adc2"))
      .filter(col(idCol) =!= queryId)
  }

  /** Exact top-k by EUCLIDEAN distance (the metric PQ-ADC approximates;
    * [[bruteForceTopK]] is its cosine sibling). */
  def bruteForceTopKL2(vectors: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = vectors.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"))
    vectors.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(sqrt(dot(col(vecCol), col(vecCol)) + dot(col("qvec"), col("qvec"))
          - lit(2.0) * dot(col(vecCol), col("qvec"))), 4).as("dist"))
      .orderBy(col("dist").asc, col(idCol))
      .limit(k)
  }

  /** Cluster-id assignment for semantic dedup — the SemDeDup front half
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023), with MULTI-PROBE
    * assignment: k-means the embedding corpus once (seeded MLlib fit,
    * memoized per (corpus identity, k) through the same `ivfModels`
    * discipline as [[ivfTopK]] — the cluster model IS an index artifact,
    * trained once and persisted with the data at scale), then label
    * every vector with its `probes` NEAREST clusters, not just the
    * argmin. Single-assignment blocking loses every near-dup pair that
    * straddles a centroid boundary — measured 0.37–0.63 recall on the
    * near-uniform synthetic corpus — while p-probe assignment recovers
    * boundary pairs for a p× index-size cost, the same recall/cost dial
    * as IVF nProbe (and the paper's ε-ball overlap extension).
    *
    * Relational ranking, no vector UDF: per row, the k centroid
    * distances are k codegen'd [[dot]] kernels folded into an
    * array_sort over (d2, cid) structs — centroids are literal
    * broadcast constants, ‖c‖² is precomputed on the driver (k values),
    * and the probe explode emits `probes` rows per vector. Returns
    * (idCol, vecCol, sem_cluster), one row per (vector, probed cluster).
    */
  def semanticClusters(vectors: DataFrame, nClusters: Int, probes: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignToCentroids(vectors, semCentroids(vectors, nClusters, vecCol),
      probes, idCol, vecCol)

  /** The fitted (seeded, memoized) SemDeDup centroid set — the
    * index-BUILD half of [[semanticClusters]], split out so
    * [[semSaveIndex]] can persist it and the incremental ingest path
    * can assign new batches without refitting. */
  private def semCentroids(vectors: DataFrame, nClusters: Int,
      vecCol: String): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val ml = vectors.withColumn("features",
      array_to_vector(col(vecCol).cast("array<double>")))
    def fit() = new KMeans().setK(nClusters).setSeed(42L).setMaxIter(10).fit(ml)
    val model = planKey(ml) match {
      case Some(key) => ivfModels.computeIfAbsent(s"$key:$nClusters", _ => fit())
      case None => fit()
    }
    model.clusterCenters.map(_.toArray)
  }

  /** Multi-probe assignment against a GIVEN centroid set — the
    * query-side half of [[semanticClusters]], shared by the fresh path
    * and the loaded-index path ([[semanticClustersFromIndex]]). */
  private def assignToCentroids(vectors: DataFrame,
      centroids: Array[Array[Double]], probes: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(probes >= 1 && probes <= centroids.length,
      s"probes must be in [1, ${centroids.length}], got $probes")
    // dist²(v, c_j) = v·v − 2·v·c_j + ‖c_j‖²; the v·v term is shared by
    // every candidate so it cannot change the ranking, but keeping it
    // costs one extra kernel and makes the sorted value a true distance.
    val cents = centroids.map(_.toIndexedSeq)
    val vv = dot(col(vecCol), col(vecCol))
    val candidates = array(cents.zipWithIndex.map { case (c, j) =>
      struct(
        (vv - lit(2.0) * dot(col(vecCol), typedlit(c)) +
          lit(c.map(x => x * x).sum)).as("d2"),
        lit(j).as("cid"))
    }.toIndexedSeq: _*)
    vectors.select(col(idCol), col(vecCol),
        explode(slice(array_sort(candidates), 1, probes)).as("__pc"))
      .select(col(idCol), col(vecCol), col("__pc.cid").as("sem_cluster"))
  }

  /** Persist the SemDeDup cluster index — centroids, the corpus's
    * multi-probe assignments, and the build parameters — as parquet
    * (the [[pqSaveIndex]] / `Dedup.saveNearDupIndex` discipline applied
    * to semantic dedup). At 100 TB the k-means fit plus the
    * corpus-wide assignment pass IS the cost of SemDeDup; both are pure
    * functions of the corpus (seeded fit, deterministic ranking), so
    * they are built once, stored with the data, and every later session
    * or ingest batch reads them instead of re-deriving. Layout:
    * `<path>/centroids` = (cid, pos, c), `<path>/assignments` =
    * (idCol, vecCol) PARTITIONED BY sem_cluster — the vector rides in
    * the posting list (the IVF trade: `probes`× vector storage) so an
    * ingest batch reads ONLY the probed clusters' partitions, never the
    * corpus — batch-ingest cost is ∝ probed-cluster mass, independent
    * of corpus size. `<path>/params` = (n_clusters, probes).
    */
  def semSaveIndex(vectors: DataFrame, path: String, nClusters: Int = 8,
      probes: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = semCentroids(vectors, nClusters, vecCol)
    cents.zipWithIndex.flatMap { case (c, j) =>
      c.zipWithIndex.map { case (v, p) => (j, p, v) } }
      .toIndexedSeq.toDF("cid", "pos", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assignToCentroids(vectors, cents, probes, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("sem_cluster"))
      .write.mode("overwrite").partitionBy("sem_cluster")
      .parquet(s"$path/assignments")
    Seq((nClusters, probes)).toDF("n_clusters", "probes")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  private def semLoadCentroids(spark: SparkSession,
      path: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("pos"), col("c")).collect()
    val k = rows.map(_.getInt(0)).max + 1
    val d = rows.map(_.getInt(1)).max + 1
    val out = Array.fill(k, d)(0.0)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    out
  }

  /** Assign a NEW batch against the persisted centroids — the
    * incremental ingest path: the corpus-pass cost (fit + corpus
    * assignment) happened once at [[semSaveIndex]] time; an arriving
    * batch costs k distance kernels per row, no refit, no corpus
    * touch. probes comes FROM the artifact (a batch probed differently
    * from the corpus index would miss boundary pairs silently). */
  def semanticClustersFromIndex(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val p = spark.read.parquet(s"$path/params")
      .select(col("n_clusters"), col("probes")).collect()
    require(p.length == 1,
      s"semantic index at $path has a malformed params artifact (${p.length} rows)")
    assignToCentroids(batch, semLoadCentroids(spark, path),
      p(0).getInt(1), idCol, vecCol)
  }

  /** [[semanticDedupPairs]] served from a persisted [[semSaveIndex]]
    * artifact: the stored corpus assignments replace the fit+assign
    * pass, and since r14 the posting lists carry the vectors at rest,
    * so the pair verify needs NO join back to the corpus. Reload ≡
    * fresh is spec-pinned: both the centroid set and the assignment
    * ranking are deterministic, so the served pair set is identical. */
  def semanticDedupPairsFromIndex(spark: SparkSession, path: String,
      threshold: Double = 0.4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cosinePairsAuto(
      spark.read.parquet(s"$path/assignments")
        .select(col("sem_cluster"), col(idCol), col(vecCol)),
      "sem_cluster", threshold, idCol, vecCol)
      .distinct()

  /** Exact cross-side cosine pairs (left × right, sim ≥ threshold) —
    * the ground truth [[incrementalSemanticDedup]] approximates.
    * O(|left|·|right|) BY DESIGN: this is the parity/recall oracle
    * form, never an execution path (the engine runs the
    * cluster-blocked incremental probe). Output (vec_a = left id,
    * vec_b = right id, sim) in the [[pairRecall]] column contract.
    */
  def crossCosinePairsExact(left: DataFrame, right: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = left.select(col(idCol).as("vec_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val b = right.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    a.crossJoin(b)
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim"))
  }

  /** Incremental semantic near-dup: an arriving batch against the
    * indexed corpus — batch rows are assigned via the stored centroids
    * ([[semanticClustersFromIndex]]), candidates are only
    * (batch × corpus) rows sharing a probed cluster (corpus-internal
    * pairs never materialize — the `Dedup.incrementalNearDup` shape),
    * then exact-cosine verified. The corpus side comes entirely from
    * the index at rest: the posting lists carry the vectors and are
    * partitioned by `sem_cluster`, and the explicit isin-filter on the
    * batch's probed cluster ids prunes at the parquet-partition level —
    * batch-ingest cost is ∝ the probed clusters' mass, INDEPENDENT of
    * corpus size (measured across four decades, PLANS.md "Round-14:
    * incremental-ingest scale probe"). Returns
    * (batch_doc, corpus_doc, sim).
    */
  def incrementalSemanticDedup(spark: SparkSession, path: String,
      batch: DataFrame, threshold: Double = 0.4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val batchSide = graft.CacheRegistry.register(
      semanticClustersFromIndex(spark, path, batch, idCol, vecCol)
        .select(col("sem_cluster"), col(idCol).as("batch_doc"),
          col(vecCol).as("va"), norm(col(vecCol)).as("na"))
        .localCheckpoint())
    // Bounded collect: ≤ nClusters distinct ids — a literal partition
    // filter prunes at plan time (no reliance on runtime DPP).
    val probed = batchSide.select(col("sem_cluster"))
      .distinct().collect().map(_.getInt(0)).sorted
    val corpusSide = spark.read.parquet(s"$path/assignments")
      .filter(col("sem_cluster").isin(probed.toIndexedSeq.map(Integer.valueOf): _*))
      .select(col("sem_cluster"), col(idCol).as("corpus_doc"),
        col(vecCol).as("vb"), norm(col(vecCol)).as("nb"))
    batchSide.hint("broadcast").join(corpusSide, Seq("sem_cluster"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("batch_doc"), col("corpus_doc"),
        round(col("sim"), 4).as("sim"))
      .distinct()
  }

  /** SemDeDup semantic near-duplicate pairs: cluster-then-pair — k-means
    * blocks ([[semanticClusters]]) bound the candidate space, then the
    * within-cluster pair search runs through the cost-based selector
    * ([[cosinePairsAuto]]): exact all-pairs while the measured per-block
    * fan-out Σc² fits the pair budget, banded-LSH candidate generation
    * above it. So the plan is NEVER corpus-all-pairs: fan-out is bounded
    * by cluster sizes, and a skewed hot cluster degrades to the LSH
    * path instead of an O(c²) task. At 100 TB the cluster id is the
    * partition key — the exact shape the paper's per-cluster pairwise
    * pass shards by.
    *
    * Approximate BY DESIGN in one way only: pairs whose two vectors
    * share NONE of their probed clusters are not tested (the paper's
    * semantics — dedup within semantic clusters — widened by
    * multi-probe). The `d33_semantic_recall` twin measures exactly that
    * loss against the exhaustive pair set and gates it with a floor, so
    * a degenerate clustering (everything near one centroid, or
    * assignment drift after an MLlib upgrade) surfaces as a named
    * recall drop, not silent corpus shrinkage. A pair sharing several
    * probed clusters would qualify once per shared cluster — the final
    * distinct collapses it (sim is a pure function of the pair, so the
    * duplicate rows are identical).
    */
  def semanticDedupPairs(vectors: DataFrame, nClusters: Int = 8,
      probes: Int = 3, threshold: Double = 0.4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    cosinePairsAuto(
      semanticClusters(vectors, nClusters, probes, idCol, vecCol)
        .select(col("sem_cluster"), col(idCol), col(vecCol)),
      "sem_cluster", threshold, idCol, vecCol)
      .distinct()

  /** Prototypicality ranking (SSL-prototypes pruning — Sorscher et al.,
    * "Beyond neural scaling laws: beating power law scaling via data
    * pruning", NeurIPS 2022): each vector's cosine to its own LABEL
    * centroid, ranked most-prototypical-first within the label. The
    * curation pass drops the top-p most prototypical examples per class
    * (they carry the least marginal information at scale); this
    * operator emits that drop list — the `keep = rank > p` complement
    * is the training set.
    *
    * Fully relational ([[labelCentroidCohesion]]'s decomposition): ONE
    * posexplode to (label, id, pos, v) cells, a (label, pos) centroid
    * mean, a re-join computing v·c / (‖v‖‖c‖) as grouped sums — no
    * vector UDF, shuffle carries labels × dims centroid cells. Cosines
    * round at 6 decimals BEFORE ranking (the v2_knn_join discipline) so
    * the emitted ranks are engine-exact; ties break on id.
    */
  def prototypicality(vectors: DataFrame, topP: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = vectors.select(col("label"), col(idCol),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
    val centroid = cells.groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("c"))
    val perVec = cells.join(centroid, Seq("label", "pos"))
      .groupBy(col("label"), col(idCol))
      .agg(sum(col("v") * col("c")).as("vc"),
        sum(col("v") * col("v")).as("vv"),
        sum(col("c") * col("c")).as("cc"))
      .select(col("label"), col(idCol),
        round(col("vc") / (sqrt(col("vv")) * sqrt(col("cc"))), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("cos").desc, col(idCol))
    perVec.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topP)
      .select(col("label"), col("rk"), col(idCol), col("cos"))
  }

  /** Int8 scalar quantization (the SQ8 companion to the IVF path — the
    * standard 4× memory cut for billion-vector ANN): per-dimension
    * min/max over the corpus, codes = floor(255·(x−min)/(max−min)+0.5),
    * and the per-dimension worst-case reconstruction error, which the
    * quantization theorem bounds by half a quantization step
    * ((max−min)/510). Emitted per dimension: (pos, dmin, dmax,
    * max_abs_err, bound, ok) — a derived-bound gate in the sk1/sk2
    * style, every value an exact double (min/max/abs are
    * order-independent; no float accumulation anywhere, so no rounding
    * band is needed).
    *
    * Shape: ONE posexplode → (pos) aggregate for the 64-row stats
    * table, broadcast back, then a second scan-stage pass computes
    * codes and errors and re-aggregates per pos — two narrow shuffles
    * of |dims| keys each, never a vector collect. `floor(x+0.5)` is
    * used instead of round() so both engines share exact halfway
    * semantics.
    */
  def sq8Quantization(vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val x = vectors.select(col(idCol),
      posexplode(col(vecCol)).as(Seq("pos0", "xf")))
      .select((col("pos0") + 1).cast("long").as("pos"),
        col("xf").cast("double").as("x"))
    val stats = x.groupBy(col("pos"))
      .agg(min(col("x")).as("dmin"), max(col("x")).as("dmax"))
    val coded = x.join(broadcast(stats), "pos")
      .withColumn("code",
        when(col("dmax") === col("dmin"), lit(0L)).otherwise(
          floor((col("x") - col("dmin")) * 255.0 /
            (col("dmax") - col("dmin")) + 0.5).cast("long")))
      .withColumn("recon",
        col("dmin") + col("code").cast("double") *
          (col("dmax") - col("dmin")) / 255.0)
    coded.groupBy(col("pos"))
      .agg(min(col("dmin")).as("dmin"), max(col("dmax")).as("dmax"),
        max(abs(col("x") - col("recon"))).as("max_abs_err"),
        min(col("code")).as("min_code"), max(col("code")).as("max_code"))
      .withColumn("bound", (col("dmax") - col("dmin")) / 510.0)
      .withColumn("ok",
        col("max_abs_err") <= col("bound") * 1.0000001 &&
          col("min_code") >= 0L && col("max_code") <= 255L)
      .select(col("pos"), col("dmin"), col("dmax"), col("max_abs_err"),
        col("bound"), col("ok"))
      .orderBy(col("pos"))
  }

  /** Squared L2 between two vector columns, summed in element order
    * (both engines fold the array left-to-right, so doubles agree
    * bit-for-bit before any rounding guard).
    */
  def distSq(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** V4: greedy k-center CORESET selection (farthest-point traversal —
    * Gonzalez 1985's 2-approximation of the k-center cover, the
    * geometric core of coreset-based training-data selection): start
    * from the lowest-id vector, then `k−1` times select the point whose
    * distance to the nearest already-selected center is LARGEST. The
    * selected set maximizes coverage diversity — the complement of
    * prototype pruning ([[prototypicality]] drops the redundant middle;
    * this keeps the spanning extremes) — and the final center's
    * selection distance is the corpus cover radius.
    *
    * Determinism contract (the round-then-rank discipline): candidates
    * rank by (round(minDist², 6) DESC, id ASC), so the emitted set is
    * engine-exact and a DuckDB oracle replays it as k chained argmax
    * CTEs. Returns (rk, idCol, dist_sq) — dist_sq is the selection
    * distance, 0 for the seed.
    *
    * Scale shape: each of the k rounds is ONE scan computing
    * min-over-centers of `r` codegen'd [[distSq]] kernels (centers are
    * literal broadcast constants, the [[semanticClusters]] idiom)
    * followed by a TakeOrderedAndProject(1) — a k-bounded driver loop
    * holding k×dim doubles, the documented [[ivfTopK]]/SemDeDup
    * driver-side discipline, never a pairwise matrix. At 100 TB: k
    * scans of the corpus, each embarrassingly parallel; the classic
    * trade of farthest-point traversal and exactly how GonzalezFP runs
    * on MapReduce.
    */
  def kCenterCoreset(vectors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val seed = base.orderBy(col("id")).limit(1)
      .select(col("id"), col("v")).collect()
    require(seed.nonEmpty, "kCenterCoreset: empty corpus")
    var picked = Vector[(Long, Seq[Double], Double)](
      (seed(0).getLong(0), seed(0).getSeq[Double](1), 0.0))
    var exhausted = false
    while (picked.length < k && !exhausted) {
      val minD = picked.map { case (_, c, _) =>
        round(distSq(col("v"), typedlit(c)), 6)
      }.reduce(least(_, _))
      // The winner's vector rides along in the argmax row — a separate
      // fetch-by-id would cost a second corpus scan per round.
      val next = base
        .filter(!col("id").isInCollection(picked.map(_._1)))
        .select(col("id"), col("v"), minD.as("d"))
        .orderBy(col("d").desc, col("id").asc)
        .limit(1).collect()
      if (next.isEmpty) exhausted = true // k > corpus: emit what exists
      else picked = picked :+ ((next(0).getLong(0),
        next(0).getSeq[Double](1), next(0).getDouble(2)))
    }
    picked.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("rk", idCol, "dist_sq")
  }
}
