package graft.queries

import graft.Tables
import graft.pipeline.{Chunking, Dedup, Mixing, Multimodal, Novelty, Packing, Pca, QualityClassifier, Sampling, Search, Similarity, TextAnalysis, Tokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal) as gate queries. Only operators whose algorithm
  * genuinely cannot run in SQL stay rows-only (MinHash-LSH's seeded
  * xxhash64 signatures, the LSH/IVF top-k lists) — and each of those is
  * covered by a derived quality gate instead (`ann_*_recall`,
  * `d5_cosine_lsh_recall`) plus planted-duplicate assertions in
  * PipelineSpec. Everything else — exact dedup, n-gram Jaccard, cosine
  * pairs, brute-force ANN, SimHash (sha256-based fingerprints), text
  * stats, LSH recall — hash-matches DuckDB.
  */
object PipelineQueries {

  /** D1: exact dedup by content hash. */
  def d1DedupExact(spark: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(spark, d)).orderBy(col("keep_id"))

  /** D2: MinHash+LSH near-dup candidate pairs (approximate; rows-only). */
  def d2MinhashLsh(spark: SparkSession, d: String): DataFrame =
    Dedup.minHashLsh(Tables.documents(spark, d), threshold = 0.2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** D3: SimHash pairs within source blocks — oracle-gated: the sha256
    * word hash makes the fingerprint DuckDB-reproducible
    * ([[d3SimhashOracle]]).
    */
  def d3Simhash(spark: SparkSession, d: String): DataFrame =
    Dedup.simHash(Tables.documents(spark, d), blockCol = "source",
        maxHamming = 16)
      .orderBy(col("doc_a"), col("doc_b"))

  /** D4: exact word-set Jaccard pairs within source blocks. Outputs the
    * integer intersection/union sizes (engine-stable, no float hashing).
    */
  /** D26: sorted-neighborhood dedup ([[Dedup.sortedNeighborhood]]) —
    * blocking key = the first 24 chars of the lowercased text, window 8,
    * word-set Jaccard ≥ 0.8 verify. The oracle replays the identical
    * definition with DuckDB's single-node `row_number()` — pinning that
    * the distributed two-pass rank ([[graft.operators.GlobalRank]])
    * produces exactly the order a single-node engine would.
    */
  def d26SnmDedup(spark: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborhood(Tables.documents(spark, d),
        substring(lower(col("text")), 1, 24), window = 8, threshold = 0.8)
      .orderBy(col("doc_a"), col("doc_b"))

  /** D27: ED≤1 similarity self-join over customer names via deletion
    * neighborhoods ([[Dedup.editJoin]]) — candidates from ONE variant
    * equi-join instead of the n² name-pair comparison; the oracle IS
    * that n² comparison (DuckDB `levenshtein` over all ordered pairs),
    * so hash equality proves the neighborhood construction is complete,
    * not just plausible.
    */
  def d27EditJoin(spark: SparkSession, d: String): DataFrame =
    Dedup.editJoin(Tables.customer(spark, d), "c_name")
      .orderBy(col("name_a"), col("name_b"))

  /** T16: per-language char-distribution KL against the corpus
    * ([[TextAnalysis.charKl]]).
    */
  def t16CharKl(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.charKl(Tables.documents(spark, d))
      .withColumnRenamed("grp", "lang")
      .orderBy(col("lang"))

  /** V1: per-label centroid cohesion ([[Similarity.labelCentroidCohesion]]). */
  def v1Centroids(spark: SparkSession, d: String): DataFrame =
    Similarity.labelCentroidCohesion(Tables.embeddings(spark, d))
      .orderBy(col("label"))

  /** V2: blocked k-NN join ([[Similarity.knnJoinByLabel]], k=3). */
  def v2KnnJoin(spark: SparkSession, d: String): DataFrame =
    Similarity.knnJoinByLabel(Tables.embeddings(spark, d), k = 3)
      .orderBy(col("qid"), col("rk"))

  /** T27: MMR diversified re-rank — the top-20 cosine candidates for
    * query vec 0, greedily re-ranked to 5 selections at λ = 0.7
    * ([[Similarity.mmrRerank]]: distributed candidate top-k scan, then
    * the bounded-candidate greedy; rel and pairwise cosines
    * round-then-rank at 4, ties by vec_id). The oracle unrolls the SAME
    * 5 greedy steps as chained MATERIALIZED CTEs (the g7 unroll
    * discipline), with the penalty weight written `(1 - 0.7)` so both
    * engines compute the identical double.
    */
  def t27MmrRerank(spark: SparkSession, d: String): DataFrame =
    Similarity.mmrRerank(Tables.embeddings(spark, d), queryId = 0L,
        candidates = 20, select = 5, lambda = 0.7)
      .orderBy(col("sel_rank"))

  /** DuckDB oracle for `t27_mmr_rerank`: greedy-step CTE unroll. */
  private def mmrOracle(steps: Int, cands: Int): String = {
    def selUnion(k: Int): String =
      (1 until k).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
    val stepCtes = (2 to steps).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT c.vec_id,
         |    0.7 * c.rel - (1 - 0.7) * (SELECT max(p.s) FROM ps p
         |      WHERE p.da = c.vec_id AND p.db IN (${selUnion(k)})) AS mmr
         |  FROM cand c
         |  WHERE c.vec_id NOT IN (${selUnion(k)})
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1)""".stripMargin
    }
    val finalSel = (1 to steps).map(k =>
      s"SELECT $k::INT AS sel_rank, vec_id, round(mmr, 6) AS mmr FROM s$k")
      .mkString("\nUNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT e FROM v WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, round(list_cosine_similarity(v.e, q.e), 4) AS rel,
       |    v.e
       |  FROM v, q WHERE vec_id <> 0
       |  ORDER BY rel DESC, vec_id LIMIT $cands),
       |ps AS MATERIALIZED (
       |  SELECT a.vec_id AS da, b.vec_id AS db,
       |    round(list_cosine_similarity(a.e, b.e), 4) AS s
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (
       |  SELECT vec_id, 0.7 * rel AS mmr FROM cand
       |  ORDER BY mmr DESC, vec_id LIMIT 1),
       |${stepCtes.mkString(",\n")}
       |$finalSel
       |ORDER BY sel_rank""".stripMargin
  }

  /** V6: PCA projection — every embedding's coordinates on the top-2
    * principal components ([[graft.pipeline.Pca]]: ONE declarative
    * d(d+1)/2-cell moment aggregate over the corpus, bounded driver
    * Jacobi eigensolve, codegen zip_with/aggregate projection scan —
    * the dimensionality-reduction pass SemDeDup-style semantic curation
    * runs before clustering). Rows-only by design — the eigensolve
    * cannot run in DuckDB — with `v6_pca_var` as the oracle-green twin
    * pinning the model's invariants against exactly-replayable ground
    * truth.
    */
  def v6PcaProject(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val model = Pca.fit(emb)
    Pca.project(emb, model, k = 2)
      .select(col("vec_id"), col("label"),
        round(col("p1"), 4).as("p1"), round(col("p2"), 4).as("p2"))
      .orderBy(col("vec_id"))
  }

  /** V6 twin: the fitted model's mathematically checkable invariants,
    * anchored to DuckDB-exact ground truth. λ1 must (a) reproduce the
    * distributed var_pop of the engine's own PC1 projection — two
    * independent computation paths through moments vs. projection scan —
    * and (b) dominate every coordinate variance (PC1 optimality: the
    * variance along the best direction is ≥ the variance along any
    * axis-aligned one — the oracle recomputes the max coordinate
    * variance exactly); the top-2 components must be orthonormal. A
    * broken moment pass, eigensolve, or projection each reds a
    * different conjunct.
    */
  def v6PcaVar(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val model = Pca.fit(emb)
    val l1 = model.eigenvalues(0)
    val maxCoord = model.coordVars.max
    val projVar = Pca.project(emb, model, k = 1)
      .agg(var_pop(col("p1"))).head().getDouble(0)
    def dotv(a: Array[Double], b: Array[Double]): Double =
      a.indices.iterator.map(i => a(i) * b(i)).sum
    val c0 = model.components(0)
    val c1 = model.components(1)
    val ortho = math.abs(dotv(c0, c1)) < 1e-9 &&
      math.abs(dotv(c0, c0) - 1) < 1e-9 &&
      math.abs(dotv(c1, c1) - 1) < 1e-9
    val ok = ortho && l1 + 1e-9 >= maxCoord &&
      math.abs(projVar - l1) <= 1e-8 * math.max(1.0, model.totalVar)
    spark.range(1).select(lit("pca").as("method"),
      round(lit(maxCoord), 6).as("max_coord_var"),
      lit(ok).as("meets_floor"))
  }

  /** V6 invariants twin (r13 verdict #5): pins the PROJECTION itself —
    * not just the model — against DuckDB-exact ground truth, upgrading
    * the v6 family beyond the rows-only `v6_pca_project`. Per component
    * c, the population variance of the engine's own projected column
    * must equal the eigenvalue (var_pop(p_c) − λ_c = 0 to 6 decimals —
    * two independent computation paths: the distributed projection scan
    * vs the moment-pass eigensolve) and the cross-component covariance
    * must vanish (covar_pop(p1,p2) = 0 to 6 decimals — PC directions
    * are orthogonal under the data's own inner product). Both rounded
    * values are constants DuckDB replays literally; `total_var` anchors
    * the gate to decade-varying exact ground truth (the covariance
    * trace = Σ per-coordinate var_pop, which the oracle recomputes from
    * the source table). A broken moment pass, eigensolve, or projection
    * each moves a different column off its pinned value.
    */
  def v6PcaInvariants(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val model = Pca.fit(emb)
    val r = Pca.project(emb, model, k = 2)
      .agg(var_pop(col("p1")).as("v1"), var_pop(col("p2")).as("v2"),
        covar_pop(col("p1"), col("p2")).as("c12")).head()
    val projVar = Array(r.getDouble(0), r.getDouble(1))
    val c12 = r.getDouble(2)
    import spark.implicits._
    Seq(1, 2).map { c =>
      (c, projVar(c - 1) - model.eigenvalues(c - 1), c12, model.totalVar)
    }.toDF("component", "var_minus_eig", "cross_cov", "total_var")
      .select(col("component"),
        // + 0.0 normalizes IEEE −0.0 (a hair-negative diff rounded to
        // zero) to +0.0 so the hash matches the oracle's literal 0.0
        (round(col("var_minus_eig"), 6) + lit(0.0)).as("var_minus_eig"),
        (round(col("cross_cov"), 6) + lit(0.0)).as("cross_cov"),
        round(col("total_var"), 6).as("total_var"))
      .orderBy(col("component"))
  }

  // The v7 gate's persisted moment artifact: built ONCE per (session,
  // decade) — the gate exercises the stats-at-rest path, and the
  // moments are a pure function of the corpus so every rebuild is
  // identical (the semIndexFor discipline).
  private val pcaStatsPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def pcaStatsFor(spark: SparkSession, d: String,
      corpus: DataFrame): String =
    pcaStatsPaths.computeIfAbsent(d, _ => {
      val p = java.nio.file.Files.createTempDirectory("pcastats_gate")
        .toString
      Pca.saveStats(spark, Pca.stats(corpus), p)
      p
    })

  /** V7: incremental PCA against moments AT REST — the production
    * ingest shape for [[graft.pipeline.Pca]]: the corpus's sufficient
    * statistics (exact sums, so they merge exactly) are persisted once
    * ([[Pca.saveStats]]) and each arriving batch contributes one
    * O(batch) moment scan; the refit is a driver-side O(d³), with NO
    * corpus re-scan — the delta-merge ≡ recompute discipline (AggMerge)
    * applied to the model-fit path. The first 100 vector ids play the
    * batch (the d49 split). meets_floor conjoins merged-vs-full-fit
    * equality (count, means, every eigenvalue, trace) so a broken
    * merge, persistence round-trip, or refit reds the gate; the oracle
    * recomputes the max coordinate variance of the FULL corpus exactly
    * — the merged model must land on the same rounded value.
    */
  def v7PcaMerge(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val corpus = emb.filter(col("vec_id") >= 100L)
    val batch = emb.filter(col("vec_id") < 100L)
    val merged = Pca.loadStats(spark, pcaStatsFor(spark, d, corpus))
      .merge(Pca.stats(batch))
    val mm = Pca.fitFromStats(merged)
    val full = Pca.fit(emb)
    val tol = 1e-8 * math.max(1.0, full.totalVar)
    val ok = mm.n == full.n &&
      mm.mean.indices.forall(i =>
        math.abs(mm.mean(i) - full.mean(i)) <= 1e-9) &&
      mm.eigenvalues.indices.forall(i =>
        math.abs(mm.eigenvalues(i) - full.eigenvalues(i)) <= tol) &&
      math.abs(mm.totalVar - full.totalVar) <= tol
    spark.range(1).select(lit("pca_merge").as("method"),
      round(lit(mm.coordVars.max), 6).as("max_coord_var"),
      lit(ok).as("meets_floor"))
  }

  /** T18: Zipf fit — the slope of ln(freq) on ln(rank) over the corpus
    * unigram distribution, the standard token-distribution health check
    * (natural corpora sit near −1; synthetic/boilerplate-heavy ones
    * deviate). The frequency table is corpus-aggregated (one token
    * shuffle with map-side combine); ranking runs on the VOCABULARY
    * frame (31 rows here — domain-bounded, the a19 argument, so the
    * global window is not a data-path cliff), and the OLS closed form
    * is one tiny aggregate. ln sums are ~vocab-term double sums —
    * round(·,6) absorbs summation-order ulps.
    */
  def t18Zipf(spark: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("w"))
    Tables.documents(spark, d)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .selectExpr("ln(CAST(rk AS DOUBLE)) AS x", "ln(CAST(n AS DOUBLE)) AS y")
      .agg(count(lit(1)).cast("double").as("v"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .selectExpr("CAST(v AS BIGINT) AS vocab",
        "round((v * sxy - sx * sy) / (v * sxx - sx * sx), 6) AS zipf_slope",
        """round((sy - (v * sxy - sx * sy) / (v * sxx - sx * sx) * sx) / v,
          | 6) AS intercept""".stripMargin.replace("\n", " "))
  }

  /** T19: nearest-name lookup via the native Jaro-Winkler expression
    * ([[graft.functions.JaroWinklerExpr]] — the record-linkage kernel
    * Spark lacks; codegen'd, pinned char-exact against DuckDB's
    * `jaro_winkler_similarity` incl. its floor-halved transposition
    * convention). Blocked on p_brand (the d26/d27 blocking discipline —
    * never all-pairs), round-then-rank with name+key tiebreaks so the
    * emitted best match is engine-exact.
    */
  def t19JaroTopk(spark: SparkSession, d: String): DataFrame = {
    graft.functions.JaroWinklerExpr.register(spark)
    val p = Tables.part(spark, d)
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    val b = p.select(col("p_brand"), col("p_partkey").as("q_key"),
      col("p_name").as("q_name"))
    // Jaro-Winkler is symmetric, so the kernel runs once per UNORDERED
    // in-block pair (key < q_key — half the =!= join's evaluations) and
    // each scored pair is emitted in both directions with a 2-element
    // explode. Best-match selection is the argmax-as-aggregate trick
    // (a13/d30): min(struct(1−sim, name, key)) replaces the
    // row_number window — no second sort of the pair blow-up, and the
    // partial aggregate collapses each scan task's pairs to its ≤|part|
    // local bests before the exchange. 1−sim is only the SORT key
    // (strictly monotone on [0,1] doubles, and distinct round-4 sims
    // differ by ≥1e-4 ≫ one ulp); the emitted sim is the original
    // rounded value carried through the struct, so results are
    // bit-identical to the windowed form (sim desc, q_name, q_key asc).
    val pairs = p.join(b, "p_brand").filter(col("p_partkey") < col("q_key"))
      .select(col("p_partkey"), col("p_name"), col("q_key"), col("q_name"),
        round(call_function("jaro_winkler", col("p_name"), col("q_name")), 4)
          .as("sim"))
    pairs.select(explode(array(
        struct(col("p_partkey").as("k"), col("q_name").as("mn"),
          col("q_key").as("mk"), col("sim")),
        struct(col("q_key").as("k"), col("p_name").as("mn"),
          col("p_partkey").as("mk"), col("sim")))).as("r"))
      .groupBy(col("r.k").as("p_partkey"))
      .agg(min(struct((lit(1.0) - col("r.sim")).as("inv"),
        col("r.mn").as("mn"), col("r.mk").as("mk"),
        col("r.sim").as("sim"))).as("best"))
      .select(col("p_partkey"), col("best.mk").as("match_key"),
        col("best.sim").as("sim"))
      .orderBy(col("p_partkey"))
  }

  /** V3: int8 scalar quantization with a reconstruction-error bound
    * ([[Similarity.sq8Quantization]] — the SQ8 memory-cut companion to
    * the IVF ANN path; per-dimension max |x − x̂| must sit under half a
    * quantization step, derived-bound gating in the sk1 style).
    */
  def v3Sq8Quant(spark: SparkSession, d: String): DataFrame =
    Similarity.sq8Quantization(Tables.embeddings(spark, d))

  /** D30: canonical selection by source priority — exact-dup groups
    * resolved to the copy from the PREFERRED source (lexicographic
    * source, then doc_id), not d1's bare min-id: the real curation rule
    * when the same text arrives from sources of different trust. One
    * hash groupBy with `min(struct(priority, id))` — the argmax-as-
    * aggregate trick (a13), so no window exchange and the map side
    * combines; one join back assigns every doc its survivor.
    */
  def d30CanonicalPick(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
    val pick = docs.groupBy(col("h"))
      .agg(min(struct(col("source"), col("doc_id"))).as("m"))
    docs.join(pick, "h")
      .select(col("doc_id"), col("m.doc_id").as("keep_id"))
      .orderBy(col("doc_id"))
  }

  def d4NgramJaccard(spark: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccard(Tables.documents(spark, d), blockCol = "source",
        threshold = 0.9)
      .orderBy(col("doc_a"), col("doc_b"))

  /** D6: near-duplicate clustering — d4's pair list resolved into
    * connected components ([[Dedup.componentsAuto]]: driver union-find
    * under an explicit pair cap, distributed min-label delta iteration
    * past it), then every document mapped to its canonical survivor (component
    * minimum; docs with no near-dup survive as themselves). The shape a
    * training pipeline actually consumes: a total keep_id assignment,
    * not a pair list. Oracle: DuckDB recursive min-label closure over
    * the same pairs.
    */
  def d6DedupComponents(spark: SparkSession, d: String): DataFrame =
    d6WithResolver(spark, d, Dedup.componentsAuto(_))

  /** D6 dist twin: same query, but the pair list is FORCED through the
    * distributed min-label delta iteration ([[Dedup.components]]) against
    * the same oracle. At gate scale [[Dedup.componentsAuto]] always picks
    * the driver union-find tier, so without this twin the delta iteration
    * — the 100 TB plan — would lose its oracle pinning entirely.
    */
  def d6DedupComponentsDist(spark: SparkSession, d: String): DataFrame =
    d6WithResolver(spark, d, Dedup.components(_))

  private def d6WithResolver(spark: SparkSession, d: String,
      resolve: DataFrame => DataFrame): DataFrame = {
    val docs = Tables.documents(spark, d)
    val comp = resolve(
      Dedup.ngramJaccard(docs, blockCol = "source", threshold = 0.9))
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lab"), col("doc_id")).as("keep_id"))
      .orderBy(col("doc_id"))
  }

  /** D46: dedup savings profile — the report a curation run ships with
    * its dedup stage: the d6 component assignment rolled into a
    * cluster-SIZE histogram with document and token savings per size
    * (how much of the corpus is duplicated, in how-big clusters, and
    * how many tokens canonicalization removes). One extra groupBy pair
    * over the already-gated d6 labels; rows are bounded by the largest
    * cluster size, so the output is audit-sized at any corpus scale.
    */
  def d46DedupSavings(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val comp = Dedup.componentsAuto(
      Dedup.ngramJaccard(docs, blockCol = "source", threshold = 0.9))
    val assign = docs.select(col("doc_id"),
        size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("lab"), col("doc_id")).as("keep_id"))
    val clusters = assign.groupBy(col("keep_id"))
      .agg(count(lit(1)).as("sz"),
        sum(col("n_tokens")).as("tok"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_tokens"))
          .otherwise(lit(0L))).as("tok_rm"))
    clusters.groupBy(col("sz").cast("int").as("cluster_size"))
      .agg(count(lit(1)).cast("int").as("n_clusters"),
        sum(col("sz")).cast("int").as("n_docs"),
        (sum(col("sz")) - count(lit(1))).cast("int").as("n_docs_removed"),
        sum(col("tok")).cast("long").as("n_tokens"),
        sum(col("tok_rm")).cast("long").as("n_tokens_removed"))
      .orderBy(col("cluster_size"))
  }

  /** D44: leakage-free train/holdout split — the eval-hygiene step a
    * plain row-hash split (d19) gets wrong: if two near-duplicate
    * documents land on opposite sides, the holdout leaks into training
    * and the eval is contaminated by construction. Here the unit of
    * assignment is the NEAR-DUP COMPONENT (the d6 labels: word-set
    * Jaccard ≥ 0.9 pairs → connected components), and the side is a
    * pure hash of the component label (the d7 portable sha256-prefix
    * idiom, ~80/20) — so every member of a component is on the same
    * side by construction, membership never depends on corpus order,
    * and singleton docs degenerate to a per-doc hash split. The spec
    * pins the no-pair-crosses-sides invariant directly; the oracle
    * replays labels (recursive min-label closure) + the hash split.
    */
  def d44LeakageFreeSplit(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val comp = Dedup.componentsAuto(
      Dedup.ngramJaccard(docs, blockCol = "source", threshold = 0.9))
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lab"), col("doc_id")).as("group_id"))
      .withColumn("split",
        when(Sampling.hashBucket(col("group_id").cast("string")) % 10000
            < 8000, "train")
          .otherwise("holdout"))
      .orderBy(col("doc_id"))
  }

  /** S11: JSONL corpus round-trip — the interchange format LLM data
    * pipelines actually exchange (one JSON object per line): the
    * documents table is written as JSONL, read back with an EXPLICIT
    * schema (inference is a second scan and a nondeterminism source —
    * never in a production read path), and the result is checksummed
    * per source (row count, n_chars sum, sha256-prefix content sum)
    * against the parquet ground truth the oracle reads. Escaping,
    * unicode, and long/str round-trip fidelity all fold into the
    * content checksum. The write lands in the JVM temp dir, one
    * subdirectory per corpus (re-runs overwrite, the Verify/bench cold
    * pass stays idempotent).
    */
  def s11JsonlRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_s11_" + java.lang.Integer.toHexString(d.hashCode)).toString
    docs.write.mode("overwrite").json(path)
    spark.read.schema(docs.schema).json(path)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(Sampling.hashBucket(col("text"))).cast("bigint").as("content_sum"))
      .orderBy(col("source"))
  }

  /** S12: ORC sink + source round-trip — the second columnar
    * interchange format Spark ships natively beside parquet (a corpus
    * handed off to a Hive/Trino-side consumer travels as ORC). Same
    * contract as s11: write the documents table as ORC, read it back
    * under the explicit schema (no inference scan), and checksum per
    * source; the oracle reads the PARQUET ground truth, so any
    * write→read corruption reds the gate.
    */
  def s12OrcRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_s12_" + java.lang.Integer.toHexString(d.hashCode)).toString
    docs.write.mode("overwrite").orc(path)
    spark.read.schema(docs.schema).orc(path)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(Sampling.hashBucket(col("text"))).cast("bigint").as("content_sum"))
      .orderBy(col("source"))
  }

  /** D7: deterministic content-hash sample (~10%) — membership is a pure
    * per-row function of the text, so the subset is reproducible across
    * runs, row orders, and partitionings. No shuffle: scan + filter.
    */
  def d7HashSample(spark: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.hashSample(Tables.documents(spark, d), 0.1)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** D8: stratified quota sample — at most 10 docs per source block in
    * content-hash order; every block stays represented regardless of
    * block-size skew.
    */
  def d8StratifiedSample(spark: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.stratifiedQuota(Tables.documents(spark, d),
        blockCol = "source", quota = 10)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** D18: deterministic seeded corpus shuffle into 8 training shards —
    * (shard, pos) is a pure function of (seed, doc_id), reproducible
    * across engines ([[graft.pipeline.Sampling.seededShuffle]]).
    */
  def d18SeededShuffle(spark: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.seededShuffle(Tables.documents(spark, d),
        seed = "graft42", shards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))

  /** D19: hash-based train/val/test split — stable under re-ingestion
    * and corpus growth ([[graft.pipeline.Sampling.hashSplit]]).
    */
  def d19Split(spark: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.hashSplit(Tables.documents(spark, d),
        seed = "graft42")
      .orderBy(col("doc_id"))

  /** D20: winsorization — clip each event's value to its type's
    * [p1, p99] band: the outlier-capping cleaning stage that runs
    * before any scale-sensitive statistic. Exact `percentile`
    * (cross-engine-proven by a4) on the ≤5-row type table, broadcast
    * back over the scan; each output is either the untouched raw
    * double or a proven-identical percentile — bitwise stable.
    */
  def d20Winsorize(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d)
    val bands = e.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.01)).as("lo"),
        percentile(col("value"), lit(0.99)).as("hi"))
    e.join(broadcast(bands), "event_type")
      .select(col("event_id"),
        least(greatest(col("value"), col("lo")), col("hi")).as("clipped"))
      .orderBy(col("event_id"))
  }

  /** D21: per-group z-score normalization — (value − mean)/sd within
    * the event type, the standard feature-scaling pass. Mean/sd derive
    * from exact DECIMAL sums (the a15/a17 discipline — double sums
    * would drift cross-engine) with ONE identical final expression
    * tree; the per-row z is then double arithmetic on identical
    * inputs. Sample sd (n−1), matching a4.
    */
  def d21Zscore(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d)
    val stats = e.select(col("event_type"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s1"),
        sum(col("y") * col("y")).as("s2"))
      .selectExpr("event_type",
        "CAST(s1 AS DOUBLE) / n AS mean",
        "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd")
    e.join(broadcast(stats), "event_type")
      .select(col("event_id"),
        ((col("value") - col("mean")) / col("sd")).as("z"))
      .orderBy(col("event_id"))
  }

  /** D9: eval-set contamination — word-3-gram overlap of every corpus
    * doc (sources ≠ 'src0') against the 'src0' block standing in as the
    * benchmark set. Corpus side: one narrow pass probing the broadcast
    * eval shingle vocabulary ([[graft.pipeline.Contamination]]).
    */
  def d9Contamination(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    graft.pipeline.Contamination.overlap(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
      .orderBy(col("doc_id"))
  }

  /** D5: embedding-cosine near-dup pairs within label blocks, through the
    * cost-based selector ([[Similarity.cosinePairsAuto]]): exact all-pairs
    * at the gate's bounded fan-out, banded LSH above the budget. The LSH
    * branch itself is exercised and recall-gated by
    * `d5_cosine_lsh_recall`.
    */
  def d5EmbedCosine(spark: SparkSession, d: String): DataFrame =
    Similarity.cosinePairsAuto(Tables.embeddings(spark, d),
        blockCol = "label", threshold = 0.4)
      .orderBy(col("vec_a"), col("vec_b"))

  /** ANN baseline: exact brute-force cosine top-10 for query vector 0. */
  def annTopk(spark: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, d), queryId = 0L, k = 10)

  /** ANN scale path: multi-probe LSH top-10. The synthetic corpus is
    * near-uniform (true top-10 sims ≈ 0.3), so the probe radius must be
    * wide over a small grid to hold recall@10 ≥ 0.8 — 2^4 buckets, probe
    * Hamming ≤ 2 (11/16 of buckets). A clustered real-embedding corpus
    * inverts that: 16-24 planes, radius 1, and the same plan prunes hard.
    * Recall is gated by `ann_lsh_recall`.
    */
  def annLshTopk(spark: SparkSession, d: String): DataFrame =
    Similarity.lshBucketTopK(Tables.embeddings(spark, d), queryId = 0L, k = 10,
      numPlanes = 4, probeHamming = 2)

  /** ANN scale path 2: IVF — learned k-means clusters instead of random
    * hyperplanes, probing the 5 nearest of 8 cells (recall gated by
    * `ann_ivf_recall`; the near-uniform synthetic corpus needs most of the
    * cells to hold the per-decade floors — measured 1.0/0.8/0.8/1.0 at
    * sf0.001/0.01/0.1/sf1, floors one band under via [[ivfRecallFloor]].
    * A clustered real corpus probes 1-2 of many
    * more cells — see [[annLshTopk]]).
    */
  def annIvfTopk(spark: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(spark, d), queryId = 0L, k = 10,
      nClusters = 8, nProbe = 5)

  /** Per-decade recall floor for the approximate-ANN / semantic-dedup
    * quality twins (r12 verdict #4: a single cross-decade floor sits up
    * to 0.4 under some decades' measured recall, so a large silent
    * regression could pass). The decade is read from the companion
    * fact table's row count — the embeddings slice itself cannot name
    * it (the sf0.001 and sf0.01 slices are both 500 vectors of
    * different content) while orders grows 10× per decade
    * (1.5k/15k/150k/1.5M) — computed the SAME way in the Spark gate and
    * its DuckDB oracle, so the emitted `recall_floor` column stays
    * hash-identical across engines. count() on a parquet scan is
    * metadata-only (no row read).
    */
  private def decadeFloor(spark: SparkSession, d: String, tiny: Double,
      small: Double, mid: Double, large: Double): Double = {
    val n = Tables.orders(spark, d).count()
    if (n <= 2000L) tiny
    else if (n <= 20000L) small
    else if (n <= 200000L) mid
    else large
  }

  private def decadeFloorSql(tiny: Double, small: Double, mid: Double,
      large: Double): String =
    s"CAST(CASE WHEN (SELECT count(*) FROM orders) <= 2000 THEN $tiny" +
      s" WHEN (SELECT count(*) FROM orders) <= 20000 THEN $small" +
      s" WHEN (SELECT count(*) FROM orders) <= 200000 THEN $mid" +
      s" ELSE $large END AS DOUBLE)"

  /** ANN quality gates. `ann_lsh_recall` is fully oracle-derived: the
    * hyperplane LSH is deterministic given its seed, so the oracle SQL
    * re-runs the WHOLE algorithm in DuckDB — same embedded plane constants,
    * same mean-centering, same multi-probe mask set, same top-k ordering —
    * and derives recall@10 independently ([[annLshRecallOracle]]). The IVF
    * path cannot be reproduced in SQL (MLlib k-means), so `ann_ivf_recall`
    * gates the per-decade quality floor ([[ivfRecallFloor]]) as a boolean
    * instead of pinning the
    * measured constant — a Spark/MLlib upgrade that shifts recall within
    * the floor no longer flips the gate.
    */
  def annLshRecall(spark: SparkSession, d: String): DataFrame =
    Similarity.recallAtK(annTopk(spark, d), annLshTopk(spark, d), "lsh")

  /** Measured IVF recall@10 per decade: 1.0 (sf0.001), 0.8 (sf0.01),
    * 0.8 (sf0.1), 1.0 (generated sf1, r13 probe) — floors one band
    * (~0.1) under the measured value of EACH decade (r12 verdict #4:
    * per-decade floors, not one cross-decade minimum). */
  def ivfRecallFloor(spark: SparkSession, d: String): Double =
    decadeFloor(spark, d, 0.9, 0.7, 0.7, 0.9)

  def annIvfRecall(spark: SparkSession, d: String): DataFrame = {
    val fl = ivfRecallFloor(spark, d)
    Similarity.recallAtK(annTopk(spark, d), annIvfTopk(spark, d), "ivf")
      .select(col("method"), col("k"),
        lit(fl).as("recall_floor"),
        (col("recall") >= fl).as("meets_floor"))
  }

  /** PQ-ADC top-k ([[Similarity.pqTopK]], m=8 subspaces × 16 codes over
    * the 64-dim corpus). Approximate by construction → rows-only gate;
    * the quality pin is [[annPqRecall]] against the exact Euclidean
    * top-k (PQ approximates L2, so the baseline is
    * [[Similarity.bruteForceTopKL2]], not the cosine ann_topk).
    */
  def annPqTopk(spark: SparkSession, d: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(spark, d), queryId = 0L, k = 10)

  /** Measured PQ recall@10 (PLANS.md, r12): 0.8 at sf0.01, 0.7 at
    * sf0.1, 1.0 at the generated sf1 — per-decade floors one band
    * (~0.1) under EACH decade's measured value (r12 verdict #4; the
    * single cross-decade floor 0.6 let a 1.0→0.65 sf1 regression pass
    * silently). The sf0.001 slice measures 0.4: a 500-row corpus whose
    * inter-point distance gaps sit below the quantization distortion at
    * the default corpus/10 shortlist — floored at 0.3 there (no
    * correctness gate runs at that decade; the driver's checker runs
    * at sf0.01).
    */
  def pqRecallFloor(spark: SparkSession, d: String): Double =
    decadeFloor(spark, d, 0.3, 0.7, 0.6, 0.9)

  def annPqRecall(spark: SparkSession, d: String): DataFrame = {
    val fl = pqRecallFloor(spark, d)
    Similarity.recallAtK(
      Similarity.bruteForceTopKL2(Tables.embeddings(spark, d), 0L, 10),
      annPqTopk(spark, d), "pq")
      .select(col("method"), col("k"),
        lit(fl).as("recall_floor"),
        (col("recall") >= fl).as("meets_floor"))
  }

  /** IVF-PQ top-k ([[Similarity.ivfPqTopK]] — coarse-quantizer routing
    * + PQ-ADC over the probed lists + exact rerank, the faiss IVFPQ
    * production composition). Rows-only like its parents (MLlib
    * k-means + seeded PQ fits can't run in DuckDB); the quality pin is
    * [[annIvfPqRecall]].
    */
  def annIvfPqTopk(spark: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(spark, d), queryId = 0L, k = 10)

  /** Measured IVF-PQ recall@10 (PLANS.md, r12): 0.9 at sf0.01,
    * 0.6 at sf0.1, 1.0 at the generated sf1 (sf0.001 reads 0.4 like
    * plain PQ — same distortion-dominated-corpus caveat, no gate runs
    * there). Per-decade floors one band under EACH measured value (r12
    * verdict #4's exact prescription: 0.8/0.55/0.9 at sf0.01/0.1/1).
    * nProbe=4 of 16 lists: probing costs recall only when a
    * true neighbor's list isn't probed — on this near-uniform corpus
    * that's the sf0.1 0.7→0.6 step vs plain PQ, the expected IVF trade.
    */
  def ivfPqRecallFloor(spark: SparkSession, d: String): Double =
    decadeFloor(spark, d, 0.3, 0.8, 0.55, 0.9)

  def annIvfPqRecall(spark: SparkSession, d: String): DataFrame = {
    val fl = ivfPqRecallFloor(spark, d)
    Similarity.recallAtK(
      Similarity.bruteForceTopKL2(Tables.embeddings(spark, d), 0L, 10),
      annIvfPqTopk(spark, d), "ivfpq")
      .select(col("method"), col("k"),
        lit(fl).as("recall_floor"),
        (col("recall") >= fl).as("meets_floor"))
  }

  /** Pair-level recall of the LSH candidate-generation near-dup path
    * ([[Similarity.cosinePairs]]) against the exact all-pairs form, on the
    * same block/threshold as `d5_embed_cosine`. The oracle derives the
    * exact pair count in SQL and pins recall at the 1.0 contract — a
    * borderline pair missed by the banding surfaces here as a named recall
    * drop instead of only an opaque hash mismatch on d5.
    */
  def d5CosineLshRecall(spark: SparkSession, d: String): DataFrame =
    Similarity.pairRecall(
      Similarity.cosinePairsExact(Tables.embeddings(spark, d), "label", 0.4),
      Similarity.cosinePairs(Tables.embeddings(spark, d), "label", 0.4),
      "cosine_lsh")

  /** Pair-level recall of the MinHash-LSH banding ([[Dedup.minHashLsh]])
    * against the exact shingle-set Jaccard pair set
    * ([[Dedup.shingleJaccardPairs]]) at the same shingle length and
    * threshold as `d2_minhash_lsh` — the derived quality twin that covers
    * the one rows-only gate: the LSH signature path (seeded xxhash64) can't
    * run in DuckDB, but its ground truth can, so the oracle derives the
    * exact pair count from the raw text and pins recall at the 1.0
    * contract. A banding change that starts missing pairs surfaces here as
    * a named recall drop instead of an opaque d2 row-count drift.
    */
  def d2MinhashRecall(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val exact = Dedup.shingleJaccardPairs(docs, threshold = 0.2)
      .select(col("doc_a"), col("doc_b"))
    val lsh = Dedup.minHashLsh(docs, threshold = 0.2)
      .select(col("doc_a"), col("doc_b"))
    val hits = exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("hits")))
      .select(lit("minhash_lsh").as("method"),
        col("n_exact").cast("int").as("n_exact"),
        when(col("n_exact") === 0, 1.0)
          .otherwise(round(col("hits").cast("double") / col("n_exact"), 4))
          .as("recall"))
  }

  private def docSplit(spark: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, d)
    (docs.filter(col("doc_id") % 5 =!= 0),   // corpus (the standing index)
      docs.filter(col("doc_id") % 5 === 0))  // delta batch
  }

  /** D16: incremental near-dup — the arriving batch (every 5th doc)
    * probed against the standing corpus band index
    * ([[Dedup.incrementalNearDup]]): only batch × corpus bucket
    * collisions materialize, never corpus-internal pairs. Like d2, the
    * pair list itself is rows-only (the seeded signature path cannot run
    * in DuckDB); [[d16IncrementalRecall]] is the oracle-green quality
    * twin.
    */
  def d16IncrementalNeardup(spark: SparkSession, d: String): DataFrame = {
    val (corpus, batch) = docSplit(spark, d)
    Dedup.incrementalNearDup(corpus, batch, threshold = 0.2)
      .orderBy(col("batch_doc"), col("corpus_doc"))
  }

  /** D16 quality twin: recall of the incremental probe against the exact
    * cross-side shingle-Jaccard pair set, which DuckDB derives from raw
    * text — the d2_minhash_recall pattern for the batch-vs-corpus shape.
    */
  def d16IncrementalRecall(spark: SparkSession, d: String): DataFrame = {
    val (corpus, batch) = docSplit(spark, d)
    val exact = Dedup.crossJaccardPairs(corpus, batch, threshold = 0.2)
    val got = Dedup.incrementalNearDup(corpus, batch, threshold = 0.2)
      .select(col("batch_doc"), col("corpus_doc"))
    val hits = exact.join(got, Seq("batch_doc", "corpus_doc"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("hits")))
      .select(lit("incremental_lsh").as("method"),
        col("n_exact").cast("int").as("n_exact"),
        when(col("n_exact") === 0, 1.0)
          .otherwise(round(col("hits").cast("double") / col("n_exact"), 4))
          .as("recall"))
  }

  /** D33: SemDeDup semantic near-dup pairs
    * ([[Similarity.semanticDedupPairs]]: k-means cluster blocks → cost-
    * based within-cluster pair search, never corpus-all-pairs). Like d2
    * and the IVF/PQ top-k gates, the pair list is rows-only by design —
    * the MLlib k-means assignment cannot run in DuckDB — and
    * [[d33SemanticRecall]] is the oracle-green quality twin.
    */
  def d33SemanticDedup(spark: SparkSession, d: String): DataFrame =
    Similarity.semanticDedupPairs(Tables.embeddings(spark, d))
      .orderBy(col("vec_a"), col("vec_b"))

  /** Cluster-blocking recall floor for `d33_semantic_recall`: the pairs
    * SemDeDup can lose are exactly those whose vectors share none of
    * their probed clusters. Measured recall at the gate parameters
    * (k = 8 clusters, 3 probes) on the synthetic corpus: 1.0 (sf0.001),
    * 1.0 (sf0.01), 0.974 (sf0.1) — single-assignment (probes = 1)
    * measured only 0.37–0.63 on these near-uniform embeddings, which is
    * what motivated the multi-probe widening. Per-decade floors one
    * band (~0.1) under EACH decade's measured value (r12 verdict #4:
    * the cross-decade 0.85 sat a full 0.15 under the sf0.001/sf0.01
    * measured 1.0): 0.9/0.9/0.87, and 0.87 for sf1+ (the exhaustive
    * oracle is O(n²) so replays skip that decade; the floor still
    * guards a local run). A degenerate clustering or a broken probe
    * explode reds the gate while normal MLlib seed/version drift does
    * not.
    */
  def semanticRecallFloor(spark: SparkSession, d: String): Double =
    decadeFloor(spark, d, 0.9, 0.9, 0.87, 0.87)

  def d33SemanticRecall(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val fl = semanticRecallFloor(spark, d)
    val exact = Similarity.cosinePairsExact(
      emb.select(lit(0).as("blk"), col("vec_id"), col("embedding")),
      "blk", 0.4)
    Similarity.pairRecall(exact,
        Similarity.semanticDedupPairs(emb), "semdedup")
      .select(col("method"), col("n_exact"),
        lit(fl).as("recall_floor"),
        (col("recall") >= fl).as("meets_floor"))
  }

  // The d49 gate's SemDeDup index artifact: built ONCE per (session,
  // decade) into a temp directory and reused — the gate is exercising
  // the index-at-rest path, so rebuilding per call would defeat the
  // thing being tested (and the seeded fit makes every rebuild
  // identical anyway, so memoization cannot change results).
  private val semIndexPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def semIndexFor(spark: SparkSession, d: String,
      corpus: DataFrame): String =
    semIndexPaths.computeIfAbsent(d, _ => {
      val p = java.nio.file.Files.createTempDirectory("semidx_gate").toString
      Similarity.semSaveIndex(corpus, p)
      p
    })

  /** The d49 split: the standing corpus (indexed at rest) vs the
    * arriving batch — the first 100 vector ids play the batch. */
  private def d49Sides(spark: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, d)
    (emb.filter(col("vec_id") >= 100L), emb.filter(col("vec_id") < 100L))
  }

  /** D49: incremental semantic dedup against the SemDeDup index AT REST
    * ([[Similarity.incrementalSemanticDedup]]) — the production ingest
    * shape: the corpus's k-means fit + assignments are persisted once
    * ([[Similarity.semSaveIndex]]) and each arriving batch assigns
    * against the stored centroids (k distance kernels per row, no
    * refit, no corpus re-clustering) and pairs only within shared
    * probed clusters. Rows-only by design (MLlib k-means cannot run in
    * DuckDB); the quality twin is [[d49IncrementalRecall]].
    */
  def d49IncrementalSemantic(spark: SparkSession, d: String): DataFrame = {
    val (corpus, batch) = d49Sides(spark, d)
    Similarity.incrementalSemanticDedup(spark,
        semIndexFor(spark, d, corpus), batch)
      .orderBy(col("batch_doc"), col("corpus_doc"))
  }

  /** Measured d49 recall per decade (PLANS.md, r13; k=8 p=3 over
    * the stored index): 1.0 (sf0.001), 1.0 (sf0.01), 0.9881 (sf0.1) —
    * the cluster-blocked batch×corpus probe loses only pairs sharing
    * none of their probed clusters, same loss mode as d33. Floors one
    * band under each measured value.
    */
  def d49RecallFloor(spark: SparkSession, d: String): Double =
    decadeFloor(spark, d, 0.9, 0.9, 0.9, 0.87)

  def d49IncrementalRecall(spark: SparkSession, d: String): DataFrame = {
    val (corpus, batch) = d49Sides(spark, d)
    val fl = d49RecallFloor(spark, d)
    val exact = Similarity.crossCosinePairsExact(batch, corpus, 0.4)
    val approx = d49IncrementalSemantic(spark, d)
      .select(col("batch_doc").as("vec_a"), col("corpus_doc").as("vec_b"))
    Similarity.pairRecall(exact, approx, "inc_semdedup")
      .select(col("method"), col("n_exact"),
        lit(fl).as("recall_floor"),
        (col("recall") >= fl).as("meets_floor"))
  }

  /** D34: prototypicality pruning ([[Similarity.prototypicality]], SSL-
    * prototypes data pruning) — the 5 most prototypical vectors per
    * label (highest cosine to their label centroid), the per-class drop
    * list. Fully oracle-green: the centroid decomposition is the v1
    * relational shape, cosines round at 6 decimals before ranking.
    */
  def d34PrototypePrune(spark: SparkSession, d: String): DataFrame =
    Similarity.prototypicality(Tables.embeddings(spark, d), topP = 5)
      .orderBy(col("label"), col("rk"))

  /** D35: DSIR importance weights ([[graft.pipeline.Dsir]]) — every
    * non-src0 document's hashed-bigram log-likelihood ratio against the
    * src0 block standing in as the target domain (the d9 split). The
    * score that turns "sample the web uniformly" into "sample what
    * looks like the target corpus"; selection on top of it is the
    * already-gated seeded weighted sampler (d23). Fully oracle-green:
    * portable sha256-prefix buckets, exact BIGINT counts, one identical
    * log-ratio expression tree, round-6 sums.
    */
  def d35DsirWeights(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    graft.pipeline.Dsir.logImportanceWeights(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"))
      .orderBy(col("doc_id"))
  }

  /** D36: vocabulary-growth curve ([[TextAnalysis.vocabGrowth]]) — each
    * document's corpus-new distinct trigram count and the cumulative
    * vocabulary in id order, through the distributed two-pass prefix
    * sum. The oracle pins the first-occurrence attribution AND the
    * running sum (DuckDB's single-node window) against the
    * range-exchange implementation — the d26/GlobalRank discipline for
    * cumulative order.
    */
  def d36VocabGrowth(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabGrowth(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** D37: duplicated-substring spans ([[Dedup.dupSpans]], the Lee et al.
    * 2021 substring-dedup unit at 5-token window granularity) — maximal
    * per-document runs of cross-document verbatim repetition. The
    * oracle replays window extraction, the distinct-doc frequency
    * filter, and the gaps-and-islands merge in SQL, pinning both the
    * span boundaries and the per-span window counts.
    */
  def d37DupSpans(spark: SparkSession, d: String): DataFrame =
    Dedup.dupSpans(Tables.documents(spark, d))
      .orderBy(col("doc_id"), col("span_start"))

  /** D38: C4-style duplicated-chunk scrub ([[Dedup.chunkScrub]]) — the
    * boilerplate-REMOVAL transform: corpus-duplicated 8-word chunks are
    * cut and each document's surviving text is reassembled in order.
    * The oracle rebuilds clean_text with an ordered string_agg, so the
    * reassembly order (not just the removal counts) is hash-pinned.
    */
  def d38ChunkScrub(spark: SparkSession, d: String): DataFrame =
    Dedup.chunkScrub(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** D42: span scrub ([[Dedup.scrubSpans]] over [[Dedup.dupSpans]]) —
    * the execution half of Lee et al. substring dedup: cut every token
    * inside a cross-document duplicated span, reassemble, report the
    * removal counts. Hash-pins the rebuilt text itself, not just
    * counts.
    */
  def d42SpanScrub(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    Dedup.scrubSpans(docs, Dedup.dupSpans(docs))
      .orderBy(col("doc_id"))
  }

  /** T20: the Gopher rule battery ([[TextAnalysis.gopherRules]]) — the
    * named per-rule boolean gates of Rae et al. 2021 (word-count band,
    * mean word length, symbol ratio, alphabetic fraction, stop-word
    * kinds) plus the conjunction. Pure scan-stage expressions.
    */
  def t20GopherRules(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.gopherRules(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** T24: the Gopher REPETITION rule battery
    * ([[TextAnalysis.gopherRepetitionRules]]) — the §A1.1 half t20's
    * outlier rules don't cover: top-{2,3,4}-gram mass fractions and the
    * fraction of tokens covered by WITHIN-document repeated 5-gram
    * windows (islands merged, so overlaps count once), each against
    * Gopher's published bound, plus the conjunction.
    */
  def t24GopherRepetition(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.gopherRepetitionRules(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** D41: CCNet perplexity buckets
    * ([[TextAnalysis.perplexityBuckets]]) — corpus-LM fluency tertiles
    * (head/middle/tail) with the CCNet keep rule. The oracle replays
    * the LM, the corpus-wide rank (DuckDB's single-node row_number
    * pinning the distributed GlobalRank order — the d26 discipline),
    * and the tertile arithmetic.
    */
  def d41PerplexityBuckets(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.perplexityBuckets(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** D40: decontamination spans ([[Contamination.contaminatedSpans]])
    * — src0 stands in as the eval/benchmark block (the d9/d35 split);
    * every other document's verbatim 5-token overlaps with it merge
    * into maximal spans. The oracle replays the cross-corpus window
    * probe and the island merge in SQL.
    */
  def d40DecontaminateSpans(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    graft.pipeline.Contamination.contaminatedSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** D45: eval-sample dirtiness ([[Contamination.evalDirtiness]]) — the
    * reporting direction of decontamination: src0 plays the benchmark
    * block and every sample in it is graded by the fraction of its
    * tokens that sit inside a 5-token window leaked into the rest of
    * the corpus, then bucketed clean / partial / dirty (> 80%) — the
    * GPT-3/Llama-2 "quote the benchmark on its clean subset" form. The
    * oracle replays the cross-corpus window probe, the island merge,
    * the token-coverage sum, and the bucket thresholds in SQL.
    */
  def d45EvalDirtiness(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    graft.pipeline.Contamination.evalDirtiness(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
      .orderBy(col("doc_id"))
  }

  /** T21: hashed-unigram Naive-Bayes quality classifier
    * ([[QualityClassifier.score]]) — the fastText-style quality-filter
    * stage: train on src0 (the trusted block, the d9/d35 split) vs the
    * rest, score every document, and report the per-source keep rates
    * and mean scores — the classifier-evaluation surface (src0's row is
    * recall of the target class; the others are its false-positive
    * profile). The oracle replays training counts, smoothing, prior,
    * scoring, and the rounded decision boundary in SQL.
    */
  def t21QualityClassifier(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val scored = QualityClassifier.score(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") =!= "src0"), docs)
    docs.select(col("doc_id"), col("source")).join(scored, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(when(col("keep"), 1).otherwise(0)).cast("int").as("n_kept"),
        round(avg(col("score")), 6).as("mean_score"))
      .withColumn("keep_rate",
        round(col("n_kept").cast("double") / col("n_docs"), 6))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("keep_rate"), col("mean_score"))
      .orderBy(col("source"))
  }

  /** V4: greedy k-center coreset ([[Similarity.kCenterCoreset]], k = 4)
    * — the farthest-point diversity selection. Deterministic by the
    * round-then-rank contract, so the DuckDB oracle replays the greedy
    * chain exactly (k chained argmax CTEs).
    */
  def v4KcenterCoreset(spark: SparkSession, d: String): DataFrame =
    Similarity.kCenterCoreset(Tables.embeddings(spark, d), k = 4)
      .orderBy(col("rk"))

  /** D48: the MODERN curation funnel — the RefinedWeb/Dolma pipeline
    * composed end-to-end from this engine's already-gated stages:
    * Gopher outlier rules (t20) → Gopher repetition rules (t24) →
    * CCNet LM tertile (d41) → NB quality classifier, thresholded at
    * the corpus MEDIAN score (pipelines cut quality classifiers at a
    * kept-fraction, not the MAP boundary — GPT-3 kept by Pareto-sampled
    * score, CCNet by tertile; the t21 gate pins the MAP decision, this
    * stage pins the rank cut) → exact-dup canonicalization (d30).
    * Implemented the Dolma way: every stage is a PER-DOCUMENT FLAG
    * computed on the full corpus (each the exact plan its own gate
    * pins), then the funnel is cumulative conjunctions folded in ONE
    * aggregate — no stage re-materializes the corpus, and the
    * attrition table (stage, n_kept) is what a data card publishes.
    * Documents the LM stage cannot score (< 2 tokens) drop at that
    * stage, the CCNet convention.
    */
  def d48ModernFunnel(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val rules = TextAnalysis.gopherRules(docs)
      .select(col("doc_id"), col("keep").as("ok_rules"))
    val rep = TextAnalysis.gopherRepetitionRules(docs)
      .select(col("doc_id"), col("keep").as("ok_rep"))
    val lm = TextAnalysis.perplexityBuckets(docs)
      .select(col("doc_id"), col("keep").as("ok_lm"))
    val scored = QualityClassifier.score(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), docs)
      .select(col("doc_id"), col("score"))
    val nDocs = scored.agg(count(lit(1)).as("n"))
    val clf = graft.operators.GlobalRank.rowNumber(
        scored, Seq(col("score").desc, col("doc_id")), "rn")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), (col("rn") * 2 <= col("n")).as("ok_clf"))
    val canon = docs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val pick = canon.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val dedup = canon.join(pick, "h")
      .select(col("doc_id"), (col("doc_id") === col("keep_id"))
        .as("ok_dedup"))
    val flags = docs.select(col("doc_id"))
      .join(rules, "doc_id")
      .join(rep, "doc_id")
      .join(lm, Seq("doc_id"), "left")
      .join(clf, "doc_id")
      .join(dedup, "doc_id")
      .withColumn("ok_lm", coalesce(col("ok_lm"), lit(false)))
    def cum(cs: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
      sum(when(cs.reduce(_ && _), 1L).otherwise(0L))
    flags.agg(count(lit(1)).as("n0"),
        cum(col("ok_rules")).as("n1"),
        cum(col("ok_rules"), col("ok_rep")).as("n2"),
        cum(col("ok_rules"), col("ok_rep"), col("ok_lm")).as("n3"),
        cum(col("ok_rules"), col("ok_rep"), col("ok_lm"),
          col("ok_clf")).as("n4"),
        cum(col("ok_rules"), col("ok_rep"), col("ok_lm"), col("ok_clf"),
          col("ok_dedup")).as("n5"))
      .selectExpr(
        """stack(6,
          |  '0_all', n0,
          |  '1_gopher_rules', n1,
          |  '2_repetition', n2,
          |  '3_lm_tertile', n3,
          |  '4_classifier', n4,
          |  '5_exact_dedup', n5)
          |AS (stage, n_kept)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** T25: classifier calibration (reliability table) — the evaluation a
    * production quality filter ships with: t21's scores converted to
    * probabilities (sigmoid), the corpus ranked into score DECILES, and
    * per decile the mean predicted probability against the observed
    * src0 rate. A calibrated filter has mean_p ≈ frac_pos per bin; a
    * confident-but-wrong one splits them. Binning is RANK-based through
    * the distributed two-pass [[graft.operators.GlobalRank]] and
    * integer arithmetic (the d41 tertile discipline — no float bin
    * edges to disagree across engines); sigmoid/averages round at 6.
    */
  def t25QualityCalibration(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documentsRaw(spark, d) // loop-shaped; see documentsRaw
    val scored = QualityClassifier.score(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") =!= "src0"), docs)
    val j = scored.select(col("doc_id"), col("score"))
      .join(docs.select(col("doc_id"),
        (col("source") === "src0").as("is_pos")), "doc_id")
    val ranked = graft.operators.GlobalRank.rowNumber(
      j, Seq(col("score"), col("doc_id")), "rn")
    val tot = j.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bin", expr("CAST(((rn - 1) * 10) DIV n AS INT)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        round(avg(lit(1.0) / (lit(1.0) + exp(-col("score")))), 6)
          .as("mean_p"),
        round(avg(when(col("is_pos"), 1.0).otherwise(0.0)), 6)
          .as("frac_pos"))
      .orderBy(col("bin"))
  }

  /** V5: hard-negative mining ([[Similarity.hardNegatives]], k = 3) —
    * every vector's top-3 most-similar DIFFERENT-label vectors, routed
    * through per-label mean prototypes so the candidate set is one
    * foreign label block, never the cross-label n². Fully oracle-green
    * in the v1/d34 relational decomposition with round-then-rank at
    * both stages.
    */
  def v5HardNegatives(spark: SparkSession, d: String): DataFrame =
    Similarity.hardNegatives(Tables.embeddings(spark, d), k = 3)
      .orderBy(col("qid"), col("rk"))

  /** T22: subword tokenization of the corpus vocabulary
    * ([[Tokenizer.tokenizeWords]]) — a WordPiece-style top-50 subword
    * vocabulary learned from occurrence-weighted character n-grams,
    * then greedy longest-match-first tokenization of every DISTINCT
    * corpus word (the production word-cache shape). The oracle replays
    * the vocabulary rank, the best-match table, and the greedy chain as
    * a recursive CTE — the emitted subword SEQUENCES hash-pin, not just
    * counts.
    */
  def t22SubwordTokenize(spark: SparkSession, d: String): DataFrame =
    Tokenizer.tokenizeWords(Tables.documentsRaw(spark, d))
      .orderBy(col("word"))

  /** T23: per-document tokenizer fertility ([[Tokenizer.fertility]]) —
    * subwords per word under the t22 tokenizer, the standard
    * tokenizer-fit metric; one broadcast map-back pass over the corpus.
    */
  def t23TokenizerFertility(spark: SparkSession, d: String): DataFrame =
    Tokenizer.fertility(Tables.documentsRaw(spark, d))
      .orderBy(col("doc_id"))

  /** T8: BM25 relevance of every document against a fixed lexical query
    * — the retrieval baseline behind targeted corpus slicing and eval-set
    * decontamination. Two scan passes, zero token shuffle
    * ([[graft.pipeline.Search.bm25]]).
    */
  def t8Bm25(spark: SparkSession, d: String): DataFrame =
    Search.bm25(Tables.documents(spark, d), Seq("hash", "join", "vector"))
      .orderBy(col("doc_id"))

  /** T26: hybrid retrieval with reciprocal-rank fusion — the RAG-stack
    * shape: a lexical BM25 leg and a dense cosine leg rank the SAME
    * corpus (the documents that carry an embedding — the doc_id = vec_id
    * join the two test tables share), and [[Search.rrfFuse]] folds the
    * two top-50 lists into the fused top-20 by Σ 1/(60 + rank). Each
    * leg is the already-gated exact ranker (t8's BM25 plan; ann_topk's
    * broadcast-query cosine), each rounds-then-ranks (bm25 at 4, cosine
    * at 4, ties by doc_id) so the rank lists are engine-exact, and the
    * fusion itself joins two ≤50-row frames — constant-sized work: the
    * 100 TB cost lives in the rankers' scans, not the combiner. Doc 0
    * plays the query (its embedding is the dense query vector) and is
    * excluded from the candidate corpus on both legs.
    */
  def t26HybridRrf(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .filter(docs("doc_id") =!= 0L)
      .select(docs("doc_id"), col("text"), col("embedding"))
    val lex = Search.rankTopN(
      Search.bm25(corpus, Seq("hash", "join", "vector")), "bm25", n = 50)
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qvec"))
    val dense = Search.rankTopN(
      corpus.crossJoin(broadcast(q))
        .select(col("doc_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 4)
            .as("sim")),
      "sim", n = 50)
    Search.rrfFuse(Seq("lex" -> lex, "vec" -> dense), topK = 20)
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** T28: keyword-in-context snippets — first occurrence of "vector"
    * per document with the ±3-token context window, edge-clamped
    * ([[Search.kwicSnippets]]: scan-stage array expressions, zero
    * shuffle). The retrieval-presentation pass a search surface runs
    * over its hit list.
    */
  def t28KwicSnippets(spark: SparkSession, d: String): DataFrame =
    Search.kwicSnippets(Tables.documents(spark, d), term = "vector",
        window = 3)
      .orderBy(col("doc_id"))

  /** T29: pseudo-relevance-feedback query expansion
    * ([[Search.expandQuery]]): the top-10 docs by seed-term frequency
    * form the pseudo-relevant set; expansion terms score by summed tf
    * within it × corpus idf. Two map-side-combined aggregates over the
    * corpus, bounded TakeOrdered pseudo-rel set, broadcast joins —
    * retrieval's classic second pass, corpus cost = the tf/df passes
    * the index build already pays.
    */
  def t29QueryExpansion(spark: SparkSession, d: String): DataFrame =
    Search.expandQuery(Tables.documents(spark, d), seedTerm = "query",
        relK = 10, topM = 10)
      .select(col("term"), col("score"), col("rank"))
      .orderBy(col("rank"))

  /** T30: exact two-token phrase search ([[Search.phraseHits]]) — the
    * first "data window" adjacency per document; zero-shuffle
    * scan-stage array HOFs, the contamination/boilerplate phrase sweep
    * shape.
    */
  def t30PhraseSearch(spark: SparkSession, d: String): DataFrame =
    Search.phraseHits(Tables.documents(spark, d), "data", "window")
      .orderBy(col("doc_id"))

  /** T32: PMI collocations ([[Search.pmiCollocations]]) — top-10
    * adjacent bigrams by pointwise mutual information with a count-5
    * support floor over the whole-bigram-mass denominator; two
    * map-side-combined aggregates + a vocabulary broadcast, the
    * multiword-expression / boilerplate-phrase audit pass.
    */
  def t32PmiCollocations(spark: SparkSession, d: String): DataFrame =
    Search.pmiCollocations(Tables.documents(spark, d), k = 10, minCount = 5)
      .select(col("gram"), col("n"), col("pmi"), col("rank"))
      .orderBy(col("rank"))

  /** T33: TextRank keywords ([[Search.textRankKeywords]]) — PageRank
    * over the adjacent-token co-occurrence graph, top 20 at support
    * floor 3, 10 iterations. The graph-ranking keyword pass (hub terms
    * over merely frequent ones); oracle unrolls the same 10 PageRank
    * rounds as materialized CTEs over the identically-built edge list —
    * the g2 contract at round-6.
    */
  def t33TextRank(spark: SparkSession, d: String): DataFrame =
    Search.textRankKeywords(Tables.documents(spark, d), k = 20,
        minCount = 3, iterations = 10)
      .orderBy(col("rank"))

  /** T31: ranking-quality eval ([[Search.rankEval]]) — nDCG@10 / MRR /
    * precision@10 of the exact cosine top-10 for query vector 0, with
    * binary relevance = label match (the retrieval-eval harness shape:
    * ranker output bounded, relevance totals one distributed count).
    * Fully oracle-replayable: the ranking is round-then-rank exact and
    * the metrics are closed-form over it.
    */
  def t31RankEval(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val qLabel = emb.filter(col("vec_id") === 0L)
      .select(col("label")).head().getInt(0)
    val totalRel = emb
      .filter(col("vec_id") =!= 0L && col("label") === qLabel).count()
    val ranked = Search.rankTopN(
        Similarity.bruteForceTopK(emb, queryId = 0L, k = 10),
        "sim", 10, idCol = "vec_id")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .withColumn("rel", when(col("label") === qLabel, 1).otherwise(0))
    Search.rankEval(ranked, k = 10, totalRelevant = totalRel)
  }

  /** V8: Matryoshka two-stage top-k ([[Similarity.matryoshkaTopK]]) —
    * prefix-16-dim cosine shortlist (50) then full-dim rerank to 10.
    * The MRL trick: stage 1, the only corpus-sized pass, reads a
    * quarter of the vector bytes. Deterministic end to end
    * (round-then-rank at both stages), so the full list replays in
    * DuckDB — no recall floor needed, the oracle pins the exact output.
    */
  def v8MatryoshkaTopk(spark: SparkSession, d: String): DataFrame =
    Similarity.matryoshkaTopK(Tables.embeddings(spark, d), queryId = 0L,
      k = 10, prefixDims = 16, shortlist = 50)

  /** V8 overlap twin: |matryoshka top-10 ∩ exact full-dim top-10| / 10
    * — the quality loss of the prefix shortlist as a pure function of
    * the corpus, exactly replayed by the oracle (both rankings are
    * deterministic), so prefix-truncation quality drift reds a hash.
    */
  def v8MatryoshkaOverlap(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val mk = Similarity.matryoshkaTopK(emb, queryId = 0L, k = 10,
      prefixDims = 16, shortlist = 50).select(col("vec_id"))
    val exact = Similarity.bruteForceTopK(emb, queryId = 0L, k = 10)
      .select(col("vec_id"))
    mk.join(exact, "vec_id")
      .agg(count(lit(1)).as("hits"))
      .select(lit(10).as("k"), lit(16).as("prefix_dims"),
        round(col("hits").cast("double") / lit(10.0), 4).as("overlap"))
  }

  /** T9: exact corpus heavy hitters — top-20 trigrams by frequency, the
    * boilerplate-vocabulary audit pass ([[graft.pipeline.Search.topNgrams]]).
    */
  def t9TopkNgrams(spark: SparkSession, d: String): DataFrame =
    Search.topNgrams(Tables.documents(spark, d), n = 3, k = 20)

  /** T17: TF-IDF keyword extraction — each document's top-3 terms
    * ([[graft.pipeline.Search.tfidfTopK]]: one (doc, term) shuffle,
    * vocabulary-sized df broadcast back, WindowGroupLimit rank;
    * round-then-rank keeps the emitted rank engine-exact).
    */
  def t17Tfidf(spark: SparkSession, d: String): DataFrame =
    Search.tfidfTopK(Tables.documents(spark, d), k = 3)
      .orderBy(col("doc_id"), col("rk"))

  /** T11: edit distance between adjacent documents' 40-char prefixes —
    * the exact-verification kernel a near-dup pipeline runs on candidate
    * pairs after LSH banding (d2) proposes them; here over a
    * deterministic pair set (doc k vs k+1) so DuckDB's `levenshtein`
    * can pin Spark's codegen'd kernel cross-engine. Both engines use
    * the classic unit-cost DP, and the corpus is pure ASCII, so the
    * integer distances are an exact hash pin. The prefix bound (40
    * chars) is what makes it a scale operator: levenshtein is O(len²)
    * per pair, so production near-dup verify always caps the compared
    * span. One narrow self-join on doc_id, no shuffle fan-out.
    */
  def t11EditDistance(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("p"))
    val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
      col("p").as("p2"))
    docs.join(nxt, "doc_id")
      .select(col("doc_id"), levenshtein(col("p"), col("p2")).as("dist"))
      .orderBy(col("doc_id"))
  }

  /** T10: Misra-Gries heavy hitters ([[graft.functions.MisraGries]], a
    * mergeable k-entry typed Aggregator — the 100 TB "top values" form:
    * the full-cardinality stream never shuffles, only ≤k-entry summaries
    * merge). Item stream: low-value events collapse to their type (5
    * genuinely heavy items, ~12% each) over a ~750-item tail — the skew
    * regime the sketch exists for. The gate asserts the sketch's formal
    * guarantee against the exact counts: every item with true count
    * > n/(k+1) present, every estimate an undercount by ≤ n/(k+1); the
    * oracle recomputes n_heavy exactly and pins the booleans TRUE —
    * the sk1/ann-recall derived-bound pattern.
    */
  def t10MgHeavyHitters(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val k = 20
    val items = Tables.events(spark, d).select(
      when(col("value") < 50, col("event_type"))
        .otherwise(concat(col("event_type"), lit("_"),
          col("user_id").cast("string")))
        .as("item"))
    val sketch = items.as[String]
      .select(new graft.functions.MisraGries(k).toColumn.name("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e._1").as("item"), col("e._2").as("est"))
    val exact = items.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val total = exact.agg(sum(col("c")).as("n"))
    exact.join(sketch, Seq("item"), "left")
      .crossJoin(broadcast(total))
      .select(col("item"), col("c"), col("est"),
        (col("c") > col("n") / (k + 1.0)).as("heavy"), col("n"))
      .agg(
        bool_and(!col("heavy") || col("est").isNotNull)
          .as("all_heavy_present"),
        bool_and(col("est").isNull ||
          (col("est") <= col("c") &&
            col("c") - col("est") <= col("n") / (k + 1.0)))
          .as("bound_ok"),
        sum(col("heavy").cast("int")).cast("int").as("n_heavy"))
  }

  /** D12: token-budget shard packing — per-shard doc/token totals from
    * the distributed two-pass prefix sum ([[graft.pipeline.Packing]]).
    */
  def d12TokenShards(spark: SparkSession, d: String): DataFrame =
    Packing.tokenShards(Tables.documents(spark, d), budget = 2048L)

  /** D13: sliding-window chunking with overlap (window 16, stride 12) —
    * the doc→embedding-unit generator ([[graft.pipeline.Chunking]]).
    */
  def d13ChunkOverlap(spark: SparkSession, d: String): DataFrame =
    Chunking.slidingChunks(Tables.documents(spark, d),
        window = 16, stride = 12)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** D31: content-defined chunking (k-gram fingerprint boundaries,
    * k = 3, divisor 8 ≈ 8-token expected chunks) — the shift-invariant
    * chunker whose boundaries re-synchronize after an edit
    * ([[graft.pipeline.Chunking.contentDefinedChunks]]). The oracle
    * recomputes the identical boundary predicate and chunk md5 in
    * DuckDB, so the gate pins the fingerprint arithmetic, the span
    * construction, AND the chunk content hash cross-engine.
    */
  def d31ContentChunks(spark: SparkSession, d: String): DataFrame =
    Chunking.contentDefinedChunks(Tables.documents(spark, d))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** D32: partial-overlap near-dup pairs via shared content-defined
    * chunks (≥ 3 common chunk hashes, boilerplate df-capped at 50) —
    * the end-to-end consumer of d31's shift-invariant boundaries
    * ([[graft.pipeline.Dedup.cdcSharedPairs]]).
    */
  def d32CdcShared(spark: SparkSession, d: String): DataFrame =
    Dedup.cdcSharedPairs(Tables.documents(spark, d))
      .orderBy(col("doc_a"), col("doc_b"))

  /** D14: temperature-smoothed language mixture (alpha 0.5, 1M-token
    * budget) — per-language natural share, smoothed weight, and quota
    * ([[graft.pipeline.Mixing]]).
    */
  def d14MixWeights(spark: SparkSession, d: String): DataFrame =
    Mixing.temperatureQuotas(Tables.documents(spark, d),
        groupCol = "lang", alpha = 0.5, budget = 1000000L)
      .orderBy(col("lang"))

  /** D15: per-source token cap (600 tokens) — the per-domain token
    * quota pass ([[graft.pipeline.Sampling.tokenCapPerGroup]]).
    */
  def d15TokenCap(spark: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.tokenCapPerGroup(Tables.documents(spark, d),
        blockCol = "source", budget = 600L)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** T1: heuristic language ID per document. */
  def t1LangId(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))

  /** T2: quality features + score. */
  def t2Quality(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(Tables.documents(spark, d))
      .select(col("doc_id"), col("n_words"), col("n_punct"), col("n_stop"),
        col("quality_score"))
      .orderBy(col("doc_id"))

  /** T3: corpus token counts per language. */
  def t3Tokens(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(spark, d))
      .groupBy(col("lang"))
      .agg(sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("subword_est")).as("total_subword_est"),
        count(lit(1)).as("docs"))
      .orderBy(col("lang"))

  /** T4: normalized-content fingerprint. */
  def t4Fingerprint(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** D25: asymmetric containment pairs — documents ≥90% word-contained
    * in another document of the same source
    * ([[graft.pipeline.Dedup.containmentPairs]]; the sub-document
    * duplication signal symmetric Jaccard misses). The oracle replays
    * the exact definition as the all-pairs list_intersect join; the
    * engine's one-sided prefix filter must produce the identical pair
    * set.
    */
  def d25Containment(spark: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(spark, d),
        blockCol = "source", threshold = 0.9)
      .orderBy(col("doc_a"), col("doc_b"))

  /** D22: Bloom-prefiltered novelty — which src7 batch documents are
    * absent from the rest of the corpus by leading-content fingerprint
    * (md5 of the first 40 normalized chars — the chunk-head dedup
    * signal; full-text fingerprints are vacuously unique here). The
    * engine runs [[graft.pipeline.Novelty.novelAgainst]]: distributed
    * `BloomFilterAggregate` over the corpus → no-false-negative
    * definite-novel pass → broadcast exact verify of the maybes; the
    * oracle runs the NOT EXISTS the result must equal.
    */
  def d22BloomNovelty(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documentsRaw(spark, d)
      .withColumn("fp",
        md5(substring(lower(trim(col("text"))), 1, 40).cast("binary")))
    Novelty.novelAgainst(
        docs.filter(col("source") === "src7"),
        docs.filter(col("source") =!= "src7"),
        "fp", expectedItems = 600L, numBits = 8192L)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** D23: deterministic weighted sample — 20 documents drawn
    * proportionally to length without replacement
    * ([[graft.pipeline.Sampling.weightedTopK]], Efraimidis–Spirakis
    * keys from an md5-seeded uniform both engines can compute). The
    * ekey column is kept in the output: the gate then pins the exact
    * selection AND the key arithmetic (ln differs across libms by ulps
    * at most — far below the hash compare's 10-significant-digit
    * normalization).
    */
  def d23WeightedSample(spark: SparkSession, d: String): DataFrame =
    Sampling.weightedTopK(
        Tables.documents(spark, d).select(col("doc_id"), col("n_chars")),
        weightCol = "n_chars", k = 20, seed = "wsamp")
      .orderBy(col("ekey"), col("doc_id"))

  /** T14: inverted index construction — the retrieval-side artifact a
    * text engine builds once per corpus: term → document frequency +
    * the ascending posting list (rendered as a comma-joined string so
    * the gate hashes it byte-stably in both engines). Two keyed
    * shuffles, both map-side combined: explode → distinct (doc, term)
    * pairs, then the term aggregate; postings are assembled with
    * `array_sort` before the join so order never depends on shuffle
    * arrival. Per-term state is df-bounded — at 100 TB stop-terms make
    * df corpus-sized, so the production form pages postings into
    * (term, shard) rows via `floor(doc_id / page)` added to the group
    * key: the identical plan, one extra grouping column, no row ever
    * exceeding the page size. The full-list form here is the semantics
    * gate for it.
    */
  def t14InvertedIndex(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("int").as("df"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      .orderBy(col("term"))

  /** T5: corpus-relative unigram log-prob quality score (order-1 LM
    * filter; [[TextAnalysis.unigramLogProb]]).
    */
  def t5UnigramLogprob(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramLogProb(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** T12: corpus-bigram conditional log-prob per document — the order-2
    * LM quality signal ([[graft.pipeline.TextAnalysis.bigramLogProb]]).
    */
  def t12BigramLogprob(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLogProb(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** T13: text normalization — the canonical first cleaning stage
    * (lowercase, strip non-alphanumerics to spaces, collapse runs,
    * trim). Pure codegen'd scan-stage expressions, zero shuffle; the
    * oracle replays the same regex pipeline (DuckDB needs the 'g' flag
    * — its regexp_replace defaults to FIRST match where Spark's
    * replaces all). Emits a length so the gate pins both the string
    * bytes and the shrinkage.
    */
  def t13Normalize(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
      .select(col("doc_id"), col("norm"),
        length(col("norm")).as("n_chars"))
      .orderBy(col("doc_id"))

  /** T7: word-bigram repetition metrics (Gopher-style boilerplate
    * signal) — integer counts only, ratios derivable downstream.
    */
  def t7Repetition(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** D10: cross-document duplicate 8-word-chunk counts
    * ([[Dedup.chunkShared]]) — the C4 line-dedup signal for
    * unpunctuated text.
    */
  def d10ChunkShared(spark: SparkSession, d: String): DataFrame =
    Dedup.chunkShared(Tables.documents(spark, d))
      .orderBy(col("doc_id"))

  /** D11: the composed curation funnel — per-stage survivor counts for
    * the pipeline a training-data team actually runs: exact dedup →
    * minimum-length filter → deterministic 10% hash sample. Each stage
    * reuses the already-gated operator (d1's keep set, a t2-style length
    * rule, d7's content-hash membership), so the gate pins their
    * COMPOSITION: stage predicates must commute with each other's
    * outputs exactly or the counts drift.
    */
  def d11CurationFunnel(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val keep = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
    val s1 = docs.join(keep, "doc_id")
    val s2 = s1.filter(size(split(col("text"), " ")) >= 30)
    val s3 = graft.pipeline.Sampling.hashSample(s2, 0.1)
    Seq("0_all" -> docs, "1_exact_dedup" -> s1, "2_min_words" -> s2,
      "3_sample10" -> s3)
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(name).as("stage"), col("n_docs"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))
  }

  /** T6: PII redaction over deterministically augmented docs — the
    * synthetic corpus carries no PII, so the gate plants one email/URL/
    * phone per doc AS PART OF THE QUERY (both engines build the same
    * input expression) and hash-compares counts plus the scrubbed text.
    */
  def t6RedactPii(spark: SparkSession, d: String): DataFrame = {
    val aug = Tables.documents(spark, d).select(col("doc_id"),
      concat(col("text"), lit(" reach user"), col("doc_id"),
        lit("@mail.example via https://ex.example/p/"), col("doc_id"),
        lit(" or 010-1234-5678")).as("text"))
    TextAnalysis.redactPii(aug)
      .select(col("doc_id"), col("n_email"), col("n_url"), col("n_phone"),
        md5(col("redacted").cast("binary")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** MM1: multimodal metadata surface (binary payload + typed metadata). */
  def mm1Meta(spark: SparkSession, d: String): DataFrame =
    Multimodal.mediaTable(spark, d)
      .select(col("doc_id"), length(col("media")).as("n_bytes"), col("width"),
        col("height"), col("fmt"))
      .orderBy(col("doc_id"))

  /** MM2: stubbed decode + feature extraction via per-partition batches.
    * The gate projects hash-stable scalars — payload size plus the exact
    * per-block byte sums as one comma-joined string (the float means are
    * `sums / block_len`, verified transitively; raw float arrays are not
    * engine-hashable and crash the driver's pandas compare).
    */
  def mm2Features(spark: SparkSession, d: String): DataFrame =
    Multimodal.fakeDecodeFeatures(Multimodal.mediaTable(spark, d))
      .select(col("doc_id"), col("n_bytes"),
        concat_ws(",", col("block_sums").cast("array<string>")).as("block_sums"))
      .orderBy(col("doc_id"))

  /** MM3: frame-sampling chunk counts (the chunk fingerprints themselves
    * are engine-specific xxhash64 — the count is oracle-checked).
    */
  def mm3Frames(spark: SparkSession, d: String): DataFrame =
    Multimodal.mediaTable(spark, d)
      .select(col("doc_id"),
        size(Multimodal.frameSample(col("media"), 64)).as("n_frames"))
      .orderBy(col("doc_id"))

  /** MM4: binary leading-frame dedup — media payloads grouped by the
    * content digest of their first 64-byte frame (the mm3 frame size):
    * the thumbnail/header-dedup probe of a multimodal pipeline, and the
    * binary twin of d1. At 100 TB the 32-byte fingerprint shuffles
    * instead of the payloads, which stay scan-local. Emits only the
    * duplicated groups (count + first doc id) so the gate pins real
    * byte-level collisions (~22 groups at sf0.01); full-payload digests
    * would be vacuously unique in this corpus.
    */
  def mm4BinaryDedup(spark: SparkSession, d: String): DataFrame =
    Multimodal.mediaTable(spark, d)
      .groupBy(sha2(substring(col("media"), 1, 64), 256).as("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
      .filter(col("n") > 1)
      .orderBy(col("fp"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_dedup_exact" -> d1DedupExact,
    "d2_minhash_lsh" -> d2MinhashLsh,
    "d3_simhash" -> d3Simhash,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "d26_snm_dedup" -> d26SnmDedup,
    "d27_edit_join" -> d27EditJoin,
    "t16_char_kl" -> t16CharKl,
    "v1_centroids" -> v1Centroids,
    "v2_knn_join" -> v2KnnJoin,
    "v3_sq8_quant" -> v3Sq8Quant,
    "v6_pca_project" -> v6PcaProject,
    "v6_pca_var" -> v6PcaVar,
    "v6_pca_invariants" -> v6PcaInvariants,
    "v7_pca_merge" -> v7PcaMerge,
    "t27_mmr_rerank" -> t27MmrRerank,
    "t18_zipf" -> t18Zipf,
    "t19_jaro_topk" -> t19JaroTopk,
    "d30_canonical_pick" -> d30CanonicalPick,
    "d6_dedup_components" -> d6DedupComponents,
    "d6_dedup_components_dist" -> d6DedupComponentsDist,
    "d44_leakage_free_split" -> d44LeakageFreeSplit,
    "s11_jsonl_roundtrip" -> s11JsonlRoundtrip,
    "s12_orc_roundtrip" -> s12OrcRoundtrip,
    "t26_hybrid_rrf" -> t26HybridRrf,
    "t28_kwic_snippets" -> t28KwicSnippets,
    "t29_query_expansion" -> t29QueryExpansion,
    "t30_phrase_search" -> t30PhraseSearch,
    "t31_rank_eval" -> t31RankEval,
    "t32_pmi_collocations" -> t32PmiCollocations,
    "t33_textrank" -> t33TextRank,
    "v8_matryoshka_topk" -> v8MatryoshkaTopk,
    "v8_matryoshka_overlap" -> v8MatryoshkaOverlap,
    "d7_hash_sample" -> d7HashSample,
    "d8_stratified_sample" -> d8StratifiedSample,
    "d18_seeded_shuffle" -> d18SeededShuffle,
    "d19_split" -> d19Split,
    "d20_winsorize" -> d20Winsorize,
    "d21_zscore" -> d21Zscore,
    "t13_normalize" -> t13Normalize,
    "d9_contamination" -> d9Contamination,
    "d5_embed_cosine" -> d5EmbedCosine,
    "ann_topk" -> annTopk,
    "ann_lsh_topk" -> annLshTopk,
    "ann_ivf_topk" -> annIvfTopk,
    "ann_lsh_recall" -> annLshRecall,
    "ann_ivf_recall" -> annIvfRecall,
    "ann_pq_topk" -> annPqTopk,
    "ann_pq_recall" -> annPqRecall,
    "ann_ivfpq_topk" -> annIvfPqTopk,
    "ann_ivfpq_recall" -> annIvfPqRecall,
    "d5_cosine_lsh_recall" -> d5CosineLshRecall,
    "d2_minhash_recall" -> d2MinhashRecall,
    "t1_langid" -> t1LangId,
    "t2_quality" -> t2Quality,
    "t3_tokens" -> t3Tokens,
    "t4_fingerprint" -> t4Fingerprint,
    "t5_unigram_logprob" -> t5UnigramLogprob,
    "t12_bigram_logprob" -> t12BigramLogprob,
    "t7_repetition" -> t7Repetition,
    "t8_bm25" -> t8Bm25,
    "t9_topk_ngrams" -> t9TopkNgrams,
    "t17_tfidf" -> t17Tfidf,
    "t14_inverted_index" -> t14InvertedIndex,
    "d22_bloom_novelty" -> d22BloomNovelty,
    "d23_weighted_sample" -> d23WeightedSample,
    "d25_containment" -> d25Containment,
    "t10_mg_heavy_hitters" -> t10MgHeavyHitters,
    "t11_edit_distance" -> t11EditDistance,
    "d12_token_shards" -> d12TokenShards,
    "d13_chunk_overlap" -> d13ChunkOverlap,
    "d31_content_chunks" -> d31ContentChunks,
    "d32_cdc_shared" -> d32CdcShared,
    "d14_mix_weights" -> d14MixWeights,
    "d15_token_cap" -> d15TokenCap,
    "d10_chunk_shared" -> d10ChunkShared,
    "d11_curation_funnel" -> d11CurationFunnel,
    "t6_redact_pii" -> t6RedactPii,
    "mm1_meta" -> mm1Meta,
    "mm2_features" -> mm2Features,
    "mm3_frames" -> mm3Frames,
    "mm4_binary_dedup" -> mm4BinaryDedup,
    "d16_incremental_neardup" -> d16IncrementalNeardup,
    "d16_incremental_recall" -> d16IncrementalRecall,
    "d33_semantic_dedup" -> d33SemanticDedup,
    "d33_semantic_recall" -> d33SemanticRecall,
    "d49_incremental_semantic" -> d49IncrementalSemantic,
    "d49_incremental_recall" -> d49IncrementalRecall,
    "d34_prototype_prune" -> d34PrototypePrune,
    "d35_dsir_weights" -> d35DsirWeights,
    "d36_vocab_growth" -> d36VocabGrowth,
    "d37_dup_spans" -> d37DupSpans,
    "d38_chunk_scrub" -> d38ChunkScrub,
    "d40_decontaminate_spans" -> d40DecontaminateSpans,
    "d41_ppl_buckets" -> d41PerplexityBuckets,
    "d42_span_scrub" -> d42SpanScrub,
    "t20_gopher_rules" -> t20GopherRules,
    "v4_kcenter_coreset" -> v4KcenterCoreset,
    "d45_eval_dirtiness" -> d45EvalDirtiness,
    "t21_quality_classifier" -> t21QualityClassifier,
    "v5_hard_negatives" -> v5HardNegatives,
    "d46_dedup_savings" -> d46DedupSavings,
    "t22_subword_tokenize" -> t22SubwordTokenize,
    "t23_tokenizer_fertility" -> t23TokenizerFertility,
    "t24_gopher_repetition" -> t24GopherRepetition,
    "t25_quality_calibration" -> t25QualityCalibration,
    "d48_modern_funnel" -> d48ModernFunnel)

  /** DuckDB oracle for `d3_simhash`: mechanical translation of
    * [[Dedup.simHashFingerprint]] + [[Dedup.simHash]]. The word hash is
    * sha256 (identical in both engines — the reason the fingerprint uses
    * it); the 64 per-bit votes read shift/mask bits of the 16 hex nibbles,
    * and the fingerprint is assembled as two 32-bit halves so Hamming
    * distance is `bit_count(xor(lo)) + bit_count(xor(hi))` without touching
    * the signed-64 top bit.
    */
  private def d3SimhashOracle(maxHamming: Int): String = {
    val votes = (0 until 64).map { j =>
      s"sum(CASE WHEN (nib[${16 - j / 4}] >> ${j % 4}) & 1 = 1 " +
        s"THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n    ")
    def half(lo: Int): String = (lo until lo + 32).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << (j - lo)} ELSE 0 END)")
      .mkString("\n      + ")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, list_transform(range(1, 17),
       |    i -> strpos('0123456789abcdef',
       |           substr(sha256(word), i::INT, 1)) - 1) AS nib
       |  FROM w),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM n GROUP BY doc_id),
       |f AS (
       |  SELECT d.source, v.doc_id,
       |    ${half(0)} AS lo,
       |    ${half(32)} AS hi
       |  FROM v JOIN documents d USING (doc_id))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  (bit_count(xor(a.lo::BIGINT, b.lo::BIGINT))
       |   + bit_count(xor(a.hi::BIGINT, b.hi::BIGINT)))::INT AS hamming
       |FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.lo::BIGINT, b.lo::BIGINT))
       |    + bit_count(xor(a.hi::BIGINT, b.hi::BIGINT)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Fully-derived DuckDB oracle for `ann_lsh_recall`: reproduces
    * [[Similarity.lshBucketTopK]] end to end in SQL. The hyperplanes are
    * deterministic given the seed, so their values are embedded as list
    * literals generated from the SAME [[Similarity.hyperplanes]] call the
    * engine uses (parameters must mirror [[annLshTopk]]); mean-centering,
    * bucket bits, the multi-probe mask set, candidate pruning, and top-k
    * ordering are all recomputed by DuckDB from the raw parquet — recall
    * is derived, not pinned. The centered dot product is written as the
    * same left-to-right element sum the engine's zip_with/aggregate
    * produces, so sign decisions agree bit-for-bit.
    */
  /** Shared CTE prefix reproducing [[Similarity.lshBucketTopK]] in DuckDB
    * up to the approximate top-k list (`appr`) and the exact top-k (`ex`)
    * — the base of both the `ann_lsh_topk` and `ann_lsh_recall` oracles.
    */
  private def annLshCtePrefix: String = {
    val numPlanes = 4; val dim = 64; val probeHamming = 2; val k = 10
    val planes = Similarity.hyperplanes(numPlanes, dim)
    val masks = Similarity.hammingMasks(numPlanes, probeHamming)
    val muList = (1 to dim).map(i => s"avg(e[$i])").mkString("[", ", ", "]")
    val planeCols = planes.zipWithIndex.map { case (p, j) =>
      p.mkString("[", ", ", s"] AS p$j")
    }.mkString(",\n    ")
    val bucketExpr = planes.indices.map { j =>
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> (e[i] - mu[i]) * p$j[i])) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n    + ")
    val maskVals = masks.map(m => s"($m)").mkString(", ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |mu AS (SELECT $muList AS mu FROM v),
       |pl AS (SELECT
       |    $planeCols),
       |b AS (SELECT vec_id, e,
       |    $bucketExpr AS bucket
       |  FROM v, mu, pl),
       |q AS (SELECT bucket, e FROM b WHERE vec_id = 0),
       |probes AS (SELECT xor(q.bucket, t.msk) AS bucket
       |  FROM q, (VALUES $maskVals) t(msk)),
       |appr AS (
       |  SELECT c.vec_id, round(list_cosine_similarity(c.e, q.e), 4) AS sim
       |  FROM b c, q
       |  WHERE c.vec_id <> 0 AND c.bucket IN (SELECT bucket FROM probes)
       |  ORDER BY sim DESC, c.vec_id LIMIT $k),
       |ex AS (
       |  SELECT w.vec_id, round(list_cosine_similarity(w.e, q2.e), 4) AS sim
       |  FROM v w, (SELECT e FROM v WHERE vec_id = 0) q2
       |  WHERE w.vec_id <> 0
       |  ORDER BY sim DESC, w.vec_id LIMIT $k)""".stripMargin
  }

  private def annLshTopkOracle: String =
    s"""$annLshCtePrefix
       |SELECT vec_id, sim FROM appr ORDER BY sim DESC, vec_id""".stripMargin

  private def annLshRecallOracle: String =
    s"""$annLshCtePrefix
       |SELECT 'lsh' AS method, (SELECT count(*) FROM ex)::INT AS k,
       |  round((SELECT count(*)::DOUBLE FROM ex JOIN appr USING (vec_id)) /
       |        (SELECT count(*) FROM ex), 4) AS recall""".stripMargin

  private val langScoreSql =
    """SELECT doc_id,
      |  CAST((len(text) - len(replace(text, ' the ', ''))) / 5 AS INT) * 100 / 5.0 AS s_en,
      |  CAST((len(text) - len(replace(text, ' el ', ''))) / 4 AS INT) * 100 / 4.0 AS s_es,
      |  CAST((len(text) - len(replace(text, ' der ', ''))) / 5 AS INT) * 100 / 5.0 AS s_de,
      |  CAST((len(text) - len(replace(text, ' le ', ''))) / 4 AS INT) * 100 / 4.0 AS s_fr,
      |  CAST((len(text) - len(replace(text, '的', ''))) / 1 AS INT) * 100 / 1.0 AS s_zh
      |FROM documents""".stripMargin

  /** DuckDB oracle for `t33_textrank`: the identically-built adjacency
    * edge list (t32's tokenize/bigram CTEs, canonical least/greatest
    * pair, support floor, self-pairs dropped) under the g2 PageRank
    * chain — `iters` rounds unrolled, round-6, row_number rank with the
    * same (score DESC, token) tie-break. Hot CTEs MATERIALIZED (the g5
    * inline-unroll lesson).
    */
  private def t33Oracle(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    0.15 / (SELECT count(*) FROM deg)
         |      + 0.85 * sum(r${i - 1}.rank / deg.deg) AS rank
         |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS MATERIALIZED (
       |  SELECT string_split_regex(lower(text), '\\s+') AS ws
       |  FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT unnest(CASE WHEN len(ws) >= 2
       |    THEN list_transform(range(1, len(ws)),
       |      i -> least(ws[i], ws[i + 1]) || ' ' || greatest(ws[i], ws[i + 1]))
       |    ELSE []::VARCHAR[] END) AS gram
       |  FROM w),
       |ec AS MATERIALIZED (
       |  SELECT string_split(gram, ' ')[1] AS u, string_split(gram, ' ')[2] AS v
       |  FROM (SELECT gram FROM bg GROUP BY gram HAVING count(*) >= 3)
       |  WHERE string_split(gram, ' ')[1] <> string_split(gram, ' ')[2]),
       |e AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM ec UNION ALL SELECT v, u FROM ec),
       |deg AS MATERIALIZED (
       |  SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS MATERIALIZED (
       |  SELECT src AS node, 1.0 / (SELECT count(*) FROM deg) AS rank
       |  FROM deg),
       |$chain
       |SELECT token, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, token) AS INT) AS rank
       |FROM (SELECT node AS token, round(rank, 6) AS score FROM r$iters)
       |ORDER BY score DESC, token LIMIT 20""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "t33_textrank" -> t33Oracle(10),
    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dups FROM documents
        |GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
    "d30_canonical_pick" ->
      """WITH h AS (
        |  SELECT doc_id, source, sha256(text) AS hh FROM documents),
        |r AS (
        |  SELECT doc_id, first_value(doc_id) OVER (
        |    PARTITION BY hh ORDER BY source, doc_id) AS keep_id
        |  FROM h)
        |SELECT doc_id, keep_id FROM r ORDER BY doc_id""".stripMargin,
    "t19_jaro_topk" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name FROM part),
        |j AS (
        |  SELECT a.p_partkey, b.p_partkey AS match_key,
        |    b.p_name AS q_name,
        |    round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS sim
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey),
        |r AS (
        |  SELECT p_partkey, match_key, sim,
        |    row_number() OVER (PARTITION BY p_partkey
        |      ORDER BY sim DESC, q_name, match_key) AS rk
        |  FROM j)
        |SELECT p_partkey, match_key, sim FROM r WHERE rk = 1
        |ORDER BY p_partkey""".stripMargin,
    "t18_zipf" ->
      """WITH f AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |g AS (SELECT w, count(*) AS n FROM f GROUP BY 1),
        |r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, w)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(n AS DOUBLE)) AS y
        |  FROM g),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM r)
        |SELECT CAST(v AS BIGINT) AS vocab,
        |  round((v * sxy - sx * sy) / (v * sxx - sx * sx), 6)
        |    AS zipf_slope,
        |  round((sy - (v * sxy - sx * sy) / (v * sxx - sx * sx) * sx) / v,
        |    6) AS intercept
        |FROM s""".stripMargin,
    "v3_sq8_quant" ->
      """WITH x AS (
        |  SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos
        |  FROM embeddings),
        |s AS (SELECT pos, min(x) AS dmin, max(x) AS dmax FROM x
        |  GROUP BY 1),
        |c AS (
        |  SELECT x.pos, x.x, s.dmin, s.dmax,
        |    CASE WHEN s.dmax = s.dmin THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor((x.x - s.dmin) * 255.0
        |        / (s.dmax - s.dmin) + 0.5) AS BIGINT) END AS code
        |  FROM x JOIN s USING (pos)),
        |r AS (
        |  SELECT pos, dmin, dmax, code, x,
        |    dmin + CAST(code AS DOUBLE) * (dmax - dmin) / 255.0 AS recon
        |  FROM c)
        |SELECT pos, min(dmin) AS dmin, max(dmax) AS dmax,
        |  max(abs(x - recon)) AS max_abs_err,
        |  (max(dmax) - min(dmin)) / 510.0 AS bound,
        |  (max(abs(x - recon)) <= (max(dmax) - min(dmin)) / 510.0
        |      * 1.0000001
        |    AND min(code) >= 0 AND max(code) <= 255) AS ok
        |FROM r GROUP BY pos ORDER BY pos""".stripMargin,
    "v1_centroids" ->
      """WITH cells AS (
        |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings),
        |cent AS (SELECT label, pos, avg(v) AS c FROM cells GROUP BY 1, 2),
        |per AS (
        |  SELECT c1.label, c1.vec_id,
        |    sum(c1.v * ct.c)
        |      / (sqrt(sum(c1.v * c1.v)) * sqrt(sum(ct.c * ct.c))) AS cosv
        |  FROM cells c1 JOIN cent ct
        |    ON c1.label = ct.label AND c1.pos = ct.pos
        |  GROUP BY 1, 2)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |  round(avg(cosv), 6) AS avg_cos
        |FROM per GROUP BY label ORDER BY label""".stripMargin,
    // Mechanical translation of [[Similarity.hardNegatives]] (k=3):
    // per-label mean centroids in the v1/d34 cell decomposition,
    // prototype-cosine routing (round 6, argmax ties on neg_label),
    // then the v2 member ranking (round 4, ties on nid) inside the
    // routed label block only.
    "v5_hard_negatives" ->
      """WITH cells AS (
        |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings),
        |cent AS (SELECT label AS neg_label, pos, avg(v) AS c
        |         FROM cells GROUP BY 1, 2),
        |pc AS (
        |  SELECT c1.label, c1.vec_id, ct.neg_label,
        |    round(sum(c1.v * ct.c)
        |      / (sqrt(sum(c1.v * c1.v)) * sqrt(sum(ct.c * ct.c))), 6)
        |      AS pcos
        |  FROM cells c1 JOIN cent ct
        |    ON c1.pos = ct.pos AND c1.label <> ct.neg_label
        |  GROUP BY 1, 2, 3),
        |routed AS (
        |  SELECT label, vec_id, neg_label FROM (
        |    SELECT label, vec_id, neg_label, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY pcos DESC, neg_label) AS r
        |    FROM pc) WHERE r = 1),
        |v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
        |      FROM embeddings),
        |cand AS (
        |  SELECT r.vec_id AS qid, r.label, r.neg_label, m.vec_id AS nid,
        |    round(list_cosine_similarity(q.e, m.e), 4) AS sim
        |  FROM routed r
        |  JOIN v q ON q.vec_id = r.vec_id
        |  JOIN v m ON m.label = r.neg_label),
        |rk AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, nid) AS rk
        |  FROM cand)
        |SELECT qid, label, neg_label, rk::INT AS rk, nid, sim
        |FROM rk WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,
    "v2_knn_join" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        |p AS (
        |  SELECT a.label, a.vec_id AS qid, b.vec_id AS nid,
        |    round(list_cosine_similarity(a.e, b.e), 4) AS sim
        |  FROM v a JOIN v b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, nid) AS rk
        |  FROM p)
        |SELECT label, qid, nid, sim, rk::INT AS rk
        |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,
    "d27_edit_join" ->
      """WITH v AS (SELECT DISTINCT c_name AS w FROM customer)
        |SELECT a.w AS name_a, b.w AS name_b,
        |  levenshtein(a.w, b.w)::INT AS dist
        |FROM v a JOIN v b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    "t16_char_kl" ->
      """WITH chars AS (
        |  SELECT lang, unnest(string_split_regex(
        |    regexp_replace(lower(text), '[^a-z]', '', 'g'), '')) AS c
        |  FROM documents),
        |f AS (SELECT lang, c FROM chars WHERE c <> ''),
        |lc AS (SELECT lang, c, count(*)::BIGINT AS n_lc FROM f GROUP BY 1, 2),
        |pl AS (SELECT lang, sum(n_lc)::BIGINT AS n_l FROM lc GROUP BY 1),
        |pc AS (SELECT c, sum(n_lc)::BIGINT AS n_c FROM lc GROUP BY 1),
        |t AS (SELECT sum(n_c)::BIGINT AS n FROM pc)
        |SELECT lang, max(n_l) AS n_chars,
        |  sum((CAST(n_lc AS DOUBLE) / n_l)
        |    * ln((CAST(n_lc AS DOUBLE) / n_l)
        |        / (CAST(n_c AS DOUBLE) / n))) AS kl
        |FROM lc JOIN pl USING (lang) JOIN pc USING (c) CROSS JOIN t
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "d26_snm_dedup" ->
      """WITH r AS (
        |  SELECT doc_id, text, row_number() OVER (
        |    ORDER BY substr(lower(text), 1, 24), doc_id) AS rn
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, rn, list_distinct(string_split_regex(text, '\s+')) AS ws
        |  FROM r),
        |c AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |    len(list_intersect(a.ws, b.ws))::INT AS inter,
        |    len(list_distinct(list_concat(a.ws, b.ws)))::INT AS uni
        |  FROM s a JOIN s b ON b.rn - a.rn BETWEEN 1 AND 8)
        |SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b, inter, uni
        |FROM c WHERE inter::DOUBLE / uni >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d4_ngram_jaccard" ->
      """WITH sets AS (
        |  SELECT source, doc_id, list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.ws, b.ws))::INT AS inter,
        |  len(list_distinct(list_concat(a.ws, b.ws)))::INT AS uni
        |FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d6_dedup_components" ->
      """WITH RECURSIVE sets AS (
        |  SELECT source, doc_id, list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS pa, b.doc_id AS pb
        |  FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
        |), edges AS (
        |  SELECT pa AS ea, pb AS eb FROM pairs
        |  UNION SELECT pb AS ea, pa AS eb FROM pairs
        |), reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.eb, r.lab FROM reach r JOIN edges e ON e.ea = r.node
        |)
        |SELECT node AS doc_id, min(lab) AS keep_id FROM reach
        |GROUP BY node ORDER BY doc_id""".stripMargin,
    "d7_hash_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(sha256(text), 1, 8))::BIGINT % 10000 < 1000
        |ORDER BY doc_id""".stripMargin,
    // The oracle reads the PARQUET ground truth; the engine's JSONL
    // write→read must checksum identically (the round-trip is what's
    // under test). BIGINT casts per the HUGEINT rule.
    "s11_jsonl_roundtrip" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  sum(('0x' || substr(sha256(text), 1, 8))::BIGINT)::BIGINT
        |    AS content_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // s12: identical ground truth to s11 — the oracle reads the parquet
    // source of truth; the engine's ORC write→read must checksum to it.
    "s12_orc_roundtrip" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  sum(('0x' || substr(sha256(text), 1, 8))::BIGINT)::BIGINT
        |    AS content_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // t26: both legs replayed exactly — the t8 BM25 CTE restricted to the
    // embedded corpus (doc_id = vec_id, doc 0 excluded) and the ann_topk
    // cosine against vec 0 — each round-then-ranked (bm25/cosine at 4,
    // ties by doc_id), fused by 1/(60 + rank) in the same leg order as
    // Search.rrfFuse, rounded 6, top 20 by (rrf DESC, doc_id). Rank
    // columns cast ::INT to match Spark's row_number type.
    "t26_hybrid_rrf" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (
        |  SELECT d.doc_id, lower(d.text) AS t, emb.e
        |  FROM documents d JOIN emb ON d.doc_id = emb.vec_id
        |  WHERE d.doc_id <> 0),
        |per AS (
        |  SELECT doc_id,
        |    len(string_split_regex(t, '\s+'))::DOUBLE AS dl,
        |    len(list_filter(string_split_regex(t, '\s+'),
        |        w -> w = 'hash'))::DOUBLE AS tf0,
        |    len(list_filter(string_split_regex(t, '\s+'),
        |        w -> w = 'join'))::DOUBLE AS tf1,
        |    len(list_filter(string_split_regex(t, '\s+'),
        |        w -> w = 'vector'))::DOUBLE AS tf2
        |  FROM c),
        |corpus AS (
        |  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |  FROM per),
        |bm AS (
        |  SELECT doc_id, round(
        |      (CASE WHEN tf0 > 0 THEN
        |        ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1) * tf0 * (1.2 + 1)
        |          / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) ELSE 0 END)
        |    + (CASE WHEN tf1 > 0 THEN
        |        ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1) * tf1 * (1.2 + 1)
        |          / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) ELSE 0 END)
        |    + (CASE WHEN tf2 > 0 THEN
        |        ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1) * tf2 * (1.2 + 1)
        |          / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) ELSE 0 END),
        |    4) AS bm25
        |  FROM per, corpus
        |  WHERE tf0 + tf1 + tf2 > 0),
        |lex AS (
        |  SELECT doc_id, lex_rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |      AS lex_rank FROM bm)
        |  WHERE lex_rank <= 50),
        |q AS (SELECT e FROM emb WHERE vec_id = 0),
        |ds AS (
        |  SELECT c.doc_id, round(list_cosine_similarity(c.e, q.e), 4) AS sim
        |  FROM c, q),
        |dn AS (
        |  SELECT doc_id, vec_rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id)
        |      AS vec_rank FROM ds)
        |  WHERE vec_rank <= 50),
        |f AS (
        |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
        |    l.lex_rank, v.vec_rank,
        |    round(
        |      (CASE WHEN l.lex_rank IS NOT NULL
        |        THEN 1.0 / (60.0 + l.lex_rank) ELSE 0.0 END)
        |      + (CASE WHEN v.vec_rank IS NOT NULL
        |        THEN 1.0 / (60.0 + v.vec_rank) ELSE 0.0 END), 6) AS rrf
        |  FROM lex l FULL OUTER JOIN dn v ON l.doc_id = v.doc_id)
        |SELECT doc_id, lex_rank::INT AS lex_rank,
        |  vec_rank::INT AS vec_rank, rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    // v6's quality twin (the d33 pattern): the oracle recomputes the max
    // per-coordinate population variance EXACTLY — the axis-aligned bound
    // PC1's eigenvalue must dominate — and pins meets_floor TRUE; Spark's
    // meets_floor conjoins λ1 ≥ max coord var, λ1 ≡ var_pop(projection),
    // and top-2 orthonormality, so a broken moment pass, eigensolve, or
    // projection reds the gate. Measured margins to the 6-dp rounding
    // boundary are ≥ 1.6e-7 at every decade (vs ~1e-13 cross-engine
    // variance error), so the hash is stable.
    "t27_mmr_rerank" -> mmrOracle(steps = 5, cands = 20),
    // t28: list_position is 1-based with 0 for absent (the Spark
    // array_position contract); DuckDB's inclusive ws[a:b] slice mirrors
    // slice(ws, start, len); pos casts BIGINT to match Spark's long.
    "t28_kwic_snippets" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, list_position(ws, 'vector')::BIGINT AS pos, ws
        |  FROM t)
        |SELECT doc_id, pos,
        |  array_to_string(
        |    ws[greatest(pos - 3, 1) : least(pos + 3, len(ws))], ' ')
        |    AS snippet
        |FROM p WHERE pos > 0 ORDER BY doc_id""".stripMargin,
    "v6_pca_var" ->
      """WITH x AS (
        |  SELECT unnest(embedding::DOUBLE[]) AS xi,
        |         unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings)
        |SELECT 'pca' AS method, round(max(v), 6) AS max_coord_var,
        |  true AS meets_floor
        |FROM (SELECT i, var_pop(xi) AS v FROM x GROUP BY i)""".stripMargin,
    // t29: the pseudo-rel set is an exact integer-tf TakeOrdered (ties by
    // doc_id); scores round-then-rank; ln is natural log on both engines.
    "t29_query_expansion" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM documents),
        |rel AS (SELECT doc_id FROM tf WHERE term = 'query'
        |        ORDER BY tf DESC, doc_id LIMIT 10),
        |sc AS (SELECT tf.term, sum(tf.tf)::DOUBLE AS tf_rel
        |       FROM tf JOIN rel USING (doc_id)
        |       WHERE tf.term <> 'query' GROUP BY 1),
        |scored AS (SELECT sc.term, round(tf_rel * ln(n_docs / df), 4) AS score
        |           FROM sc JOIN dfr USING (term), n)
        |SELECT term, score,
        |  row_number() OVER (ORDER BY score DESC, term) AS rank
        |FROM scored ORDER BY score DESC, term LIMIT 10""".stripMargin,
    // t30: 1-based token index; range(1, len) yields i in [1, len-1] so
    // ws[i+1] never overruns; list_filter lambda mirrors Spark's
    // filter(sequence(...)) HOF; first hit via [1].
    "t30_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, list_filter(range(1, len(ws)),
        |    i -> ws[i] = 'data' AND ws[i + 1] = 'window') AS hits
        |  FROM t WHERE len(ws) >= 2)
        |SELECT doc_id, hits[1]::BIGINT AS pos
        |FROM p WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin,
    // t32: division association (cab/Nbi) / ((ca/Nuni)*(cb/Nuni)) is the
    // float contract (mirrored verbatim); Nbi sums the WHOLE bigram mass,
    // not just the >= 5 survivors; round-then-rank ties by gram.
    "t32_pmi_collocations" ->
      """WITH w AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS ws FROM documents),
        |uni AS (
        |  SELECT unnest(ws) AS w FROM w),
        |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        |bg AS (
        |  SELECT unnest(CASE WHEN len(ws) >= 2
        |    THEN list_transform(range(1, len(ws)),
        |           i -> ws[i] || ' ' || ws[i + 1])
        |    ELSE []::VARCHAR[] END) AS gram
        |  FROM w),
        |bc AS (SELECT gram, count(*) AS n FROM bg GROUP BY gram),
        |tot AS (
        |  SELECT (SELECT sum(c) FROM uc)::DOUBLE AS n_uni,
        |         (SELECT sum(n) FROM bc)::DOUBLE AS n_bi),
        |scored AS (
        |  SELECT bc.gram, bc.n,
        |    round(ln((bc.n::DOUBLE / n_bi) /
        |      ((ca.c::DOUBLE / n_uni) * (cb.c::DOUBLE / n_uni))), 4) AS pmi
        |  FROM bc, tot,
        |    uc ca, uc cb
        |  WHERE bc.n >= 5
        |    AND ca.w = string_split(bc.gram, ' ')[1]
        |    AND cb.w = string_split(bc.gram, ' ')[2])
        |SELECT gram, n, pmi,
        |  row_number() OVER (ORDER BY pmi DESC, gram) AS rank
        |FROM scored ORDER BY pmi DESC, gram LIMIT 10""".stripMargin,
    // t31: the ranking replays exactly (round-then-rank, ties by vec_id);
    // nDCG's ideal truncates at min(k, corpus-wide relevant); log2 on
    // both engines; metrics round to 4.
    "t31_rank_eval" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
        |           FROM embeddings),
        |q AS (SELECT label, e FROM v WHERE vec_id = 0),
        |top AS (
        |  SELECT v.vec_id, v.label,
        |    row_number() OVER (
        |      ORDER BY round(list_cosine_similarity(v.e, q.e), 4) DESC,
        |        v.vec_id) AS rank
        |  FROM v, q WHERE v.vec_id <> 0
        |  QUALIFY rank <= 10),
        |r AS (SELECT count(*)::BIGINT AS total_rel
        |      FROM v, q WHERE v.vec_id <> 0 AND v.label = q.label),
        |i AS (SELECT sum(CASE WHEN x <= least(10, (SELECT total_rel FROM r))
        |        THEN 1.0 / log2(x + 1) ELSE 0 END) AS idcg
        |      FROM range(1, 11) t(x)),
        |m AS (SELECT
        |    sum(CASE WHEN t.label = q.label
        |        THEN 1.0 / log2(t.rank + 1) ELSE 0 END) AS dcg,
        |    max(CASE WHEN t.label = q.label
        |        THEN 1.0 / t.rank ELSE 0 END) AS mrr0,
        |    sum(CASE WHEN t.label = q.label THEN 1 ELSE 0 END)::DOUBLE
        |      AS nrel
        |  FROM top t, q)
        |SELECT 10 AS k, round(dcg / idcg, 4) AS ndcg,
        |  round(mrr0, 4) AS mrr, round(nrel / 10, 4) AS precision
        |FROM m, i""".stripMargin,
    // v8: both stages replay literally — e[1:16] is DuckDB's inclusive
    // slice of the first 16 coords (Spark slice(e, 1, 16)).
    "v8_matryoshka_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT e FROM v WHERE vec_id = 0),
        |s1 AS (
        |  SELECT v.vec_id, v.e FROM v, q WHERE v.vec_id <> 0
        |  ORDER BY round(list_cosine_similarity(v.e[1:16], q.e[1:16]), 4)
        |    DESC, v.vec_id
        |  LIMIT 50)
        |SELECT s1.vec_id,
        |  round(list_cosine_similarity(s1.e, q.e), 4) AS sim
        |FROM s1, q ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "v8_matryoshka_overlap" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT e FROM v WHERE vec_id = 0),
        |ex AS (
        |  SELECT v.vec_id FROM v, q WHERE v.vec_id <> 0
        |  ORDER BY round(list_cosine_similarity(v.e, q.e), 4) DESC, v.vec_id
        |  LIMIT 10),
        |s1 AS (
        |  SELECT v.vec_id, v.e FROM v, q WHERE v.vec_id <> 0
        |  ORDER BY round(list_cosine_similarity(v.e[1:16], q.e[1:16]), 4)
        |    DESC, v.vec_id
        |  LIMIT 50),
        |mk AS (
        |  SELECT s1.vec_id FROM s1, q
        |  ORDER BY round(list_cosine_similarity(s1.e, q.e), 4) DESC, s1.vec_id
        |  LIMIT 10)
        |SELECT 10 AS k, 16 AS prefix_dims,
        |  round((SELECT count(*) FROM mk JOIN ex USING (vec_id))::DOUBLE
        |    / 10, 4) AS overlap""".stripMargin,
    // v6 invariants: var_pop(p_c) − λ_c and covar_pop(p1,p2) are pinned
    // ZEROS (engine-verified to 6 decimals — DuckDB cannot replay the
    // eigensolve, but it CAN hold the engine to the invariant's exact
    // rounded value); total_var is the covariance trace, which DuckDB
    // recomputes exactly as Σ per-coordinate var_pop — the decade-varying
    // anchor that keeps the gate from being a constant tautology.
    "v6_pca_invariants" ->
      """WITH x AS (
        |  SELECT unnest(embedding::DOUBLE[]) AS xi,
        |         unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |tv AS (
        |  SELECT round(sum(v), 6) AS total_var
        |  FROM (SELECT i, var_pop(xi) AS v FROM x GROUP BY i))
        |SELECT c AS component, 0.0::DOUBLE AS var_minus_eig,
        |  0.0::DOUBLE AS cross_cov, total_var
        |FROM tv, (VALUES (1), (2)) t(c) ORDER BY component""".stripMargin,
    // v7: the incremental merged-moments model must land on the same
    // exact full-corpus ground truth as v6 — the oracle recomputes the
    // max coordinate variance over the WHOLE table and pins meets_floor
    // TRUE (Spark's meets_floor is the merged-vs-full-fit equality
    // conjunction, so a broken merge/persist/refit reds the gate).
    "v7_pca_merge" ->
      """WITH x AS (
        |  SELECT unnest(embedding::DOUBLE[]) AS xi,
        |         unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings)
        |SELECT 'pca_merge' AS method, round(max(v), 6) AS max_coord_var,
        |  true AS meets_floor
        |FROM (SELECT i, var_pop(xi) AS v FROM x GROUP BY i)""".stripMargin,
    // The d6 closure rolled into the size histogram; token counts via
    // the shared \s+ tokenizer, BIGINT sums cast per the HUGEINT rule.
    "d46_dedup_savings" ->
      """WITH RECURSIVE sets AS (
        |  SELECT source, doc_id, list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS pa, b.doc_id AS pb
        |  FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
        |), edges AS (
        |  SELECT pa AS ea, pb AS eb FROM pairs
        |  UNION SELECT pb AS ea, pa AS eb FROM pairs
        |), reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.eb, r.lab FROM reach r JOIN edges e ON e.ea = r.node
        |), grp AS (
        |  SELECT node AS doc_id, min(lab) AS keep_id FROM reach GROUP BY node
        |), tok AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+'))::BIGINT AS nt
        |  FROM documents
        |), cl AS (
        |  SELECT keep_id, count(*) AS sz, sum(nt) AS tok,
        |    sum(CASE WHEN g.doc_id <> keep_id THEN nt ELSE 0 END) AS tok_rm
        |  FROM grp g JOIN tok USING (doc_id) GROUP BY keep_id)
        |SELECT sz::INT AS cluster_size, count(*)::INT AS n_clusters,
        |  sum(sz)::INT AS n_docs, (sum(sz) - count(*))::INT AS n_docs_removed,
        |  sum(tok)::BIGINT AS n_tokens, sum(tok_rm)::BIGINT AS n_tokens_removed
        |FROM cl GROUP BY sz ORDER BY cluster_size""".stripMargin,
    // The d6 component closure + the d7 hash idiom on the LABEL: every
    // near-dup component lands whole on one side.
    "d44_leakage_free_split" ->
      """WITH RECURSIVE sets AS (
        |  SELECT source, doc_id, list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS pa, b.doc_id AS pb
        |  FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
        |), edges AS (
        |  SELECT pa AS ea, pb AS eb FROM pairs
        |  UNION SELECT pb AS ea, pa AS eb FROM pairs
        |), reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.eb, r.lab FROM reach r JOIN edges e ON e.ea = r.node
        |), grp AS (
        |  SELECT node AS doc_id, min(lab) AS group_id FROM reach GROUP BY node)
        |SELECT doc_id, group_id,
        |  CASE WHEN ('0x' || substr(sha256(group_id::VARCHAR), 1, 8))::BIGINT
        |         % 10000 < 8000
        |       THEN 'train' ELSE 'holdout' END AS split
        |FROM grp ORDER BY doc_id""".stripMargin,
    "d8_stratified_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY ('0x' || substr(sha256(text), 1, 8))::BIGINT, doc_id
        |  ) AS rk FROM documents
        |)
        |SELECT doc_id, source FROM r WHERE rk <= 10
        |ORDER BY doc_id""".stripMargin,
    "d18_seeded_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(sha256('graft42:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
        |    AS INT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    "d19_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(sha256('graft42:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT % 100 AS b
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "d20_winsorize" ->
      """WITH s AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.01) AS lo,
        |    quantile_cont(value, 0.99) AS hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, least(greatest(value, lo), hi) AS clipped
        |FROM events JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "d21_zscore" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s1,
        |    sum(CAST(value AS DECIMAL(18,2))
        |        * CAST(value AS DECIMAL(18,2))) AS s2
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT event_type,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd
        |  FROM s)
        |SELECT event_id, (value - mean) / sd AS z
        |FROM events JOIN m USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "t13_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm,
        |  length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))::INT AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d9_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, list_distinct(
        |    CASE WHEN len(ws) >= 3
        |      THEN list_transform(range(1, len(ws) - 1),
        |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      ELSE [array_to_string(ws, ' ')] END) AS shset
        |  FROM w),
        |ev AS (SELECT DISTINCT unnest(shset) AS sh FROM s WHERE source = 'src0'),
        |c AS (SELECT doc_id, len(shset) AS n_shingles, unnest(shset) AS sh
        |      FROM s WHERE source <> 'src0')
        |SELECT c.doc_id, c.n_shingles::INT AS n_shingles,
        |  count(*)::INT AS n_hits,
        |  round(count(*)::DOUBLE / c.n_shingles, 4) AS frac
        |FROM c JOIN ev ON c.sh = ev.sh
        |GROUP BY c.doc_id, c.n_shingles
        |ORDER BY c.doc_id""".stripMargin,
    "d5_embed_cosine" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.e, b.e), 4) AS sim
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "ann_topk" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), q AS (SELECT e FROM v WHERE vec_id = 0)
        |SELECT v.vec_id, round(list_cosine_similarity(v.e, q.e), 4) AS sim
        |FROM v, q WHERE v.vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "d3_simhash" -> d3SimhashOracle(16),
    "ann_lsh_topk" -> annLshTopkOracle,
    "ann_lsh_recall" -> annLshRecallOracle,
    // Like ann_ivf_recall: the oracle re-derives the exact baseline's k
    // (here the EUCLIDEAN top-k — the metric PQ approximates) and pins
    // meets_floor at true; Spark's meets_floor is computed from its own
    // measured recall, so a degraded quantizer reds this gate.
    "ann_pq_recall" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |ex AS (
        |  SELECT w.vec_id FROM v w, (SELECT e FROM v WHERE vec_id = 0) q
        |  WHERE w.vec_id <> 0
        |  ORDER BY round(list_distance(w.e, q.e), 4) ASC, w.vec_id
        |  LIMIT 10)
        |SELECT 'pq' AS method, (SELECT count(*) FROM ex)::INT AS k,
        |  ${decadeFloorSql(0.3, 0.7, 0.6, 0.9)} AS recall_floor,
        |  true AS meets_floor""".stripMargin,
    // The ann_pq_recall pattern at the IVF-PQ composition's measured
    // floor: the oracle re-derives the exact Euclidean top-10 ground
    // truth and pins meets_floor TRUE; Spark's meets_floor comes from
    // its own measured recall, so a routing or ADC regression reds it.
    "ann_ivfpq_recall" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |ex AS (
        |  SELECT w.vec_id FROM v w, (SELECT e FROM v WHERE vec_id = 0) q
        |  WHERE w.vec_id <> 0
        |  ORDER BY round(list_distance(w.e, q.e), 4) ASC, w.vec_id
        |  LIMIT 10)
        |SELECT 'ivfpq' AS method, (SELECT count(*) FROM ex)::INT AS k,
        |  ${decadeFloorSql(0.3, 0.8, 0.55, 0.9)} AS recall_floor,
        |  true AS meets_floor""".stripMargin,
    "ann_ivf_recall" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |ex AS (
        |  SELECT w.vec_id FROM v w, (SELECT e FROM v WHERE vec_id = 0) q
        |  WHERE w.vec_id <> 0
        |  ORDER BY round(list_cosine_similarity(w.e, q.e), 4) DESC, w.vec_id
        |  LIMIT 10)
        |SELECT 'ivf' AS method, (SELECT count(*) FROM ex)::INT AS k,
        |  ${decadeFloorSql(0.9, 0.7, 0.7, 0.9)} AS recall_floor,
        |  true AS meets_floor""".stripMargin,
    // d33's quality twin (the ann_ivf_recall pattern): the oracle
    // re-derives the exhaustive global ≥0.4-cos pair count — the ground
    // truth SemDeDup's cluster blocking approximates — and pins
    // meets_floor TRUE; Spark's meets_floor comes from its own measured
    // recall, so a degenerate clustering reds the gate. O(n²) in DuckDB
    // by design (the exhaustive form is the parity oracle, the engine
    // never runs it) — sf1 replays skip it like d2_minhash_recall.
    "d33_semantic_recall" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.e, b.e) >= 0.4)
        |SELECT 'semdedup' AS method, count(*)::INT AS n_exact,
        |  ${decadeFloorSql(0.9, 0.9, 0.87, 0.87)} AS recall_floor,
        |  true AS meets_floor
        |FROM p""".stripMargin,
    // d49's quality twin (the d33 pattern on the BATCH x CORPUS
    // direction): the oracle re-derives the exact cross-side >= 0.4-cos
    // pair count — the ground truth the stored-index incremental probe
    // approximates — and pins meets_floor TRUE; Spark's meets_floor
    // comes from its own measured recall, so a drifted stored index or
    // a broken batch assignment reds the gate. O(batch x corpus) in
    // DuckDB by design (parity oracle, the engine never runs it).
    "d49_incremental_recall" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM v a JOIN v b ON a.vec_id < 100 AND b.vec_id >= 100
        |  WHERE list_cosine_similarity(a.e, b.e) >= 0.4)
        |SELECT 'inc_semdedup' AS method, count(*)::INT AS n_exact,
        |  ${decadeFloorSql(0.9, 0.9, 0.9, 0.87)} AS recall_floor,
        |  true AS meets_floor
        |FROM p""".stripMargin,
    // First-occurrence attribution + single-node running sum — pins the
    // distributed two-pass prefix sum's order exactly. Shingle CASE
    // mirrors Dedup.shingles (short docs contribute their whole text);
    // the window sum casts BIGINT (DuckDB sum → HUGEINT, the r10 rule).
    "d36_vocab_growth" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(ws) >= 3
        |      THEN list_transform(range(1, len(ws) - 1),
        |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      ELSE [array_to_string(ws, ' ')] END)) AS g
        |  FROM w),
        |f AS (SELECT g, min(doc_id) AS doc_id FROM s GROUP BY 1),
        |p AS (SELECT doc_id, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT d.doc_id, COALESCE(p.n_new, 0) AS n_new,
        |  CAST(sum(COALESCE(p.n_new, 0)) OVER (
        |    ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS n_new_cum
        |FROM documents d LEFT JOIN p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Mechanical translation of [[Dsir.logImportanceWeights]]: same
    // sha256-prefix buckets (the d7/d8 portable hash), same add-1
    // smoothing over 64 buckets, e-notation literals force DOUBLE
    // division (the DuckDB decimal-literal trap), round-6 per-doc sums.
    // range(1, len(ws)) yields the same len-1 bigram starts as Spark's
    // sequence(0, size-2).
    "d35_dsir_weights" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source,
        |    unnest(CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
        |      ELSE list_transform(range(1, len(ws)),
        |             i -> ws[i] || ' ' || ws[i+1]) END) AS bg
        |  FROM w),
        |b AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(sha256(bg), 1, 8))::BIGINT % 64 AS bucket
        |  FROM bg),
        |tb AS (SELECT bucket FROM b WHERE source = 'src0'),
        |rb AS (SELECT doc_id, bucket FROM b WHERE source <> 'src0'),
        |ct AS (SELECT bucket, count(*) AS ct FROM tb GROUP BY 1),
        |nt AS (SELECT count(*) AS nt FROM tb),
        |ns AS (SELECT count(*) AS ns FROM rb),
        |ratio AS (
        |  SELECT r.bucket,
        |    ln((COALESCE(ct.ct, 0) + 1e0) / (nt.nt + 64e0))
        |      - ln((r.cs + 1e0) / (ns.ns + 64e0)) AS lr
        |  FROM (SELECT bucket, count(*) AS cs FROM rb GROUP BY 1) r
        |  LEFT JOIN ct USING (bucket), nt, ns)
        |SELECT rb.doc_id, count(*)::INT AS n_bigrams,
        |  round(sum(lr), 6) AS log_w
        |FROM rb JOIN ratio USING (bucket)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Mechanical translation of [[Similarity.prototypicality]] in the
    // v1_centroids cell decomposition; round-before-rank keeps the
    // emitted ranks engine-exact, ties break on vec_id.
    "d34_prototype_prune" ->
      """WITH cells AS (
        |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings),
        |cent AS (SELECT label, pos, avg(v) AS c FROM cells GROUP BY 1, 2),
        |per AS (
        |  SELECT c1.label, c1.vec_id,
        |    round(sum(c1.v * ct.c)
        |      / (sqrt(sum(c1.v * c1.v)) * sqrt(sum(ct.c * ct.c))), 6) AS cosv
        |  FROM cells c1 JOIN cent ct
        |    ON c1.label = ct.label AND c1.pos = ct.pos
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT label, vec_id, cosv,
        |    CAST(row_number() OVER (
        |      PARTITION BY label ORDER BY cosv DESC, vec_id) AS INTEGER) AS rk
        |  FROM per)
        |SELECT label, rk, vec_id, cosv AS cos FROM r WHERE rk <= 5
        |ORDER BY label, rk""".stripMargin,
    "d5_cosine_lsh_recall" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.e, b.e) >= 0.4)
        |SELECT 'cosine_lsh' AS method, count(*)::INT AS n_exact,
        |  CAST(1.0 AS DOUBLE) AS recall FROM pairs""".stripMargin,
    // Mechanical DuckDB translation of [[Dedup.shingles]] (k=3) +
    // [[Dedup.shingleJaccardPairs]]: range(1, len-1) yields the same
    // n-k+1 window starts as Spark's sequence(0, n-k); docs under k words
    // contribute their whole text as one shingle in both engines.
    "t10_mg_heavy_hitters" ->
      """WITH items AS (
        |  SELECT CASE WHEN value < 50 THEN event_type
        |         ELSE event_type || '_' || user_id END AS item
        |  FROM events)
        |SELECT TRUE AS all_heavy_present, TRUE AS bound_ok,
        |  CAST((SELECT count(*) FROM (
        |    SELECT item, count(*) AS c FROM items GROUP BY item
        |    HAVING c > (SELECT count(*) FROM items) / 21.0)) AS INT)
        |    AS n_heavy""".stripMargin,
    "d16_incremental_recall" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) >= 3
        |      THEN list_transform(range(1, len(ws) - 1),
        |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      ELSE [array_to_string(ws, ' ')] END) AS shset
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
        |  FROM s a JOIN s b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  WHERE len(list_intersect(a.shset, b.shset))::DOUBLE /
        |        (len(a.shset) + len(b.shset)
        |         - len(list_intersect(a.shset, b.shset))) >= 0.2)
        |SELECT 'incremental_lsh' AS method, count(*)::INT AS n_exact,
        |  CAST(1.0 AS DOUBLE) AS recall FROM p""".stripMargin,
    "d2_minhash_recall" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) >= 3
        |      THEN list_transform(range(1, len(ws) - 1),
        |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      ELSE [array_to_string(ws, ' ')] END) AS shset
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.shset, b.shset))::DOUBLE /
        |        (len(a.shset) + len(b.shset)
        |         - len(list_intersect(a.shset, b.shset))) >= 0.2)
        |SELECT 'minhash_lsh' AS method, count(*)::INT AS n_exact,
        |  CAST(1.0 AS DOUBLE) AS recall FROM p""".stripMargin,
    "t1_langid" ->
      s"""WITH s AS ($langScoreSql),
        |b AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS best FROM s)
        |SELECT doc_id,
        |  CASE WHEN s_en = best AND best > 0 THEN 'en'
        |       WHEN s_es = best AND best > 0 THEN 'es'
        |       WHEN s_de = best AND best > 0 THEN 'de'
        |       WHEN s_fr = best AND best > 0 THEN 'fr'
        |       WHEN s_zh = best AND best > 0 THEN 'zh'
        |       ELSE 'und' END AS pred_lang
        |FROM b ORDER BY doc_id""".stripMargin,
    "t2_quality" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::INT AS n_words,
        |  CAST((len(text) - len(replace(text, '.', ''))) / 1 AS INT)
        |    + CAST((len(text) - len(replace(text, ',', ''))) / 1 AS INT)
        |    + CAST((len(text) - len(replace(text, '!', ''))) / 1 AS INT) AS n_punct,
        |  CAST((len(text) - len(replace(text, ' the ', ''))) / 5 AS INT)
        |    + CAST((len(text) - len(replace(text, ' a ', ''))) / 3 AS INT)
        |    + CAST((len(text) - len(replace(text, ' of ', ''))) / 4 AS INT)
        |    + CAST((len(text) - len(replace(text, ' and ', ''))) / 5 AS INT) AS n_stop,
        |  CASE WHEN len(text) < 10 THEN 0 ELSE least(100,
        |    50 + 5 * (CAST((len(text) - len(replace(text, ' the ', ''))) / 5 AS INT)
        |      + CAST((len(text) - len(replace(text, ' a ', ''))) / 3 AS INT)
        |      + CAST((len(text) - len(replace(text, ' of ', ''))) / 4 AS INT)
        |      + CAST((len(text) - len(replace(text, ' and ', ''))) / 5 AS INT))
        |    - 2 * (CAST((len(text) - len(replace(text, '.', ''))) / 1 AS INT)
        |      + CAST((len(text) - len(replace(text, ',', ''))) / 1 AS INT)
        |      + CAST((len(text) - len(replace(text, '!', ''))) / 1 AS INT))
        |    + CASE WHEN len(string_split(text, ' ')) >= 20 THEN 10 ELSE 0 END)::INT
        |  END AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t3_tokens" ->
      """SELECT lang,
        |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
        |  CAST(sum((len(text) + 3) // 4) AS BIGINT) AS total_subword_est,
        |  count(*) AS docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
        |ORDER BY doc_id""".stripMargin,
    "t6_redact_pii" ->
      """WITH aug AS (
        |  SELECT doc_id, text || ' reach user' || doc_id ||
        |    '@mail.example via https://ex.example/p/' || doc_id ||
        |    ' or 010-1234-5678' AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))::INT AS n_email,
        |  len(regexp_extract_all(text, 'https?://[^ ]+'))::INT AS n_url,
        |  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}-[0-9]{4}'))::INT AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM aug ORDER BY doc_id""".stripMargin,
    "t5_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents
        |), freq AS (
        |  SELECT w, count(*) AS cnt FROM toks GROUP BY w
        |), tot AS (SELECT sum(cnt) AS total FROM freq)
        |SELECT t.doc_id, count(*)::INT AS n_tokens,
        |  round(avg(ln(f.cnt::DOUBLE / tot.total)), 4) AS avg_logp
        |FROM toks t JOIN freq f ON t.w = f.w CROSS JOIN tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "t12_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |i AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |      FROM t),
        |gr AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g, w[i] AS w1 FROM i),
        |cb AS (SELECT g, count(*) AS cb FROM gr GROUP BY g),
        |cu AS (SELECT w1, count(*) AS cu FROM gr GROUP BY w1)
        |SELECT gr.doc_id, count(*)::INT AS n_bigrams,
        |  round(avg(ln(cb.cb::DOUBLE / cu.cu)), 4) AS avg_logp
        |FROM gr JOIN cb USING (g) JOIN cu USING (w1)
        |GROUP BY gr.doc_id ORDER BY doc_id""".stripMargin,
    // [[TextAnalysis.perplexityBuckets]]: the t12 LM CTEs, then the
    // corpus-wide rank over (round-4 avg_logp DESC, doc_id) — DuckDB's
    // single-node row_number pins the distributed GlobalRank order —
    // and integer tertile arithmetic (rn*3 vs n, no float division).
    "d41_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |i AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |      FROM t),
        |gr AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g, w[i] AS w1 FROM i),
        |cb AS (SELECT g, count(*) AS cb FROM gr GROUP BY g),
        |cu AS (SELECT w1, count(*) AS cu FROM gr GROUP BY w1),
        |lp AS (
        |  SELECT gr.doc_id, count(*)::INT AS n_bigrams,
        |    round(avg(ln(cb.cb::DOUBLE / cu.cu)), 4) AS avg_logp
        |  FROM gr JOIN cb USING (g) JOIN cu USING (w1)
        |  GROUP BY gr.doc_id),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (ORDER BY avg_logp DESC, doc_id) AS rn,
        |    count(*) OVER () AS n_docs
        |  FROM lp)
        |SELECT doc_id, n_bigrams, avg_logp, rn,
        |  CASE WHEN rn * 3 <= n_docs THEN 'head'
        |       WHEN rn * 3 <= n_docs * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  (CASE WHEN rn * 3 <= n_docs THEN 'head'
        |        WHEN rn * 3 <= n_docs * 2 THEN 'middle'
        |        ELSE 'tail' END) <> 'tail' AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "t7_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |i AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |      FROM t),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g FROM i),
        |c AS (SELECT doc_id, g, count(*) AS n FROM g GROUP BY doc_id, g),
        |agg AS (
        |  SELECT doc_id, sum(n)::INT AS n_bigrams, count(*)::INT AS n_distinct,
        |         max(n)::INT AS top_n,
        |         COALESCE(sum(CASE WHEN n > 1 THEN n END), 0)::INT AS dup_n
        |  FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(n_distinct, 0) AS n_distinct,
        |  COALESCE(top_n, 0) AS top_n,
        |  COALESCE(dup_n, 0) AS dup_n
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d10_chunk_shared" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, array_to_string(w[i*8+1 : i*8+8], ' ') AS chunk
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1)) AS i
        |        FROM t)
        |),
        |cnt AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk)
        |SELECT doc_id, count(*)::INT AS n_chunks,
        |  COALESCE(sum(CASE WHEN nd > 1 THEN 1 END), 0)::INT AS n_shared
        |FROM ch JOIN cnt USING (chunk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d11_curation_funnel" ->
      """WITH k AS (SELECT min(doc_id) AS doc_id FROM documents
        |           GROUP BY sha256(text)),
        |s1 AS (SELECT d.* FROM documents d JOIN k USING (doc_id)),
        |s2 AS (SELECT * FROM s1 WHERE len(string_split(text, ' ')) >= 30),
        |s3 AS (SELECT * FROM s2
        |       WHERE ('0x' || substr(sha256(text), 1, 8))::BIGINT % 10000 < 1000)
        |SELECT '0_all' AS stage, count(*) AS n_docs FROM documents
        |UNION ALL SELECT '1_exact_dedup', count(*) FROM s1
        |UNION ALL SELECT '2_min_words', count(*) FROM s2
        |UNION ALL SELECT '3_sample10', count(*) FROM s3
        |ORDER BY stage""".stripMargin,
    "t17_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(CAST(tf.tf AS DOUBLE)
        |      * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 4)
        |      AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, tf, score,
        |    CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, term ASC)
        |      AS INTEGER) AS rk
        |  FROM s)
        |SELECT doc_id, rk, term, tf, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "t8_bm25" ->
      """WITH per AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(text), '\s+'))::DOUBLE AS dl,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        w -> w = 'hash'))::DOUBLE AS tf0,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        w -> w = 'join'))::DOUBLE AS tf1,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        w -> w = 'vector'))::DOUBLE AS tf2
        |  FROM documents),
        |corpus AS (
        |  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |  FROM per)
        |SELECT doc_id, round(
        |    (CASE WHEN tf0 > 0 THEN
        |      ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1) * tf0 * (1.2 + 1)
        |        / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN
        |      ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1) * tf1 * (1.2 + 1)
        |        / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN
        |      ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1) * tf2 * (1.2 + 1)
        |        / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) ELSE 0 END),
        |  4) AS bm25
        |FROM per, corpus
        |WHERE tf0 + tf1 + tf2 > 0
        |ORDER BY doc_id""".stripMargin,
    // The windowed prefix sum is CAST BIGINT inside the CTE (DuckDB
    // window-sum of BIGINT is HUGEINT) so the shard division and the
    // output column stay in the BIGINT idioms every green gate uses —
    // tokenizer and cumsum frame are the proven d15/t3 forms verbatim.
    "d12_token_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(text, '\s+'))::BIGINT AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CAST(COALESCE(sum(toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS prefix
        |  FROM t)
        |SELECT prefix // 2048 AS shard, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "d13_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, len(w) AS nt,
        |    unnest(generate_series(0,
        |      CASE WHEN len(w) <= 16 THEN 0
        |           ELSE CAST(ceil((len(w) - 16) / 12.0) AS INT) END))
        |      AS chunk_idx
        |  FROM t)
        |SELECT doc_id, chunk_idx,
        |  least(16, nt - chunk_idx * 12) AS n_tokens,
        |  w[chunk_idx * 12 + 1] AS first_tok,
        |  w[chunk_idx * 12 + least(16, nt - chunk_idx * 12)] AS last_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // Mirrors the engine's boundary predicate exactly: the ('0x' ||
    // substr(md5, 1, 4))::BIGINT hex-parse is the proven d7/t4 idiom for
    // Spark's conv(substring(md5, 1, 4), 16, 10); the cumulative
    // boundary count uses the proven d12/d15 window frame; the chunk
    // hash re-derives from list(tok ORDER BY j) (the u12 idiom).
    "d31_content_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w,
        |    len(string_split_regex(text, '\s+')) AS n
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, n, w, unnest(range(1, n + 1)) AS j FROM t),
        |b AS (
        |  SELECT doc_id, j, w[j] AS tokj,
        |    CASE WHEN j >= 3 AND j <= n - 1 AND
        |      ('0x' || substr(md5(array_to_string(w[j-2:j], ' ')), 1, 4))::BIGINT
        |        % 8 = 0
        |    THEN 1 ELSE 0 END AS brk
        |  FROM tok),
        |c AS (
        |  SELECT doc_id, j, tokj,
        |    CAST(COALESCE(sum(brk) OVER (PARTITION BY doc_id ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cid
        |  FROM b)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_idx,
        |  CAST(count(*) AS INT) AS n_tokens,
        |  md5(array_to_string(list(tokj ORDER BY j), ' ')) AS chunk_hash
        |FROM c GROUP BY doc_id, cid ORDER BY doc_id, chunk_idx""".stripMargin,
    // Re-derives d31's chunks in SQL, then the pair join with the same
    // 2 <= df <= 50 pre-filter and the >= 3 shared floor.
    "d32_cdc_shared" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w,
        |    len(string_split_regex(text, '\s+')) AS n
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, n, w, unnest(range(1, n + 1)) AS j FROM t),
        |b AS (
        |  SELECT doc_id, j, w[j] AS tokj,
        |    CASE WHEN j >= 3 AND j <= n - 1 AND
        |      ('0x' || substr(md5(array_to_string(w[j-2:j], ' ')), 1, 4))::BIGINT
        |        % 8 = 0
        |    THEN 1 ELSE 0 END AS brk
        |  FROM tok),
        |c AS (
        |  SELECT doc_id, j, tokj,
        |    CAST(COALESCE(sum(brk) OVER (PARTITION BY doc_id ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cid
        |  FROM b),
        |ch AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list(tokj ORDER BY j), ' ')) AS h
        |  FROM c GROUP BY doc_id, cid),
        |f AS (
        |  SELECT h FROM ch GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS INT) AS n_shared
        |  FROM ch a JOIN f USING (h) JOIN ch b USING (h)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d14_mix_weights" ->
      """WITH g AS (
        |  SELECT lang, count(*) AS n_docs,
        |    sum(len(string_split_regex(text, '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang),
        |p AS (
        |  SELECT lang, n_docs, n_tokens,
        |    n_tokens::DOUBLE / sum(n_tokens) OVER () AS p
        |  FROM g),
        |t AS (
        |  SELECT lang, n_docs, n_tokens, p,
        |    pow(p, 0.5) / sum(pow(p, 0.5)) OVER () AS w
        |  FROM p)
        |SELECT lang, n_docs, n_tokens,
        |  round(p, 6) AS p_raw, round(w, 6) AS weight,
        |  CAST(round(w * 1000000) AS BIGINT) AS quota
        |FROM t ORDER BY lang""".stripMargin,
    "d15_token_cap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(text, '\s+'))::BIGINT AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    COALESCE(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM t)
        |SELECT doc_id, source FROM c
        |WHERE cum_before < 600 ORDER BY doc_id""".stripMargin,
    "t9_topk_ngrams" ->
      """WITH w AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT unnest(CASE WHEN len(ws) >= 3
        |    THEN list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |    ELSE []::VARCHAR[] END) AS gram
        |  FROM w)
        |SELECT gram, count(*) AS n FROM g GROUP BY gram
        |ORDER BY n DESC, gram ASC LIMIT 20""".stripMargin,
    "t14_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |d AS (SELECT DISTINCT w AS term, doc_id FROM toks WHERE w <> '')
        |SELECT term, count(*)::INT AS df,
        |  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
        |FROM d GROUP BY term ORDER BY term""".stripMargin,
    "d22_bloom_novelty" ->
      """WITH fp AS (
        |  SELECT doc_id, source,
        |    md5(substr(lower(trim(text)), 1, 40)) AS fp
        |  FROM documents)
        |SELECT b.doc_id FROM fp b
        |WHERE b.source = 'src7' AND NOT EXISTS (
        |  SELECT 1 FROM fp c WHERE c.source <> 'src7' AND c.fp = b.fp)
        |ORDER BY doc_id""".stripMargin,
    "d25_containment" ->
      """WITH sets AS (
        |  SELECT source, doc_id, list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.ws, b.ws))::INT AS inter,
        |  len(a.ws)::INT AS sz_a
        |FROM sets a JOIN sets b
        |  ON a.source = b.source AND a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE / len(a.ws) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d23_weighted_sample" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    (('0x' || substr(md5('wsamp' || doc_id::VARCHAR), 1, 8))
        |      ::UBIGINT)::DOUBLE / 4294967296.0 AS uni
        |  FROM documents)
        |SELECT doc_id, n_chars, -ln(1.0 - uni) / n_chars AS ekey
        |FROM u ORDER BY ekey, doc_id LIMIT 20""".stripMargin,
    "t11_edit_distance" ->
      """SELECT a.doc_id,
        |  levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin,
    "mm1_meta" ->
      """SELECT doc_id, octet_length(encode(text))::INT AS n_bytes,
        |  CAST(64 + doc_id % 64 AS INT) AS width,
        |  CAST(48 + doc_id % 48 AS INT) AS height,
        |  'fake/raw' AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm2_features" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text))::INT AS n
        |  FROM documents
        |)
        |SELECT doc_id, n AS n_bytes,
        |  array_to_string(
        |    list_transform(range(0, 8), j ->
        |      list_sum(list_transform(
        |        range(j*n//8, greatest(j*n//8 + 1, (j+1)*n//8)),
        |        i -> 16*(strpos('0123456789ABCDEF', h[2*i+1]) - 1)
        |             + strpos('0123456789ABCDEF', h[2*i+2]) - 1))::VARCHAR),
        |    ',') AS block_sums
        |FROM b ORDER BY doc_id""".stripMargin,
    // Mechanical translation of [[Dedup.dupSpans]] (k=5, minDocs=2):
    // same \s+ tokens, same 0-based window starts (generate_series is
    // 1-based → i-1), duplicate = gram text in ≥2 distinct docs (the
    // engine groups the sha2 of the gram — same partition of windows),
    // islands via pos − row_number, span_end = start + k − 1.
    "d37_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ws[i : i + 4], ' ') AS gram
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 4)) AS i
        |        FROM w WHERE len(ws) >= 5)),
        |dup AS (SELECT gram FROM g
        |        GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |m AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS isl
        |  FROM g JOIN dup USING (gram))
        |SELECT doc_id, min(pos)::INT AS span_start,
        |  (max(pos) + 4)::INT AS span_end, count(*)::INT AS n_windows
        |FROM m GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin,
    // [[Dedup.scrubSpans]] over [[Dedup.dupSpans]]: the d37 span CTEs,
    // a NOT EXISTS coverage test per token, and the ordered string_agg
    // reassembly (the d38 convention: span-free docs pass through via
    // the left join, fully-covered docs coalesce to '').
    "d42_span_scrub" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ws[i : i + 4], ' ') AS gram
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 4)) AS i
        |        FROM w WHERE len(ws) >= 5)),
        |dup AS (SELECT gram FROM g
        |        GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |m AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS isl
        |  FROM g JOIN dup USING (gram)),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        |       FROM m GROUP BY doc_id, isl),
        |tok AS (
        |  SELECT doc_id, i - 1 AS pos, ws[i] AS tok
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM w)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = t.doc_id AND t.pos BETWEEN sp.s AND sp.e)),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |      FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, len(w.ws)::INT AS n_tokens,
        |  (len(w.ws) - COALESCE(k.n_kept, 0))::INT AS n_removed,
        |  COALESCE(k.clean_text, '') AS clean_text
        |FROM w LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Mechanical translation of [[Contamination.contaminatedSpans]]
    // (k=5, eval = src0, the d9/d35 split): training windows that occur
    // verbatim anywhere in the eval block, merged into islands exactly
    // as d37's oracle does.
    "d40_decontaminate_spans" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, i - 1 AS pos,
        |    array_to_string(ws[i : i + 4], ' ') AS gram
        |  FROM (SELECT doc_id, source, ws,
        |          unnest(generate_series(1, len(ws) - 4)) AS i
        |        FROM w WHERE len(ws) >= 5)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
        |m AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS isl
        |  FROM g JOIN ev USING (gram) WHERE source <> 'src0')
        |SELECT doc_id, min(pos)::INT AS span_start,
        |  (max(pos) + 4)::INT AS span_end, count(*)::INT AS n_windows
        |FROM m GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin,
    // Mechanical translation of [[Tokenizer.tokenizeWords]] (V=50,
    // maxLen=4): occurrence-weighted gram frequencies, top-50 by
    // (f DESC, gram ASC), best-match per (word, pos), then the greedy
    // longest-match chain as a recursive CTE — one final row per word
    // when pos walks past the end. Single chars are the fallback
    // (COALESCE(bl, 1)), exactly the engine rule.
    "t22_subword_tokenize" ->
      """WITH RECURSIVE w AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word
        |  FROM documents),
        |wf AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
        |pp AS (
        |  SELECT word, cnt, unnest(generate_series(1, len(word) - 1)) AS p
        |  FROM wf WHERE len(word) >= 2),
        |pl AS (
        |  SELECT word, cnt, p,
        |    unnest(generate_series(2, least(4, len(word) - p + 1))) AS l
        |  FROM pp),
        |gf AS (SELECT substr(word, p, l) AS gram, sum(cnt) AS f
        |       FROM pl GROUP BY 1),
        |vocab AS (SELECT gram FROM gf ORDER BY f DESC, gram LIMIT 50),
        |m AS (
        |  SELECT word, p, max(l) AS bl
        |  FROM pl JOIN vocab ON substr(word, p, l) = vocab.gram
        |  GROUP BY 1, 2),
        |chain(word, wl, pos, n, subwords) AS (
        |  SELECT word, len(word), 1, 0, '' FROM wf
        |  UNION ALL
        |  SELECT c.word, c.wl, c.pos + COALESCE(m.bl, 1), c.n + 1,
        |    CASE WHEN c.subwords = ''
        |         THEN substr(c.word, c.pos, COALESCE(m.bl, 1))
        |         ELSE c.subwords || '|'
        |           || substr(c.word, c.pos, COALESCE(m.bl, 1)) END
        |  FROM chain c LEFT JOIN m ON m.word = c.word AND m.p = c.pos
        |  WHERE c.pos <= c.wl)
        |SELECT word, n::INT AS n_subwords, subwords
        |FROM chain WHERE pos > wl ORDER BY word""".stripMargin,
    // The t22 chain rolled back over the corpus: per-doc word count,
    // subword count, and fertility (round 6).
    "t23_tokenizer_fertility" ->
      """WITH RECURSIVE w AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word
        |  FROM documents),
        |wf AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
        |pp AS (
        |  SELECT word, cnt, unnest(generate_series(1, len(word) - 1)) AS p
        |  FROM wf WHERE len(word) >= 2),
        |pl AS (
        |  SELECT word, cnt, p,
        |    unnest(generate_series(2, least(4, len(word) - p + 1))) AS l
        |  FROM pp),
        |gf AS (SELECT substr(word, p, l) AS gram, sum(cnt) AS f
        |       FROM pl GROUP BY 1),
        |vocab AS (SELECT gram FROM gf ORDER BY f DESC, gram LIMIT 50),
        |m AS (
        |  SELECT word, p, max(l) AS bl
        |  FROM pl JOIN vocab ON substr(word, p, l) = vocab.gram
        |  GROUP BY 1, 2),
        |chain(word, wl, pos, n) AS (
        |  SELECT word, len(word), 1, 0 FROM wf
        |  UNION ALL
        |  SELECT c.word, c.wl, c.pos + COALESCE(m.bl, 1), c.n + 1
        |  FROM chain c LEFT JOIN m ON m.word = c.word AND m.p = c.pos
        |  WHERE c.pos <= c.wl),
        |fin AS (SELECT word, n FROM chain WHERE pos > wl),
        |dw AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
        |  FROM documents)
        |SELECT dw.doc_id, count(*)::INT AS n_words,
        |  sum(fin.n)::INT AS n_subwords,
        |  round(sum(fin.n)::DOUBLE / count(*), 6) AS fertility
        |FROM dw JOIN fin USING (word)
        |GROUP BY 1 ORDER BY dw.doc_id""".stripMargin,
    // Mechanical translation of [[Contamination.evalDirtiness]] (k=5,
    // eval = src0): the d40 window probe reversed — eval windows that
    // occur in the training side, merged into COVERAGE islands per EVAL
    // doc (a new island only when the gap between hit starts exceeds k,
    // the coverSpans rule — so overlapping non-adjacent hits merge and
    // the length sum counts each token once), bucketed on the ROUNDED
    // fraction exactly as the engine does.
    "d45_eval_dirtiness" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, i - 1 AS pos,
        |    array_to_string(ws[i : i + 4], ' ') AS gram
        |  FROM (SELECT doc_id, source, ws,
        |          unnest(generate_series(1, len(ws) - 4)) AS i
        |        FROM w WHERE len(ws) >= 5)),
        |hits AS (
        |  SELECT DISTINCT gram FROM g WHERE source <> 'src0'
        |    AND gram IN (SELECT gram FROM g WHERE source = 'src0')),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (
        |        PARTITION BY doc_id ORDER BY pos) > 5
        |      THEN 1 ELSE 0 END AS brk
        |  FROM g JOIN hits USING (gram) WHERE source = 'src0'),
        |mi AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM m),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        |       FROM mi GROUP BY doc_id, isl),
        |cov AS (SELECT doc_id, sum(e - s + 1) AS c FROM sp GROUP BY doc_id)
        |SELECT w.doc_id, len(w.ws)::INT AS n_tokens,
        |  COALESCE(cov.c, 0)::INT AS n_contaminated,
        |  round(COALESCE(cov.c, 0)::DOUBLE / len(w.ws), 6) AS dirty_frac,
        |  CASE WHEN COALESCE(cov.c, 0) = 0 THEN 'clean'
        |       WHEN round(COALESCE(cov.c, 0)::DOUBLE / len(w.ws), 6) > 0.8
        |         THEN 'dirty'
        |       ELSE 'partial' END AS bucket
        |FROM w LEFT JOIN cov USING (doc_id)
        |WHERE w.source = 'src0' ORDER BY w.doc_id""".stripMargin,
    // Mechanical translation of [[QualityClassifier.score]] + the
    // per-source rollup: same sha256-prefix unigram buckets (the d35
    // hashing idiom), add-1 smoothing over 64 buckets, document-count
    // prior, round-6 per-doc score, keep = score > 0 on the ROUNDED
    // value, then count/avg per source. e-notation literals force
    // DOUBLE division (the DuckDB decimal-literal trap).
    "t21_quality_classifier" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |tk AS (SELECT doc_id, source, unnest(ws) AS tok FROM w),
        |b AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(sha256(tok), 1, 8))::BIGINT % 64 AS bucket
        |  FROM tk),
        |cp AS (SELECT bucket, count(*) AS cp FROM b
        |       WHERE source = 'src0' GROUP BY 1),
        |cn AS (SELECT bucket, count(*) AS cn FROM b
        |       WHERE source <> 'src0' GROUP BY 1),
        |np AS (SELECT count(*) AS np FROM b WHERE source = 'src0'),
        |nn AS (SELECT count(*) AS nn FROM b WHERE source <> 'src0'),
        |dp AS (SELECT count(*) AS dp FROM documents WHERE source = 'src0'),
        |dn AS (SELECT count(*) AS dn FROM documents WHERE source <> 'src0'),
        |wt AS (
        |  SELECT bucket,
        |    ln((COALESCE(cp, 0) + 1e0) / (np + 64e0))
        |      - ln((COALESCE(cn, 0) + 1e0) / (nn + 64e0)) AS wv
        |  FROM cp FULL OUTER JOIN cn USING (bucket), np, nn),
        |sc AS (
        |  SELECT b.doc_id,
        |    round(ln(dp.dp::DOUBLE / dn.dn) + sum(wv), 6) AS score
        |  FROM b JOIN wt USING (bucket), dp, dn
        |  GROUP BY b.doc_id, dp.dp, dn.dn)
        |SELECT d.source, count(*)::INT AS n_docs,
        |  sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::INT AS n_kept,
        |  round(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS keep_rate,
        |  round(avg(score), 6) AS mean_score
        |FROM documents d JOIN sc USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Mechanical translation of [[d48ModernFunnel]]: the five per-doc
    // flag fragments are the t20/t24/d41/t21/d30 oracles verbatim
    // (reduced to their keep booleans), joined on doc_id, then the
    // cumulative-conjunction sums — the engine's single stack()
    // aggregate as six UNION ALL rows.
    "d48_modern_funnel" ->
      """WITH s20 AS (
        |  SELECT doc_id, text AS t, ' ' || text || ' ' AS pt,
        |    string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |b20 AS (
        |  SELECT doc_id,
        |    len(ws)::INT AS n_words,
        |    round(list_sum(list_transform(ws, x -> len(x)))::DOUBLE
        |      / len(ws), 6) AS mean_wlen,
        |    round(((len(t) - len(replace(t, '#', '')))
        |      + (len(t) - len(replace(t, '...', ''))) / 3)::DOUBLE
        |      / len(ws), 6) AS symbol_ratio,
        |    round(list_sum(list_transform(ws, x ->
        |      CASE WHEN regexp_matches(x, '[A-Za-z]') THEN 1 ELSE 0 END))
        |      ::DOUBLE / len(ws), 6) AS alpha_frac,
        |    (CASE WHEN position(' the ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' be ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' to ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' of ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' and ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' that ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' have ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' with ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' a ' IN pt) > 0 THEN 1 ELSE 0 END)::INT
        |      AS n_stop_kinds
        |  FROM s20),
        |f_rules AS (
        |  SELECT doc_id,
        |    ((n_words >= 50 AND n_words <= 100000)
        |     AND (mean_wlen >= 3 AND mean_wlen <= 10)
        |     AND (symbol_ratio <= 0.1) AND (alpha_frac >= 0.8)
        |     AND (n_stop_kinds >= 2)) AS ok_rules
        |  FROM b20),
        |w24 AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, array_to_string(ws[i : i + 1], ' ') AS g
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 1)) AS i
        |        FROM w24 WHERE len(ws) >= 2)),
        |f2 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |g3 AS (
        |  SELECT doc_id, array_to_string(ws[i : i + 2], ' ') AS g
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 2)) AS i
        |        FROM w24 WHERE len(ws) >= 3)),
        |f3 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
        |  GROUP BY 1),
        |g4 AS (
        |  SELECT doc_id, array_to_string(ws[i : i + 3], ' ') AS g
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 3)) AS i
        |        FROM w24 WHERE len(ws) >= 4)),
        |f4 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1, 2)
        |  GROUP BY 1),
        |g5 AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ws[i : i + 4], ' ') AS gram
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 4)) AS i
        |        FROM w24 WHERE len(ws) >= 5)),
        |dup24 AS (SELECT doc_id, gram FROM g5
        |          GROUP BY doc_id, gram HAVING count(*) >= 2),
        |m24 AS (
        |  SELECT g5.doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (
        |        PARTITION BY g5.doc_id ORDER BY pos) > 5
        |      THEN 1 ELSE 0 END AS brk
        |  FROM g5 JOIN dup24 USING (doc_id, gram)),
        |mi24 AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM m24),
        |sp24 AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        |         FROM mi24 GROUP BY doc_id, isl),
        |cov24 AS (SELECT doc_id, sum(e - s + 1) AS covered
        |          FROM sp24 GROUP BY doc_id),
        |f_rep AS (
        |  SELECT w24.doc_id,
        |    (round(COALESCE(f2.tf, 0), 6) <= 0.2
        |     AND round(COALESCE(f3.tf, 0), 6) <= 0.18
        |     AND round(COALESCE(f4.tf, 0), 6) <= 0.16
        |     AND round(COALESCE(cov24.covered, 0)::DOUBLE
        |           / len(w24.ws), 6) <= 0.15) AS ok_rep
        |  FROM w24 LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
        |  LEFT JOIN f4 USING (doc_id) LEFT JOIN cov24 USING (doc_id)),
        |t41 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |i41 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |        FROM t41),
        |gr41 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g, w[i] AS w1
        |         FROM i41),
        |cb41 AS (SELECT g, count(*) AS cb FROM gr41 GROUP BY g),
        |cu41 AS (SELECT w1, count(*) AS cu FROM gr41 GROUP BY w1),
        |lp41 AS (
        |  SELECT gr41.doc_id,
        |    round(avg(ln(cb41.cb::DOUBLE / cu41.cu)), 4) AS avg_logp
        |  FROM gr41 JOIN cb41 USING (g) JOIN cu41 USING (w1)
        |  GROUP BY gr41.doc_id),
        |r41 AS (
        |  SELECT *,
        |    row_number() OVER (ORDER BY avg_logp DESC, doc_id) AS rn,
        |    count(*) OVER () AS n_docs
        |  FROM lp41),
        |f_lm AS (SELECT doc_id, (rn * 3 <= n_docs * 2) AS ok_lm FROM r41),
        |w21 AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |tk21 AS (SELECT doc_id, source, unnest(ws) AS tok FROM w21),
        |b21 AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(sha256(tok), 1, 8))::BIGINT % 64 AS bucket
        |  FROM tk21),
        |cp AS (SELECT bucket, count(*) AS cp FROM b21
        |       WHERE source = 'src0' GROUP BY 1),
        |cn AS (SELECT bucket, count(*) AS cn FROM b21
        |       WHERE source <> 'src0' GROUP BY 1),
        |np AS (SELECT count(*) AS np FROM b21 WHERE source = 'src0'),
        |nn AS (SELECT count(*) AS nn FROM b21 WHERE source <> 'src0'),
        |dp AS (SELECT count(*) AS dp FROM documents WHERE source = 'src0'),
        |dn AS (SELECT count(*) AS dn FROM documents WHERE source <> 'src0'),
        |wt AS (
        |  SELECT bucket,
        |    ln((COALESCE(cp, 0) + 1e0) / (np + 64e0))
        |      - ln((COALESCE(cn, 0) + 1e0) / (nn + 64e0)) AS wv
        |  FROM cp FULL OUTER JOIN cn USING (bucket), np, nn),
        |sc AS (
        |  SELECT b21.doc_id,
        |    round(ln(dp.dp::DOUBLE / dn.dn) + sum(wv), 6) AS score
        |  FROM b21 JOIN wt USING (bucket), dp, dn
        |  GROUP BY b21.doc_id, dp.dp, dn.dn),
        |rsc AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM sc),
        |f_clf AS (SELECT doc_id, (rn * 2 <= n) AS ok_clf FROM rsc),
        |hsh AS (SELECT doc_id, sha256(text) AS h FROM documents),
        |pick AS (SELECT h, min(doc_id) AS keep_id FROM hsh GROUP BY h),
        |f_dd AS (
        |  SELECT hsh.doc_id, (hsh.doc_id = pick.keep_id) AS ok_dedup
        |  FROM hsh JOIN pick USING (h)),
        |flags AS (
        |  SELECT d.doc_id, ok_rules, ok_rep,
        |    COALESCE(ok_lm, false) AS ok_lm, ok_clf, ok_dedup
        |  FROM documents d
        |  JOIN f_rules USING (doc_id) JOIN f_rep USING (doc_id)
        |  LEFT JOIN f_lm USING (doc_id)
        |  JOIN f_clf USING (doc_id) JOIN f_dd USING (doc_id)),
        |agg AS (
        |  SELECT count(*)::BIGINT AS n0,
        |    sum(CASE WHEN ok_rules THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN ok_rules AND ok_rep THEN 1 ELSE 0 END)::BIGINT
        |      AS n2,
        |    sum(CASE WHEN ok_rules AND ok_rep AND ok_lm
        |        THEN 1 ELSE 0 END)::BIGINT AS n3,
        |    sum(CASE WHEN ok_rules AND ok_rep AND ok_lm AND ok_clf
        |        THEN 1 ELSE 0 END)::BIGINT AS n4,
        |    sum(CASE WHEN ok_rules AND ok_rep AND ok_lm AND ok_clf
        |        AND ok_dedup THEN 1 ELSE 0 END)::BIGINT AS n5
        |  FROM flags)
        |SELECT '0_all' AS stage, n0 AS n_kept FROM agg
        |UNION ALL SELECT '1_gopher_rules', n1 FROM agg
        |UNION ALL SELECT '2_repetition', n2 FROM agg
        |UNION ALL SELECT '3_lm_tertile', n3 FROM agg
        |UNION ALL SELECT '4_classifier', n4 FROM agg
        |UNION ALL SELECT '5_exact_dedup', n5 FROM agg
        |ORDER BY stage""".stripMargin,
    // Mechanical translation of [[t25QualityCalibration]]: the t21
    // scoring CTEs, DuckDB's single-node row_number pinning the
    // distributed GlobalRank (total order on (score, doc_id) — the d41
    // discipline), integer-arithmetic decile bins, round-6 sigmoid and
    // observed-rate means.
    "t25_quality_calibration" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |tk AS (SELECT doc_id, source, unnest(ws) AS tok FROM w),
        |b AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(sha256(tok), 1, 8))::BIGINT % 64 AS bucket
        |  FROM tk),
        |cp AS (SELECT bucket, count(*) AS cp FROM b
        |       WHERE source = 'src0' GROUP BY 1),
        |cn AS (SELECT bucket, count(*) AS cn FROM b
        |       WHERE source <> 'src0' GROUP BY 1),
        |np AS (SELECT count(*) AS np FROM b WHERE source = 'src0'),
        |nn AS (SELECT count(*) AS nn FROM b WHERE source <> 'src0'),
        |dp AS (SELECT count(*) AS dp FROM documents WHERE source = 'src0'),
        |dn AS (SELECT count(*) AS dn FROM documents WHERE source <> 'src0'),
        |wt AS (
        |  SELECT bucket,
        |    ln((COALESCE(cp, 0) + 1e0) / (np + 64e0))
        |      - ln((COALESCE(cn, 0) + 1e0) / (nn + 64e0)) AS wv
        |  FROM cp FULL OUTER JOIN cn USING (bucket), np, nn),
        |sc AS (
        |  SELECT b.doc_id,
        |    round(ln(dp.dp::DOUBLE / dn.dn) + sum(wv), 6) AS score
        |  FROM b JOIN wt USING (bucket), dp, dn
        |  GROUP BY b.doc_id, dp.dp, dn.dn),
        |j AS (
        |  SELECT sc.doc_id, sc.score, (d.source = 'src0') AS is_pos
        |  FROM sc JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY score, doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM j)
        |SELECT (((rn - 1) * 10) // n)::INT AS bin, count(*)::INT AS n_docs,
        |  round(avg(1e0 / (1e0 + exp(-score))), 6) AS mean_p,
        |  round(avg(CASE WHEN is_pos THEN 1e0 ELSE 0e0 END), 6)
        |    AS frac_pos
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin,
    // Mechanical translation of [[Dedup.chunkScrub]] (chunkWords=8,
    // minOccurrences=2): the d10 chunk extraction, corpus OCCURRENCE
    // counts (not distinct docs — the C4 convention), and an ordered
    // string_agg rebuilding clean_text exactly as the engine's
    // sorted-struct reassembly does (aggregates skip the NULLed-out
    // removed chunks on both sides; all-boilerplate docs coalesce '').
    "d38_chunk_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS idx,
        |    array_to_string(w[i*8+1 : i*8+8], ' ') AS chunk
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(0,
        |            CAST(ceil(len(w) / 8.0) AS INT) - 1)) AS i
        |        FROM t)),
        |occ AS (SELECT chunk, count(*) AS occ FROM ch GROUP BY chunk)
        |SELECT doc_id, count(*)::INT AS n_chunks,
        |  COALESCE(sum(CASE WHEN occ >= 2 THEN 1 END), 0)::INT
        |    AS n_removed,
        |  COALESCE(string_agg(CASE WHEN occ < 2 THEN chunk END,
        |    ' ' ORDER BY idx), '') AS clean_text
        |FROM ch JOIN occ USING (chunk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Mechanical translation of [[TextAnalysis.gopherRepetitionRules]]:
    // top-n-gram mass = max/sum of per-(doc, gram) counts; the dup-5
    // coverage uses the coverSpans COVERAGE merge WITHIN the document
    // (island breaks only when the start gap exceeds k, so overlapping
    // non-adjacent repeats never double-count a token; occurrence count
    // >= 2, not distinct docs); round-6 fractions and
    // the rule bounds evaluated on the rounded values, as the engine
    // does. Docs shorter than an n-gram pass that rule vacuously
    // (COALESCE 0).
    "t24_gopher_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, array_to_string(ws[i : i + 1], ' ') AS g
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 1)) AS i
        |        FROM w WHERE len(ws) >= 2)),
        |f2 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |g3 AS (
        |  SELECT doc_id, array_to_string(ws[i : i + 2], ' ') AS g
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 2)) AS i
        |        FROM w WHERE len(ws) >= 3)),
        |f3 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
        |  GROUP BY 1),
        |g4 AS (
        |  SELECT doc_id, array_to_string(ws[i : i + 3], ' ') AS g
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 3)) AS i
        |        FROM w WHERE len(ws) >= 4)),
        |f4 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1, 2)
        |  GROUP BY 1),
        |g5 AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ws[i : i + 4], ' ') AS gram
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 4)) AS i
        |        FROM w WHERE len(ws) >= 5)),
        |dup AS (SELECT doc_id, gram FROM g5
        |        GROUP BY doc_id, gram HAVING count(*) >= 2),
        |m AS (
        |  SELECT g5.doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (
        |        PARTITION BY g5.doc_id ORDER BY pos) > 5
        |      THEN 1 ELSE 0 END AS brk
        |  FROM g5 JOIN dup USING (doc_id, gram)),
        |mi AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM m),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        |       FROM mi GROUP BY doc_id, isl),
        |cov AS (SELECT doc_id, sum(e - s + 1) AS covered
        |        FROM sp GROUP BY doc_id),
        |b AS (
        |  SELECT w.doc_id, len(w.ws)::INT AS n_tokens,
        |    round(COALESCE(f2.tf, 0), 6) AS top2_frac,
        |    round(COALESCE(f3.tf, 0), 6) AS top3_frac,
        |    round(COALESCE(f4.tf, 0), 6) AS top4_frac,
        |    round(COALESCE(cov.covered, 0)::DOUBLE / len(w.ws), 6)
        |      AS dup5_cover_frac
        |  FROM w LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
        |  LEFT JOIN f4 USING (doc_id) LEFT JOIN cov USING (doc_id))
        |SELECT doc_id, n_tokens, top2_frac, top3_frac, top4_frac,
        |  dup5_cover_frac,
        |  top2_frac <= 0.2 AS ok_top2, top3_frac <= 0.18 AS ok_top3,
        |  top4_frac <= 0.16 AS ok_top4,
        |  dup5_cover_frac <= 0.15 AS ok_dup5,
        |  (top2_frac <= 0.2 AND top3_frac <= 0.18 AND top4_frac <= 0.16
        |   AND dup5_cover_frac <= 0.15) AS keep
        |FROM b ORDER BY doc_id""".stripMargin,
    // Mechanical translation of [[TextAnalysis.gopherRules]]: same \s+
    // tokens, marker counts via the length-difference identity, the
    // stop-word KIND count over the padded text, DOUBLE ratios rounded
    // at 6 on both sides. The '...' marker diff is always a multiple of
    // 3, so /3 is exact and DuckDB's round-on-cast equals Spark's
    // truncation.
    "t20_gopher_rules" ->
      """WITH s AS (
        |  SELECT doc_id, text AS t, ' ' || text || ' ' AS pt,
        |    string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    len(ws)::INT AS n_words,
        |    round(list_sum(list_transform(ws, x -> len(x)))::DOUBLE
        |      / len(ws), 6) AS mean_wlen,
        |    round(((len(t) - len(replace(t, '#', '')))
        |      + (len(t) - len(replace(t, '...', ''))) / 3)::DOUBLE
        |      / len(ws), 6) AS symbol_ratio,
        |    round(list_sum(list_transform(ws, x ->
        |      CASE WHEN regexp_matches(x, '[A-Za-z]') THEN 1 ELSE 0 END))
        |      ::DOUBLE / len(ws), 6) AS alpha_frac,
        |    (CASE WHEN position(' the ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' be ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' to ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' of ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' and ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' that ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' have ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' with ' IN pt) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN position(' a ' IN pt) > 0 THEN 1 ELSE 0 END)::INT
        |      AS n_stop_kinds
        |  FROM s)
        |SELECT doc_id, n_words, mean_wlen, symbol_ratio, alpha_frac,
        |  n_stop_kinds,
        |  (n_words >= 50 AND n_words <= 100000) AS ok_words,
        |  (mean_wlen >= 3 AND mean_wlen <= 10) AS ok_wlen,
        |  (symbol_ratio <= 0.1) AS ok_symbols,
        |  (alpha_frac >= 0.8) AS ok_alpha,
        |  (n_stop_kinds >= 2) AS ok_stop,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (mean_wlen >= 3 AND mean_wlen <= 10)
        |    AND (symbol_ratio <= 0.1) AND (alpha_frac >= 0.8)
        |    AND (n_stop_kinds >= 2)) AS keep
        |FROM b ORDER BY doc_id""".stripMargin,
    // [[Similarity.kCenterCoreset]] k=4 as four chained argmax CTEs —
    // the greedy chain is replayable precisely BECAUSE the engine ranks
    // on (round(minDist²,6) DESC, id ASC). Squared-L2 sums run in
    // element order on both engines; each round's new distance rounds
    // at 6 before the LEAST fold, mirroring the engine's per-center
    // round-then-least.
    "v4_kcenter_coreset" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
        |           FROM embeddings),
        |s1 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1),
        |m1 AS (
        |  SELECT v.vec_id, v.e,
        |    round(list_sum(list_transform(range(1, len(v.e) + 1),
        |      i -> (v.e[i] - s1.e[i]) * (v.e[i] - s1.e[i]))), 6) AS d
        |  FROM v, s1 WHERE v.vec_id <> s1.vec_id),
        |s2 AS (SELECT vec_id, e, d FROM m1 ORDER BY d DESC, vec_id LIMIT 1),
        |m2 AS (
        |  SELECT m1.vec_id, m1.e,
        |    least(m1.d, round(list_sum(list_transform(
        |      range(1, len(m1.e) + 1),
        |      i -> (m1.e[i] - s2.e[i]) * (m1.e[i] - s2.e[i]))), 6)) AS d
        |  FROM m1, s2 WHERE m1.vec_id <> s2.vec_id),
        |s3 AS (SELECT vec_id, e, d FROM m2 ORDER BY d DESC, vec_id LIMIT 1),
        |m3 AS (
        |  SELECT m2.vec_id, m2.e,
        |    least(m2.d, round(list_sum(list_transform(
        |      range(1, len(m2.e) + 1),
        |      i -> (m2.e[i] - s3.e[i]) * (m2.e[i] - s3.e[i]))), 6)) AS d
        |  FROM m2, s3 WHERE m2.vec_id <> s3.vec_id),
        |s4 AS (SELECT vec_id, d FROM m3 ORDER BY d DESC, vec_id LIMIT 1)
        |SELECT 1::INT AS rk, vec_id, 0.0::DOUBLE AS dist_sq FROM s1
        |UNION ALL SELECT 2::INT, vec_id, d FROM s2
        |UNION ALL SELECT 3::INT, vec_id, d FROM s3
        |UNION ALL SELECT 4::INT, vec_id, d FROM s4
        |ORDER BY rk""".stripMargin,
    "mm3_frames" ->
      """SELECT doc_id,
        |  ((octet_length(encode(text))::INT - 1) // 64 + 1)::INT AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm4_binary_dedup" ->
      """SELECT sha256(substring(text, 1, 64)) AS fp, count(*) AS n,
        |  min(doc_id) AS first_doc
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY fp""".stripMargin)

  /** The dist twin computes the identical result through the distributed
    * tier, so it is pinned by the identical oracle.
    */
  val oraclesWithTwins: Map[String, String] =
    oracles + ("d6_dedup_components_dist" -> oracles("d6_dedup_components"))
}
