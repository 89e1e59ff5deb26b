package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-statistics retrieval operators for the training-data pipeline:
  * exact heavy-hitter n-grams (the boilerplate-detection / contamination
  * vocabulary pass every large corpus audit runs) and BM25 relevance
  * scoring (the lexical retrieval baseline behind eval-set decontamination
  * and targeted corpus slicing).
  *
  * Both are deliberately scan-shaped for 100 TB:
  *  - `topNgrams` is partial-aggregate → one shuffle on the gram key →
  *    TakeOrderedAndProject: the map-side combine collapses each
  *    partition's gram counts before anything moves, and only k rows
  *    survive the final ordering. The approximate alternative
  *    (count-min + heap) saves the shuffle of the distinct-gram tail;
  *    the exact form is kept because the gate needs a DuckDB oracle.
  *  - `bm25` never shuffles tokens at all: per-document term frequencies
  *    are computed inside the scan stage with array `filter`/`size`
  *    (no explode → regroup round-trip), the corpus statistics
  *    (N, avgdl, per-term document frequencies) are ONE tiny aggregate
  *    broadcast back, and scoring is a second scan-stage projection.
  *    Two passes over the corpus, zero wide exchanges — at 1000
  *    executors the cost is two table scans, not a token shuffle.
  */
object Search {

  private def ws(textCol: String): Column = split(lower(col(textCol)), "\\s+")

  /** Exact top-`k` whitespace-token `n`-grams by corpus frequency,
    * ties broken by gram text — a total order, so the result is
    * deterministic and oracle-comparable.
    */
  def topNgrams(docs: DataFrame, n: Int = 3, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    docs.select(ws(textCol).as("ws"))
      .select(explode(when(size(col("ws")) >= n,
        expr(s"transform(sequence(0, size(ws) - $n), " +
          s"i -> concat_ws(' ', slice(ws, i + 1, $n)))"))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
  }

  /** BM25 score of every document containing at least one query term.
    *
    * Standard Robertson/Sparck-Jones form with the +1 idf smoothing
    * (idf = ln((N − df + 0.5)/(df + 0.5) + 1), so idf > 0 always):
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    *
    * The score is rounded to 4 decimals — term contributions are summed
    * in the caller-supplied term order in both this plan and the SQL
    * oracle, and rounding absorbs last-ulp `ln` differences between
    * engines (same contract as t5's avg_logp).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 requires at least one query term")
    require(terms.distinct == terms, "bm25 query terms must be distinct")
    def tfCol(t: String) = s"tf_${terms.indexOf(t)}"
    val per = docs.select(
      col(idCol) +: size(ws(textCol)).cast("double").as("dl") +:
        terms.map(t =>
          size(filter(ws(textCol), w => w === lit(t))).cast("double")
            .as(tfCol(t))): _*)
    // ONE corpus aggregate carries every global statistic the score
    // needs; broadcast back as a 1-row scalar (the allowed crossJoin
    // shape — see the anti-pattern sweep note in VERDICT r8).
    val aggCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.map(t => sum(when(col(tfCol(t)) > 0, 1).otherwise(0))
        .cast("double").as(s"df_${terms.indexOf(t)}"))
    val corpus = per.agg(aggCols.head, aggCols.tail: _*)
    val scored = per.crossJoin(broadcast(corpus))
    val termScore = terms.map { t =>
      val i = terms.indexOf(t)
      val tf = col(s"tf_$i"); val dft = col(s"df_$i")
      val idf = log((col("n_docs") - dft + 0.5) / (dft + 0.5) + 1)
      // lit() keeps scalar*column association identical to the oracle's
      // ((b*dl)/avgdl) — float op order is part of the hash contract.
      when(tf > 0,
        idf * tf * (k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(0.0)
    }.reduceLeft(_ + _) // left-to-right: the oracle adds in the same order
    scored
      .filter(terms.map(t => col(s"tf_${terms.indexOf(t)}")).reduce(_ + _) > 0)
      .select(col(idCol), round(termScore, 4).as("bm25"))
  }

  /** Reciprocal-rank fusion of several named rankings — the standard
    * hybrid-retrieval combiner (Cormack/Clarke/Büttcher RRF): each input
    * is a (id, rank) frame holding one ranker's top-N, and the fused
    * score of a document is Σ_r 1/(kConst + rank_r), with a ranker
    * contributing 0 where the document is outside its top-N. The legs
    * full-outer-join on the id — each leg is ≤ N rows (the rankers
    * already did their distributed TakeOrdered), so the fusion itself
    * is constant-sized work no matter the corpus: the 100 TB cost lives
    * entirely in the rankers, which is where it belongs. The fused
    * score rounds to 6 decimals before the final rank (round-then-rank,
    * ties by id) so the emitted top-k is engine-exact.
    *
    * Each leg must carry UNIQUE ids (one row per ranked document — the
    * natural output of [[rankTopN]]); a duplicated id would multiply
    * rows through the full-outer join chain and fuse wrong scores, so
    * the guard fails loudly instead. The check is free-ish: each leg is
    * materialized once (≤ N rows via localCheckpoint — the join was
    * going to execute it anyway) and the count/distinct run on the
    * materialized rows, not the ranker's corpus scan.
    *
    * Output: (idCol, <name>_rank per leg ordered as given, rrf),
    * the `topK` best fused documents.
    */
  def rrfFuse(legs: Seq[(String, DataFrame)], topK: Int,
      kConst: Int = 60, idCol: String = "doc_id"): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one ranking")
    require(legs.map(_._1).distinct.length == legs.length,
      s"rrfFuse leg names must be distinct, got ${legs.map(_._1)}")
    require(topK >= 1 && kConst >= 1,
      s"need topK >= 1 and kConst >= 1, got topK=$topK kConst=$kConst")
    val named = legs.map { case (name, df) =>
      val leg = graft.CacheRegistry.register(
        df.select(col(idCol), col("rank").as(s"${name}_rank"))
          .localCheckpoint())
      val rows = leg.count()
      val ids = leg.select(col(idCol)).distinct().count()
      require(rows == ids,
        s"rrfFuse: leg '$name' has duplicate $idCol rows ($rows rows, " +
          s"$ids distinct ids) — each leg must be one ranker's top-N")
      leg
    }
    val joined = named.reduceLeft((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = legs.map { case (name, _) =>
      val r = col(s"${name}_rank")
      when(r.isNotNull, lit(1.0) / (lit(kConst.toDouble) + r.cast("double")))
        .otherwise(lit(0.0))
    }.reduceLeft(_ + _) // left-to-right, matching the oracle's add order
    joined.withColumn("rrf", round(score, 6))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topK)
  }

  /** Rank a scored frame's top-`n`: distributed TakeOrdered down to the
    * n survivors, THEN a row_number over that bounded set — the global
    * window runs on ≤ n rows, never on the corpus (the GlobalRank rule:
    * a corpus-wide Window.orderBy is a single-task cliff; a window over
    * an already-limited frame is constant work). `scoreCol` must be
    * pre-rounded by the caller (round-then-rank) for cross-engine rank
    * parity; ties break by id ascending.
    */
  def rankTopN(scored: DataFrame, scoreCol: String, n: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    scored.orderBy(col(scoreCol).desc, col(idCol).asc).limit(n)
      .withColumn("rank", row_number().over(w))
  }

  /** Keyword-in-context (KWIC) snippet extraction — the retrieval-result
    * presentation pass: for every document containing `term`, the
    * 1-based token position of its FIRST occurrence and the ±`window`
    * token snippet around it, clamped at the document edges. Pure
    * scan-stage array expressions (split / array_position / slice) —
    * zero shuffle, codegen-resident, the same per-row shape as the
    * text-battery operators; at 1000 executors this is one table scan.
    * Matching is case-insensitive: the tokenizer lowercases the text,
    * so the term is lowercased to match (a mixed-case term would
    * otherwise silently return zero rows). Returns (idCol, pos,
    * snippet).
    */
  def kwicSnippets(docs: DataFrame, term: String, window: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(term.nonEmpty, "kwicSnippets requires a non-empty term")
    require(window >= 0, s"need window >= 0, got $window")
    docs.select(col(idCol), ws(textCol).as("ws"))
      .withColumn("pos", array_position(col("ws"),
        lit(term.toLowerCase(java.util.Locale.ROOT))))
      .filter(col("pos") > 0)
      .withColumn("start", greatest(col("pos") - window, lit(1L)))
      .withColumn("len",
        least(col("pos") + window, size(col("ws")).cast("long"))
          - col("start") + 1)
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("ws"), col("start"), col("len")))
          .as("snippet"))
  }

  /** PMI-scored collocations: the top-`k` adjacent bigrams by pointwise
    * mutual information ln(p(ab) / (p(a)·p(b))) with a `minCount`
    * support floor (the rare-pair PMI explosion guard) — the standard
    * corpus-statistics pass for multiword-expression discovery and
    * boilerplate phrase auditing. p(ab) over the bigram total, p(a)
    * over the unigram total.
    *
    * Scale shape: two map-side-combined aggregates (bigram counts,
    * unigram counts — the [[topNgrams]] shapes), one 1-row totals
    * aggregate broadcast back, and the unigram table joins twice as a
    * vocabulary-sized broadcast. PMI rounds to 4 BEFORE the final rank
    * (ties by bigram text) — round-then-rank. The division association
    * `(cab/Nbi) / ((ca/Nuni) * (cb/Nuni))` is part of the oracle's
    * float contract — do not refactor the algebra on one side only.
    * Output: (gram, n, pmi, rank).
    */
  def pmiCollocations(docs: DataFrame, k: Int = 10, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(k >= 1 && minCount >= 1,
      s"need k >= 1 and minCount >= 1, got k=$k minCount=$minCount")
    val toks = graft.CacheRegistry.register(
      docs.select(ws(textCol).as("ws")).cache())
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // biAll cached: it feeds both the totals (p(ab)'s denominator is the
    // WHOLE bigram mass, not just the frequent survivors) and the floor.
    val biAll = graft.CacheRegistry.register(toks
      .select(explode(when(size(col("ws")) >= 2,
        expr("transform(sequence(0, size(ws) - 2), " +
          "i -> concat_ws(' ', slice(ws, i + 1, 2)))"))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .cache())
    val bi = biAll.filter(col("n") >= minCount)
    val totals = uni.agg(sum(col("c")).cast("double").as("n_uni"))
      .crossJoin(biAll.agg(sum(col("n")).cast("double").as("n_bi")))
    val scored = bi
      .withColumn("wa", split(col("gram"), " ").getItem(0))
      .withColumn("wb", split(col("gram"), " ").getItem(1))
      .join(broadcast(uni.select(col("w").as("wa"), col("c").as("ca"))), "wa")
      .join(broadcast(uni.select(col("w").as("wb"), col("c").as("cb"))), "wb")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("n").cast("double") / col("n_bi")) /
          ((col("ca").cast("double") / col("n_uni")) *
            (col("cb").cast("double") / col("n_uni")))), 4))
      .select(col("gram"), col("n"), col("pmi"))
    rankTopN(scored, "pmi", k, idCol = "gram")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): tokens are
    * nodes, adjacent co-occurrence (window 2) is an undirected edge, and
    * PageRank over that graph surfaces the corpus's load-bearing
    * vocabulary — the graph-ranking alternative to frequency/tf-idf
    * keywords (a hub term that glues many contexts outranks a merely
    * frequent one). Edges below `minCount` unordered-pair support are
    * dropped — the same floor discipline as [[pmiCollocations]], which
    * also bounds the vocabulary graph far below corpus size.
    *
    * Scale shape: one tokenize scan feeds a canonical-pair count that
    * combines map-side (pair space = observed adjacencies, not
    * vocabulary²); PageRank then iterates over the vocabulary-sized
    * edge list ([[graft.graph.GraphAlgos.pageRank]] — edges partitioned
    * once, rank table moves per round), and the result is a bounded
    * round-then-rank top-k. Scores round to 6 decimals before ranking
    * (the g2 PageRank contract: identical arithmetic, only float
    * summation order differs cross-engine).
    * Output: (token, score, rank).
    */
  def textRankKeywords(docs: DataFrame, k: Int = 20, minCount: Long = 3,
      iterations: Int = 10, textCol: String = "text"): DataFrame = {
    require(k >= 1 && minCount >= 1 && iterations >= 1,
      s"need k, minCount, iterations >= 1, got $k/$minCount/$iterations")
    val toks = docs.select(ws(textCol).as("ws"))
    val edges = toks
      .select(explode(when(size(col("ws")) >= 2,
        expr("transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', " +
          "least(ws[i], ws[i + 1]), greatest(ws[i], ws[i + 1])))"))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .withColumn("u", split(col("gram"), " ").getItem(0))
      .withColumn("v", split(col("gram"), " ").getItem(1))
      .filter(col("u") =!= col("v"))
    val ranks = graft.graph.GraphAlgos.pageRank(
      edges.select(col("u").as("src"), col("v").as("dst")), iterations)
    rankTopN(
      ranks.select(col("node").as("token"),
        round(col("rank"), 6).as("score")),
      "score", k, idCol = "token")
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio-lite / RM1):
    * the top-`relK` documents by seed-term frequency form the
    * pseudo-relevant set, and candidate expansion terms are scored by
    * their summed term frequency within that set weighted by corpus
    * idf (ln(N/df)) — the classic second-pass retrieval vocabulary a
    * RAG/eval-decontamination stack uses to widen a probe query.
    *
    * Scale shape: corpus-sized work is exactly two aggregates that both
    * combine map-side — the (doc, term) tf and the per-term df (over
    * the tf frame, vocabulary-sized, broadcast back). The
    * pseudo-relevant set is a bounded TakeOrdered (integer tf, ties by
    * id — exact round-then-rank), so the scoring join is
    * broadcast-sized. Scores round to 4 decimals BEFORE the final rank
    * (ties by term) for cross-engine rank parity.
    * Output: (term, score, rank), the `topM` best expansion terms.
    */
  def expandQuery(docs: DataFrame, seedTerm: String, relK: Int = 10,
      topM: Int = 10, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(seedTerm.nonEmpty, "expandQuery requires a non-empty seed term")
    require(relK >= 1 && topM >= 1, s"need relK/topM >= 1, got $relK/$topM")
    val seed = seedTerm.toLowerCase(java.util.Locale.ROOT)
    // tf feeds three consumers (the seed ranking, the df aggregate, and
    // the expansion scoring) — cached so the corpus tokenize+aggregate
    // runs once, not three times (the d4 sets-cache discipline).
    val tf = graft.CacheRegistry.register(docs
      .select(col(idCol), explode(ws(textCol)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .cache())
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val rel = rankTopN(tf.filter(col("term") === seed)
        .select(col(idCol), col("tf").as("seed_tf")), "seed_tf", relK, idCol)
      .select(col(idCol))
    val scored = tf
      .join(broadcast(rel), idCol)
      .filter(col("term") =!= seed)
      .groupBy(col("term")).agg(sum(col("tf")).as("tf_rel"))
      .join(broadcast(dfr), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf_rel").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 4))
      .select(col("term"), col("score"))
    rankTopN(scored, "score", topM, idCol = "term")
  }

  /** Exact two-token phrase search: every document whose lowercased
    * token stream contains `w1` immediately followed by `w2`, with the
    * 1-based token position of the FIRST such occurrence. Zero shuffle,
    * one table scan — and, deliberately, NO array HOFs: the first cut
    * (filter over sequence(1, size−1) with element_at probes) allocated
    * an O(len) index array per row through an interpreted lambda and
    * read 220 s at sf10 (superlinear — PLANS.md "Round-14 wave:
    * five-decade probe"); this form is
    * three whole-stage-codegen string kernels. The text is canonicalized
    * to single spaces and space-padded, the phrase becomes the literal
    * `" w1 w2 "` found by instr (first occurrence, no regex), and the
    * token position is recovered by counting the spaces in the prefix:
    * split(prefix, " ") has (pos + 1) elements — the leading "" plus the
    * pos−1 tokens before the hit plus the trailing "" of the matched
    * space. Token-exact equal to the HOF form (spec + oracle pinned).
    * Returns (idCol, pos).
    */
  def phraseHits(docs: DataFrame, w1: String, w2: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w1.nonEmpty && w2.nonEmpty, "phraseHits requires non-empty tokens")
    require(!w1.exists(_.isWhitespace) && !w2.exists(_.isWhitespace),
      "phraseHits tokens must not contain whitespace")
    val needle = " " + w1.toLowerCase(java.util.Locale.ROOT) +
      " " + w2.toLowerCase(java.util.Locale.ROOT) + " "
    docs.select(col(idCol),
        concat(lit(" "),
          regexp_replace(lower(col(textCol)), "\\s+", " "),
          lit(" ")).as("norm"))
      .withColumn("off", instr(col("norm"), needle))
      .filter(col("off") > 0)
      .select(col(idCol),
        (size(split(substring_index_safe(col("norm"), col("off")), " "))
          - 1).cast("long").as("pos"))
  }

  // substring(str, 1, off) with a Column length — the functions API only
  // takes Int literals, so route through expr-free Column arithmetic.
  private def substring_index_safe(strCol: Column, offCol: Column): Column =
    strCol.substr(lit(1), offCol)

  /** Ranking-quality metrics over a ranked result list with binary
    * relevance — the eval harness a retrieval stack runs at corpus
    * scale: nDCG@k (ideal DCG truncated at min(k, `totalRelevant`)),
    * MRR (reciprocal rank of the first relevant hit), and precision@k.
    * `ranked` must carry (rank, rel) — rank 1-based dense, rel 0/1 —
    * and is by contract a BOUNDED frame (a ranker's top-k), so the
    * metric aggregate is constant work; `totalRelevant` is the
    * corpus-wide relevant count the caller computed (one distributed
    * count). Returns one row (k, ndcg, mrr, precision) rounded to 4.
    */
  def rankEval(ranked: DataFrame, k: Int, totalRelevant: Long): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(totalRelevant >= 0, "totalRelevant must be >= 0")
    val idealN = math.min(k.toLong, totalRelevant)
    val idcg = (1L to idealN)
      .map(i => 1.0 / (math.log((i + 1).toDouble) / math.log(2))).sum
    ranked.filter(col("rank") <= k)
      .agg(
        sum(col("rel").cast("double") /
          (log(col("rank").cast("double") + 1) / log(lit(2.0)))).as("dcg"),
        max(when(col("rel") === 1,
          lit(1.0) / col("rank").cast("double")).otherwise(0.0)).as("mrr0"),
        sum(col("rel").cast("double")).as("nrel"))
      .select(lit(k).as("k"),
        round(when(lit(idcg) > 0, col("dcg") / lit(idcg)).otherwise(0.0), 4)
          .as("ndcg"),
        round(col("mrr0"), 4).as("mrr"),
        round(col("nrel") / lit(k.toDouble), 4).as("precision"))
  }

  /** TF-IDF keyword extraction: the top-`k` terms of every document by
    * tf·idf (idf = ln(N/df); df > 0 by construction since df is counted
    * from the same corpus). The per-doc tf aggregate is ONE shuffle of
    * (doc, term) pairs with map-side combine; the df table is a second
    * aggregate over the tf frame (never the raw tokens) whose size is
    * the VOCABULARY, so it broadcast-joins back; ranking is
    * row_number ≤ k over (doc) which Catalyst rewrites to
    * WindowGroupLimit — each task keeps only its local top-k per doc
    * before the window exchange. Scores are rounded to 4 decimals
    * BEFORE ranking so the emitted rank is engine-exact (same
    * round-then-rank contract as v2_knn_join).
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val tf = docs
      .select(col(idCol), explode(ws(textCol)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tf"), col("score"))
  }
}
