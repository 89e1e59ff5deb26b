package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Five strategies, all expressed as declarative DataFrame plans (no UDFs in
  * any hot path — shingling, hashing, and signatures are built from
  * codegen'd expressions, so the whole map side stays inside
  * WholeStageCodegen):
  *
  *  - [[exact]]: content-hash groupBy. One shuffle on a 64-hex key.
  *  - [[minHashLsh]]: shingle → k minhashes → banded LSH → candidate pairs
  *    → exact Jaccard verify. At 100 TB this is the classic near-dedup
  *    recipe: the only shuffles are the per-doc signature aggregation and
  *    the band-bucket self-join, whose fan-out is controlled by (bands,
  *    rows-per-band); the verify join touches only candidate pairs, never
  *    the full cross product.
  *  - [[simHash]]: 64-bit fingerprints + Hamming-distance pairing within a
  *    blocking key (full-corpus Hamming join would need a bit-sliced index;
  *    the blocked variant is the scalable compromise).
  *  - [[ngramJaccard]]: exact word-set Jaccard within a blocking key.
  *  - [[embeddingCosine]]: see [[Similarity]] — exact cosine pairs within a
  *    blocking key; the LSH-bucketed variant is the scale path.
  */
object Dedup {

  /** Whitespace word tokens. */
  def words(text: Column): Column = split(text, "\\s+")

  /** Sliding k-word shingles via the native [[graft.functions.ShinglesExpr]]
    * (one generated-code pass; the declarative
    * `transform(sequence(0, n-k), i -> words[i] .. words[i+k-1])` twin it
    * replaced produced identical output but paid an interpreted lambda
    * dispatch per shingle). Documents shorter than k words contribute
    * their whole text as one shingle.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    graft.functions.ShinglesExpr.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("word_shingles", words(text), lit(k))
  }

  /** D1: exact dedup — group by content hash, keep the smallest id.
    * Returns (keep_id, dups). Grouping on the sha2 digest rather than the
    * raw text keeps shuffle rows small at scale.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dups"))
      .select(col("keep_id"), col("dups"))

  /** Per-row MinHash signature via the native
    * [[graft.functions.MinHashSigExpr]] — k seeded minimums folded in one
    * generated-code pass over the shingle array, bit-identical to (and
    * replacing) the relational explode → groupBy → k×min(xxhash64) form,
    * which multiplied the corpus by its shingle count and shuffled it
    * back together per document (see MinHashSigExpr scaladoc; parity
    * asserted in PipelineSpec).
    */
  def minhashSig(shset: Column, numHashes: Int): Column = {
    graft.functions.MinHashSigExpr.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("minhash_sig", shset, lit(numHashes))
  }

  /** Per-doc MinHash signature table: (id, sig). Shuffle-free — the
    * signature is computed on the row it belongs to.
    */
  def minHashSignature(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleLen: Int): DataFrame =
    docs.select(col(idCol),
      minhashSig(array_distinct(shingles(col(textCol), shingleLen)),
        numHashes).as("sig"))

  /** D2: MinHash + LSH near-duplicate pairs.
    * Returns (doc_a, doc_b, jaccard) for candidate pairs whose exact
    * shingle-set Jaccard >= threshold.
    */
  def minHashLsh(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 32, bands: Int = 8,
      shingleLen: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands

    // Shingle the corpus ONCE; the cached set feeds both the signature
    // aggregation and the exact-verify join (shingling is the most
    // expensive map-side expression in the pipeline).
    val sets = graft.CacheRegistry.register(docs.select(col(idCol),
      array_distinct(shingles(col(textCol), shingleLen)).as("shset")).cache())

    val sig = sets.select(col(idCol), minhashSig(col("shset"), numHashes).as("sig"))

    // Band buckets: hash each row-slice of the signature; same (band,
    // bucket) ⇒ candidate. slice() is 1-based.
    val banded = sig.select(col(idCol), posexplode(
        array((0 until bands).map(b =>
          xxhash64(lit(b), slice(col("sig"), b * r + 1, r))): _*))
      .as(Seq("band", "bucket")))
    val a = banded.select(col(idCol).as("doc_a"), col("band"), col("bucket"))
    val b = banded.select(col(idCol).as("doc_b"), col("band"), col("bucket"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

    // Exact verify on shingle sets (only candidate pairs reach this join).
    candidates
      .join(sets.select(col(idCol).as("doc_a"), col("shset").as("set_a")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("shset").as("set_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** D16: incremental near-dup — match an arriving DELTA batch against an
    * existing corpus without re-pairing the corpus against itself (the
    * production dedup shape: the corpus band index is built once and each
    * batch probes it; a full [[minHashLsh]] re-run grows quadratically
    * with corpus age while the probe grows only with batch size ×
    * collision fan-out). Same signature/banding parameters as
    * [[minHashLsh]]; candidates are only (batch × corpus) bucket
    * collisions — corpus-internal pairs never materialize — then
    * exact-verified on shingle sets. Returns
    * (batch_doc, corpus_doc, jaccard).
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, bands: Int = 8, shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val corpusSets = graft.CacheRegistry.register(
      shingleSets(corpus, idCol, textCol, shingleLen).cache())
    incrementalNearDupAgainst(corpusSets,
      bandedBuckets(corpusSets, idCol, numHashes, bands),
      batch, idCol, textCol, numHashes, bands, shingleLen, threshold)
  }

  /** (id, shset): the distinct-shingle sets [[incrementalNearDup]] and
    * the near-dup index derive everything from. */
  def shingleSets(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleLen: Int = 3): DataFrame =
    docs.select(col(idCol),
      array_distinct(shingles(col(textCol), shingleLen)).as("shset"))

  /** (id, band, bucket): the banded-LSH bucket table over MinHash
    * signatures — the candidate-join key of every near-dup probe. */
  def bandedBuckets(sets: DataFrame, idCol: String = "doc_id",
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    sets.select(col(idCol), minhashSig(col("shset"), numHashes).as("sig"))
      .select(col(idCol), posexplode(
          array((0 until bands).map(b =>
            xxhash64(lit(b), slice(col("sig"), b * r + 1, r))): _*))
        .as(Seq("band", "bucket")))
  }

  /** Persist the corpus near-dup index — the two artifacts every
    * incremental probe needs (banded LSH buckets + shingle sets), so a
    * standing corpus is shingled and MinHashed ONCE and every future
    * ingest batch probes the parquet at rest (the [[graft.pipeline
    * .Similarity.pqSaveIndex]] discipline applied to dedup): at 100 TB
    * the corpus-side cost of [[incrementalNearDup]] is the whole cost,
    * and it is exactly the part that never changes between batches.
    * The seeded MinHash kernel is deterministic, so the loaded index is
    * bit-identical to a fresh derivation (spec-pinned).
    *
    * The build parameters (numHashes, bands, shingleLen) are persisted
    * WITH the artifact (`<path>/params`) and validated on every load —
    * a probe banding a batch against buckets built under different
    * parameters would produce silently wrong candidate pairs (bucket
    * collisions of incomparable signatures) and wrong Jaccard values
    * (mismatched shingle lengths), so the mismatch must be an error,
    * never a quiet default.
    */
  def saveNearDupIndex(corpus: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, bands: Int = 8, shingleLen: Int = 3): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sets = graft.CacheRegistry.register(
      shingleSets(corpus, idCol, textCol, shingleLen).cache())
    sets.write.mode("overwrite").parquet(s"$path/shsets")
    bandedBuckets(sets, idCol, numHashes, bands)
      .write.mode("overwrite").parquet(s"$path/buckets")
    Seq((numHashes, bands, shingleLen))
      .toDF("num_hashes", "bands", "shingle_len")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** [[incrementalNearDup]] served from a persisted [[saveNearDupIndex]]
    * artifact: the batch is shingled/banded fresh (it is the small,
    * new thing); the corpus side is two parquet reads — bucket probe
    * first, then shingle sets fetched ONLY for candidate ids (the scan
    * reads the verify column for the candidate join's build side, a
    * vanishing fraction of a healthy corpus).
    *
    * The caller's (numHashes, bands, shingleLen) are validated against
    * the tuple persisted by [[saveNearDupIndex]]; a mismatch throws
    * instead of banding the batch against incompatible corpus buckets.
    */
  def incrementalNearDupFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, bands: Int = 8, shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val p = spark.read.parquet(s"$path/params")
      .select(col("num_hashes"), col("bands"), col("shingle_len"))
      .collect()
    require(p.length == 1,
      s"near-dup index at $path has a malformed params artifact (${p.length} rows)")
    val (nh, bd, sl) = (p(0).getInt(0), p(0).getInt(1), p(0).getInt(2))
    require(nh == numHashes && bd == bands && sl == shingleLen,
      s"near-dup index at $path was built with (numHashes=$nh, bands=$bd, " +
        s"shingleLen=$sl) but this probe asked for (numHashes=$numHashes, " +
        s"bands=$bands, shingleLen=$shingleLen) — banding a batch against an " +
        "incompatible index yields silently wrong candidates; rebuild the " +
        "index or match its parameters")
    incrementalNearDupAgainst(
      spark.read.parquet(s"$path/shsets"),
      spark.read.parquet(s"$path/buckets"),
      batch, idCol, textCol, numHashes, bands, shingleLen, threshold)
  }

  private def incrementalNearDupAgainst(corpusSets: DataFrame,
      corpusBuckets: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int, shingleLen: Int,
      threshold: Double): DataFrame = {
    val batchSets = graft.CacheRegistry.register(
      shingleSets(batch, idCol, textCol, shingleLen).cache())
    val candidates = bandedBuckets(batchSets, idCol, numHashes, bands)
      .select(col(idCol).as("batch_doc"), col("band"), col("bucket"))
      .join(corpusBuckets
        .select(col(idCol).as("corpus_doc"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("batch_doc", "corpus_doc").distinct()
    candidates
      .join(batchSets.select(col(idCol).as("batch_doc"),
        col("shset").as("set_a")), "batch_doc")
      .join(corpusSets.select(col(idCol).as("corpus_doc"),
        col("shset").as("set_b")), "corpus_doc")
      .withColumn("jaccard",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_doc"), col("corpus_doc"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact cross-side shingle-Jaccard pairs (batch × corpus) — the ground
    * truth [[incrementalNearDup]] approximates, via the same inverted
    * index as [[shingleJaccardPairs]] but keyed across the two sides.
    */
  def crossJaccardPairs(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleLen: Int = 3, threshold: Double = 0.2): DataFrame = {
    def sets(docs: DataFrame) = graft.CacheRegistry.register(
      docs.select(col(idCol),
        array_distinct(shingles(col(textCol), shingleLen)).as("shset"))
        .cache())
    val bs = sets(batch)
    val cs = sets(corpus)
    val a = bs.select(col(idCol).as("batch_doc"), explode(col("shset")).as("sh"))
    val b = cs.select(col(idCol).as("corpus_doc"), explode(col("shset")).as("sh"))
    val inter = a.join(b, Seq("sh"))
      .groupBy(col("batch_doc"), col("corpus_doc"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(bs.select(col(idCol).as("batch_doc"),
        size(col("shset")).as("sz_a")), "batch_doc")
      .join(cs.select(col(idCol).as("corpus_doc"),
        size(col("shset")).as("sz_b")), "corpus_doc")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_doc"), col("corpus_doc"))
  }

  /** Exact shingle-set Jaccard pairs — the ground truth [[minHashLsh]]
    * approximates, in the same relational inverted-index form as
    * [[ngramJaccard]] (explode distinct shingles, equi-join on the shingle,
    * count intersections, derive union as |A|+|B|-inter): pairs sharing no
    * shingle never materialize, so work scales with index fan-out, not the
    * full cross product. This is the reference side of the
    * `d2_minhash_recall` quality gate — both engines of the correctness
    * gate can compute it from the raw text, so the pair counts pin the LSH
    * path's ground truth cross-engine.
    */
  def shingleJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleLen: Int = 3,
      threshold: Double = 0.2): DataFrame = {
    val sets = graft.CacheRegistry.register(docs.select(col(idCol),
      array_distinct(shingles(col(textCol), shingleLen)).as("shset")).cache())
    val toks = sets.select(col(idCol), explode(col("shset")).as("sh"))
    val sizes = sets.select(col(idCol), size(col("shset")).as("sz"))
    val a = toks.select(col(idCol).as("doc_a"), col("sh"))
    val b = toks.select(col(idCol).as("doc_b"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("inter"))
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 64-bit SimHash fingerprint per doc: per-bit weighted vote over word
    * hashes, computed per row by the native
    * [[graft.functions.SimHashExpr]] — no word explode, no 64-aggregate
    * shuffle (see its scaladoc for the replaced relational form and the
    * parity contract). The word hash is the first 64 bits of sha256 —
    * chosen over xxhash64 deliberately: both engines of the correctness
    * gate compute sha256 identically, so the whole fingerprint (and
    * therefore the `d3_simhash` pairing) is reproducible in the DuckDB
    * oracle, where Spark's seeded xxhash64 is not. Bit j is bit (j mod 4)
    * of hex nibble 15 - j/4, i.e. the hex prefix read as a big-endian
    * 64-bit value.
    */
  def simHashFingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.SimHashExpr.register(
      org.apache.spark.sql.SparkSession.active)
    docs.select(col(idCol),
      call_function("simhash64", words(col(textCol))).as("simhash"))
  }

  /** D3: SimHash near-dup pairs within a blocking key, Hamming distance via
    * bit_count(xor).
    */
  def simHash(docs: DataFrame, blockCol: String, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3): DataFrame = {
    // Fingerprints feed BOTH sides of the block self-join — cache them so
    // the 64-vote aggregation runs once, not once per side.
    val fp = graft.CacheRegistry.register(
      simHashFingerprint(docs, idCol, textCol)
        .join(docs.select(col(idCol), col(blockCol)), idCol).cache())
    val a = fp.select(col(blockCol), col(idCol).as("doc_a"), col("simhash").as("fp_a"))
    val b = fp.select(col(blockCol), col(idCol).as("doc_b"), col("simhash").as("fp_b"))
    a.join(b, Seq(blockCol))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** D4: exact n-gram (word-set) Jaccard pairs within a blocking key,
    * candidate-pruned by prefix filtering (AllPairs — Bayardo et al.,
    * WWW'07; PPJoin — Xiao et al., WWW'08).
    *
    * Under one global token order (rarest first: ascending document
    * frequency, token as tie-break), two sets with Jaccard ≥ t must share
    * a token inside their first `|X| − ⌈t·|X|⌉ + 1` tokens: if they did
    * not, every common token would sit in A's suffix of size ⌈t·|A|⌉ − 1,
    * yet J ≥ t forces |A∩B| ≥ ⌈t·|A|⌉. So only those prefix tokens are
    * indexed — at t = 0.9 that is ~10% of the token stream, and because
    * the order puts RARE tokens in the prefix, the join fan-out on hot
    * tokens ("the", "of"…) collapses, which is the term that dominates an
    * inverted-index self-join at corpus scale. Survivors are verified
    * exactly against the cached word sets, so output is identical to the
    * exhaustive formulation ([[ngramJaccardFull]], kept as the parity
    * reference) — same oracle, same hash.
    */
  def ngramJaccard(docs: DataFrame, blockCol: String, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.9): DataFrame = {
    val sets = graft.CacheRegistry.register(docs.select(col(blockCol), col(idCol),
      array_distinct(words(col(textCol))).as("ws")).cache())
    val toks = sets.select(col(blockCol), col(idCol),
      size(col("ws")).as("sz"), explode(col("ws")).as("w"))
    val dfreq = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col(idCol)).orderBy(col("df"), col("w"))
    // ceil() is guarded against double round-up (0.9*sz landing a hair
    // above an integer): a smaller α only LENGTHENS the prefix, so the
    // epsilon can never cost a candidate — and the verify step is exact
    // regardless.
    // Cached: the window chain above it feeds BOTH sides of the self-join —
    // uncached it would execute twice per action.
    // PPJoin's positional/size filters are deliberately NOT applied here
    // (they ARE in [[containmentPairs]]): measured at sf0.1, the
    // prefix-prefix self-join at t = 0.9 yields so few candidates that
    // carrying (sz, rank) through the cache and join cost 33% MORE wall
    // (738 → 984 ms) than the pruning saved. The filters pay only when
    // one join side is fully indexed (containment's 2.9x win below).
    val prefix = graft.CacheRegistry.register(toks.join(dfreq, "w")
      .withColumn("rank", row_number().over(byRarity))
      .filter(col("rank") <=
        col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)) + lit(1))
      .select(col(blockCol), col(idCol), col("w")).cache())
    // The explicit-width repartition pins the verify join's parallelism:
    // candidate pairs are bytes-tiny but CPU-heavy (array_intersect over
    // the full word sets), exactly the shape AQE's byte-based partition
    // coalescing mis-sizes — left alone it serializes the verify onto
    // one or two tasks whenever the pair list compresses below the
    // advisory size.
    val cand = prefix.select(col(blockCol), col(idCol).as("doc_a"), col("w"))
      .join(prefix.select(col(blockCol), col(idCol).as("doc_b"), col("w")),
        Seq(blockCol, "w"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .repartition(
        // Safe parse: platforms can set shuffle.partitions to a
        // non-numeric sentinel (e.g. "auto"); fall back to the cluster's
        // default parallelism instead of throwing.
        scala.util.Try(docs.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toInt)
          .getOrElse(docs.sparkSession.sparkContext.defaultParallelism),
        col("doc_a"), col("doc_b"))
    cand
      .join(sets.select(col(idCol).as("doc_a"), col("ws").as("ws_a")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("ws").as("ws_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ws_a"), col("ws_b"))))
      .withColumn("uni", size(col("ws_a")) + size(col("ws_b")) - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
  }

  /** The exhaustive inverted-index formulation of [[ngramJaccard]] (explode
    * every distinct word, self-join on (block, word), count shared words
    * per pair). Correct and candidate-complete by construction; kept as
    * the parity oracle for the prefix-filtered path — `PipelineSpec`
    * pins the two bit-identical on randomized corpora.
    */
  def ngramJaccardFull(docs: DataFrame, blockCol: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.9): DataFrame = {
    val sets = graft.CacheRegistry.register(docs.select(col(blockCol), col(idCol),
      array_distinct(words(col(textCol))).as("ws")).cache())
    val toks = sets.select(col(blockCol), col(idCol), explode(col("ws")).as("w"))
    val sizes = sets.select(col(idCol), size(col("ws")).as("sz"))
    val a = toks.select(col(blockCol), col(idCol).as("doc_a"), col("w"))
    val b = toks.select(col(blockCol), col(idCol).as("doc_b"), col("w"))
    a.join(b, Seq(blockCol, "w"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("inter"))
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
  }

  /** Asymmetric CONTAINMENT — c(a→b) = |W_a ∩ W_b| / |W_a| ≥ threshold:
    * "a is mostly contained in b", the sub-document duplication signal
    * (quotes, boilerplate wrappers, doc-inside-doc copies) that
    * symmetric Jaccard misses: a short doc embedded verbatim in a long
    * one has tiny Jaccard but containment 1.0. Ordered pairs — both
    * directions are tested independently and can both qualify.
    *
    * The AllPairs prefix bound is ONE-SIDED here: only |W_a| appears in
    * the denominator, so the probe side sends its (|A| − ⌈t·|A|⌉ + 1)
    * RAREST words while the contained-in side must stay fully indexed
    * (if c(a→b) ≥ t, a misses < prefix-length words, so at least one
    * prefix word of A is shared with B). Candidate work is
    * Σ_a prefix(a)·df — the rarity ordering keeps df small — and the
    * verify is exact over the cached word sets, so the filter can only
    * save work, never change the answer.
    */
  def containmentPairs(docs: DataFrame, blockCol: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.9): DataFrame = {
    val sets = graft.CacheRegistry.register(docs.select(col(blockCol), col(idCol),
      array_distinct(words(col(textCol))).as("ws")).cache())
    val toks = sets.select(col(blockCol), col(idCol),
      size(col("ws")).as("sz"), explode(col("ws")).as("w"))
    val dfreq = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col(idCol)).orderBy(col("df"), col("w"))
    // Ranked once, cached: the probe prefix AND the fully-indexed b side
    // both need (sz, rank) for the PPJoin pruning below — previously the
    // b side read bare tokens and every shared token became a candidate.
    val ranked = graft.CacheRegistry.register(toks.join(dfreq, "w")
      .withColumn("rank", row_number().over(byRarity))
      .select(col(blockCol), col(idCol), col("sz"), col("w"), col("rank"))
      .cache())
    val prefix = ranked.filter(col("rank") <=
      col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)) + lit(1))
    // One-sided PPJoin pruning (same soundness argument as in
    // [[ngramJaccard]]; the verify is exact either way): containment
    // needs inter ≥ α_a = ⌈t·|a|⌉, so
    //  - size filter: |b| ≥ α_a (b cannot contain more of a than b has),
    //  - positional filter: a shared token at ranks (i, j) under the one
    //    global rarity order bounds inter by min(i, j) + min(|a|−i, |b|−j).
    val alphaA = ceil(col("sz_a") * lit(threshold) - lit(1e-9))
    val cand = prefix.select(col(blockCol), col(idCol).as("doc_a"),
        col("sz").as("sz_a"), col("w"), col("rank").as("rk_a"))
      .join(ranked.select(col(blockCol), col(idCol).as("doc_b"),
        col("sz").as("sz_b"), col("w"), col("rank").as("rk_b")),
        Seq(blockCol, "w"))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(col("sz_b") >= alphaA)
      .filter(least(col("rk_a"), col("rk_b")) +
        least(col("sz_a") - col("rk_a"), col("sz_b") - col("rk_b")) >= alphaA)
      .select(col("doc_a"), col("doc_b")).distinct()
      .repartition(
        scala.util.Try(docs.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toInt)
          .getOrElse(docs.sparkSession.sparkContext.defaultParallelism),
        col("doc_a"), col("doc_b"))
    cand
      .join(sets.select(col(idCol).as("doc_a"), col("ws").as("ws_a")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("ws").as("ws_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ws_a"), col("ws_b"))))
      .withColumn("sz_a", size(col("ws_a")))
      .filter(col("inter").cast("double") / col("sz_a") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"))
  }

  /** D26: sorted-neighborhood dedup (the Hernández–Stolfo merge/purge
    * method) — sort the corpus once by a blocking key and compare each
    * record only to its `window` successors in that order. Candidate
    * cost is O(n·w) pairs instead of the all-pairs O(n²), and unlike
    * hash blocking (d1/d10) it tolerates key typos because near-equal
    * keys still SORT adjacent.
    *
    * The scale-critical piece is the global ordering itself:
    * [[graft.operators.GlobalRank.rowNumber]] (range exchange +
    * per-partition offsets — never the single-task
    * `Window.orderBy` cliff). Rank adjacency then becomes a plain
    * equi-join: each left row explodes its `w` successor ranks (w-way
    * fan-out of just (rank, id, word-set)) and joins on the dense rank
    * value — hash-partitioned, AQE-splittable, no range condition left
    * in the plan. Survivor pairs verify with exact word-set Jaccard
    * (the d4 verifier) and are canonicalized to (min id, max id) so the
    * output is engine-order-independent.
    */
  def sortedNeighborhood(docs: DataFrame, keyCol: Column,
      idCol: String = "doc_id", textCol: String = "text",
      window: Int = 8, threshold: Double = 0.8): DataFrame = {
    val ranked = graft.operators.GlobalRank.rowNumber(
        docs.select(col(idCol), col(textCol), keyCol.as("__snm_key")),
        Seq(col("__snm_key"), col(idCol)), "__rn")
      .select(col(idCol), col("__rn"),
        // Shared tokenization with the other dedup verifiers (Dedup.words,
        // \s+): a tab/newline/double space must not make d26's Jaccard
        // disagree with d4/d25's on the same pair.
        array_distinct(words(col(textCol))).as("__ws"))
    val left = ranked
      .select(col("__rn"), col(idCol).as("doc_a"), col("__ws").as("__wa"))
      .withColumn("__rn_b",
        explode(sequence(col("__rn") + 1, col("__rn") + window)))
    val right = ranked.select(col("__rn").as("__rn_b"),
      col(idCol).as("doc_b"), col("__ws").as("__wb"))
    left.join(right, "__rn_b")
      .withColumn("inter", size(array_intersect(col("__wa"), col("__wb"))))
      .withColumn("uni", size(array_union(col("__wa"), col("__wb"))))
      .filter(col("inter").cast("double") / col("uni") >= threshold)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("inter"), col("uni"))
  }

  /** D27: edit-distance similarity self-join via deletion neighborhoods
    * (the SymSpell/FastSS construction). Every string emits itself plus
    * its single-character deletions; two strings are within edit
    * distance 1 IFF their variant sets intersect (substitution → both
    * delete the differing position; insert/delete → the shorter string
    * IS a deletion of the longer). So the quadratic "compare all pairs"
    * becomes: explode ≤ len+1 variants per string, ONE equi-join on the
    * variant, distinct the candidate pairs, and verify with the exact
    * `levenshtein` — candidates are complete by construction, the
    * verify only removes hash-collision-free false positives (distinct
    * strings sharing a variant at distance 2 cannot exist for d=1, but
    * the verify keeps the operator honest if callers raise the radius).
    * Shuffle cost O(n·len) variant rows; hot variants (mass-shared
    * prefixes) are ordinary AQE skew-split territory.
    */
  def editJoin(strings: DataFrame, strCol: String): DataFrame = {
    // Variant generation is codegen-friendly scalar work (r15, guide
    // §4): the old array_union(array(w), transform(sequence(...), λ))
    // built and deduped a per-row array through two INTERPRETED
    // higher-order functions — measured as ~80% of the query's CPU,
    // paid on BOTH join sides. Now: explode the position index (i = 0
    // keeps w itself) and build each deletion with plain
    // substring/concat, all whole-stage-codegen; the (w, v) distinct
    // replaces array_union's per-name dedup exactly (repeated-char runs
    // collapse to one variant), so the candidate set is unchanged.
    // The explicit repartition undoes AQE's pre-explode coalescing
    // (r15, guide §2.4 — repartition after explosive operators): the
    // name-distinct shuffle is bytes-tiny, so AQE folds it to ONE
    // partition, and everything downstream — the ×(len+1) variant
    // expansion, both hash-join probes, and the per-pair levenshtein —
    // ran single-core (measured: two 1-task 5 s stages carrying ~90% of
    // the query). The width is the session's default parallelism, not a
    // constant, so at real scale (where the shuffle is already wide)
    // this is a no-op-sized rebalance, never a shrink.
    val v = strings.select(col(strCol).as("w")).distinct()
      .select(col("w"),
        explode(sequence(lit(0), length(col("w")))).as("i"))
      .select(col("w"), when(col("i") === 0, col("w"))
        .otherwise(expr("concat(substring(w, 1, i - 1), " +
          "substring(w, i + 1, 2147483647))")).as("v"))
      .distinct()
      .repartition(strings.sparkSession.sparkContext.defaultParallelism)
    // Verify BEFORE the pair distinct (r15, guide §2.2 — shuffle fewer
    // bytes): candidate multiplicity is high exactly when strings carry
    // repeated-character runs (every deletion inside a run collides),
    // so distinct-ing raw candidates exchanged millions of wide string
    // pairs that the ≤1 filter then discarded. levenshtein runs
    // map-side in the join stage at ~0.1 µs/pair; the distinct now
    // exchanges only the true matches. distinct∘filter ≡ filter∘distinct
    // for a deterministic predicate — rows identical, oracle unchanged.
    v.select(col("v"), col("w").as("name_a"))
      .join(v.select(col("v"), col("w").as("name_b")), "v")
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
      .distinct()
  }

  /** D6: connected components over a near-duplicate pair list — the
    * clustering stage that turns pairwise matches into keep/drop
    * decisions (each doc maps to its component's minimum id, the
    * canonical survivor).
    *
    * Min-label propagation: every node starts labeled with itself; each
    * round pushes labels across edges and keeps the minimum; fixpoint
    * when no label shrinks. One shuffle join + one aggregation per
    * round, rounds bounded by the cluster diameter — near-duplicate
    * clusters are dense and shallow (an exact-dup cluster is a clique,
    * diameter 1), so the loop terminates in a handful of rounds. Labels
    * are localCheckpoint'd per round to cut lineage growth, and nothing
    * graph-shaped ever lands on the driver (the convergence probe is a
    * count). For adversarially deep graphs (long chains) the
    * large-star/small-star alternation of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC 2014), converges in
    * O(log n) rounds at the cost of re-materializing the edge set per
    * round; near-dup clustering does not hit that regime.
    *
    * Returns (node, lab): one row per node that appears in `pairs`,
    * labeled with its component minimum. Docs with no near-duplicate are
    * absent — callers keep them as their own survivor (see
    * `PipelineQueries.d6DedupComponents`).
    */
  def components(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 50): DataFrame = {
    val edges = graft.CacheRegistry.register(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .cache())
    var labels = graft.CacheRegistry.register(
      edges.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node")).localCheckpoint())
    // Delta iteration: a node's label can only improve via a neighbor
    // whose label improved, so each round pushes only the labels that
    // SHRANK last round. Round 1 pushes everything; after that the
    // frontier collapses to the still-moving cluster boundaries, which
    // is what bounds total work at corpus scale (the naive form re-joins
    // every label every round). Convergence = empty delta — no separate
    // probe.
    // r15 note: a left-join + least() merge with broadcast push tables
    // (the GraphAlgos byte-gate discipline) was measured HERE and
    // REVERTED — the per-round broadcast builds cost more than the
    // union+re-aggregate they replaced (g4_wcc +54%, d6_dist +32% in
    // isolated A/B at sf0.1), because rounds scale with component
    // diameter and each round paid a driver collect. The per-round
    // checkpoints ARE now registered so the session-hygiene hook
    // releases them (they previously leaked until session end).
    var delta = labels
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val pushed = edges.join(delta, edges("src") === delta("node"))
        .select(col("dst").as("node"), col("lab"))
      val next = graft.CacheRegistry.register(labels.union(pushed)
        .groupBy(col("node")).agg(min(col("lab")).as("lab"))
        .localCheckpoint())
      delta = graft.CacheRegistry.register(
        next.join(labels.withColumnRenamed("lab", "prev"), "node")
          .filter(col("lab") < col("prev"))
          .select(col("node"), col("lab")).localCheckpoint())
      converged = delta.isEmpty
      labels = next
      round += 1
    }
    require(converged, s"components did not converge in $maxRounds rounds")
    labels
  }

  /** D10: cross-document duplicate chunk detection (the corpus-wide
    * boilerplate signal behind C4's line dedup, restated for unpunctuated
    * text): each document splits into consecutive non-overlapping
    * `chunkWords`-word chunks; a chunk is SHARED when its text occurs in
    * at least two distinct documents. Returns per-document
    * (id, n_chunks, n_shared) — the shared fraction is the drop signal.
    *
    * Scale shape: chunks shuffle by their sha2 digest (small fixed-width
    * keys, never raw text); the distinct-doc count and the membership
    * join key on that same digest so the exchange is reusable; the final
    * rollup keys on the document id. Nothing is ever all-pairs and no
    * per-chunk state outlives its aggregate.
    */
  def chunkShared(docs: DataFrame, chunkWords: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive, got $chunkWords")
    // Shared tokenization with every other dedup verifier ([[words]],
    // \s+): a tab/newline/double space must not make d10's chunk
    // membership disagree with d4/d25/d26's token sets on the same text.
    val chunks = docs
      .select(col(idCol), words(col(textCol)).as("w"))
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, cast(ceil(size(w) / ${chunkWords}.0D) as int) - 1), " +
          s"i -> concat_ws(' ', slice(w, i * $chunkWords + 1, $chunkWords)))"))
        .as("chunk"))
      .select(col(idCol), sha2(col("chunk"), 256).as("h"))
    val spread = chunks.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
    chunks.join(spread, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        coalesce(sum(when(col("nd") > 1, 1)), lit(0)).cast("int")
          .as("n_shared"))
  }

  /** D32: near-duplicate pairs by shared CONTENT-DEFINED chunks — the
    * end-to-end consumer of [[Chunking.contentDefinedChunks]]: because
    * those boundaries re-synchronize after edits, two documents that
    * share any long-enough run of text share its interior chunks
    * verbatim, so "≥ `minShared` common chunk hashes" finds
    * partial-overlap duplicates that doc-level hashing (d1) misses and
    * fixed-stride chunking (d10) only catches when the copies happen to
    * be stride-aligned.
    *
    * Scale shape: chunks shuffle by hash (fixed-width keys, no text);
    * hashes are pre-filtered to 2 ≤ df ≤ `maxDf` BEFORE the pair join —
    * df=1 can't pair, and df > maxDf is corpus boilerplate whose
    * C(df,2) fan-out would dominate the join while signaling template
    * reuse, not duplication (the same hot-key reasoning as the rarity
    * prefix in [[ngramJaccard]]). Pair fan-out is then Σ C(df,2) over
    * capped dfs; the final aggregate keys on the pair.
    */
  def cdcSharedPairs(docs: DataFrame, minShared: Int = 3, maxDf: Int = 50,
      k: Int = 3, divisor: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minShared > 0, s"minShared must be positive, got $minShared")
    require(maxDf >= 2, s"maxDf must be at least 2, got $maxDf")
    // Cached (the ngramJaccard `sets` discipline): the chunk artifact
    // feeds the df count AND both pair-join sides — uncached, the plan
    // re-reads and re-chunks the CORPUS once per consumer (explain
    // showed 4 parquet scans; with the cache, one).
    val chunks = graft.CacheRegistry.register(
      Chunking.contentDefinedChunks(docs, k, divisor, idCol, textCol)
        .select(col(idCol), col("chunk_hash")).distinct().cache())
    val dfreq = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("chunk_hash"))
    val keep = graft.CacheRegistry.register(
      chunks.join(dfreq, "chunk_hash").cache())
    keep.select(col("chunk_hash"), col(idCol).as("doc_a"))
      .join(keep.select(col("chunk_hash"), col(idCol).as("doc_b")), "chunk_hash")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** D37: duplicated-substring SPANS — the token-window approximation of
    * suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": remove any ≥50-token
    * substring that repeats across the corpus; reference surface:
    * document-level hashing only, `02_benchmark/` ingest dedup). Every
    * `k`-token window (stride 1) is hashed; windows whose text occurs in
    * at least `minDocs` DISTINCT documents are duplicated; adjacent
    * duplicated window starts inside one document merge into maximal
    * spans (the gaps-and-islands step — stride 1 makes "adjacent" =
    * consecutive start positions). Returns per-span
    * (id, span_start, span_end, n_windows) with 0-based inclusive token
    * indices: `span_end - span_start + 1` tokens of verbatim cross-doc
    * repetition, the unit the Lee et al. pipeline cuts out of training
    * text.
    *
    * Scale shape: the window explode multiplies the corpus by ~tokens
    * per doc (the d2 shingle fan-out, linear); window-frequency counting
    * shuffles fixed-width sha2 keys with map-side combine; the
    * membership join keys on that same digest so the exchange is
    * reusable; the island merge windows by (doc, pos) — partitioned by
    * document, never a global sort. Nothing is all-pairs: a window text
    * shared by d documents costs d rows, not C(d,2).
    */
  def dupSpans(docs: DataFrame, k: Int = 5, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"window size must be positive, got $k")
    require(minDocs >= 2, s"minDocs must be at least 2, got $minDocs")
    val wins = tokenWindows(docs, k, idCol, textCol)
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    mergeSpans(wins.join(dup, "h"), k, idCol)
  }

  /** Stride-1 `k`-token windows of every document, positions 0-based,
    * window text carried only as its sha2 digest: (idCol, pos, h).
    * Shared by [[dupSpans]] and
    * [[Contamination.contaminatedSpans]] so "the same window" means the
    * same bytes in every span operator. Documents shorter than k
    * contribute nothing (no window of length k exists).
    */
  def tokenWindows(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(w) - $k), " +
          s"i -> concat_ws(' ', slice(w, i + 1, $k)))"))
        .as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"), sha2(col("gram"), 256).as("h"))

  /** Gaps-and-islands merge of flagged window starts into maximal spans
    * — stride 1 makes "adjacent" = consecutive positions, so
    * `pos − row_number()` is constant exactly within one maximal run.
    * Input needs (idCol, pos); returns (idCol, span_start, span_end,
    * n_windows) with 0-based inclusive token indices. The window runs
    * partitioned BY DOCUMENT — never a global sort.
    */
  def mergeSpans(flagged: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    flagged
      .withColumn("isl", col("pos") - row_number().over(byDoc))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("int").as("span_end"),
        count(lit(1)).cast("int").as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** COVERAGE merge of flagged `k`-token window starts into maximal
    * covered spans — the companion to [[mergeSpans]] for operators that
    * SUM span lengths into a token-coverage count. [[mergeSpans]] breaks
    * islands on non-consecutive start positions (stride-1 adjacency),
    * so hits at positions 0 and 2 with k = 5 yield spans [0,4] and
    * [2,6] whose lengths double-count the shared tokens [2,4] — a
    * summed coverage can then exceed the document length. Here an
    * island breaks only when the next start lies BEYOND the previous
    * window's reach (`pos − prev_pos > k`, i.e. the coverages neither
    * overlap nor abut), so merged spans never overlap and the length
    * sum counts every covered token exactly once. Input needs (idCol,
    * pos) with pos unique per document; returns (idCol, span_start,
    * span_end, n_windows), 0-based inclusive token indices.
    *
    * Scale shape: identical to [[mergeSpans]] — both window passes
    * (the lag and the running sum) share one per-document ordering, so
    * the plan carries a single hash exchange on the document id and
    * never a global sort.
    */
  def coverSpans(flagged: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1)
          .otherwise(0))
      .withColumn("isl", sum(col("brk")).over(byDoc))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("int").as("span_end"),
        count(lit(1)).cast("int").as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** D38: C4-style duplicated-chunk REMOVAL with text reconstruction —
    * the transform companion to [[chunkShared]]'s statistics: where d10
    * reports how much of each document is boilerplate, this actually
    * scrubs it (C4's "discard any three-sentence span occurring more
    * than once" rule, restated on `chunkWords`-word chunks for
    * unpunctuated text). A chunk is removed when its text occurs at
    * least `minOccurrences` times CORPUS-WIDE (occurrence count, not
    * distinct documents — a doc self-repeating its own boilerplate
    * counts, the C4 convention); survivors reassemble in original order.
    * Returns (id, n_chunks, n_removed, clean_text) — clean_text is ''
    * when everything was boilerplate, and the row survives so the
    * downstream length filter (d11) sees the empty doc rather than
    * silently losing it.
    *
    * Scale shape: occurrence counting shuffles fixed-width sha2 keys
    * with map-side combine; the membership join then touches only the
    * DUPLICATED hash set (occ ≥ `minOccurrences` — in a healthy corpus
    * a small fraction of distinct chunks, so the join side stays
    * broadcast-able at any corpus size; a full occ-per-chunk join-back
    * would carry a corpus-sized build side), with a left join treating
    * misses as occ = 1. Reassembly aggregates by document id with a
    * bounded per-doc array (chunks of ONE document — the d12 per-group
    * bound, never a corpus-wide collect), sorted by chunk index inside
    * the aggregate, so no window over the corpus and no global sort.
    */
  def chunkScrub(docs: DataFrame, chunkWords: Int = 8,
      minOccurrences: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive, got $chunkWords")
    require(minOccurrences >= 2,
      s"minOccurrences must be at least 2, got $minOccurrences")
    val chunks = docs
      .select(col(idCol), words(col(textCol)).as("w"))
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(w) / ${chunkWords}.0D) as int) - 1), " +
          s"i -> concat_ws(' ', slice(w, i * $chunkWords + 1, $chunkWords)))"))
        .as(Seq("idx", "chunk")))
      .withColumn("h", sha2(col("chunk"), 256))
    val dup = chunks.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences)
      .select(col("h"), lit(true).as("is_dup"))
    chunks.join(dup, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        coalesce(sum(when(col("is_dup"), 1)), lit(0))
          .cast("int").as("n_removed"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN is_dup IS NULL " +
            "THEN struct(idx, chunk) END)), s -> s.chunk)"), " ")
          .as("clean_text"))
  }

  /** D42: span SCRUB — the removal half of Lee et al. 2021 substring
    * dedup (the detection half is [[dupSpans]]): every token whose
    * position falls inside any span is cut, survivors reassemble in
    * order. Returns (id, n_tokens, n_removed, clean_text) for EVERY
    * document (no spans → text passes through verbatim; fully-covered
    * → clean_text '', the [[chunkScrub]] empty-doc convention).
    *
    * `spans` is any (idCol, span_start, span_end) frame — [[dupSpans]]
    * output for cross-corpus repetition surgery,
    * [[Contamination.contaminatedSpans]] for decontamination surgery;
    * the operator is the shared execution half of both pipelines.
    *
    * Scale shape: the coverage test is an ANTI join with an id equi-key
    * plus the range predicate — per-document span lists are small (the
    * d13 per-doc bound), so the join fans out per token only over that
    * document's spans, never a corpus cross. Reassembly is the per-doc
    * sorted-struct aggregate ([[chunkScrub]]); the final left join puts
    * span-free documents back untouched.
    */
  def scrubSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), posexplode(words(col(textCol)))
        .as(Seq("pos", "tok")))
    val sp = spans.select(col(idCol).as("sid"), col("span_start"),
      col("span_end"))
    val kept = toks.join(sp,
      toks(idCol) === col("sid") &&
        col("pos") >= col("span_start") && col("pos") <= col("span_end"),
      "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
          " ").as("clean_text"))
    docs.select(col(idCol), size(words(col(textCol))).as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0))).cast("int")
          .as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Max pairs collected to the driver by [[componentsAuto]]'s small
    * tier; above this the delta iteration runs. Same bounded-driver-read
    * contract as [[graft.graph.Closure.DriverPreferredMaxEdges]].
    */
  val DefaultMaxDriverPairs = 500000L

  /** Id types whose external (Row-level) natural Comparable order matches
    * Catalyst's `min` ordering — the precondition for the driver
    * union-find tier. Float/double ids are excluded on purpose: their
    * NaN ordering diverges between Catalyst and Comparable, and a
    * floating-point doc id is a modeling bug anyway.
    */
  private def atomicIdType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | DateType | TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Auto entry point for near-dup clustering, tiered like
    * [[graft.graph.Closure.pathCountsAuto]]: a pair list that fits the
    * driver cap resolves via union-find in one pass ([[componentsSmall]]
    * — the near-dup PAIR list is usually dimension-shaped even when the
    * corpus is not, because most documents have no near-duplicate at
    * all); anything bigger runs the distributed delta iteration
    * ([[components]]). One bounded collect is both the size probe and the
    * union-find's read.
    */
  def componentsAuto(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxDriverPairs: Long = DefaultMaxDriverPairs): DataFrame = {
    val projected = pairs.select(col(aCol), col(bCol))
    val small =
      if (!atomicIdType(projected.schema.fields(0).dataType)) None
      else graft.graph.Closure.collectUnder(projected, maxDriverPairs)
    small.fold(components(pairs, aCol, bCol))(unionFind(projected, _))
  }

  /** Driver union-find tier of [[componentsAuto]] — identical output
    * contract to [[components]]: one (node, lab) row per node appearing
    * in `pairs`, lab = the component's minimum member under the node
    * column's OWN type ordering (numeric min for numeric ids, string min
    * for string ids — exactly the distributed tier's `min(lab)`), typed
    * as the input column. Union by rank + path halving; the per-root
    * minimum is resolved in a final pass, so label assignment is
    * order-independent and deterministic.
    */
  def componentsSmall(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxPairs: Long = DefaultMaxDriverPairs): DataFrame = {
    val projected = pairs.select(col(aCol), col(bCol))
    unionFind(projected, graft.graph.Closure.collectUnder(projected, maxPairs)
      .getOrElse(throw new IllegalArgumentException(
        s"componentsSmall: pair list exceeds $maxPairs — use components")))
  }

  /** The union-find over `projected`'s collected (a, b) pair `rows`. */
  private def unionFind(projected: DataFrame,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val nodeType = projected.schema.fields(0).dataType
    require(projected.schema.fields(1).dataType == nodeType,
      s"componentsSmall: ${projected.columns.mkString(" and ")} must share a type")
    // min(lab) in the distributed tier is Catalyst's ordering; for atomic
    // id types (string/int/long/decimal/date) the external values'
    // natural Comparable order is that same order. Complex-typed ids
    // (array/struct) are not id-shaped — route them to the distributed
    // tier instead of defining a divergent driver order.
    require(atomicIdType(nodeType),
      s"componentsSmall: unsupported node type $nodeType — use components")
    val ord: Ordering[Any] = new Ordering[Any] {
      def compare(x: Any, y: Any): Int =
        x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    val es = rows.map(r => (r.get(0), r.get(1)))
    val id = scala.collection.mutable.HashMap[Any, Int]()
    val nodes = scala.collection.mutable.ArrayBuffer[Any]()
    val parent = scala.collection.mutable.ArrayBuffer[Int]()
    val rank = scala.collection.mutable.ArrayBuffer[Byte]()
    def idOf(s: Any): Int = id.getOrElseUpdate(s, {
      nodes += s; parent += parent.length; rank += 0; nodes.length - 1
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(idOf(a)), find(idOf(b)))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    val minOf = scala.collection.mutable.HashMap[Int, Any]()
    nodes.indices.foreach { i =>
      val r = find(i)
      val n = nodes(i)
      if (!minOf.get(r).exists(m => ord.lteq(m, n))) minOf(r) = n
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.length)
    nodes.indices.foreach { i =>
      out.add(org.apache.spark.sql.Row(nodes(i), minOf(find(i))))
    }
    projected.sparkSession.createDataFrame(out, StructType(Seq(
      StructField("node", nodeType, nullable = false),
      StructField("lab", nodeType, nullable = false))))
  }
}
