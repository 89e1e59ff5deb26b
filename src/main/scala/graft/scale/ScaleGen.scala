package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes the next 10× scale decade from an existing testdata
  * directory — the third decade of scale evidence the bench sweep needs
  * to match the reference's own top scale (1M nodes,
  * demo_did_graph/02_topology_dynamic/benchmark_scenario_a.py:110).
  *
  * Mechanism: union `factor` key-shifted copies of each fact table — the
  * same modular-id discipline as the M6 bulk hierarchy generator
  * (graft.queries.MutQueries.m6Generate): copy `i` shifts every key
  * column by `i × stride` where `stride = max(key)+1`, so keys stay
  * contiguous 0..N·f-1 (the delegation-forest derivation in
  * DynamicReplay.baseDelegation depends on contiguity) and every FK keeps
  * landing on a real parent row in the same copy:
  *
  *  - customer: `c_custkey += i·|C|` (nationkey unchanged — the 25
  *    nations absorb 10× members each, growing hierarchy fan-out the way
  *    a fleet scale-up would).
  *  - orders: `o_orderkey += i·|O|`, `o_custkey += i·|C|`.
  *  - lineitem: `l_orderkey += i·|O|`; part/supplier FKs unchanged
  *    (10× lines per part — dimension tables are not scaled).
  *  - events: `event_id += i·|E|`, `user_id += i·|C|`, `ts += i·span`
  *    so the ordered log stays strictly spread instead of 10 interleaved
  *    identical timelines (ts is normalized to epoch-micros longs first —
  *    [[tsToMicros]] — so the shift is plain long arithmetic whatever the
  *    source encoding; the output is written as TIMESTAMP(MICROS) and
  *    reads back through Tables.events unchanged).
  *  - region/nation/supplier/part/documents/embeddings: copied verbatim.
  *
  * Everything is a distributed union-of-projections — no collect beyond
  * the per-table max(key) scalar, no shuffle except the output
  * repartition that sizes files for parallel re-read.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/benchdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark =
      graft.Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    generate(spark, src, out, factor)
    spark.stop()
  }

  /** Events `ts` → epoch-micros long, dispatching on the physical type
    * the source shipped with: ns-longs integer-divide by 1000; timestamp
    * columns (NTZ or TZ) go through `unix_micros` after a TimestampType
    * cast — the session timezone is UTC, so the NTZ cast is wall-clock
    * identity. Shared with ScaleGenSpec's timeline-disjointness check.
    */
  def tsToMicros(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("ts div 1000"))
      case _ =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
    }
  }

  def generate(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def read(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$n.parquet")
      println(s"[scalegen] wrote $n x$factor")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        df.select(df.columns.toIndexedSeq.map { c =>
          shifts.get(c) match {
            case Some(s) =>
              (col(c) + lit(s * i)).cast(df.schema(c).dataType).as(c)
            case None => col(c)
          }
        }: _*)
      }.reduce(_ unionByName _)

    val customer = read("customer")
    val orders = read("orders")
    // Normalize ts to epoch-micros longs so the copy shift is plain long
    // arithmetic regardless of the source encoding (ns-longs vs
    // TIMESTAMP(MICROS) — see Tables.events); the output converts back to
    // a microsecond TimestampType, the canonical form every reader of the
    // generated decade normalizes to anyway.
    val events = tsToMicros(read("events"))
    val nCust = stride(customer, "c_custkey")
    val nOrd = stride(orders, "o_orderkey")
    val nEvt = stride(events, "event_id")
    // Keep the replicated timelines disjoint: copy i starts one second
    // after copy i-1 ends.
    val tsRow = events.agg(min(col("ts")), max(col("ts"))).head()
    val tsSpan = tsRow.getLong(1) - tsRow.getLong(0) + 1000000L

    write(replicate(customer, Map("c_custkey" -> nCust)), "customer", 8)
    write(replicate(orders, Map("o_orderkey" -> nOrd, "o_custkey" -> nCust)),
      "orders", 8)
    write(replicate(read("lineitem"), Map("l_orderkey" -> nOrd)),
      "lineitem", 16)
    write(replicate(events,
        Map("event_id" -> nEvt, "user_id" -> nCust, "ts" -> tsSpan))
        .withColumn("ts", timestamp_micros(col("ts"))),
      "events", 8)
    Seq("region", "nation", "supplier", "part")
      .foreach(n => write(read(n), n, 1))

    // Pipeline corpora scale by COPY-DISJOINT BLOCKS: ids shift like the
    // fact tables, and each copy gets its own blocking key (source/label)
    // so the block-scoped dedup/similarity workloads (d2-d5) grow
    // linearly — 10× the blocks, same per-block density — instead of
    // pairing 10 verbatim copies inside one block, which would blow the
    // candidate-pair output up quadratically and measure an artifact.
    // Copy 0 stays verbatim (sf1 contains sf0.1 exactly, like the fact
    // tables). Embeddings get a per-copy epsilon so the global ANN scan
    // ranks 10× genuinely distinct vectors rather than tie-broken clones.
    val documents = read("documents")
    val nDoc = stride(documents, "doc_id")
    // The copy suffix embeds the source stride (nDoc), which grows every
    // generation — so REPEATED application (sf1 → sf10 → …) stays
    // injective. The first cut used a bare "_c$i": applied twice, copy 3
    // of "src5" collided with the verbatim-retained "src5_c3" block from
    // the previous generation, merging blocks of VERBATIM-identical
    // documents — exactly the quadratic candidate-pair artifact this
    // block structure exists to prevent (measured: d4 at the collided
    // sf10 read 18-21x the 10x step; 180 of 2000 blocks had merged).
    write((0 until factor).map { i =>
      documents.select(
        (col("doc_id") + lit(nDoc * i)).as("doc_id"),
        col("text"), col("lang"),
        (if (i == 0) col("source")
         else concat(col("source"), lit(s"_s${nDoc}c$i"))).as("source"),
        col("n_chars"))
    }.reduce(_ unionByName _), "documents", 4)

    val embeddings = read("embeddings")
    val nVec = stride(embeddings, "vec_id")
    val nLbl = embeddings.agg(max(col("label"))).head().getInt(0) + 1L
    write((0 until factor).map { i =>
      embeddings.select(
        (col("vec_id") + lit(nVec * i)).as("vec_id"),
        (if (i == 0) col("embedding")
         else transform(col("embedding"),
           x => x + lit((i * 1e-3).toFloat))).as("embedding"),
        (col("label") + lit(nLbl * i)).cast("int").as("label"))
    }.reduce(_ unionByName _), "embeddings", 4)

    // The Tables scan memo pins file listings at first resolution; an
    // in-place regeneration of this dir must drop any entries resolved
    // against the previous contents.
    graft.Tables.invalidate(out)
  }
}
