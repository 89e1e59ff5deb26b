package graft.streaming

import graft.functions.Debezium
import graft.graph.Closure
import graft.state.Snapshot
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming CDC pipeline (SURVEY.md §2.10, §3.3).
  *
  * The reference's pipeline is: SQLite trigger → change_log → poll loop →
  * Kafka (Debezium JSON) → consumer → op-dispatch upsert/delete into the
  * warehouse (demo_sqlite_cdc/01_unit_test/05-07, 02_benchmark/02_e2e_cdc.py).
  * Spark-native, the trigger+poll pair *is* the source (offsets replace the
  * `change_id > last_id` cursor), the broker hop is `readStream.format
  * ("kafka")`, and the sink loop is an idempotent `foreachBatch` merge:
  *
  *   kafka/file source → from_json(debezium) → foreachBatch(SnapshotHandle.merge)
  *
  * Exactly-once-ish semantics come from source offsets + idempotent keyed
  * merge (the reference's upsert achieves the same:
  * 06_postgres_cdc_sink.py:41-64). Recovery after an outage is just offset
  * resume — the replay-ordering logic of 03_recovery.py collapses into the
  * source; [[replayStats]] reproduces its rate metrics.
  *
  * Scale: a micro-batch costs O(batch) while the snapshot fits the driver
  * cap. [[SnapshotHandle]] then keeps the snapshot on the driver as a keyed
  * map, reads each batch once with one bounded collect and resolves
  * last-writer-wins on the driver, like the reference's per-key upsert into
  * an indexed table. Past the cap the snapshot lives in the cluster: each
  * batch runs [[mergeCdcBatch]], whose only shuffle is the per-key
  * last-writer-wins window, with an anti-join on the key that is broadcast
  * when the batch is chunk-sized. With a transactional table format the
  * merge maps to MERGE INTO.
  */
object CdcStream {

  /** Parse a stream (or batch) of Debezium JSON strings in `value` into
    * flat CDC columns (op, ts_ms, id, name). Works unchanged on streaming
    * and batch DataFrames — same plan, micro-batched.
    */
  def parse(values: DataFrame): DataFrame = Debezium.flatten(values, "value")

  /** Kafka CDC source — the broker hop of the reference pipeline
    * (demo_sqlite_cdc/01_unit_test/06_postgres_cdc_sink.py:76-90:
    * KafkaConsumer on the topic, earliest offset, JSON value decode).
    * Emits the envelope string plus the source `offset` (the lastPerKey
    * tiebreak) and the broker receive stamp (the middle leg of the
    * 3-segment latency in [[latencySegments]]). Requires the
    * spark-sql-kafka connector on the classpath at runtime.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value").cast("string").as("value"), col("offset"),
        unix_millis(col("timestamp")).as("broker_ts_ms"))

  /** Kafka CDC sink — the producer half
    * (demo_sqlite_cdc/01_unit_test/07_test_kafka_producer.py:39-74:
    * KafkaProducer sending Debezium JSON values). `envelopes` must carry
    * the JSON string in `value`.
    */
  def toKafka(envelopes: DataFrame, bootstrap: String, topic: String,
      checkpointDir: String): StreamingQuery =
    envelopes.select(col("value").cast("string").as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Config-selected CDC source (graft.GraftConfig.cdcSource): "kafka" →
    * the broker; "file" → a tailed directory of envelope lines (the
    * reference's offline buffer file, 03_recovery.py); "memory" → caller
    * supplies a MemoryStream DataFrame via `fallback` (test harness).
    * Every branch yields the same `value: string` contract into [[parse]],
    * so the pipeline downstream of the source is transport-agnostic.
    */
  def source(spark: SparkSession, cfg: graft.GraftConfig,
      fallback: => DataFrame = null): DataFrame = cfg.cdcSource match {
    case "kafka" => fromKafka(spark, cfg.kafkaBootstrap, cfg.kafkaTopic)
    case "file" =>
      require(cfg.cdcSourcePath.nonEmpty, "file source needs cdc_source_path")
      val reader = spark.readStream
      if (cfg.cdcMaxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", cfg.cdcMaxFilesPerTrigger)
      reader.text(cfg.cdcSourcePath)
    case "memory" =>
      require(fallback != null, "memory source needs a caller-supplied stream")
      fallback
    case other => throw new IllegalArgumentException(
      s"unknown cdc_source '$other' — valid values: kafka, file, memory")
  }

  /** The last-writer-wins order of a CDC batch, latest first: `ts_ms`,
    * then a tiebreak. Equal-ts_ms events for one key must not resolve
    * nondeterministically (the reference applies events in change_id order;
    * a bare ts_ms window could apply a delete instead of the later upsert).
    * The tiebreak is the source offset when the source carries one (kafka),
    * else `seq`, else a deterministic hash of the full event over the
    * batch's own columns. Both arms of [[SnapshotHandle.merge]] order by
    * these columns, through [[graft.state.Snapshot.latestPerKey]]'s rule.
    */
  def orderCols(batch: DataFrame): Seq[Column] = {
    val tiebreak =
      if (batch.columns.contains("offset")) col("offset").cast("long")
      else if (batch.columns.contains("seq")) col("seq").cast("long")
      else xxhash64(struct(batch.columns.toIndexedSeq.map(col): _*))
    Seq(col("ts_ms"), tiebreak)
  }

  /** Reduce a CDC micro-batch to its final per-key effect, keeping the
    * delete markers (unlike Snapshot.applyCdc, the merge needs them).
    */
  def lastPerKey(batch: DataFrame): DataFrame =
    Snapshot.latestPerKey(batch, Seq("id"), orderCols(batch))

  /** Idempotent keyed merge of one CDC batch into the snapshot:
    * c/r/u ⇒ upsert, d ⇒ delete (reference op dispatch:
    * demo_sqlite_cdc/01_unit_test/06_postgres_cdc_sink.py:32-64).
    *
    * Per key, the batch's latest event by [[orderCols]] decides. At the
    * boundaries the rule is:
    *  - a latest event with a null `op` deletes the key: the anti-join
    *    removes it and the upsert filter drops the null op;
    *  - a null `ts_ms` loses to any non-null `ts_ms`;
    *  - null-id events are one group whose latest event, unless it is a
    *    delete, adds a row each batch: the anti-join never matches a null
    *    key, so earlier null-id rows are never replaced or deleted.
    * [[SnapshotHandle]]'s driver arm reproduces each of these.
    */
  def mergeCdcBatch(snapshot: DataFrame, batch: DataFrame): DataFrame = {
    val last = lastPerKey(batch)
    val surviving = snapshot.join(last.select("id"), Seq("id"), "left_anti")
    val upserts = last.filter(col("op") =!= "d")
      .select(col("id"), col("name"))
    surviving.unionByName(upserts)
  }

  /** Start the sink: each micro-batch is merged into a driver-held
    * snapshot handle (tests / local mode). In production the body writes
    * to a transactional table instead.
    */
  def start(parsed: DataFrame, state: SnapshotHandle,
      triggerMs: Long = 0L): StreamingQuery = {
    val writer = parsed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => state.merge(batch) }
    (if (triggerMs > 0) writer.trigger(Trigger.ProcessingTime(triggerMs))
     else writer).start()
  }

  /** The CDC snapshot (`id`, `name`) the sink merges into, in one of two
    * arms chosen by size:
    *  - Driver arm, while the snapshot holds at most `maxDriverRows` rows
    *    (default [[Closure.DriverPreferredMaxEdges]]): the rows live on
    *    the driver as a keyed map. [[merge]] reads the batch once, with
    *    one bounded collect of `(op, id, name, ts_ms, tiebreak)`, and
    *    resolves last-writer-wins on the driver in [[orderCols]]' order.
    *    [[snapshot]] is a local relation, so reading it starts no job.
    *  - Distributed arm, once the snapshot or a batch read passes the cap:
    *    [[mergeCdcBatch]], coalesced to the session's parallelism (so the
    *    partition count stays bounded over any number of batches) and
    *    localCheckpointed (so the plan does not grow across batches). The
    *    handle stays in this arm.
    * [[set]] loads the driver arm by the same bounded collect; a snapshot
    * with duplicate keys goes to the distributed arm, which keeps every
    * copy until an event on the key replaces them.
    */
  final class SnapshotHandle(spark: SparkSession,
      maxDriverRows: Long = Closure.DriverPreferredMaxEdges) {
    private val schema = StructType.fromDDL(Debezium.rowDdl)
    // Driver arm: the rows by key, plus the rows with a null key.
    private var rows = Map.empty[Long, String]
    private var nullIdNames = Vector.empty[String]
    // The snapshot frame: the distributed arm's checkpoint, or the driver
    // arm's local relation, built when first read after a change.
    private var settled = false
    private var frame: DataFrame = null

    /** Merge one CDC micro-batch into the snapshot. */
    def merge(batch: DataFrame): Unit = synchronized {
      val read =
        if (settled) None
        else Closure.collectUnder(driverRead(batch), maxDriverRows)
      read match {
        case Some(events) => applyOnDriver(events)
        case None => settle(mergeCdcBatch(snapshot, batch))
      }
    }

    /** Replace the snapshot with the rows of `df` (`id`, `name`). */
    def set(df: DataFrame): Unit = synchronized {
      val idName = df.select(col("id").cast("long"), col("name").cast("string"))
      Closure.collectUnder(idName.coalesce(1), maxDriverRows) match {
        case Some(rs) =>
          val (nulls, keyed) = rs.partition(_.isNullAt(0))
          val m = keyed.map(r => r.getLong(0) -> r.getString(1)).toMap
          if (m.size == keyed.length) {
            rows = m
            nullIdNames = nulls.map(_.getString(1)).toVector
            settled = false
            frame = null
          } else settle(idName)
        case None => settle(idName)
      }
    }

    /** Whether the snapshot is held in the driver arm. */
    private[graft] def onDriver: Boolean = synchronized(!settled)

    def snapshot: DataFrame = synchronized {
      if (frame == null) {
        val out = new java.util.ArrayList[Row](rows.size + nullIdNames.size)
        rows.foreach { case (k, v) => out.add(Row(k, v)) }
        nullIdNames.foreach(v => out.add(Row(null, v)))
        frame = spark.createDataFrame(out, schema)
      }
      frame
    }

    /** One read of the batch, in one job: coalescing to one partition
      * keeps the bounded collect from scanning the batch's partitions in
      * rounds of jobs. */
    private def driverRead(batch: DataFrame): DataFrame =
      batch.select(Seq(col("op"), col("id").cast("long"),
        col("name").cast("string")) ++ orderCols(batch).map(_.cast("long")): _*)
        .coalesce(1)

    /** Last-writer-wins over `(op, id, name, ts_ms, tiebreak)` rows, by
      * [[mergeCdcBatch]]'s rules; spills to the distributed arm past the
      * cap. */
    private def applyOnDriver(events: Array[Row]): Unit = {
      def stamp(r: Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      events.groupBy(r => stamp(r, 1)).foreach { case (id, evs) =>
        // Descending with nulls last: the maximum, with None lowest.
        val w = evs.maxBy(r => (stamp(r, 3), stamp(r, 4)))
        val upsert = !w.isNullAt(0) && w.getString(0) != "d"
        id match {
          case Some(k) => rows = if (upsert) rows.updated(k, w.getString(2)) else rows - k
          case None => if (upsert) nullIdNames :+= w.getString(2)
        }
      }
      frame = null
      if (rows.size + nullIdNames.size > maxDriverRows) settle(snapshot)
    }

    private def settle(df: DataFrame): Unit = {
      frame = df.coalesce(spark.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      settled = true
      rows = Map.empty
      nullIdNames = Vector.empty
    }
  }

  /** 3-segment latency columns (reference: 02_e2e_cdc.py:89-135 measures
    * local→broker, broker→apply, end-to-end). `ts_ms` is the capture time
    * carried in the envelope; broker/apply stamps come from the engine.
    */
  def latencySegments(parsed: DataFrame, brokerTsCol: String = "broker_ts_ms")
      : DataFrame = {
    val applyTs = unix_millis(current_timestamp())
    parsed
      .withColumn("lat_capture_to_broker",
        col(brokerTsCol) - col("ts_ms"))
      .withColumn("lat_broker_to_apply", applyTs - col(brokerTsCol))
      .withColumn("lat_e2e", applyTs - col("ts_ms"))
  }

  /** Recovery replay metrics (reference: 03_recovery.py:73-117 — backlog
    * count, ordered replay, events/sec). Replay order is `id` ascending,
    * batches of `batchSize`; output is one row per replay batch with its
    * id range and size — the driver times the loop to get rates.
    */
  def replayStats(buffer: DataFrame, batchSize: Int): DataFrame =
    buffer
      .withColumn("batch_no",
        floor((row_number().over(Window.orderBy(col("id"))) - 1) / batchSize))
      .groupBy(col("batch_no"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("from_id"),
        max(col("id")).as("to_id"))
      .orderBy(col("batch_no"))

  /** Scale twin of [[replayStats]]: the un-partitioned `row_number` window
    * above pulls the whole backlog through ONE task — fine for the
    * small-scale oracle, a single-executor bottleneck at a 100 TB backlog.
    * Here the batch key is arithmetic — `floor((id - min_id) / batchSize)`
    * — so the only shuffle is the batch_no aggregation and every partition
    * computes its keys independently (min_id is a 1-row broadcast). Batches
    * are id-range slabs rather than exact-size chunks when the id space has
    * gaps; replay order and coverage are identical.
    */
  def replayStatsSharded(buffer: DataFrame, batchSize: Int): DataFrame = {
    val lo = buffer.agg(min(col("id")).as("__min_id"))
    buffer.crossJoin(broadcast(lo))
      .withColumn("batch_no",
        floor((col("id") - col("__min_id")) / batchSize))
      .groupBy(col("batch_no"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("from_id"),
        max(col("id")).as("to_id"))
      .orderBy(col("batch_no"))
  }

  /** Custom keyed state via flatMapGroupsWithState: in-stream exactly-once
    * dedup on (id, ts_ms) — drops CDC events already seen for a key, e.g.
    * when an at-least-once source replays a producer batch after the
    * reference's offline-recovery path (03_recovery.py re-sends buffered
    * rows). State per key is only the high-water ts_ms mark, so state size
    * is O(keys) regardless of stream length; the GroupState timeout would
    * bound it further in production.
    */
  def statefulDedup(parsed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.select("op", "ts_ms", "id", "name")
      .as[(String, Long, Long, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, events: Iterator[(String, Long, Long, String)],
         state: GroupState[Long]) =>
          val highWater = state.getOption.getOrElse(Long.MinValue)
          // Dedup against state AND within the batch: replayed duplicates
          // can land in the same micro-batch, where the high-water filter
          // alone would pass both copies.
          val fresh = events.filter(_._2 > highWater).toSeq
            .sortBy(_._2).distinctBy(_._2)
          if (fresh.nonEmpty) state.update(fresh.map(_._2).max)
          fresh.iterator
      }
  }

  /** Processing-time tumbling throughput (events/sec parity metric —
    * the reference has no event-time windows; ordering is by monotonic id,
    * so a tumbling window on the carried timestamp suffices and late data
    * does not occur in-model).
    */
  def windowedThroughput(parsed: DataFrame, windowSec: Int = 5): DataFrame =
    parsed
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("op"))
      .agg(count(lit(1)).as("n"))
}
