package graft

import graft.functions.Debezium
import graft.graph.Closure
import graft.streaming.CdcStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Structured Streaming CDC tests, mirroring the reference's
  * canonical sequences: the c→u→d sequence for one key leaves the target
  * empty (07_test_kafka_producer.py:44-71 + 06_postgres_cdc_sink.py:32-64).
  */
class CdcStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def env(op: String, id: Long, name: String, tsMs: Long): String = {
    val before = if (op == "c") "null" else s"""{"id":$id,"name":"old"}"""
    val after = if (op == "d") "null" else s"""{"id":$id,"name":"$name"}"""
    s"""{"payload":{"before":$before,"after":$after,"op":"$op","ts_ms":$tsMs,
       |"source":{"connector":"graft","db":"graftdb","table":"users"}}}"""
      .stripMargin.replace("\n", "")
  }

  test("canonical c->u->d sequence leaves the key absent; others persist") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val parsed = CdcStream.parse(source.toDF().withColumnRenamed("value", "value"))
    val state = new CdcStream.SnapshotHandle(spark)
    val q = CdcStream.start(parsed, state)

    source.addData(env("c", 1, "alice", 100), env("c", 2, "bob", 101))
    q.processAllAvailable()
    assert(state.snapshot.count() == 2)

    source.addData(env("u", 1, "alice2", 200))
    q.processAllAvailable()
    val afterU = state.snapshot.as[(Long, String)].collect().toMap
    assert(afterU(1L) == "alice2" && afterU(2L) == "bob")

    source.addData(env("d", 1, "", 300))
    q.processAllAvailable()
    q.stop()
    val fin = state.snapshot.as[(Long, String)].collect().toMap
    assert(fin == Map(2L -> "bob"), "c->u->d leaves only the untouched key")
  }

  test("within-batch ordering: last writer wins by ts_ms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val state = new CdcStream.SnapshotHandle(spark)
    val q = CdcStream.start(CdcStream.parse(source.toDF()), state)
    // One micro-batch containing create+update+update for the same key.
    source.addData(env("c", 7, "v1", 100), env("u", 7, "v3", 300),
      env("u", 7, "v2", 200))
    q.processAllAvailable()
    q.stop()
    val fin = state.snapshot.as[(Long, String)].collect().toMap
    assert(fin == Map(7L -> "v3"))
  }

  test("idempotent replay: reprocessing the same batch is a no-op") {
    import spark.implicits._
    val batch = CdcStream.parse(
      Seq(env("c", 1, "a", 100), env("u", 1, "b", 200)).toDF("value"))
    val once = CdcStream.mergeCdcBatch(
      Seq((9L, "keep")).toDF("id", "name"), batch)
    val twice = CdcStream.mergeCdcBatch(once, batch)
    assert(once.orderBy("id").collect().sameElements(twice.orderBy("id").collect()))
    // The handle's two arms: the same batch merged twice is merged once.
    for (cap <- Seq(0L, Closure.DriverPreferredMaxEdges)) {
      val h = new CdcStream.SnapshotHandle(spark, cap)
      h.set(Seq((9L, "keep")).toDF("id", "name"))
      h.merge(batch)
      val first = rowsOf(h.snapshot)
      h.merge(batch)
      assert(rowsOf(h.snapshot) == first, s"cap $cap")
      assert(first == Seq((1L, "b"), (9L, "keep")), s"cap $cap")
    }
  }

  /** The snapshot's rows, sorted: (id, name), a null id as Long.MinValue. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("id", "name").collect().toSeq
      .map(r => (if (r.isNullAt(0)) Long.MinValue else r.getLong(0), r.getString(1)))
      .sorted

  /** Flat CDC rows (op, ts_ms, id, name), nulls allowed. */
  private def flat(evs: (String, java.lang.Long, java.lang.Long, String)*) = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "op STRING, ts_ms BIGINT, id BIGINT, name STRING")
    spark.createDataFrame(java.util.Arrays.asList(evs.map { case (o, t, i, n) =>
      org.apache.spark.sql.Row(o, t, i, n) }: _*), schema)
  }

  /** Merge `batches` through mergeCdcBatch and both arms of the handle;
    * all three must agree, and their common result is returned. */
  private def mergeAll(init: Seq[(Long, String)],
      batches: Seq[org.apache.spark.sql.DataFrame]): Seq[(Long, String)] = {
    import spark.implicits._
    val start = init.toDF("id", "name")
    val plan = rowsOf(batches.foldLeft(start)((s, b) =>
      CdcStream.mergeCdcBatch(s, b).localCheckpoint(true)))
    for (cap <- Seq(0L, Closure.DriverPreferredMaxEdges)) {
      val h = new CdcStream.SnapshotHandle(spark, cap)
      h.set(start)
      batches.foreach(h.merge)
      assert(rowsOf(h.snapshot) == plan, s"cap $cap differs from mergeCdcBatch")
    }
    plan
  }

  test("boundary: a latest event with a null op deletes the key, in both arms") {
    val got = mergeAll(Seq(1L -> "a", 2L -> "b"), Seq(flat(
      ("u", 5L, 1L, "a2"), (null, 9L, 1L, "gone"), ("u", 9L, 2L, "b2"))))
    assert(got == Seq((2L, "b2")))
  }

  test("boundary: a null ts_ms loses to any non-null ts_ms, in both arms") {
    val got = mergeAll(Seq(1L -> "a"), Seq(flat(
      ("u", null, 1L, "late"), ("u", Long.MinValue, 1L, "min"),
      ("c", null, 2L, "only"))))
    assert(got == Seq((1L, "min"), (2L, "only")))
  }

  test("boundary: null-id events add a row per batch, in both arms") {
    val b1 = flat(("c", 1L, null, "x1"), ("c", 2L, null, "x2"))
    val b2 = flat(("d", 3L, null, "del"))
    val b3 = flat(("u", 4L, null, "x3"), ("c", 4L, 7L, "k"))
    val got = mergeAll(Seq(1L -> "a"), Seq(b1, b2, b3, b1))
    assert(got == Seq((Long.MinValue, "x2"), (Long.MinValue, "x2"),
      (Long.MinValue, "x3"), (1L, "a"), (7L, "k")))
  }

  test("duplicate keys in a loaded snapshot keep the merge's multiset rule") {
    val got = mergeAll(Seq(1L -> "a", 1L -> "a'", 2L -> "b", 2L -> "b'"),
      Seq(flat(("u", 1L, 2L, "b2"))))
    assert(got == Seq((1L, "a"), (1L, "a'"), (2L, "b2")))
  }

  test("distributed arm keeps its partition count bounded over 64 merges") {
    import spark.implicits._
    val bound = spark.sparkContext.defaultParallelism
    val forced = new CdcStream.SnapshotHandle(spark, 0L)
    val driver = new CdcStream.SnapshotHandle(spark)
    val init = (0L until 40L).map(k => k -> s"n$k").toDF("id", "name")
    forced.set(init)
    driver.set(init)
    (0 until 64).foreach { i =>
      val b = flat(("u", i.toLong, (i % 50).toLong, s"v$i"),
        ((if (i % 3 == 0) "d" else "c"), i.toLong, (i * 7 % 60).toLong, s"w$i"))
      forced.merge(b)
      driver.merge(b)
      val parts = forced.snapshot.rdd.getNumPartitions
      assert(parts <= bound, s"merge $i left $parts partitions (bound $bound)")
    }
    val hash = sum(xxhash64(col("id"), col("name")).cast("decimal(38,0)"))
    assert(forced.snapshot.agg(hash).head() == driver.snapshot.agg(hash).head())
    assert(rowsOf(forced.snapshot) == rowsOf(driver.snapshot))
  }

  test("driver-arm merge reads a parquet batch in one job; its snapshot in none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc-batch").toString
    Seq(("c", 10L, 1L, "a"), ("u", 20L, 1L, "b"), ("c", 10L, 2L, "c"),
      ("d", 30L, 3L, ""), ("c", 40L, 4L, "d"))
      .toDF("op", "ts_ms", "id", "name").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    assert(batch.rdd.getNumPartitions > 1)
    val h = new CdcStream.SnapshotHandle(spark)
    h.set(Seq((3L, "x"), (5L, "y")).toDF("id", "name"))
    val merge = JobWatch(spark)(h.merge(batch))
    assert(merge == JobWatch.Counts(1, 1), s"driver-arm merge: $merge")
    val read = JobWatch(spark)(assert(rowsOf(h.snapshot) ==
      Seq((1L, "b"), (2L, "c"), (4L, "d"), (5L, "y"))))
    assert(read == JobWatch.Counts(0, 0), s"snapshot read: $read")
    val forced = new CdcStream.SnapshotHandle(spark, 0L)
    forced.set(Seq((3L, "x"), (5L, "y")).toDF("id", "name"))
    val dist = JobWatch(spark)(forced.merge(batch))
    assert(dist.jobs > merge.jobs, s"distributed-arm merge: $dist")
    assert(rowsOf(forced.snapshot) == rowsOf(h.snapshot))
  }

  test("the sink reads each micro-batch once: input rows equal events") {
    val watch = java.nio.file.Files.createTempDirectory("cdc-watch").toFile
    (0 until 3).foreach { f =>
      java.nio.file.Files.writeString(new java.io.File(watch, s"f$f.json").toPath,
        (0 until 5).map(i => env("c", f * 10L + i, s"n$i", 100L + i))
          .mkString("", "\n", "\n"))
    }
    val cfg = GraftConfig(cdcSource = "file", cdcSourcePath = watch.getPath,
      cdcMaxFilesPerTrigger = 1)
    val state = new CdcStream.SnapshotHandle(spark)
    val q = CdcStream.start(CdcStream.parse(CdcStream.source(spark, cfg)), state)
    q.processAllAvailable()
    q.stop()
    val rows = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(rows.toSeq == Seq(5L, 5L, 5L), s"input rows per batch: ${rows.toSeq}")
    assert(state.snapshot.count() == 15)
  }

  test("debezium parse round-trips the envelope builder") {
    import spark.implicits._
    val df = Seq((1L, "x", 123L)).toDF("id", "name", "ms")
      .select(Debezium.envelope(Debezium.nullRow,
        struct(col("id"), col("name")), lit("c"), col("ms"), "users").as("value"))
    val flat = CdcStream.parse(df).as[(String, Long, Long, String)].collect()
    assert(flat.toSeq == Seq(("c", 123L, 1L, "x")))
  }

  test("replay stats batch the backlog in id order") {
    import spark.implicits._
    val buffer = (1L to 1050L).map(i => (i, s"p$i")).toDF("id", "payload")
    val stats = CdcStream.replayStats(buffer, 500)
      .as[(Long, Long, Long, Long)].collect()
    assert(stats.length == 3)
    assert(stats(0) == (0L, 500L, 1L, 500L))
    assert(stats(2) == (2L, 50L, 1001L, 1050L))
  }

  test("windowed throughput aggregates op counts in event-time windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val agg = CdcStream.windowedThroughput(CdcStream.parse(source.toDF()), 5)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("thr").start()
    source.addData(env("c", 1, "a", 1000), env("c", 2, "b", 2000),
      env("u", 1, "c", 7000))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("thr")
      .select(col("op"), col("n")).as[(String, Long)].collect().toMap
    assert(rows == Map("c" -> 2L, "u" -> 1L))
    spark.sql("DROP TABLE IF EXISTS thr")
  }

  test("stateful dedup drops replayed events across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val deduped = CdcStream.statefulDedup(CdcStream.parse(source.toDF()))
    val q = deduped.toDF("op", "ts_ms", "id", "name").writeStream
      .outputMode("append").format("memory").queryName("dedup").start()
    source.addData(env("c", 1, "a", 100), env("u", 1, "b", 200))
    q.processAllAvailable()
    // Replay the same events (at-least-once source) plus one genuinely new.
    source.addData(env("c", 1, "a", 100), env("u", 1, "b", 200),
      env("u", 1, "c", 300))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup").as[(String, Long, Long, String)]
      .collect().sortBy(_._2)
    assert(rows.map(_._2).toSeq == Seq(100L, 200L, 300L),
      s"replayed ts must be dropped, got: ${rows.toSeq}")
    spark.sql("DROP TABLE IF EXISTS dedup")
  }

  test("checkpoint recovery: crash mid-stream, restart redelivers the failed batch, merge converges exactly-once") {
    // The HARD half of the s6_checkpoint_resume gate (which stops
    // gracefully between batches): here the query CRASHES inside batch 2
    // — after the source committed its offset plan but before the batch's
    // work completed — and the checkpoint restart must REDELIVER that
    // batch (no loss) while the first incarnation's committed batches are
    // not re-merged (no duplication visible through the idempotent keyed
    // merge). MemoryStream is not fault-tolerant across restarts, so the
    // source is a real file source, the thing production runs.
    val base = new java.io.File(
      s"target/spec_ckpt_${System.nanoTime()}")
    val watch = new java.io.File(base, "in")
    watch.mkdirs()
    val ckpt = new java.io.File(base, "ckpt").getPath
    (0 until 4).foreach { i =>
      val f = new java.io.File(watch, s"b$i.txt")
      java.nio.file.Files.writeString(f.toPath,
        env("c", i * 10L, s"n$i", 1000L + i) + "\n" +
          env("c", i * 10L + 1, s"m$i", 2000L + i) + "\n")
    }
    val state = new CdcStream.SnapshotHandle(spark)
    @volatile var crashed = false
    def startQ() = CdcStream.parse(
        spark.readStream.option("maxFilesPerTrigger", 1).text(watch.getPath))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // Crash BEFORE any merge work on the batch's second delivery
        // target: the restart must re-run this batch id with the same
        // data or the events in file b2 are lost.
        if (!crashed && id == 2) {
          crashed = true
          throw new RuntimeException("injected crash")
        }
        state.merge(batch)
      }.start()
    val q1 = startQ()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(failed.getMessage.contains("injected crash") ||
      Option(failed.getCause).exists(_.getMessage.contains("injected crash")))
    assert(crashed)
    val q2 = startQ() // same checkpoint: resume at batch 2, not batch 0
    q2.processAllAvailable()
    q2.stop()
    val got = state.snapshot.select(col("id"), col("name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0 until 4).flatMap(i =>
      Seq(i * 10L -> s"n$i", i * 10L + 1 -> s"m$i")).toMap
    assert(got == want,
      s"post-recovery snapshot must hold every event exactly once: $got")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(base)
  }

  test("latency segments are non-negative and ordered") {
    import spark.implicits._
    val parsed = CdcStream.parse(
      Seq(env("c", 1, "a", System.currentTimeMillis() - 50)).toDF("value"))
      .withColumn("broker_ts_ms", col("ts_ms") + 10)
    val r = CdcStream.latencySegments(parsed)
      .select("lat_capture_to_broker", "lat_broker_to_apply", "lat_e2e")
      .head()
    assert(r.getLong(0) == 10)
    assert(r.getLong(1) >= 0)
    assert(r.getLong(2) >= r.getLong(0))
  }

  test("rate limiter: streaming micro-batches == batch fold; state carries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Per-key events at 0,30,61,150,600s; rate 1 token/60s, burst 2.
    // Expected per key: t0 admit (tok 2->1), t30 admit (1.5->0.5),
    // t61 reject (~1.0167... wait: 0.5+31/60=1.0167 -> admit!), so
    // compute via the operator's own batch mode and just assert
    // streaming equivalence + a hand-checked prefix.
    def ev(k: Long, s: Long, id: Long) = (k, s * 1000000L, id)
    val all = Seq(ev(1, 0, 1), ev(1, 30, 2), ev(1, 61, 3), ev(1, 150, 4),
      ev(1, 600, 5), ev(2, 0, 6), ev(2, 1, 7), ev(2, 2, 8), ev(2, 3, 9))
    val batch = graft.streaming.RateLimiter
      .admit(all.toDF("k", "t", "i"), ratePerSec = 1.0 / 60.0, burst = 2.0)
      .collect().toSet
    // Hand check key 2: burst 2 admits ids 6,7 (refill negligible),
    // then 8,9 rejected.
    assert(batch.filter(_._1 == 2L).map(_._2) == Set(6L, 7L))

    val source = MemoryStream[(Long, Long, Long)]
    val admitted = graft.streaming.RateLimiter
      .admit(source.toDF(), ratePerSec = 1.0 / 60.0, burst = 2.0)
    val q = admitted.writeStream.format("memory")
      .queryName("rl_out").outputMode("append").start()
    // ts-ordered micro-batches split MID-KEY so state must carry.
    source.addData(all.filter(_._2 <= 30000000L): _*)
    q.processAllAvailable()
    source.addData(all.filter(_._2 > 30000000L): _*)
    q.processAllAvailable()
    val streamed = spark.table("rl_out").as[(Long, Long)].collect().toSet
    q.stop()
    assert(streamed == batch,
      s"streaming $streamed must equal batch $batch across batch splits")
  }
}
