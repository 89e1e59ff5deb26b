package graft

import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model-based fuzz of the CDC micro-batch merge (SURVEY.md §2.8 M8 /
  * §2.10): random change batches — duplicate keys in one batch,
  * out-of-order timestamps, create/update/delete interleavings — applied
  * through [[CdcStream.mergeCdcBatch]] must converge to a driver-side
  * last-writer-wins model keyed on (ts_ms desc, seq desc).
  *
  * The second property holds the snapshot handle's two arms to a plain
  * last-writer-wins replay, on generated streams of at least eight
  * micro-batches from a seeded initial snapshot. Three results must agree
  * after every batch: the driver arm ([[CdcStream.SnapshotHandle]] under
  * the default cap), the distributed arm ([[CdcStream.mergeCdcBatch]],
  * localCheckpointed per batch as the sink does) and the replay. A fourth,
  * a handle with a small cap, crosses from the driver arm to the
  * distributed one mid-stream. The streams draw the reference's c:u:d
  * 2:1:1 mix over few keys and few stamps, so equal-ts_ms ties are common,
  * under each tiebreak source (a `seq` column, an `offset` column, or the
  * event hash). They include deletes of absent keys, re-creates after a
  * delete, multi-byte and 300-char names, empty batches, and null ops,
  * stamps and ids.
  */
class CdcPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (id, name, op, ts_ms, seq)
  private case class Ev(id: Long, name: String, op: String, ts: Long, seq: Long)

  private val evGen: Gen[Ev] = for {
    id <- Gen.choose(0L, 9L)
    n <- Gen.choose(0, 99)
    op <- Gen.oneOf("c", "u", "d", "r")
    ts <- Gen.choose(0L, 5L) // narrow range forces ts collisions
  } yield Ev(id, s"n$n", op, ts, 0L)

  private def batches(seed: Long): List[List[Ev]] =
    Gen.listOfN(5, Gen.listOfN(12, evGen))(Gen.Parameters.default, Seed(seed))
      .getOrElse(Nil)
      // a global seq disambiguates like a source offset would
      .map(_.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) })

  test("random CDC batch sequences match the last-writer-wins model") {
    (1 to 6).foreach { i =>
      var model = Map[Long, String](1L -> "init1", 2L -> "init2")
      var snap = model.toSeq.toDF("id", "name")
      batches(1000L + i).foreach { b =>
        // model: the winner per id is max by (ts, seq); d removes the key
        b.groupBy(_.id).foreach { case (id, evs) =>
          val w = evs.maxBy(e => (e.ts, e.seq))
          model = if (w.op == "d") model - id else model + (id -> w.name)
        }
        val bdf = b.map(e => (e.id, e.name, e.op, e.ts, e.seq))
          .toDF("id", "name", "op", "ts_ms", "seq")
        snap = CdcStream.mergeCdcBatch(snap, bdf)
          .localCheckpoint(true) // the sink materializes per micro-batch
      }
      val got = snap.select("id", "name").as[(Long, String)].collect().toMap
      assert(got == model, s"case $i diverged")
    }
  }

  private case class Step(op: String, ts: Option[Long], id: Option[Long],
      name: String, tb: Long)

  private val names = Gen.oneOf(Gen.choose(0, 99).map(n => s"n$n"),
    Gen.oneOf("ñandú", "名前", "drone-🚁", "Ωμέγα"),
    Gen.oneOf("x" * 300, "é" * 300))

  private def option[T](g: Gen[T], nullPct: Int): Gen[Option[T]] =
    Gen.frequency(nullPct -> Gen.const(None), (100 - nullPct) -> g.map(Some(_)))

  private val stepGen: Gen[Step] = for {
    op <- Gen.frequency(8 -> Gen.const("c"), 4 -> Gen.const("u"),
      4 -> Gen.const("d"), 1 -> Gen.const("r"), 1 -> Gen.const(null: String))
    ts <- option(Gen.choose(0L, 4L), 5) // few stamps: ties are common
    id <- option(Gen.choose(0L, 19L), 5) // keys 0..5 start present
    name <- names
  } yield Step(op, ts, id, if (op == "d") null else name, 0L)

  /** At least eight batches of up to 14 events, one of them empty; the
    * tiebreak values are a shuffled range, unique over the stream. */
  private def stream(seed: Long): List[List[Step]] = {
    val g = for {
      n <- Gen.choose(8, 10)
      bs <- Gen.listOfN(n, Gen.choose(0, 14).flatMap(Gen.listOfN(_, stepGen)))
      empty <- Gen.choose(0, n - 1)
    } yield bs.updated(empty, Nil)
    val bs = g(Gen.Parameters.default, Seed(seed)).get
    val tbs = new scala.util.Random(seed).shuffle((0L until bs.map(_.size).sum).toList)
    val it = tbs.iterator
    bs.map(_.map(_.copy(tb = it.next())))
  }

  private val flatSchema = StructType.fromDDL(
    "op STRING, ts_ms BIGINT, id BIGINT, name STRING")

  /** The batch as the sink sees it: flat CDC columns, plus the tiebreak
    * column when the source carries one. */
  private def frame(b: List[Step], source: String): DataFrame = {
    val rows = b.map(e => Row(e.op, e.ts.map(Long.box).orNull,
      e.id.map(Long.box).orNull, e.name, e.tb))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      flatSchema.add("tb", "bigint"))
    source match {
      case "hash" => df.drop("tb")
      case other => df.withColumnRenamed("tb", other)
    }
  }

  /** The replay's tiebreak: the source column, or the hash of the event. */
  private def tiebreaks(b: List[Step], df: DataFrame, source: String): List[Long] =
    if (source != "hash") b.map(_.tb)
    else df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)))
      .collect().map(_.getLong(0)).toList

  /** Plain last-writer-wins: per key, the event latest by (ts_ms, tiebreak)
    * with nulls lowest decides; a delete or a null op removes the key; the
    * null key's winner adds a row unless it removes. */
  private def replay(snap: Vector[(Option[Long], String)], b: List[Step],
      tbs: List[Long]): Vector[(Option[Long], String)] =
    b.zip(tbs).groupBy(_._1.id).foldLeft(snap) { case (s, (id, evs)) =>
      val (w, _) = evs.maxBy { case (e, t) => (e.ts, Option(t)) }
      val kept = if (id.isEmpty) s else s.filterNot(_._1 == id)
      if (w.op == null || w.op == "d") kept else kept :+ (id -> w.name)
    }

  private def rowsOf(df: DataFrame): Seq[(Option[Long], String)] =
    df.select("id", "name").collect().toSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
      .sortBy(r => (r._1, r._2))

  private def sorted(v: Seq[(Option[Long], String)]) = v.sortBy(r => (r._1, r._2))

  test("driver arm, distributed arm and a replay agree on generated CDC streams") {
    var crossed = 0
    for ((source, i) <- Seq("seq", "offset", "hash").flatMap(s => Seq(s -> 1, s -> 2))) {
      val seed = 7000L + 10 * i + source.length
      val init = (0L until 6L).map(k => Option(k) -> s"init$k").toVector
      val initDf = init.map { case (k, v) => (k.get, v) }.toDF("id", "name")
      val driver = new CdcStream.SnapshotHandle(spark)
      val crossing = new CdcStream.SnapshotHandle(spark, 10L)
      driver.set(initDf)
      crossing.set(initDf)
      var dist = initDf
      var model = init
      stream(seed).zipWithIndex.foreach { case (b, n) =>
        val df = frame(b, source)
        model = replay(model, b, tiebreaks(b, df, source))
        driver.merge(df)
        crossing.merge(df)
        dist = CdcStream.mergeCdcBatch(dist, df).localCheckpoint(true)
        val want = sorted(model)
        val ctx = s"$source stream $i, batch $n (${b.size} events)"
        assert(rowsOf(driver.snapshot) == want, s"driver arm: $ctx")
        assert(rowsOf(dist) == want, s"mergeCdcBatch: $ctx")
        assert(rowsOf(crossing.snapshot) == want, s"crossing handle: $ctx")
      }
      assert(driver.onDriver, s"$source stream $i left the driver arm")
      if (!crossing.onDriver) crossed += 1
    }
    assert(crossed > 0, "no stream crossed the small cap")
  }
}
