package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one engine session: what `Session.build` sets, and that no
  * other file under src/main builds a session or reads the retired AQE
  * floor knob, so Verify runs the engine Bench times.
  */
class SessionSpec extends AnyFunSuite {

  test("Session.build sets the engine confs on the session it returns") {
    val want = Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64KB",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    assert(Session.confs(3) == want)
    // Master and UI are fixed when the suite's shared context starts, so
    // a fresh session on that context shows the session-level confs.
    val prev = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = Session.build(3)
      assert(s ne prev)
      want.keys.filter(_.startsWith("spark.sql.")).foreach { k =>
        assert(s.conf.get(k) == want(k), k)
      }
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
      prev.sparkContext.setLogLevel("WARN")
    }
  }

  test("src/main builds sessions only in Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    def reading(needle: String): Vector[Path] =
      sources.filter(p => Files.readString(p).contains(needle))
    assert(reading("SparkSession.builder").map(_.getFileName.toString) ==
      Vector("Session.scala"))
    assert(reading("GRAFT_AQE_MIN_PARTITION").isEmpty)
  }
}
