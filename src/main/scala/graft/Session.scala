package graft

import org.apache.spark.sql.SparkSession

/** The one engine session. Verify (the oracle), Bench (the timed
  * catalog), ScaleGen, Explain and `tools.Profile` all build it here, so
  * the oracle checks the same engine the bench times. Only confs that
  * differ from Spark 4.1's defaults are set; each caller picks `cpus`.
  */
object Session {

  /** Every engine conf, keyed by name (SessionSpec pins the set).
    *
    * AQE's coalescing target is BYTES (Spark's default floor is 1MB),
    * which serializes CPU-dense but byte-small stages: a ≤1MB shuffle
    * feeding per-row crypto/levenshtein/regex or an exploding Generate
    * collapses to ONE task and runs single-core (r15, measured: d27's
    * two 5 s one-task stages; m8 −46%, d25/d26/g8 −22%, j5/r1 −20% hot
    * p50 after the change). 64KB keeps coalescing for truly tiny
    * shuffles while letting parallelismFirst honor the core count; at
    * cluster scale partitions exceed 1MB anyway. The time zone is
    * pinned because Spark's default is the JVM's.
    */
  private[graft] def confs(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64KB",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder().config(confs(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
