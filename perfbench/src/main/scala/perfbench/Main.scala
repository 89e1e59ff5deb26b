package perfbench

import graft.CacheRegistry
import graft.functions.{CryptoFunctions, DidVc, JsonCanon}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload in this JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--spans <file>]
  * }}}
  *
  * Generates the seed's inputs under `--work`, times set-up `SetupReps`
  * times against fresh copies of them, warms up for half the timed
  * length, runs the timed phase, checks every answer, and prints one
  * result line last: end-to-end metrics with `--trace 0`, per-layer
  * metrics with `--trace 1`.
  */
object Main {
  val SetupReps = 2
  val Customers = 1500
  val Orders = 1500

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload' (known: ${Workloads.Names.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new java.io.File(opts("work"))
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    info("sql_confs", spark.conf.getAll.toSeq.sorted
      .filter(_._1.startsWith("spark.sql.")).map { case (k, v) => k -> Metrics.q(v) })

    val tracer = new Tracer(sc)
    tracer.enabled = traced
    val counts = new JobCounts(tracer)
    if (traced) sc.addSparkListener(counts)

    val tGen = System.nanoTime()
    val data = Gen.tables(seed, Customers, Orders)
    val base = new java.io.File(work, "data-0")
    writeTables(data, base.getPath)
    val genS = (System.nanoTime() - tGen) / 1e9
    val ctx = new Ctx(spark, tracer, seed, data, work, traced)
    val wl = Workloads(workload, ctx)
    val setupOut = new Outcome
    val repS = (0 until SetupReps).map { k =>
      val dir = new java.io.File(work, s"data-${k + 1}")
      copyTree(base.toPath, dir.toPath)
      val s = System.nanoTime()
      wl.setup(dir.getPath, setupOut)
      val took = (System.nanoTime() - s) / 1e9
      if (k < SetupReps - 1) wl.teardown()
      took
    }
    val setupS = sessionS + Stats.median(repS)
    // Let lazy compilation settle on the workload's own operations before
    // timing; answers are still checked.
    wl.warmup(seconds / 2, setupOut)

    val gc0 = gcMs
    val jit0 = jitMs
    val out = new Outcome
    wl.run(seconds, out)
    val gc = gcMs - gc0
    val jit = jitMs - jit0
    val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val heapMb = liveHeapMb

    val attempted = setupOut.attempted + out.attempted
    val failed = setupOut.failed + out.failed
    info("run", Seq("workload" -> Metrics.q(workload), "seed" -> seed.toString,
      "seconds" -> Metrics.num(seconds), "cpus" -> cpus.toString,
      "jvm_start_s" -> Metrics.num(
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
        (System.nanoTime() - t0) / 1e9),
      "session_s" -> Metrics.num(sessionS), "inputs_s" -> Metrics.num(genS),
      "setup_reps_s" -> repS.map(Metrics.num).mkString("[", ",", "]"),
      "ops" -> out.lat.size.toString,
      "ops_failed_frac" -> Metrics.num(failed.toDouble / math.max(1L, attempted))) ++
      out.notes.toSeq.map { case (k, v) => k -> Metrics.q(v) })
    (setupOut.failures ++ out.failures).foreach(f => info("failure", Seq("what" -> Metrics.q(f))))
    info("workload_metrics", workloadMetrics(workload, out, setupS, heapMb,
      failed.toDouble / math.max(1L, attempted)))

    val metrics: Seq[(Metrics.M, Double)] =
      if (!traced) {
        val v = Map("setup_s" -> setupS, "op_p50_ms" -> out.opP50,
          "ops_per_s" -> out.opsPerS)
        Metrics.EndToEnd.map(m => m -> v(m.name))
      } else {
        JobCounts.drain(sc, counts)
        val stream = wl match {
          case cdc: CdcIngest => Metrics.streamFigures(cdc.openBatches, cdc.PerTick,
            cdc.readsPerEvent, cdc.lateness)
          case _ => Metrics.Stream.map(_.name -> 0.0).toMap
        }
        Metrics.layerShares(tracer).foreach(info("layer_share", _))
        val overhead = Workloads.overheadPct(out.byKind.toSeq)
        val v = Metrics.spanFigures(tracer, counts) ++ stream ++ kernelUs(seed) ++
          Map("jvm.gc_ms" -> gc.toDouble, "jvm.jit_ms" -> jit.toDouble,
            "jvm.live_heap_mb" -> heapMb,
            "spark.storage_mb" -> storageMb, "trace.overhead_pct" -> overhead)
        opts.get("spans").foreach { f =>
          new java.io.File(f).getAbsoluteFile.getParentFile.mkdirs()
          Files.write(new java.io.File(f).toPath, tracer.jsonLines.asJava)
        }
        Metrics.PerLayer.map(m => m -> v(m.name))
      }

    wl.close()
    CacheRegistry.releaseAll()
    spark.stop()
    println(Metrics.resultLine(attempted, failed, metrics))
  }

  /** The engine session exactly as graft.Verify builds it. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def info(kind: String, fields: Seq[(String, String)]): Unit =
    println(fields.map { case (k, v) => s"${Metrics.q(k)}: $v" }
      .mkString(s"""{"info": "$kind", """, ", ", "}"))

  /** The figures under the names the benchmark's design uses per
    * workload, with each tail percentile only when enough samples lie
    * beyond it. */
  def workloadMetrics(workload: String, out: Outcome, setupS: Double,
      heapMb: Double, failedFrac: Double): Seq[(String, String)] = {
    def v(x: Double, unit: String) = s"""{"value": ${Metrics.num(x)}, "unit": "$unit"}"""
    def tail(name: String, q: Double) = name -> (Stats.tail(out.lat.toSeq, q) match {
      case Some(x) => v(x, "ms")
      case None => Metrics.q(s"absent: ${out.lat.size} samples, " +
        s"${Stats.samplesNeeded(q)} needed for 10 beyond")
    })
    val p50 = if (out.lat.isEmpty) 0.0 else out.opP50
    val own = workload match {
      case "authz_read" => Seq("authz_p50_ms" -> v(p50, "ms"),
        tail("authz_p95_ms", 0.95), "authz_qps" -> v(out.opsPerS, "1/s"),
        "cred_verified_per_s" -> v(out.notes("cred_verified_per_s").toDouble, "1/s"))
      case "topology_churn" => Seq("churn_step_p50_ms" -> v(p50, "ms"),
        tail("churn_step_p90_ms", 0.90))
      case _ => Seq("cdc_e2e_p50_ms" -> v(p50, "ms"),
        tail("cdc_e2e_p95_ms", 0.95), "cdc_drain_eps" -> v(out.opsPerS, "1/s"))
    }
    own ++ Seq("setup_s" -> v(setupS, "s"), "live_heap_mb" -> v(heapMb, "MB"),
      "ops_failed_frac" -> v(failedFrac, "ratio"))
  }

  /** Write the inputs as one parquet file per table with the parquet
    * library directly: no Spark job runs before set-up starts. */
  def writeTables(t: Gen.Tables, dir: String): Unit = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val conf = new org.apache.hadoop.conf.Configuration()
    def write(name: String, fields: String)(rows: SimpleGroupFactory => Seq[Group]): Unit = {
      val schema = MessageTypeParser.parseMessageType(s"message $name { $fields }")
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
        .withType(schema).withConf(conf).build()
      try rows(new SimpleGroupFactory(schema)).foreach(w.write)
      finally w.close()
    }
    write("region", "required int32 r_regionkey; required binary r_name (UTF8);") { f =>
      (0 until 5).map(r => f.newGroup().append("r_regionkey", r).append("r_name", s"REGION_$r"))
    }
    write("nation", "required int32 n_nationkey; required binary n_name (UTF8); " +
        "required int32 n_regionkey;") { f =>
      t.nationRegion.indices.map(n => f.newGroup().append("n_nationkey", n)
        .append("n_name", s"NATION_$n").append("n_regionkey", t.nationRegion(n)))
    }
    write("customer", "required int64 c_custkey; required binary c_name (UTF8); " +
        "required int32 c_nationkey;") { f =>
      t.customers.map(c => f.newGroup().append("c_custkey", c.key)
        .append("c_name", f"Customer#${c.key}%09d").append("c_nationkey", c.nation))
    }
    write("orders", "required int64 o_orderkey; required int64 o_custkey; " +
        "required binary o_orderpriority (UTF8);") { f =>
      t.orders.map(o => f.newGroup().append("o_orderkey", o.key)
        .append("o_custkey", o.cust).append("o_orderpriority", o.priority))
    }
    write("lineitem", "required int64 l_orderkey; required int32 l_linenumber;") { f =>
      t.lines.map(l => f.newGroup().append("l_orderkey", l.order)
        .append("l_linenumber", l.line))
    }
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Heap in use after a forced full collection: what each heap pool
    * held when that collection ended. */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Per-call µs of the credential kernels, single-threaded on the driver:
    * the median of seven timed batches after a warm-up. */
  def kernelUs(seed: Long): Map[String, Double] = {
    val kp = CryptoFunctions.seededKeyPair("Ed25519", seed)
    val priv = kp.getPrivate.getEncoded
    val pub = kp.getPublic.getEncoded
    val issuer = DidVc.mintDid("issuer-perfbench")
    val n = 64
    val docs = (0 until n).map(i => DidVc.buildVcDoc(s"VC$i", issuer,
      DidVc.mintDid(s"C$i"), s"M$i", s"D$i", "2024-01-01T00:00:00Z"))
    def sign(i: Int) = DidVc.signVc(docs(i), priv, "2024-01-01T00:00:00Z", s"$issuer#key-1")
    val vcs = (0 until n).map(sign)
    val payloads = (0 until n).map(i => s"$i|1-URGENT".getBytes("UTF-8"))
    val sigs = payloads.map(CryptoFunctions.sign("Ed25519", priv, _))
    require(vcs.forall(DidVc.verifyVc(_, pub)), "kernel check: a VC failed to verify")
    def us(f: Int => Any): Double = {
      (0 until 2 * n).foreach(i => f(i % n))
      Stats.median((0 until 7).map { _ =>
        val t = System.nanoTime()
        (0 until n).foreach(f)
        (System.nanoTime() - t) / 1e3 / n
      })
    }
    Map(
      "DidVc.verifyVc.us" -> us(i => DidVc.verifyVc(vcs(i), pub)),
      "DidVc.signVc.us" -> us(sign),
      "CryptoFunctions.verify.us" ->
        us(i => CryptoFunctions.verify("Ed25519", pub, payloads(i), sigs(i))),
      "JsonCanon.canonicalize.us" -> us(i => JsonCanon.canonicalize(vcs(i))))
  }
}
