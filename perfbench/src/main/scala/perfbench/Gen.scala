package perfbench

import java.util.Random
import scala.collection.mutable

/** Seeded input generation. Everything a workload sends to the engine is
  * derived here from the run's seed; the same seed gives the same inputs.
  */
object Gen {

  /** Zipf(s) over ranks 0..n-1, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val out = w.scanLeft(0.0)(_ + _).tail
      out.map(_ / out.last)
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A seeded permutation of 0..n-1, so skew lands on seed-chosen keys. */
  def permutation(n: Int, r: Random): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  // ---- tables ----

  final case class Customer(key: Long, nation: Int)
  final case class Order(key: Long, cust: Long, priority: String)
  final case class Line(order: Long, line: Int)

  /** The star-schema slice the measured queries read: 5 regions, 25
    * nations (5 per region, seed-assigned), contiguous customer and order
    * keys from 0, 1-7 lines per order. Sizes are fixed; the seed moves
    * values only, so every seed costs the same work. */
  final case class Tables(nationRegion: IndexedSeq[Int],
      customers: IndexedSeq[Customer], orders: IndexedSeq[Order],
      lines: IndexedSeq[Line]) {
    def nCustomers: Int = customers.size
    def nOrders: Int = orders.size
  }

  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def tables(seed: Long, nCustomers: Int, nOrders: Int): Tables = {
    val r = new Random(seed * 31 + 1)
    val nationRegion = permutation(25, r).toIndexedSeq.map(_ % 5)
    val customers = IndexedSeq.tabulate(nCustomers)(k =>
      Customer(k.toLong, r.nextInt(25)))
    val orders = IndexedSeq.tabulate(nOrders)(k =>
      Order(k.toLong, r.nextInt(nCustomers).toLong,
        Priorities(r.nextInt(Priorities.size))))
    val lines = orders.flatMap(o =>
      (1 to 1 + r.nextInt(7)).map(l => Line(o.key, l)))
    Tables(nationRegion, customers, orders, lines)
  }

  // ---- authz_read requests ----

  sealed trait AuthzReq { def kind: String }
  /** Prepared WoT path count E<client> -> E<anchor> within `length`. */
  final case class Bind(client: Int, anchor: Int, length: Int) extends AuthzReq {
    def kind = "bind"
  }
  case object Abac extends AuthzReq { def kind = "abac" }
  /** Delegation chain count from drone `root` at `depth`. */
  final case class Chain(root: Int, depth: Int) extends AuthzReq {
    def kind: String = if (depth <= 8) "chain_shallow" else "chain_deep"
  }
  case object Hier extends AuthzReq { def kind = "hier" }
  /** Credential batch round trip: VCs over every customer (`vc`) or
    * mission signatures over every order. */
  final case class Cred(vc: Boolean) extends AuthzReq { def kind = "cred" }

  val ChainDepths: IndexedSeq[Int] = IndexedSeq(4, 8, 12, 16)

  /** Path lengths a prepared bind asks for. */
  val BindLengths: Range = 1 to 20

  /** Requests per block of the authorization mix. */
  val AuthzBlock = 36

  /** Requests of each kind per block. Every kind occurs in every block,
    * so one block is enough to weigh a run by the mix. */
  val AuthzMix: Map[String, Double] = Map("bind" -> 30, "abac" -> 2,
    "chain_shallow" -> 1, "chain_deep" -> 1, "hier" -> 1, "cred" -> 1)

  /** Authorization mix, weighted toward point decisions. Requests come in
    * blocks of [[AuthzBlock]], each shuffled by the seed: 30 prepared
    * binds, 2 ABAC decisions, 2 chain counts, 1 hierarchy VC count and 1
    * credential batch round trip. Chain depths and credential kinds
    * alternate between even and odd blocks: depths 4 and 12 with VCs,
    * then 8 and 16 with mission signatures. Fixed block contents keep the
    * mix the same in every run however far it gets. Clients and chain
    * roots are Zipf(1.1)-skewed over seed-permuted keys, so parameters
    * repeat; chain roots are drawn from the drones with at least 16
    * levels below them, so a chain count's depth, not its root, sets how
    * far it walks. */
  def authzRequests(seed: Long, nCustomers: Int, blocks: Int): IndexedSeq[AuthzReq] = {
    val r = new Random(seed * 31 + 2)
    val perm = permutation(nCustomers, r)
    val zipf = new Zipf(nCustomers, 1.1)
    val fullRoots = nCustomers -
      graft.scenario.DynamicReplay.DefaultFanout * ChainDepths.max
    val rootPerm = permutation(fullRoots, r)
    val rootZipf = new Zipf(fullRoots, 1.1)
    def root() = rootPerm(rootZipf.sample(r))
    (0 until blocks).flatMap { b =>
      val even = b % 2 == 0
      val block = IndexedSeq.fill(30) {
        val c = perm(zipf.sample(r))
        Bind(c, c + r.nextInt(28) - 3, BindLengths(r.nextInt(BindLengths.size)))
      } ++ IndexedSeq(Abac, Abac,
        Chain(root(), if (even) 4 else 8), Chain(root(), if (even) 12 else 16),
        Hier, Cred(even))
      permutation(AuthzBlock, r).toIndexedSeq.map(block)
    }
  }

  // ---- topology_churn schedule ----

  /** One churn step: re-point drone family `family` (drone_id % modulo)
    * at HQ with an UPDATE-style rewrite or a delete+insert rewire, then
    * count the chain from HQ at `depth`. `first` marks a cycle start,
    * where the snapshot restarts from the base delegation. */
  final case class ChurnStep(first: Boolean, depth: Int, family: Int,
      rewire: Boolean)

  /** Cycles of the replay's depth cycle (4,8,12,16,12,8,4), restarting
    * from the base each cycle so the step cost is stationary. Each cycle
    * re-points distinct seed-chosen families. In the base forest drone k
    * reports to k - 64, so a chain holds the families of one residue mod
    * 4 (64 = 4 mod 20) and a family cuts every chain of its residue into
    * pieces of at most 5; the first four steps take one family of each
    * residue, in seed order, so every seed shortens the forest at the
    * same pace. Mechanics alternate from a seed-chosen start, so any run
    * of steps mixes them evenly. */
  def churnSteps(seed: Long, cycle: Seq[Int], modulo: Int,
      cycles: Int): IndexedSeq[ChurnStep] = {
    val r = new Random(seed * 31 + 3)
    var rewire = r.nextBoolean()
    (0 until cycles).flatMap { _ =>
      val byResidue = permutation(4, r).toSeq.map { c =>
        val own = (0 until modulo).filter(_ % 4 == c)
        own(r.nextInt(own.size))
      }
      val rest = permutation(modulo, r).toSeq.filterNot(byResidue.contains)
      val families = byResidue ++ rest
      cycle.zipWithIndex.map { case (d, i) =>
        rewire = !rewire
        ChurnStep(i == 0, d, families(i), rewire)
      }
    }
  }

  // ---- cdc_ingest events ----

  final case class CdcEvent(seq: Long, op: String, id: Long, name: String)

  /** Debezium envelope of one event, as the change stream carries it. The
    * capture stamp `ts_ms` is the event sequence, strictly increasing, so
    * last-writer-wins is unambiguous. */
  def envelope(e: CdcEvent): String = {
    val row = s"""{"id":${e.id},"name":"${e.name}"}"""
    val (before, after) = if (e.op == "d") (row, "null") else ("null", row)
    s"""{"payload":{"after":$after,"before":$before,"op":"${e.op}",""" +
      s""""source":{"connector":"perfbench","db":"graftdb","table":"drones"},""" +
      s""""ts_ms":${e.seq}}}"""
  }

  /** Change events in the reference capture benchmark's op mix,
    * c:u:d = 2:1:1 (N_INSERT = 10000, N_UPDATE = 5000, N_DELETE = 5000 in
    * BASELINE.md), exact in every run of four events, whose order the
    * seed shuffles. A create inserts a fresh key, as the reference inserts
    * distinct rows; an update or a delete hits a live key drawn Zipf(1.0)
    * by recency, so recently created rows are the hot ones. The snapshot
    * grows by one row per four events, as the reference's table does.
    * Each [[next]] continues from the live keys the previous one left. */
  final class CdcGen(seed: Long, initial: Seq[Long]) {
    private val r = new Random(seed * 31 + 4)
    /** Live keys, oldest first. */
    private val live = mutable.ArrayBuffer[Long](initial: _*)
    private var nextKey = if (initial.isEmpty) 0L else initial.max + 1
    private val ops = mutable.ArrayBuffer[String]()

    /** The next `n` events, with sequence numbers from `firstSeq`. */
    def next(n: Int, firstSeq: Long): IndexedSeq[CdcEvent] = {
      val zipf = new Zipf(live.size + n, 1.0)
      IndexedSeq.tabulate(n) { i =>
        if (ops.isEmpty) ops ++= permutation(4, r).map(IndexedSeq("c", "c", "u", "d"))
        val op = ops.remove(0)
        val seq = firstSeq + i
        val id = if (op == "c") {
          live += nextKey; nextKey += 1; live.last
        } else {
          var rank = zipf.sample(r)
          while (rank >= live.size) rank = zipf.sample(r)
          val k = live(live.size - 1 - rank)
          if (op == "d") live.remove(live.size - 1 - rank)
          k
        }
        CdcEvent(seq, op, id, s"n${id}_$seq")
      }
    }
  }

  /** Driver-side last-writer-wins replay: the snapshot after applying
    * `events` in sequence order to `initial`. */
  def replay(initial: Map[Long, String], events: Seq[CdcEvent]): Map[Long, String] =
    events.sortBy(_.seq).foldLeft(initial) { (s, e) =>
      if (e.op == "d") s - e.id else s.updated(e.id, e.name)
    }
}
