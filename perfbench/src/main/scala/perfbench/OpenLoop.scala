package perfbench

/** Open-loop timing. Requests are due on a fixed schedule whether or not
  * the system kept up; each is timed from its due time, so a stall is
  * charged to every request that was due during it. Lateness is how far
  * behind its schedule the generator itself ran.
  */
object OpenLoop {

  /** Due times (ns) of `n` ticks every `periodNs` from `t0Ns`. */
  def schedule(t0Ns: Long, periodNs: Long, n: Int): IndexedSeq[Long] =
    IndexedSeq.tabulate(n)(i => t0Ns + i * periodNs)

  /** Latency (ms) of each request: completion minus due time. */
  def latenciesMs(dueNs: Seq[Long], doneNs: Seq[Long]): Seq[Double] = {
    require(dueNs.size == doneNs.size, "one completion per due time")
    dueNs.zip(doneNs).map { case (d, c) => (c - d) / 1e6 }
  }

  /** Generator lateness (ms): how long after its due time each request
    * was actually issued (never negative). */
  def latenessMs(dueNs: Seq[Long], sentNs: Seq[Long]): Seq[Double] =
    dueNs.zip(sentNs).map { case (d, s) => math.max(0L, s - d) / 1e6 }

  /** Completion time of each event of a stream consumed in order, in
    * batches: batch k took the next `rows(k)` events and finished at
    * `endMs(k)`. Events beyond the last batch get no completion. */
  def completions(rows: Seq[Long], endMs: Seq[Long]): IndexedSeq[Long] =
    rows.zip(endMs).flatMap { case (n, end) => Iterator.fill(n.toInt)(end) }
      .toIndexedSeq
}
