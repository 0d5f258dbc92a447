package graft.ext

/** Opt-in wall-clock phase log: lifecycle operators (index build /
 *  append / compact / serve) and the commit path — `source_stage`,
 *  `discovery` and `index` in MERGE, `write_job`, `harvest` and `cas`
 *  in every commit. Inert unless a capture is active — the library
 *  never pays for it in production paths. The bench wraps each
 *  LIFECYCLE declared query (q115/q117/q124/q126/q128) in [[capture]]
 *  so BENCH_DETAIL can attribute a query's wall to its phases: the
 *  session-cached fixture builds land in the warm rep, the steady reps
 *  are serve-only, and suite-total variance becomes attributable
 *  (VERDICT r10–r12: q124 recorded 1.89→4.50 s across identical code
 *  with no way to see WHICH phase moved).
 *
 *  Single active capture at a time (the bench is single-threaded across
 *  queries); phases timed on any thread land in the active capture. A
 *  phase that throws still records its time, so a retried attempt's
 *  work stays in the sums. */
object PhaseLog {
  @volatile private var sink:
    Option[java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]] = None

  /** Run `body` recording every [[timed]] phase inside it; returns the
   *  result and the (phase, seconds) list in completion order. */
  def capture[T](body: => T): (T, Seq[(String, Double)]) = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    sink = Some(buf)
    try {
      val r = body
      (r, buf.toArray(Array.empty[(String, Double)]).toSeq)
    } finally sink = None
  }

  private[graft] def timed[T](phase: String)(body: => T): T = sink match {
    case None => body
    case Some(buf) =>
      val t0 = System.nanoTime()
      try body finally buf.add(phase -> (System.nanoTime() - t0) / 1e9)
  }
}
