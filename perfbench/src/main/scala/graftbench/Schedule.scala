package graftbench

/** Open-loop tick schedule for the `serve` writer: tick k is due at
  * `start + k * period`, whether or not tick k-1 has finished. A tick that
  * starts late (the previous refresh overran its period) is timed from its
  * DUE time, so a backlog shows as growing latency and lateness instead of
  * as a quietly stretched period. All times are in nanoseconds. */
final case class Schedule(startNs: Long, periodNs: Long) {
  require(periodNs > 0, "period must be positive")

  def dueNs(k: Int): Long = startNs + k * periodNs

  /** Ticks due strictly before `endNs` (the measurement window's end). */
  def ticksBefore(endNs: Long): Int =
    if (endNs <= startNs) 0
    else ((endNs - startNs + periodNs - 1) / periodNs).toInt
}

/** One writer tick as it happened. */
final case class Tick(k: Int, dueNs: Long, startNs: Long, endNs: Long) {
  /** How late the tick started: 0 when the writer was idle at its due time. */
  def lateSec: Double = math.max(0L, startNs - dueNs) / 1e9
  /** Refresh time as a user of the cache sees it: from due to done. */
  def fromDueSec: Double = (endNs - dueNs) / 1e9
}

object Schedule {
  /** Run the ticks due before `endNs`, one after another on the calling
    * thread: sleep until a tick is due, or start at once when the previous
    * one overran. `now` and `sleepUntil` are injectable so the accounting
    * can be tested with a simulated clock. */
  def run(s: Schedule, endNs: Long, now: () => Long,
          sleepUntil: Long => Unit)(tick: Int => Unit): Seq[Tick] = {
    val n = s.ticksBefore(endNs)
    (0 until n).map { k =>
      val due = s.dueNs(k)
      if (now() < due) sleepUntil(due)
      val t0 = now()
      tick(k)
      Tick(k, due, t0, now())
    }
  }
}
