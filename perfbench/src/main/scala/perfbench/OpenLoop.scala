package perfbench

/** A fixed open-loop schedule: consecutive phases, each offering `rate`
  * records per second for `seconds`. Record `i` is due at a time fixed
  * in advance, whatever the system under test does. */
final case class Phase(name: String, rate: Double, seconds: Double)

final class Schedule(val startNs: Long, val phases: Seq[Phase]) {
  // first offset and start time of each phase
  private val firstOffset: Array[Long] =
    phases.scanLeft(0L)((o, p) => o + math.round(p.rate * p.seconds)).toArray
  private val phaseStartNs: Array[Long] =
    phases.scanLeft(startNs)((t, p) => t + math.round(p.seconds * 1e9)).toArray

  def total: Long = firstOffset.last
  def endNs: Long = phaseStartNs.last

  def phaseIndex(offset: Long): Int = {
    var i = 0
    while (i < phases.size - 1 && offset >= firstOffset(i + 1)) i += 1
    i
  }

  def offsetRange(phase: Int): (Long, Long) = (firstOffset(phase), firstOffset(phase + 1))
  def timeRange(phase: Int): (Long, Long) = (phaseStartNs(phase), phaseStartNs(phase + 1))

  /** When record `offset` is due. */
  def dueNs(offset: Long): Long = {
    val i = phaseIndex(offset)
    phaseStartNs(i) + math.round((offset - firstOffset(i)) * 1e9 / phases(i).rate)
  }

  /** How many records are due by `nowNs`. */
  def dueBy(nowNs: Long): Long = {
    if (nowNs < startNs) return 0L
    if (nowNs >= endNs) return total
    var i = 0
    while (nowNs >= phaseStartNs(i + 1)) i += 1
    // estimate, then settle against dueNs so the two never disagree
    var due = math.min(firstOffset(i) +
      math.floor((nowNs - phaseStartNs(i)) / 1e9 * phases(i).rate).toLong + 1,
      firstOffset(i + 1))
    while (due < firstOffset(i + 1) && dueNs(due) <= nowNs) due += 1
    while (due > firstOffset(i) && dueNs(due - 1) > nowNs) due -= 1
    due
  }
}

object OpenLoop {
  /** Latency of a record: from when it was due to when the batch that
    * emitted it ended. Counting from the due time, not from when the
    * generator got round to creating it, charges generator lag and
    * earlier stalls to the records they delayed. */
  def latencyMs(dueNs: Long, emittedNs: Long): Double = (emittedNs - dueNs) / 1e6

  /** One fixed-rate step: the rate offered and the rate the pipeline
    * emitted while it was offered. Below capacity the two agree; above it
    * the backlog grows and the emitted rate is what the pipeline sustains. */
  final case class Step(rate: Double, emittedRate: Double) {
    def sustained: Double = math.min(rate, emittedRate)
  }

  /** The highest rate sustained over the steps; 0 for none. */
  def sustained(steps: Seq[Step]): Double =
    if (steps.isEmpty) 0.0 else steps.map(_.sustained).max
}
