package graft.bench

/** The benchmark's arithmetic: percentiles, the warm-up levelling
  * rule and event freshness. Pure functions, covered by the
  * benchmark's own spec. */
object Stats {

  /** Linear-interpolation quantile between closest ranks (Hyndman &
    * Fan type 7, numpy's default): q = 0.5 is the ordinary median. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Warm-up has levelled off once the trailing window shows no fall
    * larger than `tol`: the median sample of the last `k` units is no
    * more than `tol` below the median sample of the `k` units before
    * them. A unit's samples are its batch (or pass) times; comparing
    * medians over several units, not one unit with the next, keeps a
    * single noisy unit from ending warm-up while times still fall. */
  def levelled(units: Seq[Seq[Double]], k: Int, tol: Double): Boolean =
    units.size >= 2 * k && {
      val recent = units.takeRight(k).flatten
      val before = units.takeRight(2 * k).take(k).flatten
      median(recent) >= (1 - tol) * median(before)
    }

  /** A committed micro-batch: the highest `seq` it covers and the
    * wall-clock time its trigger finished. */
  final case class BatchEnd(endOffset: Long, endMs: Long)

  /** Freshness of each event: the end time of the first committed
    * batch whose end offset covers the event's `seq`, minus the
    * event's creation stamp. Returns the latencies in ms (in `seq`
    * order) and the number of events no batch covered. */
  def freshness(batches: Seq[BatchEnd],
      events: Seq[(Long, Long)]): (Vector[Double], Int) = {
    val bs = batches.sortBy(b => (b.endOffset, b.endMs)).toVector
    val out = Vector.newBuilder[Double]
    var missing = 0
    var i = 0
    events.sortBy(_._1).foreach { case (seq, createdMs) =>
      while (i < bs.size && bs(i).endOffset < seq) i += 1
      if (i < bs.size) out += (bs(i).endMs - createdMs).toDouble
      else missing += 1
    }
    (out.result(), missing)
  }
}
