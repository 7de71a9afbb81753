package graftbench

/** Percentile, throughput and failure-count helpers shared by every
  * workload. Timings are summarised as a median plus the highest
  * percentile that still has at least [[MinBeyond]] samples above it,
  * always together with the sample count, so a tail figure never rests on
  * a handful of requests. */
object Stats {
  /** Samples a reported tail percentile must leave above itself. */
  val MinBeyond = 10

  /** Candidate tail levels, highest first. */
  val TailLevels: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.5)

  final case class Summary(n: Int, p50: Double, tailLevel: Double, tail: Double) {
    def tailName: String = {
      val pct = tailLevel * 100
      if (pct == math.rint(pct)) f"p${pct.toInt}%d" else s"p$pct"
    }
  }

  /** Nearest-rank percentile of an ascending array: the smallest value
    * with at least `p` of the samples at or below it. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 1.0, s"percentile level $p outside (0, 1]")
    val rank = math.ceil(p * sorted.length - 1e-9).toInt
    sorted(math.max(0, math.min(sorted.length - 1, rank - 1)))
  }

  /** Highest level in [[TailLevels]] with at least [[MinBeyond]] samples
    * above it among `n`; below 2 x MinBeyond samples there is none, and
    * the maximum (level 1.0) is reported instead. */
  def tailLevel(n: Int): Double =
    TailLevels.find(p => n - math.ceil(p * n - 1e-9) >= MinBeyond).getOrElse(1.0)

  def median(xs: Iterable[Double]): Double = percentile(xs.toArray.sorted, 0.5)

  /** Median and tail at a level fixed by the caller, so it does not move
    * between runs whose sample counts differ a little; a level leaving
    * fewer than [[MinBeyond]] samples beyond it is lowered to
    * [[tailLevel]] of the count. */
  def summarize(xs: Iterable[Double], level: Double): Summary = {
    val s = xs.toArray.sorted
    val lv = math.min(level, tailLevel(s.length))
    Summary(s.length, percentile(s, 0.5), lv, percentile(s, lv))
  }

  /** Work items per second of a window. */
  def rate(items: Long, windowNs: Long): Double = items / (windowNs / 1e9)

  /** Attempts and failures of a run; a refused, errored or wrong response
    * and a failed check each count as one failure. */
  final class Tally {
    private val attempts = new java.util.concurrent.atomic.AtomicLong()
    private val failures = new java.util.concurrent.atomic.AtomicLong()
    private val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def attempt(ok: Boolean, what: => String = ""): Boolean = {
      attempts.incrementAndGet()
      if (!ok) {
        failures.incrementAndGet()
        if (notes.size < 20) notes.add(what)
      }
      ok
    }
    def attempted: Long = attempts.get()
    def failed: Long = failures.get()
    def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
    def failureNotes: Seq[String] = notes.toArray(Array.empty[String]).toSeq
  }
}
