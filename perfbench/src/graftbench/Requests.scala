package graftbench

/** Seeded request generators. The same seed always yields the same
  * sequence of draws for each client; the program under test only ever
  * sees the generated inputs. */
object Requests {
  /** Independent generator for client `client` of a run seeded `seed`. */
  def clientRng(seed: Long, client: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + client * 7919L + 17L)

  /** Zipf(s) over ranks 0..n-1: P(rank r) proportional to 1 / (r + 1)^s,
    * drawn by inverse CDF. Rank 0 is the hottest key. */
  final class Zipf(n: Int, s: Double) {
    require(n > 0 && s > 0.0)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: java.util.SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      val r = if (i >= 0) i else -i - 1
      math.min(r, n - 1)
    }
  }

  /** A seeded permutation of 0..n-1: maps Zipf ranks onto pool slots so
    * that which keys are hot changes with the seed. */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** `count` distinct values from [lo, hi), ascending, chosen by `seed`. */
  def distinctSample(count: Int, lo: Long, hi: Long, seed: Long): Array[Long] = {
    require(hi - lo >= count, s"cannot draw $count distinct values from [$lo, $hi)")
    val rng = new java.util.SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < count) picked += lo + rng.nextLong(hi - lo)
    picked.toArray.sorted
  }
}
