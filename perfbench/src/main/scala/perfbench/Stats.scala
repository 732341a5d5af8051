package perfbench

/** Pure summary helpers shared by every workload. */
object Stats {

  /** Median of a non-empty sample (mean of the middle pair when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail latency reported beside the median: the value at the
    * highest percentile that still has at least `beyond` samples above
    * it, i.e. the (beyond+1)-th largest sample. Returns the value, the
    * percentile it sits at and the number of samples beyond it. A
    * sample too small to leave `beyond` samples above any element
    * reports its maximum, at percentile 100, with 0 beyond. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) Tail(s.last, 100.0, 0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, beyond, n)
  }

  /** Order-insensitive content hash of a multiset of rendered rows:
    * each row hashes to 64 bits, and the sum (mod 2^64) does not depend
    * on row order, while duplicates still count. */
  def rowHash(row: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(row, 0x5eed1)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(row, 0x5eed2)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  def multisetHash(rows: Iterator[String]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + rowHash(r)) }

  /** Zipf(s) sizes for `parts` buckets summing to exactly `total`,
    * largest first (largest-remainder rounding, at least 1 each). */
  def zipfSizes(total: Int, parts: Int, s: Double): Vector[Int] = {
    require(total >= parts && parts > 0)
    val w = (1 to parts).map(i => 1.0 / math.pow(i.toDouble, s))
    val ws = w.sum
    val exact = w.map(x => (total - parts) * x / ws)
    val base = exact.map(_.toInt).toArray
    val left = (total - parts) - base.sum
    exact.zipWithIndex.sortBy { case (x, i) => (-(x - x.floor), i) }
      .take(left).foreach { case (_, i) => base(i) += 1 }
    base.map(_ + 1).toVector
  }

  /** Rounded rendering of a double so that content hashes survive the
    * last-bit noise of parallel floating-point aggregation. */
  def roundDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros().toString
}
