package graft.perfbench

/** Pure helpers behind the benchmark's numbers: order statistics with
  * their sample counts, job-interval arithmetic, manifest byte accounting
  * and an order-independent result checksum. No Spark here, so the
  * helpers are unit-tested directly (StatsSuite).
  */
object Stats {

  /** A well-spread 64-bit seed for stream `salt` of run seed `seed`
    * (the splitmix64 finalizer): java.util.Random seeded with nearby
    * values starts with nearly equal draws, so seeds 1, 2, 3 must not
    * reach it unmixed.
    */
  def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A reported statistic together with the samples it came from. */
  case class Summary(value: Double, n: Int)

  def median(xs: Seq[Double]): Option[Summary] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val m = s.length / 2
      val v = if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
      Some(Summary(v, s.length))
    }

  /** Samples that must lie strictly above a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` in (0, 1), reported only when at least
    * [[MinBeyond]] samples lie beyond it: a p90 needs 100 samples, so a
    * tail figure is never read off a handful of points.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Summary] = {
    require(p > 0.0 && p < 1.0, s"percentile $p outside (0, 1)")
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val rank = math.ceil(p * s.length).toInt.max(1)
      if (s.length - rank < MinBeyond) None
      else Some(Summary(s(rank - 1), s.length))
    }
  }

  /** Total length of the union of half-open intervals `[start, end)`,
    * each clipped to `[lo, hi)`: the wall time during which at least one
    * job of a span was running, overlapping jobs counted once.
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** The part of a span `[lo, hi)` during which none of its jobs ran:
    * planning, driver-side collects and kernels, and dispatch gaps.
    */
  def driverOnly(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    math.max(0L, (hi - lo) - unionLength(intervals, lo, hi))

  /** Bytes of the files a commit added to a manifest: entries of `after`
    * whose path is not in `before`. Files kept across the commit cost
    * nothing; a rewritten file appears under a new path and counts whole.
    */
  def addedBytes(before: Seq[(String, Long)], after: Seq[(String, Long)]): Long = {
    val old = before.map(_._1).toSet
    after.filterNot { case (p, _) => old(p) }.map(_._2).sum
  }

  /** Canonical text of one result value for [[checksum]]. Doubles are
    * rounded the way the oracle compare tolerates them: magnitudes above
    * 10 to 2 decimals (big sums), the rest to 6 (ratios, scores).
    */
  def canonical(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case a: Array[_] => a.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val scale = if (math.abs(d) > 10.0) 2 else 6
      val r = java.math.BigDecimal.valueOf(d)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
      // -0.0 and 0.0 round to the same text
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }

  /** Order-independent checksum of a result: row count plus the sum
    * (mod 2^64) of each canonical row's 64-bit digest, as hex. Equal
    * multisets of rows give equal checksums in any row order.
    */
  def checksum(rows: Seq[Seq[Any]]): String = {
    var acc = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(r.map(canonical).mkString("\u0001")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    f"${rows.length}%d:$acc%016x"
  }
}
