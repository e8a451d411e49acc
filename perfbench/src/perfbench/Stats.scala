package perfbench

/** The benchmark's arithmetic, kept free of Spark so `SelfTest` can pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median of (kind, value) samples in which every kind weighs the
    * same however many times it ran: each sample weighs 1 / its kind's
    * count. With one kind it is the plain median. A run's last block of
    * a mix is usually cut short by the deadline; this keeps its
    * operations without tilting the median toward the kinds that ran.
    */
  def balancedMedian(xs: Seq[(String, Double)]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val count = xs.groupBy(_._1).map { case (k, v) => k -> v.size }
    val s = xs.map { case (k, v) => (v, 1.0 / count(k)) }.sortBy(_._1).toIndexedSeq
    val half = count.size / 2.0
    val eps = 1e-9
    var cum = 0.0
    var i = 0
    while (cum + s(i)._2 < half - eps) { cum += s(i)._2; i += 1 }
    if (math.abs(cum + s(i)._2 - half) < eps && i + 1 < s.size) (s(i)._1 + s(i + 1)._1) / 2 else s(i)._1
  }

  /** Mean over kinds of each kind's median: the cost of one operation
    * of a mix in which every kind runs equally often. With one kind it
    * is the plain median.
    */
  def meanOfKindMedians(xs: Seq[(String, Double)]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    val meds = xs.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq
    meds.sum / meds.size
  }

  /** Rows per second of one pass over the mix in which each kind runs
    * once at its median latency: the sum over kinds of mean rows per
    * operation over the sum over kinds of median milliseconds. With one
    * kind it is rows per operation over the median latency.
    */
  def mixRowsPerS(xs: Seq[(String, Long, Double)]): Double = {
    require(xs.nonEmpty, "throughput of no samples")
    val byKind = xs.groupBy(_._1).values
    val rows = byKind.map(v => v.map(_._2).sum.toDouble / v.size).sum
    val ms = byKind.map(v => median(v.map(_._3))).sum
    1000.0 * rows / ms
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: the sample at 1-based rank n - beyond of the sorted
    * values, reported as (percentile, value). None when there are too
    * few samples for any rank to qualify (n <= beyond).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    val rank = n - beyond
    if (rank < 1) None
    else Some((100.0 * rank / n, xs.sorted.apply(rank - 1)))
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. Input is
    * (id, parent, start, end); parent -1 marks a root.
    */
  def selfTimes(spans: Seq[(Int, Int, Long, Long)]): Map[Int, Long] = {
    val kids = spans.groupBy(_._2)
    spans.map { case (id, _, s, e) =>
      val covered = unionLength(kids.getOrElse(id, Nil).map(k => (k._3, k._4)), s, e)
      id -> ((e - s) - covered)
    }.toMap
  }

  /** Bytes the filesystem wrote per byte of input handed to the writes,
    * with the input sized as compact Parquet (`Op.inputBytes`).
    */
  def writeAmp(bytesWritten: Long, inputBytes: Double): Double = {
    require(inputBytes > 0, s"write_amp needs input: bytes=$inputBytes")
    bytesWritten / inputBytes
  }

  /** Compact-Parquet bytes of `rows` rows, from a sample of `sampleRows`
    * rows that took `sampleBytes`.
    */
  def sizedBytes(rows: Long, sampleBytes: Long, sampleRows: Long): Double = {
    require(sampleBytes > 0 && sampleRows > 0, s"no input sample: bytes=$sampleBytes rows=$sampleRows")
    rows.toDouble * sampleBytes / sampleRows
  }
}
