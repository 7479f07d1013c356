package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

/** Equi-width histogram sketch: the optimizer-statistics structure that
  * answers percentile/median queries WITHOUT a scan (the q61 estimator
  * lifted into catalog state). Fixed [lo, lo+width·B) bucket grid with
  * per-bucket counts — mergeable (same grid: add counts), O(B) bytes,
  * built in one distributed aggregate over the column.
  *
  * The estimate interpolates inside the bucket that brackets the target
  * rank, so it is within one bucket width of the true order statistic by
  * construction — the error bound the engine reports.
  */
final case class Histogram(lo: Double, width: Double, counts: Array[Long])
    extends BucketGrid[Int] {

  def buckets: Int = counts.length
  def n: Long = { var s = 0L; var i = 0; while (i < counts.length) { s += counts(i); i += 1 }; s }

  /** Interpolated percentile estimate (type-7-style rank p·(n−1) over
    * the grouped counts). The true value lies in the bracketing bucket,
    * and so does the estimate: |est − exact| ≤ width (± one boundary).
    */
  def percentile(p: Double): Double = {
    val total = n
    if (total == 0) return lo
    val target = p * (total - 1).toDouble
    var cum = 0L
    var b = 0
    while (b < counts.length && cum + counts(b) <= target) {
      cum += counts(b); b += 1
    }
    if (b >= counts.length) return lo + width * counts.length
    val within =
      if (counts(b) <= 1L) 0.0 else (target - cum) / counts(b).toDouble
    lo + width * (b.toDouble + within)
  }

  /** Estimated number of values inside a range by linear interpolation
    * over the bucket grid: interior buckets contribute their exact
    * counts (an integer sum), each boundary bucket the fraction of its
    * width the range covers — so the estimate differs from the truth
    * by at most the BOUNDARY buckets' mass, which is returned as the
    * absolute error bound (strict vs inclusive bounds differ only by
    * point mass at the edge, which lives in those same buckets). None
    * on a side = unbounded. Every operation is a fixed association of
    * single divisions/multiplications so an external re-derivation
    * (the q103 oracle) lands on the identical double.
    */
  /** Range endpoints as clamped grid positions plus the boundary
    * bucket indexes — the geometry shared by [[rangeCount]] and the
    * engine's range-sum serve (one definition, so their estimates and
    * their oracles can never drift apart). None = empty range.
    */
  def rangePositions(lower: Option[Double], upper: Option[Double])
      : Option[(Double, Double, Int, Int)] = {
    val b = counts.length
    def pos(x: Double): Double =
      math.min(b.toDouble, math.max(0.0, (x - lo) / width))
    val pa = lower.map(pos).getOrElse(0.0)
    val pb = upper.map(pos).getOrElse(b.toDouble)
    if (pb <= pa) None
    else Some((pa, pb, math.min(b - 1, pa.toInt), // pa >= 0: toInt==floor
      math.min(b - 1, pb.toInt)))
  }

  def rangeCount(lower: Option[Double], upper: Option[Double])
      : (Double, Long) =
    rangePositions(lower, upper) match {
      case None => (0.0, 0L)
      case Some((pa, pb, ia, ib)) =>
        if (ia == ib) (counts(ia).toDouble * (pb - pa), counts(ia))
        else {
          var mid = 0L
          var j = ia + 1
          while (j < ib) { mid += counts(j); j += 1 }
          val est = (mid.toDouble +
            counts(ia).toDouble * ((ia + 1).toDouble - pa)) +
            counts(ib).toDouble * (pb - ib.toDouble)
          (est, counts(ia) + counts(ib))
        }
    }

  /** Percentile of the values inside a range on the SAME column,
    * interpolated over the RESTRICTED bucket masses: boundary buckets
    * carry their covered fraction (the rangeCount geometry), interior
    * buckets their exact counts. The walk keeps interior cumulatives
    * as EXACT integers (one double addition per comparison, fixed
    * association), so an external re-derivation (the q111 oracle)
    * lands on the identical double — the same discipline as
    * [[rangeCount]]. Segment rule: the first segment (in grid order,
    * zero-mass segments skipped) whose cumulative mass reaches
    * `p * totalMass` brackets the estimate; the upper boundary
    * segment's fraction clamps to [0, 1]; if no boundary mass remains
    * the estimate sits at the interior's end. None = the covering
    * buckets are empty — no row can pass the predicate, so exact
    * execution returns NULL too.
    */
  def rangePercentile(lower: Option[Double], upper: Option[Double],
      p: Double): Option[Double] =
    rangePositions(lower, upper).flatMap { case (pa, pb, ia, ib) =>
      if (ia == ib) {
        if (counts(ia) == 0L) None
        else Some(lo + width * (pa + (pb - pa) * p))
      } else {
        val ma = counts(ia).toDouble * ((ia + 1).toDouble - pa)
        val mb = counts(ib).toDouble * (pb - ib.toDouble)
        var interior = 0L
        var j = ia + 1
        while (j < ib) { interior += counts(j); j += 1 }
        val total = (interior.toDouble + ma) + mb // rangeCount's association
        if (total <= 0.0) None
        else {
          val target = p * total
          if (counts(ia) > 0L && ma >= target)
            Some(lo + width *
              (pa + ((ia + 1).toDouble - pa) * (target / ma)))
          else {
            var cum = 0L
            var k = ia + 1
            var hit: Option[Double] = None
            while (k < ib && hit.isEmpty) {
              val next = cum + counts(k)
              if (counts(k) > 0L && ma + next.toDouble >= target)
                hit = Some(lo + width * (k.toDouble +
                  (target - (ma + cum.toDouble)) / counts(k).toDouble))
              else { cum = next; k += 1 }
            }
            hit.orElse(Some(
              if (mb > 0.0)
                lo + width * (ib.toDouble + (pb - ib.toDouble) *
                  math.min(1.0, math.max(0.0,
                    (target - (ma + interior.toDouble)) / mb)))
              else lo + width * ib.toDouble))
          }
        }
      }
    }

  def quantile(p: Double): Option[Double] = Some(percentile(p))

  def valueErr: Double = 1.0 / buckets

  /** Range SUM over the "histsum" rider on [[rangePositions]]' geometry:
    * interior buckets add exactly (unscaled decimal addition, one
    * cast), boundary buckets contribute their covered fraction — the
    * fixed association the q106 oracle re-derives.
    */
  def rangeSum(lower: Option[Double], upper: Option[Double],
      sumOf: Int => BigInt): (Option[Double], Double) = {
    def d(i: Int): Double =
      new java.math.BigDecimal(sumOf(i).bigInteger, 4).doubleValue
    val (est, boundary): (Option[Double], Double) =
      rangePositions(lower, upper) match {
        case None => (None, 0.0) // empty range: SUM of no rows
        case Some((pa, pb, ia, ib)) if ia == ib =>
          (Some(d(ia) * (pb - pa)), math.abs(d(ia)))
        case Some((pa, pb, ia, ib)) =>
          var interior = BigInt(0)
          var j = ia + 1
          while (j < ib) { interior += sumOf(j); j += 1 }
          val interiorD = new java.math.BigDecimal(
            interior.bigInteger, 4).doubleValue
          (Some((interiorD + d(ia) * ((ia + 1).toDouble - pa)) +
            d(ib) * (pb - ib.toDouble)),
            math.abs(d(ia)) + math.abs(d(ib)))
      }
    (est, est match {
      case Some(s0) if s0 != 0.0 => boundary / math.abs(s0)
      case Some(_) if boundary > 0.0 => Double.PositiveInfinity
      case _ => 0.0
    })
  }

  /** A whole-column rider holds one sum per bucket of THIS grid, so a
    * rider left over from a build on another grid refuses.
    */
  def riderCovers(sums: Map[Int, BigInt]): Boolean =
    sums.size == buckets && sums.keysIterator.forall(i => i >= 0 && i < buckets)

  def merge(other: Histogram): Histogram = {
    require(other.lo == lo && other.width == width &&
      other.counts.length == counts.length,
      "histogram grids differ; rebuild instead of merging")
    val out = new Array[Long](counts.length)
    var i = 0
    while (i < counts.length) { out(i) = counts(i) + other.counts(i); i += 1 }
    Histogram(lo, width, out)
  }

  def serialize: Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 + 8 + 8 * counts.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(counts.length).putDouble(lo).putDouble(width)
    counts.foreach(buf.putLong)
    buf.array()
  }
}

object Histogram extends BucketGrid.Kind[Int, Histogram] {
  val sketchType = "histogram"
  val sumType = "histsum"
  val groupedType = "histogram_grouped"
  val groupedSumType = "histsum_grouped"

  /** Counts add only on a shared grid: per-group grids refuse
    * ([[Histogram.merge]] throws) and the serve falls through.
    */
  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else deserialize(a).merge(deserialize(b)).serialize

  /** Bucket index -> sum; an EMPTY pack is the overflow poison the
    * streaming maintainers write.
    */
  def riderSums(pack: Array[Byte]): Option[Map[Int, BigInt]] = {
    val sums = GroupedHll.unpack(pack)
      .collect { case (Some(k), b) => k.toInt -> BigInt(b) }.toMap
    if (sums.isEmpty) None else Some(sums)
  }

  // per-group grids: a superset blob's marginal would merge differing
  // grids, and a boundary-only cell drops its row; grouped percentiles
  // carry no CI companions
  val rangeMarginals = false
  val boundaryOnlyRefuses = false
  val percentileCi = false

  def deserialize(data: Array[Byte]): Histogram = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val b = buf.getInt
    val lo = buf.getDouble
    val width = buf.getDouble
    val counts = Array.fill(b)(buf.getLong)
    Histogram(lo, width, counts)
  }
}
