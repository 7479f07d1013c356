package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

/** Log-linear ("HDR"-style) quantile sketch: RELATIVE-error quantiles
  * over columns whose range the equi-width [[Histogram]] models badly
  * (heavy tails — a revenue column spanning 6 orders of magnitude puts
  * 99% of its mass in one equi-width bucket). Values bucket by binade:
  * a nonzero |v| lands in (e, s) with 2^e·(1+s/m) ≤ |v| < 2^e·(1+(s+1)/m)
  * — e the binary exponent, s one of m linear sub-buckets — so every
  * bucket's width is 1/m of its own magnitude and the interpolated
  * quantile is within 1/m RELATIVE error of the true order statistic.
  * Zero and negative values keep their own buckets (sign-mirrored), so
  * the full real line is covered.
  *
  * Everything is deterministic and cross-engine portable by
  * construction, which is what lets a DuckDB oracle re-derive the
  * serve bit-for-bit (the repo's q74 discipline, but for a log grid):
  *
  *  - the exponent is floor(log2(|v|)) CORRECTED by exact
  *    power-of-two comparisons (2^e ≤ |v| < 2^(e+1)), so a last-ulp
  *    difference in two engines' `log2` can never flip a bucket;
  *  - m is a power of two, so |v|/2^e is an exact exponent shift,
  *    (|v|/2^e − 1) is exact (Sterbenz: both operands in [1, 2)),
  *    and ·m is another exact shift — the sub-bucket floor sees the
  *    identical double in any IEEE-754 engine;
  *  - the serve value is lower + width·within with lower = 2^e·(1+s/m)
  *    and width = 2^e/m (both exact), within a single division —
  *    [[Histogram.percentile]]'s fixed association on a log grid.
  *
  * Merging adds per-bucket counts (no grid to disagree on — the grid
  * is the real line's binades), so sketches merge EXACTLY regardless
  * of when or where they were built: the streaming maintainer folds
  * micro-batches into the stored blob byte-identically to a batch
  * rebuild. O(buckets) bytes; a double column spans at most
  * 2·2098·m + 1 buckets, in practice a few hundred.
  *
  * Reference contract: the sketch-catalog pattern of
  * /root/reference/sketches.py:10-237 (build once, serve many), with
  * the log-linear layout in place of the reference's global-only
  * equal-width structures.
  */
final case class HdrSketch(m: Int, zero: Long,
    neg: Vector[((Int, Int), Long)], pos: Vector[((Int, Int), Long)])
    extends BucketGrid[(Int, Int, Int)] {
  require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")

  def n: Long = zero + neg.iterator.map(_._2).sum + pos.iterator.map(_._2).sum

  /** The serve's honest RELATIVE error bound: one sub-bucket width over
    * its own bucket's lower magnitude, 1/m (zero serves exactly).
    */
  def relErrBound: Double = 1.0 / m

  def valueErr: Double = relErrBound

  def quantile(p: Double): Option[Double] = percentile(p)

  private def pow2(e: Int): Double = java.lang.Math.pow(2.0, e)

  /** Interpolated percentile at [[Histogram.percentile]]'s rank
    * convention (target = p·(n−1), `within` zero for singleton
    * buckets), walked in ascending VALUE order: negatives from the
    * most negative bucket up, then zero, then positives. None when the
    * sketch is empty (exact execution returns NULL over zero rows).
    */
  def percentile(p: Double): Option[Double] = {
    val total = n
    if (total == 0) return None
    val target = p * (total - 1).toDouble
    // ascending value order: neg sorted by (e, s) DESC is ascending
    // value (-2^e(1+s/m) grows as (e, s) shrinks); pos by (e, s) ASC
    val walk: Iterator[(Long, Double, Double)] =
      neg.sortBy { case ((e, s), _) => (-e, -s) }.iterator.map {
        case ((e, s), c) =>
          (c, -pow2(e) * (1.0 + (s + 1).toDouble / m), pow2(e) / m)
      } ++
        (if (zero > 0) Iterator((zero, 0.0, 0.0)) else Iterator.empty) ++
        pos.sortBy(_._1).iterator.map { case ((e, s), c) =>
          (c, pow2(e) * (1.0 + s.toDouble / m), pow2(e) / m)
        }
    var cum = 0L
    var last: (Long, Double, Double) = null
    while (walk.hasNext) {
      val b = walk.next()
      last = b
      if (cum + b._1 > target) {
        val within =
          if (b._1 <= 1L) 0.0 else (target - cum.toDouble) / b._1.toDouble
        return Some(b._2 + b._3 * within)
      }
      cum += b._1
    }
    // target == n-1 exactly at the end: the last bucket's upper edge
    Some(last._2 + last._3)
  }

  /** Estimated row count inside a value range, [[Histogram.rangeCount]]'s
    * discipline on the log grid: buckets FULLY covered contribute their
    * exact integer counts, the (at most two) partially covered edge
    * buckets contribute their covered fraction and their full counts go
    * to the returned absolute error bound. The zero bucket is pure
    * point mass: strictly inside the range it counts exactly; a range
    * bound AT 0 makes it boundary mass (inclusive vs strict differs by
    * exactly that mass, which the caller's error budget sees) and the
    * estimate excludes it. Every float step is a fixed association of
    * exact geometry values and single divisions, so an external
    * re-derivation (the q146 oracle) lands on the identical double.
    * Returns (estimate, boundary-mass bound).
    */
  def rangeCount(lower: Option[Double], upper: Option[Double])
      : (Double, Long) =
    rangeClip(lower, upper) match {
      case None => (0.0, 0L)
      case Some(clip) =>
        val interior = clip.interior.iterator.map(_._2).sum +
          (if (clip.zeroInterior) zero else 0L)
        val boundary = clip.partial.iterator.map(_.c).sum +
          (if (clip.zeroBoundary) zero else 0L)
        val terms = clip.partial.map(pt => pt.c.toDouble * pt.frac)
        ((interior.toDouble + terms.headOption.getOrElse(0.0)) +
          terms.drop(1).headOption.getOrElse(0.0), boundary)
    }

  /** A partially covered edge bucket in a [[RangeClip]]: its count,
    * covered fraction (one division — the float each consumer
    * multiplies by its own per-bucket mass), and the covered value
    * span [ovLo, ovHi) the percentile walk interpolates across.
    */
  final case class ClipPart(key: (Int, Int, Int), c: Long, frac: Double,
      ovLo: Double, ovHi: Double)

  /** The clip geometry a range induces on the log grid, shared by
    * [[rangeCount]], [[rangePercentile]] and the engine's sum-rider
    * serve so their bucket classification can never drift: fully
    * covered nonzero buckets (ascending value order), the ≤2 partially
    * covered edge buckets, and the zero bucket's fate (interior when
    * strictly inside; boundary when a bound sits AT 0). Bucket keys
    * are (sign, e, s). None = empty range.
    */
  final case class RangeClip(
      interior: Vector[((Int, Int, Int), Long)],
      partial: Vector[ClipPart],
      zeroInterior: Boolean, zeroBoundary: Boolean)

  def rangeClip(lower: Option[Double], upper: Option[Double])
      : Option[RangeClip] = {
    val lo = lower.getOrElse(Double.NegativeInfinity)
    val hi = upper.getOrElse(Double.PositiveInfinity)
    if (hi <= lo) return None
    val ins = Vector.newBuilder[((Int, Int, Int), Long)]
    val parts = Vector.newBuilder[ClipPart]
    def bucket(sg: Int, e: Int, s: Int, c: Long, blo: Double, w: Double)
        : Unit = {
      val bhi = blo + w
      val ovLo = math.max(lo, blo)
      val ovHi = math.min(hi, bhi)
      if (ovHi > ovLo) {
        if (ovLo == blo && ovHi == bhi) ins += (((sg, e, s), c))
        else parts += ClipPart((sg, e, s), c, (ovHi - ovLo) / w, ovLo, ovHi)
      }
    }
    neg.sortBy { case ((e, s), _) => (-e, -s) }.foreach { case ((e, s), c) =>
      bucket(-1, e, s, c, -(pow2(e) * (1.0 + (s + 1).toDouble / m)),
        pow2(e) / m)
    }
    val zeroIn = zero > 0 && lo < 0.0 && hi > 0.0
    val zeroBd = zero > 0 && !zeroIn && (lo == 0.0 || hi == 0.0)
    pos.sortBy(_._1).foreach { case ((e, s), c) =>
      bucket(1, e, s, c, pow2(e) * (1.0 + s.toDouble / m), pow2(e) / m)
    }
    Some(RangeClip(ins.result(), parts.result(), zeroIn, zeroBd))
  }

  /** [blo, width) geometry of a nonzero bucket key. */
  private def geom(k: (Int, Int, Int)): (Double, Double) = {
    val (sg, e, s) = k
    val w = pow2(e) / m
    if (sg < 0) (-(pow2(e) * (1.0 + (s + 1).toDouble / m)), w)
    else (pow2(e) * (1.0 + s.toDouble / m), w)
  }

  /** Percentile of the values inside a range — [[Histogram.rangePercentile]]'s
    * segment rule on the log grid, over the SAME clip classification
    * as [[rangeCount]]: the low-edge partial's covered span first
    * (identified structurally: it is the partial whose bucket is
    * clipped on the LEFT, ovLo > blo), then the fully covered buckets
    * walked on EXACT integer cumulatives (the zero bucket at its
    * value-ordered slot, serving 0.0), then the high-edge partial's
    * span clamped to [0, 1]. Every float step is a fixed association,
    * so an external re-derivation (the q149 oracle) lands on the
    * identical double. None = no covered mass (exact execution over
    * zero rows returns NULL too).
    */
  def rangePercentile(lower: Option[Double], upper: Option[Double],
      p: Double): Option[Double] =
    rangeClip(lower, upper).flatMap { clip =>
      val negIn = clip.interior.filter(_._1._1 < 0)
      val posIn = clip.interior.filter(_._1._1 > 0)
      val ordered: Vector[((Int, Int, Int), Long)] =
        negIn ++ (if (clip.zeroInterior) Vector(((0, 0, 0), zero))
                  else Vector.empty) ++ posIn
      // both range edges inside ONE bucket: one doubly clipped partial
      if (ordered.isEmpty && clip.partial.sizeIs == 1 &&
          clip.partial.head.ovLo > geom(clip.partial.head.key)._1 &&
          clip.partial.head.ovHi <
            geom(clip.partial.head.key)._1 + geom(clip.partial.head.key)._2) {
        val pt = clip.partial.head
        return if (pt.c == 0L) None
        else Some(pt.ovLo + (pt.ovHi - pt.ovLo) * p)
      }
      val (loParts, hiParts) = clip.partial.partition { pt =>
        pt.ovLo > geom(pt.key)._1 // left-clipped = the low edge
      }
      val ma = loParts.headOption.map(pt => pt.c.toDouble * pt.frac)
        .getOrElse(0.0)
      val mb = hiParts.headOption.map(pt => pt.c.toDouble * pt.frac)
        .getOrElse(0.0)
      var interiorTotal = 0L
      ordered.foreach(interiorTotal += _._2)
      val total = (interiorTotal.toDouble + ma) + mb
      if (total <= 0.0) None
      else {
        val target = p * total
        if (loParts.nonEmpty && loParts.head.c > 0L && ma >= target) {
          val pt = loParts.head
          Some(pt.ovLo + (pt.ovHi - pt.ovLo) * (target / ma))
        } else {
          var cum = 0L
          var hit: Option[Double] = None
          var i = 0
          while (i < ordered.size && hit.isEmpty) {
            val (k, c) = ordered(i)
            val next = cum + c
            if (c > 0L && ma + next.toDouble >= target)
              hit = Some(
                if (k._1 == 0) 0.0
                else {
                  val (blo, w) = geom(k)
                  blo + w * ((target - (ma + cum.toDouble)) / c.toDouble)
                })
            else { cum = next; i += 1 }
          }
          hit.orElse(Some {
            if (hiParts.nonEmpty && mb > 0.0) {
              val pt = hiParts.head
              pt.ovLo + (pt.ovHi - pt.ovLo) * math.min(1.0, math.max(0.0,
                (target - (ma + interiorTotal.toDouble)) / mb))
            } else if (ordered.nonEmpty) {
              val (k, _) = ordered.last
              if (k._1 == 0) 0.0
              else { val (blo, w) = geom(k); blo + w }
            } else loParts.head.ovHi
          })
        }
      }
    }

  /** The "hdrsum" clip fold (the q148/q160 arithmetic) over
    * [[rangeClip]]: interior decimal sums add exactly (unscaled BigInt
    * addition, ONE cast to double), the <=2 clipped edge terms scale by
    * the covered fraction in partial order, and the |sum| boundary
    * mass bounds the estimate.
    */
  def rangeSum(lower: Option[Double], upper: Option[Double],
      sumOf: ((Int, Int, Int)) => BigInt): (Option[Double], Double) =
    rangeClip(lower, upper) match {
      case None => (None, 0.0) // empty range: SUM of no rows is NULL
      case Some(clip) =>
        var interior = BigInt(0)
        clip.interior.foreach { case (kk, _) => interior += sumOf(kk) }
        def d(v: BigInt): Double =
          new java.math.BigDecimal(v.bigInteger, 4).doubleValue
        val terms = clip.partial.map(pt => d(sumOf(pt.key)) * pt.frac)
        val est = (d(interior) + terms.headOption.getOrElse(0.0)) +
          terms.drop(1).headOption.getOrElse(0.0)
        val bMass = clip.partial.map(pt => math.abs(d(sumOf(pt.key)))).sum
        val rel =
          if (est != 0.0) bMass / math.abs(est)
          else if (bMass > 0.0) Double.PositiveInfinity
          else 0.0
        (Some(est), rel)
    }

  /** The log grid has no fixed bucket set: absent buckets sum to 0. */
  def riderCovers(sums: Map[(Int, Int, Int), BigInt]): Boolean = true

  /** Exact merge: per-bucket count addition (the log grid is global by
    * construction, so any two sketches of the same m merge).
    */
  def merge(other: HdrSketch): HdrSketch = {
    require(other.m == m, s"sub-bucket counts differ: $m vs ${other.m}")
    def add(a: Vector[((Int, Int), Long)], b: Vector[((Int, Int), Long)]) = {
      val acc = scala.collection.mutable.TreeMap.empty[(Int, Int), Long]
      (a.iterator ++ b.iterator).foreach { case (k, c) =>
        acc.updateWith(k) { case prev => Some(prev.getOrElse(0L) + c) }
      }
      acc.toVector
    }
    HdrSketch(m, zero + other.zero, add(neg, other.neg), add(pos, other.pos))
  }

  /** Canonical layout (keys sorted ascending per section), so equal
    * sketches serialize byte-identically — the stream==batch law's
    * requirement. `[m i32][zero i64][nNeg i32][nPos i32]
    * [(e i32, s i32, cnt i64)...neg][...pos]`, little-endian.
    */
  def serialize: Array[Byte] = {
    val ns = neg.sortBy(_._1)
    val ps = pos.sortBy(_._1)
    val buf = ByteBuffer
      .allocate(4 + 8 + 4 + 4 + 16 * (ns.size + ps.size))
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(m).putLong(zero).putInt(ns.size).putInt(ps.size)
    (ns ++ ps).foreach { case ((e, s), c) =>
      buf.putInt(e).putInt(s).putLong(c)
    }
    buf.array()
  }
}

object HdrSketch extends BucketGrid.Kind[(Int, Int, Int), HdrSketch] {
  val sketchType = "hdr"
  val sumType = "hdrsum"
  val groupedType = "hdr_grouped"
  val groupedSumType = "hdrsum_grouped"

  /** Byte-level merge with the empty payload as identity — THE rule
    * shared by the engine's partial-key/marginal collapse and the
    * streaming maintainer's fold, so the stream==batch byte-equality
    * law can never drift from the serve-side collapse semantics. Exact
    * for ANY two groups: the log grid is the real line's binades.
    */
  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else deserialize(a).merge(deserialize(b)).serialize

  /** "sg:e:s" -> sum; the [[SketchOps.HdrSumPoisonKey]] entry is the
    * overflow poison, while an EMPTY pack is a legitimate all-zero cell
    * (the zero bucket carries no rider entry).
    */
  def riderSums(pack: Array[Byte]): Option[Map[(Int, Int, Int), BigInt]] = {
    val entries = GroupedHll.unpack(pack)
    if (entries.exists(_._1.contains(SketchOps.HdrSumPoisonKey))) None
    else Some(entries.map {
      case (Some(k), b) => k.split(":") match {
        case Array(sg, e, s) => (sg.toInt, e.toInt, s.toInt) -> BigInt(b)
        case _ => throw new IllegalArgumentException(s"malformed hdrsum key '$k'")
      }
      case (None, _) => throw new IllegalArgumentException("null hdrsum key")
    }.toMap)
  }

  // the log grid is global: cells of any groups merge exactly, so a
  // superset blob's marginal serves, a boundary-only cell cannot be
  // dropped silently, and each group's exact mass gives rank CIs
  val rangeMarginals = true
  val boundaryOnlyRefuses = true
  val percentileCi = true

  /** Deterministic bucket of a nonzero magnitude: candidate
    * floor(log2(av)) corrected against exact powers of two, then the
    * exact-arithmetic linear sub-bucket. Total per-value work is O(1).
    */
  def bucketOf(av: Double, m: Int): (Int, Int) = {
    require(av > 0.0 && !av.isInfinite, s"bucketOf needs a finite positive value, got $av")
    var e = java.lang.Math.floor(java.lang.Math.log(av) /
      java.lang.Math.log(2.0)).toInt
    // one-step correction: log2's last-ulp error flips floor only at
    // binade edges, never by more than one
    if (java.lang.Math.pow(2.0, e) > av) e -= 1
    else if (java.lang.Math.pow(2.0, e + 1) <= av) e += 1
    val scaled = av / java.lang.Math.pow(2.0, e) // exact shift, in [1, 2)
    val s = math.min(m - 1,
      java.lang.Math.floor((scaled - 1.0) * m).toInt)
    (e, s)
  }

  def deserialize(data: Array[Byte]): HdrSketch = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val m = buf.getInt
    val zero = buf.getLong
    val nNeg = buf.getInt
    val nPos = buf.getInt
    def entries(k: Int) = Vector.fill(k)(
      ((buf.getInt, buf.getInt), buf.getLong))
    val neg = entries(nNeg)
    val pos = entries(nPos)
    HdrSketch(m, zero, neg, pos)
  }
}
