package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, count, expr, lit, max, min}

/** Per-group exact column statistics — the grouped twin of the build
  * stats a plain histogram records in its params (min/max, non-null
  * count, decimal-portable sum). One record per group, packed into a
  * single catalog blob via `GroupedHll.pack` (opaque payloads), so the
  * engine can answer `SELECT g, MIN/MAX/COUNT/SUM/AVG(x) FROM t GROUP
  * BY g` from the catalog with NO scan and NO error.
  *
  * The sum is stored as the UNSCALED integer of the decimal(18,4) sum
  * (a BigInteger): exact, and additively mergeable without float
  * drift, so a future stream-maintenance path can fold per-batch sums
  * without breaking the bit-for-bit serve contract. `sumDouble`
  * reproduces Spark's `cast(sum(cast(x as decimal(18,4))) as double)`
  * exactly (BigDecimal(unscaled, 4).doubleValue is that cast).
  *
  * Payload layout (little-endian):
  * `[u8 present][f64 min][f64 max][i64 nnull][i64 nrows][i32 sumLen]
  * [sum BigInteger.toByteArray]`; present=0 marks an all-NULL group
  * (min/max/sum/avg serve as SQL NULL, counts still serve).
  */
object GroupedStats {

  final case class Stat(min: Option[Double], max: Option[Double],
      nnull: Long, nrows: Long, sumUnscaled: BigInt) {
    def sumDouble: Option[Double] =
      if (nnull == 0L) None
      else Some(new java.math.BigDecimal(sumUnscaled.bigInteger, 4).doubleValue())
    def avgDouble: Option[Double] = sumDouble.map(_ / nnull.toDouble)
    /** Whether `sumDouble` represents the stored decimal sum EXACTLY
      * (the unscaled integer fits the double mantissa). The engine's
      * grouped/filtered stats serves check this before labeling a
      * served SUM/AVG "exact, 0.0 error" — a sum beyond 2^53 refuses
      * and falls through to the scan path instead of serving a rounded
      * double as exact.
      */
    def sumExactDouble: Boolean = sumDouble.forall { d =>
      !d.isInfinite &&
        new java.math.BigDecimal(d)
          .compareTo(new java.math.BigDecimal(sumUnscaled.bigInteger, 4)) == 0
    }
  }

  /** The per-group stats aggregate over `valueCol`, one pass shared by
    * the batch builder (`SketchOps.createGroupedHistogram`) and the
    * streaming maintainers: min/max (as double), counts and the exact
    * decimal(38,4) sum under try_sum (a huge group can neither throw
    * under ANSI nor wrap; value-identical to the decimal(18,4) recipe
    * whenever the sum fits 18 digits).
    */
  def statsAgg(valueCol: String): Seq[Column] = Seq(
    min(col(valueCol)).cast("double").as("lo"),
    max(col(valueCol)).cast("double").as("hi"),
    count(lit(1)).as("n"), count(col(valueCol)).as("nnull"),
    expr(s"try_sum(cast($valueCol as decimal(38,4)))").as("sum4"))

  /** One [[statsAgg]] row with its group key `g` as (group, stat). A
    * NULL sum over non-NULL values is a decimal(38,4) overflow: refuse
    * loudly with `overflow` rather than encode a silent zero the serve
    * would label exact.
    */
  def statOf(r: Row, overflow: => String): (Option[String], Stat) = {
    val sum4 = r.getAs[java.math.BigDecimal]("sum4")
    val nnull = r.getAs[Long]("nnull")
    if (sum4 == null && nnull > 0L)
      throw new IllegalArgumentException(overflow)
    val lo = Option(r.getAs[java.lang.Double]("lo")).map(_.doubleValue)
    Option(r.getAs[String]("g")) -> Stat(lo,
      lo.map(_ => r.getAs[Double]("hi")), nnull, r.getAs[Long]("n"),
      Option(sum4).map(d => BigInt(d.setScale(4).unscaledValue()))
        .getOrElse(BigInt(0)))
  }

  def encode(s: Stat): Array[Byte] = {
    val sumBytes = s.sumUnscaled.bigInteger.toByteArray
    val buf = ByteBuffer.allocate(1 + 8 + 8 + 8 + 8 + 4 + sumBytes.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(if (s.min.isDefined) 1.toByte else 0.toByte)
    buf.putDouble(s.min.getOrElse(0.0))
    buf.putDouble(s.max.getOrElse(0.0))
    buf.putLong(s.nnull)
    buf.putLong(s.nrows)
    buf.putInt(sumBytes.length)
    buf.put(sumBytes)
    buf.array()
  }

  def decode(b: Array[Byte]): Stat = {
    val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val present = buf.get() != 0
    val mn = buf.getDouble
    val mx = buf.getDouble
    val nnull = buf.getLong
    val nrows = buf.getLong
    val sumBytes = new Array[Byte](buf.getInt)
    buf.get(sumBytes)
    Stat(if (present) Some(mn) else None, if (present) Some(mx) else None,
      nnull, nrows, BigInt(new java.math.BigInteger(sumBytes)))
  }

  /** Additive merge of two per-group stat records: min/max monotone,
    * counts and the unscaled decimal sum add exactly — the merge
    * `EventStreams.maintainGroupedStatsSketch` folds per micro-batch
    * (exact end-to-end: BigInt addition, no float drift) and
    * `QueryEngine.storedFilteredGroupAnswer` applies across IN-list
    * groups.
    */
  def merge(a: Stat, b: Stat): Stat = Stat(
    (a.min, b.min) match {
      case (Some(x), Some(y)) => Some(math.min(x, y))
      case (x, y)             => x.orElse(y)
    },
    (a.max, b.max) match {
      case (Some(x), Some(y)) => Some(math.max(x, y))
      case (x, y)             => x.orElse(y)
    },
    a.nnull + b.nnull, a.nrows + b.nrows, a.sumUnscaled + b.sumUnscaled)
}
