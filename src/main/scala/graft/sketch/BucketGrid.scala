package graft.sketch

/** What the engine's percentile and range serves read from a bucketed
  * value summary. The equi-width [[Histogram]] and the log-linear
  * [[HdrSketch]] are two encodings of one estimator: buckets fully
  * inside a range count exactly, and only the boundary buckets' mass
  * carries error (SIGMOD 2021, "Combining Aggregation and Sampling
  * (Nearly) Optimally"). Each encoding keeps its own fixed order of
  * floating-point operations, which the DuckDB oracles re-derive bit
  * for bit; this interface only names them. `K` is the bucket key the
  * grid's sum rider records per-bucket sums under.
  */
trait BucketGrid[K] {

  /** Rows summarized (NULLs excluded). */
  def n: Long

  /** Interpolated percentile; None when the summary is empty. */
  def quantile(p: Double): Option[Double]

  /** The value error a served percentile carries: one bucket width as
    * a fraction of the equi-width grid, 1/m relative on the log grid.
    */
  def valueErr: Double

  /** (estimate, boundary-bucket mass) of the rows inside a range. */
  def rangeCount(lower: Option[Double], upper: Option[Double]): (Double, Long)

  /** Percentile of the values inside a range; None = no covered mass. */
  def rangePercentile(lower: Option[Double], upper: Option[Double],
      p: Double): Option[Double]

  /** SUM of the values inside a range from the rider's exact per-bucket
    * sums (unscaled scale-4 decimals, `sumOf`): interior buckets add
    * exactly with one cast to double, boundary buckets contribute their
    * covered fraction. Returns (estimate, boundary |sum| mass over
    * |estimate|) — the relative bound.
    */
  def rangeSum(lower: Option[Double], upper: Option[Double],
      sumOf: K => BigInt): (Option[Double], Double)

  /** Whether a whole-column rider's sums cover this grid's buckets. */
  def riderCovers(sums: Map[K, BigInt]): Boolean
}

object BucketGrid {

  /** The rules one grid encoding fixes for every serve that reads it —
    * implemented by the [[Histogram]] and [[HdrSketch]] companions, so
    * a serve written once over `Kind` keeps each grid's behavior.
    */
  trait Kind[K, G <: BucketGrid[K]] {

    /** Catalog types: the whole-column blob, its sum rider, and the
      * grouped blob with its per-group sum rider.
      */
    def sketchType: String
    def sumType: String
    def groupedType: String
    def groupedSumType: String

    def deserialize(data: Array[Byte]): G

    /** Byte-level merge with the empty payload (an all-NULL group) as
      * identity. Grids that cannot merge throw IllegalArgumentException.
      */
    def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte]

    /** One rider pack's per-bucket sums; None = the overflow poison.
      * A malformed bucket key throws IllegalArgumentException.
      */
    def riderSums(pack: Array[Byte]): Option[Map[K, BigInt]]

    /** Whether the grouped range serve may read a SUPERSET blob's
      * marginal (counts and percentiles only).
      */
    def rangeMarginals: Boolean

    /** Whether a grouped range cell holding only boundary mass refuses
      * the whole serve (else the cell's row is dropped).
      */
    def boundaryOnlyRefuses: Boolean

    /** Whether grouped percentile serves emit `_ci_low`/`_ci_high`
      * companions from each group's exact mass.
      */
    def percentileCi: Boolean
  }
}
