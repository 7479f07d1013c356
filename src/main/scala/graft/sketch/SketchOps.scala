package graft.sketch

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.catalog.MetaCatalog

/** Sketch build-and-store operations — the Spark-native form of the
  * reference's `POST /sketches/create` + `GET /sketches`
  * (/root/reference/app.py:222-306, storage.py:112-162).
  *
  * Differences (upgrades documented in SURVEY §4.4):
  *  - the reference computes an exact DISTINCT / GROUP BY first and
  *    feeds the sketch on the driver, capped at 1M values; here the
  *    sketch IS the aggregate — one distributed pass, no cap;
  *  - stored sketches are actually readable (the reference's
  *    `get_sketch` has zero callers).
  */
object SketchOps {

  /** Build an HLL over `table.column`, persist in the catalog, return
    * (serialized size, estimate). b=12 matches the endpoint default
    * (/root/reference/app.py:247).
    */
  def createHll(spark: SparkSession, catalog: MetaCatalog, table: String,
      column: String, b: Int = 12): (Int, Long) = {
    // count(*) rides the same single pass; recorded as "rows" so the
    // engine's freshness guard can detect a grown/shrunk base table
    // (QueryEngine.sketchIsFresh) instead of serving stale answers
    import org.apache.spark.sql.functions.{count, lit}
    val row = spark.table(table)
      .agg(Hll.sketchAgg(col(column).cast("string"), b).as("s"),
        count(lit(1)).as("n"))
      .collect().head
    val bytes = row.getAs[Array[Byte]]("s")
    catalog.upsertSketch(catalog.SketchInfo(table, column, "hyperloglog",
      bytes, s"""{"b":$b,"rows":${row.getAs[Long]("n")}}""",
      System.currentTimeMillis()))
    (bytes.length, Hll.deserialize(bytes).count)
  }

  /** Upper bound on the group cardinality a grouped HLL will hold: the
    * blob is driver-resident catalog metadata (a few KB per group at
    * b=12), so a grouping column with more distinct values than this is
    * a data column, not a dimension — refuse rather than build a
    * multi-GB "sketch".
    */
  val MaxHllGroups = 10000

  /** Build one HLL PER GROUP over `table.valueCol` grouped by
    * `groupCol`, packed into a single catalog blob — the input to the
    * engine's no-scan answer for `SELECT g, count(distinct x) FROM t
    * GROUP BY g` (the reference's sketch store is global-only). One
    * distributed pass: the HLL aggregator partial-merges per task, so
    * only the finished per-group registers reach the driver. Returns
    * (serialized size, group count).
    */
  def createGroupedHll(spark: SparkSession, catalog: MetaCatalog,
      table: String, groupCol: String, valueCol: String,
      b: Int = 12): (Int, Int) =
    createGroupedHll(spark, catalog, table, Seq(groupCol), valueCol, b)

  /** Group-key rendering shared by every grouped builder: a single
    * column keys groups as the raw `cast(g as string)` (the original
    * contract, byte-stable for the stream-maintenance laws); a
    * COMPOSITE key renders as `to_json(array(cast(g1 as string), ...))`
    * — Spark's own JSON escaping, computed distributed in the same
    * pass, decoded engine-side by `QueryEngine.decodeGroupKey`.
    */
  private[graft] def groupKeyExpr(groupCols: Seq[String],
      fields: Seq[String] = Nil): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    if (groupCols.sizeIs == 1) keyCol(groupCols.head, fields).cast("string")
    else expr(groupCols.map(c => s"cast(${quoteIfField(c, fields)} as string)")
      .mkString("to_json(array(", ", ", "))"))
  }

  /** A group-key spec is usually a column NAME, but may be a
    * deterministic comma-free EXPRESSION (round 10 — `to_date(ts)`,
    * `year(ts)`: the time-bucket dashboard keys). A spec matching the
    * input's SCHEMA is always treated as that column (backtick-quoted,
    * so a column literally named "a+b" keys on the column, never on a
    * parsed addition); otherwise plain identifiers go through `col`
    * and anything else parses as an expression. The engine matches the
    * recorded text against the query's grouping expression rendering.
    */
  private def keyCol(name: String, fields: Seq[String])
      : org.apache.spark.sql.Column =
    if (fields.exists(_.equalsIgnoreCase(name))) col(quoted(name))
    else if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) col(name)
    else org.apache.spark.sql.functions.expr(name)

  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  private def quoteIfField(name: String, fields: Seq[String]): String =
    if (fields.exists(_.equalsIgnoreCase(name))) quoted(name) else name

  /** Build-side twin of the engine's fixed-offset serve gate: grouped
    * blobs key groups by the session-zone cast-to-string rendering,
    * which is NOT bijective for timestamps in a DST zone (two distinct
    * instants in the fall-back hour render identically and would merge
    * silently at build time). Refuse the build outright rather than
    * persist a blob whose groups are already wrong.
    */
  private def requireBijectiveKeys(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      what: String): Unit = {
    val fixed = scala.util.Try(java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
      .getRules.isFixedOffset).getOrElse(false)
    if (!fixed) {
      val fields = df.schema.fieldNames.toSeq
      val keyTypes = scala.util.Try(
        df.select(groupCols.map(c => keyCol(c, fields)): _*)
          .schema.map(_.dataType)).getOrElse(Nil)
      if (keyTypes.contains(org.apache.spark.sql.types.TimestampType))
        throw new IllegalArgumentException(
          s"$what: timestamp group keys need a fixed-offset session " +
            s"time zone (got '${spark.sessionState.conf.sessionLocalTimeZone}') " +
            "— the zone-local key rendering is ambiguous through DST " +
            "transitions, so the blob would merge distinct instants")
    }
  }

  /** Composite-key variant: one HLL per (g1, g2, ...) tuple, so
    * `GROUP BY a, b` rollups (the data-card shape) serve with no scan
    * too. group_by records the comma-joined column list; the engine
    * dispatches on SET equality of the key columns.
    */
  def createGroupedHll(spark: SparkSession, catalog: MetaCatalog,
      table: String, groupCols: Seq[String], valueCol: String,
      b: Int): (Int, Int) = {
    require(groupCols.nonEmpty, "at least one group column required")
    import org.apache.spark.sql.functions.{count, lit}
    requireBijectiveKeys(spark, spark.table(table), groupCols,
      s"grouped HLL over $table")
    // count(*) rides the same pass; the SUM over groups is the full
    // rowcount for the freshness guard (every row lands in exactly one
    // group, NULL keys included). limit(MaxHllGroups+1) bounds driver
    // memory while still detecting overflow.
    val rows = spark.table(table)
      .groupBy(groupKeyExpr(groupCols, spark.table(table).schema.fieldNames.toSeq).as("g"))
      .agg(Hll.sketchAgg(col(valueCol).cast("string"), b).as("s"),
        count(lit(1)).as("n"))
      .limit(MaxHllGroups + 1)
      .collect()
    if (rows.length > MaxHllGroups)
      throw new IllegalArgumentException(
        s"grouped HLL over $table.${groupCols.mkString(",")}: " +
          s"more than $MaxHllGroups groups")
    val groups = rows.toSeq.map { r =>
      (Option(r.getAs[String]("g")), r.getAs[Array[Byte]]("s"))
    }
    val total = rows.map(_.getAs[Long]("n")).sum
    val bytes = GroupedHll.serialize(groups)
    catalog.upsertSketch(catalog.SketchInfo(table, valueCol, "hll_grouped",
      bytes,
      s"""{"b":$b,"group_by":"${groupCols.mkString(",")}",""" +
        s""""groups":${groups.size},"rows":$total}""",
      System.currentTimeMillis()))
    (bytes.length, groups.size)
  }

  /** Build an equi-width histogram sketch over a numeric column (one
    * min/max pass + one bucket-count aggregate), persist in the
    * catalog. The engine's histogram strategy answers percentile
    * queries from it with NO scan (Histogram.percentile), accurate to
    * one bucket width.
    */
  def createHistogram(spark: SparkSession, catalog: MetaCatalog,
      table: String, column: String, buckets: Int = 64): Histogram = {
    import org.apache.spark.sql.functions.{expr, max, min}
    import org.apache.spark.sql.functions.{count, lit}
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // min/max skip NULLs natively, so the stats pass runs unfiltered
    // (its count(*) is the full-table rowcount the freshness guard
    // compares against); the bucket pass drops NULLs — they have no
    // bucket, and SQL percentile ignores them too. An empty/all-NULL
    // column is refused rather than emitting a NaN-grid sketch.
    // exact column statistics ride the same stats pass: count(col) and
    // the decimal-portable sum (the repo's cross-engine sum recipe) are
    // recorded in params so the engine's stats-serve path can answer
    // MIN/MAX/COUNT/SUM/AVG queries from the catalog with no scan,
    // EXACTLY (as of build time; the freshness guard retires them)
    // the sum aggregates at decimal(38,4) under try_sum so a huge table
    // cannot throw (ANSI) or silently wrap; the recorded double is
    // value-identical to the repo's decimal(18,4) recipe whenever the
    // sum fits 18 digits (the oracle-pinned case)
    val mm = spark.table(table)
      .agg(min(col(column)).cast("double"), max(col(column)).cast("double"),
        count(lit(1)), count(col(column)),
        expr(s"try_sum(cast($column as decimal(38,4)))"),
        min(col(column)), max(col(column)))
      .collect()(0)
    if (mm.isNullAt(0) || mm.isNullAt(1))
      throw new IllegalArgumentException(
        s"histogram over $table.$column: no non-NULL values")
    val lo = mm.getDouble(0)
    val hi = mm.getDouble(1)
    val tableRows = mm.getLong(2)
    val nnull = mm.getLong(3)
    val sumDec = Option(mm.getDecimal(4)) // None: overflow (values exist here)
    val sum4 = sumDec.map(_.doubleValue())
    // Build-time proof that the doubles the stats serve would return
    // are EXACTLY the column's values. For float/double columns the
    // claim is recipe-relative by convention: the recorded sum IS the
    // repo's canonical decimal-portable sum (the only deterministic
    // cross-engine rendering of a float sum), so it always qualifies.
    // For integral/decimal columns the user's exact answer is an
    // integer/decimal, so raw min/max and the decimal sum must strictly
    // round-trip through their double renderings — a bigint beyond
    // 2^53 or a wide decimal records sx=false and the engine's stats
    // serve falls through to the scan path (the histogram itself,
    // approximate by contract, still serves).
    def rtExact(raw: Any, d: Double): Boolean = raw match {
      case null => true
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
           _: java.lang.Float | _: java.lang.Double => true
      case n: java.lang.Long => d.toLong == n.longValue && d == n.longValue.toDouble
      case b: java.math.BigDecimal =>
        !d.isInfinite && new java.math.BigDecimal(d).compareTo(b) == 0
      case _ => false
    }
    val isFloatCol = {
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      spark.table(table).schema.find(_.name.equalsIgnoreCase(column))
        .map(_.dataType).exists(t => t == FloatType || t == DoubleType)
    }
    val sx = rtExact(mm.get(5), lo) && rtExact(mm.get(6), hi) &&
      (sumDec match {
        case Some(s) =>
          isFloatCol || (!s.doubleValue().isInfinite &&
            new java.math.BigDecimal(s.doubleValue()).compareTo(s) == 0)
        case None => false // overflowed try_sum: no exact sum to record
      })
    val width = if (hi > lo) (hi - lo) / buckets else 1.0
    val counts = new Array[Long](buckets)
    // per-bucket decimal sums ride the same pass into a SECOND blob
    // ("histsum"): the input to the engine's range-SUM/AVG serve.
    // Stored as the UNSCALED integer of the scale-4 decimal (exact and
    // additively mergeable, the GroupedStats convention), so interior-
    // bucket sums add exactly and each bucket's double rendering
    // matches the oracle's CAST(DECIMAL AS DOUBLE).
    val bsums = Array.fill(buckets)(BigInt(0))
    var sumOverflow = false
    spark.table(table).filter(col(column).isNotNull)
      .select(expr(
        s"least(${buckets - 1}, cast(floor((cast($column as double) - $lo) / $width) as int))")
        .as("b"), col(column))
      .groupBy(col("b"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        expr(s"try_sum(cast($column as decimal(38,4)))").as("s4"))
      .collect()
      .foreach { r =>
        val b = math.max(0, r.getInt(0))
        counts(b) = r.getAs[Long]("n")
        Option(r.getDecimal(2)) match {
          case Some(d) => bsums(b) = BigInt(d.setScale(4).unscaledValue())
          case None    => sumOverflow = true // try_sum overflowed
        }
      }
    val h = Histogram(lo, width, counts)
    // Double.toString round-trips exactly through parseDouble and is
    // locale-independent, so min/max/sum4 survive the JSON verbatim
    catalog.upsertSketch(catalog.SketchInfo(table, column, "histogram",
      h.serialize,
      s"""{"buckets":$buckets,"rows":$tableRows,"min":$lo,"max":$hi,""" +
        s""""nnull":$nnull""" +
        sum4.map(s => s""","sum4":$s""").getOrElse("") +
        s""","sx":$sx}""",
      System.currentTimeMillis()))
    // a bucket whose sum overflowed even decimal(38,4) has no exact
    // record — skip the blob rather than serve a silently-wrong sum
    if (!sumOverflow)
      catalog.upsertSketch(catalog.SketchInfo(table, column, "histsum",
        GroupedHll.pack(bsums.zipWithIndex.toSeq.map { case (s, i) =>
          Option(i.toString) -> s.toByteArray
        }),
        s"""{"buckets":$buckets,"rows":$tableRows}""",
        System.currentTimeMillis()))
    h
  }

  /** Build a log-linear ("HDR") quantile sketch over a numeric column
    * — the RELATIVE-error complement to [[createHistogram]]'s absolute
    * grid, for heavy-tailed columns where one equi-width bucket can
    * swallow 99% of the mass. One distributed aggregate: each row's
    * (sign, binade, sub-bucket) is a deterministic O(1) expression
    * (corrected floor-log2 + exact power-of-two arithmetic, see
    * [[HdrSketch]]), then a bounded groupBy (≤ a few hundred occupied
    * buckets for any real column) reaches the driver. NULL and NaN
    * values have no bucket (SQL percentile ignores them); ±Infinity
    * refuses the build — the log grid has no bucket for it and
    * dropping it silently would shift every upper quantile. `"rows"`
    * records the FULL table rowcount for the freshness guard. `m`
    * (sub-buckets per binade) must be a power of two; the serve error
    * is 1/m relative — the default 32 sits inside the engine's 0.05
    * budget.
    */
  def createHdr(spark: SparkSession, catalog: MetaCatalog, table: String,
      column: String, m: Int = 32): Int = {
    val total = spark.table(table).count()
    val cell = hdrPass(spark.table(table), Nil, column, m,
      s"hdr over $table.$column").getOrElse(Nil, emptyHdr(m))
    val bytes = cell.sketch.serialize
    catalog.upsertSketch(catalog.SketchInfo(table, column, "hdr", bytes,
      s"""{"m":$m,"rows":$total,"nonnull":${cell.sketch.n}}""",
      System.currentTimeMillis()))
    // per-bucket exact scale-4 decimal sums ride into a SECOND blob
    // ("hdrsum", the log-grid twin of the equi-width "histsum"): the
    // input to the engine's relative-error range-SUM/AVG serve. A
    // bucket sum overflowing even decimal(38,4) skips the rider rather
    // than serve a silently-wrong sum (counts still serve).
    if (!cell.overflow)
      catalog.upsertSketch(catalog.SketchInfo(table, column, "hdrsum",
        cell.sumPack, s"""{"m":$m,"rows":$total}""",
        System.currentTimeMillis()))
    bytes.length
  }

  /** Build one log-linear (HDR) quantile sketch PER GROUP over
    * `table.valueCol`, packed into one "hdr_grouped" catalog blob —
    * the RELATIVE-error twin of [[createGroupedHistogram]]'s grouped
    * percentile input, for heavy-tailed value columns. The log grid
    * is GLOBAL by construction (the real line's binades), so ANY
    * subset of groups merges EXACTLY by adding bucket counts —
    * per-group equi-width grids refuse that merge, which is why
    * marginal collapse (`GROUP BY a` over an "a,b" blob) and IN-list
    * percentile merges want this blob. Two driver-bounded distributed
    * passes: per-group rowcounts (the MaxHllGroups refusal + the
    * freshness rowcount), then per-(group, sign, binade, sub-bucket)
    * counts (≤ groups × a few hundred occupied buckets). All-NULL
    * groups are recorded with an empty payload (served as NULL
    * percentiles — the exact GROUP BY row set); ±Infinity refuses
    * the build. Returns (serialized size, group count).
    */
  def createGroupedHdr(spark: SparkSession, catalog: MetaCatalog,
      table: String, groupCols: Seq[String], valueCol: String,
      m: Int = 32): (Int, Int) = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    require(groupCols.nonEmpty, "at least one group column required")
    requireBijectiveKeys(spark, spark.table(table), groupCols,
      s"grouped hdr over $table")
    import org.apache.spark.sql.functions.{count, expr, lit}
    val tableFields = spark.table(table).schema.fieldNames.toSeq
    val groupCol = groupCols.mkString(",")
    val stats = spark.table(table)
      .groupBy(groupKeyExpr(groupCols, tableFields).as("g"))
      .agg(count(lit(1)).as("n"))
      .limit(MaxHllGroups + 1)
      .collect()
    if (stats.length > MaxHllGroups)
      throw new IllegalArgumentException(
        s"grouped hdr over $table.$groupCol: more than $MaxHllGroups groups")
    val totalRows = stats.map(_.getAs[Long]("n")).sum
    val sketches = hdrPass(spark.table(table),
      Seq(groupKeyExpr(groupCols, tableFields).as("g")), valueCol, m,
      s"grouped hdr over $table.$valueCol")
      .map { case (k, c) => Option(k.head.asInstanceOf[String]) -> c }
    // groups with no non-NULL value never reach the bucket pass but
    // ARE groups: empty payload, served as a NULL percentile
    val keys = stats.toSeq.map(r => Option(r.getAs[String]("g")))
    val packed = keys.map(k =>
      k -> sketches.get(k).map(_.sketch.serialize).getOrElse(Array.empty[Byte]))
    val bytes = GroupedHll.pack(packed)
    catalog.upsertSketch(catalog.SketchInfo(table, valueCol, "hdr_grouped",
      bytes,
      s"""{"m":$m,"group_by":"$groupCol","groups":${packed.size},"rows":$totalRows}""",
      System.currentTimeMillis()))
    // the "hdrsum_grouped" rider (per-(group, log-bucket) exact
    // decimal sums from the SAME pass — no extra shuffle): the grouped
    // range-SUM/AVG serve's input; a group whose sum overflowed even
    // decimal(38,4) carries the "!" POISON sentinel (its sums refuse,
    // its counts keep serving; an EMPTY pack is the all-zero-valued
    // group's legitimate identity). All-NULL groups are OMITTED —
    // their sketches are empty so the serve never consults them.
    val sumPacked = sketches.toSeq.map { case (k, c) => k -> c.groupedSumPack }
    catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
      "hdrsum_grouped", GroupedHll.pack(sumPacked),
      s"""{"m":$m,"group_by":"$groupCol","groups":${sumPacked.size},"rows":$totalRows}""",
      System.currentTimeMillis()))
    (bytes.length, packed.size)
  }

  /** The hdrsum rider's per-group overflow POISON sentinel: an entry
    * under this key (never a valid "sg:e:s" bucket) marks a group
    * whose decimal sums are unrecoverable; it ABSORBS in merges. An
    * EMPTY pack, by contrast, is the additive identity — a group
    * whose batch values were all zero (the zero bucket carries no
    * rider entry) or all NULL. Keeping the two distinct is what lets
    * the streaming merge neither wipe good sums on an all-zero batch
    * nor lose a poison.
    */
  private[graft] val HdrSumPoisonKey = "!"

  /** hdrsum inner-pack merge: per-log-bucket unscaled decimal sums add
    * exactly (BigInt); a poison sentinel on either side absorbs.
    * Shared by the streaming maintainer and the engine's partial-key
    * collapse so the two can never drift.
    */
  private[graft] def hdrSumMergeBytes(x: Array[Byte],
      y: Array[Byte]): Array[Byte] = {
    val xa = GroupedHll.unpack(x)
    val ya = GroupedHll.unpack(y)
    if (xa.exists(_._1.contains(HdrSumPoisonKey)) ||
        ya.exists(_._1.contains(HdrSumPoisonKey)))
      GroupedHll.pack(Seq(Option(HdrSumPoisonKey) -> Array.empty[Byte]))
    else {
      val xm = xa.collect { case (Some(bk), bb) => bk -> BigInt(bb) }.toMap
      val ym = ya.collect { case (Some(bk), bb) => bk -> BigInt(bb) }.toMap
      GroupedHll.pack(
        (xm.keySet ++ ym.keySet).toSeq.map(bk =>
          Option(bk) ->
            (xm.getOrElse(bk, BigInt(0)) +
              ym.getOrElse(bk, BigInt(0))).toByteArray))
    }
  }

  /** Largest |v| that still fits decimal(38,4) after the scale-4 cast
    * (38 digits total): values at or above it would THROW under ANSI
    * — the guard parks them and flags the group/blob as overflow
    * (poison) instead of crashing the build or the micro-batch.
    */
  private val DecimalCastGuard = "1e34d"

  /** The corrected-log2 bucket chain as a DataFrame transform: input
    * must carry a double column `v` (plus any `keep` columns to carry
    * through — the keys); output has (keep..., sg, e, s, inf, v). The
    * body of [[hdrPass]].
    */
  private def hdrBucketed(df: org.apache.spark.sql.DataFrame, m: Int,
      keep: Seq[String]): org.apache.spark.sql.DataFrame = {
    val ks = keep.map(k => s"`$k`")
    df
      .filter("v is not null and not isnan(v)")
      .selectExpr(ks ++ Seq("v", "abs(v) as av"): _*)
      .selectExpr(ks ++ Seq("v", "av",
        // infinities park at e0 = 0 (ANSI: cast(floor(log2(inf))) would
        // throw before the refusal below could fire) and refuse after
        // the aggregate via the inf flag
        "case when v = 0.0d or av = double('inf') then 0 " +
          "else cast(floor(log2(av)) as int) end as e0"): _*)
      .selectExpr(ks ++ Seq("v", "av",
        "case when v = 0.0d then 0 " +
          "when power(2.0d, cast(e0 as double)) > av then e0 - 1 " +
          "when power(2.0d, cast(e0 + 1 as double)) <= av then e0 + 1 " +
          "else e0 end as e"): _*)
      .selectExpr(ks ++ Seq(
        "case when v > 0.0d then 1 when v < 0.0d then -1 else 0 end as sg",
        "e",
        s"case when v = 0.0d or av = double('inf') then 0 " +
          s"else least(${m - 1}, " +
          "cast(floor((av / power(2.0d, cast(e as double)) - 1.0d) * " +
          s"cast($m as double)) as int)) end as s",
        "case when abs(v) = double('inf') then 1 else 0 end as inf",
        "v"): _*)
  }

  /** One key's result of [[hdrPass]]: the sketch, the exact scale-4
    * sums of its nonzero log buckets (unscaled, keyed (sign, binade,
    * sub-bucket)), and whether a bucket sum overflowed decimal(38,4).
    */
  private[graft] final case class HdrCell(sketch: HdrSketch,
      sums: Seq[((Int, Int, Int), BigInt)], overflow: Boolean) {
    /** The "hdrsum" rider pack: "sg:e:s" -> unscaled sum bytes. */
    def sumPack: Array[Byte] = GroupedHll.pack(sums.map { case ((sg, e, s), v) =>
      Option(s"$sg:$e:$s") -> v.toByteArray
    })
    /** The grouped riders' pack: the POISON sentinel on overflow. */
    def groupedSumPack: Array[Byte] =
      if (overflow) GroupedHll.pack(Seq(Option(HdrSumPoisonKey) -> Array.empty[Byte]))
      else sumPack
  }

  private[graft] def emptyHdr(m: Int): HdrCell =
    HdrCell(HdrSketch(m, 0L, Vector.empty, Vector.empty), Nil, overflow = false)

  /** THE hdr bucket pass, shared by every HDR builder, maintainer and
    * batch twin so their bucket assignment can never drift: one
    * distributed aggregate over (keys..., sign, binade, sub-bucket) —
    * the deterministic corrected-log2 derivation [[HdrSketch]]
    * documents — collecting only the occupied buckets, with per-bucket
    * exact decimal sums. Returns one [[HdrCell]] per key tuple (the
    * `keys` columns' values, in order) that has values; each caller
    * applies its own overflow policy (skip the sum rider, poison the
    * group's rider, or refuse). NULL/NaN rows have no bucket; ±Infinity
    * refuses.
    */
  private[graft] def hdrPass(df: org.apache.spark.sql.DataFrame,
      keys: Seq[org.apache.spark.sql.Column], valueCol: String, m: Int,
      what: String): Map[Seq[Any], HdrCell] = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    import org.apache.spark.sql.functions.{count, expr}
    val keyed = df.select(keys :+ col(valueCol).cast("double").as("v"): _*)
    val names = keyed.columns.toSeq.dropRight(1)
    val rows = hdrBucketed(keyed, m, names)
      .groupBy((names ++ Seq("sg", "e", "s")).map(col): _*)
      // the per-value cast is GUARDED: |v| >= 1e34 would throw under
      // ANSI before try_sum's aggregate-overflow NULL could engage —
      // parked values flag the overflow instead of crashing the pass
      .agg(count(lit(1)).as("n"), expr("sum(inf)").as("ninf"),
        expr(s"try_sum(case when abs(v) < $DecimalCastGuard " +
          "then cast(v as decimal(38,4)) end)").as("s4"),
        expr(s"sum(case when abs(v) >= $DecimalCastGuard " +
          "then 1 else 0 end)").as("novf"))
      .collect()
    if (rows.exists(_.getAs[Long]("ninf") > 0L))
      throw new IllegalArgumentException(
        s"$what: infinite values have no log bucket")
    rows.groupBy(r => names.indices.map(r.get)).map { case (k, rs) =>
      var zero = 0L
      val neg = Vector.newBuilder[((Int, Int), Long)]
      val pos = Vector.newBuilder[((Int, Int), Long)]
      val sums = Vector.newBuilder[((Int, Int, Int), BigInt)]
      var overflow = false
      rs.foreach { r =>
        val (sg, e, s, n) =
          (r.getAs[Int]("sg"), r.getAs[Int]("e"), r.getAs[Int]("s"),
            r.getAs[Long]("n"))
        if (sg == 0) zero += n
        else {
          if (sg < 0) neg += (((e, s), n)) else pos += (((e, s), n))
          if (r.getAs[Long]("novf") > 0L) overflow = true
          else Option(r.getAs[java.math.BigDecimal]("s4")) match {
            case Some(d) =>
              sums += (((sg, e, s), BigInt(d.setScale(4).unscaledValue())))
            case None => overflow = true
          }
        }
      }
      (k: Seq[Any]) -> HdrCell(HdrSketch(m, zero, neg.result(), pos.result()),
        sums.result(), overflow)
    }
  }

  /** Build one equi-width histogram PER GROUP over `table.valueCol`
    * (per-group [min, max] grid — each group gets the resolution its
    * own range needs), packed into one catalog blob: the input to the
    * engine's no-scan answer for `SELECT g, percentile(x, p) FROM t
    * GROUP BY g`. Two distributed passes (per-group stats, then
    * per-(group, bucket) counts — both driver-bounded: ≤MaxHllGroups
    * groups × buckets count rows). Groups whose value column is all
    * NULL have no percentile and are omitted from the blob; their rows
    * still count toward the freshness rowcount. Returns (serialized
    * size, group count). MaxHllGroups bounds ALL grouped sketches, not
    * just HLLs — a wider grouping column is data, not a dimension.
    *
    * `sharedGrid` trades per-group resolution for MERGEABILITY: every
    * group is bucketed on ONE global [min, max] grid (the column's
    * range across all groups), so any subset of groups' histograms
    * merges exactly by adding bucket counts — the property the
    * engine's IN-list and partial-key percentile serves need. The
    * default keeps per-group grids (each group resolved to its own
    * range; merges refuse).
    */
  def createGroupedHistogram(spark: SparkSession, catalog: MetaCatalog,
      table: String, groupCol: String, valueCol: String,
      buckets: Int = 64, sharedGrid: Boolean = false): (Int, Int) =
    createGroupedHistogram(spark, catalog, table, Seq(groupCol), valueCol,
      buckets, sharedGrid)

  /** Composite-key variant: per-(g1, g2, ...) grids and stat records
    * (see groupKeyExpr for the key rendering). */
  def createGroupedHistogram(spark: SparkSession, catalog: MetaCatalog,
      table: String, groupCols: Seq[String], valueCol: String,
      buckets: Int): (Int, Int) =
    createGroupedHistogram(spark, catalog, table, groupCols, valueCol,
      buckets, sharedGrid = false)

  def createGroupedHistogram(spark: SparkSession, catalog: MetaCatalog,
      table: String, groupCols: Seq[String], valueCol: String,
      buckets: Int, sharedGrid: Boolean): (Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, expr, lit}
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(groupCols.nonEmpty, "at least one group column required")
    requireBijectiveKeys(spark, spark.table(table), groupCols,
      s"grouped histogram over $table")
    val tableFields = spark.table(table).schema.fieldNames.toSeq
    val groupCol = groupCols.mkString(",")
    // the per-group stats pass the streaming maintainers share
    val statRows = spark.table(table)
      .groupBy(groupKeyExpr(groupCols, tableFields).as("g"))
      .agg(GroupedStats.statsAgg(valueCol).head,
        GroupedStats.statsAgg(valueCol).tail: _*)
      .limit(MaxHllGroups + 1)
      .collect()
    if (statRows.length > MaxHllGroups)
      throw new IllegalArgumentException(
        s"grouped histogram over $table.$groupCol: more than $MaxHllGroups groups")
    val stats = statRows.toSeq.map(GroupedStats.statOf(_, s"grouped stats " +
      s"over $table.$valueCol: group sum overflows decimal(38,4)"))
    val totalRows = stats.map(_._2.nrows).sum
    // per-group EXACT stats ride the same pass into a second blob: the
    // engine's grouped statistics serve (SELECT g, MIN/MAX/COUNT/SUM/
    // AVG ... GROUP BY g with no scan, no error). All-NULL groups keep
    // their counts; min/max/sum serve as SQL NULL for them.
    val statBlob = GroupedHll.pack(stats.map { case (g, st) =>
      g -> GroupedStats.encode(st)
    })
    catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
      "stats_grouped", statBlob,
      s"""{"group_by":"$groupCol","groups":${stats.length},"rows":$totalRows}""",
      System.currentTimeMillis()))
    val ranges = stats.collect { case (g, GroupedStats.Stat(Some(lo), Some(hi), _, _, _)) =>
      (g, lo, hi)
    }
    if (ranges.isEmpty)
      throw new IllegalArgumentException(
        s"grouped histogram over $table.$valueCol: no non-NULL values")
    // sharedGrid: ONE global [lo, hi] grid (the column's range across
    // all groups) so any subset of groups merges by adding counts;
    // default: each group bucketed to its own range (finer resolution,
    // no merging)
    val grid =
      if (sharedGrid) {
        val gLo = ranges.map(_._2).min
        val gHi = ranges.map(_._3).max
        val w = if (gHi > gLo) (gHi - gLo) / buckets else 1.0
        ranges.map { case (k, _, _) => (k, gLo, w) }
      } else ranges.map { case (k, lo, hi) =>
        (k, lo, if (hi > lo) (hi - lo) / buckets else 1.0)
      }
    import spark.implicits._
    val gridDf = grid.toSeq.map { case (k, lo, w) => (k.orNull, lo, w) }
      .toDF("gg", "glo", "gw")
    val base = spark.table(table).filter(col(valueCol).isNotNull)
      .select(groupKeyExpr(groupCols, tableFields).as("g"),
        col(valueCol).cast("double").as("v"), col(valueCol).as("raw"))
    // null-safe join key: a NULL group is still a group. Per-(group,
    // bucket) exact decimal sums ride the same aggregate into a THIRD
    // blob ("histsum_grouped", the global histsum's grouped twin): the
    // input to the engine's grouped range-SUM/AVG serve. Same grid,
    // same pass — no extra shuffle.
    val counts = base.join(broadcast(gridDf), base("g") <=> gridDf("gg"))
      .select(col("g"),
        expr(s"least(${buckets - 1}, cast(floor((v - glo) / gw) as int))")
          .as("b"), col("raw"))
      .groupBy(col("g"), col("b"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"),
        expr("try_sum(cast(raw as decimal(38,4)))").as("s4"))
      .collect()
    val byGroup = counts.groupBy(r => Option(r.getAs[String]("g")))
    var sumOverflow = false
    val groups = grid.toSeq.map { case (k, lo, w) =>
      val arr = new Array[Long](buckets)
      byGroup.getOrElse(k, Array.empty).foreach { r =>
        arr(math.max(0, r.getAs[Int]("b"))) = r.getAs[Long]("count")
      }
      k -> Histogram(lo, w, arr).serialize
    }
    // per-group inner pack: bucket index (string) -> unscaled scale-4
    // decimal bytes (exact, additively mergeable — the GroupedStats
    // convention; only non-zero buckets stored)
    val sumGroups = grid.toSeq.map { case (k, _, _) =>
      val entries = byGroup.getOrElse(k, Array.empty).toSeq.flatMap { r =>
        Option(r.getDecimal(3)) match {
          case Some(d) =>
            Seq(Option(math.max(0, r.getAs[Int]("b")).toString) ->
              BigInt(d.setScale(4).unscaledValue()).toByteArray)
          case None =>
            // try_sum overflowed even decimal(38,4) for this bucket:
            // no exact record exists — skip the whole rider below
            if (r.getAs[Long]("count") > 0L) sumOverflow = true
            Seq.empty
        }
      }
      k -> GroupedHll.pack(entries)
    }
    // all-NULL groups have no grid but ARE groups: record them with an
    // empty payload so the engine's grouped serve returns them with a
    // NULL percentile — the same row set exact GROUP BY execution
    // returns — instead of silently dropping rows
    val allNull = stats.filter(_._2.min.isEmpty)
      .map { case (g, _) => g -> Array.empty[Byte] }
    val bytes = GroupedHll.pack(groups ++ allNull)
    val gridTag = if (sharedGrid) ""","grid":"shared"""" else ""
    catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
      "histogram_grouped", bytes,
      s"""{"buckets":$buckets,"group_by":"$groupCol","groups":${groups.size + allNull.size},"rows":$totalRows$gridTag}""",
      System.currentTimeMillis()))
    // a bucket whose sum overflowed even decimal(38,4) has no exact
    // record — skip the rider rather than serve a silently-wrong sum
    // (the histogram itself, approximate by contract, still serves)
    if (!sumOverflow)
      catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
        "histsum_grouped", GroupedHll.pack(sumGroups),
        s"""{"buckets":$buckets,"group_by":"$groupCol","groups":${sumGroups.size},"rows":$totalRows$gridTag}""",
        System.currentTimeMillis()))
    (bytes.length, groups.size + allNull.size)
  }

  /** Build a CMS over `table.column` (one increment per row — the
    * GROUP BY pre-aggregation the reference does is folded into the
    * aggregator), persist, return serialized size. With no column, the
    * reference counts every row under the single key 'total'
    * (/root/reference/app.py:262-265) — same here.
    */
  def createCms(spark: SparkSession, catalog: MetaCatalog, table: String,
      column: String, epsilon: Double = 0.01, delta: Double = 0.01): Int =
    createCmsOpt(spark, catalog, table, Some(column), epsilon, delta)

  /** Composite-key CMS: one sketch over the (c1, c2, ...) tuple, keyed
    * with the grouped builders' collision-free `to_json(array(cast(…
    * as string)))` rendering — so a conjunctive equality frequency
    * (`WHERE a = 'x' AND b = 'y'`) serves as a single point lookup.
    * Rows with any NULL component render a NULL key and are excluded
    * from the counters: an equality conjunction can never match them
    * (three-valued logic), so excluding them keeps the estimate
    * overestimate-only FOR SERVABLE PREDICATES while not inflating it
    * with unreachable mass. The serve renders its literal tuple with
    * [[jsonTupleKey]], whose byte-parity with Spark's Jackson encoder
    * is spec-gated on adversarial values. Stored under the comma-joined
    * column list with `"enc":"j1"` (same convention as composite AGMS);
    * `"rows"` records the FULL rowcount for the freshness guard.
    */
  def createCms(spark: SparkSession, catalog: MetaCatalog, table: String,
      columns: Seq[String], epsilon: Double, delta: Double): Int = {
    require(columns.nonEmpty, "at least one column required")
    if (columns.sizeIs == 1)
      return createCmsOpt(spark, catalog, table, Some(columns.head),
        epsilon, delta)
    import org.apache.spark.sql.functions.{count => fcount, expr}
    val arr = columns.map(c => s"cast($c as string)")
      .mkString("to_json(array(", ", ", "))")
    val anyNull = columns.map(c => s"$c is null").mkString(" or ")
    val key = expr(s"case when $anyNull then cast(null as string) else $arr end")
    val row = spark.table(table)
      .agg(Cms.sketchAgg(key, epsilon, delta).as("s"), fcount(lit(1)).as("n"))
      .collect().head
    val bytes = row.getAs[Array[Byte]]("s")
    catalog.upsertSketch(catalog.SketchInfo(table, columns.mkString(","),
      "countmin", bytes,
      s"""{"epsilon":$epsilon,"delta":$delta,"rows":${row.getAs[Long]("n")},"enc":"j1"}""",
      System.currentTimeMillis()))
    bytes.length
  }

  /** Scala-side twin of the builders' `to_json(array(...))` key
    * rendering, for serve paths that must re-render a LITERAL tuple
    * (composite CMS point lookups). Spark's to_json writes through
    * Jackson: `"` and `\` escape with a backslash, the five short
    * escapes apply, remaining control chars (< 0x20) write as
    * uppercase `\u00XX`, and everything else (incl. non-ASCII) passes
    * through raw. Byte-parity with the Spark expression is gated by a
    * SketchSpec law over adversarial values — if Jackson's escaping
    * ever changed, that spec (not an oracle) goes red.
    */
  def jsonTupleKey(components: Seq[String]): String =
    components.map(jsonQuote).mkString("[", ",", "]")

  private def jsonQuote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"'          => b.append("\\\"")
      case '\\'         => b.append("\\\\")
      case '\b'         => b.append("\\b")
      case '\t'         => b.append("\\t")
      case '\n'         => b.append("\\n")
      case '\f'         => b.append("\\f")
      case '\r'         => b.append("\\r")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04X")
      case c            => b.append(c)
    }
    b.append('"').toString
  }

  def createCmsOpt(spark: SparkSession, catalog: MetaCatalog, table: String,
      column: Option[String], epsilon: Double = 0.01, delta: Double = 0.01): Int = {
    import org.apache.spark.sql.functions.{count => fcount}
    val key = column.fold(lit("total"))(c => col(c).cast("string"))
    // count(*) rides the same pass; recorded as "rows" so the engine's
    // freshness guard (QueryEngine.sketchIsFresh) stops serving
    // point-frequency answers from a CMS of a grown/shrunk table
    val row = spark.table(table)
      .agg(Cms.sketchAgg(key, epsilon, delta).as("s"), fcount(lit(1)).as("n"))
      .collect().head
    val bytes = row.getAs[Array[Byte]]("s")
    catalog.upsertSketch(catalog.SketchInfo(table, column.getOrElse(""), "countmin",
      bytes, s"""{"epsilon":$epsilon,"delta":$delta,"rows":${row.getAs[Long]("n")}}""",
      System.currentTimeMillis()))
    bytes.length
  }

  /** Build an AGMS join-size sketch over `table.key` (one scan → B
    * signed bucket counters; q62's derivation, persisted): bucket =
    * h60('js:'||key) % B, sign = ±1 from the next hash bit, counter =
    * sum of signs. Two stored sketches with the same B over a join-key
    * pair let the engine estimate |R ⋈ S| with no scan and decide join
    * AQP automatically. Returns (serialized size, rows seen).
    */
  def createAgms(spark: SparkSession, catalog: MetaCatalog, table: String,
      key: String, buckets: Int = 1024): (Int, Long) =
    createAgms(spark, catalog, table, Seq(key), buckets)

  /** Composite-key variant: the hashed value is the shared tuple
    * rendering `SampleRewrite.tupleKeyExpr` — single keys as the raw
    * string cast, composite keys as `to_json(array(...))` (the same
    * collision-free encoding the grouped builders use; any NULL
    * component renders the whole key NULL, so rows whose key can never
    * equi-join are excluded from the counters, matching join
    * semantics). Stored under the comma-joined column list; two tables
    * sketched over value-equal composite keys hash identically, so the
    * dot-product estimate works unchanged. Build BOTH sides in the
    * engine's CANONICAL order — fact-side keys sorted by name, dim
    * keys aligned pairwise (what `QueryEngine.joinKeyPairs` normalizes
    * every ON clause to, and what `adviseSketches` recipes emit) — or
    * the lookup misses. Composite sketches record `"enc":"j1"` in
    * params so the engine never dot-products blobs built under
    * different tuple encodings.
    */
  def createAgms(spark: SparkSession, catalog: MetaCatalog, table: String,
      keys: Seq[String], buckets: Int): (Int, Long) = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(keys.nonEmpty, "at least one key column required")
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{count, expr, sum}
    val key = keys.mkString(",")
    val keyExpr = graft.plan.SampleRewrite.tupleKeyExpr("js:", keys)
    val rows = spark.table(table)
      .select(expr(s"graft_h60($keyExpr)").as("h"))
      .select(expr(s"cast(h % ${buckets}L as int)").as("bucket"),
        expr(s"case when (h div ${buckets}L) % 2 = 0 then 1L else -1L end").as("sgn"))
      .groupBy(col("bucket")).agg(sum(col("sgn")).as("c"), count(lit(1)).as("n"))
      .collect()
    val counters = new Array[Long](buckets)
    var total = 0L // includes NULL-key rows (null bucket) -> true rowcount
    rows.foreach { r =>
      if (!r.isNullAt(0)) counters(r.getInt(0)) = r.getLong(1)
      total += r.getLong(2)
    }
    val bytes = Agms.serialize(counters)
    val enc = if (keys.sizeIs > 1) ""","enc":"j1"""" else ""
    catalog.upsertSketch(catalog.SketchInfo(table, key, "agms", bytes,
      s"""{"buckets":$buckets,"rows":$total$enc}""", System.currentTimeMillis()))
    (bytes.length, total)
  }

  /** Build a KMV (bottom-k) distinct-value sketch over `table.column`:
    * the k smallest distinct `graft_h60` hashes of the column's
    * non-NULL values — q45's estimator persisted, and the input to the
    * engine's set-operation serves (INTERSECT / UNION / EXCEPT
    * cardinality across two tables, `QueryEngine.storedSetOpAnswer`).
    * Hashes are keyed by VALUE only (no table/column salt), so two
    * sketches over value-compatible columns are comparable — the whole
    * point. One distributed pass for the bottom-k (map-side partial
    * distinct, then a per-partition top-k takeOrdered — at most k rows
    * survive any partition past the scan) plus the builders' usual
    * rowcount ride for the freshness guard. Returns (serialized size,
    * hashes kept).
    */
  def createKmv(spark: SparkSession, catalog: MetaCatalog, table: String,
      column: String, k: Int = 1024): (Int, Int) = {
    require(k >= 2, s"k must be >= 2, got $k")
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.expr
    val rows = spark.table(table).count()
    val hs = spark.table(table).filter(col(column).isNotNull)
      .select(expr(s"graft_h60(cast($column as string))").as("h"))
      .distinct().orderBy(col("h")).limit(k)
      .collect().map(_.getLong(0))
    val sk = Kmv.Sketch(k, hs.sorted)
    val bytes = sk.serialize
    catalog.upsertSketch(catalog.SketchInfo(table, column, "kmv", bytes,
      s"""{"k":$k,"rows":$rows}""", System.currentTimeMillis()))
    (bytes.length, hs.length)
  }

  /** Build a heavy-hitters ("topk") summary over `table` grouped by
    * `groupCols`: the EXACT counts of every group whose count reaches
    * `threshold` — the input to the engine's zero-scan iceberg/top-k
    * serves (`QueryEngine.storedTopKAnswer`). Unlike the grouped
    * blobs, this works on HIGH-cardinality keys (the shapes
    * MaxHllGroups refuses): completeness above the threshold is the
    * serving guarantee — every unstored group has count < threshold,
    * so `ORDER BY count DESC LIMIT k` (k ≤ stored entries) and
    * `HAVING count >= x` (x ≥ threshold) answer EXACTLY. One
    * distributed pass (map-side partial counts, one shuffle, the
    * ≥threshold filter bounds the driver collect); `maxEntries` caps
    * the blob — a threshold low enough to keep more groups than that
    * is a scan in disguise and refuses. Keys render like every grouped
    * builder (groupKeyExpr: raw cast for one column, to_json tuples
    * for composites; the NULL group included). NOT stream-maintained
    * on purpose: a per-batch threshold filter loses groups that cross
    * the threshold only cumulatively, so a live variant would break
    * the completeness guarantee — rebuild on a schedule instead.
    * Returns (serialized size, entries kept).
    */
  def createTopK(spark: SparkSession, catalog: MetaCatalog, table: String,
      groupCols: Seq[String], threshold: Long,
      maxEntries: Int = MaxHllGroups): (Int, Int) = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    require(groupCols.nonEmpty, "at least one group column required")
    import org.apache.spark.sql.functions.count
    requireBijectiveKeys(spark, spark.table(table), groupCols,
      s"topk over $table")
    val total = spark.table(table).count()
    val rows = spark.table(table)
      .groupBy(groupKeyExpr(groupCols, spark.table(table).schema.fieldNames.toSeq).as("g"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .limit(maxEntries + 1)
      .collect()
    if (rows.length > maxEntries)
      throw new IllegalArgumentException(
        s"topk over $table.${groupCols.mkString(",")}: more than " +
          s"$maxEntries groups reach count $threshold — raise the threshold")
    val entries = rows.toSeq.map { r =>
      val buf = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.putLong(r.getAs[Long]("n"))
      Option(r.getAs[String]("g")) -> buf.array()
    }
    val bytes = GroupedHll.pack(entries)
    catalog.upsertSketch(catalog.SketchInfo(table, groupCols.mkString(","),
      "topk", bytes,
      s"""{"group_by":"${groupCols.mkString(",")}","agg":"count",""" +
        s""""threshold":$threshold,"entries":${entries.size},"rows":$total}""",
      System.currentTimeMillis()))
    (bytes.length, entries.size)
  }

  /** SUM twin of [[createTopK]]: the exact decimal sums of
    * `table.valueCol` for every group whose sum (rendered through the
    * repo's canonical decimal(…,4) -> double recipe) reaches
    * `threshold` — the input to `GROUP BY key ORDER BY sum(x) DESC
    * LIMIT k` / `HAVING sum(x) >= s` serves over high-cardinality keys
    * (the revenue dashboard). Completeness holds without any sign
    * assumption: the filter is on each group's TOTAL, so every
    * unstored group totals strictly below the threshold. Sums are
    * stored as the unscaled scale-4 integers (GroupedStats'
    * convention: exact, and their double rendering reproduces
    * CAST(DECIMAL AS DOUBLE) in any engine); a group whose sum
    * overflows decimal(38,4) fails the build rather than vanishing
    * below the threshold. All-NULL groups have a NULL sum, which
    * fails any HAVING in exact execution too — excluded. Returns
    * (serialized size, entries kept).
    */
  def createTopKSum(spark: SparkSession, catalog: MetaCatalog,
      table: String, groupCols: Seq[String], valueCol: String,
      threshold: Double, maxEntries: Int = MaxHllGroups): (Int, Int) = {
    require(groupCols.nonEmpty, "at least one group column required")
    import org.apache.spark.sql.functions.{count, expr}
    requireBijectiveKeys(spark, spark.table(table), groupCols,
      s"topk-sum over $table")
    val total = spark.table(table).count()
    val rows = spark.table(table)
      .groupBy(groupKeyExpr(groupCols, spark.table(table).schema.fieldNames.toSeq).as("g"))
      .agg(expr(s"try_sum(cast($valueCol as decimal(38,4)))").as("s"),
        count(col(valueCol)).as("nn"))
      // keep overflow rows (NULL sum with non-NULL values) so they
      // can refuse loudly instead of silently dropping below threshold
      .filter(expr(s"cast(s as double) >= $threshold" +
        " or (s is null and nn > 0)"))
      .limit(maxEntries + 1)
      .collect()
    if (rows.exists(r => r.isNullAt(1) && r.getAs[Long]("nn") > 0L))
      throw new IllegalArgumentException(
        s"topk-sum over $table.$valueCol: a group sum overflows decimal(38,4)")
    if (rows.length > maxEntries)
      throw new IllegalArgumentException(
        s"topk-sum over $table.${groupCols.mkString(",")}: more than " +
          s"$maxEntries groups reach sum $threshold — raise the threshold")
    val entries = rows.toSeq.map { r =>
      Option(r.getAs[String]("g")) ->
        BigInt(r.getDecimal(1).setScale(4).unscaledValue()).toByteArray
    }
    val bytes = GroupedHll.pack(entries)
    // its own catalog key (the "->" rendering) so a sum blob never
    // overwrites a count blob over the same key set; the serve
    // dispatches by params (agg + value_col + group-by set), not name
    catalog.upsertSketch(catalog.SketchInfo(table,
      s"${groupCols.mkString(",")}->$valueCol", "topk", bytes,
      s"""{"group_by":"${groupCols.mkString(",")}","agg":"sum",""" +
        s""""value_col":"$valueCol","threshold":$threshold,""" +
        s""""entries":${entries.size},"rows":$total}""",
      System.currentTimeMillis()))
    (bytes.length, entries.size)
  }

  /** Answer COUNT(DISTINCT column) from a STORED sketch if one exists —
    * making the reference's declared-but-dead capability real.
    */
  def distinctFromSketch(catalog: MetaCatalog, table: String,
      column: String): Option[Long] =
    catalog.getSketch(table, column, "hyperloglog")
      .map(s => Hll.deserialize(s.data).count)

  /** Frequency estimate for a key from a stored CMS. */
  def frequencyFromSketch(catalog: MetaCatalog, table: String,
      column: String, key: String): Option[Long] =
    catalog.getSketch(table, column, "countmin")
      .map(s => Cms.deserialize(s.data).estimateString(key))
}
