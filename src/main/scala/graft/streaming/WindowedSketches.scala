package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sketch.{GroupedHll, GroupedStats, HdrSketch, Histogram, Kmv, SketchOps}

/** Round 14: windowed/TTL maintenance for the remaining sketch families
  * — histogram+histsum, grouped statistics, KMV, top-k heavy hitters,
  * HDR, grouped HLL, grouped HDR and AGMS. Completes the
  * per-event-time-bucket pattern q183–q185 established
  * (`SampleMaintainers.maintainBottomKWindowed` /
  * `EventStreams.maintainHllWindowed` / `maintainCmsWindowed`): the
  * append-only maintainers in [[EventStreams]] serve ALL-TIME data under
  * a retention/TTL workload, so every range/percentile/set-op/trending
  * dashboard over a TTL'd stream needed these forms.
  *
  * Each maintainer declares one event bucket's state, its merge, rider
  * encoding and serving blobs; [[Fold.windowed]] runs the rest (bucket
  * rule, expiry, replay guard, write order). Counters, sums and counts
  * are ADDITIVE, so expiry subtracts EXACTLY — dropping a bucket removes
  * precisely its contribution (the q185 CMS rule); min/max and bottom-k
  * hashes are not subtractable and re-merge from the live buckets
  * instead (the q184 HLL rule). The serving blobs are written under the
  * batch builders' types and params, so the engine's existing serve
  * paths answer over the LIVE WINDOW with no new dispatch, and where a
  * family has a sum rider both serving blobs stamp the same
  * `last_batch` (the engine's riderInSync cross-check).
  *
  * Expiry is bucket-granular (a window of W serves between W and
  * W + bucket of history) — the standard trade, documented at q183.
  * Batch twins (the q186–q189 oracle gates) compute the SAME
  * bucket-merge route so DuckDB re-derives the direct form and the
  * merge law is hash-gated end to end.
  */
object WindowedSketches {

  private def addArrays(a: Array[Long], b: Array[Long]): Array[Long] =
    a.zip(b).map { case (x, y) => x + y }

  // ---------------------------------------------------------------
  // histogram + histsum (the q74 percentile / range-count / range-sum
  // serves over the live window)
  // ---------------------------------------------------------------

  /** The maintainer's per-row grid-bucket expression — clamped in
    * DOUBLE space before the int cast (ANSI-safe on far-out values),
    * identical to `EventStreams.maintainHistogramSketch`'s and the
    * q186 oracle's rendering.
    */
  private[streaming] def gridBucketExpr(column: String, lo: Double,
      width: Double, buckets: Int): String =
    s"cast(least(cast(${buckets - 1} as double), greatest(cast(0 as double), " +
      s"floor((cast($column as double) - $lo) / $width))) as int)"

  /** Streaming WINDOWED histogram maintenance: one equi-width
    * histogram (+ exact per-grid-bucket decimal sums) per EVENT-TIME
    * bucket, live buckets re-merged into the serving "histogram" +
    * "histsum" blobs — the engine's percentile / range-count /
    * range-SUM/AVG serves then answer OVER THE LIVE WINDOW with no
    * scan. The value grid (lo/width/buckets) is fixed up front exactly
    * like the append-only maintainer (per-batch grids cannot merge);
    * out-of-grid values clamp into the edge buckets. A batch whose
    * grid-bucket sum overflows decimal(38,4) POISONS that event
    * bucket's sums (empty inner pack — absorbing in the merge), and
    * ANY live poisoned bucket poisons the serving "histsum" so SUM/AVG
    * refuse while counts keep serving. State: "hist_windowed" rider,
    * per-bucket payloads pack("c" → rows, "h" → histogram, "s" → sums
    * pack). Batch twin: [[windowedHistogramStats]] (q186).
    */
  def maintainHistogramWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      lo: Double, width: Double, buckets: Int,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    require(buckets >= 1 && width > 0, "need buckets >= 1 and width > 0")
    // (rows, grid counts, exact grid sums — None once poisoned)
    type S = (Long, Array[Long], Option[Array[BigInt]])
    def sumsPack(sums: Option[Array[BigInt]]): Array[Byte] = GroupedHll.pack(
      sums.toSeq.flatMap(_.toSeq.zipWithIndex.map { case (s, i) =>
        Option(i.toString) -> s.toByteArray
      }))
    Fold.windowed(values, catalog, table, column, tsCol, windowMicros,
      bucketMicros, checkpointLocation)(Fold.Windowed[S]("hist_windowed",
      s""""buckets":$buckets,""",
      (0L, new Array[Long](buckets), Some(Array.fill(buckets)(BigInt(0)))),
      bucketed = _.select(col("graft_bucket"),
          expr(s"case when $column is null then cast(null as int) else " +
            gridBucketExpr(column, lo, width, buckets) + " end").as("b"),
          col(column))
        .groupBy(col("graft_bucket"), col("b"))
        .agg(count(lit(1)).as("n"),
          expr(s"try_sum(cast($column as decimal(38,4)))").as("s4"))
        .collect().groupBy(_.getLong(0)).map { case (bkt, rs) =>
          val counts = new Array[Long](buckets)
          val sums = Array.fill(buckets)(BigInt(0))
          var poison = false
          rs.foreach { r =>
            if (!r.isNullAt(1)) { // NULL grid bucket = NULL values: rows only
              counts(r.getInt(1)) += r.getAs[Long]("n")
              Option(r.getDecimal(3)) match {
                case Some(d) => sums(r.getInt(1)) += EventStreams.unscaled4(d)
                case None    => poison = true // try_sum overflow
              }
            }
          }
          bkt -> (rs.map(_.getAs[Long]("n")).sum, counts,
            Option.when(!poison)(sums))
        },
      merge = { case ((r1, c1, s1), (r2, c2, s2)) =>
        (r1 + r2, addArrays(c1, c2),
          for (a <- s1; b <- s2) yield a.zip(b).map { case (x, y) => x + y })
      },
      rows = _._1,
      encode = { case (c, counts, sums) =>
        Fold.partsOf("c" -> Fold.beLong(c),
          "h" -> Histogram(lo, width, counts).serialize, "s" -> sumsPack(sums))
      },
      decode = { payload =>
        val ps = Fold.parts(payload)
        val sp = GroupedHll.unpack(ps("s"))
        (java.nio.ByteBuffer.wrap(ps("c")).getLong,
          Histogram.deserialize(ps("h")).counts,
          Option.when(sp.nonEmpty) {
            val a = Array.fill(buckets)(BigInt(0))
            sp.foreach { case (bk, bb) => a(bk.get.toInt) = BigInt(bb) }
            a
          })
      },
      serve = { case ((_, counts, sums), liveN, batchId) =>
        val params = s"""{"buckets":$buckets,"rows":$liveN,"last_batch":$batchId}"""
        Seq(("histogram", Histogram(lo, width, counts).serialize, params),
          ("histsum", sumsPack(sums), params))
      }))
  }

  /** WINDOWED histogram stats — the batch twin of
    * [[maintainHistogramWindowed]] (q186): per-grid-bucket counts and
    * exact decimal sums over the live window, computed the way the
    * maintainer folds them (per-event-bucket partials, then the
    * additive merge over live buckets — which equals the direct
    * aggregate because counts and decimal sums are associative). The
    * q186 oracle re-derives the DIRECT form in DuckDB, gating the
    * additive merge law. Returns (b, n, sum_value) for grid buckets
    * holding live rows.
    */
  def windowedHistogramStats(df: DataFrame, column: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long,
      lo: Double, width: Double, buckets: Int): DataFrame = {
    require(buckets >= 1 && width > 0, "need buckets >= 1 and width > 0")
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    val withUs = df.filter(col(tsCol).isNotNull && col(column).isNotNull)
      .select(expr(s"unix_micros($tsCol)").as("graft_us"),
        expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"),
        col(column).as("graft_v"))
    val maxRow = withUs.agg(max(col("graft_us"))).collect()(0)
    if (maxRow.isNullAt(0))
      return withUs.filter(lit(false))
        .select(expr("cast(0 as int)").as("b"), lit(0L).as("n"),
          expr("cast(0 as double)").as("sum_value"))
    val maxUs = maxRow.getLong(0)
    val live = withUs.filter(
      (col("graft_bucket") + lit(1L)) * lit(bucketMicros) >
        lit(maxUs - windowMicros))
    // the maintainer's stored state: per-(event bucket, grid bucket)
    // partial counts and decimal sums ...
    val perBucket = live
      .withColumn("b", expr(gridBucketExpr("graft_v", lo, width, buckets)))
      .groupBy(col("graft_bucket"), col("b"))
      .agg(count(lit(1)).as("pn"),
        sum(expr("cast(graft_v as decimal(18,4))")).as("ps"))
    // ... then the additive merge over live buckets (the serve shape)
    perBucket.groupBy(col("b"))
      .agg(sum(col("pn")).as("n"),
        expr("cast(sum(ps) as double)").as("sum_value"))
      .orderBy(col("b"))
  }

  // ---------------------------------------------------------------
  // grouped statistics (per-group MIN/MAX/COUNT/SUM/AVG over the live
  // window — exact within the window, like the append-only form)
  // ---------------------------------------------------------------

  /** Streaming WINDOWED grouped-statistics maintenance: one per-group
    * stats record set per EVENT-TIME bucket, live buckets re-merged
    * into the serving "stats_grouped" blob —
    * `QueryEngine.storedGroupedStatsAnswer` then serves per-group
    * MIN/MAX/COUNT/SUM/AVG OVER THE LIVE WINDOW with no scan and no
    * error. Counts and unscaled decimal sums are additive (expiry
    * subtracts exactly, the q185 rule); min/max are NOT subtractable
    * and re-merge from the live buckets (the q184 rule) — which is
    * exactly `GroupedStats.merge` applied across live buckets, so the
    * serving blob is BYTE-equal to a batch build over exactly the live
    * rows (the EventStreamsSpec law). New groups union in freely. A
    * batch group sum overflowing decimal(38,4) fails the batch loudly
    * (the append-only maintainer's rule). State: "statsg_windowed".
    * Batch twin: [[windowedGroupedStats]] (q187).
    */
  def maintainGroupedStatsWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    type S = Map[Option[String], GroupedStats.Stat]
    Fold.windowed(values, catalog, table, valueCol, tsCol, windowMicros,
      bucketMicros)(Fold.Windowed[S]("statsg_windowed",
      s""""group_by":"$groupCol",""", Map.empty,
      bucketed = timed => timed
        .groupBy(col("graft_bucket"), SketchOps.groupKeyExpr(groupCols,
          timed.schema.fieldNames.toSeq).as("g"))
        .agg(GroupedStats.statsAgg(valueCol).head,
          GroupedStats.statsAgg(valueCol).tail: _*)
        .collect().groupBy(_.getLong(0)).map { case (bkt, rs) =>
          bkt -> rs.map(GroupedStats.statOf(_, s"windowed grouped stats " +
            s"over $table.$valueCol: batch group sum overflows decimal(38,4)"))
            .toMap
        },
      merge = Fold.union(_, _)(GroupedStats.merge),
      rows = _.valuesIterator.map(_.nrows).sum,
      encode = gs => GroupedHll.pack(gs.toSeq.map { case (g, st) =>
        g -> GroupedStats.encode(st) }),
      decode = GroupedHll.unpack(_).map { case (g, b) =>
        g -> GroupedStats.decode(b) }.toMap,
      serve = { (live, liveN, batchId) =>
        Fold.capGroups(live.size,
          s"windowed grouped stats over $table.$groupCol: live")
        Seq(("stats_grouped", GroupedHll.pack(live.toSeq.map {
            case (g, st) => g -> GroupedStats.encode(st) }),
          s"""{"group_by":"$groupCol","groups":${live.size},"rows":$liveN,"last_batch":$batchId}"""))
      }))
  }

  /** WINDOWED grouped stats — the batch twin of
    * [[maintainGroupedStatsWindowed]] (q187): per-group COUNT/SUM/
    * MIN/MAX over the live window, computed the way the maintainer
    * folds them (per-event-bucket partials, then the merge over live
    * buckets: counts/sums add, min/max re-minimize). Equal to the
    * direct grouped aggregate by associativity — the q187 oracle
    * re-derives the DIRECT form. Returns
    * (group, n, n_value, sum_value, min_value, max_value).
    */
  def windowedGroupedStats(df: DataFrame, groupCol: String,
      valueCol: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long): DataFrame = {
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    val withUs = df.filter(col(tsCol).isNotNull)
      .select(col(groupCol), col(valueCol).as("graft_v"),
        expr(s"unix_micros($tsCol)").as("graft_us"),
        expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"))
    val maxRow = withUs.agg(max(col("graft_us"))).collect()(0)
    if (maxRow.isNullAt(0))
      return withUs.filter(lit(false))
        .select(col(groupCol), lit(0L).as("n"), lit(0L).as("n_value"),
          expr("cast(0 as double)").as("sum_value"),
          expr("cast(null as double)").as("min_value"),
          expr("cast(null as double)").as("max_value"))
    val maxUs = maxRow.getLong(0)
    val live = withUs.filter(
      (col("graft_bucket") + lit(1L)) * lit(bucketMicros) >
        lit(maxUs - windowMicros))
    val perBucket = live.groupBy(col("graft_bucket"), col(groupCol))
      .agg(count(lit(1)).as("pn"), count(col("graft_v")).as("pnv"),
        sum(expr("cast(graft_v as decimal(18,4))")).as("ps"),
        min(col("graft_v")).cast("double").as("pmin"),
        max(col("graft_v")).cast("double").as("pmax"))
    perBucket.groupBy(col(groupCol))
      .agg(sum(col("pn")).as("n"), sum(col("pnv")).as("n_value"),
        expr("cast(sum(ps) as double)").as("sum_value"),
        min(col("pmin")).as("min_value"),
        max(col("pmax")).as("max_value"))
      .orderBy(col(groupCol))
  }

  // ---------------------------------------------------------------
  // KMV (set-op / NDV serves over the live window)
  // ---------------------------------------------------------------

  /** Streaming WINDOWED KMV maintenance: one bottom-k hash sketch per
    * EVENT-TIME bucket, live buckets re-merged (bottom-k union —
    * idempotent, the q184 re-merge rule) into the serving "kmv"
    * sketch, so `QueryEngine.storedSetOpAnswer` serves
    * INTERSECT/UNION/EXCEPT counts OVER THE LIVE WINDOW with no scan.
    * Hashes are keyed by VALUE with no salt (the `createKmv`
    * convention — set-op comparability is the whole point). The
    * ride-along per-bucket row counts are ADDITIVE (they feed the
    * catalog's live-row table stats), so the rider is guarded even
    * though the hash union itself is replay-idempotent. State:
    * "kmv_windowed" rider ([rows i64 BE][kmv bytes] per bucket). Batch
    * twin: [[windowedKmvDistinct]] (q188).
    */
  def maintainKmvWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      k: Int = 1024, checkpointLocation: Option[String] = None)
      : StreamingQuery = {
    require(k >= 2, s"k must be >= 2, got $k")
    val empty = Kmv.Sketch(k, Array.empty[Long])
    Fold.windowed(values, catalog, table, column, tsCol, windowMicros,
      bucketMicros, checkpointLocation)(Fold.Windowed[(Long, Kmv.Sketch)](
      "kmv_windowed", s""""k":$k,""", (0L, empty),
      bucketed = { timed =>
        graft.functions.GraftFunctions.register(timed.sparkSession)
        // per-bucket bottom-k of distinct value hashes: the window
        // rank runs over DISTINCT (bucket, hash) pairs, so at most
        // liveBuckets·k rows reach the driver
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("graft_bucket")).orderBy(col("h").asc)
        val sketches = timed.filter(col(column).isNotNull)
          .select(col("graft_bucket"),
            expr(s"graft_h60(cast($column as string))").as("h"))
          .distinct()
          .withColumn("graft_rn", row_number().over(wb))
          .filter(col("graft_rn") <= k)
          .collect().groupBy(_.getLong(0)).map { case (bkt, rs) =>
            bkt -> Kmv.Sketch(k, rs.map(_.getLong(1)).sorted)
          }
        timed.groupBy(col("graft_bucket")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), sketches.getOrElse(r.getLong(0), empty))).toMap
      },
      merge = { case ((c1, s1), (c2, s2)) => (c1 + c2, s1.union(s2)) },
      rows = _._1, encode = { case (c, sk) => Fold.counted(c, sk.serialize) },
      decode = { p =>
        val (c, kb) = Fold.uncounted(p)
        (c, Kmv.deserialize(kb))
      },
      serve = { case ((_, sk), liveN, batchId) =>
        Seq(("kmv", sk.serialize,
          s"""{"k":$k,"rows":$liveN,"last_batch":$batchId}"""))
      }))
  }

  /** WINDOWED KMV distinct — the batch twin of [[maintainKmvWindowed]]
    * (q188): the q45 KMV estimator over the live window, computed
    * through the per-bucket bottom-k union the maintainer folds
    * (bottom-k of a union == bottom-k of the parts' bottom-k's — the
    * q183 merge law, here on value hashes). The q188 oracle re-derives
    * the DIRECT bottom-k over live rows (q45's SQL restricted to the
    * window). Returns one row:
    * (k_used, kth_hash, est_distinct, n_exact, rel_error).
    */
  def windowedKmvDistinct(df: DataFrame, column: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    val s = df.sparkSession
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val withUs = df.filter(col(tsCol).isNotNull && col(column).isNotNull)
      .select(col(column).as("graft_v"),
        expr(s"unix_micros($tsCol)").as("graft_us"),
        expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"))
    val maxRow = withUs.agg(max(col("graft_us"))).collect()(0)
    if (maxRow.isNullAt(0))
      return Seq.empty[(Long, Long, Double, Long, Double)]
        .toDF("k_used", "kth_hash", "est_distinct", "n_exact", "rel_error")
    val maxUs = maxRow.getLong(0)
    val live = withUs.filter(
      (col("graft_bucket") + lit(1L)) * lit(bucketMicros) >
        lit(maxUs - windowMicros))
    // per-bucket bottom-k (the maintainer's stored state) ...
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("graft_bucket")).orderBy(col("h").asc)
    val perBucket = live
      .select(col("graft_bucket"),
        expr("graft_h60(cast(graft_v as string))").as("h"))
      .distinct()
      .withColumn("graft_rn", row_number().over(wb))
      .filter(col("graft_rn") <= k)
      .collect()
    // ... then the driver-side union (the serve-time shape)
    val serving = perBucket.groupBy(_.getLong(0)).values
      .map(rs => graft.sketch.Kmv.Sketch(k, rs.map(_.getLong(1)).sorted))
      .foldLeft(graft.sketch.Kmv.Sketch(k, Array.empty[Long]))(_ union _)
    val nExact = live.agg(countDistinct(col("graft_v"))).collect()(0)
      .getLong(0)
    val est = serving.estimate
    val rel = (est - nExact.toDouble) / nExact.toDouble
    Seq((serving.hashes.length.toLong,
      if (serving.hashes.isEmpty) 0L else serving.hashes.last,
      est, nExact, rel))
      .toDF("k_used", "kth_hash", "est_distinct", "n_exact", "rel_error")
  }

  // ---------------------------------------------------------------
  // top-k heavy hitters (the trending-now dashboard over the live
  // window)
  // ---------------------------------------------------------------

  /** Streaming WINDOWED top-k / heavy-hitters maintenance: EXACT
    * per-group counts per EVENT-TIME bucket, live buckets re-merged
    * (counter addition — expiry subtracts exactly, the q185 rule) into
    * the serving "topk" blob, so `QueryEngine.storedTopKAnswer` serves
    * `ORDER BY count DESC LIMIT k` / `HAVING count >= x` OVER THE LIVE
    * WINDOW with no scan. Unlike the append-only
    * [[EventStreams.maintainTopKSketch]] (whose unknown_bound only
    * GROWS — coverage narrows forever), the windowed form keeps every
    * group of every live bucket EXACTLY, so the serving blob's
    * completeness guarantee is exact (unknown_bound 0): every group
    * below `threshold` is provably below it over the live window. The
    * honesty guard is the domain bound: a batch bucket (or the merged
    * live set) holding more than `maxEntries` groups refuses loudly —
    * per-bucket group sets must be dimensions, not data (the
    * MaxHllGroups rule); for truly unbounded keys, bound the domain
    * first (hash-bucket the key) or accept the append-only form's
    * narrowing bound. State: "topk_windowed".
    * Batch twin: [[windowedTopK]] (q189).
    */
  def maintainTopKWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], tsCol: String,
      windowMicros: Long, bucketMicros: Long, threshold: Long,
      maxEntries: Int = SketchOps.MaxHllGroups,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val groupCol = groupCols.mkString(",")
    def bounded(gs: Map[Option[String], Long], where: String) =
      if (gs.sizeIs > maxEntries)
        throw new IllegalArgumentException(
          s"windowed topk over $table.$groupCol: $where holds " +
            s"${gs.size} groups (> $maxEntries) — the key is data, " +
            "not a dimension")
    type S = Map[Option[String], Long]
    Fold.windowed(values, catalog, table, groupCol, tsCol, windowMicros,
      bucketMicros, checkpointLocation)(Fold.Windowed[S]("topk_windowed",
      s""""threshold":$threshold,""", Map.empty,
      bucketed = timed => timed
        .groupBy(col("graft_bucket"), SketchOps.groupKeyExpr(groupCols,
          timed.schema.fieldNames.toSeq).as("g"))
        .agg(count(lit(1)).as("n"))
        .collect().groupBy(_.getLong(0)).map { case (bkt, rs) =>
          val gs = rs.map(r =>
            Option(r.getAs[String]("g")) -> r.getAs[Long]("n")).toMap
          bounded(gs, s"bucket $bkt")
          bkt -> gs
        },
      merge = Fold.union(_, _)(_ + _),
      rows = _.valuesIterator.sum,
      encode = gs => GroupedHll.pack(gs.toSeq.map { case (g, n) =>
        g -> Fold.leLong(n) }),
      decode = GroupedHll.unpack(_).map { case (g, b) => g -> Fold.le(b) }
        .toMap,
      serve = { (live, liveN, batchId) =>
        // the MERGED live set is the driver-state/serving-blob bound:
        // per-bucket sets can each pass while their union does not
        bounded(live, "live window")
        val entries = live.filter(_._2 >= threshold)
        Seq(("topk", GroupedHll.pack(entries.toSeq.map { case (g, n) =>
            g -> Fold.leLong(n) }),
          s"""{"group_by":"$groupCol","agg":"count","threshold":$threshold,""" +
            s""""entries":${entries.size},"rows":$liveN,"last_batch":$batchId}"""))
      }))
  }


  // ---------------------------------------------------------------
  // HDR (relative-error percentile / range serves over the live
  // window)
  // ---------------------------------------------------------------

  /** Per-event-bucket HDR cells ([[SketchOps.hdrPass]] keyed by
    * `graft_bucket`); a bucket sum overflowing decimal(38,4) refuses
    * loudly — a TTL stream has no batch-rebuild poison escape.
    */
  private def hdrBuckets(timed: DataFrame, column: String, m: Int,
      what: String): Map[Long, SketchOps.HdrCell] =
    SketchOps.hdrPass(timed, Seq(col("graft_bucket")), column, m, what).map {
      case (k, c) =>
        if (c.overflow) throw new IllegalArgumentException(
          s"$what: a bucket sum overflows decimal(38,4)")
        k.head.asInstanceOf[Long] -> c
    }

  /** Streaming WINDOWED HDR maintenance: one log-linear sketch (+
    * per-(sign, binade, sub-bucket) decimal-sum rider) per EVENT-TIME
    * bucket, live buckets re-merged into the serving "hdr" + "hdrsum"
    * blobs — the engine's relative-error percentile and range serves
    * (q144/q146 family) then answer OVER THE LIVE WINDOW with no scan.
    * The log grid is GLOBAL (the real line's binades), so per-bucket
    * counts and BigInt sums add exactly and expiry subtracts exactly
    * (the q185 rule) with no grid to declare up front — the advantage
    * over the equi-width windowed form. One distributed (bucket, sg, e,
    * s) aggregate per micro-batch (`SketchOps.hdrPass` — the batch
    * builder's chain keyed by event bucket); infinities and
    * decimal overflow refuse loudly. State: "hdr_windowed", payloads
    * pack("c" → rows, "h" → hdr, "s" → sums pack).
    * Batch twin: [[windowedHdrPercentile]] (q190).
    */
  def maintainHdrWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      m: Int = 32, checkpointLocation: Option[String] = None)
      : StreamingQuery = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    type S = (Long, HdrSketch, Map[String, BigInt])
    def sumsPack(sums: Map[String, BigInt]) =
      GroupedHll.pack(sums.toSeq.map { case (k, v) => Option(k) -> v.toByteArray })
    Fold.windowed(values, catalog, table, column, tsCol, windowMicros,
      bucketMicros, checkpointLocation)(Fold.Windowed[S]("hdr_windowed",
      s""""m":$m,""", (0L, HdrSketch(m, 0L, Vector.empty, Vector.empty), Map.empty),
      bucketed = { timed =>
        val agg = hdrBuckets(timed, column, m,
          s"windowed hdr over $table.$column")
        timed.groupBy(col("graft_bucket")).agg(count(lit(1)).as("c"))
          .collect().map { r =>
            val c = agg.getOrElse(r.getLong(0), SketchOps.emptyHdr(m))
            r.getLong(0) -> (r.getLong(1), c.sketch,
              c.sums.map { case ((sg, e, s), v) => s"$sg:$e:$s" -> v }.toMap)
          }.toMap
      },
      merge = { case ((c1, h1, s1), (c2, h2, s2)) =>
        (c1 + c2, h1.merge(h2), Fold.union(s1, s2)(_ + _)) },
      rows = _._1,
      encode = { case (c, sk, sums) =>
        Fold.partsOf("c" -> Fold.beLong(c), "h" -> sk.serialize,
          "s" -> sumsPack(sums))
      },
      decode = { payload =>
        val ps = Fold.parts(payload)
        (java.nio.ByteBuffer.wrap(ps("c")).getLong,
          HdrSketch.deserialize(ps("h")),
          GroupedHll.unpack(ps("s")).collect { case (Some(k), b) =>
            k -> BigInt(b) }.toMap)
      },
      serve = { case ((_, sk, sums), liveN, batchId) =>
        val params = s"""{"m":$m,"rows":$liveN,"last_batch":$batchId}"""
        Seq(("hdr", sk.serialize, params), ("hdrsum", sumsPack(sums), params))
      }))
  }

  /** WINDOWED HDR percentile — the batch twin of [[maintainHdrWindowed]]
    * (q190): the q144 log-linear percentile chain over the live
    * window, computed through the per-bucket merge the maintainer
    * folds (per-bucket counts on the GLOBAL log grid add exactly, so
    * merged == direct — the additive merge law on binades). The q190
    * oracle re-derives the DIRECT corrected-log2 chain restricted to
    * the live window, plus the exact quantile companion through the
    * DECIMAL(18,6) rounding (the q74/q144 recipe). One row:
    * (p50_est, n_live, p50_exact, err_p50, rel_bound).
    */
  def windowedHdrPercentile(df: DataFrame, column: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long, m: Int = 32): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    val s = df.sparkSession
    import s.implicits._
    val withUs = df.filter(col(tsCol).isNotNull && col(column).isNotNull)
      .select(col(column).as("graft_v"),
        expr(s"unix_micros($tsCol)").as("graft_us"),
        expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"))
    val maxRow = withUs.agg(max(col("graft_us"))).collect()(0)
    if (maxRow.isNullAt(0))
      return Seq.empty[(Double, Long, Double, Double, Double)]
        .toDF("p50_est", "n_live", "p50_exact", "err_p50", "rel_bound")
    val maxUs = maxRow.getLong(0)
    val live = withUs.filter(
      (col("graft_bucket") + lit(1L)) * lit(bucketMicros) >
        lit(maxUs - windowMicros))
    // per-bucket sketches (the maintainer's stored state) ...
    val perBucket = hdrBuckets(live, "graft_v", m, "windowed hdr percentile")
    // ... merged into the serving sketch (binade counts add)
    val serving = perBucket.values.map(_.sketch)
      .foldLeft(graft.sketch.HdrSketch(m, 0L, Vector.empty, Vector.empty))(
        _ merge _)
    val est = serving.percentile(0.5).getOrElse(Double.NaN)
    val exactRow = live.agg(
      expr("cast(cast(percentile(graft_v, 0.5) as decimal(18,6)) as double)")
        .as("x50"), count(lit(1)).as("n")).collect()(0)
    val (x50, nLive) = (exactRow.getDouble(0), exactRow.getLong(1))
    Seq((est, nLive, x50, est - x50, serving.relErrBound))
      .toDF("p50_est", "n_live", "p50_exact", "err_p50", "rel_bound")
  }

  // ---------------------------------------------------------------
  // grouped HLL (per-group COUNT(DISTINCT) over the live window)
  // ---------------------------------------------------------------

  /** Streaming WINDOWED grouped-HLL maintenance: one per-group HLL set
    * per EVENT-TIME bucket ([rows i64 BE][hll] payloads inside a
    * per-bucket pack), live buckets re-merged (register max per group
    * — idempotent, the q184 rule) into the serving "hll_grouped" blob,
    * so `QueryEngine.storedGroupedSketchAnswer` serves
    * `SELECT g, count(DISTINCT x) ... GROUP BY g` OVER THE LIVE
    * WINDOW with no scan (and the distinct-keys/distinct-count serves
    * read the LIVE group set). The ride-along per-(bucket, group) row
    * counts are additive (they produce the live-row table stats and
    * the blob's freshness `rows`), so the rider is guarded even though
    * register merge is replay-idempotent. Batch twin: q191's per-group
    * deterministic register chain.
    */
  def maintainGroupedHllWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long,
      b: Int = 12): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    type S = Map[Option[String], (Long, Array[Byte])]
    Fold.windowed(values, catalog, table, valueCol, tsCol, windowMicros,
      bucketMicros)(Fold.Windowed[S]("hllg_windowed",
      s""""b":$b,"group_by":"$groupCol",""", Map.empty,
      bucketed = timed => timed
        .groupBy(col("graft_bucket"), SketchOps.groupKeyExpr(groupCols,
          timed.schema.fieldNames.toSeq).as("g"))
        .agg(graft.sketch.Hll.sketchAgg(col(valueCol).cast("string"), b)
          .as("s"), count(lit(1)).as("n"))
        .collect().groupBy(_.getLong(0)).map { case (bkt, rs) =>
          bkt -> rs.map(r => Option(r.getAs[String]("g")) ->
            (r.getAs[Long]("n"), r.getAs[Array[Byte]]("s"))).toMap
        },
      merge = Fold.union(_, _) { case ((n1, s1), (n2, s2)) =>
        (n1 + n2, graft.sketch.Hll.deserialize(s1)
          .merge(graft.sketch.Hll.deserialize(s2)).serialize)
      },
      rows = _.valuesIterator.map(_._1).sum,
      encode = gs => GroupedHll.pack(gs.toSeq.map { case (g, (n, sk)) =>
        g -> Fold.counted(n, sk) }),
      decode = GroupedHll.unpack(_).map { case (g, p) =>
        g -> Fold.uncounted(p) }.toMap,
      serve = { (live, liveN, batchId) =>
        Fold.capGroups(live.size,
          s"windowed grouped HLL over $table.$groupCol: live")
        Seq(("hll_grouped", GroupedHll.serialize(live.toSeq.map {
            case (g, (_, sk)) => g -> sk }),
          s"""{"b":$b,"group_by":"$groupCol","groups":${live.size},"rows":$liveN,"last_batch":$batchId}"""))
      }))
  }

  // ---------------------------------------------------------------
  // grouped HDR (per-group relative-error percentile / range serves
  // over the live window)
  // ---------------------------------------------------------------

  /** Streaming WINDOWED grouped-HDR maintenance: per-(event-time
    * bucket, group) log-linear sketches + per-(group, log-bucket)
    * decimal-sum riders (`SketchOps.hdrPass` keyed by (bucket, group)
    * — ONE distributed pass per micro-batch), live buckets re-merged
    * into the serving "hdr_grouped" + "hdrsum_grouped" blobs, so the
    * engine's per-group percentile / range / SUM/AVG serves (q150
    * family) answer OVER THE LIVE WINDOW with no scan. The log grid is
    * GLOBAL, so per-group binade counts and BigInt sums add exactly
    * across buckets and expiry subtracts exactly — no per-group grid
    * to declare (the advantage over a windowed equi-width grouped
    * histogram, which this form therefore supersedes for TTL
    * workloads). All-NULL-value groups are still groups (empty hdr
    * payload, the batch builder's contract); per-group sum overflow
    * poisons that group's rider (the "!" sentinel, absorbing in the
    * merge). State: "hdrg_windowed".
    */
  def maintainGroupedHdrWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long,
      m: Int = 32): StreamingQuery = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    type G[V] = Map[Option[String], V]
    // per bucket: (group -> rows, group -> hdr, group -> sums)
    type S = (G[Long], G[Array[Byte]], G[Array[Byte]])
    Fold.windowed(values, catalog, table, valueCol, tsCol, windowMicros,
      bucketMicros)(Fold.Windowed[S]("hdrg_windowed",
      s""""m":$m,"group_by":"$groupCol",""", (Map.empty, Map.empty, Map.empty),
      bucketed = { timed =>
        // sketches+riders for groups WITH values ...
        val agg = SketchOps.hdrPass(timed, Seq(col("graft_bucket"),
            SketchOps.groupKeyExpr(groupCols, timed.schema.fieldNames.toSeq)
              .as("g")), valueCol, m,
          s"windowed grouped hdr over $table.$valueCol")
          .groupBy(_._1.head.asInstanceOf[Long]).map { case (bkt, cs) =>
            bkt -> cs.map { case (k, c) =>
              Option(k(1).asInstanceOf[String]) -> c }
          }
        // ... and row counts for ALL groups (all-NULL ones included)
        timed.groupBy(col("graft_bucket"), SketchOps.groupKeyExpr(groupCols,
            timed.schema.fieldNames.toSeq).as("g"))
          .agg(count(lit(1)).as("n"))
          .collect().groupBy(_.getLong(0)).map { case (bkt, rs) =>
            val a = agg.getOrElse(bkt, Map.empty)
            bkt -> (rs.map(r =>
              Option(r.getAs[String]("g")) -> r.getAs[Long]("n")).toMap,
              a.map { case (g, c) => g -> c.sketch.serialize },
              a.map { case (g, c) => g -> c.groupedSumPack })
          }
      },
      merge = { case ((c1, h1, s1), (c2, h2, s2)) =>
        (Fold.union(c1, c2)(_ + _), Fold.union(h1, h2)(HdrSketch.mergeBytes),
          Fold.union(s1, s2)(SketchOps.hdrSumMergeBytes))
      },
      rows = _._1.valuesIterator.sum,
      encode = { case (cs, hs, ss) =>
        Fold.partsOf(
          "c" -> GroupedHll.pack(cs.toSeq.map { case (g, n) =>
            g -> Fold.beLong(n) }),
          "h" -> GroupedHll.pack(hs.toSeq), "s" -> GroupedHll.pack(ss.toSeq))
      },
      decode = { payload =>
        val ps = Fold.parts(payload)
        (GroupedHll.unpack(ps("c")).map { case (g, cb) =>
            g -> java.nio.ByteBuffer.wrap(cb).getLong }.toMap,
          GroupedHll.unpack(ps("h")).toMap, GroupedHll.unpack(ps("s")).toMap)
      },
      serve = { case ((counts, hdrs, sums), liveN, batchId) =>
        Fold.capGroups(counts.size,
          s"windowed grouped hdr over $table.$groupCol: live")
        // serving blobs mirror the batch builder: hdr_grouped keys
        // EVERY live group (empty payload for all-NULL groups);
        // hdrsum_grouped carries only groups with values
        Seq(("hdr_grouped", GroupedHll.pack(counts.keySet.toSeq.map(g =>
            g -> hdrs.getOrElse(g, Array.empty[Byte]))),
          s"""{"m":$m,"group_by":"$groupCol","groups":${counts.size},"rows":$liveN,"last_batch":$batchId}"""),
          ("hdrsum_grouped", GroupedHll.pack(sums.toSeq),
          s"""{"m":$m,"group_by":"$groupCol","groups":${sums.size},"rows":$liveN,"last_batch":$batchId}"""))
      }))
  }

  // ---------------------------------------------------------------
  // AGMS (live join-cardinality evidence)
  // ---------------------------------------------------------------

  /** Streaming WINDOWED AGMS maintenance: one signed-counter sketch
    * per EVENT-TIME bucket, live buckets re-merged (counter addition —
    * exact subtraction on expiry, the q185 rule) into the serving
    * "agms" blob, so the engine's automatic costed join-AQP decision
    * reads cardinality evidence for the LIVE WINDOW — the append-only
    * [[EventStreams.maintainAgmsSketch]] would keep voting with expired
    * rows' join mass forever. The blob's `rows` is the live count; the
    * table stats are left alone. State: "agms_windowed". Byte parity:
    * the serving blob equals `SketchOps.createAgms` over exactly the
    * live rows (same 'js:' tuple hash, same bucket/sign derivation —
    * the spec law).
    */
  def maintainAgmsWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, keys: Seq[String],
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      buckets: Int = 1024): StreamingQuery = {
    require(keys.nonEmpty, "at least one key column required")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val enc = if (keys.sizeIs > 1) ""","enc":"j1"""" else ""
    Fold.windowed(values, catalog, table, keys.mkString(","), tsCol,
      windowMicros, bucketMicros)(Fold.Windowed[(Long, Array[Long])](
      "agms_windowed", s""""buckets":$buckets,""",
      (0L, new Array[Long](buckets)),
      bucketed = timed =>
        EventStreams.agmsCells(timed, keys, buckets, "graft_bucket")
          .groupBy(_.getLong(0)).map { case (bkt, rs) =>
            bkt -> EventStreams.agmsCounters(rs, buckets)
          },
      merge = { case ((c1, a1), (c2, a2)) => (c1 + c2, addArrays(a1, a2)) },
      rows = _._1,
      encode = { case (c, counters) =>
        Fold.counted(c, graft.sketch.Agms.serialize(counters)) },
      decode = { p =>
        val (c, ab) = Fold.uncounted(p)
        (c, graft.sketch.Agms.deserialize(ab))
      },
      serve = { case ((_, counters), liveN, batchId) =>
        Seq(("agms", graft.sketch.Agms.serialize(counters),
          s"""{"buckets":$buckets,"rows":$liveN,"last_batch":$batchId$enc}"""))
      },
      tableStats = false))
  }

  /** WINDOWED top-k — the batch twin of [[maintainTopKWindowed]]
    * (q189): per-group counts over the live window computed through
    * the per-event-bucket partials + additive merge the maintainer
    * folds (equal to the direct GROUP BY by associativity — the q189
    * oracle re-derives the DIRECT form), filtered at `threshold`.
    * Returns (group, n), heaviest first.
    */
  def windowedTopK(df: DataFrame, groupCol: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long, threshold: Long): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    val withUs = df.filter(col(tsCol).isNotNull)
      .select(col(groupCol),
        expr(s"unix_micros($tsCol)").as("graft_us"),
        expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"))
    val maxRow = withUs.agg(max(col("graft_us"))).collect()(0)
    if (maxRow.isNullAt(0))
      return withUs.filter(lit(false))
        .select(col(groupCol), lit(0L).as("n"))
    val maxUs = maxRow.getLong(0)
    val live = withUs.filter(
      (col("graft_bucket") + lit(1L)) * lit(bucketMicros) >
        lit(maxUs - windowMicros))
    val perBucket = live.groupBy(col("graft_bucket"), col(groupCol))
      .agg(count(lit(1)).as("pn"))
    perBucket.groupBy(col(groupCol))
      .agg(sum(col("pn")).as("n"))
      .filter(col("n") >= threshold)
      .orderBy(col("n").desc, col(groupCol).asc)
  }
}
