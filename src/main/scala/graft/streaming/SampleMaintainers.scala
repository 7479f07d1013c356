package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.catalog.MetaCatalog

/** Streaming SAMPLE maintenance: the bottom-k sample (plain, grouped,
  * windowed, windowed grouped) and the outlier-indexed sample (append,
  * windowed), each a declaration over [[Fold.sample]]. The fold owns the
  * crash-safe discipline (replay guard, provisional first-fold rider,
  * integral key, stored-row read, parquet rewrites, catalog write
  * order) and, for the windowed forms, the window rules. A declaration
  * states its batch contributions, its cells, orders and k, its serving
  * layout, strata and riders. Row-set parity with the batch builders in
  * `Samplers` is pinned by BottomKSpec, StreamedSamplesSpec,
  * WindowedSketchesSpec and the q183 oracle. Sketch maintainers live in
  * [[EventStreams]] and [[WindowedSketches]].
  */
object SampleMaintainers {
  private type Rows = Array[Row]

  /** The batch rows with the bottom-k hash `graft_h` under `salt`. */
  private def hashed(salt: String, keyCol: String): DataFrame => DataFrame =
    _.withColumn("graft_h",
      expr(s"graft_h60(concat('$salt', cast($keyCol as string)))"))

  /** The outlier forms' row shape: the double-cast value and the 'ol:'
    * lottery hash.
    */
  private def outlierCols(valueCol: String, keyCol: String)
      : DataFrame => DataFrame = _
    .withColumn("graft_olv", col(valueCol).cast("double"))
    .withColumn("graft_olh",
      expr(s"graft_h60(concat('ol:', cast($keyCol as string)))"))

  /** A batch contribution: each cell's first `k` rows under `order`
    * (TakeOrdered with no cells, `row_number` per cell otherwise).
    */
  private def topRows(df: DataFrame, cells: Seq[String], order: Seq[Column],
      k: Int): Rows =
    if (cells.isEmpty) df.orderBy(order: _*).limit(k).collect()
    else df.withColumn("graft_rn", row_number().over(
        Window.partitionBy(cells.map(col): _*).orderBy(order: _*)))
      .filter(col("graft_rn") <= k).drop("graft_rn").collect()

  private def byHash(keyCol: String) = Seq(col("graft_h").asc, col(keyCol).asc)

  /** A batch's row count per event-time bucket. */
  private def bucketCounts(rows: DataFrame): Map[Long, Long] =
    rows.groupBy(col("graft_bucket")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The windowed bottom-k and outlier state riders' bucket counts
    * ("bucket\tcount" lines).
    */
  private def flatCounts(rider: Option[MetaCatalog#SketchInfo])
      : Map[Long, Long] = rider.fold(Map.empty[Long, Long])(r =>
    BlobEscape.decodeCounts(r.data).map { case (b, c) => b.toLong -> c })
  private def flatBlob(live: Map[Long, Long]): Array[Byte] =
    BlobEscape.encodeCounts(live.map { case (b, c) => b.toString -> c })

  /** The one-stratum ("all") strata of the plain bottom-k forms. */
  private def whole(n: Long, achieved: Long) = Seq(("all", n, achieved,
    Fold.fraction(achieved, n), n.toDouble / math.max(1L, achieved)))

  /** The grouped forms' serving rows (`fields` of each row, then
    * graft_gn/graft_gw from the running per-group counts, floored at
    * the group's achieved size) and their per-group strata.
    */
  private def stampGroups(b: Fold.SampleBatch, fields: Seq[StructField],
      rows: Rows, groupOf: Row => String, counts: Map[String, Long]) = {
    val idx = fields.map(f => b.schema.fieldIndex(f.name))
    val achieved = rows.groupBy(groupOf)
      .map { case (g, rs) => g -> rs.length.toLong }
    val out = rows.map { r =>
      val gk = achieved(groupOf(r))
      val gn = math.max(counts.getOrElse(groupOf(r), gk), gk)
      Row.fromSeq(idx.map(r.get) ++ Seq[Any](gn, gn.toDouble / math.max(1L, gk)))
    }
    val schema = StructType(fields ++ Seq(
      StructField("graft_gn", LongType, nullable = false),
      StructField("graft_gw", DoubleType, nullable = false)))
    ((schema, out.toSeq), counts.toSeq.sortBy(_._1).map { case (g, gn) =>
      val gk = achieved.getOrElse(g, 0L)
      (g, gn, gk, gk.toDouble / math.max(1L, gn), gn.toDouble / math.max(1L, gk))
    })
  }

  /** Streaming BOTTOM-K SAMPLE maintenance (round 12) — the one
    * catalog object streams could not keep fresh until now: every
    * fixed-FRACTION sample (uniform/stratified/outlier lotteries) must
    * rebuild from a full scan when the table grows, so under streaming
    * ingest the engine's sample serves went stale while its sketch
    * serves stayed live. A bottom-k sample is MERGEABLE (bottom-k of a
    * union == bottom-k of the parts' bottom-k's — the KMV fold, carrying
    * whole rows), so each micro-batch folds in O(k) driver state:
    * one distributed TakeOrdered over the batch (≤ k rows to the
    * driver), a k-row merge with the stored sample, one parquet
    * rewrite, and the catalog's sample entry re-stamped with the new
    * base count N (the serve weight N/k tracks ingest exactly).
    *
    * Row-set parity: the maintained sample holds EXACTLY the rows
    * `Samplers.createBottomK` would pick over the same data (same
    * 'bk:' hash, same (hash, key) total order) — the BottomKSpec law.
    * The base count N is ADDITIVE and continues from the rider (or, on
    * takeover of a batch-built sample, from its recorded baseRows).
    * Key must be integral (the driver-side merge orders by it);
    * uniqueness across the whole stream is the caller's contract, as in
    * the batch builder.
    */
  def maintainBottomKSample(values: DataFrame,
      catalog: MetaCatalog, table: String, keyCol: String,
      k: Int = 2048): StreamingQuery = {
    require(k >= 1, s"k must be >= 1, got $k")
    Fold.sample(values, catalog, table, Fold.Sample(
      s"${table}__bottomk_$keyCol", s"__bottomk__${keyCol.toLowerCase}",
      keyCol, "bottomk_rider", keyCol, "bottom-k", hashed("bk:", keyCol))) {
      b =>
        val prevN = b.prevRows
        val n = prevN + b.rows.count()
        val merged = Fold.firstK(
          b.sampleRows ++ topRows(b.rows, Nil, byHash(keyCol), k), b.keyOf,
          _ => (), b.byHash("graft_h"), k)
        Fold.SampleOut(n, (b.schema, merged.toSeq), whole(n, merged.length),
          d => Seq(("bottomk_rider", Array.emptyByteArray,
            s"""{"rows":$n,"k":$k,"last_batch":${b.id},"decsafe":"$d"}""")),
          provisional = Some(Array.emptyByteArray ->
            s"""{"rows":$prevN,"k":$k,"last_batch":${Fold.lastBatch(b.rider)}}"""))
    }
  }

  /** Streaming GROUPED bottom-k sample maintenance — the streamable
    * STRATIFIED sample kept live: each micro-batch folds k hash-smallest
    * rows PER GROUP (O(groups·k) driver state) and re-stamps every
    * group's exact running count N_g, so the per-row `graft_gw` = N_g/k_g
    * serve weights track ingest exactly. The per-group counts ride in
    * the rider sketch's data bytes ("group\tcount" lines — group values
    * render via String.valueOf, same as the strata rows) and continue
    * across folds; a maintainer taking over a BATCH-BUILT sample with no
    * rider seeds them from the catalog's per-group strata (the rider's
    * PRESENCE gates that: the provisional rider's empty count map must
    * not fall through to a crashed fold's strata). Groups must be
    * non-NULL (the batch builder's contract). Row-set parity with
    * `Samplers.createBottomKGrouped` over the same rows is the
    * BottomKSpec law.
    */
  def maintainBottomKGrouped(values: DataFrame,
      catalog: MetaCatalog, table: String, groupCol: String,
      keyCol: String, kPerGroup: Int = 512)
      : StreamingQuery = {
    require(kPerGroup >= 1, s"kPerGroup must be >= 1, got $kPerGroup")
    val name = s"${table}__bottomkg_$groupCol"
    Fold.sample(values, catalog, table, Fold.Sample(name,
      s"__bottomkg__${groupCol.toLowerCase}", groupCol, "bottomkg_rider",
      keyCol, "grouped bottom-k", hashed("bkg:", keyCol))) { b =>
      val batchCounts = b.rows.groupBy(col(groupCol))
        .agg(count(lit(1)).as("c")).collect()
      batchCounts.foreach(r => require(!r.isNullAt(0),
        s"grouped bottom-k stream group $groupCol must be non-null"))
      val prev = b.rider.fold(catalog.strataFor(name)
        .map(st => st.strataValue -> st.popSize).toMap)(r =>
        BlobEscape.decodeCounts(r.data))
      val counts = Fold.union(prev, batchCounts
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap)(_ + _)
      val merged = Fold.firstK(b.sampleRows ++
        topRows(b.rows, Seq(groupCol), byHash(keyCol), kPerGroup),
        b.keyOf, b.field(groupCol), b.byHash("graft_h"), kPerGroup)
      val (serving, strata) = stampGroups(b, b.schema.fields.toSeq, merged,
        b.field(groupCol), counts)
      val n = counts.valuesIterator.sum
      Fold.SampleOut(n, serving, strata, d => Seq(("bottomkg_rider",
        BlobEscape.encodeCounts(counts),
        s"""{"rows":$n,"k":$kPerGroup,"last_batch":${b.id},"decsafe":"$d"}""")),
        provisional = Some(BlobEscape.encodeCounts(prev) ->
          s"""{"rows":${prev.valuesIterator.sum},"k":$kPerGroup,"last_batch":${Fold.lastBatch(b.rider)}}"""))
    }
  }

  /** The outlier forms' tails over a batch's row shape: the high tail
    * under (value DESC, key ASC) and the low tail under (value ASC, key
    * ASC) on the double-cast value, with the key tie-break.
    */
  private final class Tails(b: Fold.SampleBatch) {
    private val vIdx = b.schema.fieldIndex("graft_olv")
    val hi = Ordering.by[Row, (Double, Long)](r => (-r.getDouble(vIdx), b.keyOf(r)))
    val lo = Ordering.by[Row, (Double, Long)](r => (r.getDouble(vIdx), b.keyOf(r)))
    def valued(r: Row): Boolean = !r.isNullAt(vIdx)

    /** The top-`hiK` of `hiC`, the bottom-`loK` of `loC` outside it, and
      * `restC` outside both, each deduplicated by key.
      */
    def apply(hiC: Rows, loC: Rows, restC: Rows, hiK: Int, loK: Int)
        : (Rows, Rows, Rows) = {
      val high = Fold.firstK(hiC, b.keyOf, _ => (), hi, hiK)
      val hiKeys = high.map(b.keyOf).toSet
      val low = Fold.firstK(loC.filterNot(r => hiKeys(b.keyOf(r))), b.keyOf,
        _ => (), lo, loK)
      val tail = hiKeys ++ low.map(b.keyOf)
      (high, low, Fold.dedup(restC, b.keyOf).filterNot(r => tail(b.keyOf(r))))
    }
  }

  /** A parted state's rows by part ("hi", "lo", "rest"). */
  private def parts(stored: Rows): String => Rows = {
    val byPart = stored.map(r =>
      r.getString(r.length - 1) -> Row.fromSeq(r.toSeq.dropRight(1)))
    p => byPart.collect { case (`p`, r) => r }
  }
  private def parted(ps: (String, Rows)*): Seq[Row] =
    ps.flatMap { case (p, rows) => rows.map(r => Row.fromSeq(r.toSeq :+ p)) }

  /** The outlier sample's serving rows: `fields` of each row, then
    * `graft_weight` (1 for the exact tails, the lottery weight for the
    * rest).
    */
  private def weighted(fields: Seq[StructField], b: Fold.SampleBatch,
      ps: (Rows, Double)*): (StructType, Seq[Row]) = {
    val idx = fields.map(f => b.schema.fieldIndex(f.name))
    (StructType(fields :+ StructField("graft_weight", DoubleType,
      nullable = false)),
      ps.flatMap { case (rows, w) => rows.map(r => Row.fromSeq(idx.map(r.get) :+ w)) })
  }

  private def outlierStrata(n: Long, hi: Rows, lo: Rows, rest: Rows,
      lowK: Int, w: Long) =
    Seq(("outlier", hi.length.toLong, hi.length.toLong, 1.0, 1.0)) ++
      (if (lowK > 0) Seq(("outlier_low", lo.length.toLong, lo.length.toLong,
        1.0, 1.0)) else Nil) ++
      Seq(("rest", math.max(0L, n - hi.length - lo.length), rest.length.toLong,
        1.0 / w, w.toDouble))

  private def lottery(threshold: Long): Column =
    col("graft_olh") % lit(8192L) < lit(threshold)

  /** Streaming OUTLIER-INDEXED sample maintenance (round 14 — the
    * round-13 verdict's staleness gap): `Samplers.createOutlierSample`
    * is fixed-fraction-plus-exact-tails, so under ingest it went stale
    * and the engine's exact MIN/MAX serves (q171/q180) stopped working
    * until a rebuild. The sample IS foldable in O(sample) driver
    * state, because each part is mergeable on its own:
    *  - the HIGH tail is the global top-`outlierK` under the
    *    (value DESC, key ASC) total order — top-k of a union == top-k
    *    of the parts' top-k's (the bottom-k fold on a different
    *    order), so each micro-batch contributes one TakeOrdered;
    *  - the LOW tail (two-sided builds) is the same fold under
    *    (value ASC, key ASC), high-tail rows excluded (the builder's
    *    both-tails rule);
    *  - the REST is the deterministic 'ol:' keyed-hash lottery — pure
    *    membership, so a batch contributes its winners and a stored
    *    row's membership re-evaluates under the CURRENT threshold.
    * The exact-tail invariant survives displacement: a batch row
    * entering the tail demotes the displaced weight-1 row THROUGH the
    * lottery (it keeps exactly the membership a batch build would give
    * it; a row displaced from the high tail first competes for the low
    * tail), and because the power-of-two weight w only grows with N,
    * the current threshold only tightens — re-filtering the stored rest
    * drops exactly the rows a fresh build would never have kept. The
    * maintained sample therefore holds EXACTLY `createOutlierSample`'s
    * rows over the same data (the fold == rebuild law), and the
    * catalog entry re-stamps N/w/strata each fold so exact MAX (and
    * MIN on two-sided builds) keep serving as the stream appends.
    * State: the `__state` parquet carries (row, graft_olv, graft_olh,
    * graft_part); additive N rides the "outlier_rider" guard. Key must
    * be integral and stream-unique (the builder's contract). A
    * maintainer taking over a batch-built sample (no state yet)
    * re-derives the parts from the sample parquet with the BUILD's tail
    * sizes (its strata): under the total order every rest row sorts
    * after the k-th tail row, so the inference is exact. Sorting with a
    * larger k would promote lottery rows into the exact tails and a
    * smaller one demote true tail rows through the lottery, so a build
    * whose tails exceed the configured ones is refused.
    */
  def maintainOutlierSample(values: DataFrame,
      catalog: MetaCatalog, table: String, valueCol: String,
      keyCol: String, outlierK: Int = 500, targetRest: Long = 2048L,
      lowK: Int = 0): StreamingQuery = {
    require(outlierK >= 1, "outlierK must be >= 1")
    require(targetRest >= 1, "targetRest must be >= 1")
    require(lowK >= 0, "lowK must be >= 0")
    val name =
      if (lowK > 0) s"${table}__outlier2_$valueCol"
      else s"${table}__outlier_$valueCol"
    def params(rows: Long, batch: Long) =
      s"""{"rows":$rows,"k":$outlierK,"lowk":$lowK,"target":$targetRest,"last_batch":$batch}"""
    Fold.sample(values, catalog, table, Fold.Sample(name,
      s"__outlier__${valueCol.toLowerCase}", valueCol, "outlier_rider", keyCol,
      "outlier", outlierCols(valueCol, keyCol),
      state = Some(MetaCatalog.StateDir), parted = true)) { b =>
      val tails = new Tails(b)
      val prevN = b.prevRows
      val n = prevN + b.rows.count()
      // the CURRENT power-of-two weight — monotone in N, so the
      // lottery threshold only ever tightens
      val m = math.max(0L, n - outlierK - lowK) / targetRest
      val w = if (m < 1L) 1L
        else math.min(8192L, java.lang.Long.highestOneBit(m))
      val threshold = 8192L / w
      val valued = b.rows.filter(col(valueCol).isNotNull)
      val batchHigh = topRows(valued, Nil,
        Seq(col("graft_olv").desc, col(keyCol).asc), outlierK)
      val batchLow = if (lowK == 0) Array.empty[Row]
        else topRows(valued, Nil, Seq(col("graft_olv").asc, col(keyCol).asc),
          lowK)
      val winners = b.rows.filter(lottery(threshold)).collect()
      val part =
        if (b.hasState) parts(b.stored)
        else if (b.hasSample) {
          val built = catalog.strataFor(name)
          require(built.nonEmpty,
            s"outlier maintainer takeover of $name needs the build's " +
              "strata to recover its tail sizes; none recorded")
          val builtHi = built.find(_.strataValue == "outlier")
            .map(_.sampleSize).getOrElse(0L)
          val builtLo = built.find(_.strataValue == "outlier_low")
            .map(_.sampleSize).getOrElse(0L)
          require(builtHi <= outlierK && builtLo <= lowK,
            s"outlier maintainer takeover of $name: built tails " +
              s"(hi=$builtHi, lo=$builtLo) exceed configured " +
              s"(k=$outlierK, lowK=$lowK) — shrinking a tail would " +
              "demote exact weight-1 rows through the lottery; " +
              "rebuild the sample or raise the maintainer's k")
          val (valuedRows, nulls) = b.sampleRows.partition(tails.valued)
          val (hi, lo, rest) = tails(valuedRows, valuedRows, valuedRows,
            builtHi.toInt, builtLo.toInt)
          Map("hi" -> hi, "lo" -> lo, "rest" -> (rest ++ nulls))
        } else (_: String) => Array.empty[Row]
      // the demotion rule: a row displaced from the high tail competes
      // for the low tail, then falls to the lottery
      val (hi, lo, rest0) = tails(part("hi") ++ batchHigh,
        part("lo") ++ batchLow ++ part("hi"),
        part("rest") ++ part("hi") ++ part("lo") ++ winners, outlierK, lowK)
      // h60 is a non-negative 60-bit hash: plain % matches the
      // builder's SQL-side `% 8192` exactly
      val hIdx = b.schema.fieldIndex("graft_olh")
      val rest = rest0.filter(r => r.getLong(hIdx) % 8192L < threshold)
      Fold.SampleOut(n, weighted(b.schema.fields.toSeq.filterNot(f =>
          f.name == "graft_olv" || f.name == "graft_olh"), b,
          hi -> 1.0, lo -> 1.0, rest -> w.toDouble),
        outlierStrata(n, hi, lo, rest, lowK, w),
        _ => Seq(("outlier_rider", Array.emptyByteArray, params(n, b.id))),
        parted("hi" -> hi, "lo" -> lo, "rest" -> rest),
        Some(Array.emptyByteArray -> params(prevN, Fold.lastBatch(b.rider))))
    }
  }

  /** WINDOWED bottom-k — the batch twin of [[maintainBottomKWindowed]]
    * (round 13): the bottom-k sample of the LAST `windowMicros` of
    * event time, at bucket granularity. Rows bucket by
    * `floor(us / bucketMicros)`; a bucket is LIVE iff its end exceeds
    * max(us) − windowMicros. The sample is computed the way the
    * maintainer folds it — per-bucket bottom-k first, then a global
    * re-merge — which equals the direct bottom-k over the live rows by
    * the merge law (bottom-k of a union == bottom-k of the parts'
    * bottom-k's); the q183 oracle re-derives the DIRECT form, gating
    * the law end-to-end. Returns (key, n_live) rows: the sample's
    * membership plus the exact live-row count every serve weight would
    * scale by.
    */
  def windowedBottomK(df: DataFrame, keyCol: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long, k: Int): DataFrame = {
    require(k >= 1 && windowMicros >= bucketMicros && bucketMicros > 0,
      s"need k >= 1 and window >= bucket > 0")
    val s = df.sparkSession
    graft.functions.GraftFunctions.register(s)
    val withUs = df
      .withColumn("graft_us", expr(s"unix_micros($tsCol)"))
      .withColumn("graft_bucket", expr(s"unix_micros($tsCol) div $bucketMicros"))
      .withColumn("graft_h",
        expr(s"graft_h60(concat('bkw:', cast($keyCol as string)))"))
    // empty input / all-NULL timestamps: no watermark, no live rows —
    // the maintainers' isNullAt guard mirrored (a bare getLong NPEs)
    val maxRow = withUs.agg(max(col("graft_us"))).collect()(0)
    if (maxRow.isNullAt(0))
      return withUs.filter(lit(false))
        .select(col(keyCol), lit(0L).as("n_live"))
    val maxUs = maxRow.getLong(0)
    val live = withUs.filter(
      (col("graft_bucket") + lit(1L)) * lit(bucketMicros) >
        lit(maxUs - windowMicros))
    // per-bucket bottom-k (the maintainer's stored state) ...
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("graft_bucket"))
      .orderBy(col("graft_h").asc, col(keyCol).asc)
    val perBucket = live
      .withColumn("graft_rn", row_number().over(wb))
      .filter(col("graft_rn") <= k).drop("graft_rn")
    // ... then the global re-merge (the serve-time shape): sort+limit
    // over at most liveBuckets·k rows — TakeOrdered, never a global
    // window/sort over data-sized input
    val nLive = live.count()
    perBucket
      .orderBy(col("graft_h").asc, col(keyCol).asc).limit(k)
      .select(col(keyCol), lit(nLive).as("n_live"))
  }

  /** Streaming WINDOWED bottom-k sample maintenance (round 13 — the
    * round-12 verdict's TTL gap): [[maintainBottomKSample]]'s fold keeps
    * a sample whose N only GROWS, so retention/TTL workloads would
    * serve from a population that includes expired rows. This
    * maintainer keeps ONE bottom-k per event-time BUCKET
    * (O(liveBuckets·k) state — mergeability per bucket is what makes
    * the form foldable at all), advances the watermark to the max
    * event time seen, DROPS buckets whose end falls out of the last
    * `windowMicros`, and re-merges the live buckets into the serving
    * sample. The catalog entry's N is the exact count of rows in live
    * buckets, so the N/k serve weight tracks the LIVE WINDOW — expired
    * rows leave both the sample and N (the EventStreamsSpec law).
    * Expiry is bucket-granular (the standard trade: a window of W
    * serves between W and W + bucket of history). The "bottomk_rider"
    * re-stamps each fold so the plain bottom-k serve contracts (decimal
    * proof, N, k) work unchanged on the windowed sample.
    */
  def maintainBottomKWindowed(values: DataFrame,
      catalog: MetaCatalog, table: String, keyCol: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      k: Int = 2048, checkpointLocation: Option[String] = None)
      : StreamingQuery = {
    require(k >= 1 && windowMicros >= bucketMicros && bucketMicros > 0,
      s"need k >= 1 and window >= bucket > 0")
    Fold.sample(values, catalog, table, Fold.Sample(
      s"${table}__bottomkw_$keyCol", s"__bottomk__${keyCol.toLowerCase}",
      keyCol, "bottomkw_state", keyCol, "windowed bottom-k",
      hashed("bkw:", keyCol),
      Some(Fold.Window(tsCol, windowMicros, bucketMicros)),
      Some(MetaCatalog.StateDir)), checkpointLocation) { b =>
      val live = b.live(flatCounts(b.rider), bucketCounts(b.rows), 0L)(_ + _)
      // per bucket: dedup by (bucket, key), the bucket's first k, then
      // expire dead buckets; serving: the first k over the live buckets
      val state = Fold.firstK(b.stored ++
        topRows(b.rows, Seq("graft_bucket"), byHash(keyCol), k),
        r => (b.bucketOf(r), b.keyOf(r)), b.bucketOf, b.byHash("graft_h"), k,
        b.isLive)
      val serving = state.sorted(b.byHash("graft_h")).take(k)
      val n = live.valuesIterator.sum
      Fold.SampleOut(n, (b.schema, serving.toSeq), whole(n, serving.length),
        d => Seq(("bottomk_rider", Array.emptyByteArray,
          s"""{"rows":$n,"k":$k,"decsafe":"$d"}"""),
          ("bottomkw_state", flatBlob(live),
            s"""{"maxus":${b.maxUs},"k":$k,"last_batch":${b.id}}""")),
        state.toSeq)
    }
  }

  /** Streaming WINDOWED GROUPED bottom-k sample maintenance (round 14)
    * — the TTL form of the streamable STRATIFIED sample, completing
    * the sample family's windowed forms: [[maintainBottomKGrouped]]'s
    * per-group counts only GROW, so under a retention workload its
    * N_g/k_g serve weights (and the sampled rows themselves) answer
    * over expired data. This maintainer keeps one bottom-k PER
    * (event-time bucket, group) — O(liveBuckets * groups * k) state,
    * mergeable per cell — advances the watermark, DROPS buckets
    * outside the last `windowMicros`, and re-merges the live buckets
    * per group into the serving sample: every group keeps its k
    * hash-smallest LIVE rows under the ('bkg:' hash, key) total order
    * (the batch builder's salt, so the serving row set equals
    * `Samplers.createBottomKGrouped` over exactly the live rows — the
    * spec law), and graft_gn/graft_gw re-stamp from the exact live
    * per-group counts so grouped HT estimates track the window.
    * Expiry is bucket-granular (the q183 trade); per-(bucket, group)
    * counts ride "bkgw_state"; the "bottomkg_rider" re-stamps each fold
    * so the grouped serves' contracts (kPerGroup CIs, decimal proof,
    * representation stats) work unchanged on the windowed sample. Key
    * integral and stream-unique; groups non-NULL (the builder's
    * contracts).
    */
  def maintainBottomKGroupedWindowed(values: DataFrame,
      catalog: MetaCatalog, table: String, groupCol: String,
      keyCol: String, tsCol: String, windowMicros: Long,
      bucketMicros: Long, kPerGroup: Int = 512)
      : StreamingQuery = {
    require(kPerGroup >= 1, s"kPerGroup must be >= 1, got $kPerGroup")
    Fold.sample(values, catalog, table, Fold.Sample(
      s"${table}__bottomkg_$groupCol", s"__bottomkg__${groupCol.toLowerCase}",
      groupCol, "bkgw_state", keyCol, "windowed grouped bottom-k",
      hashed("bkg:", keyCol),
      Some(Fold.Window(tsCol, windowMicros, bucketMicros)),
      Some(MetaCatalog.StateDir))) { b =>
      val countRows = b.rows.groupBy(col("graft_bucket"), col(groupCol))
        .agg(count(lit(1)).as("c")).collect()
      countRows.foreach(r => require(!r.isNullAt(1),
        s"windowed grouped bottom-k group $groupCol must be non-null"))
      val live = b.live(
        Fold.unpackBuckets(b.rider)(BlobEscape.decodeCounts),
        countRows.groupBy(_.getLong(0)).map { case (bkt, rs) =>
          bkt -> rs.map(r => String.valueOf(r.get(1)) -> r.getLong(2)).toMap
        }, Map.empty[String, Long])(Fold.union(_, _)(_ + _))
      val totals = live.values
        .foldLeft(Map.empty[String, Long])(Fold.union(_, _)(_ + _))
      val cell = (r: Row) => (b.bucketOf(r), b.keyOf(r))
      // per (bucket, group): dedup, expire, the cell's first k; serving:
      // each group's first k over its live cells
      val state = Fold.firstK((b.stored ++ topRows(b.rows,
          Seq("graft_bucket", groupCol), byHash(keyCol), kPerGroup))
        .filter(r => b.isLive(b.bucketOf(r))), cell,
        (r: Row) => (b.bucketOf(r), b.field(groupCol)(r)),
        b.byHash("graft_h"), kPerGroup)
      val (serving, strata) = stampGroups(b,
        b.schema.fields.toSeq.filterNot(_.name == "graft_bucket"),
        Fold.firstK(state, cell, b.field(groupCol), b.byHash("graft_h"),
          kPerGroup), b.field(groupCol), totals)
      val n = totals.valuesIterator.sum
      Fold.SampleOut(n, serving, strata, d => Seq(
        ("bottomkg_rider", BlobEscape.encodeCounts(totals),
          s"""{"rows":$n,"k":$kPerGroup,"decsafe":"$d"}"""),
        ("bkgw_state", Fold.packBuckets(live)(BlobEscape.encodeCounts),
          s"""{"maxus":${b.maxUs},"k":$kPerGroup,"last_batch":${b.id}}""")),
        state.toSeq)
    }
  }

  /** Streaming WINDOWED OUTLIER-INDEXED sample maintenance (round 14)
    * — the TTL form of [[maintainOutlierSample]], completing the
    * sample family: under retention the append-only fold's exact
    * MIN/MAX and HT sums answer over all-time data. Per EVENT-TIME
    * bucket the state keeps three independent parts:
    *  - HI candidates: the bucket's top-`outlierK` under
    *    (value DESC, key ASC) — top-k of a union folds per bucket, and
    *    the SERVING high tail is the top-k over the live buckets'
    *    candidates, so MAX over the live window stays exact;
    *  - LO candidates (two-sided builds): the same under
    *    (value ASC, key ASC);
    *  - REST winners: the 'ol:' lottery at a FIXED power-of-two weight
    *    `restWeight`. Fixed by configuration, NOT derived from N: the
    *    append-only form's derived weight only tightens because N only
    *    grows, but an expiring window's N also SHRINKS, and a loosened
    *    threshold cannot resurrect rows that were never stored — so
    *    the windowed form makes the operator size the weight for the
    *    steady-state window (the documented trade). Lottery membership
    *    is materialized per row, so tail rows need no demotion rule:
    *    the serving rest is simply (live winners) minus (serving tail
    *    keys).
    * Expiry is bucket-granular; per-bucket counts ride "outlierw_state"
    * and the state parquet is `<path>__wstate` (the append form's
    * `__state` has another row layout); the "outlier_rider" re-stamps
    * per fold so the batch serve contracts hold on the windowed sample.
    * Key integral and stream-unique.
    */
  def maintainOutlierWindowed(values: DataFrame,
      catalog: MetaCatalog, table: String, valueCol: String,
      keyCol: String, tsCol: String, windowMicros: Long,
      bucketMicros: Long, outlierK: Int = 500, lowK: Int = 0,
      restWeight: Long = 64L)
      : StreamingQuery = {
    require(outlierK >= 1, "outlierK must be >= 1")
    require(lowK >= 0, "lowK must be >= 0")
    require(restWeight >= 1 && restWeight <= 8192 &&
      java.lang.Long.highestOneBit(restWeight) == restWeight,
      s"restWeight must be a power of two in [1, 8192], got $restWeight")
    val name =
      if (lowK > 0) s"${table}__outlier2_$valueCol"
      else s"${table}__outlier_$valueCol"
    val params = s""""k":$outlierK,"lowk":$lowK,"w":$restWeight,"""
    Fold.sample(values, catalog, table, Fold.Sample(name,
      s"__outlier__${valueCol.toLowerCase}", valueCol, "outlierw_state",
      keyCol, "windowed outlier", outlierCols(valueCol, keyCol),
      Some(Fold.Window(tsCol, windowMicros, bucketMicros)),
      Some(MetaCatalog.WindowedStateDir), parted = true)) { b =>
      val tails = new Tails(b)
      val valued = b.rows.filter(col(valueCol).isNotNull)
      def top(order: Column, k: Int) =
        topRows(valued, Seq("graft_bucket"), Seq(order, col(keyCol).asc), k)
      val live = b.live(flatCounts(b.rider), bucketCounts(b.rows), 0L)(_ + _)
      val part = parts(b.stored)
      // each part per bucket: dedup by (bucket, key), expire, and the
      // tails keep the bucket's first k
      val cell = (r: Row) => (b.bucketOf(r), b.keyOf(r))
      def expire(p: String, add: Rows) =
        Fold.dedup(part(p) ++ add, cell).filter(r => b.isLive(b.bucketOf(r)))
      val hiState = Fold.firstK(expire("hi", top(col("graft_olv").desc,
        outlierK)), cell, b.bucketOf, tails.hi, outlierK)
      val loState = Fold.firstK(expire("lo",
        if (lowK == 0) Array.empty[Row] else top(col("graft_olv").asc, lowK)),
        cell, b.bucketOf, tails.lo, lowK)
      val restState = expire("rest",
        b.rows.filter(lottery(8192L / restWeight)).collect())
      val (hi, lo, rest) = tails(hiState, loState, restState, outlierK, lowK)
      val n = live.valuesIterator.sum
      Fold.SampleOut(n, weighted(
          b.schema.fields.toSeq.filterNot(_.name == "graft_bucket"), b,
          hi -> 1.0, lo -> 1.0, rest -> restWeight.toDouble),
        outlierStrata(n, hi, lo, rest, lowK, restWeight),
        _ => Seq(("outlier_rider", Array.emptyByteArray,
            s"""{"rows":$n,$params"last_batch":${b.id}}"""),
          ("outlierw_state", flatBlob(live),
            s"""{"maxus":${b.maxUs},$params"last_batch":${b.id}}""")),
        parted("hi" -> hiState, "lo" -> loState, "rest" -> restState))
    }
  }
}
