package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SAMPLE maintenance — the fold-able sample families split
  * out of [[EventStreams]] in round 14 (pure code motion, behavior
  * pinned by BottomKSpec/StreamedSamplesSpec/WindowedSketchesSpec and
  * the q183 oracle): the bottom-k sample (plain, grouped, windowed)
  * and the outlier-indexed sample. Sketch maintainers stay in
  * [[EventStreams]]; windowed sketch families live in
  * [[WindowedSketches]].
  *
  * Shared discipline: folds are idempotent on rows (dedup by key under
  * a total order), additive counts ride `last_batch` replay guards
  * stamped LAST, and a PROVISIONAL rider lands before the first fold's
  * other catalog writes (the round-14 crash-window closure).
  */
object SampleMaintainers {
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
    * The fold is idempotent on rows (dedup by key before truncating),
    * but the base count N is ADDITIVE, so a `last_batch` replay guard
    * rides in the catalog sketch params (the histogram maintainers'
    * discipline): a re-delivered batch neither double-counts N nor
    * perturbs the row fold. Key must be integral (the driver-side
    * merge orders by it); uniqueness across the whole stream is the
    * caller's contract, as in the batch builder.
    */
  def maintainBottomKSample(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, keyCol: String,
      k: Int = 2048): org.apache.spark.sql.streaming.StreamingQuery = {
    require(k >= 1, s"k must be >= 1, got $k")
    val name = s"${table}__bottomk_$keyCol"
    val path = s"${catalog.samplesDir}/$name"
    Fold.run(values) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val rider = catalog.getSketch(table, keyCol, "bottomk_rider")
      val lastBatch = Fold.lastBatch(rider)
      if (batchId > lastBatch) {
        val keyIdx = batch.schema.fieldIndex(keyCol)
        require(Seq("integer", "long", "short")
          .contains(batch.schema(keyIdx).dataType.typeName),
          s"bottom-k stream key $keyCol must be integral")
        val hExpr = expr(
          s"graft_h60(concat('bk:', cast($keyCol as string)))")
        val withH = batch.withColumn("graft_h", hExpr)
        val batchTop = withH
          .orderBy(col("graft_h").asc, col(keyCol).asc).limit(k)
          .collect()
        val batchN = batch.count()
        val schema = withH.schema
        // normalize the STORED rows to the batch frame's field order
        // before the positional merge (keyIdx/hIdx are computed from
        // the batch schema; a batch-built parquet with a different
        // column order would otherwise be read positionally wrong —
        // the grouped maintainer's existing discipline)
        val stored =
          if (new java.io.File(path).exists)
            s.read.parquet(path)
              .select(schema.fieldNames.map(col).toIndexedSeq: _*)
              .collect()
          else Array.empty[org.apache.spark.sql.Row]
        val hIdx = schema.fieldIndex("graft_h")
        def keyOf(r: org.apache.spark.sql.Row): Long =
          r.get(keyIdx) match {
            case l: java.lang.Long    => l.longValue
            case i: java.lang.Integer => i.longValue
            case x: java.lang.Short   => x.longValue
            case other => sys.error(s"non-integral key $other")
          }
        // idempotent on rows: dedup by key, THEN truncate at k under
        // the (hash, key) total order — a replayed batch's rows merge
        // to the identical set
        val merged = (stored ++ batchTop)
          .groupBy(keyOf).map(_._2.head).toArray
          .sortBy(r => (r.getLong(hIdx), keyOf(r)))
          .take(k)
        // CONTINUE the base count: the rider carries it across folds,
        // and a maintainer taking over a BATCH-BUILT sample (no fold
        // yet — the builder writes the rider too, but an old catalog
        // may predate it) seeds from the sample's recorded baseRows
        // instead of silently resetting N to one batch's worth
        val prevN = rider.flatMap(_.paramLong("rows"))
          .orElse(catalog.samplesFor(table)
            .find(_.sampleTable == name).flatMap(_.baseRows))
          .getOrElse(0L)
        // FIRST-EVER fold on a pure stream (no rider yet): stamp a
        // PROVISIONAL rider carrying the pre-batch count BEFORE any
        // other catalog write, closing the round-13 crash window —
        // a crash between addSample and the final stamp used to make
        // the replay seed prevN from the crashed fold's baseRows and
        // re-add the batch (N over by one batch). With the
        // provisional rider, the replay's fallback chain reads the
        // un-advanced "rows" and the fold stays exactly idempotent.
        if (catalog.getSketch(table, keyCol, "bottomk_rider").isEmpty)
          catalog.upsertSketch(catalog.SketchInfo(table, keyCol,
            "bottomk_rider", Array.emptyByteArray,
            s"""{"rows":$prevN,"k":$k,"last_batch":$lastBatch}""",
            System.currentTimeMillis()))
        val n = prevN + batchN
        s.createDataFrame(
          java.util.Arrays.asList(merged: _*), schema)
          .coalesce(1)
          .write.mode("overwrite").parquet(path)
        val sampleDf = s.read.parquet(path)
        sampleDf.createOrReplaceTempView(name)
        val achieved = merged.length.toLong
        val fraction = math.min(0.9999,
          achieved.toDouble / math.max(1L, n))
        // re-prove decimal safety over the CURRENT fold's rows (the
        // builder's check, verbatim — new rows can carry values the
        // batch-validated set never saw)
        val decsafe = graft.sample.Samplers.decimalSafeCols(sampleDf)
        catalog.upsertTableStats(table, n)
        catalog.addSample(catalog.SampleInfo(table, name, fraction,
          Some(s"__bottomk__${keyCol.toLowerCase}"), path,
          System.currentTimeMillis(), baseRows = Some(n)))
        catalog.putStrata(name, Seq(
          catalog.StratumInfo(name, "all", n, achieved, fraction,
            n.toDouble / math.max(1L, achieved), 0.0)))
        // the replay-guard stamp lands LAST: a crash mid-fold leaves
        // last_batch at its previous value, so the replayed batch
        // re-runs the whole fold (rows are idempotent, N continues
        // from the un-advanced rider) instead of leaving the catalog
        // entry/stats/strata one fold behind the rewritten parquet.
        // The first-ever fold is covered too (round 14): the
        // provisional rider stamped above addSample means EVERY
        // replay reads the un-advanced "rows" from the rider — no
        // fold, first or later, can double-count N.
        catalog.upsertSketch(catalog.SketchInfo(table, keyCol,
          "bottomk_rider", Array.emptyByteArray,
          s"""{"rows":$n,"k":$k,"last_batch":$batchId,"decsafe":"$decsafe"}""",
          System.currentTimeMillis()))
      }
    }
  }

  /** Streaming GROUPED bottom-k sample maintenance — the streamable
    * STRATIFIED sample kept live: each micro-batch folds k hash-smallest
    * rows PER GROUP (O(groups·k) driver state) and re-stamps every
    * group's exact running count N_g, so the per-row `graft_gw` = N_g/k_g
    * serve weights track ingest exactly. The per-group counts ride in
    * the rider sketch's data bytes ("group\tcount" lines — group values
    * render via String.valueOf, same as the strata rows); the
    * `last_batch` guard keeps the additive counts replay-safe while the
    * row fold stays idempotent (dedup by key, truncate per group).
    * Row-set parity with `Samplers.createBottomKGrouped` over the same
    * rows is the BottomKSpec law.
    */
  def maintainBottomKGrouped(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      keyCol: String, kPerGroup: Int = 512)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(kPerGroup >= 1, s"kPerGroup must be >= 1, got $kPerGroup")
    val name = s"${table}__bottomkg_$groupCol"
    val path = s"${catalog.samplesDir}/$name"
    Fold.run(values) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val rider = catalog.getSketch(table, groupCol, "bottomkg_rider")
      val lastBatch = Fold.lastBatch(rider)
      if (batchId > lastBatch) {
        val keyIdx = batch.schema.fieldIndex(keyCol)
        val gIdx = batch.schema.fieldIndex(groupCol)
        require(Seq("integer", "long", "short")
          .contains(batch.schema(keyIdx).dataType.typeName),
          s"grouped bottom-k stream key $keyCol must be integral")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol))
          .orderBy(
            expr(s"graft_h60(concat('bkg:', cast($keyCol as string)))").asc,
            col(keyCol).asc)
        val withH = batch.withColumn("graft_h",
          expr(s"graft_h60(concat('bkg:', cast($keyCol as string)))"))
        val batchTop = withH
          .withColumn("graft_rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("graft_rn") <= kPerGroup)
          .drop("graft_rn")
          .collect()
        val batchCountRows = batch.groupBy(col(groupCol))
          .agg(count(lit(1)).as("c")).collect()
        // the batch builder REQUIRES non-null groups (a NULL group
        // cannot carry a weight); the fold enforces the same contract
        // instead of silently folding nulls as the string "null"
        batchCountRows.foreach(r => require(!r.isNullAt(0),
          s"grouped bottom-k stream group $groupCol must be non-null"))
        val batchCounts = batchCountRows
          .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
        // running per-group counts: the rider blob (escaped lines —
        // group values can contain tabs/newlines) continues across
        // folds; a maintainer taking over a BATCH-BUILT sample with
        // no blob yet seeds from the catalog's per-group strata
        // instead of resetting every count to one batch's worth
        // gate on rider PRESENCE, not blob non-emptiness: a
        // provisional first-fold rider (below) carries a genuinely
        // empty count map, and falling through to strata here would
        // re-open the crash window it exists to close (replayed
        // first fold double-counting via the crashed fold's strata)
        val prevCounts: Map[String, Long] = rider match {
          case Some(r) => BlobEscape.decodeCounts(r.data)
          case None => catalog.strataFor(name)
            .map(st => st.strataValue -> st.popSize).toMap
        }
        // FIRST-EVER fold: provisional rider with the pre-batch
        // counts BEFORE any other catalog write (the plain
        // maintainer's round-14 discipline) — a crash between
        // putStrata and the final stamp can no longer make the
        // replay seed from the crashed fold's strata
        if (rider.isEmpty)
          catalog.upsertSketch(catalog.SketchInfo(table, groupCol,
            "bottomkg_rider", BlobEscape.encodeCounts(prevCounts),
            s"""{"rows":${prevCounts.valuesIterator.sum},"k":$kPerGroup,"last_batch":$lastBatch}""",
            System.currentTimeMillis()))
        val counts = (prevCounts.keySet ++ batchCounts.keySet).iterator
          .map(g => g -> (prevCounts.getOrElse(g, 0L) +
            batchCounts.getOrElse(g, 0L))).toMap
        // base-row shape shared by stored and batch rows: the batch
        // columns + graft_h (stored rows drop their stale gn/gw)
        val baseSchema = withH.schema
        val stored: Array[org.apache.spark.sql.Row] =
          if (new java.io.File(path).exists)
            s.read.parquet(path)
              .select(baseSchema.fieldNames.map(col).toIndexedSeq: _*)
              .collect()
          else Array.empty
        val hIdx = baseSchema.fieldIndex("graft_h")
        def keyOf(r: org.apache.spark.sql.Row): Long =
          r.get(keyIdx) match {
            case l: java.lang.Long    => l.longValue
            case i: java.lang.Integer => i.longValue
            case x: java.lang.Short   => x.longValue
            case other => sys.error(s"non-integral key $other")
          }
        val merged = (stored ++ batchTop)
          .groupBy(keyOf).map(_._2.head).toArray
          .groupBy(r => String.valueOf(r.get(gIdx)))
          .valuesIterator
          .flatMap(rows =>
            rows.sortBy(r => (r.getLong(hIdx), keyOf(r))).take(kPerGroup))
          .toArray
        // stamp the live gn/gw per row from the running counts
        val outSchema = org.apache.spark.sql.types.StructType(
          baseSchema.fields ++ Seq(
            org.apache.spark.sql.types.StructField("graft_gn",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("graft_gw",
              org.apache.spark.sql.types.DoubleType, nullable = false)))
        val achievedPerGroup = merged
          .groupBy(r => String.valueOf(r.get(gIdx)))
          .map { case (g, rows) => g -> rows.length.toLong }
        val out = merged.map { r =>
          val g = String.valueOf(r.get(gIdx))
          // defensive floor: a stored group missing from the counts
          // map (possible only on a corrupted rider) still gets a
          // consistent weight >= 1 instead of killing the stream
          val gk = achievedPerGroup(g)
          val gn = math.max(counts.getOrElse(g, gk), gk)
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq ++ Seq[Any](gn, gn.toDouble / math.max(1L, gk)))
        }
        s.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path).createOrReplaceTempView(name)
        val n = counts.valuesIterator.sum
        val achieved = merged.length.toLong
        val fraction = math.min(0.9999,
          achieved.toDouble / math.max(1L, n))
        val blob = BlobEscape.encodeCounts(counts)
        val decsafe = graft.sample.Samplers.decimalSafeCols(
          s.read.parquet(path))
        catalog.upsertTableStats(table, n)
        catalog.addSample(catalog.SampleInfo(table, name, fraction,
          Some(s"__bottomkg__${groupCol.toLowerCase}"), path,
          System.currentTimeMillis(), baseRows = Some(n)))
        catalog.putStrata(name, counts.toSeq.sortBy(_._1).map {
          case (g, gn) =>
            val gk = achievedPerGroup.getOrElse(g, 0L)
            catalog.StratumInfo(name, g, gn, gk,
              gk.toDouble / math.max(1L, gn),
              gn.toDouble / math.max(1L, gk), 0.0)
        })
        // replay-guard stamp LAST (see the plain maintainer): a crash
        // mid-fold re-runs the whole idempotent fold on replay rather
        // than skipping it with half the catalog writes missing
        catalog.upsertSketch(catalog.SketchInfo(table, groupCol,
          "bottomkg_rider", blob,
          s"""{"rows":$n,"k":$kPerGroup,"last_batch":$batchId,"decsafe":"$decsafe"}""",
          System.currentTimeMillis()))
      }
    }
  }

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
    * it), and because the power-of-two weight w only grows with N, the
    * current threshold only tightens — re-filtering the stored rest
    * drops exactly the rows a fresh build would never have kept. The
    * maintained sample therefore holds EXACTLY `createOutlierSample`'s
    * rows over the same data (the fold == rebuild law), and the
    * catalog entry re-stamps N/w/strata each fold so exact MAX (and
    * MIN on two-sided builds) keep serving as the stream appends.
    * State: the `__state` parquet carries (row, graft_olv, graft_olh,
    * graft_part); additive N rides the "outlier_rider" `last_batch`
    * guard stamped LAST (provisional rider before the first fold's
    * catalog writes — the crash-safe discipline). Key must be integral
    * and stream-unique (the builder's contract). A maintainer taking
    * over a batch-built sample (no state yet) re-derives the parts
    * from the sample parquet: under the total order, every rest row
    * sorts after the k-th tail row, so the inference is exact.
    */
  def maintainOutlierSample(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, valueCol: String,
      keyCol: String, outlierK: Int = 500, targetRest: Long = 2048L,
      lowK: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    require(outlierK >= 1, "outlierK must be >= 1")
    require(targetRest >= 1, "targetRest must be >= 1")
    require(lowK >= 0, "lowK must be >= 0")
    val name =
      if (lowK > 0) s"${table}__outlier2_$valueCol"
      else s"${table}__outlier_$valueCol"
    val path = s"${catalog.samplesDir}/$name"
    val statePath = s"${catalog.samplesDir}/${name}__state"
    Fold.run(values) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val rider = catalog.getSketch(table, valueCol, "outlier_rider")
      val lastBatch = Fold.lastBatch(rider)
      if (batchId > lastBatch) {
        require(Seq("integer", "long", "short")
          .contains(batch.schema(batch.schema.fieldIndex(keyCol))
            .dataType.typeName),
          s"outlier stream key $keyCol must be integral")
        def annotate(df: DataFrame): DataFrame = df
          .withColumn("graft_olv",
            col(valueCol).cast("double"))
          .withColumn("graft_olh",
            expr(s"graft_h60(concat('ol:', cast($keyCol as string)))"))
        val withH = annotate(batch)
        val baseSchema = withH.schema // batch columns + olv + olh
        val keyIdx = baseSchema.fieldIndex(keyCol)
        val vIdx = baseSchema.fieldIndex("graft_olv")
        val hIdx = baseSchema.fieldIndex("graft_olh")
        def keyOf(r: org.apache.spark.sql.Row): Long =
          r.get(keyIdx) match {
            case l: java.lang.Long    => l.longValue
            case i: java.lang.Integer => i.longValue
            case x: java.lang.Short   => x.longValue
            case other => sys.error(s"non-integral key $other")
          }
        // the two tail total orders (builder parity: DESC/ASC on the
        // double-cast value, key tie-break)
        val hiOrd = Ordering.by[org.apache.spark.sql.Row, (Double, Long)](
          r => (-r.getDouble(vIdx), keyOf(r)))
        val loOrd = Ordering.by[org.apache.spark.sql.Row, (Double, Long)](
          r => (r.getDouble(vIdx), keyOf(r)))
        val batchN = batch.count()
        val prevN = rider.flatMap(_.paramLong("rows"))
          .orElse(catalog.samplesFor(table)
            .find(_.sampleTable == name).flatMap(_.baseRows))
          .getOrElse(0L)
        // provisional rider BEFORE any other catalog write (the
        // bottom-k maintainers' round-14 discipline): a first-fold
        // crash after addSample can no longer double-count N
        if (rider.isEmpty)
          catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
            "outlier_rider", Array.emptyByteArray,
            s"""{"rows":$prevN,"k":$outlierK,"lowk":$lowK,"target":$targetRest,"last_batch":$lastBatch}""",
            System.currentTimeMillis()))
        val n = prevN + batchN
        // the CURRENT power-of-two weight — monotone in N, so the
        // lottery threshold only ever tightens
        val m = math.max(0L, n - outlierK - lowK) / targetRest
        val w = if (m < 1L) 1L
          else math.min(8192L, java.lang.Long.highestOneBit(m))
        val threshold = 8192L / w
        // batch contributions: one TakeOrdered per tail, the lottery
        // winners at the (already-final) current threshold
        val batchHigh = withH.filter(col(valueCol).isNotNull)
          .orderBy(col("graft_olv").desc, col(keyCol).asc)
          .limit(outlierK).collect()
        val batchLow =
          if (lowK == 0) Array.empty[org.apache.spark.sql.Row]
          else withH.filter(col(valueCol).isNotNull)
            .orderBy(col("graft_olv").asc, col(keyCol).asc)
            .limit(lowK).collect()
        val batchWinners = withH
          .filter(col("graft_olh") % lit(8192L) < lit(threshold))
          .collect()
        // stored state: (part, row); takeover re-derives parts from
        // the batch-built sample parquet (exact under the total
        // order — every rest row sorts after the k-th tail row)
        val baseCols = baseSchema.fieldNames.toIndexedSeq
        val stored: Array[(String, org.apache.spark.sql.Row)] =
          if (new java.io.File(statePath).exists) {
            s.read.parquet(statePath)
              .select((baseCols :+ "graft_part").map(col): _*)
              .collect()
              .map(r => r.getString(baseCols.length) ->
                org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1)))
          } else if (new java.io.File(path).exists) {
            // Takeover from a batch build: the tail sizes are the
            // BUILD's, not the maintainer's — re-derive parts from the
            // recorded strata (achieved hi/lo sizes) instead of the
            // configured outlierK/lowK. Sorting with a LARGER k would
            // silently promote lottery (weight-w) rows into the exact
            // tails; a SMALLER one would demote true weight-1 tail rows
            // through the lottery — both bias every weighted estimate.
            // Growth direction is safe (tails refill from new batches),
            // shrink direction is refused loudly.
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
            val rows = annotate(
              s.read.parquet(path).drop("graft_weight")
                .select(batch.schema.fieldNames.map(col).toIndexedSeq: _*))
              .select(baseCols.map(col): _*)
              .collect()
            val (valued, nulls) = rows.partition(!_.isNullAt(vIdx))
            val hi = valued.sorted(hiOrd).take(builtHi.toInt)
            val hiKeys = hi.map(keyOf).toSet
            val lo = valued.filterNot(r => hiKeys.contains(keyOf(r)))
              .sorted(loOrd).take(builtLo.toInt)
            val loKeys = lo.map(keyOf).toSet
            val rest = valued.filterNot(r =>
              hiKeys.contains(keyOf(r)) || loKeys.contains(keyOf(r))) ++
              nulls
            (hi.map("hi" -> _) ++ lo.map("lo" -> _) ++
              rest.map("rest" -> _))
          } else Array.empty
        def part(p: String) = stored.collect { case (`p`, r) => r }
        // merge the tails (dedup by key — replay-idempotent rows),
        // then demote displaced weight-1 rows through the lottery
        val mergedHigh = (part("hi") ++ batchHigh)
          .groupBy(keyOf).map(_._2.head).toArray
          .sorted(hiOrd).take(outlierK)
        val hiKeys = mergedHigh.map(keyOf).toSet
        // part("hi") joins the low-tail candidates too: a row DISPLACED
        // from the high tail this fold must compete for the low tail
        // before falling to the lottery, or on small populations the
        // maintained bottom-lowK could hold fewer rows than a rebuild's
        // (hi→lo crossover; the filterNot keeps surviving hi rows out)
        val mergedLow = (part("lo") ++ batchLow ++ part("hi"))
          .groupBy(keyOf).map(_._2.head).toArray
          .filterNot(r => hiKeys.contains(keyOf(r)))
          .sorted(loOrd).take(lowK)
        val loKeys = mergedLow.map(keyOf).toSet
        def inTail(r: org.apache.spark.sql.Row): Boolean = {
          val k0 = keyOf(r)
          hiKeys.contains(k0) || loKeys.contains(k0)
        }
        val mergedRest = (part("rest") ++ part("hi") ++ part("lo") ++
          batchWinners)
          .groupBy(keyOf).map(_._2.head).toArray
          .filterNot(inTail)
          // h60 is a non-negative 60-bit hash: plain % matches the
          // builder's SQL-side `% 8192` exactly
          .filter(r => r.getLong(hIdx) % 8192L < threshold)
        // state + serving rewrites (serving = builder's layout:
        // batch columns + graft_weight)
        val stateSchema = org.apache.spark.sql.types.StructType(
          baseSchema.fields :+ org.apache.spark.sql.types.StructField(
            "graft_part", org.apache.spark.sql.types.StringType,
            nullable = false))
        val stateRows =
          mergedHigh.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ "hi")) ++
          mergedLow.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ "lo")) ++
          mergedRest.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ "rest"))
        s.createDataFrame(
          java.util.Arrays.asList(stateRows: _*), stateSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(statePath)
        s.read.parquet(statePath)
          .withColumn("graft_weight",
            expr(s"case when graft_part = 'rest' then cast($w as double) " +
              "else cast(1 as double) end"))
          .drop("graft_olv", "graft_olh", "graft_part")
          .coalesce(1)
          .write.mode("overwrite").parquet(path)
        val sampleDf = s.read.parquet(path)
        sampleDf.createOrReplaceTempView(name)
        val (nOut, nLow, nRest) =
          (mergedHigh.length.toLong, mergedLow.length.toLong,
            mergedRest.length.toLong)
        val fraction = math.min(0.9999,
          (nOut + nLow + nRest).toDouble / math.max(1L, n))
        catalog.upsertTableStats(table, n)
        catalog.addSample(catalog.SampleInfo(table, name, fraction,
          Some(s"__outlier__${valueCol.toLowerCase}"), path,
          System.currentTimeMillis(), baseRows = Some(n)))
        catalog.putStrata(name, Seq(
          catalog.StratumInfo(name, "outlier", nOut, nOut, 1.0, 1.0,
            0.0)) ++
          (if (lowK > 0)
            Seq(catalog.StratumInfo(name, "outlier_low", nLow, nLow,
              1.0, 1.0, 0.0))
          else Nil) ++ Seq(
          catalog.StratumInfo(name, "rest",
            math.max(0L, n - nOut - nLow), nRest, 1.0 / w, w.toDouble,
            0.0)))
        // replay-guard stamp LAST (crash-safe fold discipline)
        catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
          "outlier_rider", Array.emptyByteArray,
          s"""{"rows":$n,"k":$outlierK,"lowk":$lowK,"target":$targetRest,"last_batch":$batchId}""",
          System.currentTimeMillis()))
      }
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
    * serves between W and W + bucket of history); replay rides the
    * `last_batch` guard stamped LAST (crash-safe fold, rows idempotent
    * per bucket, counts re-derived from the un-advanced rider).
    */
  def maintainBottomKWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, keyCol: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      k: Int = 2048, checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(k >= 1 && windowMicros >= bucketMicros && bucketMicros > 0,
      s"need k >= 1 and window >= bucket > 0")
    val name = s"${table}__bottomkw_$keyCol"
    val path = s"${catalog.samplesDir}/$name"
    val statePath = s"${catalog.samplesDir}/${name}__state"
    Fold.run(values, checkpointLocation) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val rider = catalog.getSketch(table, keyCol, "bottomkw_state")
      val lastBatch = Fold.lastBatch(rider)
      if (batchId > lastBatch) {
        require(Seq("integer", "long", "short")
          .contains(batch.schema(batch.schema.fieldIndex(keyCol))
            .dataType.typeName),
          s"windowed bottom-k stream key $keyCol must be integral")
        // NULL event times carry no bucket: drop them up front (the
        // grouped/windowed maintainers' shared discipline) or the
        // driver-side getLong on the NULL graft_bucket NPEs the query
        val withH = batch.filter(col(tsCol).isNotNull)
          .withColumn("graft_bucket",
            expr(s"unix_micros($tsCol) div $bucketMicros"))
          .withColumn("graft_h",
            expr(s"graft_h60(concat('bkw:', cast($keyCol as string)))"))
          .drop(tsCol)
        // positional indices come from the POST-drop schema (dropping
        // ts shifts any column that followed it)
        val keyIdx = withH.schema.fieldIndex(keyCol)
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("graft_bucket"))
          .orderBy(col("graft_h").asc, col(keyCol).asc)
        val batchTop = withH
          .withColumn("graft_rn", row_number().over(wb))
          .filter(col("graft_rn") <= k).drop("graft_rn")
          .collect()
        val batchCounts = withH.groupBy(col("graft_bucket"))
          .agg(count(lit(1)).as("c")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val batchMaxUs = batch.agg(
          max(expr(s"unix_micros($tsCol)"))).collect()(0) match {
          case r if r.isNullAt(0) => Long.MinValue
          case r                  => r.getLong(0)
        }
        val baseSchema = withH.schema
        val stored: Array[org.apache.spark.sql.Row] =
          if (new java.io.File(statePath).exists)
            s.read.parquet(statePath)
              .select(baseSchema.fieldNames.map(col).toIndexedSeq: _*)
              .collect()
          else Array.empty
        val hIdx = baseSchema.fieldIndex("graft_h")
        val bIdx = baseSchema.fieldIndex("graft_bucket")
        def keyOf(r: org.apache.spark.sql.Row): Long =
          r.get(keyIdx) match {
            case l: java.lang.Long    => l.longValue
            case i: java.lang.Integer => i.longValue
            case x: java.lang.Short   => x.longValue
            case other => sys.error(s"non-integral key $other")
          }
        // watermark CONTINUES across folds; counts continue per bucket
        val prevMaxUs = rider.flatMap(_.paramLong("maxus"))
          .getOrElse(Long.MinValue)
        val maxUs = math.max(prevMaxUs, batchMaxUs)
        val prevCounts: Map[Long, Long] = rider
          .map(r => BlobEscape.decodeCounts(r.data))
          .getOrElse(Map.empty)
          .map { case (b, c) => b.toLong -> c }
        val mergedCounts =
          (prevCounts.keySet ++ batchCounts.keySet).iterator
            .map(b => b -> (prevCounts.getOrElse(b, 0L) +
              batchCounts.getOrElse(b, 0L))).toMap
        def liveB(b: Long): Boolean =
          (b + 1L) * bucketMicros > maxUs - windowMicros
        val liveCounts = mergedCounts.filter { case (b, _) => liveB(b) }
        // fold rows per bucket (idempotent: dedup by key, truncate k
        // under the (hash, key) total order), then EXPIRE buckets
        val mergedState = (stored ++ batchTop)
          .groupBy(r => (r.getLong(bIdx), keyOf(r))).map(_._2.head)
          .toArray
          .groupBy(_.getLong(bIdx))
          .filter { case (b, _) => liveB(b) }
          .valuesIterator
          .flatMap(rows =>
            rows.sortBy(r => (r.getLong(hIdx), keyOf(r))).take(k))
          .toArray
        s.createDataFrame(
          java.util.Arrays.asList(mergedState: _*), baseSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(statePath)
        // serving sample: global re-merge of the live buckets' samples
        val serving = mergedState
          .sortBy(r => (r.getLong(hIdx), keyOf(r))).take(k)
        s.createDataFrame(
          java.util.Arrays.asList(serving: _*), baseSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(path)
        val sampleDf = s.read.parquet(path)
        sampleDf.createOrReplaceTempView(name)
        val n = liveCounts.valuesIterator.sum
        val achieved = serving.length.toLong
        val fraction = math.min(0.9999,
          achieved.toDouble / math.max(1L, n))
        val decsafe = graft.sample.Samplers.decimalSafeCols(sampleDf)
        catalog.upsertTableStats(table, n)
        catalog.addSample(catalog.SampleInfo(table, name, fraction,
          Some(s"__bottomk__${keyCol.toLowerCase}"), path,
          System.currentTimeMillis(), baseRows = Some(n)))
        catalog.putStrata(name, Seq(
          catalog.StratumInfo(name, "all", n, achieved, fraction,
            n.toDouble / math.max(1L, achieved), 0.0)))
        // the serving rider keeps the plain-bottom-k serve contracts
        // (decimal proof, N, k) working unchanged on the windowed
        // sample
        catalog.upsertSketch(catalog.SketchInfo(table, keyCol,
          "bottomk_rider", Array.emptyByteArray,
          s"""{"rows":$n,"k":$k,"decsafe":"$decsafe"}""",
          System.currentTimeMillis()))
        // replay-guard stamp LAST (crash-safe fold discipline)
        catalog.upsertSketch(catalog.SketchInfo(table, keyCol,
          "bottomkw_state",
          BlobEscape.encodeCounts(
            liveCounts.map { case (b, c) => b.toString -> c }),
          s"""{"maxus":$maxUs,"k":$k,"last_batch":$batchId}""",
          System.currentTimeMillis()))
      }
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
    * Expiry is bucket-granular (the q183 trade); additive counts ride
    * the `last_batch` guard on "bkgw_state", stamped LAST; the
    * "bottomkg_rider" re-stamps each fold so the grouped serves'
    * contracts (kPerGroup CIs, decimal proof, representation stats)
    * work unchanged on the windowed sample. Key integral and
    * stream-unique; groups non-NULL (the builder's contracts).
    */
  def maintainBottomKGroupedWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      keyCol: String, tsCol: String, windowMicros: Long,
      bucketMicros: Long, kPerGroup: Int = 512)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(kPerGroup >= 1, s"kPerGroup must be >= 1, got $kPerGroup")
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    val name = s"${table}__bottomkg_$groupCol"
    val path = s"${catalog.samplesDir}/$name"
    val statePath = s"${catalog.samplesDir}/${name}__state"
    Fold.run(values) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val rider = catalog.getSketch(table, groupCol, "bkgw_state")
      val lastBatch = Fold.lastBatch(rider)
      if (batchId > lastBatch) {
        require(Seq("integer", "long", "short")
          .contains(batch.schema(batch.schema.fieldIndex(keyCol))
            .dataType.typeName),
          s"windowed grouped bottom-k stream key $keyCol must be integral")
        val withH = batch.filter(col(tsCol).isNotNull)
          .withColumn("graft_bucket",
            expr(s"unix_micros($tsCol) div $bucketMicros"))
          .withColumn("graft_h",
            expr(s"graft_h60(concat('bkg:', cast($keyCol as string)))"))
          .drop(tsCol)
        // positional indices from the POST-drop schema
        val keyIdx = withH.schema.fieldIndex(keyCol)
        val gIdx = withH.schema.fieldIndex(groupCol)
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("graft_bucket"), col(groupCol))
          .orderBy(col("graft_h").asc, col(keyCol).asc)
        val batchTop = withH
          .withColumn("graft_rn", row_number().over(wb))
          .filter(col("graft_rn") <= kPerGroup).drop("graft_rn")
          .collect()
        val batchCountRows = withH
          .groupBy(col("graft_bucket"), col(groupCol))
          .agg(count(lit(1)).as("c")).collect()
        batchCountRows.foreach(r => require(!r.isNullAt(1),
          s"windowed grouped bottom-k group $groupCol must be non-null"))
        val batchCounts: Map[Long, Map[String, Long]] =
          batchCountRows.groupBy(_.getLong(0)).map { case (bkt, rs) =>
            bkt -> rs.map(r =>
              String.valueOf(r.get(1)) -> r.getLong(2)).toMap
          }
        val batchMaxUs = batch.agg(
          max(expr(s"unix_micros($tsCol)"))).collect()(0) match {
          case r if r.isNullAt(0) => Long.MinValue
          case r                  => r.getLong(0)
        }
        val prevMaxUs = rider.flatMap(_.paramLong("maxus"))
          .getOrElse(Long.MinValue)
        val maxUs = math.max(prevMaxUs, batchMaxUs)
        // per-(bucket, group) counts continue across folds (nested
        // packs: bucket -> escaped group\tcount lines)
        val prevCounts: Map[Long, Map[String, Long]] = rider
          .map(r => graft.sketch.GroupedHll.unpack(r.data))
          .getOrElse(Nil)
          .collect { case (Some(bk), blob) =>
            bk.toLong -> BlobEscape.decodeCounts(blob)
          }.toMap
        val mergedCounts: Map[Long, Map[String, Long]] =
          (prevCounts.keySet ++ batchCounts.keySet).iterator.map { bkt =>
            val a = prevCounts.getOrElse(bkt, Map.empty[String, Long])
            val c = batchCounts.getOrElse(bkt, Map.empty[String, Long])
            bkt -> (a.keySet ++ c.keySet).iterator.map(g =>
              g -> (a.getOrElse(g, 0L) + c.getOrElse(g, 0L))).toMap
          }.toMap
        def liveB(b: Long): Boolean =
          (b + 1L) * bucketMicros > maxUs - windowMicros
        val liveCounts = mergedCounts.filter { case (b, _) => liveB(b) }
        val baseSchema = withH.schema
        val stored: Array[org.apache.spark.sql.Row] =
          if (new java.io.File(statePath).exists)
            s.read.parquet(statePath)
              .select(baseSchema.fieldNames.map(col).toIndexedSeq: _*)
              .collect()
          else Array.empty
        val hIdx = baseSchema.fieldIndex("graft_h")
        val bIdx = baseSchema.fieldIndex("graft_bucket")
        def keyOf(r: org.apache.spark.sql.Row): Long =
          r.get(keyIdx) match {
            case l: java.lang.Long    => l.longValue
            case i: java.lang.Integer => i.longValue
            case x: java.lang.Short   => x.longValue
            case other => sys.error(s"non-integral key $other")
          }
        // fold rows per (bucket, group) cell (idempotent: dedup by
        // key, truncate k under the (hash, key) order), then EXPIRE
        val mergedState = (stored ++ batchTop)
          .groupBy(r => (r.getLong(bIdx), keyOf(r))).map(_._2.head)
          .toArray
          .filter(r => liveB(r.getLong(bIdx)))
          .groupBy(r => (r.getLong(bIdx), String.valueOf(r.get(gIdx))))
          .valuesIterator
          .flatMap(rows =>
            rows.sortBy(r => (r.getLong(hIdx), keyOf(r))).take(kPerGroup))
          .toArray
        s.createDataFrame(
          java.util.Arrays.asList(mergedState: _*), baseSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(statePath)
        // serving sample: per-group re-merge of the live buckets,
        // gn/gw stamped from the exact live counts (graft_bucket is
        // an internal state column and stays out of the sample)
        val liveTotals: Map[String, Long] = liveCounts.values
          .foldLeft(Map.empty[String, Long]) { (acc, m) =>
            (acc.keySet ++ m.keySet).iterator.map(g =>
              g -> (acc.getOrElse(g, 0L) + m.getOrElse(g, 0L))).toMap
          }
        val servingBase = mergedState
          .groupBy(r => String.valueOf(r.get(gIdx)))
          .valuesIterator
          .flatMap(rows =>
            rows.sortBy(r => (r.getLong(hIdx), keyOf(r))).take(kPerGroup))
          .toArray
        val sampleFields = baseSchema.fields
          .filterNot(_.name == "graft_bucket")
        val sampleIdx = sampleFields.map(f =>
          baseSchema.fieldIndex(f.name))
        val achievedPerGroup = servingBase
          .groupBy(r => String.valueOf(r.get(gIdx)))
          .map { case (g, rows) => g -> rows.length.toLong }
        val outSchema = org.apache.spark.sql.types.StructType(
          sampleFields ++ Seq(
            org.apache.spark.sql.types.StructField("graft_gn",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("graft_gw",
              org.apache.spark.sql.types.DoubleType, nullable = false)))
        val out = servingBase.map { r =>
          val g = String.valueOf(r.get(gIdx))
          val gk = achievedPerGroup(g)
          val gn = math.max(liveTotals.getOrElse(g, gk), gk)
          org.apache.spark.sql.Row.fromSeq(
            sampleIdx.toSeq.map(r.get) ++ Seq[Any](gn,
              gn.toDouble / math.max(1L, gk)))
        }
        s.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path).createOrReplaceTempView(name)
        val n = liveTotals.valuesIterator.sum
        val achieved = servingBase.length.toLong
        val fraction = math.min(0.9999,
          achieved.toDouble / math.max(1L, n))
        val decsafe = graft.sample.Samplers.decimalSafeCols(
          s.read.parquet(path))
        catalog.upsertTableStats(table, n)
        catalog.addSample(catalog.SampleInfo(table, name, fraction,
          Some(s"__bottomkg__${groupCol.toLowerCase}"), path,
          System.currentTimeMillis(), baseRows = Some(n)))
        catalog.putStrata(name, liveTotals.toSeq.sortBy(_._1).map {
          case (g, gn) =>
            val gk = achievedPerGroup.getOrElse(g, 0L)
            catalog.StratumInfo(name, g, gn, gk,
              gk.toDouble / math.max(1L, gn),
              gn.toDouble / math.max(1L, gk), 0.0)
        })
        // the serving rider keeps the grouped serve contracts
        // (kPerGroup CIs, decimal proof, per-group counts) on the
        // windowed sample
        catalog.upsertSketch(catalog.SketchInfo(table, groupCol,
          "bottomkg_rider", BlobEscape.encodeCounts(liveTotals),
          s"""{"rows":$n,"k":$kPerGroup,"decsafe":"$decsafe"}""",
          System.currentTimeMillis()))
        // replay-guard stamp LAST (crash-safe fold discipline)
        catalog.upsertSketch(catalog.SketchInfo(table, groupCol,
          "bkgw_state",
          graft.sketch.GroupedHll.pack(liveCounts.toSeq.map {
            case (bkt, gs) =>
              Option(bkt.toString) -> BlobEscape.encodeCounts(gs)
          }),
          s"""{"maxus":$maxUs,"k":$kPerGroup,"last_batch":$batchId}""",
          System.currentTimeMillis()))
      }
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
    * Expiry is bucket-granular; additive per-bucket counts ride the
    * `last_batch` guard on "outlierw_state", stamped LAST; the
    * "outlier_rider" re-stamps per fold so the batch serve contracts
    * hold on the windowed sample. Key integral and stream-unique.
    */
  def maintainOutlierWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, valueCol: String,
      keyCol: String, tsCol: String, windowMicros: Long,
      bucketMicros: Long, outlierK: Int = 500, lowK: Int = 0,
      restWeight: Long = 64L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(outlierK >= 1, "outlierK must be >= 1")
    require(lowK >= 0, "lowK must be >= 0")
    require(restWeight >= 1 && restWeight <= 8192 &&
      java.lang.Long.highestOneBit(restWeight) == restWeight,
      s"restWeight must be a power of two in [1, 8192], got $restWeight")
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    val threshold = 8192L / restWeight
    val name =
      if (lowK > 0) s"${table}__outlier2_$valueCol"
      else s"${table}__outlier_$valueCol"
    val path = s"${catalog.samplesDir}/$name"
    val statePath = s"${catalog.samplesDir}/${name}__wstate"
    Fold.run(values) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val rider = catalog.getSketch(table, valueCol, "outlierw_state")
      val lastBatch = Fold.lastBatch(rider)
      if (batchId > lastBatch) {
        require(Seq("integer", "long", "short")
          .contains(batch.schema(batch.schema.fieldIndex(keyCol))
            .dataType.typeName),
          s"windowed outlier stream key $keyCol must be integral")
        val withH = batch.filter(col(tsCol).isNotNull)
          .withColumn("graft_bucket",
            expr(s"unix_micros($tsCol) div $bucketMicros"))
          .withColumn("graft_olv", col(valueCol).cast("double"))
          .withColumn("graft_olh",
            expr(s"graft_h60(concat('ol:', cast($keyCol as string)))"))
          .drop(tsCol)
        val baseSchema = withH.schema
        val keyIdx = baseSchema.fieldIndex(keyCol)
        val vIdx = baseSchema.fieldIndex("graft_olv")
        val hIdx = baseSchema.fieldIndex("graft_olh")
        val bIdx = baseSchema.fieldIndex("graft_bucket")
        def keyOf(r: org.apache.spark.sql.Row): Long =
          r.get(keyIdx) match {
            case l: java.lang.Long    => l.longValue
            case i: java.lang.Integer => i.longValue
            case x: java.lang.Short   => x.longValue
            case other => sys.error(s"non-integral key $other")
          }
        val hiOrd = Ordering.by[org.apache.spark.sql.Row, (Double, Long)](
          r => (-r.getDouble(vIdx), keyOf(r)))
        val loOrd = Ordering.by[org.apache.spark.sql.Row, (Double, Long)](
          r => (r.getDouble(vIdx), keyOf(r)))
        val wbHi = org.apache.spark.sql.expressions.Window
          .partitionBy(col("graft_bucket"))
          .orderBy(col("graft_olv").desc, col(keyCol).asc)
        val batchHi = withH.filter(col(valueCol).isNotNull)
          .withColumn("graft_rn", row_number().over(wbHi))
          .filter(col("graft_rn") <= outlierK).drop("graft_rn")
          .collect()
        val wbLo = org.apache.spark.sql.expressions.Window
          .partitionBy(col("graft_bucket"))
          .orderBy(col("graft_olv").asc, col(keyCol).asc)
        val batchLo =
          if (lowK == 0) Array.empty[org.apache.spark.sql.Row]
          else withH.filter(col(valueCol).isNotNull)
            .withColumn("graft_rn", row_number().over(wbLo))
            .filter(col("graft_rn") <= lowK).drop("graft_rn")
            .collect()
        val batchRest = withH
          .filter(col("graft_olh") % lit(8192L) < lit(threshold))
          .collect()
        val batchCounts = withH.groupBy(col("graft_bucket"))
          .agg(count(lit(1)).as("c")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val batchMaxUs = batch.agg(
          max(expr(s"unix_micros($tsCol)"))).collect()(0) match {
          case r if r.isNullAt(0) => Long.MinValue
          case r                  => r.getLong(0)
        }
        val prevMaxUs = rider.flatMap(_.paramLong("maxus"))
          .getOrElse(Long.MinValue)
        val maxUs = math.max(prevMaxUs, batchMaxUs)
        val prevCounts: Map[Long, Long] = rider
          .map(r => BlobEscape.decodeCounts(r.data))
          .getOrElse(Map.empty)
          .map { case (b, c) => b.toLong -> c }
        val mergedCounts =
          (prevCounts.keySet ++ batchCounts.keySet).iterator
            .map(b => b -> (prevCounts.getOrElse(b, 0L) +
              batchCounts.getOrElse(b, 0L))).toMap
        def liveB(b: Long): Boolean =
          (b + 1L) * bucketMicros > maxUs - windowMicros
        val liveCounts = mergedCounts.filter { case (b, _) => liveB(b) }
        val baseCols = baseSchema.fieldNames.toIndexedSeq
        val stored: Array[(String, org.apache.spark.sql.Row)] =
          if (new java.io.File(statePath).exists)
            s.read.parquet(statePath)
              .select((baseCols :+ "graft_part").map(col): _*)
              .collect()
              .map(r => r.getString(baseCols.length) ->
                org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1)))
          else Array.empty
        def part(p: String) = stored.collect { case (`p`, r) => r }
        // fold each part per bucket (dedup by key — replay-safe),
        // then EXPIRE dead buckets
        def foldPart(prev: Array[org.apache.spark.sql.Row],
            add: Array[org.apache.spark.sql.Row],
            perBucketCap: Option[(Int, Ordering[org.apache.spark.sql.Row])])
            : Array[org.apache.spark.sql.Row] = {
          val merged = (prev ++ add)
            .groupBy(r => (r.getLong(bIdx), keyOf(r))).map(_._2.head)
            .toArray
            .filter(r => liveB(r.getLong(bIdx)))
          perBucketCap match {
            case Some((k, ord)) => merged.groupBy(_.getLong(bIdx))
              .valuesIterator.flatMap(_.sorted(ord).take(k)).toArray
            case None => merged
          }
        }
        val hiState = foldPart(part("hi"), batchHi,
          Some((outlierK, hiOrd)))
        val loState = foldPart(part("lo"), batchLo, Some((lowK, loOrd)))
        val restState = foldPart(part("rest"), batchRest, None)
        val stateSchema = org.apache.spark.sql.types.StructType(
          baseSchema.fields :+ org.apache.spark.sql.types.StructField(
            "graft_part", org.apache.spark.sql.types.StringType,
            nullable = false))
        val stateRows =
          hiState.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ "hi")) ++
          loState.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ "lo")) ++
          restState.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ "rest"))
        s.createDataFrame(
          java.util.Arrays.asList(stateRows: _*), stateSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(statePath)
        // serving sample: global tails over the live candidates,
        // rest = live winners minus the tail keys; the internal
        // bucket column stays in the state only
        val servingHi = hiState.groupBy(keyOf).map(_._2.head).toArray
          .sorted(hiOrd).take(outlierK)
        val hiKeys = servingHi.map(keyOf).toSet
        val servingLo = loState.groupBy(keyOf).map(_._2.head).toArray
          .filterNot(r => hiKeys.contains(keyOf(r)))
          .sorted(loOrd).take(lowK)
        val loKeys = servingLo.map(keyOf).toSet
        val servingRest = restState.groupBy(keyOf).map(_._2.head).toArray
          .filterNot { r =>
            val k0 = keyOf(r)
            hiKeys.contains(k0) || loKeys.contains(k0)
          }
        val sampleFields = baseSchema.fields
          .filterNot(_.name == "graft_bucket")
        val sampleIdx = sampleFields.map(f =>
          baseSchema.fieldIndex(f.name))
        val outSchema = org.apache.spark.sql.types.StructType(
          sampleFields :+ org.apache.spark.sql.types.StructField(
            "graft_weight", org.apache.spark.sql.types.DoubleType,
            nullable = false))
        def emit(rows: Array[org.apache.spark.sql.Row], w: Double) =
          rows.map(r => org.apache.spark.sql.Row.fromSeq(
            sampleIdx.toSeq.map(r.get) :+ (w: Any)))
        val out = emit(servingHi, 1.0) ++ emit(servingLo, 1.0) ++
          emit(servingRest, restWeight.toDouble)
        s.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path).createOrReplaceTempView(name)
        val n = liveCounts.valuesIterator.sum
        val (nOut, nLow, nRest) =
          (servingHi.length.toLong, servingLo.length.toLong,
            servingRest.length.toLong)
        val fraction = math.min(0.9999,
          (nOut + nLow + nRest).toDouble / math.max(1L, n))
        catalog.upsertTableStats(table, n)
        catalog.addSample(catalog.SampleInfo(table, name, fraction,
          Some(s"__outlier__${valueCol.toLowerCase}"), path,
          System.currentTimeMillis(), baseRows = Some(n)))
        catalog.putStrata(name, Seq(
          catalog.StratumInfo(name, "outlier", nOut, nOut, 1.0, 1.0,
            0.0)) ++
          (if (lowK > 0)
            Seq(catalog.StratumInfo(name, "outlier_low", nLow, nLow,
              1.0, 1.0, 0.0))
          else Nil) ++ Seq(
          catalog.StratumInfo(name, "rest",
            math.max(0L, n - nOut - nLow), nRest,
            1.0 / restWeight, restWeight.toDouble, 0.0)))
        catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
          "outlier_rider", Array.emptyByteArray,
          s"""{"rows":$n,"k":$outlierK,"lowk":$lowK,"w":$restWeight,"last_batch":$batchId}""",
          System.currentTimeMillis()))
        // replay-guard stamp LAST (crash-safe fold discipline)
        catalog.upsertSketch(catalog.SketchInfo(table, valueCol,
          "outlierw_state",
          BlobEscape.encodeCounts(
            liveCounts.map { case (b, c) => b.toString -> c }),
          s"""{"maxus":$maxUs,"k":$outlierK,"lowk":$lowK,"w":$restWeight,"last_batch":$batchId}""",
          System.currentTimeMillis()))
      }
    }
  }
}
