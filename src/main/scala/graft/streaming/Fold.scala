package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, max}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

import graft.catalog.MetaCatalog
import graft.functions.GraftFunctions
import graft.sample.Samplers
import graft.sketch.{GroupedHll, SketchOps}

/** The micro-batch fold every streaming maintainer runs. A maintainer
  * declares its summary; the fold owns the discipline, stated once here:
  *
  *  - REPLAY GUARD. Additive state (counts, sums, counters) would
  *    double-count a re-delivered micro-batch, so each additive blob
  *    records the last folded batch id in its params (`"last_batch"`)
  *    and a batch id at or below it is skipped. Idempotent summaries
  *    (HLL registers, bottom-k hash sets) re-fold harmlessly and carry
  *    no guard. Catalog upserts merge params field-wise
  *    (`MetaCatalog.mergeParams`), so a batch rebuild keeps the stream's
  *    `last_batch` and the stream keeps the build's `rows`. The guard is
  *    exact under one writer per (table, column); two streams of one
  *    key stay safe against lost updates through the catalog's CAS merge.
  *  - CRASH SAFETY. Each additive blob of an append fold is guarded
  *    independently and up front: a crash between the counts upsert and
  *    a rider upsert leaves the rider one batch behind, and the replayed
  *    batch still folds the rider alone. Windowed folds stamp their
  *    state rider LAST, so a crash anywhere earlier re-runs the whole
  *    fold on replay.
  *  - RESTART. Batch ids restart at 0 on every fresh attachment while
  *    the riders are durable, so an attachment that must survive a
  *    process restart passes a durable `checkpointLocation` (the HTTP
  *    maintainer route always does): Spark then resumes the source and
  *    continues batch ids past the rider's `last_batch`. Library and
  *    test attachments over a MemoryStream default to None; a fresh
  *    in-memory source cannot resume another run's checkpoint.
  *  - BOUNDED GROUPS. Grouped summaries hold at most
  *    `SketchOps.MaxHllGroups` groups per batch, per merged blob and per
  *    live window: a wider key is data, not a dimension, and the fold
  *    refuses it instead of growing an unbounded blob.
  *  - WINDOWS. A windowed (TTL) summary keeps one state per event-time
  *    bucket `unix_micros(ts) div bucketMicros` and drops rows with a
  *    NULL event time (they belong to no bucket). The watermark is the
  *    max event time seen (`"maxus"`); a bucket is live iff
  *    `(bucket + 1) * bucketMicros > maxus - windowMicros` (the q183
  *    rule, bucket-granular expiry). Live buckets re-merge into the
  *    serving blobs, written under the batch builders' types so the
  *    engine's serves answer over the live window, and the table stats
  *    track the live row count so the freshness guard stays coherent.
  *    [[Window]] is the one definition of these rules; the windowed
  *    sketch fold and the windowed sample fold both run it.
  *  - SAMPLES. A maintained sample (bottom-k, grouped bottom-k, outlier;
  *    append or windowed) keeps whole rows, keyed by an integral,
  *    stream-unique key, in parquet: the sample itself, plus a state
  *    parquet beside it (`MetaCatalog.stateDirs`) when the fold needs
  *    rows the sample does not serve. Each fold reads the stored rows
  *    into the batch's row shape, merges per cell (dedup by key, so a
  *    replayed batch merges to the identical set, then the cell's first
  *    k under a total order), rewrites the state and sample parquet, and
  *    writes the catalog in one order: table stats, sample entry,
  *    strata, serving riders, and the state rider — the replay guard —
  *    LAST, so a crash anywhere earlier re-runs the whole fold. Additive
  *    counts continue from the state rider; the append forms' first fold
  *    stamps a PROVISIONAL rider with the pre-batch counts before any
  *    other write, so a crashed first fold cannot seed its replay from
  *    its own half-written catalog entry and double-count.
  */
private[streaming] object Fold {

  /** The one micro-batch sink of `streaming/`. */
  def run(values: DataFrame, checkpointLocation: Option[String] = None)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = values.writeStream.foreachBatch(body)
    checkpointLocation.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The replay guard a rider recorded; -1 before the first fold. */
  def lastBatch(rider: Option[MetaCatalog#SketchInfo]): Long =
    rider.flatMap(_.paramLong("last_batch")).getOrElse(-1L)

  /** The grouped-summary bound (see BOUNDED GROUPS). */
  def capGroups(n: Int, what: String): Unit =
    if (n > SketchOps.MaxHllGroups)
      throw new IllegalArgumentException(
        s"$what group count exceeds ${SketchOps.MaxHllGroups}")

  /** A grouped batch aggregate, collected under the per-batch bound. */
  def groups(df: DataFrame, label: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(SketchOps.MaxHllGroups + 1).collect()
    capGroups(rows.length, s"$label: batch")
    rows
  }

  /** A packed-grouped merge whose result is held to the bound. */
  def capped(label: String)(merge: (Array[Byte], Array[Byte]) => Array[Byte])
      : (Array[Byte], Array[Byte]) => Array[Byte] = { (a, b) =>
    val merged = merge(a, b)
    capGroups(GroupedHll.unpack(merged).size, s"$label: merged")
    merged
  }

  /** A stored blob's `key` must equal the maintainer's configuration
    * (sub-bucket layouts or counter widths that differ cannot add).
    */
  def sameParam(prev: Option[MetaCatalog#SketchInfo], key: String,
      want: Int, label: String): Unit =
    prev.foreach { s =>
      val got = s.paramLong(key)
      if (!got.contains(want.toLong))
        throw new IllegalArgumentException(
          s"$label: stored blob has $key=${got.getOrElse(-1L)}, " +
            s"maintainer configured $want")
    }

  // -----------------------------------------------------------------
  // the append fold
  // -----------------------------------------------------------------

  /** One blob an append maintainer owns: its type, its byte merge, and
    * whether it is additive (guarded) or idempotent (unguarded).
    */
  final case class Blob(kind: String,
      merge: (Array[Byte], Array[Byte]) => Array[Byte],
      additive: Boolean = true)

  /** Fold one micro-batch into `blobs` (in order: counts before
    * riders). `pass` runs once, only if some blob still needs this
    * batch, and yields each blob's (payload, params) in the same order;
    * None skips that blob's upsert.
    */
  def append(catalog: MetaCatalog, table: String, column: String,
      batchId: Long)(blobs: Blob*)(
      pass: => Seq[Option[(Array[Byte], String)]]): Unit = {
    val todo = blobs.map(b => !b.additive ||
      batchId > lastBatch(catalog.getSketch(table, column, b.kind)))
    if (todo.contains(true))
      blobs.lazyZip(todo).lazyZip(pass).foreach { (b, go, out) =>
        if (go) out.foreach { case (data, params) =>
          catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
            b.kind, data, params, System.currentTimeMillis()))(b.merge)
        }
      }
  }

  // -----------------------------------------------------------------
  // the window rules
  // -----------------------------------------------------------------

  /** Event-time buckets of `bucketMicros` under a window of
    * `windowMicros` (see WINDOWS): the one definition of the timed-row
    * filter, the bucket, the watermark and the live-bucket rule, shared
    * by the windowed sketch fold and the windowed sample fold.
    */
  final case class Window(tsCol: String, windowMicros: Long,
      bucketMicros: Long) {
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")

    /** The batch's rows that have an event time, with `graft_bucket`. */
    def timed(batch: DataFrame): DataFrame = batch
      .filter(col(tsCol).isNotNull)
      .withColumn("graft_bucket", expr(s"unix_micros($tsCol) div $bucketMicros"))

    /** The max event time seen, continued from the rider's `maxus`. */
    def watermark(rider: Option[MetaCatalog#SketchInfo], batch: DataFrame)
        : Long = {
      val batchMaxUs =
        batch.agg(max(expr(s"unix_micros($tsCol)"))).collect()(0) match {
          case r if r.isNullAt(0) => Long.MinValue
          case r                  => r.getLong(0)
        }
      math.max(rider.flatMap(_.paramLong("maxus")).getOrElse(Long.MinValue),
        batchMaxUs)
    }

    def isLive(maxUs: Long)(bucket: Long): Boolean =
      (bucket + 1L) * bucketMicros > maxUs - windowMicros

    /** Fold the batch's per-bucket states into the stored ones and keep
      * the buckets still live under `maxUs`.
      */
    def live[S](prev: Map[Long, S], fresh: Map[Long, S], maxUs: Long,
        zero: S)(merge: (S, S) => S): Map[Long, S] =
      fresh.foldLeft(prev) { case (acc, (bkt, s)) =>
        acc.updated(bkt, merge(acc.getOrElse(bkt, zero), s))
      }.filter { case (bkt, _) => isLive(maxUs)(bkt) }
  }

  // -----------------------------------------------------------------
  // the windowed fold
  // -----------------------------------------------------------------

  /** A windowed summary: `S` is one event-time bucket's state, a
    * mergeable value with identity `zero`.
    *  - `bucketed` aggregates a batch (NULL event times already dropped,
    *    `graft_bucket` added) into per-bucket states;
    *  - `encode`/`decode` are one bucket's rider payload;
    *  - `rows` is a state's row count (the live table stats);
    *  - `serve` turns the merged live state, the live row count and the
    *    batch id into the serving blobs (type, data, params), in upsert
    *    order; it may refuse by throwing before anything is written.
    * `riderParams` are the rider's fields between `maxus` and
    * `last_batch`; `tableStats` = false leaves the table stats alone.
    */
  final case class Windowed[S](kind: String, riderParams: String, zero: S,
      bucketed: DataFrame => Map[Long, S], merge: (S, S) => S,
      rows: S => Long, encode: S => Array[Byte],
      decode: Array[Byte] => S,
      serve: (S, Long, Long) => Seq[(String, Array[Byte], String)],
      tableStats: Boolean = true)

  def windowed[S](values: DataFrame, catalog: MetaCatalog, table: String,
      column: String, tsCol: String, windowMicros: Long, bucketMicros: Long,
      checkpointLocation: Option[String] = None)(w: Windowed[S])
      : StreamingQuery = {
    val win = Window(tsCol, windowMicros, bucketMicros)
    run(values, checkpointLocation) { (batch, batchId) =>
      val rider = catalog.getSketch(table, column, w.kind)
      if (batchId > lastBatch(rider)) {
        val fresh = w.bucketed(win.timed(batch))
        val maxUs = win.watermark(rider, batch)
        val live = win.live(unpackBuckets(rider)(w.decode), fresh, maxUs,
          w.zero)(w.merge)
        val liveN = live.valuesIterator.map(w.rows).sum
        val serving = w.serve(live.values.foldLeft(w.zero)(w.merge), liveN,
          batchId)
        if (w.tableStats) catalog.upsertTableStats(table, liveN)
        serving.foreach { case (kind, data, params) =>
          catalog.upsertSketch(catalog.SketchInfo(table, column, kind, data,
            params, System.currentTimeMillis()))
        }
        catalog.upsertSketch(catalog.SketchInfo(table, column, w.kind,
          packBuckets(live)(w.encode),
          s"""{"maxus":$maxUs,${w.riderParams}"last_batch":$batchId}""",
          System.currentTimeMillis()))
      }
    }
  }

  /** A windowed rider's per-bucket states: `pack(bucket -> encode(s))`. */
  def packBuckets[S](live: Map[Long, S])(encode: S => Array[Byte])
      : Array[Byte] =
    GroupedHll.pack(live.toSeq.map { case (bkt, s) =>
      Option(bkt.toString) -> encode(s)
    })
  def unpackBuckets[S](rider: Option[MetaCatalog#SketchInfo])(
      decode: Array[Byte] => S): Map[Long, S] =
    rider.fold(Map.empty[Long, S])(r =>
      GroupedHll.unpack(r.data).collect { case (Some(k), p) =>
        k.toLong -> decode(p)
      }.toMap)

  // -----------------------------------------------------------------
  // the sample fold
  // -----------------------------------------------------------------

  /** A maintained sample (see SAMPLES):
    *  - `name` is its sample table and `tag` its catalog strata tag;
    *  - `rider` is its state rider on (table, `column`), the replay guard;
    *  - `keyCol` is the integral row key (`what` names the maintainer in
    *    the refusal);
    *  - `annotate` adds the sample's internal columns to the batch rows,
    *    and its output is the row shape every stored row is read into;
    *  - `window` makes the fold windowed;
    *  - `state` is the suffix of its state parquet (None: the sample
    *    parquet is its own state); a `parted` state carries `graft_part`
    *    after the row.
    */
  final case class Sample(name: String, tag: String, column: String,
      rider: String, keyCol: String, what: String,
      annotate: DataFrame => DataFrame, window: Option[Window] = None,
      state: Option[String] = None, parted: Boolean = false)

  /** One micro-batch of a sample fold, as its declaration sees it:
    * `rows` are the batch's rows in the sample's row shape (timed rows
    * only, event time dropped, when windowed), `maxUs` the watermark.
    */
  final class SampleBatch private[Fold] (s: Sample, catalog: MetaCatalog,
      table: String, path: String, batch: DataFrame, val rows: DataFrame,
      val id: Long, val rider: Option[MetaCatalog#SketchInfo],
      val maxUs: Long) {
    val schema: StructType = rows.schema
    private val keyIdx = schema.fieldIndex(s.keyCol)
    private val statePath = s.state.map(path + _)
    private val spark = rows.sparkSession

    def keyOf(r: Row): Long = r.get(keyIdx) match {
      case l: java.lang.Long    => l.longValue
      case i: java.lang.Integer => i.longValue
      case x: java.lang.Short   => x.longValue
      case other => sys.error(s"non-integral key $other")
    }

    /** (hash column, key) ascending: the bottom-k total order. */
    def byHash(hashCol: String): Ordering[Row] = {
      val hIdx = schema.fieldIndex(hashCol)
      Ordering.by[Row, (Long, Long)](r => (r.getLong(hIdx), keyOf(r)))
    }

    def field(name: String): Row => String = {
      val i = schema.fieldIndex(name)
      r => String.valueOf(r.get(i))
    }
    def bucketOf: Row => Long = {
      val i = schema.fieldIndex("graft_bucket")
      _.getLong(i)
    }
    def isLive(bucket: Long): Boolean = s.window.exists(_.isLive(maxUs)(bucket))

    /** Fold per-bucket states into the rider's and keep the live ones. */
    def live[S](prev: Map[Long, S], fresh: Map[Long, S], zero: S)(
        merge: (S, S) => S): Map[Long, S] =
      s.window.get.live(prev, fresh, maxUs, zero)(merge)

    /** The running row count before this batch: the rider's, else a
      * batch-built sample's recorded base rows.
      */
    def prevRows: Long = rider.flatMap(_.paramLong("rows"))
      .orElse(catalog.samplesFor(table).find(_.sampleTable == s.name)
        .flatMap(_.baseRows))
      .getOrElse(0L)

    def hasState: Boolean = statePath.exists(new java.io.File(_).exists)
    def hasSample: Boolean = new java.io.File(path).exists

    /** The rows the last fold left, in the row shape: the state
      * parquet's (then `graft_part` when parted), or the sample
      * parquet's when the sample is its own state.
      */
    def stored: Array[Row] = statePath match {
      case None => sampleRows
      case Some(p) if hasState => spark.read.parquet(p)
        .select((schema.fieldNames.toSeq ++
          (if (s.parted) Seq("graft_part") else Nil)).map(col): _*)
        .collect()
      case _ => Array.empty
    }

    /** The sample parquet's rows (this maintainer's last fold, or a
      * batch-built sample it takes over), re-annotated into the row shape.
      */
    def sampleRows: Array[Row] =
      if (!hasSample) Array.empty
      else s.annotate(spark.read.parquet(path)
          .select(batch.schema.fieldNames.toSeq.map(col): _*))
        .select(schema.fieldNames.toSeq.map(col): _*).collect()
  }

  /** One batch folded by a sample declaration:
    *  - `n` is the row count behind the sample (its base rows and the
    *    table stats); `serving` the sample's schema and rows;
    *  - `strata` are (value, population, sample size, fraction, weight);
    *  - `riders` are the serving riders, then the state rider, as (type,
    *    data, params), given the sample's decimal-safe columns (computed
    *    only if read);
    *  - `state` is the state parquet's rows (`graft_part` last when
    *    parted); `provisional` the append forms' first-fold rider.
    */
  final case class SampleOut(n: Long, serving: (StructType, Seq[Row]),
      strata: Seq[(String, Long, Long, Double, Double)],
      riders: (=> String) => Seq[(String, Array[Byte], String)],
      state: Seq[Row] = Nil,
      provisional: Option[(Array[Byte], String)] = None)

  /** The sample's fraction of the `n` rows behind it. */
  def fraction(achieved: Long, n: Long): Double =
    math.min(0.9999, achieved.toDouble / math.max(1L, n))

  /** The per-cell merge of stored and batch rows: dedup by `key` (the
    * first copy wins, so stored rows go first), then each `cell`'s first
    * `k` rows under `ord`; `keep` drops whole cells. Idempotent on rows,
    * so a replayed batch merges to the identical set.
    */
  def firstK[C](rows: Array[Row], key: Row => Any, cell: Row => C,
      ord: Ordering[Row], k: Int, keep: C => Boolean = (_: C) => true)
      : Array[Row] =
    dedup(rows, key).groupBy(cell).filter(c => keep(c._1))
      .valuesIterator.flatMap(_.sorted(ord).take(k)).toArray

  def dedup(rows: Array[Row], key: Row => Any): Array[Row] =
    rows.groupBy(key).map(_._2.head).toArray

  def sample(values: DataFrame, catalog: MetaCatalog, table: String,
      s: Sample, checkpointLocation: Option[String] = None)(
      fold: SampleBatch => SampleOut): StreamingQuery = {
    val path = s"${catalog.samplesDir}/${s.name}"
    def upsert(kind: String, data: Array[Byte], params: String): Unit =
      catalog.upsertSketch(catalog.SketchInfo(table, s.column, kind, data,
        params, System.currentTimeMillis()))
    run(values, checkpointLocation) { (batch, batchId) =>
      val spark = batch.sparkSession
      GraftFunctions.register(spark)
      val rider = catalog.getSketch(table, s.column, s.rider)
      if (batchId > lastBatch(rider)) {
        require(Seq("integer", "long", "short").contains(
          batch.schema(batch.schema.fieldIndex(s.keyCol)).dataType.typeName),
          s"${s.what} stream key ${s.keyCol} must be integral")
        val timed = s.window.fold(batch)(w => w.timed(batch).drop(w.tsCol))
        val b = new SampleBatch(s, catalog, table, path, timed,
          s.annotate(timed), batchId, rider,
          s.window.fold(Long.MinValue)(_.watermark(rider, batch)))
        val out = fold(b)
        // the first fold's provisional rider lands before any other write
        if (rider.isEmpty)
          out.provisional.foreach { case (d, p) => upsert(s.rider, d, p) }
        def write(to: String, schema: StructType, rows: Seq[Row]): Unit =
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(to)
        s.state.foreach(sfx => write(path + sfx,
          if (s.parted) b.schema.add("graft_part", StringType, nullable = false)
          else b.schema, out.state))
        write(path, out.serving._1, out.serving._2)
        val sampleDf = spark.read.parquet(path)
        sampleDf.createOrReplaceTempView(s.name)
        lazy val decsafe = Samplers.decimalSafeCols(sampleDf)
        catalog.upsertTableStats(table, out.n)
        catalog.addSample(catalog.SampleInfo(table, s.name,
          fraction(out.serving._2.length, out.n), Some(s.tag), path,
          System.currentTimeMillis(), baseRows = Some(out.n)))
        catalog.putStrata(s.name, out.strata.map { case (v, pop, k, f, w) =>
          catalog.StratumInfo(s.name, v, pop, k, f, w, 0.0)
        })
        out.riders(decsafe).foreach { case (kind, d, p) => upsert(kind, d, p) }
      }
    }
  }

  // -----------------------------------------------------------------
  // rider payload pieces shared by the declarations
  // -----------------------------------------------------------------

  /** [count: i64 BE][payload] — the per-bucket ride-along row count. */
  def counted(c: Long, payload: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(8 + payload.length).putLong(c).put(payload)
      .array()
  def uncounted(data: Array[Byte]): (Long, Array[Byte]) =
    (java.nio.ByteBuffer.wrap(data).getLong, data.drop(8))

  def beLong(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()
  def leLong(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  def le(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong

  /** Named parts of a bucket payload (`pack("c" -> .., "h" -> .., ...)`). */
  def parts(payload: Array[Byte]): Map[String, Array[Byte]] =
    GroupedHll.unpack(payload).collect { case (Some(k), v) => k -> v }.toMap
  def partsOf(ps: (String, Array[Byte])*): Array[Byte] =
    GroupedHll.pack(ps.map { case (k, v) => Option(k) -> v })

  /** Key-wise merge of two maps (union; `f` where both hold a key). */
  def union[K, V](a: Map[K, V], b: Map[K, V])(f: (V, V) => V): Map[K, V] =
    b.foldLeft(a) { case (acc, (k, v)) =>
      acc.updated(k, acc.get(k).fold(v)(f(_, v)))
    }
}
