package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, max}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.MetaCatalog
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
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    run(values, checkpointLocation) { (batch, batchId) =>
      val rider = catalog.getSketch(table, column, w.kind)
      if (batchId > lastBatch(rider)) {
        val fresh = w.bucketed(batch.filter(col(tsCol).isNotNull)
          .withColumn("graft_bucket",
            expr(s"unix_micros($tsCol) div $bucketMicros")))
        val batchMaxUs =
          batch.agg(max(expr(s"unix_micros($tsCol)"))).collect()(0) match {
            case r if r.isNullAt(0) => Long.MinValue
            case r                  => r.getLong(0)
          }
        val maxUs = math.max(
          rider.flatMap(_.paramLong("maxus")).getOrElse(Long.MinValue),
          batchMaxUs)
        val prev = rider.fold(Map.empty[Long, S])(r =>
          GroupedHll.unpack(r.data).collect { case (Some(k), p) =>
            k.toLong -> w.decode(p)
          }.toMap)
        val live = fresh.foldLeft(prev) { case (acc, (bkt, s)) =>
          acc.updated(bkt, w.merge(acc.getOrElse(bkt, w.zero), s))
        }.filter { case (bkt, _) =>
          (bkt + 1L) * bucketMicros > maxUs - windowMicros
        }
        val liveN = live.valuesIterator.map(w.rows).sum
        val serving = w.serve(live.values.foldLeft(w.zero)(w.merge), liveN,
          batchId)
        if (w.tableStats) catalog.upsertTableStats(table, liveN)
        serving.foreach { case (kind, data, params) =>
          catalog.upsertSketch(catalog.SketchInfo(table, column, kind, data,
            params, System.currentTimeMillis()))
        }
        catalog.upsertSketch(catalog.SketchInfo(table, column, w.kind,
          GroupedHll.pack(live.toSeq.map { case (bkt, s) =>
            Option(bkt.toString) -> w.encode(s)
          }),
          s"""{"maxus":$maxUs,${w.riderParams}"last_batch":$batchId}""",
          System.currentTimeMillis()))
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
