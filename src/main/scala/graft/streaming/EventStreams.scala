package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.sketch.{GroupedHll, GroupedStats, SketchOps}

/** Structured Streaming surface — the streaming capability the reference
  * only aspires to (/root/reference/README.md:303-305 "Streaming
  * Summaries", never implemented). Each transformation is written
  * against a plain DataFrame so the SAME code runs in batch (where the
  * Events queries' DuckDB oracles check it) and on a streaming source
  * (readStream / MemoryStream; checked in EventStreamsSpec).
  *
  * Scale: windowed counts are partial-aggregated before the shuffle and
  * keyed state is per (window, event_type); watermarking bounds state so
  * a 100 TB/day stream holds only the open windows in memory.
  */
object EventStreams {

  /** Tumbling-window counts/sums by event type. On a streaming input,
    * the 1-hour watermark lets Spark drop window state once event time
    * passes window end + 1h (append-mode emission).
    */
  def windowedAgg(events: DataFrame, withWatermark: Boolean = true): DataFrame = {
    val in = if (withWatermark && events.isStreaming)
      events.withWatermark("ts", "1 hour") else events
    in.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(value as decimal(18,4))) as double)").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Streaming approximate distinct users per event type — the AQP
    * engine's sketch strategy applied to a stream: HyperLogLog++ partial
    * aggregation, mergeable across micro-batches in complete mode.
    */
  def approxUsers(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, nEvents: Long)
  case class Session(user_id: Long, startUs: Long, endUs: Long,
      n_events: Long)

  /** Stateful gap-based sessionization via flatMapGroupsWithState: emits
    * a Session row whenever 30 minutes of event time pass without
    * activity for a user. Pass ProcessingTimeTimeout to also flush idle
    * state on wall-clock (production streams); the default NoTimeout
    * closes sessions only via the event-time gap rule (deterministic, no
    * background triggers). The batch-mode equivalent (same gap rule) is
    * queries.Events q25_sessionize, which the DuckDB oracle checks.
    */
  def sessionize(events: Dataset[Event], gapUs: Long = 1800L * 1000000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutEnabled = timeout != GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, s.start, s.last, s.nEvents))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              cur match {
                case Some(s) if us - s.last > gapUs =>
                  closed += Session(user, s.start, s.last, s.nEvents)
                  cur = Some(SessionState(us, us, 1))
                case Some(s) =>
                  cur = Some(s.copy(last = us, nEvents = s.nEvents + 1))
                case None =>
                  cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeoutEnabled) state.setTimeoutDuration("30 minutes")
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming k-anonymity report — the privacy pass (batch twin: q51)
    * applied to a live stream: keyed-hash pseudonyms, per (window,
    * event_type) distinct-pseudonym counts, suppression below k. The
    * distinct count is HLL++ (mergeable across micro-batches; EXACT at
    * quasi-identifier-group cardinalities, which sit far below the
    * sketch's dense-mode threshold, so suppression flags are stable);
    * the watermark bounds state to open windows.
    */
  def kanonWindowed(events: DataFrame, k: Long = 3L): DataFrame = {
    // streaming inputs don't pass through Tables.load — make graft_h60
    // resolvable on this session before building the pseudonym expr
    graft.functions.GraftFunctions.register(events.sparkSession)
    val in = if (events.isStreaming) events.withWatermark("ts", "1 hour")
             else events
    in.select(col("ts"), col("event_type"),
        expr(graft.queries.Dedup.h60Spark("concat('pii:', cast(user_id as string))"))
          .as("pseudo"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("pseudo"), 0.01).as("n_users"))
      .select(col("w.start").as("ws"), col("event_type"), col("n_events"),
        col("n_users"),
        expr(s"case when n_users < ${k}L then 1 else 0 end").as("suppressed"),
        expr(s"case when n_users < ${k}L then cast(null as bigint) else n_events end")
          .as("released_n"))
  }

  /** Streaming heavy-hitter frequency sketch: a Count-Min sketch of
    * user activity per tumbling window (batch twin: q42's exact heavy
    * hitters — the ground truth this sketch estimates). The aggregation
    * state IS the mergeable counter matrix: partial sketches add
    * element-wise across tasks and micro-batches, so the stream stores
    * O(eps^-1 ln delta^-1) counters per window, never per-key counts —
    * the only way frequency tracking survives an unbounded key domain.
    * Probe the returned bytes with Cms.deserialize(...).estimateString.
    */
  def windowedHeavyHitters(events: DataFrame,
      epsilon: Double = 0.005, delta: Double = 0.01): DataFrame = {
    val cmsAgg = org.apache.spark.sql.functions.udaf(
      new graft.sketch.Cms.CmsAggregator(epsilon, delta),
      org.apache.spark.sql.Encoders.STRING)
    val in = if (events.isStreaming) events.withWatermark("ts", "1 hour")
             else events
    in.select(col("ts"), expr("cast(user_id as string)").as("uk"))
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(cmsAgg(col("uk")).as("cms"), count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("cms"), col("n_events"))
  }

  /** Watermarked stream-stream interval join: clicks matched to the
    * views they followed within one hour for the same user — the
    * streaming twin of the batch interval join (q46) and the
    * real-time attribution input to the q64 conversion funnel. Both
    * sides carry event-time watermarks and the join condition bounds
    * cts relative to vts, so Spark derives a state-retention horizon
    * for each side (without the time bound, stream-stream join state
    * grows forever). Works identically on batch inputs.
    */
  def clicksAfterViews(views: DataFrame, clicks: DataFrame): DataFrame = {
    def side(df: DataFrame): DataFrame =
      if (df.isStreaming) df.withWatermark("ts", "1 hour") else df
    val v = side(views).select(col("user_id").as("v_user"),
      col("ts").as("view_ts"), col("event_id").as("view_id"))
    val c = side(clicks).select(col("user_id").as("c_user"),
      col("ts").as("click_ts"), col("event_id").as("click_id"))
    c.join(v, expr(
      """c_user = v_user
         and click_ts > view_ts
         and click_ts <= view_ts + interval 1 hour"""))
      .select(col("c_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Streaming exact deduplication on event_id: the stream analogue of
    * the corpus dedup operators. The streaming path MUST use
    * dropDuplicatesWithinWatermark: plain dropDuplicates never evicts
    * state unless the event-time column is part of the key, so its
    * fingerprint set grows unboundedly on an infinite stream — with
    * the within-watermark variant, state is evicted once the watermark
    * passes a key's last occurrence (duplicates are only guaranteed
    * dropped when they arrive inside the lateness horizon, which is
    * the standard streaming-dedup contract).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Streaming corpus ingest: the document-side quality + dedup pass
    * (batch twins: q15's score rule, q17's fingerprint dedup) applied
    * as documents ARRIVE — the ingestion front of a training-data
    * pipeline. Quality-filter first (stateless, prunes before state),
    * then exact-dedup on the order/multiplicity-insensitive content
    * fingerprint; the watermark on arrival time bounds dedup state to
    * the lateness horizon. Works identically on batch inputs.
    */
  def corpusIngest(docs: DataFrame, minScore: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val in = if (docs.isStreaming) docs.withWatermark("ts", "1 hour") else docs
    val scored = in.select(col("doc_id"), col("ts"),
        split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"), col("ts"), expr("size(t)").as("n_tokens"),
        expr("md5(array_join(array_sort(array_distinct(t)), ' '))").as("fp"),
        expr(graft.queries.TextAnalysis.scoreSpark("t")).as("score"))
      .filter(col("score") >= minScore)
    // within-watermark dedup: plain dropDuplicates would retain every
    // fingerprint forever (state is only evicted when the event-time
    // column is part of the key); this variant bounds state to the
    // lateness horizon — the dedup guarantee a stream can actually keep
    if (scored.isStreaming) scored.dropDuplicatesWithinWatermark("fp")
    else scored.dropDuplicates("fp")
  }

  /** Streaming PII-redaction ingest (round 11): q162's compliance pass
    * on the live document stream. The scan/redact is STATELESS and runs
    * before anything else — no state (and no emitted column) ever holds
    * raw text — then the q15 quality filter and watermark-bounded
    * fingerprint dedup run on the REDACTED text. Redacting first also
    * canonicalizes: two documents differing only in their PII spans
    * share a redacted fingerprint and dedup to one (the desired policy
    * — otherwise unique emails would make every boilerplate copy
    * "unique"). Emits per-category span counts + the fingerprint; works
    * identically on batch inputs (the spec law).
    */
  def redactIngest(docs: DataFrame, minScore: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.queries.TextAnalysis.{piiEmail, piiId, piiPhone}
    val in = if (docs.isStreaming) docs.withWatermark("ts", "1 hour") else docs
    val red = in.select(col("doc_id"), col("ts"),
      expr(s"size(regexp_extract_all(text, '$piiEmail', 0))").as("n_email"),
      expr(s"size(regexp_extract_all(text, '$piiPhone', 0))").as("n_phone"),
      expr(s"size(regexp_extract_all(text, '$piiId', 0))").as("n_id"),
      expr(
        s"""regexp_replace(regexp_replace(regexp_replace(text,
            '$piiId', '[ID]'), '$piiPhone', '[PHONE]'), '$piiEmail', '[EMAIL]')""")
        .as("redacted"))
    val scored = red.select(col("doc_id"), col("ts"),
        col("n_email"), col("n_phone"), col("n_id"),
        split(lower(col("redacted")), " ").as("t"))
      .select(col("doc_id"), col("ts"),
        col("n_email"), col("n_phone"), col("n_id"),
        expr("size(t)").as("n_tokens"),
        expr("md5(array_join(array_sort(array_distinct(t)), ' '))").as("fp"),
        expr(graft.queries.TextAnalysis.scoreSpark("t")).as("score"))
      .filter(col("score") >= minScore)
    if (scored.isStreaming) scored.dropDuplicatesWithinWatermark("fp")
    else scored.dropDuplicates("fp")
  }

  /** Streaming BAND-ADMISSION ingest (round 15): q192's band-ownership
    * near-dup suppression enforced AS DOCUMENTS ARRIVE — the admission
    * rule a 100 TB ingest can actually hold, where q44's connected
    * components cannot (a future document can merge two clusters, so
    * no stream can emit exact cluster representatives). A document is
    * ADMITTED iff it is the first presenter (minimum doc_id) of every
    * one of its 6 MinHash-LSH bands; any band someone already owns
    * suppresses the arrival into that owner's cluster.
    *
    * State is fully DISTRIBUTED — one (band, bh) → owner registry
    * parquet under the catalog's workDir, appended per micro-batch
    * (duplicate rows from a crash-replay collapse in the min-owner
    * read), one registry join per batch, nothing driver-sized. Past
    * [[BandRegistryCompactFiles]] part files the fold COMPACTS the
    * registry to its min-owner form in a versioned sibling dir, with
    * the version committed atomically on the replay-guard rider —
    * bounding per-batch read amplification at ingest scale (see
    * [[foldBandAdmissionBatch]] for the crash windows). Admission
    * output lands in per-batch directories written with OVERWRITE, so
    * every crash window replays idempotently; the `last_batch` guard
    * stamps LAST (the crash-safe fold discipline).
    *
    * Contract: doc_ids are unique, non-null, and arrive MONOTONE
    * across batches (the ingest id discipline) — enforced loudly via
    * the rider's running max, because an out-of-order smaller id could
    * silently steal ownership the fold already granted, breaking the
    * fold == [[graft.queries.Dedup]] q192-batch-operator law the
    * EventStreamsSpec pins.
    *
    * RESTART contract: pass a DURABLE `checkpointLocation` (the HTTP
    * route always does) for any attachment that must survive a process
    * restart — Spark then resumes the source's processed-files log and
    * batch ids continue monotonically past the durable rider's
    * `last_batch`. Re-attaching WITHOUT the original checkpoint resets
    * batch ids to 0, and the guard would silently skip the first
    * `last_batch + 1` folds; the monotone-id contract catches the
    * re-presentation of old files loudly, but genuinely new documents
    * folded into those early batches would be lost — don't do it.
    */
  def maintainBandAdmission(docs: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      checkpointLocation: Option[String] = None,
      compactFileThreshold: Int = BandRegistryCompactFiles)
      : StreamingQuery =
    Fold.run(docs, checkpointLocation) { (batch, batchId) =>
      foldBandAdmissionBatch(batch, batchId, catalog, table,
        compactFileThreshold)
    }

  /** Registry compaction trigger: part files in the current registry
    * version directory. Each micro-batch appends up to one file per
    * shuffle partition, and the fold re-reads EVERY file for its
    * min-owner aggregation — without compaction the per-batch read
    * amplification grows linearly with batch count (the round-15
    * verdict's one scale caveat). Past this many files the fold
    * rewrites the registry to its min-owner form (see
    * [[foldBandAdmissionBatch]]).
    */
  val BandRegistryCompactFiles = 64

  /** Current band-registry directory for `table`: version 0 is
    * `<samples>/<table>__admitted__registry` itself; compaction k
    * rewrites to the `..._vk` SIBLING, named by the rider's `reg_v`.
    * Siblings, never nested versions — a nested dir would poison a
    * parquet read of the uncompacted path during the crash window
    * between the compacted write and the rider stamp.
    */
  def bandRegistryDir(catalog: graft.catalog.MetaCatalog, table: String): String = {
    val base = s"${catalog.samplesDir}/${table}__admitted__registry"
    catalog.getSketch(table, "text", "bandreg_state")
      .flatMap(_.paramLong("reg_v")).fold(base)(v => s"${base}_v$v")
  }

  /** One fold of the band-admission operator — the micro-batch body,
    * shared verbatim with the batch materializer
    * [[materializeBandAdmission]] so the streaming and batch artifacts
    * cannot drift. See [[maintainBandAdmission]] for the contract.
    */
  private[graft] def foldBandAdmissionBatch(batch: DataFrame, batchId: Long,
      catalog: graft.catalog.MetaCatalog, table: String,
      compactFileThreshold: Int = BandRegistryCompactFiles): Unit = {
    val name = s"${table}__admitted"
    val path = s"${catalog.samplesDir}/$name"
    val regBase = s"${catalog.samplesDir}/${name}__registry"
    val s = batch.sparkSession
    graft.functions.GraftFunctions.register(s)
    val rider = catalog.getSketch(table, "text", "bandreg_state")
    val regV = rider.flatMap(_.paramLong("reg_v")).map(_.toInt)
    val regDir = regV.map(v => s"${regBase}_v$v").getOrElse(regBase)
    // stale-version cleanup: a crash between the rider stamp and this
    // point leaves the retired version dir (and a crash before the
    // stamp leaves an orphan next-version dir, rewritten by the next
    // compaction). Only NON-current registry dirs are ever touched, so
    // this is safe to run unconditionally at fold start.
    regV.foreach { _ =>
      val cur = new java.io.File(regDir).getAbsolutePath
      Option(new java.io.File(catalog.samplesDir).listFiles)
        .getOrElse(Array.empty[java.io.File]).foreach { f =>
          val fn = f.getName
          if ((fn == s"${name}__registry" ||
              fn.startsWith(s"${name}__registry_v")) &&
              f.getAbsolutePath != cur)
            deleteRecursively(f)
        }
    }
    if (batchId > Fold.lastBatch(rider)) {
      val prevRows = rider.flatMap(_.paramLong("rows")).getOrElse(0L)
      val prevSeen = rider.flatMap(_.paramLong("seen")).getOrElse(0L)
      val prevMaxId =
        rider.flatMap(_.paramLong("max_id")).getOrElse(Long.MinValue)
      val idStats = batch.agg(count(lit(1)).as("n"),
        count(col("doc_id")).as("nn"),
        countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("mn"),
        max(col("doc_id")).as("mx")).collect()(0)
      val n = idStats.getLong(0)
      if (n > 0) {
        require(idStats.getLong(1) == n,
          s"band admission on $table: doc_id must be non-null")
        require(idStats.getLong(2) == n,
          s"band admission on $table: doc_id must be unique within " +
            s"a batch (${n - idStats.getLong(2)} duplicates) — a dup " +
            "would emit duplicate admission rows")
        require(idStats.getLong(3) > prevMaxId,
          s"band admission on $table: doc_ids must arrive monotone " +
            s"across batches (batch min ${idStats.getLong(3)} <= " +
            s"prior max $prevMaxId) — an out-of-order id would " +
            "steal ownership the fold already granted")
      }
      val maxId = if (n > 0) math.max(prevMaxId, idStats.getLong(4))
        else prevMaxId
      val bands = graft.queries.Dedup
        .bandsOf(batch.select(col("doc_id"), col("text")))
        .localCheckpoint()
      val batchOwn = bands.groupBy(col("band"), col("bh"))
        .agg(min(col("doc_id")).as("bown"))
      val reg =
        if (new java.io.File(regDir).exists)
          s.read.parquet(regDir).groupBy(col("band"), col("bh"))
            .agg(min(col("owner")).as("rown"))
        else batchOwn.select(col("band"), col("bh"),
          col("bown").as("rown")).limit(0)
      val merged = batchOwn.join(reg, Seq("band", "bh"), "left")
        .select(col("band"), col("bh"),
          expr("least(bown, coalesce(rown, bown))").as("owner"),
          col("rown").isNull.as("fresh"))
        .localCheckpoint()
      val per = bands.join(merged, Seq("band", "bh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bands"),
          sum(expr("case when doc_id = owner then 1 else 0 end"))
            .as("n_owned"))
      val admitted = batch.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("coalesce(n_bands, cast(0 as bigint))").as("n_bands"),
          expr("coalesce(n_owned, cast(0 as bigint))").as("n_owned"),
          expr("cast(coalesce(n_bands, cast(0 as bigint)) = " +
            "coalesce(n_owned, cast(0 as bigint)) as int)")
            .as("admitted"))
      // per-batch OVERWRITE directory: a replay after any crash
      // window rewrites identical content instead of duplicating
      admitted.write.mode("overwrite").parquet(s"$path/b$batchId")
      merged.filter(col("fresh"))
        .select(col("band"), col("bh"), col("owner"))
        .write.mode("append").parquet(regDir)
      // COMPACTION (round 16): once the appended registry exceeds the
      // file threshold, rewrite it to its min-owner form as the next
      // version SIBLING. The new version becomes authoritative only
      // via the rider stamp below — the same atomic commit the replay
      // guard rides — so every crash window resolves: before the
      // stamp, the old version (including this batch's append) is
      // still current and a replayed fold rewrites the orphan; after
      // it, the next fold's cleanup removes the retired dir.
      // Admissions are invariant under compaction because the fold
      // only ever consumes the registry through min(owner) per
      // (band, bh) — the EventStreamsSpec law.
      val regFiles = Option(new java.io.File(regDir).listFiles)
        .map(_.count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).getOrElse(0)
      val stampedV: Option[Int] =
        if (regFiles > compactFileThreshold) {
          val nv = regV.getOrElse(0) + 1
          s.read.parquet(regDir).groupBy(col("band"), col("bh"))
            .agg(min(col("owner")).as("owner"))
            .write.mode("overwrite").parquet(s"${regBase}_v$nv")
          Some(nv)
        } else regV
      val nAdm = s.read.parquet(s"$path/b$batchId")
        .filter(col("admitted") === 1).count()
      // no temp-view registration here: a micro-batch body runs in a
      // CLONED session, so a view would never reach the serving
      // session (the round-14 lesson) — consumers read the
      // persisted output (`<path>/b*`), the durable authority
      graft.queries.Checkpoints.free(bands)
      graft.queries.Checkpoints.free(merged)
      // replay-guard stamp LAST (crash-safe fold discipline); the
      // registry version rides the same atomic write
      val regVJson = stampedV.map(v => s""","reg_v":$v""").getOrElse("")
      catalog.upsertSketch(catalog.SketchInfo(table, "text",
        "bandreg_state", Array.emptyByteArray,
        s"""{"rows":${prevRows + nAdm},"seen":${prevSeen + n},"max_id":$maxId,"last_batch":$batchId$regVJson}""",
        System.currentTimeMillis()))
    }
    ()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty[java.io.File])
      .foreach(deleteRecursively)
    f.delete(); ()
  }

  /** BATCH materializer for the band-admission artifact — exactly one
    * fold (batch id 0) of [[foldBandAdmissionBatch]] over the whole
    * `docs` relation, landing the same durable layout the streaming
    * maintainer writes: admitted rows under
    * `<samples>/<table>__admitted/b0`, the (band,bh)→owner registry,
    * and the replay-guard rider. After this, [[admissionStats]] serves
    * without rescanning `docs`, and a streaming attachment with a
    * fresh durable checkpoint resumes the fold at batch 1+ under the
    * monotone-id contract. Idempotent: a second call is replay-skipped
    * by the rider's `last_batch` guard.
    */
  def materializeBandAdmission(catalog: graft.catalog.MetaCatalog,
      table: String, docs: DataFrame): Unit =
    foldBandAdmissionBatch(docs, 0L, catalog, table)

  /** Admission statistics served from the DURABLE artifact alone — the
    * per-batch admitted output plus the band registry. The documents
    * relation is NEVER scanned (no text, no shingles, no MinHash): at
    * ingest scale this is the difference between a dashboard query and
    * a corpus job. Emits one row: n_docs / n_admitted / n_suppressed
    * (from the admitted rows), n_bands (distinct owned (band, bh)
    * pairs from the registry), and admit_rate (one exact division —
    * bit-portable, oracle-gated via q193).
    */
  def admissionStats(spark: SparkSession,
      catalog: graft.catalog.MetaCatalog, table: String): DataFrame = {
    val path = s"${catalog.samplesDir}/${table}__admitted"
    val regDir = bandRegistryDir(catalog, table)
    // Empty-fold guard (round 17): the old `parquet("$path/b*")` threw
    // PATH_NOT_FOUND when no fold had landed a batch dir yet (tiny-SF
    // entry smoke hit this live — VERIFY_r16 entry_tail); degrade to
    // the zero row instead, mirroring the registry-absent branch below.
    // The dirs are passed EXPLICITLY, not as a glob: Spark's
    // FileStreamSink.hasMetadata stats the raw glob string before
    // expansion and logs a full FileNotFoundException stack as WARN on
    // every read — pure noise in the driver's stdout tail.
    // an absent dir is an empty fold; one that exists but cannot be
    // listed is a fault, not an empty fold
    val dir = new java.io.File(path)
    val listed = Option(dir.listFiles).orElse(
      if (dir.exists) throw new IllegalStateException(
        s"admission stats: cannot list the batch directory $path")
      else None)
    val batchDirs = listed.getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
      .map(_.getPath).sorted.toIndexedSeq
    val adm =
      if (batchDirs.nonEmpty) spark.read.parquet(batchDirs: _*)
      else spark.range(0).select(lit(0).as("admitted"))
    val nBands =
      if (new java.io.File(regDir).exists)
        spark.read.parquet(regDir)
          .select(col("band"), col("bh")).distinct()
          .agg(count(lit(1)).as("n_bands"))
      else spark.range(1).select(lit(0L).as("n_bands"))
    // an empty fold counts 0 admitted and 0 suppressed; its 0/0
    // admit_rate stays NULL
    adm.agg(
        count(lit(1)).as("n_docs"),
        expr("cast(coalesce(sum(admitted), 0) as bigint)").as("n_admitted"),
        expr("cast(coalesce(sum(1 - admitted), 0) as bigint)")
          .as("n_suppressed"))
      .crossJoin(nBands)
      .select(col("n_docs"), col("n_admitted"), col("n_suppressed"),
        col("n_bands"),
        expr("cast(n_admitted as double) / cast(nullif(n_docs, 0) as double)")
          .as("admit_rate"))
  }

  /** Streaming AQP: the engine's sampled-aggregate strategy applied to
    * a live stream — the "Streaming Summaries" capability the reference
    * lists as future work (/root/reference/README.md:303-305), made
    * real. Events pass a SYSTEMATIC keyed-hash lottery on event_id
    * (scan-local, stateless, deterministic — the streaming form of
    * ReadInlineSystematic), then the tumbling-window aggregate runs on
    * the ~f fraction that survives, with counts and sums scaled back by
    * the Horvitz-Thompson weight 1/f. Per-window state and shuffle
    * volume shrink by 1/f — at a 100 TB/day firehose the sampled
    * monitor holds 1% of the window state for a ~1/sqrt(f·n) relative
    * error, the same trade the batch engine's sample strategy makes.
    * Deterministic membership means stream == batch EXACTLY (the
    * EventStreamsSpec law), not just in expectation.
    */
  def sampledWindowedAgg(events: DataFrame, fraction: Double = 0.1)
      : DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    val threshold = math.round(fraction * 10000).toInt
    val w = 10000.0 / threshold // exact HT weight for the realized rate
    val in = if (events.isStreaming)
      events.withWatermark("ts", "1 hour") else events
    in.filter(expr(
        s"graft_h60(concat('sw:', cast(event_id as string))) % 10000 < $threshold"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        expr("cast(sum(cast(value as decimal(18,4))) as double)")
          .as("sum_sampled"))
      .select(col("w.start").as("ws"), col("event_type"),
        col("n_sampled"),
        expr(s"cast(n_sampled as double) * cast($w as double)").as("est_n"),
        expr(s"sum_sampled * cast($w as double)").as("est_sum_value"))
  }

  /** Streaming ANN ingest: assign each incoming embedding to its
    * nearest IVF cell — the streaming twin of q41's coarse-quantizer
    * assignment stage (EventStreamsSpec asserts stream == the batch
    * assignment on the same vectors). `centroids` is the STATIC
    * (cell, cav float-array) table the batch pipeline produces
    * (Similarity.cellCentroids): k rows, broadcast, so the stream side
    * is a stateless stream-static join scoring k fused quantized_dots
    * per vector, then one per-vector argmax (min_by over (−score, cell)
    * = q41's score-desc/cell-asc tie-break exactly). State is one row
    * per vec_id in the test harness's complete-mode sink; a production
    * ingest emits per arrival window instead.
    */
  def assignToCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cell"),
        expr("quantized_dot(embedding, cav)").as("score"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell"), struct(expr("-score"), col("cell"))).as("cell"))
  }

  // -----------------------------------------------------------------
  // Sketch maintainers. Each is a declaration of its summary run by
  // `Fold.append` (all-time blobs) or `Fold.windowed` (TTL blobs); the
  // replay guard, crash-safe write order, group bound and window rule
  // are the fold's (see [[Fold]]). Every stream-built blob is
  // BYTE-equal to the batch builder's over the same rows (the
  // EventStreamsSpec laws): the batch passes and the canonical
  // serializations are shared.
  // -----------------------------------------------------------------

  private val hllMerge: (Array[Byte], Array[Byte]) => Array[Byte] =
    (p, n) => graft.sketch.Hll.deserialize(p)
      .merge(graft.sketch.Hll.deserialize(n)).serialize
  private val cmsMerge: (Array[Byte], Array[Byte]) => Array[Byte] =
    (p, n) => graft.sketch.Cms.deserialize(p)
      .merge(graft.sketch.Cms.deserialize(n)).serialize

  /** Additive merge of two bucket -> unscaled scale-4 sum packs (the
    * histsum riders). An EMPTY pack is the overflow poison and absorbs:
    * a sum that silently missed a batch never serves.
    */
  private def addSumPacks(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    val (xa, ya) = (GroupedHll.unpack(x), GroupedHll.unpack(y))
    if (xa.isEmpty || ya.isEmpty) GroupedHll.pack(Seq.empty)
    else {
      def sums(a: Seq[(Option[String], Array[Byte])]) =
        a.collect { case (Some(k), b) => k.toInt -> BigInt(b) }.toMap
      GroupedHll.pack(Fold.union(sums(xa), sums(ya))(_ + _).toSeq.map {
        case (i, v) => Option(i.toString) -> v.toByteArray
      })
    }
  }

  private[streaming] def unscaled4(d: java.math.BigDecimal): BigInt =
    BigInt(d.setScale(4).unscaledValue())

  /** AGMS cells: per (`by`..., bucket) signed counter sums `c` and row
    * counts `n` over bucket = h60('js:'‖key) % B, sign from the next
    * hash bit — the exact derivation `SketchOps.createAgms` uses.
    * NULL-key rows land in a NULL bucket and still count as rows.
    */
  private[streaming] def agmsCells(df: DataFrame, keys: Seq[String],
      buckets: Int, by: String*): Array[Row] = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val keyExpr = graft.plan.SampleRewrite.tupleKeyExpr("js:", keys)
    df.select(by.map(col) :+ expr(s"graft_h60($keyExpr)").as("h"): _*)
      .select(by.map(col) ++ Seq(
        expr(s"cast(h % ${buckets}L as int)").as("bucket"),
        expr(s"case when (h div ${buckets}L) % 2 = 0 then 1L else -1L end")
          .as("sgn")): _*)
      .groupBy((by :+ "bucket").map(col): _*)
      .agg(sum(col("sgn")).as("c"), count(lit(1)).as("n"))
      .collect()
  }

  /** Fold [[agmsCells]] rows into (rows incl. NULL keys, counters). */
  private[streaming] def agmsCounters(rows: Iterable[Row], buckets: Int)
      : (Long, Array[Long]) = {
    val counters = new Array[Long](buckets)
    var total = 0L
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("bucket")))
        counters(r.getAs[Int]("bucket")) = r.getAs[Long]("c")
      total += r.getAs[Long]("n")
    }
    (total, counters)
  }

  /** [count][sketch] per event bucket: the windowed HLL/CMS state. */
  private def countedSketchWindow(kind: String, riderParams: String,
      empty: Array[Byte], merge: (Array[Byte], Array[Byte]) => Array[Byte],
      agg: Column)(serve: (Array[Byte], Long) => (String, Array[Byte], String))
      : Fold.Windowed[(Long, Array[Byte])] =
    Fold.Windowed[(Long, Array[Byte])](kind, riderParams, (0L, empty),
      bucketed = _.groupBy(col("graft_bucket"))
        .agg(agg.as("sk"), count(lit(1)).as("c")).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getAs[Array[Byte]](1)))
        .toMap,
      merge = { case ((c1, s1), (c2, s2)) => (c1 + c2, merge(s1, s2)) },
      rows = _._1, encode = { case (c, s) => Fold.counted(c, s) },
      decode = Fold.uncounted,
      serve = { case ((_, sk), liveN, _) => Seq(serve(sk, liveN)) })

  /** Streaming sketch maintenance: fold each micro-batch into a
    * catalog-registered HyperLogLog — the streaming twin of
    * `SketchOps.createHll`, closing the loop stream → sketch catalog →
    * engine (`QueryEngine.storedSketchAnswer` then serves
    * COUNT(DISTINCT) over the live table with NO scan). Per micro-batch:
    * one distributed HLL aggregate, then one driver-side register-max
    * merge of the 2^b-byte batch sketch into the stored sketch —
    * bounded state regardless of stream volume; register max is
    * idempotent, so the blob carries no replay guard.
    */
  def maintainHllSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      b: Int = 12): StreamingQuery =
    Fold.run(values) { (batch, batchId) =>
      Fold.append(catalog, table, column, batchId)(
        Fold.Blob("hyperloglog", hllMerge, additive = false)) {
        Seq(Some(batch
          .select(graft.sketch.Hll.sketchAgg(col(column).cast("string"), b))
          .collect().head.getAs[Array[Byte]](0) -> s"""{"b":$b}"""))
      }
    }

  /** Streaming KMV (bottom-k) maintenance — the set-operation
    * cardinality serve's input kept LIVE: each micro-batch folds its
    * own bottom-k distinct h60 hashes into the stored sketch, and
    * `QueryEngine.storedSetOpAnswer` keeps serving INTERSECT/UNION/
    * EXCEPT counts as the stream appends. Bottom-k union is IDEMPOTENT
    * (a set union truncated at k), so the blob carries no replay guard.
    * Per batch: one distributed distinct + takeOrdered (≤ k rows reach
    * the driver) — O(k) state regardless of stream volume.
    */
  def maintainKmvSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      k: Int = 1024): StreamingQuery = {
    require(k >= 2, s"k must be >= 2, got $k")
    Fold.run(values) { (batch, batchId) =>
      Fold.append(catalog, table, column, batchId)(
        Fold.Blob("kmv", (p, n) => graft.sketch.Kmv.deserialize(p)
          .union(graft.sketch.Kmv.deserialize(n)).serialize,
          additive = false)) {
        graft.functions.GraftFunctions.register(batch.sparkSession)
        val hs = batch.filter(col(column).isNotNull)
          .select(expr(s"graft_h60(cast($column as string))").as("h"))
          .distinct().orderBy(col("h")).limit(k)
          .collect().map(_.getLong(0))
        Seq(Some(graft.sketch.Kmv.Sketch(k, hs.sorted).serialize ->
          s"""{"k":$k}"""))
      }
    }
  }

  /** Streaming WINDOWED HLL maintenance (round 13 — the TTL form for
    * the SKETCH family, closing the same append-only gap
    * [[SampleMaintainers.maintainBottomKWindowed]] closes for samples):
    * HLL registers are max-merge but NOT subtractable, so the windowed
    * distinct sketch keeps ONE HLL PER event-time bucket
    * ([count: i64 BE][hll bytes] per bucket in the "hll_windowed"
    * rider) and re-merges the live buckets into the serving
    * "hyperloglog" sketch — `QueryEngine.storedSketchAnswer` then
    * answers COUNT(DISTINCT column) OVER THE LIVE WINDOW with no scan.
    * The ride-along counts are additive, so the rider is guarded. Batch
    * twin: q184's per-bucket register chain.
    */
  def maintainHllWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      b: Int = 12, checkpointLocation: Option[String] = None)
      : StreamingQuery =
    Fold.windowed(values, catalog, table, column, tsCol, windowMicros,
      bucketMicros, checkpointLocation)(countedSketchWindow("hll_windowed",
        s""""b":$b,""", new graft.sketch.Hll(b).serialize, hllMerge,
        graft.sketch.Hll.sketchAgg(col(column).cast("string"), b)) {
        (sk, liveN) => ("hyperloglog", sk, s"""{"b":$b,"rows":$liveN}""")
      })

  /** WINDOWED CMS frequency — the batch twin of [[maintainCmsWindowed]]
    * (round 13): per-bucket Count-Min sketches over the live window
    * (the q183/q184 bucket rule; NULL event times belong to no bucket),
    * merged counter-wise (CMS merge IS addition, so the merged sketch
    * equals the direct CMS over live rows), then each key's
    * min-over-d-rows estimate next to its exact live count. One
    * distributed per-bucket aggregate + one exact count; ≤liveBuckets
    * sketches and |keys| rows touch the driver. The q185 oracle
    * re-derives the DIRECT chain (q90's SHA-256 bucket arithmetic
    * restricted to the live window) — the additive merge law,
    * hash-gated.
    */
  def windowedCmsFrequency(df: DataFrame, column: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long, keys: Seq[String],
      epsilon: Double = 0.01, delta: Double = 0.01): DataFrame = {
    require(keys.nonEmpty && windowMicros >= bucketMicros && bucketMicros > 0,
      "need keys and window >= bucket > 0")
    val s = df.sparkSession
    import s.implicits._
    val withUs = df.filter(col(tsCol).isNotNull)
      .select(col(column).cast("string").as("graft_v"),
        expr(s"unix_micros($tsCol)").as("graft_us"),
        expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"))
    // empty input / all-NULL timestamps: zero live buckets — serve the
    // empty CMS's answer (est 0, exact 0 per key)
    val maxRow = withUs.agg(max(col("graft_us"))).collect()(0)
    if (maxRow.isNullAt(0))
      return keys.sorted.map(k => (k, 0L, 0L)).toDF("k", "est", "n_exact")
    val maxUs = maxRow.getLong(0)
    def liveB(b: Long): Boolean =
      (b + 1L) * bucketMicros > maxUs - windowMicros
    val perBucket = withUs
      .groupBy(col("graft_bucket"))
      .agg(graft.sketch.Cms.sketchAgg(col("graft_v"), epsilon, delta)
        .as("sk"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val merged = perBucket.filter { case (b, _) => liveB(b) }
      .map { case (_, sk) => graft.sketch.Cms.deserialize(sk) }
      .foldLeft(new graft.sketch.Cms(epsilon, delta))(_ merge _)
    val ests = keys.map(k => k -> merged.estimateString(k)).toMap
    val exact = withUs
      .filter((col("graft_bucket") + lit(1L)) * lit(bucketMicros) >
        lit(maxUs - windowMicros))
      .filter(col("graft_v").isin(keys: _*))
      .groupBy(col("graft_v")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.sorted
      .map(k => (k, ests(k), exact.getOrElse(k, 0L)))
      .toDF("k", "est", "n_exact")
  }

  /** Streaming WINDOWED CMS maintenance (round 13): the frequency
    * family's TTL form, completing the windowed trio with
    * [[SampleMaintainers.maintainBottomKWindowed]] (samples) and
    * [[maintainHllWindowed]] (distinct). CMS counters are ADDITIVE, so
    * a dropped bucket subtracts exactly: one CMS per event-time bucket
    * ([count i64 BE][cms bytes] in the "cms_windowed" rider,
    * O(liveBuckets · w·d) state), live buckets re-merged into the
    * serving "countmin" sketch — `QueryEngine.storedCmsAnswer` then
    * answers point-frequency counts OVER THE LIVE WINDOW with no scan.
    */
  def maintainCmsWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      epsilon: Double = 0.01, delta: Double = 0.01,
      checkpointLocation: Option[String] = None)
      : StreamingQuery =
    Fold.windowed(values, catalog, table, column, tsCol, windowMicros,
      bucketMicros, checkpointLocation)(countedSketchWindow("cms_windowed",
        "", new graft.sketch.Cms(epsilon, delta).serialize, cmsMerge,
        graft.sketch.Cms.sketchAgg(col(column).cast("string"), epsilon,
          delta)) { (sk, liveN) =>
        ("countmin", sk,
          s"""{"epsilon":$epsilon,"delta":$delta,"rows":$liveN}""")
      })

  /** Streaming histogram maintenance — the q74 strategy made LIVE: a
    * stream folds per-micro-batch bucket counts into the catalog's
    * equi-width histogram, and the engine's no-scan percentile answers
    * track the stream. The grid (lo/width/buckets) is FIXED up front
    * (from catalog stats or a profile pass) because per-batch grids
    * cannot merge; values outside the grid clamp into the edge buckets
    * (the usual streaming-histogram trade — re-profile and rebuild when
    * the domain drifts). Per micro-batch: one distributed bucket-count
    * aggregate (≤`buckets` rows collected) — O(buckets) state
    * regardless of stream volume. The "histsum" rider (per-bucket
    * exact decimal sums — the range SUM/AVG serve's input) maintains
    * in the same pass: BigInt addition is exact, so the stream-built
    * blob is BYTE-equal to a batch `createHistogram` over the same
    * rows; an overflowing batch poisons it (SUM/AVG refuse, counts keep
    * serving) instead of letting the sums silently miss a batch.
    */
  def maintainHistogramSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      lo: Double, width: Double, buckets: Int): StreamingQuery = {
    require(buckets >= 1 && width > 0, "need buckets >= 1 and width > 0")
    Fold.run(values) { (batch, batchId) =>
      Fold.append(catalog, table, column, batchId)(
        Fold.Blob("histogram", graft.sketch.Histogram.mergeBytes),
        Fold.Blob("histsum", addSumPacks)) {
        val counts = new Array[Long](buckets)
        val bsums = Array.fill(buckets)(BigInt(0))
        var sumOverflow = false
        batch.filter(col(column).isNotNull)
          .select(expr(WindowedSketches.gridBucketExpr(column, lo, width,
            buckets)).as("b"), col(column))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n"),
            expr(s"try_sum(cast($column as decimal(38,4)))").as("s4"))
          .collect()
          .foreach { r =>
            counts(r.getInt(0)) = r.getAs[Long]("n")
            Option(r.getDecimal(2)) match {
              case Some(d) => bsums(r.getInt(0)) = unscaled4(d)
              case None    => sumOverflow = true
            }
          }
        val params = s"""{"buckets":$buckets,"last_batch":$batchId}"""
        Seq(Some(graft.sketch.Histogram(lo, width, counts).serialize -> params),
          Some(GroupedHll.pack(
            if (sumOverflow) Seq.empty
            else bsums.toSeq.zipWithIndex.map { case (s, i) =>
              Option(i.toString) -> s.toByteArray
            }) -> params))
      }
    }
  }

  /** Streaming GROUPED-HLL maintenance — the per-group COUNT(DISTINCT)
    * strategy made LIVE: each micro-batch folds one HLL per group into
    * the catalog's grouped blob (one distributed per-group sketch
    * aggregate, then one driver-side register-max union), and
    * `QueryEngine.storedGroupedSketchAnswer` serves
    * `SELECT g, count(distinct x) ... GROUP BY g` over the live table
    * with NO scan. Register-max merge is IDEMPOTENT, so the blob carries
    * no replay guard.
    */
  def maintainGroupedHllSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      valueCol: String, b: Int = 12): StreamingQuery =
    maintainGroupedHllSketch(values, catalog, table, Seq(groupCol),
      valueCol, b)

  /** Composite-key variant: per-(g1, g2, ...) HLLs keyed with the batch
    * builder's to_json tuple rendering, so the engine's composite
    * GROUP BY count(DISTINCT) serve answers from the LIVE blob.
    */
  def maintainGroupedHllSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String, b: Int): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    val label = s"grouped HLL over $table.$groupCol"
    Fold.run(values) { (batch, batchId) =>
      Fold.append(catalog, table, valueCol, batchId)(Fold.Blob("hll_grouped",
        Fold.capped(label)(GroupedHll.mergeBytes), additive = false)) {
        val rows = Fold.groups(batch
          .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols,
            batch.schema.fieldNames.toSeq).as("g"))
          .agg(graft.sketch.Hll.sketchAgg(col(valueCol).cast("string"), b)
            .as("s")), label)
        Seq(Option.when(rows.nonEmpty)(GroupedHll.serialize(rows.toSeq.map {
          r => Option(r.getAs[String]("g")) -> r.getAs[Array[Byte]]("s")
        }) -> s"""{"b":$b,"group_by":"$groupCol"}"""))
      }
    }
  }

  /** Streaming GROUPED-histogram maintenance — the q84 strategy made
    * LIVE: each micro-batch folds per-(group, bucket) counts into the
    * catalog's grouped histogram blob, and
    * `QueryEngine.storedGroupedPercentileAnswer(Histogram)` serves
    * `SELECT g, percentile(x, p) ... GROUP BY g` over the live table
    * with NO scan. Like the ungrouped maintainHistogramSketch, the
    * per-group grids are FIXED up front (per-batch grids cannot merge);
    * values outside a group's grid clamp into its edge buckets, and a
    * batch containing a group with NO declared grid is REFUSED — new
    * groups are domain drift: re-profile and rebuild, don't guess a
    * grid. Per micro-batch: one distributed count aggregate
    * (≤ groups × buckets rows collected) — O(groups × buckets) state
    * regardless of stream volume. The "histsum_grouped" rider
    * (per-(group, bucket) exact decimal sums — the grouped range-SUM/AVG
    * serve's input) maintains in the same aggregate: BigInt addition is
    * exact, so the stream-built rider is BYTE-equal to a batch
    * `createGroupedHistogram` over the same rows; a group whose batch
    * sum overflows poisons that group (an EMPTY inner pack: its SUM/AVG
    * refuses, counts keep serving).
    */
  def maintainGroupedHistogramSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      valueCol: String, grids: Seq[(Option[String], Double, Double)],
      buckets: Int): StreamingQuery =
    maintainGroupedHistogramSketch(values, catalog, table, Seq(groupCol),
      valueCol, grids, buckets)

  /** Composite-key variant: per-(g1, g2, ...) fixed grids keyed by the
    * batch builder's `to_json(array(...))` tuple rendering
    * (SketchOps.groupKeyExpr — derive grid keys with it, never by
    * hand), so the engine's composite GROUP BY percentile serve
    * answers from the LIVE blob. Same fixed-grid contract and
    * unknown-group refusal as the single-key form.
    */
  def maintainGroupedHistogramSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String,
      grids: Seq[(Option[String], Double, Double)],
      buckets: Int): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(buckets >= 1 && grids.nonEmpty && grids.forall(_._3 > 0),
      "need buckets >= 1 and non-empty per-group grids with width > 0")
    val groupCol = groupCols.mkString(",")
    val spark = values.sparkSession
    import spark.implicits._
    val gridDf = broadcast(grids.map { case (k, lo, w) => (k.orNull, lo, w) }
      .toDF("gg", "glo", "gw"))
    val gridByKey = grids.map { case (k, lo, w) => k -> (lo, w) }.toMap
    Fold.run(values) { (batch, batchId) =>
      Fold.append(catalog, table, valueCol, batchId)(
        Fold.Blob("histogram_grouped", (p, n) => GroupedHll.mergePacked(p, n)(
          graft.sketch.Histogram.mergeBytes)),
        Fold.Blob("histsum_grouped",
          (p, n) => GroupedHll.mergePacked(p, n)(addSumPacks))) {
        val in = batch.filter(col(valueCol).isNotNull)
          .select(graft.sketch.SketchOps.groupKeyExpr(groupCols,
            batch.schema.fieldNames.toSeq).as("g"),
            col(valueCol).cast("double").as("v"), col(valueCol).as("raw"))
        // null-safe left join: a NULL group is still a group, and a
        // group with no grid surfaces as a null glo below
        val counts = in.join(gridDf, in("g") <=> gridDf("gg"), "left")
          .select(col("g"), col("glo"),
            expr(s"case when glo is null then cast(null as int) else " +
              s"least(${buckets - 1}, greatest(0, " +
              "cast(floor((v - glo) / gw) as int))) end").as("b"),
            col("raw"))
          .groupBy(col("g"), col("b"), col("glo"))
          .agg(count(lit(1)).as("count"),
            expr("try_sum(cast(raw as decimal(38,4)))").as("s4"))
          .collect()
        counts.find(_.isNullAt(2)).foreach { r =>
          throw new IllegalArgumentException(
            s"grouped histogram over $table.$groupCol: batch $batchId " +
              s"contains group '${r.getString(0)}' with no declared grid " +
              "— domain drift; rebuild the sketch with the new groups")
        }
        val byGroup = counts.toSeq.groupBy(r => Option(r.getAs[String]("g")))
        val params =
          s"""{"buckets":$buckets,"group_by":"$groupCol","last_batch":$batchId}"""
        val packed = byGroup.toSeq.map { case (k, rs) =>
          val (lo, w) = gridByKey(k)
          val arr = new Array[Long](buckets)
          rs.foreach(r => arr(r.getAs[Int]("b")) = r.getAs[Long]("count"))
          k -> graft.sketch.Histogram(lo, w, arr).serialize
        }
        val sums = byGroup.toSeq.map { case (k, rs) =>
          val entries = rs.map(r => Option(r.getDecimal(4)).map(d =>
            Option(r.getAs[Int]("b").toString) -> unscaled4(d).toByteArray))
          k -> GroupedHll.pack(
            if (entries.contains(None)) Seq.empty else entries.flatten)
        }
        if (counts.isEmpty) Seq(None, None)
        else Seq(Some(GroupedHll.pack(packed) -> params),
          Some(GroupedHll.pack(sums) -> params))
      }
    }
  }

  /** Streaming GROUPED-statistics maintenance — the q86 strategy made
    * LIVE, and the one maintenance loop that is EXACT end-to-end: each
    * micro-batch's per-group min/max/counts and decimal(18,4) sum fold
    * into the catalog's stats_grouped blob, and
    * `QueryEngine.storedGroupedStatsAnswer` serves per-group
    * MIN/MAX/COUNT/SUM/AVG over the live table with no scan and NO
    * error. Every merge is exact: min/max are monotone, counts add,
    * and the sum is carried as the UNSCALED integer of the decimal sum
    * (BigInt addition — no float drift), so the stream-maintained blob
    * is BYTE-equal to a one-pass batch build over the same rows. New
    * groups union in freely (stats need no pre-declared grid, unlike
    * the grouped histogram).
    */
  def maintainGroupedStatsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      valueCol: String): StreamingQuery =
    maintainGroupedStatsSketch(values, catalog, table, Seq(groupCol),
      valueCol)

  /** Composite-key variant: per-(g1, g2, ...) records keyed by the
    * same `to_json(array(...))` rendering the batch builder uses
    * (SketchOps.groupKeyExpr), so the stream-built blob stays
    * BYTE-equal to `createGroupedHistogram(table, groupCols, ...)`'s
    * stats pass and the engine's composite GROUP BY / point-lookup
    * serves answer from the LIVE blob.
    */
  def maintainGroupedStatsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    val label = s"grouped stats over $table.$groupCol"
    Fold.run(values) { (batch, batchId) =>
      Fold.append(catalog, table, valueCol, batchId)(Fold.Blob("stats_grouped",
        Fold.capped(label)((p, n) => GroupedHll.mergePacked(p, n) { (x, y) =>
          GroupedStats.encode(GroupedStats.merge(GroupedStats.decode(x),
            GroupedStats.decode(y)))
        }))) {
        val rows = Fold.groups(batch
          .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols,
            batch.schema.fieldNames.toSeq).as("g"))
          .agg(GroupedStats.statsAgg(valueCol).head,
            GroupedStats.statsAgg(valueCol).tail: _*), label)
        Seq(Option.when(rows.nonEmpty)(GroupedHll.pack(rows.toSeq.map { r =>
          val (g, st) = GroupedStats.statOf(r, s"grouped stats over " +
            s"$table.$valueCol: batch group sum overflows decimal(38,4)")
          g -> GroupedStats.encode(st)
        }) -> s"""{"group_by":"$groupCol","last_batch":$batchId}"""))
      }
    }
  }

  /** Streaming Count-Min maintenance — the engine's point-frequency
    * strategy made LIVE: each micro-batch's values fold into the
    * catalog's CMS (one distributed sketch aggregate per batch — the
    * counter matrix is the mergeable state), and
    * `QueryEngine.storedCmsAnswer` serves `COUNT(*) WHERE col = 'v'`
    * over the live table with NO scan. CMS merge is ADDITIVE, so the
    * blob is replay-guarded. O(eps^-1 ln delta^-1) counters of state
    * regardless of stream volume — the only way per-key frequency
    * tracking survives an unbounded key domain.
    */
  def maintainCmsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      epsilon: Double = 0.01, delta: Double = 0.01): StreamingQuery =
    cmsFold(values, catalog, table, column, col(column).cast("string"), "",
      epsilon, delta)

  /** Composite-key variant of [[maintainCmsSketch]]: each batch keys
    * its rows with the batch builder's `to_json(array(...))` tuple
    * rendering (any NULL component renders a NULL key, which the
    * aggregator skips — an equality conjunction can never match such a
    * row), and the blob lands under the comma-joined column list with
    * `"enc":"j1"` — exactly where `QueryEngine.storedCmsAnswer`'s
    * composite dispatch looks, so conjunctive point frequencies serve
    * LIVE.
    */
  def maintainCmsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      columns: Seq[String], epsilon: Double, delta: Double)
      : StreamingQuery = {
    require(columns.nonEmpty, "at least one column required")
    if (columns.sizeIs == 1)
      return maintainCmsSketch(values, catalog, table, columns.head,
        epsilon, delta)
    val arr = columns.map(c => s"cast($c as string)")
      .mkString("to_json(array(", ", ", "))")
    val anyNull = columns.map(c => s"$c is null").mkString(" or ")
    cmsFold(values, catalog, table, columns.mkString(","),
      expr(s"case when $anyNull then cast(null as string) else $arr end"),
      ""","enc":"j1"""", epsilon, delta)
  }

  private def cmsFold(values: DataFrame, catalog: graft.catalog.MetaCatalog,
      table: String, column: String, key: Column, enc: String,
      epsilon: Double, delta: Double): StreamingQuery =
    Fold.run(values) { (batch, batchId) =>
      Fold.append(catalog, table, column, batchId)(
        Fold.Blob("countmin", cmsMerge)) {
        Seq(Some(batch.select(graft.sketch.Cms.sketchAgg(key, epsilon, delta))
          .collect().head.getAs[Array[Byte]](0) ->
          s"""{"epsilon":$epsilon,"delta":$delta,"last_batch":$batchId$enc}"""))
      }
    }

  /** Streaming AGMS maintenance — live join-cardinality evidence: each
    * micro-batch's keys fold into the stored AGMS counters
    * ([[agmsCells]] — the derivation `SketchOps.createAgms` uses, so
    * the stream-built sketch is BYTE-equal to a batch build over the
    * same rows; signed-counter addition is associative/commutative),
    * and `"rows"` accumulates the batch counts — the cardinality input
    * the engine's join estimate reads. With a fresh pair maintained
    * this way, automatic costed join AQP keeps working as the stream
    * appends: the plan decision stays scan-free while the evidence
    * stays current. Composite keys render with the shared to_json
    * tuple encoding (`"enc":"j1"`), matching the batch builder. A
    * stored sketch with a DIFFERENT bucket count refuses (counters of
    * unequal width cannot add).
    */
  def maintainAgmsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, keys: Seq[String],
      buckets: Int = 1024): StreamingQuery = {
    require(keys.nonEmpty, "at least one key column required")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val column = keys.mkString(",")
    val enc = if (keys.sizeIs > 1) ""","enc":"j1"""" else ""
    Fold.run(values) { (batch, batchId) =>
      val prev = catalog.getSketch(table, column, "agms")
      Fold.sameParam(prev, "buckets", buckets, s"agms over $table.$column")
      Fold.append(catalog, table, column, batchId)(Fold.Blob("agms",
        (p, n) => graft.sketch.Agms.serialize(graft.sketch.Agms.deserialize(p)
          .zip(graft.sketch.Agms.deserialize(n)).map { case (x, y) => x + y }))) {
        val (total, counters) =
          agmsCounters(agmsCells(batch, keys, buckets), buckets)
        val rows = prev.flatMap(_.paramLong("rows")).getOrElse(0L) + total
        Seq(Some(graft.sketch.Agms.serialize(counters) ->
          s"""{"buckets":$buckets,"rows":$rows,"last_batch":$batchId$enc}"""))
      }
    }
  }

  /** Streaming HDR maintenance — the relative-error quantile sketch
    * kept live: each micro-batch's values bucket through THE shared
    * hdr pass (`SketchOps.hdrPass` — the identical corrected-log2
    * derivation the batch builder runs, so the stream-built blob is
    * BYTE-equal to a batch build over the same rows; the log grid is
    * global by construction, so per-bucket counts add exactly with no
    * grid to disagree on). `"rows"` accumulates batch counts for the
    * freshness guard; the "hdrsum" rider folds decimal sums after the
    * counts. A stored sketch with a different m refuses (sub-bucket
    * layouts cannot add).
    */
  def maintainHdrSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      m: Int = 32): StreamingQuery = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    Fold.run(values) { (batch, batchId) =>
      val prev = catalog.getSketch(table, column, "hdr")
      Fold.sameParam(prev, "m", m, s"hdr over $table.$column")
      Fold.append(catalog, table, column, batchId)(
        Fold.Blob("hdr", graft.sketch.HdrSketch.mergeBytes),
        Fold.Blob("hdrsum", graft.sketch.SketchOps.hdrSumMergeBytes)) {
        val total = batch.count()
        val cell = SketchOps.hdrPass(batch, Nil, column, m,
          s"hdr stream over $table.$column").getOrElse(Nil, SketchOps.emptyHdr(m))
        if (cell.overflow)
          throw new IllegalArgumentException(
            s"hdr stream over $table.$column: a batch bucket sum " +
              "overflows decimal(38,4)")
        val rows = prev.flatMap(_.paramLong("rows")).getOrElse(0L) + total
        val params = s"""{"m":$m,"rows":$rows,"last_batch":$batchId}"""
        Seq(Some(cell.sketch.serialize -> params), Some(cell.sumPack -> params))
      }
    }
  }

  /** Streaming GROUPED-HDR maintenance — per-group relative-error
    * quantile sketches kept LIVE. The log grid is GLOBAL (the real
    * line's binades), so unlike the grouped histogram there is NO
    * pre-declared grid: new groups union in freely and per-bucket
    * counts add exactly, making the stream-maintained blob BYTE-equal
    * to a batch `createGroupedHdr` over the same rows (the shared
    * `SketchOps.hdrPass` + canonical per-sketch serialization).
    * Groups whose batch values are all NULL are still recorded (empty
    * payload — the identity of the merge), matching the batch
    * builder's all-NULL-group contract; a stored blob with a different
    * m refuses. The "hdrsum_grouped" rider (per-(group, log-bucket)
    * decimal sums — the grouped range-SUM/AVG serve's input) folds in
    * the same micro-batch after the counts; it omits all-NULL groups,
    * and per-group overflow POISON (the "!" sentinel entry) absorbs in
    * the merge — an EMPTY pack is the additive identity of an
    * all-zero-valued batch group, never poison.
    */
  def maintainGroupedHdrSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String,
      m: Int = 32): StreamingQuery = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    val label = s"grouped hdr over $table.$groupCol"
    Fold.run(values) { (batch, batchId) =>
      Fold.sameParam(catalog.getSketch(table, valueCol, "hdr_grouped"), "m", m,
        s"grouped hdr over $table.$valueCol")
      Fold.append(catalog, table, valueCol, batchId)(
        Fold.Blob("hdr_grouped", Fold.capped(label)((p, n) =>
          GroupedHll.mergePacked(p, n)(graft.sketch.HdrSketch.mergeBytes))),
        Fold.Blob("hdrsum_grouped", (p, n) => GroupedHll.mergePacked(p, n)(
          graft.sketch.SketchOps.hdrSumMergeBytes))) {
        // all groups in the batch (all-NULL ones included) — the bucket
        // pass only sees non-NULL values
        val gs = Fold.groups(batch
          .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols,
            batch.schema.fieldNames.toSeq).as("g"))
          .agg(count(lit(1)).as("n")), label)
        if (gs.isEmpty) Seq(None, None)
        else {
          val agg = SketchOps.hdrPass(batch, Seq(SketchOps.groupKeyExpr(
              groupCols, batch.schema.fieldNames.toSeq).as("g")), valueCol, m,
            s"grouped hdr stream over $table.$valueCol")
            .map { case (k, c) => Option(k.head.asInstanceOf[String]) -> c }
          val params =
            s"""{"m":$m,"group_by":"$groupCol","last_batch":$batchId}"""
          Seq(Some(GroupedHll.pack(gs.toSeq.map { r =>
              val k = Option(r.getAs[String]("g"))
              k -> agg.get(k).map(_.sketch.serialize).getOrElse(Array.empty[Byte])
            }) -> params),
            Some(GroupedHll.pack(agg.toSeq.map { case (k, c) =>
              k -> c.groupedSumPack }) -> params))
        }
      }
    }
  }

  /** Streaming HEAVY-HITTERS maintenance — the q109/q110 "topk" serve
    * kept live with its exactness INTACT. A naive per-batch threshold
    * filter would lose groups that cross the threshold only
    * cumulatively, so instead the maintainer (a) increments the STORED
    * groups' exact counts additively (one bounded join against the
    * ≤MaxHllGroups stored key set — never an unbounded collect), and
    * (b) accumulates a single scalar `unknown_bound`: the sum over
    * batches of the largest count any UNSTORED group contributed in
    * that batch. Any group the blob cannot name therefore totals
    * strictly below threshold + unknown_bound, and the serve honors
    * that INFLATED completeness bound (HAVING below it refuses; top-k
    * serves only when the k-th stored metric clears it) while stored
    * counts stay exact — correctness is never traded, only coverage
    * narrows as unknown mass accumulates. Rebuild on a schedule to
    * reset the bound. Requires the blob to exist (the threshold lives
    * in the build) and refuses loudly otherwise — silently skipped
    * batches would leave a stale blob serving as fresh.
    */
  def maintainTopKSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String]): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val column = groupCols.mkString(",")
    topKFold(values, catalog, table, column, groupCols, counts = true,
      Seq(count(lit(1)).as("n")),
      (x, y) => Fold.leLong(Fold.le(x) + Fold.le(y))) { marked =>
      val hits = marked.filter(col("hit")).select(col("g"), col("n")).collect()
      val u = marked.filter(col("hit").isNull)
        .agg(coalesce(max(col("n")), lit(0L)).as("mx"),
          coalesce(sum(col("n")), lit(0L)).as("tot"))
        .collect().head
      (hits.toSeq.map(r =>
        Option(r.getAs[String]("g")) -> Fold.leLong(r.getAs[Long]("n"))),
        u.getLong(0).toDouble,
        hits.iterator.map(_.getAs[Long]("n")).sum + u.getLong(1))
    }
  }

  /** SUM twin of [[maintainTopKSketch]] for `createTopKSum` blobs (the
    * revenue dashboard kept live): stored groups' decimal(…,4) sums add
    * exactly (unscaled BigInt addition — no float drift), and the
    * unknown bound accumulates each batch's largest POSITIVE unstored
    * group sum (a negative batch sum can only lower an unstored total,
    * so clamping at zero keeps the bound valid with no sign assumption
    * on the data). A batch group sum overflowing decimal(38,4) fails
    * the batch loudly (the grouped-stats maintainer's rule) rather
    * than under-counting a stored group below the serve bound.
    */
  def maintainTopKSumSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String): StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val column = s"${groupCols.mkString(",")}->$valueCol"
    topKFold(values, catalog, table, column, groupCols, counts = false,
      Seq(expr(s"try_sum(cast($valueCol as decimal(38,4)))").as("s4"),
        count(col(valueCol)).as("nn"), count(lit(1)).as("n")),
      (x, y) => (BigInt(x) + BigInt(y)).toByteArray) { marked =>
      // NULL sum with non-NULL values = try_sum overflowed even
      // decimal(38,4): refuse loudly (stored OR unstored — an unstored
      // overflow breaks the unknown bound too)
      if (marked.filter(col("s4").isNull && col("nn") > 0L)
          .limit(1).count() > 0)
        throw new IllegalArgumentException(
          s"topk-sum over $table.$valueCol: a batch group sum " +
            "overflows decimal(38,4)")
      val hits = marked.filter(col("hit"))
        .select(col("g"), col("s4"), col("n")).collect()
      val u = marked.filter(col("hit").isNull)
        .agg(coalesce(max(expr("cast(s4 as double)")), lit(0.0))
          .as("mx"), coalesce(sum(col("n")), lit(0L)).as("tot"))
        .collect().head
      (hits.toSeq.map { r =>
        Option(r.getAs[String]("g")) -> Option(r.getDecimal(1))
          .map(unscaled4).getOrElse(BigInt(0)).toByteArray
      }, math.max(0.0, u.getDouble(0)),
        hits.iterator.map(_.getAs[Long]("n")).sum + u.getLong(1))
    }
  }

  /** The top-k fold shared by the count and sum forms: the batch's
    * per-group aggregate is null-safe-joined to the stored key set
    * (`hit` marks membership; the NULL group is a stored key like any
    * other), and `delta` turns the marked batch into (stored-group
    * increments, the largest unstored contribution, batch rows).
    */
  private def topKFold(values: DataFrame, catalog: graft.catalog.MetaCatalog,
      table: String, column: String, groupCols: Seq[String], counts: Boolean,
      aggs: Seq[Column], add: (Array[Byte], Array[Byte]) => Array[Byte])(
      delta: DataFrame => (Seq[(Option[String], Array[Byte])], Double, Long))
      : StreamingQuery =
    Fold.run(values) { (batch, batchId) =>
      val (what, builder) =
        if (counts) ("topk", "createTopK") else ("topk-sum", "createTopKSum")
      val prev = catalog.getSketch(table, column, "topk").getOrElse(
        throw new IllegalStateException(
          s"$what over $table.$column: no stored blob to maintain — " +
            s"build with SketchOps.$builder first"))
      val agg = prev.param("agg").getOrElse("count")
      if (counts && agg != "count")
        throw new IllegalArgumentException(
          s"topk over $table.$column: stored blob aggregates '$agg', " +
            "maintainTopKSketch folds counts — use maintainTopKSumSketch")
      Fold.append(catalog, table, column, batchId)(Fold.Blob("topk",
        (p, n) => GroupedHll.mergePacked(p, n)(add))) {
        val spark = batch.sparkSession
        import spark.implicits._
        val bg = batch
          .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols,
            batch.schema.fieldNames.toSeq).as("g"))
          .agg(aggs.head, aggs.tail: _*)
        val sk = spark.createDataset(
            GroupedHll.unpack(prev.data).map(_._1.orNull))
          .toDF("sk").withColumn("hit", lit(true))
        val marked = bg.join(broadcast(sk), bg("g") <=> sk("sk"), "left")
          .persist()
        val (hits, unknownMax, batchRows) =
          try delta(marked) finally marked.unpersist()
        val ub = prev.paramDouble("unknown_bound").getOrElse(0.0) + unknownMax
        val rows = prev.paramLong("rows").getOrElse(0L) + batchRows
        Seq(Some(GroupedHll.pack(hits) ->
          s"""{"unknown_bound":$ub,"rows":$rows,"last_batch":$batchId}"""))
      }
    }

  /** Run a streaming query over `df` into an in-memory sink and return
    * the sink table name (test/demo harness).
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }
}
