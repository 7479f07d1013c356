package graft.streaming

import java.sql.Timestamp

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBandAdmissionBatch(batch, batchId, catalog, table,
          compactFileThreshold)
      }
      .pipe(w => StreamCkpt.start(w, checkpointLocation))

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
    val params = catalog.getSketch(table, "text", "bandreg_state")
      .map(_.parameters).getOrElse("{}")
    """"reg_v"\s*:\s*(\d+)""".r.findFirstMatchIn(params)
      .map(m => s"${base}_v${m.group(1)}").getOrElse(base)
  }

  /** One fold of the band-admission operator — the foreachBatch body,
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
    val riderParams = rider.map(_.parameters).getOrElse("{}")
    val lastBatch = """"last_batch"\s*:\s*(-?\d+)""".r
      .findFirstMatchIn(riderParams).map(_.group(1).toLong).getOrElse(-1L)
    val regV = """"reg_v"\s*:\s*(\d+)""".r
      .findFirstMatchIn(riderParams).map(_.group(1).toInt)
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
    if (batchId > lastBatch) {
      val prevRows = """"rows"\s*:\s*(\d+)""".r
        .findFirstMatchIn(riderParams).map(_.group(1).toLong).getOrElse(0L)
      val prevSeen = """"seen"\s*:\s*(\d+)""".r
        .findFirstMatchIn(riderParams).map(_.group(1).toLong).getOrElse(0L)
      val prevMaxId = """"max_id"\s*:\s*(-?\d+)""".r
        .findFirstMatchIn(riderParams).map(_.group(1).toLong)
        .getOrElse(Long.MinValue)
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
      // no temp-view registration here: foreachBatch runs in a
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
    val batchDirs = Option(new java.io.File(path).listFiles)
      .getOrElse(Array.empty[java.io.File])
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
    adm.agg(
        count(lit(1)).as("n_docs"),
        expr("cast(sum(admitted) as bigint)").as("n_admitted"),
        expr("cast(sum(1 - admitted) as bigint)").as("n_suppressed"))
      .crossJoin(nBands)
      .select(col("n_docs"), col("n_admitted"), col("n_suppressed"),
        col("n_bands"),
        expr("cast(n_admitted as double) / cast(n_docs as double)")
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

  /** Streaming sketch maintenance: fold each micro-batch into a
    * catalog-registered HyperLogLog — the streaming twin of
    * `SketchOps.createHll`, closing the loop stream → sketch catalog →
    * engine (`QueryEngine.storedSketchAnswer` then serves
    * COUNT(DISTINCT) over the live table with NO scan, answering from
    * state a stream maintained). Per micro-batch: one distributed HLL
    * aggregate (mergeable partial registers), then one driver-side
    * merge of the 2^b-byte batch sketch into the stored sketch —
    * bounded state regardless of stream volume, and HLL's merge
    * idempotence means re-processed values never overcount.
    */
  def maintainHllSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      b: Int = 12): org.apache.spark.sql.streaming.StreamingQuery =
    values.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bytes = batch
          .select(graft.sketch.Hll.sketchAgg(col(column).cast("string"), b)
            .as("s"))
          .collect().head.getAs[Array[Byte]]("s")
        // atomic merge under the catalog's CAS: two streams maintaining
        // the same (table, column) sketch can interleave safely
        catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
          "hyperloglog", bytes, s"""{"b":$b}""",
          System.currentTimeMillis())) { (prev, next) =>
          graft.sketch.Hll.deserialize(prev)
            .merge(graft.sketch.Hll.deserialize(next)).serialize
        }
        ()
      }
      .start()

  /** Streaming KMV (bottom-k) maintenance — the set-operation
    * cardinality serve's input kept LIVE: each micro-batch folds its
    * own bottom-k distinct h60 hashes into the stored sketch under the
    * catalog's CAS merge, and `QueryEngine.storedSetOpAnswer` keeps
    * serving INTERSECT/UNION/EXCEPT counts as the stream appends.
    * Bottom-k union is IDEMPOTENT (a set union truncated at k — like
    * HLL's register max, unlike the additive histogram/CMS folds), so
    * replayed batches never change the result and no last_batch guard
    * is needed; the stream-built sketch is BYTE-equal to a batch build
    * over the same rows (bottom-k of a union == union of bottom-ks).
    * Per batch: one distributed distinct + takeOrdered (≤ k rows reach
    * the driver), one CAS-merged upsert — O(k) state regardless of
    * stream volume.
    */
  def maintainKmvSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      k: Int = 1024): org.apache.spark.sql.streaming.StreamingQuery = {
    require(k >= 2, s"k must be >= 2, got $k")
    values.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.functions.GraftFunctions.register(batch.sparkSession)
        val hs = batch.filter(col(column).isNotNull)
          .select(expr(s"graft_h60(cast($column as string))").as("h"))
          .distinct().orderBy(col("h")).limit(k)
          .collect().map(_.getLong(0))
        val sk = graft.sketch.Kmv.Sketch(k, hs.sorted)
        catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
          "kmv", sk.serialize, s"""{"k":$k}""",
          System.currentTimeMillis())) { (prev, next) =>
          graft.sketch.Kmv.deserialize(prev)
            .union(graft.sketch.Kmv.deserialize(next)).serialize
        }
        ()
      }
      .start()
  }

  /** Streaming WINDOWED HLL maintenance (round 13 — the TTL form for
    * the SKETCH family, closing the same append-only gap
    * [[SampleMaintainers.maintainBottomKWindowed]] closes for samples): HLL registers
    * are max-merge (idempotent) but NOT subtractable, so a windowed
    * distinct sketch keeps ONE HLL PER event-time BUCKET
    * (O(liveBuckets · 2^b) state), drops buckets that fall out of the
    * last `windowMicros` at the watermark (max event time seen), and
    * re-merges the live buckets into the serving "hyperloglog" sketch
    * — `QueryEngine.storedSketchAnswer` then answers
    * COUNT(DISTINCT column) OVER THE LIVE WINDOW with no scan, and the
    * catalog's table stats track the live-row count so the freshness
    * guard stays coherent. Each per-bucket payload packs
    * [count: i64 BE][hll bytes] (counts are additive, so a
    * `last_batch` replay guard rides the rider, stamped LAST — the
    * crash-safe fold discipline; register merge itself is idempotent).
    * Expiry is bucket-granular, the q183 trade. Batch twin: q184's
    * per-bucket register chain (the merge law, oracle-gated on the
    * deterministic h60 register form).
    */
  def maintainHllWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      b: Int = 12, checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val rider = catalog.getSketch(table, column, "hll_windowed")
        val riderParams = rider.map(_.parameters).getOrElse("{}")
        val lastBatch = """"last_batch"\s*:\s*(-?\d+)""".r
          .findFirstMatchIn(riderParams).map(_.group(1).toLong).getOrElse(-1L)
        if (batchId > lastBatch) {
          val perBucket = batch
            .select(
              expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"),
              col(column).cast("string").as("graft_v"))
            .groupBy(col("graft_bucket"))
            .agg(graft.sketch.Hll.sketchAgg(col("graft_v"), b).as("sk"),
              count(lit(1)).as("c"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(2), r.getAs[Array[Byte]](1)))
          val batchMaxUs = batch
            .agg(max(expr(s"unix_micros($tsCol)"))).collect()(0) match {
            case r if r.isNullAt(0) => Long.MinValue
            case r                  => r.getLong(0)
          }
          val prevMaxUs = """"maxus"\s*:\s*(-?\d+)""".r
            .findFirstMatchIn(riderParams).map(_.group(1).toLong)
            .getOrElse(Long.MinValue)
          val maxUs = math.max(prevMaxUs, batchMaxUs)
          def split(payload: Array[Byte]): (Long, Array[Byte]) = {
            val bb = java.nio.ByteBuffer.wrap(payload)
            (bb.getLong, payload.drop(8))
          }
          def join(c: Long, hll: Array[Byte]): Array[Byte] = {
            val bb = java.nio.ByteBuffer.allocate(8 + hll.length)
            bb.putLong(c); bb.put(hll); bb.array()
          }
          val prev: Map[Long, (Long, Array[Byte])] = rider
            .map(r => graft.sketch.GroupedHll.unpack(r.data))
            .getOrElse(Nil)
            .collect { case (Some(k), payload) => k.toLong -> split(payload) }
            .toMap
          val merged = perBucket.foldLeft(prev) {
            case (acc, (bkt, c, sk)) =>
              val (pc, psk) = acc.getOrElse(bkt,
                (0L, new graft.sketch.Hll(b).serialize))
              acc.updated(bkt, (pc + c,
                graft.sketch.Hll.deserialize(psk)
                  .merge(graft.sketch.Hll.deserialize(sk)).serialize))
          }
          val live = merged.filter { case (bkt, _) =>
            (bkt + 1L) * bucketMicros > maxUs - windowMicros
          }
          val serving = live.values
            .map { case (_, sk) => graft.sketch.Hll.deserialize(sk) }
            .foldLeft(new graft.sketch.Hll(b))(_ merge _)
          val liveN = live.valuesIterator.map(_._1).sum
          catalog.upsertTableStats(table, liveN)
          catalog.upsertSketch(catalog.SketchInfo(table, column,
            "hyperloglog", serving.serialize,
            s"""{"b":$b,"rows":$liveN}""", System.currentTimeMillis()))
          // replay-guard stamp LAST (crash-safe fold discipline)
          catalog.upsertSketch(catalog.SketchInfo(table, column,
            "hll_windowed",
            graft.sketch.GroupedHll.pack(live.toSeq.map {
              case (bkt, (c, sk)) => (Some(bkt.toString), join(c, sk))
            }),
            s"""{"maxus":$maxUs,"b":$b,"last_batch":$batchId}""",
            System.currentTimeMillis()))
        }
        ()
      }
      .pipe(w => StreamCkpt.start(w, checkpointLocation))
  }

  /** WINDOWED CMS frequency — the batch twin of [[maintainCmsWindowed]]
    * (round 13): per-bucket Count-Min sketches over the live window
    * (the q183/q184 bucket rule), merged counter-wise (CMS merge IS
    * addition, so the merged sketch equals the direct CMS over live
    * rows), then each key's min-over-d-rows estimate next to its exact
    * live count. One distributed per-bucket aggregate + one exact
    * count; ≤liveBuckets sketches and |keys| rows touch the driver.
    * The q185 oracle re-derives the DIRECT chain (q90's SHA-256 bucket
    * arithmetic restricted to the live window) — the additive merge
    * law, hash-gated.
    */
  def windowedCmsFrequency(df: DataFrame, column: String, tsCol: String,
      windowMicros: Long, bucketMicros: Long, keys: Seq[String],
      epsilon: Double = 0.01, delta: Double = 0.01): DataFrame = {
    require(keys.nonEmpty && windowMicros >= bucketMicros && bucketMicros > 0,
      "need keys and window >= bucket > 0")
    val s = df.sparkSession
    import s.implicits._
    val withUs = df.select(col(column).cast("string").as("graft_v"),
      expr(s"unix_micros($tsCol)").as("graft_us"),
      expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"))
    // empty input / all-NULL timestamps: zero live buckets — serve the
    // empty CMS's answer (est 0, exact 0 per key) instead of NPE-ing
    // on the null max (the maintainers' isNullAt guard mirrored)
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
    * [[SampleMaintainers.maintainBottomKWindowed]] (samples) and [[maintainHllWindowed]]
    * (distinct). CMS counters are ADDITIVE — per-bucket sketches merge
    * by counter addition and a dropped bucket subtracts exactly — so
    * the maintainer keeps one CMS per event-time bucket
    * ([count i64 BE][cms bytes] payloads, O(liveBuckets · w·d) state),
    * expires buckets at the watermark, and re-merges live buckets into
    * the serving "countmin" sketch: `QueryEngine.storedCmsAnswer` then
    * answers point-frequency counts OVER THE LIVE WINDOW with no scan.
    * Additive counts ⇒ the `last_batch` replay guard is REQUIRED (the
    * single-key maintainer's discipline), stamped LAST (crash-safe
    * fold).
    */
  def maintainCmsWindowed(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      tsCol: String, windowMicros: Long, bucketMicros: Long,
      epsilon: Double = 0.01, delta: Double = 0.01,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(windowMicros >= bucketMicros && bucketMicros > 0,
      "need window >= bucket > 0")
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val rider = catalog.getSketch(table, column, "cms_windowed")
        val riderParams = rider.map(_.parameters).getOrElse("{}")
        val lastBatch = """"last_batch"\s*:\s*(-?\d+)""".r
          .findFirstMatchIn(riderParams).map(_.group(1).toLong).getOrElse(-1L)
        if (batchId > lastBatch) {
          val perBucket = batch
            .select(
              expr(s"unix_micros($tsCol) div $bucketMicros").as("graft_bucket"),
              col(column).cast("string").as("graft_v"))
            .groupBy(col("graft_bucket"))
            .agg(graft.sketch.Cms.sketchAgg(col("graft_v"), epsilon, delta)
              .as("sk"),
              count(lit(1)).as("c"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(2), r.getAs[Array[Byte]](1)))
          val batchMaxUs = batch
            .agg(max(expr(s"unix_micros($tsCol)"))).collect()(0) match {
            case r if r.isNullAt(0) => Long.MinValue
            case r                  => r.getLong(0)
          }
          val prevMaxUs = """"maxus"\s*:\s*(-?\d+)""".r
            .findFirstMatchIn(riderParams).map(_.group(1).toLong)
            .getOrElse(Long.MinValue)
          val maxUs = math.max(prevMaxUs, batchMaxUs)
          def split(payload: Array[Byte]): (Long, Array[Byte]) = {
            val bb = java.nio.ByteBuffer.wrap(payload)
            (bb.getLong, payload.drop(8))
          }
          def join(c: Long, sk: Array[Byte]): Array[Byte] = {
            val bb = java.nio.ByteBuffer.allocate(8 + sk.length)
            bb.putLong(c); bb.put(sk); bb.array()
          }
          val prev: Map[Long, (Long, Array[Byte])] = rider
            .map(r => graft.sketch.GroupedHll.unpack(r.data))
            .getOrElse(Nil)
            .collect { case (Some(k), payload) => k.toLong -> split(payload) }
            .toMap
          val merged = perBucket.foldLeft(prev) {
            case (acc, (bkt, c, sk)) =>
              acc.get(bkt) match {
                case None => acc.updated(bkt, (c, sk))
                case Some((pc, psk)) => acc.updated(bkt, (pc + c,
                  graft.sketch.Cms.deserialize(psk)
                    .merge(graft.sketch.Cms.deserialize(sk)).serialize))
              }
          }
          val live = merged.filter { case (bkt, _) =>
            (bkt + 1L) * bucketMicros > maxUs - windowMicros
          }
          val serving = live.values
            .map { case (_, sk) => graft.sketch.Cms.deserialize(sk) }
            .foldLeft(new graft.sketch.Cms(epsilon, delta))(_ merge _)
          val liveN = live.valuesIterator.map(_._1).sum
          catalog.upsertTableStats(table, liveN)
          catalog.upsertSketch(catalog.SketchInfo(table, column,
            "countmin", serving.serialize,
            s"""{"epsilon":$epsilon,"delta":$delta,"rows":$liveN}""",
            System.currentTimeMillis()))
          // replay-guard stamp LAST (crash-safe fold discipline)
          catalog.upsertSketch(catalog.SketchInfo(table, column,
            "cms_windowed",
            graft.sketch.GroupedHll.pack(live.toSeq.map {
              case (bkt, (c, sk)) => (Some(bkt.toString), join(c, sk))
            }),
            s"""{"maxus":$maxUs,"last_batch":$batchId}""",
            System.currentTimeMillis()))
        }
        ()
      }
      .pipe(w => StreamCkpt.start(w, checkpointLocation))
  }

  /** Streaming histogram maintenance — the q74 strategy made LIVE: a
    * stream folds per-micro-batch bucket counts into the catalog's
    * equi-width histogram, and the engine's no-scan percentile answers
    * track the stream. The grid (lo/width/buckets) is FIXED up front
    * (from catalog stats or a profile pass) because per-batch grids
    * cannot merge; values outside the grid clamp into the edge buckets
    * (the usual streaming-histogram trade — re-profile and rebuild when
    * the domain drifts). Per micro-batch: one distributed bucket-count
    * aggregate (≤`buckets` rows collected), one CAS-merged catalog
    * upsert — O(buckets) state regardless of stream volume. Histogram
    * merge is ADDITIVE (unlike HLL's idempotent register-max), so a
    * replayed batch would double-count; the stored `last_batch` id
    * skips re-delivered batch ids (exact under single-writer-per-
    * (table, column), the same discipline maintainHllSketch documents).
    * Catalog upserts merge parameters field-wise (MetaCatalog
    * .mergeParams), so a batch-built sketch's `rows` freshness field
    * survives stream maintenance and `last_batch` survives a batch
    * rebuild — neither writer can disable the other's guard. The
    * "histsum" rider (per-bucket exact decimal sums — the range
    * SUM/AVG serve's input) maintains in the same pass: BigInt
    * addition is exact, so the stream-built blob is BYTE-equal to a
    * batch `createHistogram` over the same rows; an overflowing batch
    * poisons it (SUM/AVG refuse, counts keep serving) instead of
    * letting the sums silently miss a batch.
    */
  def maintainHistogramSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      lo: Double, width: Double, buckets: Int)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(buckets >= 1 && width > 0, "need buckets >= 1 and width > 0")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val alreadyMerged = catalog.getSketch(table, column, "histogram")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        // the rider's replay guard is evaluated INDEPENDENTLY and up
        // front: a crash between the counts upsert and the rider
        // upsert leaves the rider one batch behind, and the REPLAYED
        // batch must still fold it (nesting it under the counts guard
        // would skip the whole body and lose that batch's sums forever)
        val sumsMerged = catalog.getSketch(table, column, "histsum")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged || !sumsMerged) {
          val counts = new Array[Long](buckets)
          val bsums = Array.fill(buckets)(BigInt(0))
          var sumOverflow = false
          // one pass: per-bucket counts AND exact decimal sums (the
          // histsum rider that keeps the range-SUM/AVG serve live)
          // clamp in DOUBLE space BEFORE the int cast: a value far
          // outside the grid would otherwise overflow the ANSI cast
          // instead of landing in the edge bucket as documented
          batch.filter(col(column).isNotNull)
            .select(expr(
              s"cast(least(cast(${buckets - 1} as double), greatest(cast(0 as double), " +
                s"floor((cast($column as double) - $lo) / $width))) as int)")
              .as("b"), col(column))
            .groupBy(col("b"))
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"),
              expr(s"try_sum(cast($column as decimal(38,4)))").as("s4"))
            .collect()
            .foreach { r =>
              counts(r.getInt(0)) = r.getAs[Long]("n")
              Option(r.getDecimal(2)) match {
                case Some(d) =>
                  bsums(r.getInt(0)) = BigInt(d.setScale(4).unscaledValue())
                case None => sumOverflow = true
              }
            }
          val h = graft.sketch.Histogram(lo, width, counts)
          if (!alreadyMerged)
            catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
              "histogram", h.serialize,
              s"""{"buckets":$buckets,"last_batch":$batchId}""",
              System.currentTimeMillis())) { (prev, next) =>
              graft.sketch.Histogram.deserialize(prev)
                .merge(graft.sketch.Histogram.deserialize(next)).serialize
            }
          // histsum: per-bucket unscaled decimal sums, additive BigInt
          // merge under its OWN replay guard (additive like the
          // histogram, unlike HLL's idempotent max). A batch whose
          // bucket sum overflows decimal(38,4) POISONS the blob with
          // an empty pack — the engine's bucket-count check then
          // refuses SUM/AVG serves (counts keep serving) instead of
          // serving a sum that silently missed a batch; poison absorbs
          // in the merge so later batches cannot un-poison it.
          if (!sumsMerged) {
            val payload: Seq[(Option[String], Array[Byte])] =
              if (sumOverflow) Seq.empty
              else bsums.zipWithIndex.toSeq.map { case (s, i) =>
                Option(i.toString) -> s.toByteArray
              }
            catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
              "histsum", graft.sketch.GroupedHll.pack(payload),
              s"""{"buckets":$buckets,"last_batch":$batchId}""",
              System.currentTimeMillis())) { (prev, next) =>
              val pa = graft.sketch.GroupedHll.unpack(prev)
              val na = graft.sketch.GroupedHll.unpack(next)
              if (pa.isEmpty || na.isEmpty)
                graft.sketch.GroupedHll.pack(Seq.empty)
              else {
                val pm = pa.collect { case (Some(k), b) => k.toInt -> BigInt(b) }.toMap
                val nm = na.collect { case (Some(k), b) => k.toInt -> BigInt(b) }.toMap
                graft.sketch.GroupedHll.pack((0 until buckets).map(i =>
                  Option(i.toString) ->
                    (pm.getOrElse(i, BigInt(0)) + nm.getOrElse(i, BigInt(0)))
                      .toByteArray))
              }
            }
          }
        }
        ()
      }
      .start()
  }

  /** Streaming GROUPED-HLL maintenance — the per-group COUNT(DISTINCT)
    * strategy made LIVE: each micro-batch folds one HLL per group into
    * the catalog's grouped blob (one distributed per-group sketch
    * aggregate, then one driver-side register-max union under the CAS
    * merge), and `QueryEngine.storedGroupedSketchAnswer` serves
    * `SELECT g, count(distinct x) ... GROUP BY g` over the live table
    * with NO scan. Register-max merge is IDEMPOTENT (like
    * maintainHllSketch, unlike the additive histogram/CMS folds), so
    * replayed batches never overcount and no last_batch guard is
    * needed. State is bounded by `SketchOps.MaxHllGroups` sketches —
    * a grouping column wider than that is data, not a dimension, and
    * the maintenance refuses it rather than growing an unbounded blob.
    */
  def maintainGroupedHllSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      valueCol: String, b: Int = 12)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintainGroupedHllSketch(values, catalog, table, Seq(groupCol),
      valueCol, b)

  /** Composite-key variant: per-(g1, g2, ...) HLLs keyed with the batch
    * builder's to_json tuple rendering, so the engine's composite
    * GROUP BY count(DISTINCT) serve answers from the LIVE blob.
    */
  def maintainGroupedHllSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String, b: Int)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    values.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch
          .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols, batch.schema.fieldNames.toSeq).as("g"))
          .agg(graft.sketch.Hll.sketchAgg(col(valueCol).cast("string"), b)
            .as("s"))
          .limit(graft.sketch.SketchOps.MaxHllGroups + 1)
          .collect()
        if (rows.length > graft.sketch.SketchOps.MaxHllGroups)
          throw new IllegalArgumentException(
            s"grouped HLL over $table.$groupCol: more than " +
              s"${graft.sketch.SketchOps.MaxHllGroups} groups in one batch")
        if (rows.nonEmpty) {
          val bytes = graft.sketch.GroupedHll.serialize(rows.toSeq.map { r =>
            (Option(r.getAs[String]("g")), r.getAs[Array[Byte]]("s"))
          })
          catalog.upsertSketchMerging(catalog.SketchInfo(table, valueCol,
            "hll_grouped", bytes, s"""{"b":$b,"group_by":"$groupCol"}""",
            System.currentTimeMillis())) { (prev, next) =>
            val merged = graft.sketch.GroupedHll.mergeBytes(prev, next)
            if (graft.sketch.GroupedHll.deserialize(merged)
                .sizeIs > graft.sketch.SketchOps.MaxHllGroups)
              throw new IllegalArgumentException(
                s"grouped HLL over $table.$groupCol: merged group count " +
                  s"exceeds ${graft.sketch.SketchOps.MaxHllGroups}")
            merged
          }
        }
        ()
      }
      .start()
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
    * grid. Histogram merge is ADDITIVE, so the stored `last_batch` id
    * skips re-delivered batch ids (exact under single-writer-per-
    * (table, column)). Per micro-batch: one distributed count aggregate
    * (≤ groups × buckets rows collected), one CAS-merged upsert —
    * O(groups × buckets) state regardless of stream volume. The
    * "histsum_grouped" rider (per-(group, bucket) exact decimal sums —
    * the grouped range-SUM/AVG serve's input) maintains in the same
    * aggregate: BigInt addition is exact, so the stream-built rider is
    * BYTE-equal to a batch `createGroupedHistogram` over the same
    * rows; a group whose batch sum overflows poisons that group (its
    * SUM/AVG refuses, counts keep serving).
    */
  def maintainGroupedHistogramSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      valueCol: String, grids: Seq[(Option[String], Double, Double)],
      buckets: Int): org.apache.spark.sql.streaming.StreamingQuery =
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
      buckets: Int): org.apache.spark.sql.streaming.StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(buckets >= 1 && grids.nonEmpty && grids.forall(_._3 > 0),
      "need buckets >= 1 and non-empty per-group grids with width > 0")
    val groupCol = groupCols.mkString(",")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    val spark = values.sparkSession
    import spark.implicits._
    val gridDf = broadcast(grids.map { case (k, lo, w) => (k.orNull, lo, w) }
      .toDF("gg", "glo", "gw"))
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val alreadyMerged = catalog
          .getSketch(table, valueCol, "histogram_grouped")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        // independent rider guard, evaluated UP FRONT: a crash between
        // the counts upsert and the rider upsert must not make the
        // replayed batch skip the rider fold (see maintainHistogramSketch)
        val sumsMergedG = catalog
          .getSketch(table, valueCol, "histsum_grouped")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged || !sumsMergedG) {
          val in = batch.filter(col(valueCol).isNotNull)
            .select(graft.sketch.SketchOps.groupKeyExpr(groupCols, batch.schema.fieldNames.toSeq).as("g"),
              col(valueCol).cast("double").as("v"),
              col(valueCol).as("raw"))
          // null-safe left join: a NULL group is still a group, and a
          // group with no grid surfaces as a null glo below. Per-(g, b)
          // exact decimal sums ride the same aggregate into the
          // "histsum_grouped" rider fold below (the grouped range
          // SUM/AVG serve's input) — no extra pass.
          val joined = in.join(gridDf, in("g") <=> gridDf("gg"), "left")
          val counts = joined.select(col("g"), col("glo"),
              expr(s"case when glo is null then cast(null as int) else " +
                s"least(${buckets - 1}, greatest(0, " +
                "cast(floor((v - glo) / gw) as int))) end").as("b"),
              col("raw"))
            .groupBy(col("g"), col("b"), col("glo"))
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("count"),
              expr("try_sum(cast(raw as decimal(38,4)))").as("s4"))
            .collect()
          counts.find(_.isNullAt(2)).foreach { r =>
            throw new IllegalArgumentException(
              s"grouped histogram over $table.$groupCol: batch $batchId " +
                s"contains group '${r.getString(0)}' with no declared grid " +
                "— domain drift; rebuild the sketch with the new groups")
          }
          if (counts.nonEmpty) {
            val byGroup = counts.groupBy(r => Option(r.getAs[String]("g")))
            val gridByKey = grids.map { case (k, lo, w) => k -> (lo, w) }.toMap
            val packed = byGroup.toSeq.map { case (k, rs) =>
              val (lo, w) = gridByKey(k)
              val arr = new Array[Long](buckets)
              rs.foreach(r => arr(r.getAs[Int]("b")) = r.getAs[Long]("count"))
              k -> graft.sketch.Histogram(lo, w, arr).serialize
            }
            if (!alreadyMerged)
              catalog.upsertSketchMerging(catalog.SketchInfo(table, valueCol,
                "histogram_grouped", graft.sketch.GroupedHll.pack(packed),
                s"""{"buckets":$buckets,"group_by":"$groupCol","last_batch":$batchId}""",
                System.currentTimeMillis())) { (prev, next) =>
                graft.sketch.GroupedHll.mergePacked(prev, next) { (x, y) =>
                  graft.sketch.Histogram.deserialize(x)
                    .merge(graft.sketch.Histogram.deserialize(y)).serialize
                }
              }
            // histsum_grouped rider: per-group inner packs of bucket ->
            // unscaled scale-4 decimal sums, additive BigInt merge under
            // its OWN replay guard. A group whose batch sum overflows
            // decimal(38,4) POISONS that group with an EMPTY inner pack
            // — the engine refuses its SUM/AVG serve (counts keep
            // serving) instead of serving a sum that silently missed a
            // batch; poison absorbs in the merge.
            if (!sumsMergedG) {
              val packedSums = byGroup.toSeq.map { case (k, rs) =>
                var poison = false
                val entries = rs.toSeq.flatMap { r =>
                  Option(r.getDecimal(4)) match {
                    case Some(d) =>
                      Seq(Option(r.getAs[Int]("b").toString) ->
                        BigInt(d.setScale(4).unscaledValue()).toByteArray)
                    case None => poison = true; Seq.empty
                  }
                }
                k -> graft.sketch.GroupedHll.pack(
                  if (poison) Seq.empty else entries)
              }
              catalog.upsertSketchMerging(catalog.SketchInfo(table, valueCol,
                "histsum_grouped", graft.sketch.GroupedHll.pack(packedSums),
                s"""{"buckets":$buckets,"group_by":"$groupCol","last_batch":$batchId}""",
                System.currentTimeMillis())) { (prev, next) =>
                graft.sketch.GroupedHll.mergePacked(prev, next) { (x, y) =>
                  val xa = graft.sketch.GroupedHll.unpack(x)
                  val ya = graft.sketch.GroupedHll.unpack(y)
                  if (xa.isEmpty || ya.isEmpty)
                    graft.sketch.GroupedHll.pack(Seq.empty) // poison absorbs
                  else {
                    val xm = xa.collect {
                      case (Some(bk), bb) => bk.toInt -> BigInt(bb) }.toMap
                    val ym = ya.collect {
                      case (Some(bk), bb) => bk.toInt -> BigInt(bb) }.toMap
                    graft.sketch.GroupedHll.pack(
                      (xm.keySet ++ ym.keySet).toSeq.map(i =>
                        Option(i.toString) ->
                          (xm.getOrElse(i, BigInt(0)) +
                            ym.getOrElse(i, BigInt(0))).toByteArray))
                  }
                }
              }
            }
          }
        }
        ()
      }
      .start()
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
    * the grouped histogram), bounded by `SketchOps.MaxHllGroups`.
    * Count/sum merges are additive, so the stored `last_batch` id
    * skips re-delivered batch ids (single-writer discipline, like the
    * histogram and CMS folds).
    */
  def maintainGroupedStatsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, groupCol: String,
      valueCol: String): org.apache.spark.sql.streaming.StreamingQuery =
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
      groupCols: Seq[String], valueCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val alreadyMerged = catalog
          .getSketch(table, valueCol, "stats_grouped")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged) {
          import org.apache.spark.sql.functions.{count, expr, lit, max, min}
          val rows = batch
            .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols, batch.schema.fieldNames.toSeq).as("g"))
            .agg(min(col(valueCol)).cast("double").as("lo"),
              max(col(valueCol)).cast("double").as("hi"),
              count(lit(1)).as("n"),
              count(col(valueCol)).as("nnull"),
              // decimal(38,4) + try_sum, mirroring the batch builder: a
              // huge micro-batch group can neither throw (ANSI) nor
              // wrap; values in range are identical, so the byte-
              // equality law vs the batch build is unchanged
              expr(s"try_sum(cast($valueCol as decimal(38,4)))").as("sum4"))
            .limit(graft.sketch.SketchOps.MaxHllGroups + 1)
            .collect()
          if (rows.length > graft.sketch.SketchOps.MaxHllGroups)
            throw new IllegalArgumentException(
              s"grouped stats over $table.$groupCol: more than " +
                s"${graft.sketch.SketchOps.MaxHllGroups} groups in one batch")
          if (rows.nonEmpty) {
            val packed = graft.sketch.GroupedHll.pack(rows.toSeq.map { r =>
              val absent = r.isNullAt(1)
              // NULL sum with non-NULL values = try_sum overflowed even
              // decimal(38,4): refuse loudly rather than encode a
              // silent zero the serve would label exact
              if (r.isNullAt(5) && r.getAs[Long]("nnull") > 0L)
                throw new IllegalArgumentException(
                  s"grouped stats over $table.$valueCol: batch group sum " +
                    "overflows decimal(38,4)")
              val sum = Option(r.getDecimal(5))
                .map(d => BigInt(d.setScale(4).unscaledValue()))
                .getOrElse(BigInt(0))
              Option(r.getAs[String]("g")) ->
                graft.sketch.GroupedStats.encode(graft.sketch.GroupedStats.Stat(
                  if (absent) None else Some(r.getDouble(1)),
                  if (absent) None else Some(r.getDouble(2)),
                  r.getAs[Long]("nnull"), r.getAs[Long]("n"), sum))
            })
            catalog.upsertSketchMerging(catalog.SketchInfo(table, valueCol,
              "stats_grouped",
              packed, s"""{"group_by":"$groupCol","last_batch":$batchId}""",
              System.currentTimeMillis())) { (prev, next) =>
              val merged = graft.sketch.GroupedHll.mergePacked(prev, next) {
                (x, y) => graft.sketch.GroupedStats.encode(
                  graft.sketch.GroupedStats.merge(
                    graft.sketch.GroupedStats.decode(x),
                    graft.sketch.GroupedStats.decode(y)))
              }
              if (graft.sketch.GroupedHll.unpack(merged)
                  .sizeIs > graft.sketch.SketchOps.MaxHllGroups)
                throw new IllegalArgumentException(
                  s"grouped stats over $table.$groupCol: merged group count " +
                    s"exceeds ${graft.sketch.SketchOps.MaxHllGroups}")
              merged
            }
          }
        }
        ()
      }
      .start()
  }

  /** Streaming Count-Min maintenance — the engine's point-frequency
    * strategy made LIVE: each micro-batch's values fold into the
    * catalog's CMS (one distributed sketch aggregate per batch — the
    * counter matrix is the mergeable state — then one CAS-merged
    * catalog upsert), and `QueryEngine.storedCmsAnswer` serves
    * `COUNT(*) WHERE col = 'v'` over the live table with NO scan.
    * CMS merge is ADDITIVE (element-wise counter addition, like the
    * histogram and unlike HLL's idempotent register-max), so a replayed
    * batch would double-count; the stored `last_batch` id skips
    * re-delivered batch ids (exact under single-writer-per-(table,
    * column), the discipline maintainHistogramSketch documents).
    * O(eps^-1 ln delta^-1) counters of state regardless of stream
    * volume — the only way per-key frequency tracking survives an
    * unbounded key domain.
    */
  def maintainCmsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      epsilon: Double = 0.01, delta: Double = 0.01)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val alreadyMerged = catalog.getSketch(table, column, "countmin")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged) {
          val bytes = batch
            .select(graft.sketch.Cms
              .sketchAgg(col(column).cast("string"), epsilon, delta).as("s"))
            .collect().head.getAs[Array[Byte]]("s")
          catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
            "countmin", bytes,
            s"""{"epsilon":$epsilon,"delta":$delta,"last_batch":$batchId}""",
            System.currentTimeMillis())) { (prev, next) =>
            graft.sketch.Cms.deserialize(prev)
              .merge(graft.sketch.Cms.deserialize(next)).serialize
          }
        }
        ()
      }
      .start()
  }

  /** Composite-key variant of [[maintainCmsSketch]]: each batch keys
    * its rows with the batch builder's `to_json(array(...))` tuple
    * rendering (any NULL component renders a NULL key, which the
    * aggregator skips — an equality conjunction can never match such a
    * row), and the blob lands under the comma-joined column list with
    * `"enc":"j1"` — exactly where `QueryEngine.storedCmsAnswer`'s
    * composite dispatch looks, so conjunctive point frequencies serve
    * LIVE. Same additive merge + replay guard as the single-key form.
    */
  def maintainCmsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      columns: Seq[String], epsilon: Double, delta: Double)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(columns.nonEmpty, "at least one column required")
    if (columns.sizeIs == 1)
      return maintainCmsSketch(values, catalog, table, columns.head,
        epsilon, delta)
    val column = columns.mkString(",")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    val arr = columns.map(c => s"cast($c as string)")
      .mkString("to_json(array(", ", ", "))")
    val anyNull = columns.map(c => s"$c is null").mkString(" or ")
    val key = org.apache.spark.sql.functions.expr(
      s"case when $anyNull then cast(null as string) else $arr end")
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val alreadyMerged = catalog.getSketch(table, column, "countmin")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged) {
          val bytes = batch
            .select(graft.sketch.Cms.sketchAgg(key, epsilon, delta).as("s"))
            .collect().head.getAs[Array[Byte]]("s")
          catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
            "countmin", bytes,
            s"""{"epsilon":$epsilon,"delta":$delta,"last_batch":$batchId,"enc":"j1"}""",
            System.currentTimeMillis())) { (prev, next) =>
            graft.sketch.Cms.deserialize(prev)
              .merge(graft.sketch.Cms.deserialize(next)).serialize
          }
        }
        ()
      }
      .start()
  }

  /** Streaming AGMS maintenance — live join-cardinality evidence: each
    * micro-batch's keys fold into the stored AGMS counters (bucket =
    * h60('js:'&#124;&#124;key) % B, sign from the next hash bit — the exact
    * derivation `SketchOps.createAgms` uses, so the stream-built sketch
    * is BYTE-equal to a batch build over the same rows; signed-counter
    * addition is associative/commutative), and `"rows"` accumulates the
    * batch counts — the cardinality input the engine's join estimate
    * reads. With a fresh pair maintained this way, automatic costed
    * join AQP keeps working as the stream appends: the plan decision
    * stays scan-free while the evidence stays current. Additive merge ⇒
    * the same `last_batch` replay guard as CMS/histograms (exact under
    * the single-writer-per-(table, keys) discipline all maintainers
    * document). Composite keys render with the shared to_json tuple
    * encoding (`"enc":"j1"`), matching the batch builder. A stored
    * sketch with a DIFFERENT bucket count refuses (counters of unequal
    * width cannot add).
    */
  def maintainAgmsSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, keys: Seq[String],
      buckets: Int = 1024): org.apache.spark.sql.streaming.StreamingQuery = {
    require(keys.nonEmpty, "at least one key column required")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val column = keys.mkString(",")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    val rowsRe = """"rows"\s*:\s*(-?\d+)""".r
    val bucketsRe = """"buckets"\s*:\s*(-?\d+)""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = catalog.getSketch(table, column, "agms")
        prev.foreach { s =>
          val b0 = bucketsRe.findFirstMatchIn(s.parameters).map(_.group(1).toInt)
          if (!b0.contains(buckets))
            throw new IllegalArgumentException(
              s"agms over $table.$column: stored sketch has buckets=" +
                s"${b0.getOrElse(-1)}, maintainer configured $buckets")
        }
        val alreadyMerged = prev
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged) {
          graft.functions.GraftFunctions.register(batch.sparkSession)
          import org.apache.spark.sql.functions.{count, expr, lit, sum}
          val keyExpr = graft.plan.SampleRewrite.tupleKeyExpr("js:", keys)
          val rows = batch
            .select(expr(s"graft_h60($keyExpr)").as("h"))
            .select(expr(s"cast(h % ${buckets}L as int)").as("bucket"),
              expr(s"case when (h div ${buckets}L) % 2 = 0 then 1L else -1L end")
                .as("sgn"))
            .groupBy(col("bucket"))
            .agg(sum(col("sgn")).as("c"), count(lit(1)).as("n"))
            .collect()
          val counters = new Array[Long](buckets)
          var total = 0L // incl. NULL-key rows: the true batch rowcount
          rows.foreach { r =>
            if (!r.isNullAt(0)) counters(r.getInt(0)) = r.getLong(1)
            total += r.getLong(2)
          }
          val prevRows = prev
            .flatMap(s => rowsRe.findFirstMatchIn(s.parameters)
              .map(_.group(1).toLong))
            .getOrElse(0L)
          val enc = if (keys.sizeIs > 1) ""","enc":"j1"""" else ""
          catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
            "agms", graft.sketch.Agms.serialize(counters),
            s"""{"buckets":$buckets,"rows":${prevRows + total},"last_batch":$batchId$enc}""",
            System.currentTimeMillis())) { (p, n) =>
            val a = graft.sketch.Agms.deserialize(p)
            val b = graft.sketch.Agms.deserialize(n)
            graft.sketch.Agms.serialize(
              a.zip(b).map { case (x, y) => x + y })
          }
        }
        ()
      }
      .start()
  }

  /** Streaming HDR maintenance — the relative-error quantile sketch
    * kept live: each micro-batch's values bucket through THE shared
    * hdr pass (`SketchOps.hdrAggregate` — the identical corrected-log2
    * derivation the batch builder runs, so the stream-built blob is
    * BYTE-equal to a batch build over the same rows; the log grid is
    * global by construction, so per-bucket counts add exactly with no
    * grid to disagree on) and fold into the stored blob under the
    * catalog's CAS merge. `"rows"` accumulates batch counts for the
    * freshness guard; the additive merge gets the same `last_batch`
    * replay guard as CMS/AGMS (exact under the single-writer-per-
    * (table, column) discipline all maintainers document). A stored
    * sketch with a different m refuses (sub-bucket layouts cannot
    * add).
    */
  def maintainHdrSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String, column: String,
      m: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    val rowsRe = """"rows"\s*:\s*(-?\d+)""".r
    val mRe = """"m"\s*:\s*(-?\d+)""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = catalog.getSketch(table, column, "hdr")
        prev.foreach { s =>
          val m0 = mRe.findFirstMatchIn(s.parameters).map(_.group(1).toInt)
          if (!m0.contains(m))
            throw new IllegalArgumentException(
              s"hdr over $table.$column: stored sketch has m=" +
                s"${m0.getOrElse(-1)}, maintainer configured $m")
        }
        val alreadyMerged = prev
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        // the rider's replay guard is INDEPENDENT and evaluated up
        // front: a crash between the counts upsert and the rider
        // upsert leaves the rider one batch behind, and the replayed
        // batch must still fold it (nesting it under the counts guard
        // would lose that batch's sums forever; the serve-side
        // last_batch cross-check refuses sums in the interim)
        val sumsMerged = catalog.getSketch(table, column, "hdrsum")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged || !sumsMerged) {
          val total = batch.count()
          val (sk, sums, sumOverflow) =
            graft.sketch.SketchOps.hdrAggregate(batch, column, m,
              s"hdr stream over $table.$column")
          if (sumOverflow)
            throw new IllegalArgumentException(
              s"hdr stream over $table.$column: a batch bucket sum " +
                "overflows decimal(38,4)")
          val prevRows = prev
            .flatMap(s => rowsRe.findFirstMatchIn(s.parameters)
              .map(_.group(1).toLong))
            .getOrElse(0L)
          if (!alreadyMerged)
            catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
              "hdr", sk.serialize,
              s"""{"m":$m,"rows":${prevRows + total},"last_batch":$batchId}""",
              System.currentTimeMillis())) { (p, n) =>
              graft.sketch.HdrSketch.deserialize(p)
                .merge(graft.sketch.HdrSketch.deserialize(n)).serialize
            }
          // the "hdrsum" rider folds decimal sums additively AFTER the
          // counts (a rider-first order could double-count sums on
          // redelivery of the crash window)
          if (!sumsMerged)
            catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
              "hdrsum",
              graft.sketch.GroupedHll.pack(sums.map { case ((sg, e, s), v) =>
                Option(s"$sg:$e:$s") -> v.toByteArray
              }),
              s"""{"m":$m,"rows":${prevRows + total},"last_batch":$batchId}""",
              System.currentTimeMillis())) { (p, n) =>
              val a = graft.sketch.GroupedHll.unpack(p)
                .map { case (k, b) => k -> BigInt(b) }.toMap
              val b = graft.sketch.GroupedHll.unpack(n)
                .map { case (k, b0) => k -> BigInt(b0) }
              val merged = (a.keySet ++ b.map(_._1)).toSeq.map { k =>
                k -> (a.getOrElse(k, BigInt(0)) +
                  b.collectFirst { case (`k`, v) => v }.getOrElse(BigInt(0)))
              }
              graft.sketch.GroupedHll.pack(
                merged.map { case (k, v) => k -> v.toByteArray })
            }
        }
        ()
      }
      .start()
  }

  /** Streaming GROUPED-HDR maintenance — per-group relative-error
    * quantile sketches kept LIVE. The log grid is GLOBAL (the real
    * line's binades), so unlike the grouped histogram there is NO
    * pre-declared grid: new groups union in freely (bounded by
    * `SketchOps.MaxHllGroups`) and per-bucket counts add exactly,
    * making the stream-maintained blob BYTE-equal to a batch
    * `createGroupedHdr` over the same rows (the shared
    * `hdrGroupedAggregate` pass + canonical per-sketch serialization).
    * Groups whose batch values are all NULL are still recorded (empty
    * payload — the identity of the merge), matching the batch
    * builder's all-NULL-group contract. Additive merge ⇒ the stored
    * `last_batch` id skips re-delivered batch ids (single-writer
    * discipline); a stored blob with a different m refuses. The
    * "hdrsum_grouped" rider (per-(group, log-bucket) decimal sums —
    * the grouped range-SUM/AVG serve's input) folds in the same
    * micro-batch under its own replay guard, counts first.
    */
  def maintainGroupedHdrSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String], valueCol: String,
      m: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    require(groupCols.nonEmpty, "at least one group column required")
    val groupCol = groupCols.mkString(",")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    val mRe = """"m"\s*:\s*(-?\d+)""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = catalog.getSketch(table, valueCol, "hdr_grouped")
        prev.foreach { s =>
          val m0 = mRe.findFirstMatchIn(s.parameters).map(_.group(1).toInt)
          if (!m0.contains(m))
            throw new IllegalArgumentException(
              s"grouped hdr over $table.$valueCol: stored blob has m=" +
                s"${m0.getOrElse(-1)}, maintainer configured $m")
        }
        val alreadyMerged = prev
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        // independent rider guard, evaluated UP FRONT (see
        // maintainHdrSketch): the crash window between the two upserts
        // must not make the replayed batch skip the rider fold
        val sumsMerged = catalog
          .getSketch(table, valueCol, "hdrsum_grouped")
          .flatMap(s => lastBatchRe.findFirstMatchIn(s.parameters)
            .map(_.group(1).toLong))
          .exists(batchId <= _)
        if (!alreadyMerged || !sumsMerged) {
          import org.apache.spark.sql.functions.{count, lit}
          // all groups in the batch (all-NULL ones included) — the
          // bucket pass only sees non-NULL values
          val gs = batch
            .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols,
              batch.schema.fieldNames.toSeq).as("g"))
            .agg(count(lit(1)).as("n"))
            .limit(graft.sketch.SketchOps.MaxHllGroups + 1)
            .collect()
          if (gs.length > graft.sketch.SketchOps.MaxHllGroups)
            throw new IllegalArgumentException(
              s"grouped hdr over $table.$groupCol: more than " +
                s"${graft.sketch.SketchOps.MaxHllGroups} groups in one batch")
          if (gs.nonEmpty) {
            val agg = graft.sketch.SketchOps.hdrGroupedAggregate(
              batch, groupCols, valueCol, m,
              s"grouped hdr stream over $table.$valueCol")
            val keys = gs.toSeq.map(r => Option(r.getAs[String]("g")))
            val packed = graft.sketch.GroupedHll.pack(
              keys.map(k =>
                k -> agg.get(k).map(_._1).getOrElse(Array.empty[Byte])))
            if (!alreadyMerged)
              catalog.upsertSketchMerging(catalog.SketchInfo(table, valueCol,
                "hdr_grouped", packed,
                s"""{"m":$m,"group_by":"$groupCol","last_batch":$batchId}""",
                System.currentTimeMillis())) { (prevB, next) =>
                val merged = graft.sketch.GroupedHll.mergePacked(prevB, next)(
                  graft.sketch.HdrSketch.mergeBytes)
                if (graft.sketch.GroupedHll.unpack(merged)
                    .sizeIs > graft.sketch.SketchOps.MaxHllGroups)
                  throw new IllegalArgumentException(
                    s"grouped hdr over $table.$groupCol: merged group count " +
                      s"exceeds ${graft.sketch.SketchOps.MaxHllGroups}")
                merged
              }
            // the "hdrsum_grouped" rider folds per-(group, log-bucket)
            // decimal sums additively AFTER the counts (rider-first
            // could double-count sums on crash-window redelivery).
            // Per-group overflow POISON (the "!" sentinel entry)
            // absorbs in the merge — an EMPTY pack is the additive
            // identity of an all-zero-valued batch group, never poison.
            if (!sumsMerged) {
              // groups with VALUES only (all-NULL-batch groups are
              // omitted — mergePacked's union leaves the stored side
              // untouched)
              val packedSums = graft.sketch.GroupedHll.pack(
                agg.toSeq.map { case (k, (_, rider)) => k -> rider })
              catalog.upsertSketchMerging(catalog.SketchInfo(table, valueCol,
                "hdrsum_grouped", packedSums,
                s"""{"m":$m,"group_by":"$groupCol","last_batch":$batchId}""",
                System.currentTimeMillis())) { (prevB, next) =>
                graft.sketch.GroupedHll.mergePacked(prevB, next)(
                  graft.sketch.SketchOps.hdrSumMergeBytes)
              }
            }
          }
        }
        ()
      }
      .start()
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
    * reset the bound. Counts add, so the stored `last_batch` id skips
    * re-delivered batch ids (single-writer discipline, like the
    * histogram and CMS folds). Requires the blob to exist (the
    * threshold lives in the build) and refuses loudly otherwise —
    * silently skipped batches would leave a stale blob serving as
    * fresh.
    */
  def maintainTopKSketch(values: DataFrame,
      catalog: graft.catalog.MetaCatalog, table: String,
      groupCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val column = groupCols.mkString(",")
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    val rowsRe = """"rows"\s*:\s*(-?\d+)""".r
    val unknownRe = """"unknown_bound"\s*:\s*([0-9.eE+-]+)""".r
    val aggRe = """"agg"\s*:\s*"([^"]*)"""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = catalog.getSketch(table, column, "topk").getOrElse(
          throw new IllegalStateException(
            s"topk over $table.$column: no stored blob to maintain — " +
              "build with SketchOps.createTopK first"))
        val agg = aggRe.findFirstMatchIn(prev.parameters)
          .map(_.group(1)).getOrElse("count")
        if (agg != "count")
          throw new IllegalArgumentException(
            s"topk over $table.$column: stored blob aggregates '$agg', " +
              "maintainTopKSketch folds counts — use maintainTopKSumSketch")
        val alreadyMerged = lastBatchRe.findFirstMatchIn(prev.parameters)
          .map(_.group(1).toLong).exists(batchId <= _)
        if (!alreadyMerged) {
          val spark = batch.sparkSession
          val storedKeys: Seq[Option[String]] =
            graft.sketch.GroupedHll.unpack(prev.data).map(_._1)
          val bg = batch
            .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols, batch.schema.fieldNames.toSeq).as("g"))
            .agg(count(lit(1)).as("n"))
          import spark.implicits._
          val sk = spark.createDataset(storedKeys.map(_.orNull)).toDF("sk")
            .withColumn("hit", lit(true))
          // null-safe join: the NULL group is a stored key like any
          // other; `hit` (not sk's nullness) marks membership
          val marked = bg.join(broadcast(sk), bg("g") <=> sk("sk"), "left")
            .persist()
          try {
            val hits = marked.filter(col("hit"))
              .select(col("g"), col("n")).collect()
            val u = marked.filter(col("hit").isNull)
              .agg(coalesce(max(col("n")), lit(0L)).as("mx"),
                coalesce(sum(col("n")), lit(0L)).as("tot"))
              .collect().head
            val (unknownMax, unknownTot) = (u.getLong(0), u.getLong(1))
            val batchRows =
              hits.iterator.map(_.getAs[Long]("n")).sum + unknownTot
            val prevRows = rowsRe.findFirstMatchIn(prev.parameters)
              .map(_.group(1).toLong).getOrElse(0L)
            val prevUb = unknownRe.findFirstMatchIn(prev.parameters)
              .map(_.group(1).toDouble).getOrElse(0.0)
            val newUb = prevUb + unknownMax
            val delta = graft.sketch.GroupedHll.pack(hits.toSeq.map { r =>
              val buf = java.nio.ByteBuffer.allocate(8)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              buf.putLong(r.getAs[Long]("n"))
              Option(r.getAs[String]("g")) -> buf.array()
            })
            catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
              "topk", delta,
              s"""{"unknown_bound":$newUb,"rows":${prevRows + batchRows},""" +
                s""""last_batch":$batchId}""",
              System.currentTimeMillis())) { (p, n) =>
              graft.sketch.GroupedHll.mergePacked(p, n) { (x, y) =>
                def le(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
                val buf = java.nio.ByteBuffer.allocate(8)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                buf.putLong(le(x) + le(y))
                buf.array()
              }
            }
          } finally marked.unpersist()
        }
        ()
      }
      .start()
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
      groupCols: Seq[String], valueCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(groupCols.nonEmpty, "at least one group column required")
    val column = s"${groupCols.mkString(",")}->$valueCol"
    val lastBatchRe = """"last_batch"\s*:\s*(-?\d+)""".r
    val rowsRe = """"rows"\s*:\s*(-?\d+)""".r
    val unknownRe = """"unknown_bound"\s*:\s*([0-9.eE+-]+)""".r
    values.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = catalog.getSketch(table, column, "topk").getOrElse(
          throw new IllegalStateException(
            s"topk-sum over $table.$column: no stored blob to maintain — " +
              "build with SketchOps.createTopKSum first"))
        val alreadyMerged = lastBatchRe.findFirstMatchIn(prev.parameters)
          .map(_.group(1).toLong).exists(batchId <= _)
        if (!alreadyMerged) {
          val spark = batch.sparkSession
          val storedKeys: Seq[Option[String]] =
            graft.sketch.GroupedHll.unpack(prev.data).map(_._1)
          val bg = batch
            .groupBy(graft.sketch.SketchOps.groupKeyExpr(groupCols, batch.schema.fieldNames.toSeq).as("g"))
            .agg(expr(s"try_sum(cast($valueCol as decimal(38,4)))").as("s4"),
              count(col(valueCol)).as("nn"), count(lit(1)).as("n"))
          import spark.implicits._
          val sk = spark.createDataset(storedKeys.map(_.orNull)).toDF("sk")
            .withColumn("hit", lit(true))
          val marked = bg.join(broadcast(sk), bg("g") <=> sk("sk"), "left")
            .persist()
          try {
            // NULL sum with non-NULL values = try_sum overflowed even
            // decimal(38,4): refuse loudly (stored OR unstored — an
            // unstored overflow breaks the unknown bound too)
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
            val (unknownMax, unknownTot) =
              (math.max(0.0, u.getDouble(0)), u.getLong(1))
            val batchRows =
              hits.iterator.map(_.getAs[Long]("n")).sum + unknownTot
            val prevRows = rowsRe.findFirstMatchIn(prev.parameters)
              .map(_.group(1).toLong).getOrElse(0L)
            val prevUb = unknownRe.findFirstMatchIn(prev.parameters)
              .map(_.group(1).toDouble).getOrElse(0.0)
            val newUb = prevUb + unknownMax
            val delta = graft.sketch.GroupedHll.pack(hits.toSeq.map { r =>
              val s = Option(r.getDecimal(1))
                .map(d => BigInt(d.setScale(4).unscaledValue()))
                .getOrElse(BigInt(0))
              Option(r.getAs[String]("g")) -> s.toByteArray
            })
            catalog.upsertSketchMerging(catalog.SketchInfo(table, column,
              "topk", delta,
              s"""{"unknown_bound":$newUb,"rows":${prevRows + batchRows},""" +
                s""""last_batch":$batchId}""",
              System.currentTimeMillis())) { (p, n) =>
              graft.sketch.GroupedHll.mergePacked(p, n) { (x, y) =>
                (BigInt(x) + BigInt(y)).toByteArray
              }
            }
          } finally marked.unpersist()
        }
        ()
      }
      .start()
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
