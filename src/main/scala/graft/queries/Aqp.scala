package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.catalog.MetaCatalog
import graft.engine.QueryEngine
import graft.sample.Samplers

/** Driver-visible multimodal metadata query (oracle-checked) and AQP
  * engine showcase queries (rows-only: results are approximate by
  * design; their statistical correctness is asserted in
  * QueryEngineSpec/SketchSpec error-bound tests).
  */
object Aqp {

  // One engine (and one stratified-sample build) per (session, dir):
  // a serving engine registers tables and materializes samples ONCE and
  // answers queries from them — re-creating the sample per call would
  // make a repeated-query benchmark measure sample construction instead
  // of the stratified query path it exists to showcase.
  private val engines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  // q30's engine is separate (round 10): its setup FORCES the orders
  // rowcount to 20k (the chooser's stratified rule needs size>10000 at
  // small test SFs) and re-stamps only the SAMPLE as fresh — on the
  // shared engine those forced stats would read every LATER-built
  // orders sketch (rows recorded at build = the real count) as stale,
  // so whether q84–q98's serves engaged depended on RUN ORDER (Verify's
  // map iteration happened to run q30 late; the name-sorted Scaling
  // probe ran it first and silently flipped the orders serve family to
  // exact, failing q97/q98's serve asserts). A dedicated catalog keeps
  // the shared engine's stats live and the serve family order-robust.
  private val seededStratEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def seededStratEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    seededStratEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-strat").toString))
      Samplers.createStratified(s, e.catalog, "orders", "o_orderpriority",
        0.2, varianceCol = Some("o_totalprice"))
      val n = s.table("orders").count()
      e.catalog.upsertTableStats("orders", math.max(n, 20000L))
      e.catalog.refreshSampleBase("orders")
      e
    })
  }
  private val histograms =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Unit]()
  private val groupedHistograms =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Unit]()
  private val cmsSketches =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Unit]()
  private val compositeCms =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Unit]()
  private val compositeHists =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Unit]()
  // q76's engine is separate: its catalog must hold ONLY the
  // deterministic stratified sample, so the strategy lookup cannot race
  // q30's seeded 0.2 sample on the shared engine.
  private val detEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  // q79's engine is separate too: its catalog carries FORCED table
  // stats (both join sides pushed over the engine's universe-sampling
  // threshold) that must not leak into the shared engine's size-tier
  // decisions for q28/q77.
  private val uniEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private val uniSamples =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Unit]()
  // q163's engine is separate: its catalog holds the outlier-indexed
  // sample on orders, whose dispatch PREEMPTS the generic sample path
  // for any SUM/AVG over o_totalprice — on the shared engine it would
  // silently re-plan q28-family queries.
  private val outlierEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  // q174's engine is separate: its catalog holds the bottom-k sample on
  // orders, whose dispatch preempts the generic inline-sample path for
  // every aggregate on orders — on the shared engine it would silently
  // re-plan the q28-family oracles.
  private val bkEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  // q175's engine likewise: the grouped bottom-k sample preempts the
  // stratified/sampling paths for grouped aggregates on orders.
  private val bkgEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  // q180's engine holds the TWO-SIDED outlier sample (lowK > 0) — both
  // value tails exact at weight 1, so MIN and MAX serve together. Its
  // rest-lottery membership differs from q163's one-sided build (the
  // low tail is excluded from the lottery), so it cannot share the
  // q163 catalog without breaking those oracles' membership CTEs.
  private val outlier2Engines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()

  private def engineFor(s: SparkSession, dir: String): QueryEngine = {
    // evict entries for stopped sessions (same policy as Dedup.memo) so
    // long-lived multi-session processes don't retain dead engines,
    // their catalogs, or the one-shot sample/histogram build markers
    Seq(engines, seededStratEngines, histograms, groupedHistograms,
        cmsSketches, compositeCms, compositeHists, joinEngines, detEngines,
        uniEngines, uniSamples, snowEngines, sgEngines, kmvEngines,
        topkEngines, outlierEngines, outlier2Engines, bkEngines, bkgEngines)
      .foreach { m =>
        m.keysIterator.filter(_._1.sparkContext.isStopped).foreach(m.remove)
      }
    // a multi-dir session flips the global view names between calls —
    // re-point them at THIS dir before the engine touches anything, or
    // stats/asserts silently read the other dir (Tables.ensureRegistered)
    Tables.ensureRegistered(s, dir)
    engines.getOrElseUpdate((s, dir), {
      new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-aqp").toString))
    })
  }

  private def uniEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    uniEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-uni").toString))
      // Force BOTH join sides over UniverseMinRows so the engine picks
      // universe sampling at small test SFs (the decision it would make
      // at the real two-big-tables scale). Membership is a pure hash of
      // the key, so the estimates stay oracle-checkable regardless of
      // the forced stats — only the FRACTION depends on them: fact
      // 6M -> 0.01 tier -> threshold 100 of 10000 -> HT weight exactly
      // 100.0, the constants the q79 oracle hardcodes.
      e.catalog.upsertTableStats("lineitem", 6000000L)
      e.catalog.upsertTableStats("orders", 1500000L)
      e
    })
  }

  // q93's engine is separate too: the shared engine's catalog gets its
  // orders rowcount FORCED by q30's stratified setup (20k at small
  // SFs), which would read the composite AGMS sketches as stale and
  // silently flip q93 back to exact. A dedicated catalog keeps live
  // stats and sketch rowcounts agreeing.
  private val joinEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def joinEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    joinEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-join").toString))
      // CANONICAL key order (the alphabetically-first table's keys
      // sorted, the partner aligned — what QueryEngine.joinTreeEdges
      // normalizes every ON clause to, so the lookup is
      // conjunct-order independent)
      graft.sketch.SketchOps.createAgms(s, e.catalog, "lineitem",
        Seq("l_linestatus", "l_orderkey"), 1024)
      graft.sketch.SketchOps.createAgms(s, e.catalog, "orders",
        Seq("o_orderstatus", "o_orderkey"), 1024)
      e
    })
  }

  // q96's engine: AGMS evidence on BOTH edges of the snowflake chain
  // lineitem → orders → customer, in its own catalog so live stats and
  // sketch rowcounts agree (the q93 isolation rationale).
  private val snowEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def snowEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    snowEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-snow").toString))
      graft.sketch.SketchOps.createAgms(s, e.catalog, "lineitem", "l_orderkey")
      graft.sketch.SketchOps.createAgms(s, e.catalog, "orders", "o_orderkey")
      graft.sketch.SketchOps.createAgms(s, e.catalog, "orders", "o_custkey")
      graft.sketch.SketchOps.createAgms(s, e.catalog, "customer", "c_custkey")
      e
    })
  }

  // q99/q100's engine: SHARED-GRID grouped histograms (every group
  // bucketed on one global [min,max] grid, so subsets of groups merge
  // exactly by adding counts). Isolated because a shared-grid build
  // over (table, valueCol) would overwrite the per-group-grid blobs
  // q84/q91/q92 serve from on the shared engine.
  private val sgEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def sgEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    sgEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-sg").toString))
      graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
        "orders", Seq("o_orderstatus"), "o_totalprice", 64,
        sharedGrid = true)
      graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
        "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64,
        sharedGrid = true)
      // INTEGRAL group key (q102): the serves parse the string-keyed
      // blob back to the source int type, so schema and sort order
      // match exact execution
      graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
        "lineitem", Seq("l_linenumber"), "l_extendedprice", 64)
      // single global histogram (q103): feeds the range-count serve
      graft.sketch.SketchOps.createHistogram(s, e.catalog,
        "orders", "o_totalprice")
      e
    })
  }

  // q107/q108's engine: a KMV (bottom-k) pair over the two sides of
  // the set operations — orders.o_custkey and customer.c_custkey hash
  // by VALUE (no table salt), so the sketches are comparable and the
  // INTERSECT/EXCEPT cardinality serves with zero scan. Isolated so
  // other queries' forced table stats can't read the pair as stale.
  private val kmvEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def kmvEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    kmvEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-kmv").toString))
      graft.sketch.SketchOps.createKmv(s, e.catalog, "orders",
        "o_custkey", 1024)
      graft.sketch.SketchOps.createKmv(s, e.catalog, "customer",
        "c_custkey", 1024)
      graft.sketch.SketchOps.createKmv(s, e.catalog, "events",
        "user_id", 1024)
      e
    })
  }

  // q134's engine: a grouped blob keyed by the TIMESTAMP column
  // o_orderdate (~1.1k/2.4k midnight stamps at the test SFs — well
  // under MaxHllGroups) — the per-day revenue dashboard served with
  // typed timestamp keys. Dedicated so the o_totalprice value column
  // doesn't clobber sgEngineFor's o_orderstatus-keyed blob.
  private val dateEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def dateEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    dateEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-date").toString))
      graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
        "orders", Seq("o_orderdate"), "o_totalprice", 64)
      // EXPRESSION key (q138): the events table bucketed by
      // to_date(ts) — 30 days at every test SF; the blob records the
      // expression text and the engine matches the query's grouping
      // expression rendering against it
      graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
        "events", Seq("to_date(ts)"), "value", 64)
      e
    })
  }

  // q144's engine: log-linear (HDR) sketches over lineitem's
  // heavy-tailed revenue column and zero-heavy discount column.
  // Dedicated so no equi-width histogram on the same columns can
  // preempt the hdr dispatch and no other query's forced stats can
  // retire the blobs.
  private val hdrEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def hdrEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    hdrEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-hdr").toString))
      graft.sketch.SketchOps.createHdr(s, e.catalog, "lineitem",
        "l_extendedprice")
      graft.sketch.SketchOps.createHdr(s, e.catalog, "lineitem",
        "l_discount")
      // composite per-group log-linear sketches (q150/q151): the
      // grouped percentile AND its marginal collapse serve from this
      // one blob — the log grid is global, so groups merge exactly
      graft.sketch.SketchOps.createGroupedHdr(s, e.catalog, "lineitem",
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice")
      // expression-keyed per-DAY sketches (q158): the time-series p99
      // dashboard — to_date(ts) keys, ~30 days at every test SF
      graft.sketch.SketchOps.createGroupedHdr(s, e.catalog, "events",
        Seq("to_date(ts)"), "value")
      e
    })
  }

  // q109/q110's engine: a heavy-hitters ("topk") blob over
  // lineitem.l_partkey — a HIGH-cardinality key (20k distinct at
  // sf0.1, past MaxHllGroups) whose top-k/iceberg dashboards the
  // grouped blobs refuse. Threshold 35 keeps the stored list complete
  // above it at every test SF (38/392/3961 entries at sf0.001/0.01/
  // 0.1) while bounding the blob well under MaxHllGroups.
  private val topkEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def topkEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    topkEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-topk").toString))
      graft.sketch.SketchOps.createTopK(s, e.catalog, "lineitem",
        Seq("l_partkey"), threshold = 35L)
      // SUM twin for q112: per-partkey revenue above 1.8M (recipe
      // double) — 52/508/5061 entries at sf0.001/0.01/0.1
      graft.sketch.SketchOps.createTopKSum(s, e.catalog, "lineitem",
        Seq("l_partkey"), "l_extendedprice", threshold = 1800000.0)
      e
    })
  }

  // q126's engine: a grouped-stats blob over lineitem keyed by the
  // l_suppkey JOIN key (10/100/1000 suppliers at the test SFs, well
  // under MaxHllGroups) — the star-aggregate serve's input. Dedicated
  // so no other query's forced stats retire it.
  private val starEngines =
    scala.collection.concurrent.TrieMap[(SparkSession, String), QueryEngine]()
  private def starEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    starEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-star").toString))
      // SHARED grid: q127's per-nation percentile merges suppkey
      // histograms per nation, which only one global grid supports;
      // the stats_grouped rider q126 serves from is grid-independent
      graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
        "lineitem", Seq("l_suppkey"), "l_extendedprice", 64,
        sharedGrid = true)
      // COMPOSITE (fk, flag) blob on its OWN value column (one blob
      // per (table, valueCol, type)): the fact-side equality star
      // (q131) prunes on l_returnflag and collapses to per-supplier
      // records before the dim fold. SHARED grid so q133's
      // band-under-filter collapse merges cells on one global
      // [min,max]/64 — the stats rider q131/q132 serve from is
      // grid-independent.
      graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
        "lineitem", Seq("l_suppkey", "l_returnflag"), "l_quantity", 64,
        sharedGrid = true)
      e
    })
  }

  private def outlierEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    outlierEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-outlier").toString))
      Samplers.createOutlierSample(s, e.catalog, "orders", "o_totalprice",
        "o_orderkey", outlierK = 500, targetRest = 2048L)
      e
    })
  }

  private def outlier2EngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    outlier2Engines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-outlier2").toString))
      Samplers.createOutlierSample(s, e.catalog, "orders", "o_totalprice",
        "o_orderkey", outlierK = 500, targetRest = 2048L, lowK = 500)
      e
    })
  }

  private def bkEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    bkEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-bk").toString))
      Samplers.createBottomK(s, e.catalog, "orders", "o_orderkey", k = 2048)
      e
    })
  }

  private def bkgEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    bkgEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-bkg").toString))
      Samplers.createBottomKGrouped(s, e.catalog, "orders",
        "o_orderstatus", "o_orderkey", kPerGroup = 512)
      e
    })
  }

  private def detEngineFor(s: SparkSession, dir: String): QueryEngine = {
    Tables.ensureRegistered(s, dir)
    detEngines.getOrElseUpdate((s, dir), {
      val e = new QueryEngine(s,
        new MetaCatalog(Files.createTempDirectory("graft-det").toString))
      Samplers.createStratifiedDeterministic(s, e.catalog, "orders",
        "o_orderstatus", "o_orderkey", targetPerStratum = 512L)
      // force the chooser's stratified rule (size>10000 ∧ groupBy
      // arity>1) at small test SFs, exactly like q30; re-stamp the
      // sample as fresh w.r.t. the forced stats so the staleness guard
      // (which compares creation-time baseRows against current stats)
      // keeps serving it
      val n = s.table("orders").count()
      e.catalog.upsertTableStats("orders", math.max(n, 20000L))
      e.catalog.refreshSampleBase("orders")
      e
    })
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Multimodal metadata over binary payloads, expressed as columnar
    // expressions (same arithmetic as Multimodal.decodeStub; the typed
    // mapPartitions path is spec-covered).
    "q27_binary_meta" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          expr("case when doc_id % 3 = 0 then 'image' when doc_id % 3 = 1 then 'audio' else 'video' end")
            .as("kind"),
          length(encode(col("text"), "UTF-8")).as("n_bytes"),
          md5(col("text")).as("content_md5"))
        .withColumn("width", expr("cast(16 + n_bytes % 64 as int)"))
        .withColumn("height", expr("cast(16 + (n_bytes * 7) % 64 as int)"))
        .withColumn("duration_ms",
          expr("case when kind in ('audio', 'video') then cast(n_bytes as bigint) * 40 else cast(0 as bigint) end"))
        .orderBy(col("doc_id"))
    }),

    // Multimodal frame sampling as columnar arithmetic: every 4th
    // 256-byte window of each video payload becomes a frame reference
    // (offset + length) — the EXACT rule the typed Dataset path
    // (Multimodal.sampleFrames) applies via flatMap, re-expressed as
    // sequence+explode so the driver's DuckDB oracle can gate it;
    // MultimodalSpec asserts the two paths emit identical frames.
    "q69_frame_sample" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .filter(expr("doc_id % 3 = 2"))
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).as("nb"))
        .select(col("doc_id"), col("nb"),
          explode(expr(
            "sequence(0, greatest(cast(nb div 256 as int), 1) - 1, 4)"))
            .as("f"))
        .select(col("doc_id"), col("nb"),
          expr("cast(f as int)").as("frame_idx"),
          expr("cast(f * 256 as int)").as("offset"),
          expr("cast(least(256, nb - f * 256) as int)").as("frame_len"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Multimodal REAL image decode, end-to-end: a PNG payload is
    // encoded per doc_id on the executors (javax.imageio), rides the
    // engine as an opaque binary column, and is decoded back in
    // partition-batched mapPartitions. Dimensions and the fill color
    // are pure functions of the id, so the DECODED values are
    // oracle-checkable without DuckDB ever seeing the bytes — the gate
    // proves real compressed pixel data survived the round trip.
    // Ordering note (round 16, also q167/q173/q81/q178): a global
    // orderBy range-partitions, and RangePartitioner SAMPLES its child
    // — which re-executes the whole codec stage a second time per run.
    // repartition(1) + sortWithinPartitions yields the same totally
    // ordered output (one partition) with the decode stage executed
    // ONCE; the metadata rows being sorted are corpus-count-sized.
    "q72_image_decode" -> ((s, dir) => {
      graft.multimodal.Multimodal
        .extractImageMeta(graft.multimodal.Multimodal.imageMedia(s, dir))
        .toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("red"), col("green"), col("blue"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
    }),

    // Multimodal REAL image RESIZE, end-to-end (round 11 — the last
    // named pipeline stage after decode/feature-extract/frame-sample):
    // a GRADIENT PNG per doc (every pixel differs, so wrong sampling
    // changes the checksum) is decoded, nearest-neighbor downsampled to
    // 4×4 with the closed-form rule sx = x'·w div 4, RE-ENCODED, and
    // decoded again on the executors; the emitted dims and the
    // all-pixel checksum come from the second decode. The oracle
    // predicts the resized raster from the generator arithmetic — the
    // gate proves real resampled pixels survived two codec round trips.
    "q167_image_resize" -> ((s, dir) => {
      graft.multimodal.Multimodal
        .resizeImages(graft.multimodal.Multimodal.gradientMedia(s, dir))
        .toDF()
        .select(col("id").as("doc_id"), col("srcW").as("src_w"),
          col("srcH").as("src_h"), col("rw"), col("rh"), col("checksum"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
    }),

    // Multimodal REAL video decode, end-to-end (round 12 — the last
    // modality goes real): a multi-frame ANIMATED GIF is encoded per
    // doc_id on the executors (the JDK's GIF codec: LZW-compressed
    // rasters from an explicit palette + a GraphicControlExtension
    // delay per frame), rides the engine as an opaque binary column,
    // and is decoded back in partition-batched mapPartitions — frame
    // count, dimensions, summed per-frame delays, and the first/last
    // frames' pixels all come from the DECODER. Every value is a pure
    // function of the id, so the oracle gates the full container round
    // trip without DuckDB ever seeing bytes.
    "q173_video_decode" -> ((s, dir) => {
      graft.multimodal.Multimodal
        .extractVideoMeta(graft.multimodal.Multimodal.videoMedia(s, dir))
        .toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("nFrames").as("n_frames"),
          col("durationMs").as("duration_ms"),
          col("firstRgb").as("first_rgb"), col("lastRgb").as("last_rgb"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
    }),

    // Multimodal REAL audio decode, end-to-end (q72's audio twin): a
    // 16-bit PCM WAV payload is encoded per doc_id on the executors
    // (javax.sound.sampled — the JDK's WAV codec), rides the engine as
    // an opaque binary column, and is decoded back in partition-batched
    // mapPartitions. Sample rate, frame count, and the PCM sample
    // values at three offsets are pure functions of the id, so the
    // DECODED values are oracle-checkable without DuckDB ever seeing
    // the bytes — the gate proves real PCM frames survived the RIFF
    // container round trip. Video decode remains the documented stub
    // (the JDK ships no video codec).
    // REAL audio RESAMPLE (round 12): decode → nearest-sample to half
    // rate (src = i·n div n2) → re-encode → decode again; metadata,
    // three samples, and a position-weighted checksum over EVERY
    // sample of the second decode, all predicted by the generator
    // arithmetic in the oracle.
    "q178_audio_resample" -> ((s, dir) => {
      graft.multimodal.Multimodal
        .resampleAudioMeta(graft.multimodal.Multimodal.audioMedia(s, dir))
        .toDF()
        .select(col("id").as("doc_id"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"),
          col("firstSample").as("first_sample"),
          col("midSample").as("mid_sample"),
          col("lastSample").as("last_sample"),
          col("checksum"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
    }),

    // SAMPLED media QA (round 13): the codec family's sublinear job
    // shape — decode only the 'mq:' h60 lottery's ~1% winners, report
    // per-shard decode success + format stats with HT-scaled counts
    // and the q28 moment CIs. Deterministic membership + generator
    // arithmetic make every output column DuckDB-re-derivable without
    // the oracle ever touching bytes; the BENCH media_qa case measures
    // the sublinear cost against q81's full decode.
    "q182_media_qa_sampled" -> ((s, dir) => {
      graft.multimodal.Multimodal.mediaQaSampled(s, dir)
    }),

    "q81_audio_decode" -> ((s, dir) => {
      graft.multimodal.Multimodal
        .extractAudioMeta(graft.multimodal.Multimodal.audioMedia(s, dir))
        .toDF()
        .select(col("id").as("doc_id"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nSamples").as("n_samples"),
          col("firstSample").as("first_sample"),
          col("midSample").as("mid_sample"),
          col("lastSample").as("last_sample"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
    }),

    // AQP: sampled COUNT/SUM/AVG with Horvitz-Thompson scaling and CI
    // columns, through the FULL engine path (features -> chooser ->
    // planner -> rewrite), sampling systematically on l_orderkey —
    // deterministic membership means the approximate estimates AND all
    // nine CI companions are oracle-gated bit-for-bit against DuckDB
    // (every intermediate is a correctly-rounded IEEE op over exact
    // integer sums; l_quantity is integral). The seeded-Bernoulli
    // engine default stays spec-covered in QueryEngineSpec.
    "q28_aqp_sampled_agg" -> ((s, dir) => {
      val e = engineFor(s, dir)
      e.query(
        "SELECT count(*) AS n, sum(l_quantity) AS qty, avg(l_quantity) AS avg_qty FROM lineitem",
        e.Options(maxRelError = 0.1, systematicKey = Some("l_orderkey"))).df
    }),

    // AQP: COUNT(DISTINCT) answered by HyperLogLog++ (sketch strategy).
    "q29_aqp_hll_distinct" -> ((s, dir) => {
      engineFor(s, dir).query(
        "SELECT count(DISTINCT l_partkey) AS nd_part FROM lineitem").df
    }),

    // Oracle gate for the Horvitz-Thompson rewrite itself: run the FULL
    // rewrite machinery (count->sum(w), sum->sum(x*w), CI companions)
    // with the fraction forced to 1.0 — weights are exactly 1, so the
    // rewritten plan must hash-match the plain exact aggregate, CI
    // bounds collapse onto the estimate, and rel_error is exactly 0.
    // Deterministic because l_quantity is integral (double sums of exact
    // integers < 2^53 are order-independent); avg is excluded since its
    // CI companion uses stddev_samp, whose merge order differs across
    // engines in the last ulp.
    "q39_aqp_ht_identity" -> ((s, dir) => {
      Tables.ensureRegistered(s, dir)
      val parsed = s.sessionState.sqlParser.parsePlan(
        """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
      val d = graft.plan.SampleRewrite.Directive("lineitem",
        graft.plan.Planner.ReadExact,
        weight = Some(graft.plan.SampleRewrite.ConstWeight(1.0)),
        rewriteDistinctToHll = false, hllRsd = None, addCiColumns = true)
      graft.plan.SampleRewrite.rewrite(s, parsed, d)
    }),

    // Oracle gate for the STRATIFIED weight path (the WeightColumn twin
    // of q39's ConstWeight gate): a registered "stratified sample" that
    // is the full table with per-stratum HT weight exactly 1.0 must make
    // the weighted rewrite (count -> sum(w), sum -> sum(x*w)) hash-match
    // the plain exact aggregate. sum(o_custkey * 1.0) stays an exact
    // integer in double (< 2^53), so the double sum is order-independent
    // and cross-engine deterministic.
    "q43_stratified_identity" -> ((s, dir) => {
      Tables.ensureRegistered(s, dir)
      s.table("orders")
        .withColumn("graft_weight", lit(1.0))
        .createOrReplaceTempView("orders__strat_identity")
      val parsed = s.sessionState.sqlParser.parsePlan(
        """SELECT o_orderpriority, count(*) AS n, sum(o_custkey) AS sk
           FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      val d = graft.plan.SampleRewrite.Directive("orders",
        graft.plan.Planner.ReadSampleTable("orders__strat_identity", 1.0),
        weight = Some(graft.plan.SampleRewrite.WeightColumn("graft_weight")),
        rewriteDistinctToHll = false, hllRsd = None, addCiColumns = false)
      graft.plan.SampleRewrite.rewrite(s, parsed, d)
    }),

    // AQP: join-size estimation from AGMS (AMS/tug-of-war) sketches —
    // the cardinality-estimation primitive a cost-based AQP planner
    // uses to pick join strategies WITHOUT running the join. Each side
    // compresses to B signed bucket counters (one linear scan, counter
    // = sum of deterministic ±1 signs); est = <sketch_a, sketch_b>, an
    // unbiased estimator of the true join size. Because signs/buckets
    // derive from the engine's h60 hash, the ESTIMATE is deterministic
    // integer arithmetic and hash-matches DuckDB bit-for-bit — an
    // approximate operator with an exact cross-engine gate (like q45's
    // KMV). Scale shape: two map-side-combined aggregates to B rows
    // each, one B-row join; the exact companion pays the real join.
    "q62_join_size_agms" -> ((s, dir) => {
      val B = 1024L
      def sketch(df: DataFrame, key: String): DataFrame =
        df.select(expr(graft.queries.Dedup.h60Spark(
          s"concat('js:', cast($key as string))")).as("h"))
          .select(expr(s"cast(h % ${B}L as int)").as("bucket"),
            expr(s"case when (h div ${B}L) % 2 = 0 then 1L else -1L end").as("sgn"))
          .groupBy(col("bucket")).agg(sum(col("sgn")).as("c"))
      val so = sketch(Tables.load(s, dir, "orders"), "o_orderkey")
      val sl = sketch(Tables.load(s, dir, "lineitem"), "l_orderkey")
      val est = so.select(col("bucket"), col("c").as("ca"))
        .join(sl.select(col("bucket"), col("c").as("cb")), "bucket")
        .agg(sum(expr("ca * cb")).as("est_join_size"))
      val exact = Tables.load(s, dir, "orders").select(col("o_orderkey").as("k"))
        .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey").as("k")), "k")
        .agg(count(lit(1)).as("exact_join_size"))
      est.crossJoin(exact)
        .select(col("est_join_size"), col("exact_join_size"),
          expr("cast(est_join_size - exact_join_size as double) / cast(exact_join_size as double)")
            .as("rel_error"),
          lit(1024).as("n_buckets"))
    }),

    // Histogram strategy, END-TO-END oracle-gated: build the 64-bucket
    // equi-width histogram over orders.o_totalprice, then let the FULL
    // engine path (features -> storedPercentileAnswer) serve three
    // percentiles from it with no scan. Every step of the estimator —
    // grid (hi-lo)/64, bucket bracket, within-bucket interpolation — is
    // a single correctly-rounded IEEE op over exact counts, so DuckDB
    // recomputing the same chain from the same parquet hash-matches the
    // engine's answer bit-for-bit.
    "q74_hist_percentile" -> ((s, dir) => {
      val e = engineFor(s, dir)
      // built once per (session, dir), like the engine's samples: a
      // serving engine pays the two stats passes at profile time, not
      // per percentile query
      histograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createHistogram(s, e.catalog, "orders",
          "o_totalprice", 64)
        ()
      })
      val est = e.query(
        "SELECT percentile(o_totalprice, 0.25) AS p25, " +
          "percentile(o_totalprice, 0.5) AS p50, " +
          "percentile(o_totalprice, 0.9) AS p90 FROM orders").df
      // Exact companion + realized error, so the one-bucket-width
      // bound is MEASURED (q61's treatment): decimal-rounded type-7
      // percentiles are cross-engine bit-portable, and est - exact is
      // then a single deterministic subtraction. bucket_width is the
      // engine's published error bound for the same sketch grid.
      val exact = Tables.load(s, dir, "orders").agg(
        Analytics.pctArr("o_totalprice", Seq("0.25", "0.5", "0.9")).as("pcts"),
        expr("(cast(max(o_totalprice) as double) - cast(min(o_totalprice) as double)) / 64")
          .as("bucket_width"))
        .select(Analytics.pctAt("pcts", 0, "x25"),
          Analytics.pctAt("pcts", 1, "x50"),
          Analytics.pctAt("pcts", 2, "x90"), col("bucket_width"))
      est.crossJoin(exact)
        .withColumn("err_p25", expr("p25 - x25"))
        .withColumn("err_p50", expr("p50 - x50"))
        .withColumn("err_p90", expr("p90 - x90"))
    }),

    // q74's histogram strategy PER GROUP: the engine answers
    // `SELECT g, percentile(x, p) ... GROUP BY g` from a stored
    // grouped histogram (one [min,max] grid per o_orderstatus group,
    // built once, no scan at query time) and the oracle re-derives
    // every per-group grid, bucket assignment, and fixed-association
    // interpolation in SQL — all served values hash-match DuckDB
    // bit-for-bit, and the exact decimal-rounded type-7 percentile
    // companions make the one-bucket-width-per-group bound MEASURED
    // (err_p50/err_p90 columns).
    "q84_grouped_hist" -> ((s, dir) => {
      val e = engineFor(s, dir)
      groupedHistograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "orders", "o_orderstatus", "o_totalprice", 64)
        ()
      })
      val est = e.query(
        "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS p50, " +
          "percentile(o_totalprice, 0.9) AS p90 " +
          "FROM orders GROUP BY o_orderstatus").df
      val exact = Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("g2"))
        .agg(
          Analytics.pctArr("o_totalprice", Seq("0.5", "0.9")).as("pcts"),
          expr("(cast(max(o_totalprice) as double) - cast(min(o_totalprice) as double)) / 64")
            .as("bucket_width"))
        .select(col("g2"), Analytics.pctAt("pcts", 0, "x50"),
          Analytics.pctAt("pcts", 1, "x90"), col("bucket_width"))
      est.join(exact, col("o_orderstatus") === col("g2")).drop("g2")
        .withColumn("err_p50", expr("p50 - x50"))
        .withColumn("err_p90", expr("p90 - x90"))
        .orderBy(col("o_orderstatus"))
    }),

    // Statistics strategy end-to-end: the histogram build records exact
    // column stats (min/max/nnull/decimal-portable sum) and the engine
    // answers a bare MIN/MAX/COUNT/SUM/AVG query entirely from the
    // catalog — no scan, no error. The served plan_type rides along as
    // a column, so a silent fallback to the (equally exact) scan path
    // goes RED instead of passing by accident.
    "q85_stats_serve" -> ((s, dir) => {
      val e = engineFor(s, dir)
      histograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createHistogram(s, e.catalog, "orders",
          "o_totalprice", 64)
        ()
      })
      val r = e.query(
        "SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx, " +
          "sum(o_totalprice) AS sm, avg(o_totalprice) AS av, " +
          "count(o_totalprice) AS nv, count(*) AS nr FROM orders")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // q85's statistics strategy PER GROUP: the grouped-histogram build
    // also records exact per-group stats (min/max, counts, the
    // decimal-portable sum as an unscaled integer) and the engine
    // answers `SELECT g, MIN/MAX/COUNT/SUM/AVG ... GROUP BY g` from
    // that blob — no scan, no error. plan_type rides as a column so an
    // exact-path fallback goes red.
    "q86_grouped_stats" -> ((s, dir) => {
      val e = engineFor(s, dir)
      groupedHistograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "orders", "o_orderstatus", "o_totalprice", 64)
        ()
      })
      val r = e.query(
        "SELECT o_orderstatus, min(o_totalprice) AS mn, " +
          "max(o_totalprice) AS mx, sum(o_totalprice) AS sm, " +
          "avg(o_totalprice) AS av, count(o_totalprice) AS nv, " +
          "count(*) AS nr FROM orders GROUP BY o_orderstatus")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("o_orderstatus"))
    }),

    // Filtered-group dispatch end-to-end: `WHERE o_orderstatus = 'F'`
    // names ONE group, and the engine answers stats (exact) AND a
    // percentile (one bucket width of group F's own grid) from the
    // grouped blobs with no scan — catalog-level partition pruning.
    // The oracle re-derives group F's grid chain (q84's derivation
    // restricted to the named group) plus the exact stats; plan_type
    // rides as a column so a scan fallback goes red.
    "q87_filtered_group" -> ((s, dir) => {
      val e = engineFor(s, dir)
      groupedHistograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "orders", "o_orderstatus", "o_totalprice", 64)
        ()
      })
      val r = e.query(
        "SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx, " +
          "sum(o_totalprice) AS sm, avg(o_totalprice) AS av, " +
          "count(o_totalprice) AS nv, count(*) AS nr, " +
          "percentile(o_totalprice, 0.5) AS p50 " +
          "FROM orders WHERE o_orderstatus = 'F'")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // IN-list group merging end-to-end: `WHERE o_orderstatus IN
    // ('F','P')` names TWO groups and the engine merges their stored
    // stat records EXACTLY (min/max monotone, counts and the unscaled
    // decimal sum additive — GroupedStats.merge) before answering:
    // zero scan, zero error, catalog-level partition pruning over a
    // multi-group predicate. The oracle computes the same aggregates
    // over the union directly (decimal addition is exact, so merging
    // per-group sums equals summing the union); plan_type rides as a
    // column so a scan fallback goes red.
    "q88_filtered_in_stats" -> ((s, dir) => {
      val e = engineFor(s, dir)
      groupedHistograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "orders", "o_orderstatus", "o_totalprice", 64)
        ()
      })
      val r = e.query(
        "SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx, " +
          "sum(o_totalprice) AS sm, avg(o_totalprice) AS av, " +
          "count(o_totalprice) AS nv, count(*) AS nr " +
          "FROM orders WHERE o_orderstatus IN ('F', 'P')")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Deterministic twin of the engine's IN-list COUNT(DISTINCT) serve
    // (the q73/q83 treatment): per-group HLL registers over the named
    // groups are REGISTER-MAX MERGED — exactly what the engine does to
    // its stored hll_grouped blobs for `WHERE g IN (...)` — and only
    // then estimated. Integer-scaled register sums keep the estimate a
    // single exact division, so the union-estimate arithmetic is
    // oracle-gated bit-for-bit (the engine's own SHA-256 sketch is
    // spec-gated byte-level; this gates the merge+estimate math).
    "q89_merged_hll" -> ((s, dir) => {
      val num = (0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0
        * 1073741824.0).toString
      val regs = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("g"),
          expr(graft.queries.Dedup.h60Spark(
            "concat('fhll:', cast(l_orderkey as string))")).as("h"))
        .select(col("g"), expr("cast(h % 1024 as int)").as("b"),
          expr("h div 1024").as("rest"))
        .groupBy(col("g"), col("b"))
        .agg(max(expr(
          "case when rest = 0 then 51 else 51 - length(bin(rest)) end"))
          .as("rho"))
      // register-max union of the two groups' registers = the engine's
      // Hll.merge over the named groups
      val merged = regs.groupBy(col("b")).agg(max(col("rho")).as("rho"))
      val est = merged.agg(count(lit(1)).as("nb"),
          sum(expr("shiftleft(cast(1 as bigint), 30 - least(rho, 30))"))
            .as("sp"))
        .select(expr("cast(1024 - nb as int)").as("v_empty"),
          expr("cast(sp + (1024 - nb) * 1073741824 as bigint)")
            .as("s_scaled"))
        .withColumn("est_raw", expr(
          s"cast('$num' as double) / cast(s_scaled as double)"))
      val exact = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .agg(countDistinct(col("l_orderkey")).as("n_exact"))
      est.crossJoin(exact)
        .withColumn("rel_error", expr(
          "(est_raw - cast(n_exact as double)) / cast(n_exact as double)"))
    }),

    // Filtered GROUP BY percentile end-to-end: `WHERE o_orderstatus IN
    // ('F','P') GROUP BY o_orderstatus` + percentile is answerable
    // even though per-group grids don't merge — the GROUP BY keeps the
    // groups separate, so the engine serves a UNION of single-group
    // lookups (one row per named group, each interpolated on its own
    // grid; the q84 serve pruned to the IN-list with zero scan). The
    // oracle re-derives the named groups' grid chains; plan_type rides
    // as a column so a scan fallback goes red.
    "q91_filtered_group_pct" -> ((s, dir) => {
      val e = engineFor(s, dir)
      groupedHistograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "orders", "o_orderstatus", "o_totalprice", 64)
        ()
      })
      val r = e.query(
        "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS p50 " +
          "FROM orders WHERE o_orderstatus IN ('F', 'P') " +
          "GROUP BY o_orderstatus")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("o_orderstatus"))
    }),

    // Composite-key grouped stats end-to-end: a two-column
    // `GROUP BY l_returnflag, l_linestatus` (the data-card rollup
    // shape) answers MIN/MAX/COUNT/SUM/AVG per (flag, status) pair
    // from ONE stored blob with zero scan — per-tuple stat records
    // keyed by Spark's to_json(array(...)) rendering, dispatched on
    // column-SET equality (any group order), components permuted into
    // the query's order. The oracle computes the same aggregates
    // directly over the composite GROUP BY (the q86 recipe, two key
    // columns); plan_type rides as a column so a scan fallback goes
    // red.
    "q92_composite_stats" -> ((s, dir) => {
      val e = engineFor(s, dir)
      compositeHists.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64)
        ()
      })
      val r = e.query(
        "SELECT l_returnflag, l_linestatus, min(l_quantity) AS mn, " +
          "max(l_quantity) AS mx, sum(l_quantity) AS sm, " +
          "avg(l_quantity) AS av, count(l_quantity) AS nv, count(*) AS nr " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // PARTIAL-KEY dispatch end-to-end: `WHERE l_returnflag IN ('A','N')
    // GROUP BY l_linestatus` is served from the COMPOSITE
    // (l_returnflag, l_linestatus) blob — the filter prunes composite
    // keys on the returnflag component, and the returnflag dimension
    // is collapsed per l_linestatus by the EXACT stat merge (min/max
    // monotone, counts and the unscaled decimal sum additive), so the
    // answer equals direct aggregation over the filtered rows. Zero
    // scan. The in-query assert pins the grouped_stats serve (a scan
    // fallback would also flunk the plan_type column).
    "q94_partial_key_stats" -> ((s, dir) => {
      val e = engineFor(s, dir)
      compositeHists.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64)
        ()
      })
      val r = e.query(
        "SELECT l_linestatus, min(l_quantity) AS mn, " +
          "max(l_quantity) AS mx, sum(l_quantity) AS sm, " +
          "avg(l_quantity) AS av, count(l_quantity) AS nv, count(*) AS nr " +
          "FROM lineitem WHERE l_returnflag IN ('A', 'N') " +
          "GROUP BY l_linestatus")
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_stats"),
        s"q94 must serve from the composite blob via partial-key " +
          s"dispatch: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("l_linestatus"))
    }),

    // ORDER BY / LIMIT / HAVING replayed over a catalog serve: the
    // top-k heavy-hitters dashboard shape (`GROUP BY g ORDER BY cnt
    // DESC LIMIT k`) answers from the same grouped stats blob q86
    // serves, with zero scan — the peeled clauses replay driver-side
    // over the blob's bounded rows in SQL's own evaluation order
    // (HAVING → ORDER BY → LIMIT). The in-query assert pins the
    // serve; a scan fallback would also flunk the plan_type column.
    "q97_topk_serve" -> ((s, dir) => {
      val e = engineFor(s, dir)
      groupedHistograms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createGroupedHistogram(s, e.catalog,
          "orders", "o_orderstatus", "o_totalprice", 64)
        ()
      })
      val r = e.query(
        "SELECT o_orderstatus, count(o_totalprice) AS cnt, " +
          "avg(o_totalprice) AS av FROM orders GROUP BY o_orderstatus " +
          "HAVING count(o_totalprice) > 0 " +
          "ORDER BY cnt DESC, o_orderstatus LIMIT 2")
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_stats"),
        s"q97 must serve the top-k shape from the grouped stats blob: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Composite-key automatic join AQP end-to-end: `ON o_orderkey =
    // l_orderkey AND o_orderstatus = l_linestatus` is costed from
    // stored AGMS sketches over the COMPOSITE key (components hashed
    // as one tuple; the sketches are looked up under the comma-joined
    // key name) — the decision engages with no flag, the fact side is
    // sampled by the deterministic 'sys:' keyed-hash lottery (tier
    // 0.02 -> threshold 200, weight exactly 50.0 — q77's constants)
    // and the dim stays exact, so DuckDB re-derives the estimates
    // bit-for-bit with the composite join condition applied to the
    // same membership.
    "q93_composite_join_aqp" -> ((s, dir) => {
      val e = joinEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(l_quantity) AS qty_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "AND o_orderstatus = l_linestatus",
        e.Options(maxRelError = 0.1, systematicKey = Some("l_orderkey"),
          ciColumns = false))
      assert(r.strategy == "sample_join" && r.reason.contains("AGMS"),
        s"q93 must take the automatic composite-key join AQP path: " +
          s"${r.strategy} (${r.reason})")
      r.df
    }),

    // Snowflake (dim-dim chain) automatic join AQP end-to-end:
    // lineitem → orders → customer, where the orders⋈customer edge
    // touches no fact column. The costed decision composes the two
    // AGMS edge estimates along the oriented tree
    // (J = |L| · (J_LO/|L|) · (J_OC/|O|)); the fact is sampled by the
    // deterministic 'sys:' keyed-hash lottery (sf0.01 lineitem ->
    // 0.02 tier -> threshold 200, weight exactly 50.0 — q77's
    // constants) and the WHOLE CHAIN stays exact, so DuckDB re-derives
    // the estimates bit-for-bit from the same membership.
    "q96_snowflake_join_aqp" -> ((s, dir) => {
      val e = snowEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(l_quantity) AS qty_est " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey",
        e.Options(maxRelError = 0.1, systematicKey = Some("l_orderkey"),
          ciColumns = false))
      assert(r.strategy == "sample_join" && r.reason.contains("AGMS"),
        s"q96 must take the automatic snowflake-chain join AQP path: " +
          s"${r.strategy} (${r.reason})")
      r.df
    }),

    // Count-Min IN-list point frequency end-to-end: `count(*) WHERE
    // o_orderstatus IN ('F','P')` is answered as the SUM of the two
    // keys' CMS estimates (overestimate-only survives addition) with
    // zero scan, under a widened |list|*eps budget. The whole CMS is
    // deterministic given the data — SHA-256 row hashes, w=272/d=5
    // from eps=delta=0.01 (sketches.py:154-237 parity) — so the oracle
    // re-derives the exact counter lookups in SQL (first 8 bytes of
    // SHA-256 little-endian as a HUGEINT, mod w, min over the d rows,
    // summed across the IN-list keys) and lands on the identical
    // integer; plan_type rides as a column so a scan fallback goes red.
    "q90_cms_inlist" -> ((s, dir) => {
      val e = engineFor(s, dir)
      cmsSketches.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createCms(s, e.catalog,
          "orders", "o_orderstatus")
        ()
      })
      val r = e.query(
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus IN ('F', 'P')")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Composite-key CMS end-to-end: a conjunctive equality/IN frequency
    // (`o_orderstatus = 'F' AND o_orderpriority IN (...)`) serves as
    // the SUM over the tuple cross-product from ONE CMS keyed on the
    // to_json tuple rendering. The oracle re-derives the full
    // arithmetic in DuckDB — the tuple key rebuilt by concatenation
    // (these values are free of JSON metachars; byte-parity of the
    // general renderer is SketchSpec-gated), SHA-256 LE-64 hugeint
    // buckets, min over d rows, summed over the tuples — and
    // hash-matches the served integer. The assert pins the serve.
    "q98_composite_cms" -> ((s, dir) => {
      val e = engineFor(s, dir)
      compositeCms.getOrElseUpdate((s, dir), {
        graft.sketch.SketchOps.createCms(s, e.catalog, "orders",
          Seq("o_orderstatus", "o_orderpriority"), 0.01, 0.01)
        ()
      })
      val r = e.query(
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F' " +
          "AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')")
      assert(r.servedFromCatalog && r.serveKind.contains("cms"),
        s"q98 must serve from the composite Count-Min sketch: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // SHARED-GRID histogram merge end-to-end: a global-aggregate
    // percentile under `WHERE o_orderstatus IN ('F','P')` — the shape
    // per-group grids refuse — serves by ADDING the named groups'
    // bucket counts (one global [min,max] grid for every group, so
    // count addition is exactly the filtered union's histogram) and
    // interpolating once. The oracle re-derives the global grid, the
    // filtered bucket counts, and the q74 interpolation chain in
    // DuckDB; the assert pins the zero-scan serve and plan_type rides
    // as a column so a fallback goes red.
    "q99_merged_pct" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders " +
          "WHERE o_orderstatus IN ('F', 'P')")
      assert(r.servedFromCatalog && r.serveKind.contains("filtered_group"),
        s"q99 must merge the shared-grid group histograms: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // PARTIAL-KEY percentile end-to-end: `WHERE l_returnflag IN
    // ('A','N') GROUP BY l_linestatus` over the composite
    // (l_returnflag, l_linestatus) SHARED-GRID blob — composite keys
    // prune on the returnflag component and the filtered-out dimension
    // collapses per l_linestatus by adding bucket counts (exact on the
    // one global grid), closing the percentile gap q94's stats-only
    // collapse left open. The oracle derives the same global grid and
    // per-status filtered counts; the assert pins the serve.
    // DISTINCT-keys serve end-to-end: a keys-only GROUP BY (the
    // filter-dropdown query) answers from the composite grouped blob's
    // recorded group set — complete by the MaxHllGroups build refusal,
    // retired by the freshness guard, zero scan, zero error; the
    // ORDER BY replays driver-side over the served string keys
    // (round-10 peel). The oracle is the plain DISTINCT.
    "q101_distinct_serve" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag, l_linestatus FROM lineitem " +
          "GROUP BY l_returnflag, l_linestatus " +
          "ORDER BY l_returnflag, l_linestatus")
      assert(r.servedFromCatalog && r.serveKind.contains("distinct_keys"),
        s"q101 must serve the key list from the grouped blob: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Histogram RANGE-COUNT serve end-to-end: `count(*) WHERE
    // o_totalprice BETWEEN-style bounds` interpolates the stored
    // equi-width histogram's bucket counts — interior buckets exact,
    // boundary buckets fractional — with zero scan; the reported error
    // bound is the boundary buckets' mass over the estimate. The
    // estimate is a fixed association of single divisions, so the
    // oracle re-derives the grid, the bucket counts, and the same
    // arithmetic in DuckDB and hash-matches the double bit-for-bit.
    "q103_range_count" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est FROM orders " +
          "WHERE o_totalprice >= 50000 AND o_totalprice < 150000",
        e.Options(maxRelError = 0.2))
      assert(r.servedFromCatalog && r.serveKind.contains("histogram_range"),
        s"q103 must interpolate the stored histogram: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Range SUM/AVG from the sum-augmented histogram: the histogram
    // build also records per-bucket exact decimal sums ("histsum"), so
    // count(*), sum(x), and avg(x) under a range on x all serve by
    // interpolation with zero scan — interior buckets exact (unscaled
    // decimal addition, one cast), boundary buckets fractional, AVG
    // one division of the two estimates. Every step is a fixed
    // association the oracle re-derives bit-for-bit.
    "q106_range_sum" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(o_totalprice) AS s_est, " +
          "avg(o_totalprice) AS a_est FROM orders " +
          "WHERE o_totalprice >= 50000 AND o_totalprice < 150000",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("histogram_range"),
        s"q106 must interpolate count+sum+avg from the stored " +
          s"histogram and histsum blobs: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // EXACT COUNT(DISTINCT) from the grouped blob's key list: the
    // composite (l_returnflag, l_linestatus) blob records every group
    // (builders refuse past MaxHllGroups), so the distinct tuple count
    // is the number of all-non-NULL keys — zero scan, zero error,
    // preempting the HLL estimate for exactly these columns.
    "q105_distinct_count" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT count(DISTINCT l_returnflag, l_linestatus) AS nd " +
          "FROM lineitem")
      assert(r.servedFromCatalog && r.serveKind.contains("distinct_count"),
        s"q105 must count the recorded group list exactly: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // KMV set-operation cardinality end-to-end (the Theta-sketch use
    // case): |orders.o_custkey ∩ customer.c_custkey| — "how many
    // customers placed an order" as a pure set-intersection count —
    // answered from the two stored bottom-k hash sketches with ZERO
    // scan. The estimator is fully deterministic given the data (q45's
    // portable h60 chain), so the oracle re-derives the union bottom-k,
    // the matched-tuple proportion, and the (k-1)*2^60/θ estimate
    // bit-for-bit in DuckDB — at small SFs the union is under k and the
    // serve is EXACT; at larger SFs the same query serves the saturated
    // estimate under the matched-proportion error bound.
    "q107_kmv_intersect" -> ((s, dir) => {
      val e = kmvEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n FROM (SELECT o_custkey FROM orders " +
          "INTERSECT SELECT c_custkey FROM customer) t",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("kmv_setop"),
        s"q107 must serve the INTERSECT count from the KMV pair: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // UNION twin: |orders.o_custkey ∪ customer.c_custkey| — the union
    // bottom-k's own estimate, completing the oracle-gated set-op trio
    // (intersect q107, except q108).
    "q114_kmv_union" -> ((s, dir) => {
      val e = kmvEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n FROM (SELECT o_custkey FROM orders " +
          "UNION SELECT c_custkey FROM customer) t",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("kmv_setop"),
        s"q114 must serve the UNION count from the KMV pair: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // EXCEPT twin: customers with no tracked events, |customer.c_custkey
    // \ events.user_id| (the testdata's event users are a strict subset
    // of customers, so the difference set is real) — the A-only tuples
    // of the union bottom-k scale the same union estimate. Same
    // zero-scan serve, same deterministic oracle chain. An EXCEPT whose
    // truth is ~0 (e.g. customer \ orders here) deliberately REFUSES:
    // zero A-only tuples admit no relative bound, so the engine falls
    // back to exact instead of serving noise.
    "q108_kmv_except" -> ((s, dir) => {
      val e = kmvEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n FROM (SELECT c_custkey FROM customer " +
          "EXCEPT SELECT user_id FROM events) t",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("kmv_setop"),
        s"q108 must serve the EXCEPT count from the KMV pair: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Range-restricted PERCENTILE end-to-end (round 10): the p50/p90
    // of o_totalprice AMONG the rows inside [50000, 150000) — the
    // histogram's bucket masses clipped to the range bracket the rank
    // (boundary buckets fractional, interior exact-integer
    // cumulatives, every float step a fixed association), so the
    // price-band percentile dashboard serves with zero scan. The
    // oracle re-derives the full Histogram.rangePercentile chain in
    // DuckDB — grid, clamped positions, segment rule, clamps — and
    // hash-matches both estimates bit-for-bit.
    "q111_range_pct" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT percentile(o_totalprice, 0.5) AS p50, " +
          "percentile(o_totalprice, 0.9) AS p90 FROM orders " +
          "WHERE o_totalprice >= 50000 AND o_totalprice < 150000",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("histogram_range"),
        s"q111 must interpolate the range percentiles from the stored " +
          s"histogram: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // GROUPED range percentile end-to-end: per-status p50 of
    // o_totalprice AMONG the rows inside [50000, 150000) — each
    // recorded group's own histogram (here on the shared grid) clipped
    // to the range and walked with the q111 segment rule; one row per
    // group with positive in-range mass, zero scan. The oracle
    // re-derives the global grid, per-group clipped masses, and the
    // per-group segment walk in DuckDB and hash-matches every group.
    "q113_grouped_range_pct" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, count(*) AS n_est, " +
          "percentile(o_totalprice, 0.5) AS p50 FROM orders " +
          "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog &&
        r.serveKind.contains("grouped_histogram_range"),
        s"q113 must serve per-group range count+percentile from the " +
          s"grouped histograms: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Heavy-hitters top-k end-to-end: the most frequent l_partkey
    // values — a HIGH-cardinality key whose grouped blobs refuse to
    // build (20k distinct at sf0.1 > MaxHllGroups) — answered EXACTLY
    // from the stored "topk" blob with zero scan: every unstored group
    // counts below the build threshold, so the count-DESC top-10 can
    // only contain stored groups. The key tie-break makes the kept row
    // SET deterministic (counts tie heavily in this data); the oracle
    // is the plain SQL.
    "q109_topk_serve" -> ((s, dir) => {
      val e = topkEngineFor(s, dir)
      val r = e.query(
        "SELECT l_partkey, count(*) AS c FROM lineitem " +
          "GROUP BY l_partkey ORDER BY c DESC, l_partkey LIMIT 10")
      assert(r.servedFromCatalog && r.serveKind.contains("topk"),
        s"q109 must serve the top-k from the heavy-hitters blob: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Star-aggregate serve: revenue by supplier nation over
    // lineitem ⋈ supplier answered WITHOUT scanning the fact — the
    // fact's grouped-stats blob on the l_suppkey join key supplies
    // exact per-supplier aggregates (complete group list), only
    // supplier is read (restricted to the blob's keys), and each
    // supplier row folds its key's stats into its nation exactly
    // (min/max monotone, counts and decimal sums additive == inner
    // join aggregation). At 100 TB the fact scan + join shuffle of
    // the most common star-schema dashboard becomes a dim-only scan.
    "q126_star_group" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, count(*) AS cnt, " +
          "sum(l_extendedprice) AS rev, min(l_extendedprice) AS mn, " +
          "max(l_extendedprice) AS mx, avg(l_extendedprice) AS av " +
          "FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "GROUP BY s_nationkey")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q126 must serve the star aggregate from the fact's grouped " +
          s"blob: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"))
    }),

    // FILTERED star dashboard: a DIM-side WHERE + ORDER BY/LIMIT over
    // the star serve — the filter restricts which supplier rows fold
    // (the dim is scanned anyway; the fact still never is), the peel
    // replays driver-side over the complete served row set. Exact.
    "q128_star_filtered" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, count(*) AS cnt, " +
          "sum(l_extendedprice) AS rev FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "WHERE s_nationkey < 13 GROUP BY s_nationkey " +
          "ORDER BY rev DESC, s_nationkey LIMIT 5")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q128 must serve the filtered star dashboard from the fact's " +
          s"grouped blob: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // SNOWFLAKE star: revenue by NATION NAME over lineitem ⋈ supplier
    // ⋈ nation — the dim SIDE is a join tree (supplier → nation),
    // executed as real small-table joins, while the fact is still a
    // catalog lookup (the l_suppkey blob's exact per-supplier stats
    // fold through supplier's nationkey into each nation's cell).
    // Exact; at 100 TB the TPC-H-Q5-style rollup pays dim joins only.
    "q129_snowflake_star" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT n_name, count(*) AS cnt, sum(l_extendedprice) AS rev " +
          "FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "JOIN nation ON supplier.s_nationkey = nation.n_nationkey " +
          "GROUP BY n_name")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q129 must serve the snowflake star from the fact's grouped " +
          s"blob: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType)).orderBy(col("n_name"))
    }),

    // Star PERCENTILE: the per-nation median price over lineitem ⋈
    // supplier — each nation's histogram is the SUM of its suppliers'
    // shared-grid bucket counts (exact integer additions on one global
    // grid), interpolated once per nation with the q74 rule. Zero fact
    // scan; the estimate is deterministic, so the full chain is
    // oracle-gated bit-for-bit.
    "q127_star_pct" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, percentile(l_extendedprice, 0.5) AS p50 " +
          "FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "GROUP BY s_nationkey")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q127 must serve the star percentile from the shared-grid " +
          s"grouped histogram: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"))
    }),

    // STAR-RANGE serve (round 10): the drill-down dashboard — a value
    // band on the FACT measure, grouped by a dim attribute, with the
    // fact never scanned. Per nation, the suppliers' shared-grid
    // histogram bucket counts and the histsum rider's decimal sums
    // merge exactly (integer/BigInt additions on one global grid),
    // then the q118 range arithmetic runs once per nation: counts
    // from clipped bucket masses, sums interior-exact + boundary-
    // fractional, AVG one division. Deterministic, so the whole chain
    // is re-derived in DuckDB and hash-matched. At 100 TB the exact
    // side pays the filtered fact scan + join shuffle; the serve is
    // blob decode + a dim-only scan.
    "q130_star_range" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, count(*) AS n_est, " +
          "sum(l_extendedprice) AS s_est, avg(l_extendedprice) AS a_est " +
          "FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "WHERE l_extendedprice >= 2000 AND l_extendedprice < 30000 " +
          "GROUP BY s_nationkey",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("star_range"),
        s"q130 must interpolate the star band from the fact's fk-keyed " +
          s"histogram + rider blobs: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"))
    }),

    // FACT-side equality star (round 10): `WHERE l_returnflag = 'R'
    // GROUP BY s_nationkey` served from the COMPOSITE (l_suppkey,
    // l_returnflag) blob — entries prune on the typed literal and
    // collapse to per-supplier records with the exact partial-key
    // merge (counts and decimal sums additive), then fold through the
    // dim exactly like the unfiltered star. EXACT (0.0 error), fact
    // never scanned; at 100 TB the most common filtered dashboard
    // (revenue by dim attribute for one category) stays a catalog
    // lookup + dim-only scan.
    "q131_star_filtered_fact" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, count(*) AS cnt, sum(l_quantity) AS sq, " +
          "avg(l_quantity) AS aq FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "WHERE l_returnflag = 'R' GROUP BY s_nationkey")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q131 must serve the fact-filtered star from the composite " +
          s"blob: ${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q131 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"))
    }),

    // MIXED GROUP BY star (round 10): `GROUP BY s_nationkey,
    // l_returnflag` — a dim attribute crossed with a FACT column. The
    // fact component of the composite (l_suppkey, l_returnflag) key
    // becomes a served dimension: each supplier row expands into one
    // cell per recorded flag, counts and decimal sums add exactly.
    // EXACT, fact never scanned — the crossed rollup every BI tool
    // fires at a star schema.
    "q132_star_crossed" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, l_returnflag, count(*) AS cnt, " +
          "sum(l_quantity) AS sq FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "GROUP BY s_nationkey, l_returnflag")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q132 must serve the crossed rollup from the composite blob: " +
          s"${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q132 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"), col("l_returnflag"))
    }),

    // Star-range UNDER a fact filter (round 10): `WHERE l_returnflag =
    // 'R' AND l_quantity in [10, 40) GROUP BY s_nationkey` — the full
    // drill-down. The composite (l_suppkey, l_returnflag) histogram +
    // rider prune on 'R', collapse per supplier on the shared global
    // grid, fold per nation, and the q118 range arithmetic runs once
    // per nation. Deterministic; the whole chain re-derived in DuckDB.
    "q133_star_range_filtered" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, count(*) AS n_est, " +
          "sum(l_quantity) AS s_est, avg(l_quantity) AS a_est " +
          "FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "WHERE l_returnflag = 'R' " +
          "AND l_quantity >= 10 AND l_quantity < 40 " +
          "GROUP BY s_nationkey",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("star_range"),
        s"q133 must interpolate the filtered star band from the " +
          s"composite blob: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"))
    }),

    // TIME-SERIES dashboard (round 10): per-day order counts and
    // revenue GROUP BY the TIMESTAMP column — served EXACTLY from the
    // o_orderdate-keyed grouped-stats blob with TYPED timestamp keys
    // (the blob's canonical string renderings parse back in the UTC
    // session zone), ORDER BY the date + LIMIT replaying driver-side.
    // At 100 TB the daily-rollup dashboard — the most common BI query
    // there is — becomes a catalog lookup.
    "q134_date_key_serve" -> ((s, dir) => {
      val e = dateEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderdate, count(*) AS cnt, " +
          "sum(o_totalprice) AS st, avg(o_totalprice) AS at " +
          "FROM orders GROUP BY o_orderdate " +
          "ORDER BY o_orderdate LIMIT 100")
      assert(r.servedFromCatalog,
        s"q134 must serve the per-day rollup from the date-keyed " +
          s"blob: ${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q134 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // DATE-RANGE key dispatch (round 10): `WHERE o_orderdate >= ts AND
    // < ts GROUP BY o_orderdate` — the "last N days" dashboard. The
    // timestamp comparisons widen to session-zone epoch micros and
    // prune the blob's recorded day keys exactly (the same
    // chronological comparison exact execution applies), then the
    // stats serve answers the surviving days with zero scan.
    "q135_date_range_serve" -> ((s, dir) => {
      val e = dateEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderdate, count(*) AS cnt, sum(o_totalprice) AS st " +
          "FROM orders " +
          "WHERE o_orderdate >= TIMESTAMP '1999-06-01 00:00:00' " +
          "AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00' " +
          "GROUP BY o_orderdate ORDER BY o_orderdate")
      assert(r.servedFromCatalog,
        s"q135 must prune the date keys and serve from the blob: " +
          s"${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q135 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // MARGINAL rollup from a WIDE composite blob (round 10): `GROUP BY
    // l_returnflag` served from the (l_returnflag, l_linestatus) blob
    // by collapsing the unused l_linestatus dimension — summing a
    // complete partition over the unused key IS the exact marginal, so
    // ONE wide blob serves every narrower rollup its components span.
    // Zero new builds: this query reuses q113's composite blob.
    "q136_marginal_rollup" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag, count(*) AS nr, sum(l_quantity) AS sq, " +
          "avg(l_quantity) AS aq, min(l_quantity) AS mn, " +
          "max(l_quantity) AS mx FROM lineitem GROUP BY l_returnflag " +
          "ORDER BY l_returnflag")
      assert(r.servedFromCatalog,
        s"q136 must collapse the wide composite blob to the marginal: " +
          s"${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q136 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // MARGINAL collapse through the STAR (round 10): the plain star
    // rollup of l_quantity by nation, whose ONLY l_quantity blob is
    // the composite (l_suppkey, l_returnflag) one — the flag axis
    // collapses to per-supplier records before the dim fold. Zero new
    // builds; one wide blob serves the filtered (q131), crossed
    // (q132), banded (q133), and now PLAIN star shapes.
    "q137_star_marginal" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, count(*) AS cnt, sum(l_quantity) AS sq " +
          "FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "GROUP BY s_nationkey")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q137 must collapse the composite blob through the star: " +
          s"${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q137 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"))
    }),

    // Star-range COMPOSED with a dim-side WHERE (round 10): the
    // filtered drill-down — a fact-side value band AND a dim filter in
    // one query; the dim filter restricts which supplier rows fold,
    // the band interpolates per surviving nation. Fact never scanned.
    "q142_star_range_dim_where" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT s_nationkey, count(*) AS n_est, " +
          "sum(l_extendedprice) AS s_est FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "WHERE s_nationkey < 13 " +
          "AND l_extendedprice >= 2000 AND l_extendedprice < 30000 " +
          "GROUP BY s_nationkey",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("star_range"),
        s"q142 must compose the dim filter with the star band: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("s_nationkey"))
    }),

    // SNOWFLAKE star-range (round 10): the band drills through a
    // 3-table chain — lineitem ⋈ supplier ⋈ nation GROUP BY n_name
    // with a fact-side price band; the dim side executes as real
    // small-table joins, the fact stays a blob lookup.
    "q143_snowflake_star_range" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT n_name, count(*) AS n_est, " +
          "sum(l_extendedprice) AS s_est FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "JOIN nation ON supplier.s_nationkey = nation.n_nationkey " +
          "WHERE l_extendedprice >= 2000 AND l_extendedprice < 30000 " +
          "GROUP BY n_name",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("star_range"),
        s"q143 must drill the band through the snowflake chain: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType)).orderBy(col("n_name"))
    }),

    // Log-linear (HDR) sketch strategy, END-TO-END oracle-gated
    // (round 11): RELATIVE-error percentiles served from the
    // corrected-log2 log-linear sketch with no scan — the heavy-tail
    // complement to q74's equi-width grid, whose absolute bound
    // degenerates when one bucket swallows most of the mass. Covers
    // the revenue column (3+ decades of magnitude) AND the zero-heavy
    // discount column (the zero bucket). Every step — binade via
    // corrected floor-log2, exact power-of-two sub-bucket, target
    // rank, within-bucket interpolation — is deterministic IEEE
    // arithmetic, so DuckDB re-deriving the same chain from the same
    // parquet hash-matches the engine's answers bit-for-bit; the
    // exact decimal-rounded companions make the 1/32 relative bound
    // MEASURED. At 100 TB the sketch is a few KB of catalog state
    // built in one pass — p99 latency dashboards become lookups.
    "q144_hdr_percentile" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT percentile(l_extendedprice, 0.5) AS p50e, " +
          "percentile(l_extendedprice, 0.95) AS p95e, " +
          "percentile(l_discount, 0.5) AS p50d FROM lineitem")
      assert(r.servedFromCatalog && r.serveKind.contains("hdr"),
        s"q144 must serve from the log-linear sketch: " +
          s"${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 1.0 / 32,
        s"q144 must report the 1/m relative bound: ${r.estimatedError}")
      val exact = Tables.load(s, dir, "lineitem").agg(
        Analytics.pctArr("l_extendedprice", Seq("0.5", "0.95")).as("pe"),
        expr("cast(cast(graft_percentile(cast(l_discount as double), 0.5D) as decimal(18,6)) as double)")
          .as("x50d"))
        .select(Analytics.pctAt("pe", 0, "x50e"),
          Analytics.pctAt("pe", 1, "x95e"), col("x50d"))
      r.df.crossJoin(exact)
        .withColumn("err_p50e", expr("p50e - x50e"))
        .withColumn("err_p95e", expr("p95e - x95e"))
        .withColumn("err_p50d", expr("p50d - x50d"))
        .withColumn("rel_bound", lit(1.0 / 32))
    }),

    // HDR range COUNT (round 11): the price-band count over the
    // heavy-tailed revenue column served from the log-linear sketch —
    // fully covered buckets exact, the two clipped edge buckets
    // interpolated with their (1/m-relative) mass as the bound. The
    // oracle re-derives the full clip arithmetic; the exact companion
    // measures the realized error against the bound.
    "q146_hdr_range_count" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est FROM lineitem " +
          "WHERE l_extendedprice >= 5000 AND l_extendedprice < 30000")
      assert(r.servedFromCatalog && r.serveKind.contains("hdr_range"),
        s"q146 must interpolate the band from the log-linear sketch: " +
          s"${r.serveKind} (${r.reason})")
      val exact = Tables.load(s, dir, "lineitem")
        .agg(expr("sum(case when l_extendedprice >= 5000 and " +
          "l_extendedprice < 30000 then 1 else 0 end)").as("n_exact"))
      r.df.crossJoin(exact)
        .withColumn("rel_err", expr(
          "abs(n_est - cast(n_exact as double)) / cast(n_exact as double)"))
    }),

    // HDR zero-edge rule (round 11): `WHERE x > 0` over the zero-heavy
    // discount column — a range bound AT zero makes the zero bucket's
    // point mass BOUNDARY mass (inclusive vs strict differ by exactly
    // it), so the estimate is the exact positive count and the
    // reported error honestly charges the whole zero bucket. Served
    // under a loosened budget (the zero mass is ~9% of rows here).
    "q147_hdr_zero_edge" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_pos FROM lineitem WHERE l_discount > 0",
        e.Options(maxRelError = 0.2))
      assert(r.servedFromCatalog && r.serveKind.contains("hdr_range"),
        s"q147 must serve the zero-edge count from the log-linear " +
          s"sketch: ${r.serveKind} (${r.reason})")
      r.df
    }),

    // HDR range SUM/AVG (round 11): the band's revenue total and mean
    // from the "hdrsum" rider — interior buckets' exact decimal sums
    // add, the two clipped edge buckets contribute their covered
    // fraction, AVG is one division of the two estimates (the histsum
    // discipline on the log grid, so the bound stays 1/m-RELATIVE on
    // any magnitude).
    "q148_hdr_range_sum" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      // AVG charges the first-order cnt+sum combination (~0.063 on
      // this band at sf0.01 — the 3000 edge sits in a dense region),
      // which honestly exceeds the default 0.05 budget; the dashboard
      // opts into 0.1 like the star-band queries do
      val r = e.query(
        "SELECT count(*) AS n_est, sum(l_extendedprice) AS s_est, " +
          "avg(l_extendedprice) AS a_est FROM lineitem " +
          "WHERE l_extendedprice >= 3000 AND l_extendedprice < 50000",
        e.Options(maxRelError = 0.1))
      assert(r.servedFromCatalog && r.serveKind.contains("hdr_range"),
        s"q148 must serve the band sum from the hdrsum rider: " +
          s"${r.serveKind} (${r.reason})")
      r.df
    }),

    // HDR range PERCENTILE (round 11): percentile RESTRICTED to a
    // value band served from the log-linear sketch's clipped bucket
    // masses — HdrSketch.rangePercentile's segment rule (the q111
    // shape with a RELATIVE-error sketch behind it): the left-clipped
    // edge bucket's covered span first, interior buckets on exact
    // integer cumulatives, the right-clipped span clamped. The oracle
    // re-derives the whole chain; exact decimal-rounded companions
    // measure the realized error against the 1/m + rank-shift bound.
    "q149_hdr_range_pct" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      // the reported bound is 1/32 + the clipped edge buckets'
      // rank-shift fraction — the dashboard opts into 0.2
      val r = e.query(
        "SELECT percentile(l_extendedprice, 0.5) AS p50b, " +
          "percentile(l_extendedprice, 0.95) AS p95b FROM lineitem " +
          "WHERE l_extendedprice >= 5000 AND l_extendedprice < 30000",
        e.Options(maxRelError = 0.2))
      assert(r.servedFromCatalog && r.serveKind.contains("hdr_range"),
        s"q149 must serve the band percentile from the log-linear " +
          s"sketch: ${r.serveKind} (${r.reason})")
      val exact = Tables.load(s, dir, "lineitem")
        .where("l_extendedprice >= 5000 AND l_extendedprice < 30000")
        .agg(Analytics.pctArr("l_extendedprice", Seq("0.5", "0.95")).as("pb"))
        .select(Analytics.pctAt("pb", 0, "x50b"),
          Analytics.pctAt("pb", 1, "x95b"))
      r.df.crossJoin(exact)
        .withColumn("err_p50b", expr("(p50b - x50b) / x50b"))
        .withColumn("err_p95b", expr("(p95b - x95b) / x95b"))
    }),

    // GROUPED HDR percentile (round 11): per-group RELATIVE-error
    // percentiles from one composite "hdr_grouped" blob — the
    // heavy-tailed per-group latency dashboard as a catalog lookup.
    // Exact decimal-rounded companions measure the realized error
    // against the 1/32 relative bound, per group.
    "q150_grouped_hdr_pct" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag AS rf, l_linestatus AS ls, " +
          "percentile(l_extendedprice, 0.95) AS p95 " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        e.Options(ciColumns = false)) // point estimates; q172 gates the CIs
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
        s"q150 must serve per-group percentiles from the grouped " +
          s"log-linear sketch: ${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 1.0 / 32,
        s"q150 must report the 1/m relative bound: ${r.estimatedError}")
      val exact = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("xrf"), col("l_linestatus").as("xls"))
        .agg(expr("cast(cast(graft_percentile(cast(l_extendedprice as double), 0.95D) " +
          "as decimal(18,6)) as double)").as("x95"))
      r.df.join(exact, expr("rf = xrf AND ls = xls"))
        .select(col("rf"), col("ls"), col("p95"), col("x95"),
          expr("(p95 - x95) / x95").as("rel_err"))
        .orderBy(col("rf"), col("ls"))
    }),

    // TOP-K groups by HDR percentile (round 11): ORDER BY the served
    // p95 DESC LIMIT 3 — the round-10 post-aggregate peel replaying
    // over the grouped log-linear serve (the "which segments have the
    // worst tail latency" dashboard, still zero-scan). Key tie-breaks
    // pin the row set.
    "q161_hdr_topk_groups" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag, l_linestatus, " +
          "percentile(l_extendedprice, 0.95) AS p95 FROM lineitem " +
          "GROUP BY l_returnflag, l_linestatus " +
          "ORDER BY p95 DESC, l_returnflag, l_linestatus LIMIT 3",
        e.Options(ciColumns = false))
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
        s"q161 must replay ORDER BY/LIMIT over the grouped log-linear " +
          s"serve: ${r.serveKind} (${r.reason})")
      r.df
    }),

    // MARGINAL collapse through the grouped HDR blob (round 11):
    // `GROUP BY l_returnflag` over the (l_returnflag, l_linestatus)
    // blob — the rollup shape per-group equi-width grids REFUSE at
    // Histogram.merge. The log grid is global, so the collapsed
    // sketches are exactly the sketches a direct per-returnflag build
    // would produce (bucket counts add), and the oracle just groups
    // by the single key.
    "q151_hdr_marginal_pct" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag AS rf, " +
          "percentile(l_extendedprice, 0.5) AS p50 " +
          "FROM lineitem GROUP BY l_returnflag",
        e.Options(ciColumns = false))
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
        s"q151 must collapse the composite blob's marginal exactly: " +
          s"${r.serveKind} (${r.reason})")
      val exact = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("xrf"))
        .agg(expr("cast(cast(graft_percentile(cast(l_extendedprice as double), 0.5D) " +
          "as decimal(18,6)) as double)").as("x50"))
      r.df.join(exact, expr("rf = xrf"))
        .select(col("rf"), col("p50"), col("x50"),
          expr("(p50 - x50) / x50").as("rel_err"))
        .orderBy(col("rf"))
    }),

    // PER-GROUP percentile CONFIDENCE INTERVALS (round 12): the
    // sampled paths must refuse grouped CIs — a group's effective n is
    // unknowable at plan time — but the hdr_grouped blob records each
    // group's EXACT mass, so q168's distribution-free rank bound is
    // computable per group AT SERVE TIME: the same sketch percentile
    // re-evaluated at p ∓ 1.96·√(p(1−p)/n_g), clamped to [0,1]. Every
    // piece (marginal collapse, per-group totals, shifted quantiles,
    // the log-grid interpolation) is deterministic, so the oracle
    // re-derives all three values per group bit-for-bit.
    "q172_grouped_pct_ci" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag AS rf, " +
          "percentile(l_extendedprice, 0.95) AS p95 " +
          "FROM lineitem GROUP BY l_returnflag",
        e.Options(ciColumns = true))
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
        s"q172 must serve per-group CIs from the grouped log-linear " +
          s"sketch: ${r.serveKind} (${r.reason})")
      val cols = r.df.columns.toSet
      assert(cols.contains("p95_ci_low") && cols.contains("p95_ci_high"),
        s"q172 must emit per-group CI companions: ${r.df.columns.toSeq}")
      r.df.orderBy(col("rf"))
    }),

    // Per-DAY p99 dashboard (round 11): percentile(value, 0.99) GROUP
    // BY to_date(ts) under a "last N days" date range — the
    // time-series latency dashboard as ONE catalog lookup. The
    // expression-keyed hdr_grouped blob serves each surviving day's
    // relative-error percentile; the date comparison widens to epoch
    // days and prunes the recorded keys exactly (the q141 key-range
    // machinery composing with the grouped HDR serve).
    "q158_daily_p99" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT to_date(ts) AS day, percentile(value, 0.99) AS p99 " +
          "FROM events WHERE to_date(ts) >= DATE '2024-01-21' " +
          "GROUP BY to_date(ts)",
        e.Options(ciColumns = false))
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
        s"q158 must serve the per-day p99 from the expression-keyed " +
          s"log-linear blob: ${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 1.0 / 32,
        s"q158 must report the 1/m relative bound: ${r.estimatedError}")
      r.df.orderBy(col("day"))
    }),

    // GROUPED HDR range (round 11): per-group band COUNT and
    // range-restricted PERCENTILE from the composite hdr_grouped blob
    // collapsed to its returnflag marginal — the grouped twin of
    // q146/q149 with relative error, and the merge the per-group-grid
    // equi-width family refuses. One row per recorded group with
    // positive in-range mass (the q104 contract).
    "q156_grouped_hdr_range" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag AS rf, count(*) AS n_est, " +
          "percentile(l_extendedprice, 0.5) AS p50b FROM lineitem " +
          "WHERE l_extendedprice >= 5000 AND l_extendedprice < 30000 " +
          "GROUP BY l_returnflag",
        e.Options(maxRelError = 0.2))
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr_range"),
        s"q156 must serve the per-group band from the grouped " +
          s"log-linear sketch: ${r.serveKind} (${r.reason})")
      r.df.orderBy(col("rf"))
    }),

    // GROUPED HDR range SUM/AVG (round 11): the band's per-group
    // revenue totals and means from the "hdrsum_grouped" rider the
    // grouped build packs in the SAME pass — interior log buckets'
    // exact decimal sums add, the clipped edge buckets scale by the
    // covered fraction, AVG is one division (the q148 arithmetic per
    // group, so the bound stays 1/m-relative on any magnitude). The
    // full composite key, where rider cells pair 1:1 with sketches.
    "q160_grouped_hdr_sum" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT l_returnflag AS rf, l_linestatus AS ls, " +
          "count(*) AS n_est, sum(l_extendedprice) AS s_est, " +
          "avg(l_extendedprice) AS a_est FROM lineitem " +
          "WHERE l_extendedprice >= 5000 AND l_extendedprice < 30000 " +
          "GROUP BY l_returnflag, l_linestatus",
        e.Options(maxRelError = 0.3))
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr_range"),
        s"q160 must serve the per-group band sums from the hdrsum " +
          s"rider: ${r.serveKind} (${r.reason})")
      r.df.orderBy(col("rf"), col("ls"))
    }),

    // IN-list MERGED percentile from the grouped HDR blob (round 11):
    // the global aggregate `percentile(x, p) WHERE g IN (...)` — the
    // named groups' sketches merge exactly (global log grid) even
    // though they live in a COMPOSITE (returnflag, linestatus) blob
    // collapsed over linestatus first. Per-group-grid equi-width
    // histograms refuse BOTH steps; the q99 shared-grid serve needed a
    // dedicated build — the hdr blob does it with relative error.
    "q152_hdr_inlist_pct" -> ((s, dir) => {
      val e = hdrEngineFor(s, dir)
      val r = e.query(
        "SELECT percentile(l_extendedprice, 0.9) AS p90m FROM lineitem " +
          "WHERE l_returnflag IN ('A', 'R')")
      assert(r.servedFromCatalog && r.serveKind.contains("filtered_group"),
        s"q152 must merge the named groups' hdr sketches: " +
          s"${r.serveKind} (${r.reason})")
      val exact = Tables.load(s, dir, "lineitem")
        .where("l_returnflag IN ('A', 'R')")
        .agg(expr("cast(cast(graft_percentile(cast(l_extendedprice as double), 0.9D) " +
          "as decimal(18,6)) as double)").as("x90m"))
      r.df.crossJoin(exact)
        .withColumn("rel_err", expr("(p90m - x90m) / x90m"))
    }),

    // UNGROUPED star (round 10): the headline KPI — total count and
    // revenue over fact ⋈ dim under a dim filter, NO GROUP BY. All
    // matching dim rows fold into ONE cell; zero joined rows would
    // serve exact execution's one-row answer (counts 0, rest NULL).
    // Exact, fact never scanned.
    "q139_star_ungrouped" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS cnt, sum(l_extendedprice) AS rev, " +
          "min(l_extendedprice) AS mn, max(l_extendedprice) AS mx, " +
          "avg(l_extendedprice) AS av FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "WHERE s_nationkey < 13")
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"q139 must serve the ungrouped star KPI from the fact's " +
          s"grouped blob: ${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q139 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // UNGROUPED star band (round 10): the same KPI under a fact-side
    // value band — one global cell interpolated from the merged
    // histograms + riders.
    "q140_star_band_ungrouped" -> ((s, dir) => {
      val e = starEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(l_extendedprice) AS s_est " +
          "FROM lineitem JOIN supplier " +
          "ON lineitem.l_suppkey = supplier.s_suppkey " +
          "WHERE l_extendedprice >= 2000 AND l_extendedprice < 30000",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("star_range"),
        s"q140 must interpolate the ungrouped star band: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // EXPRESSION group key (round 10): the event-stream daily rollup —
    // `GROUP BY to_date(ts)` served from a blob keyed on the SAME
    // expression rendering, typed DATE keys parsed back from the
    // canonical strings. The shape every event dashboard fires; at
    // 100 TB the raw-timestamp column has billions of distinct values,
    // so only the bucketing expression makes a servable key.
    "q138_expr_key_serve" -> ((s, dir) => {
      val e = dateEngineFor(s, dir)
      val r = e.query(
        "SELECT to_date(ts) AS day, count(*) AS n, sum(value) AS sv, " +
          "avg(value) AS av FROM events GROUP BY to_date(ts)")
      assert(r.servedFromCatalog,
        s"q138 must serve the daily event rollup from the " +
          s"expression-keyed blob: ${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q138 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType)).orderBy(col("day"))
    }),

    // EXPRESSION-key RANGE (round 10): "last N days" over the bucketed
    // event stream — the DATE comparison widens to epoch days, prunes
    // the to_date(ts) blob's recorded keys exactly, and the surviving
    // days serve with zero scan.
    "q141_expr_key_range" -> ((s, dir) => {
      val e = dateEngineFor(s, dir)
      val r = e.query(
        "SELECT to_date(ts) AS day, count(*) AS n, sum(value) AS sv " +
          "FROM events WHERE to_date(ts) >= DATE '2024-01-21' " +
          "GROUP BY to_date(ts)")
      assert(r.servedFromCatalog,
        s"q141 must prune the bucketed day keys and serve: " +
          s"${r.serveKind} (${r.reason})")
      assert(r.estimatedError == 0.0, s"q141 must be exact: ${r.estimatedError}")
      r.df.withColumn("plan_type", lit(r.planType)).orderBy(col("day"))
    }),

    // Top-k by SUM (the revenue dashboard): the highest-revenue
    // partkeys answered EXACTLY from the sum-threshold blob — the
    // completeness argument needs no sign assumption (the filter is on
    // each group's TOTAL, so every unstored group totals below the
    // threshold). Sums serve as the repo's canonical decimal->double
    // recipe (exact, engine-portable); the oracle computes the same
    // recipe and hash-matches; the key tie-break pins the row set.
    "q112_topk_sum" -> ((s, dir) => {
      val e = topkEngineFor(s, dir)
      val r = e.query(
        "SELECT l_partkey, sum(l_extendedprice) AS rev FROM lineitem " +
          "GROUP BY l_partkey ORDER BY rev DESC, l_partkey LIMIT 10")
      assert(r.servedFromCatalog && r.serveKind.contains("topk"),
        s"q112 must serve the revenue top-k from the sum blob: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Iceberg twin: `HAVING count(*) >= 45` — a bound at or above the
    // build threshold returns EXACTLY the stored groups that reach it
    // (the blob is complete above the threshold); a bound below it
    // refuses to the scan, spec-gated. Exact, zero scan.
    "q110_iceberg_serve" -> ((s, dir) => {
      val e = topkEngineFor(s, dir)
      val r = e.query(
        "SELECT l_partkey, count(*) AS c FROM lineitem " +
          "GROUP BY l_partkey HAVING count(*) >= 45 ORDER BY l_partkey")
      assert(r.servedFromCatalog && r.serveKind.contains("topk"),
        s"q110 must serve the iceberg filter from the heavy-hitters " +
          s"blob: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // GROUPED range-count end-to-end: `count(*) WHERE o_totalprice in
    // a range GROUP BY o_orderstatus` — each recorded group's estimate
    // interpolated from its own histogram in the shared-grid grouped
    // blob (per-group q103 arithmetic on ONE global grid, which the
    // oracle re-derives per group). Serves one row per group with
    // positive in-range mass; error = worst group's boundary ratio.
    "q104_grouped_range" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, count(*) AS n_est FROM orders " +
          "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog &&
        r.serveKind.contains("grouped_histogram_range"),
        s"q104 must interpolate the grouped histograms per group: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // GROUPED range SUM/AVG end-to-end (round 10): per-status revenue
    // inside a price band — count(*), sum(x), avg(x) under a range on
    // x GROUP BY g, every estimate interpolated per group with zero
    // scan. Counts read each group's histogram; sums the
    // "histsum_grouped" rider (per-(group, bucket) exact decimal sums
    // the grouped build records in the same pass): interior buckets
    // add exactly, boundary buckets contribute their covered
    // fraction, AVG is one division of the two per-group estimates —
    // the q106 arithmetic per group, re-derived in DuckDB.
    "q118_grouped_range_sum" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, count(*) AS n_est, " +
          "sum(o_totalprice) AS s_est, avg(o_totalprice) AS a_est " +
          "FROM orders " +
          "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog &&
        r.serveKind.contains("grouped_histogram_range"),
        s"q118 must interpolate per-group count+sum+avg from the " +
          s"grouped histogram and histsum blobs: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // FILTERED-range serve end-to-end (round 10): one status's price
    // band — `WHERE g = 'O' AND v in [50000, 150000)` with count(*),
    // sum(v), avg(v), and percentile(v, 0.5) all answered from the
    // named group's histogram + sum rider in the shared-grid grouped
    // blob, zero scan. The oracle re-derives the global grid, the
    // group's clipped bucket masses and decimal sums, and the q111
    // segment walk for the in-band median.
    "q120_filtered_range" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(o_totalprice) AS s_est, " +
          "avg(o_totalprice) AS a_est, " +
          "percentile(o_totalprice, 0.5) AS p50 FROM orders " +
          "WHERE o_orderstatus = 'O' " +
          "AND o_totalprice >= 50000 AND o_totalprice < 150000",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("filtered_range"),
        s"q120 must serve the group-filtered band from the named " +
          s"group's histogram and rider: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // IN-list twin: two statuses' bands MERGE before interpolating —
    // bucket counts add and the riders' decimal sums add EXACTLY on
    // the shared grid (per-group grids would refuse), then the same
    // count+sum arithmetic runs once over the merged masses.
    "q121_merged_range" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(o_totalprice) AS s_est " +
          "FROM orders WHERE o_orderstatus IN ('O', 'F') " +
          "AND o_totalprice >= 50000 AND o_totalprice < 150000",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("filtered_range"),
        s"q121 must merge the named groups' histograms and riders: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // COMPOSITE-key filtered range: the point lookup of one (flag,
    // status) cell restricted to a quantity band — the conjunction of
    // two equalities selects exactly one composite group's histogram
    // and rider from the "l_returnflag,l_linestatus" blob, then the
    // q106 arithmetic runs on its clipped masses. Zero scan.
    "q122_composite_filtered_range" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(l_quantity) AS s_est " +
          "FROM lineitem WHERE l_returnflag = 'A' AND l_linestatus = 'F' " +
          "AND l_quantity >= 10 AND l_quantity < 40",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog && r.serveKind.contains("filtered_range"),
        s"q122 must serve the composite cell's band from its histogram " +
          s"and rider: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // PARTIAL-key grouped range: `WHERE a = 'x' AND <range on v>
    // GROUP BY b` over the composite "a,b" blob — the residual
    // equality PRUNES the composite entries on the a component (each
    // survivor is exactly one output group, so no merge happens and
    // per-group grids would serve too), then each group's band
    // interpolates as usual. The dashboard drill-down shape.
    "q123_partial_key_range" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT l_linestatus, count(*) AS n_est, sum(l_quantity) AS s_est " +
          "FROM lineitem WHERE l_returnflag = 'A' " +
          "AND l_quantity >= 10 AND l_quantity < 40 " +
          "GROUP BY l_linestatus ORDER BY l_linestatus",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog &&
        r.serveKind.contains("grouped_histogram_range"),
        s"q123 must prune the composite blob on the residual equality " +
          s"and serve per group: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Residual IN-list + range GROUP BY: `WHERE a IN ('A','N') AND
    // <range on v> GROUP BY b` — per output group the matching
    // composite cells MERGE (bucket counts add, rider sums add
    // exactly; shared grid required), then the band arithmetic runs
    // once per group. The multi-select drill-down shape.
    "q125_partial_in_range" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT l_linestatus, count(*) AS n_est, sum(l_quantity) AS s_est " +
          "FROM lineitem WHERE l_returnflag IN ('A', 'N') " +
          "AND l_quantity >= 10 AND l_quantity < 40 " +
          "GROUP BY l_linestatus ORDER BY l_linestatus",
        e.Options(maxRelError = 0.5))
      assert(r.servedFromCatalog &&
        r.serveKind.contains("grouped_histogram_range"),
        s"q125 must merge the matching composite cells per group: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // TYPED integral group key end-to-end: `GROUP BY l_linenumber`
    // (an INT column) serves per-key exact SUM/COUNT from the grouped
    // stats blob with the key parsed BACK to its source type — the
    // served schema matches exact execution (an int column, not the
    // blob's string rendering) and the replayed ORDER BY sorts
    // numerically. The oracle is the direct aggregate with the
    // decimal-portable sum recipe.
    "q102_typed_key_serve" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT l_linenumber, sum(l_extendedprice) AS sm, " +
          "count(l_extendedprice) AS nv, count(*) AS nr FROM lineitem " +
          "GROUP BY l_linenumber ORDER BY l_linenumber")
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_stats"),
        s"q102 must serve the typed-key aggregate from the stats blob: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Integral key-RANGE dispatch on a GROUP BY (round 10): `WHERE g
    // BETWEEN a AND b GROUP BY g` prunes the recorded groups by the
    // parsed typed key. The group list is complete (MaxHllGroups build
    // refusal), so the pruned set is EXACTLY exact execution's row
    // set and the per-group stats stay exact — the time/bucket-window
    // dashboard filter served with zero scan.
    "q115_key_range_group" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT l_linenumber, sum(l_extendedprice) AS sm, " +
          "count(*) AS nr FROM lineitem " +
          "WHERE l_linenumber BETWEEN 2 AND 4 " +
          "GROUP BY l_linenumber ORDER BY l_linenumber")
      assert(r.servedFromCatalog && r.serveKind.contains("grouped_stats"),
        s"q115 must serve the key-range grouped aggregate from the " +
          s"stats blob: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Global aggregate under a one-sided key range: the range prunes
    // the grouped blob's recorded groups and their stat records merge
    // exactly (min/max monotone, counts and the unscaled decimal sums
    // additive) — q88's IN-list merge arithmetic driven by a
    // comparison instead of literals.
    "q116_key_range_filtered" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx, " +
          "sum(l_extendedprice) AS sm, avg(l_extendedprice) AS av, " +
          "count(l_extendedprice) AS nv, count(*) AS nr " +
          "FROM lineitem WHERE l_linenumber >= 5")
      assert(r.servedFromCatalog && r.serveKind.contains("filtered_group"),
        s"q116 must merge the range-pruned group records: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    // Keys-only DISTINCT under a key range: the recorded group set
    // pruned by the typed comparison — exact, zero scan (the
    // filter-dropdown query with a bound).
    "q117_key_range_distinct" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT DISTINCT l_linenumber FROM lineitem " +
          "WHERE l_linenumber <= 3 ORDER BY l_linenumber")
      assert(r.servedFromCatalog && r.serveKind.contains("distinct_keys"),
        s"q117 must serve the range-pruned key list: " +
          s"${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
    }),

    "q100_partial_key_pct" -> ((s, dir) => {
      val e = sgEngineFor(s, dir)
      val r = e.query(
        "SELECT l_linestatus, percentile(l_quantity, 0.5) AS p50 " +
          "FROM lineitem WHERE l_returnflag IN ('A', 'N') " +
          "GROUP BY l_linestatus")
      assert(r.servedFromCatalog &&
        r.serveKind.contains("grouped_histogram"),
        s"q100 must serve the partial-key percentile from the " +
          s"shared-grid composite blob: ${r.serveKind} (${r.reason})")
      r.df.withColumn("plan_type", lit(r.planType))
        .orderBy(col("l_linestatus"))
    }),

    // Deterministic HyperLogLog, estimate oracle-gated bit-for-bit —
    // the q45/q62 treatment applied to HLL itself (the engine's B7
    // sketch is byte-format/spec-gated; Spark's approx_count_distinct
    // is rows-only — this variant closes that gap). m=1024 registers
    // over the 60-bit portable hash: bucket = h mod m, rho = leading-
    // zero rank of the remaining 50 bits via length(bin(rest)) (both
    // engines print minimal binary), registers capped at 30 so the
    // indicator sum Σ 2^(30−M[j]) stays an exact BIGINT (≤2^40) that
    // converts to double losslessly; the estimate is then a fixed
    // association of exactly-representable factors — one multiply
    // chain and one division, correctly rounded identically in both
    // engines. l_orderkey (~15K distinct at sf0.01) keeps the raw
    // estimate above the 2.5m small-range threshold, so no
    // ln-based correction branch (ln is libm-dependent, not
    // hash-portable) is exercised; v_empty is reported so the oracle
    // would catch the regime changing.
    "q73_hll_estimate" -> ((s, dir) => {
      // numerator alpha_m * m^2 * 2^30 computed ONCE driver-side and
      // shipped as a string literal: string->double parse is correctly
      // rounded in both engines, whereas a bare decimal literal is
      // DECIMAL-typed (and DuckDB's DECIMAL->DOUBLE double-rounds).
      val num = (0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0
        * 1073741824.0).toString
      val regs = Tables.load(s, dir, "lineitem")
        .select(expr(graft.queries.Dedup.h60Spark(
          "concat('hll:', cast(l_orderkey as string))")).as("h"))
        .select(expr("cast(h % 1024 as int)").as("b"),
          expr("h div 1024").as("rest"))
        .groupBy(col("b"))
        .agg(max(expr(
          "case when rest = 0 then 51 else 51 - length(bin(rest)) end"))
          .as("rho"))
      val est = regs.agg(count(lit(1)).as("nb"),
          sum(expr("shiftleft(cast(1 as bigint), 30 - least(rho, 30))"))
            .as("sp"))
        .select(lit(1024).as("m"),
          expr("cast(1024 - nb as int)").as("v_empty"),
          expr("cast(sp + (1024 - nb) * 1073741824 as bigint)")
            .as("s_scaled"))
        .withColumn("est_raw", expr(
          s"cast('$num' as double) / cast(s_scaled as double)"))
      val exact = Tables.load(s, dir, "lineitem")
        .agg(countDistinct(col("l_orderkey")).as("n_exact"))
      est.crossJoin(exact)
        .withColumn("rel_error", expr(
          "(est_raw - cast(n_exact as double)) / cast(n_exact as double)"))
    }),

    // Per-group deterministic HLL — q73's portable estimate chain with
    // a GROUP BY: one m=1024 register set PER l_returnflag group
    // (groupBy(g, bucket) -> max rho, then groupBy(g) for the indicator
    // sum). The same rho<=30 scaling keeps every per-group sum an exact
    // BIGINT (<= 2^40), and each estimate is one string-parsed-constant
    // division — so all three groups hash-match DuckDB bit-for-bit.
    // This is the oracle-gated twin of the engine's grouped-sketch
    // serve (QueryEngine.storedGroupedSketchAnswer, spec-gated: the
    // catalog path's Hll.count uses libm log, which is not
    // hash-portable). Per-group distinct counts (~11K at sf0.01, ~110K
    // at sf0.1) sit between 2.5m=2560 and 2^32/30, so no correction
    // branch fires at either SF; v_empty is reported per group so the
    // oracle would catch the regime changing.
    "q83_grouped_hll" -> ((s, dir) => {
      val num = (0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0
        * 1073741824.0).toString
      val regs = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          expr(graft.queries.Dedup.h60Spark(
            "concat('ghll:', cast(l_orderkey as string))")).as("h"))
        .select(col("g"), expr("cast(h % 1024 as int)").as("b"),
          expr("h div 1024").as("rest"))
        .groupBy(col("g"), col("b"))
        .agg(max(expr(
          "case when rest = 0 then 51 else 51 - length(bin(rest)) end"))
          .as("rho"))
      val est = regs.groupBy(col("g"))
        .agg(count(lit(1)).as("nb"),
          sum(expr("shiftleft(cast(1 as bigint), 30 - least(rho, 30))"))
            .as("sp"))
        .select(col("g"),
          expr("cast(1024 - nb as int)").as("v_empty"),
          expr("cast(sp + (1024 - nb) * 1073741824 as bigint)")
            .as("s_scaled"))
        .withColumn("est_raw", expr(
          s"cast('$num' as double) / cast(s_scaled as double)"))
      val exact = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("g2"))
        .agg(countDistinct(col("l_orderkey")).as("n_exact"))
      est.join(exact, col("g") === col("g2")).drop("g2")
        .withColumn("rel_error", expr(
          "(est_raw - cast(n_exact as double)) / cast(n_exact as double)"))
        .orderBy(col("g"))
    }),

    // AQP: deterministic weighted (importance) sampling + stratified
    // Horvitz-Thompson estimation over the documents corpus — keep
    // high-quality docs at rate 1, mid at 0.3, low at 0.05 (the corpus
    // downsampling move), then recover UNBIASED full-corpus doc/token
    // totals by inverse-probability weighting. Membership is a keyed-
    // hash threshold (reproducible across runs/partitionings, unlike
    // rand()); strata are q15's quality buckets. The HT terms are one
    // exact-integer division each, summed in fixed written order, so
    // the approximate estimates hash-match DuckDB bit-for-bit.
    "q63_weighted_sample" -> ((s, dir) => {
      val flags = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        .select(col("doc_id"), expr("size(t)").as("nt"),
          expr(TextAnalysis.scoreSpark("t")).as("score"),
          expr(s"${graft.queries.Dedup.h60Spark("concat('ws:', cast(doc_id as string))")} % 10000")
            .as("hh"))
        .withColumn("w", expr(
          "case when score >= 0.7 then 10000 when score >= 0.4 then 3000 else 500 end"))
        .withColumn("kept", expr("case when hh < w then 1 else 0 end"))
      flags.agg(
        sum(expr("case when w = 10000 then kept else 0 end")).as("n_high"),
        sum(expr("case when w = 3000 then kept else 0 end")).as("n_mid"),
        sum(expr("case when w = 500 then kept else 0 end")).as("n_low"),
        sum(expr("case when w = 10000 then kept * nt else 0 end")).as("t_high"),
        sum(expr("case when w = 3000 then kept * nt else 0 end")).as("t_mid"),
        sum(expr("case when w = 500 then kept * nt else 0 end")).as("t_low"),
        count(lit(1)).as("exact_docs"),
        sum(col("nt")).as("exact_tokens"))
        .select(col("n_high"), col("n_mid"), col("n_low"),
          expr("""((cast(n_high as double)
              + cast(n_mid * 10000 as double) / cast(3000 as double))
              + cast(n_low * 10000 as double) / cast(500 as double))""").as("est_docs"),
          col("exact_docs"),
          expr("""((cast(t_high as double)
              + cast(t_mid * 10000 as double) / cast(3000 as double))
              + cast(t_low * 10000 as double) / cast(500 as double))""").as("est_tokens"),
          col("exact_tokens"))
        .withColumn("err_docs", expr(
          "(est_docs - cast(exact_docs as double)) / cast(exact_docs as double)"))
        .withColumn("err_tokens", expr(
          "(est_tokens - cast(exact_tokens as double)) / cast(exact_tokens as double)"))
    }),

    // AQP over a JOIN — beyond the reference's single-table planner:
    // sample the fact side with a deterministic keyed-hash Bernoulli
    // (p = 1/10), join the dims at full fidelity, and Horvitz-Thompson
    // scale the aggregates (x10). The join runs on 10% of the fact
    // rows — the shuffle/CPU saving AQP exists for — while the exact
    // companion pays the full join for the realized-error report.
    // Hash sampling keeps the ESTIMATE deterministic, so unlike
    // rand()-sampled AQP this one is oracle-gated bit-for-bit.
    "q68_sampled_join_agg" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      // round 17: the round-16 defaultParallelism spread REVERTED here —
      // the driver's own data showed no win (0.89× vs r14; the sampled
      // side is 10% of rows and the join shuffles on l_orderkey anyway,
      // so the extra exchange only added cost), and at scale it was a
      // full fact-table shuffle below the join.
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
      val keyExpr = graft.queries.Dedup.h60Spark(
        """concat('sj:', cast(l_orderkey as string), '-',
           cast(l_linenumber as string), '-', cast(l_quantity as string))""")
      val sampled = li.filter(expr(s"$keyExpr % 10 = 0"))
      def agg(df: DataFrame, n: String, r: String) =
        df.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as(n),
            expr("cast(sum(cast(l_extendedprice as decimal(18,4))) as double)").as(r))
      agg(sampled, "n_sampled", "rev_sampled")
        .join(agg(li, "exact_rows", "exact_revenue"), "o_orderpriority")
        .select(col("o_orderpriority"), col("n_sampled"),
          expr("n_sampled * 10").as("est_rows"), col("exact_rows"),
          expr("rev_sampled * 10").as("est_revenue"), col("exact_revenue"),
          expr("(rev_sampled * 10 - exact_revenue) / exact_revenue")
            .as("rel_error"))
        .orderBy(col("o_orderpriority"))
    }),

    // AQP: the REAL-fraction stratified estimate, oracle-gated — q28's
    // deterministic-membership treatment applied to the stratified
    // strategy (q43 only gates the weight=1 identity; q30's Bernoulli
    // showcase is rows-only). A deterministic stratified sample
    // (per-stratum keyed-hash lottery, integer power-of-two HT weights
    // — Samplers.createStratifiedDeterministic) is registered in the
    // engine's catalog; the FULL engine path (features -> chooser's
    // stratified rule -> sample-table substitution -> WeightColumn HT
    // rewrite) answers a two-column GROUP BY from it at fraction ~0.16.
    // Integer weights times integer measures keep every weighted sum an
    // exact (order-independent) double, and DuckDB re-derives the
    // allocation (integer divide + binary length + shift), membership,
    // and per-group estimates bit-for-bit.
    "q76_stratified_estimate" -> ((s, dir) => {
      val e = detEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n_est, " +
          "sum(o_custkey) AS sk_est FROM orders " +
          "GROUP BY o_orderstatus, o_orderpriority " +
          "ORDER BY o_orderstatus, o_orderpriority",
        e.Options(ciColumns = false))
      assert(r.planType == "stratified" && r.sampleFraction.exists(_ < 1.0),
        s"q76 must run the real-fraction stratified strategy: " +
          s"${r.planType} f=${r.sampleFraction} (${r.reason})")
      r.df
    }),

    // Outlier-indexed sampling (round 11; Chaudhuri et al. ICDE'01):
    // the engine answers SUM/AVG over a measure column from the
    // materialized outlier sample — the top-500 rows by value read
    // EXACTLY at weight 1, the rest through the deterministic 'ol:'
    // keyed-hash lottery at a power-of-two HT weight. Deterministic
    // membership on both parts + integer weights + the decimal-routed
    // weighted sum (Directive.decimalSums) make the 2-decimal-place
    // price estimates bit-portable, so the whole serve is oracle-gated
    // (the reference can only sample uniformly; its skewed-sum variance
    // is the published motivation for the outlier index).
    "q163_outlier_sum" -> ((s, dir) => {
      val e = outlierEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(o_totalprice) AS tp_est, " +
          "avg(o_totalprice) AS tp_avg FROM orders",
        e.Options(ciColumns = false))
      assert(r.planType == "outlier",
        s"q163 must serve from the outlier-indexed sample: " +
          s"${r.planType} (${r.reason})")
      r.df
    }),

    // BOTTOM-K (fixed-size order-statistic) sample serve (round 12):
    // the k rows with the smallest keyed h60 hash under a total order
    // — the one sample form that is MERGEABLE and therefore
    // stream-maintainable (SampleMaintainers.maintainBottomKSample folds it
    // per micro-batch; fixed-fraction lotteries can only rebuild).
    // Estimates scale ONCE post-aggregation by the constant N/k
    // (count w·n, sum w·Σx with decimal inner sums, avg Σx/n — never a
    // per-row non-integer product whose double-sum association would
    // drift), so the grouped+filtered dashboard shape below is
    // bit-portable to DuckDB: membership rank, N/k, and all three
    // estimates re-derived end to end.
    "q174_bottomk_sample" -> ((s, dir) => {
      val e = bkEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "sum(o_totalprice) AS tp_est, avg(o_totalprice) AS tp_avg " +
          "FROM orders WHERE o_orderstatus = 'F' " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(ciColumns = false))
      assert(r.planType == "bottomk",
        s"q174 must serve from the bottom-k sample: " +
          s"${r.planType} (${r.reason})")
      r.df
    }),

    // BOTTOM-K percentile CIs (round 12): the fixed-size sample is the
    // ONE sample whose effective n is known exactly at plan time
    // (nEff = k), so the q168 rank-shift bound applies to the PLAIN
    // unweighted sample quantile — percentile re-evaluated at
    // p ∓ 1.96·√(p(1−p)/k), no weights anywhere. Unfiltered ungrouped
    // shapes only (q168's contract); post-rounded through
    // DECIMAL(18,6) like every sampled-percentile oracle.
    "q179_bottomk_pct_ci" -> ((s, dir) => {
      val e = bkEngineFor(s, dir)
      val r = e.query(
        "SELECT percentile(o_totalprice, 0.5) AS p50, count(*) AS n_est " +
          "FROM orders",
        e.Options(ciColumns = true))
      assert(r.planType == "bottomk",
        s"q179 must serve from the bottom-k sample: " +
          s"${r.planType} (${r.reason})")
      def pct(c: String) =
        expr(s"cast(cast($c as decimal(18,6)) as double)").as(c)
      r.df.select(pct("p50"), col("n_est"),
        pct("p50_ci_low"), pct("p50_ci_high"))
    }),

    // GROUPED bottom-k serve (round 12): the STREAMABLE STRATIFIED
    // sample — k hash-smallest rows PER GROUP, so every group is
    // guaranteed representation (the plain bottom-k's weakness) and
    // each group's estimates scale once by its own exact N_g/k_g
    // (the graft_gw column, max() of a per-group constant). The whole
    // chain — per-group rank, membership, weights, decimal sums — is
    // re-derived in DuckDB.
    "q175_bottomk_grouped" -> ((s, dir) => {
      val e = bkgEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, count(*) AS n_est, " +
          "sum(o_totalprice) AS tp_est, avg(o_totalprice) AS tp_avg " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
        e.Options(ciColumns = false))
      assert(r.planType == "bottomk_grouped",
        s"q175 must serve from the grouped bottom-k sample: " +
          s"${r.planType} (${r.reason})")
      r.df
    }),

    // GROUPED bottom-k PERCENTILE serve (round 12): medians per group
    // from the per-group fixed-size sample. Within a group every row
    // carries the SAME N_g/k_g weight, so equal weights cancel in the
    // rank and the unweighted sample quantile IS the estimator (the
    // q153/q154 law on the lottery samples, here per group); both
    // sides round through DECIMAL(18,6) (the established sampled-
    // percentile portability recipe).
    "q177_bottomk_pct" -> ((s, dir) => {
      val e = bkgEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, count(*) AS n_est, " +
          "cast(cast(percentile(o_totalprice, 0.5) as decimal(18,6)) as double) AS p50 " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
        e.Options(ciColumns = false))
      assert(r.planType == "bottomk_grouped",
        s"q177 must serve from the grouped bottom-k sample: " +
          s"${r.planType} (${r.reason})")
      r.df
    }),

    // PER-GROUP percentile CIs on the GROUPED bottom-k serve
    // (round 13): the build caps every subsampled group at EXACTLY
    // kPerGroup rows, so each group's effective n is known at plan
    // time (q179's argument, per group) and only two foldable cases
    // exist — a capped group (N_g > k_g) re-evaluates the percentile
    // at p ∓ 1.96·√(p(1−p)/kPerGroup), a COMPLETE group returns its
    // exact quantile as both bounds (zero width). At the verify SF the
    // orders fixture exercises BOTH branches ('P' is complete, 'F'/'O'
    // are capped). Whole chain re-derived in DuckDB.
    "q181_bottomkg_pct_ci" -> ((s, dir) => {
      val e = bkgEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, count(*) AS n_est, " +
          "percentile(o_totalprice, 0.5) AS p50 " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
        e.Options(ciColumns = true))
      assert(r.planType == "bottomk_grouped",
        s"q181 must serve from the grouped bottom-k sample: " +
          s"${r.planType} (${r.reason})")
      def pct(c: String) =
        expr(s"cast(cast($c as decimal(18,6)) as double)").as(c)
      r.df.select(col("o_orderstatus"), col("n_est"), pct("p50"),
        pct("p50_ci_low"), pct("p50_ci_high"))
    }),

    // GROUPED + FILTERED outlier serve (round 11): the dashboard shape
    // over the outlier sample — a WHERE prunes sample rows per-row
    // (membership is predicate-independent, so HT stays unbiased) and
    // GROUP BY partitions them; weights work per-row, so both compose
    // with zero new machinery. Gates the grouped decimal weighted-sum
    // path end to end.
    "q169_outlier_group" -> ((s, dir) => {
      val e = outlierEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "sum(o_totalprice) AS tp_est FROM orders " +
          "WHERE o_orderstatus = 'F' GROUP BY o_orderpriority " +
          "ORDER BY o_orderpriority",
        e.Options(ciColumns = false))
      assert(r.planType == "outlier",
        s"q169 must serve from the outlier-indexed sample: " +
          s"${r.planType} (${r.reason})")
      r.df
    }),

    // PERCENTILE CONFIDENCE INTERVALS (round 11): the one estimate
    // family that had no error bars gets them — distribution-free
    // rank-based CIs. The weighted sample percentile re-evaluates at
    // the rank-shifted quantiles p ∓ z·√(p(1−p)/nEff) (the binomial
    // order-statistic bound; nEff = (Σw)²/Σw² from the sample's
    // achieved stratum sizes — exact integer sums), giving
    // {name}_ci_low/_ci_high companions in the SAME aggregation pass.
    // Runs through the outlier-indexed sample so membership, weights,
    // nEff, the shifted quantiles, and all three percentile values are
    // re-derivable bit-for-bit in DuckDB; the count's moment-based CI
    // companions ride along (the q28 contract).
    "q168_pct_ci" -> ((s, dir) => {
      val e = outlierEngineFor(s, dir)
      val r = e.query(
        "SELECT percentile(o_totalprice, 0.9) AS p90, count(*) AS n_est " +
          "FROM orders",
        e.Options(ciColumns = true))
      assert(r.planType == "outlier",
        s"q168 must serve from the outlier-indexed sample: " +
          s"${r.planType} (${r.reason})")
      def pct(c: String) =
        expr(s"cast(cast($c as decimal(18,6)) as double)").as(c)
      r.df.select(pct("p90"), col("n_est"),
        col("n_est_ci_low"), col("n_est_ci_high"), col("n_est_rel_error"),
        pct("p90_ci_low"), pct("p90_ci_high"))
    }),

    // EXACT MAX from the outlier sample (round 12): the weight-1 part
    // materializes the global top-500 rows BY THE MEASURE, so
    // MAX(measure) over the sample is the true max — an exact answer
    // riding the same zero-extra-cost serve as the HT sum. The
    // dispatch grants this only to unfiltered, ungrouped, bare-column
    // max (a filter can eliminate the whole exact tail, a group can
    // hold no tail row, a derived expression need not peak on the
    // value tail); MIN always refuses — the LOW tail is
    // lottery-sampled.
    "q171_outlier_max" -> ((s, dir) => {
      val e = outlierEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(o_totalprice) AS tp_est, " +
          "max(o_totalprice) AS tp_max FROM orders",
        e.Options(ciColumns = false))
      assert(r.planType == "outlier",
        s"q171 must serve from the outlier-indexed sample: " +
          s"${r.planType} (${r.reason})")
      assert(r.transformations.exists(_.contains("MAX answered exactly")),
        s"q171 must flag the exact max: ${r.transformations}")
      r.df
    }),

    // EXACT MIN from the TWO-SIDED outlier sample (round 13): built
    // with lowK > 0, the sample holds BOTH value tails at weight 1 —
    // the global top-500 AND bottom-500 rows by the measure — so MIN
    // and MAX both read exactly off the same serve that HT-scales the
    // sum (the round-12 verdict's symmetry gap: users hit
    // MIN(measure) as often as MAX). Same guard as q171: unfiltered,
    // ungrouped, bare-measure arguments only; a high-tail-only sample
    // still refuses MIN (its low tail is lottery-sampled). Membership
    // of all THREE parts — high rank, low rank, 'ol:' lottery over
    // the remainder — plus the weighted decimal sum re-derive in
    // DuckDB, so the whole serve is hash-gated.
    "q180_outlier_min" -> ((s, dir) => {
      val e = outlier2EngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(o_totalprice) AS tp_est, " +
          "min(o_totalprice) AS tp_min, max(o_totalprice) AS tp_max " +
          "FROM orders",
        e.Options(ciColumns = false))
      assert(r.planType == "outlier",
        s"q180 must serve from the two-sided outlier sample: " +
          s"${r.planType} (${r.reason})")
      assert(r.transformations.exists(_.contains("MIN answered exactly")),
        s"q180 must flag the exact min: ${r.transformations}")
      r.df
    }),

    // Frequency-WEIGHTED percentile over the deterministic stratified
    // sample (round 11): percentile(x, p) rewrites to Spark's
    // percentile(x, p, w) with the per-stratum integer weight as the
    // frequency — each sampled row replays w times, exactly the
    // weighted empirical CDF the HT estimator implies (real-valued
    // Neyman weights refuse the rewrite; uniform samples skip it —
    // equal weights cancel in the rank). Deterministic lottery ⇒
    // DuckDB re-derives the same sample, expands each row w times,
    // and quantile_cont over the expansion IS Spark's frequency-
    // weighted definition (target rank p·(Σw−1)).
    "q155_stratified_pct" -> ((s, dir) => {
      val e = detEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderstatus, o_orderpriority, " +
          "percentile(o_custkey, 0.5) AS p50, count(*) AS n_est " +
          "FROM orders GROUP BY o_orderstatus, o_orderpriority " +
          "ORDER BY o_orderstatus, o_orderpriority",
        e.Options(ciColumns = false))
      assert(r.planType == "stratified" && r.sampleFraction.exists(_ < 1.0),
        s"q155 must run the stratified strategy: " +
          s"${r.planType} f=${r.sampleFraction} (${r.reason})")
      r.df.select(col("o_orderstatus"), col("o_orderpriority"),
        expr("cast(cast(p50 as decimal(18,6)) as double)").as("p50"),
        col("n_est"))
    }),

    // AQP over a JOIN through the FULL engine path (beyond the
    // reference, whose planner refuses multi-table queries): the
    // engine picks lineitem as the fact side (largest by rowcount),
    // samples it with the deterministic keyed-hash lottery, joins
    // orders at full fidelity, and HT-scales the aggregates. Same
    // determinism argument as q28 (the engine picks the 0.02 size
    // tier at sf0.01 -> threshold 200, weight exactly 50.0; l_quantity
    // integral), so the ESTIMATES hash-match DuckDB re-deriving the
    // same membership and sums. q68 gates the standalone pattern;
    // this gates the ENGINE wiring (chooser refusal lifted by the
    // approximateJoins opt-in, fact-side selection, directive flow).
    "q77_join_aqp_engine" -> ((s, dir) => {
      val e = engineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "sum(l_quantity) AS qty_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          systematicKey = Some("l_orderkey"), ciColumns = false))
      assert(r.strategy == "sample_join" && r.sampleFraction.exists(_ < 1),
        s"q77 must run the join-AQP strategy: ${r.strategy} (${r.reason})")
      r.df
    }),

    // PERCENTILE over a JOIN via AQP (round 11): quantiles are
    // scale-invariant under uniform sampling — every sampled row
    // carries the same HT weight, so the weights cancel in the rank
    // and the sample percentile estimates the join percentile with NO
    // reweighting (the rewrite passes the call through untouched; the
    // shape join AQP used to leave ungated). The deterministic
    // keyed-hash membership (q77's sys: lottery) makes the sampled
    // row set — and hence the percentile — reproducible in DuckDB;
    // both sides round through DECIMAL(18,6) (the q74 recipe). The
    // riding count(*) pins the membership itself.
    "q153_join_aqp_pct" -> ((s, dir) => {
      val e = engineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, percentile(l_quantity, 0.5) AS p50, " +
          "count(*) AS n_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          systematicKey = Some("l_orderkey"), ciColumns = false))
      assert(r.strategy == "sample_join" && r.sampleFraction.exists(_ < 1),
        s"q153 must run the join-AQP strategy: ${r.strategy} (${r.reason})")
      r.df.select(col("o_orderpriority"),
        expr("cast(cast(p50 as decimal(18,6)) as double)").as("p50"),
        col("n_est"))
    }),

    // AQP over a JOIN with the FULL CI-companion contract, oracle-gated
    // — q77 (join estimates) plus q28 (CI chain) composed: the engine
    // runs the join-AQP path with ciColumns=true, so every aggregate
    // carries `_ci_low/_ci_high/_rel_error` computed in the SAME
    // aggregation pass from the proper per-element variance companions
    // (Var[HT count] = Σ w(w-1), Var[HT sum] = Σ x²w(w-1), se[avg] =
    // moment-form stddev/√n — SampleRewrite.seExpr), per GROUP. The
    // deterministic keyed-hash membership (tier 0.02 -> threshold 200,
    // weight exactly 50.0) and integral l_quantity make every estimate
    // AND all nine companions exact fixed-association arithmetic that
    // DuckDB re-derives bit-for-bit. The reference computes CIs post-hoc
    // on the driver and only for single-table queries
    // (/root/reference/executor.py:87-114); this gates them in-query
    // over a join.
    "q78_join_aqp_ci" -> ((s, dir) => {
      val e = engineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "sum(l_quantity) AS qty_est, avg(l_quantity) AS avg_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          systematicKey = Some("l_orderkey"), ciColumns = true))
      assert(r.strategy == "sample_join" && r.sampleFraction.exists(_ < 1),
        s"q78 must run the join-AQP strategy: ${r.strategy} (${r.reason})")
      r.df
    }),

    // AQP: UNIVERSE (both-side) join sampling through the full engine
    // path — the two-big-tables case fact-side sampling (q77) cannot
    // help, since the dim side would still scan in full. The engine
    // sees both tables over its UniverseMinRows threshold and puts the
    // SAME keyed-hash lottery (h60('uv:'||key) % 10000 < 100) on BOTH
    // sides' join keys: equal keys hash identically, so a join row
    // survives iff its key does, and ONE 1/p = 100.0 HT scale recovers
    // unbiased totals while both scans shrink to ~1%. Deterministic
    // membership -> DuckDB re-derives the same surviving key set and
    // the same exact-integer weighted sums, bit-for-bit.
    "q79_universe_join" -> ((s, dir) => {
      val e = uniEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "sum(l_quantity) AS qty_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          ciColumns = false))
      assert(r.strategy == "sample_universe" &&
          r.sampleFraction.contains(0.01),
        s"q79 must run universe join sampling at p=0.01: " +
          s"${r.strategy} f=${r.sampleFraction} (${r.reason})")
      r.df
    }),

    // PERCENTILE through the UNIVERSE lottery (round 11): q153's
    // weights-cancel argument holds here too — every surviving row
    // carries the same 1/p weight, so the winners' percentile
    // estimates the join percentile unweighted. One caveat the oracle
    // makes visible: the lottery samples KEYS, so rows cluster by
    // o_orderkey and the effective sample is key-clustered — fine for
    // a value independent of the key (l_quantity), and the estimate
    // is still the deterministic winners' exact percentile.
    "q154_universe_pct" -> ((s, dir) => {
      val e = uniEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, percentile(l_quantity, 0.5) AS p50, " +
          "count(*) AS n_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          ciColumns = false))
      assert(r.strategy == "sample_universe" &&
          r.sampleFraction.contains(0.01),
        s"q154 must run universe join sampling at p=0.01: " +
          s"${r.strategy} f=${r.sampleFraction} (${r.reason})")
      r.df.select(col("o_orderpriority"),
        expr("cast(cast(p50 as decimal(18,6)) as double)").as("p50"),
        col("n_est"))
    }),

    // AQP: universe join sampling with the FULL CI-companion contract
    // (q79 + q78 composed): ciColumns=true through the universe path.
    // Every aggregate carries `_ci_low/_ci_high/_rel_error` computed in
    // the SAME aggregation pass over the lottery's winners, per GROUP:
    // Var[HT count] per surviving row = w(w-1) = 9900, Var[HT sum] =
    // x²·9900, se[avg] = moment-form stddev/√kn (SampleRewrite.seExpr
    // with the single 1/p = 100.0 weight). Exact fixed-association
    // arithmetic over integer sums — DuckDB re-derives all nine
    // companions bit-for-bit. Runs after q80 alphabetically, so the
    // engine may serve it from the materialized universe samples;
    // membership is identical either way.
    "q82_universe_ci" -> ((s, dir) => {
      val e = uniEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "sum(l_quantity) AS qty_est, avg(l_quantity) AS avg_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          ciColumns = true))
      assert(r.strategy == "sample_universe" &&
          r.sampleFraction.contains(0.01),
        s"q82 must run universe join sampling at p=0.01: " +
          s"${r.strategy} f=${r.sampleFraction} (${r.reason})")
      r.df
    }),

    // AQP: COUNT(DISTINCT join-key) over a join — the one distinct
    // shape join AQP can serve honestly (round 10): under the universe
    // KEY lottery each distinct key tuple survives with probability
    // exactly p, so the distinct count over the filtered join scales
    // unbiased by 1/p. Fact-side row sampling still refuses all
    // distinct shapes (rows of one key sample independently), and a
    // distinct over any NON-key column refuses the whole attempt. The
    // membership is q79's deterministic 'uv:' lottery, so the oracle
    // re-derives the scaled distinct count bit-for-bit (weight exactly
    // 100.0, one cast + one multiplication).
    "q119_universe_distinct" -> ((s, dir) => {
      val e = uniEngineFor(s, dir)
      val r = e.query(
        "SELECT count(*) AS n_est, sum(l_quantity) AS qty_est, " +
          "count(DISTINCT l_orderkey) AS nd_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          ciColumns = false))
      assert(r.strategy == "sample_universe" &&
          r.sampleFraction.contains(0.01),
        s"q119 must run universe join sampling at p=0.01: " +
          s"${r.strategy} f=${r.sampleFraction} (${r.reason})")
      assert(r.transformations.exists(_.contains("COUNT(DISTINCT join-key)")),
        s"q119 must scale the key-distinct count: ${r.transformations}")
      r.df
    }),

    // GROUPED twin of q119: per-priority distinct-order counts over
    // the join — the key lottery is per KEY, so within every group
    // each distinct key still survives with probability exactly p and
    // the per-group scaled counts stay unbiased. Same deterministic
    // membership, re-derived per group.
    "q124_universe_distinct_group" -> ((s, dir) => {
      val e = uniEngineFor(s, dir)
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "count(DISTINCT l_orderkey) AS nd_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          ciColumns = false))
      assert(r.strategy == "sample_universe" &&
          r.sampleFraction.contains(0.01),
        s"q124 must run universe join sampling at p=0.01: " +
          s"${r.strategy} f=${r.sampleFraction} (${r.reason})")
      r.df
    }),

    // AQP: the MATERIALIZED universe-sample route — q79's membership
    // with the per-query lottery cost removed: both sides' universe
    // samples (Samplers.createUniverse, p=0.01) are built once, and the
    // engine substitutes them for the base relations (no scan of
    // either base table at query time — the serving shape at 100 TB,
    // where the md5 lottery over every row is itself a full-scan
    // cost). Membership is IDENTICAL to the inline form, so this
    // query shares q79's oracle verbatim.
    "q80_universe_materialized" -> ((s, dir) => {
      val e = uniEngineFor(s, dir)
      uniSamples.getOrElseUpdate((s, dir), {
        Samplers.createUniverse(s, e.catalog, "lineitem", "l_orderkey", 0.01)
        Samplers.createUniverse(s, e.catalog, "orders", "o_orderkey", 0.01)
        // creation recorded REAL counts; re-force the two-big-tables
        // regime and re-stamp the samples fresh against it
        e.catalog.upsertTableStats("lineitem", 6000000L)
        e.catalog.upsertTableStats("orders", 1500000L)
        e.catalog.refreshSampleBase("lineitem")
        e.catalog.refreshSampleBase("orders")
      })
      val r = e.query(
        "SELECT o_orderpriority, count(*) AS n_est, " +
          "sum(l_quantity) AS qty_est " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          ciColumns = false))
      assert(r.strategy == "sample_universe" &&
          r.reason.contains("materialized universe") &&
          r.sampleTable.exists(_.contains("__uni_")),
        s"q80 must serve from materialized universe samples: " +
          s"${r.strategy} ${r.sampleTable} (${r.reason})")
      r.df
    }),

    // AQP: universe sampling for the TWO-BIG + DIMS star — q79's
    // lottery generalized: lineitem and orders (both forced over
    // UniverseMinRows) draw the shared 'uv:' key lottery, while part
    // (a real dim) joins EXACT at full fidelity. Every full-join row
    // with a winning orderkey survives, so the single 1/p = 100.0 HT
    // scale stays unbiased and DuckDB re-derives the same surviving
    // set with the part join applied unfiltered. The in-query asserts
    // pin the plan shape: exactly two lottery filters (the big sides),
    // none on the dim scan.
    "q95_universe_star" -> ((s, dir) => {
      val e = uniEngineFor(s, dir)
      val r = e.query(
        "SELECT p_brand, count(*) AS n_est, sum(l_quantity) AS qty_est " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN part ON l_partkey = p_partkey " +
          "GROUP BY p_brand ORDER BY p_brand",
        e.Options(approximateJoins = true, maxRelError = 0.1,
          ciColumns = false))
      assert(r.strategy == "sample_universe" &&
          r.sampleFraction.contains(0.01) &&
          r.reason.contains("small dims joined exact"),
        s"q95 must run two-big + dims universe sampling at p=0.01: " +
          s"${r.strategy} f=${r.sampleFraction} (${r.reason})")
      val lotteries = r.df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.sql.contains("graft_h60") => f
      }
      // inline route: the lottery sits on exactly the two big scans
      // (never the dim); materialized route (after q80 built the pair):
      // both big relations were substituted, no per-query lottery at
      // all — membership is identical either way, so the oracle is too
      assert(if (r.sampleTable.isEmpty) lotteries.size == 2
             else lotteries.isEmpty,
        s"q95 lottery placement (sampleTable=${r.sampleTable}):\n" +
          r.df.queryExecution.optimizedPlan.toString)
      r.df
    }),

    // AQP: stratified sample with per-stratum HT weights answering a
    // GROUP BY (the strategy the reference declares but no-ops).
    "q30_aqp_stratified" -> ((s, dir) => {
      val e = seededStratEngineFor(s, dir)
      e.query(
        "SELECT o_orderpriority, o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders GROUP BY o_orderpriority, o_orderstatus").df
    })
  )

  /** Shared outlier-sample membership CTEs (q163/q168/q169): base
    * rows, the exactly-k cutoff rank, the power-of-two rest weight, and
    * the sampled rows with weights — ONE text so the three oracles
    * cannot drift. `extraCols` are (sourceColumn, alias) pairs carried
    * through to `samp` for filters/group keys.
    */
  private def duckOutlierSamp(
      extraCols: Seq[(String, String)] = Nil): String = {
    val baseExtra = extraCols.map { case (src, a) => s", $src AS $a" }.mkString
    val names = extraCols.map { case (_, a) => s", $a" }.mkString
    val rNames = extraCols.map { case (_, a) => s", r.$a" }.mkString
    s"""base AS (SELECT o_orderkey AS k, o_totalprice AS v$baseExtra FROM orders),
        nn AS (SELECT count(*) AS n FROM base),
        rk AS (SELECT k, v$names,
            row_number() OVER (ORDER BY v DESC, k ASC) AS rn FROM base),
        wv AS (SELECT CASE WHEN (n - 500) // 2048 < 1 THEN CAST(1 AS BIGINT)
                 ELSE CAST(1 AS BIGINT)
                   << CAST(least(13, length(bin((n - 500) // 2048)) - 1) AS INT)
            END AS w FROM nn),
        samp AS (
          SELECT v$names, CAST(1 AS BIGINT) AS wt FROM rk WHERE rn <= 500
          UNION ALL
          SELECT r.v$rNames, w.w AS wt FROM rk r, wv w
          WHERE r.rn > 500
            AND ${graft.queries.Dedup.h60Duck("'ol:' || CAST(r.k AS VARCHAR)")} % 8192 < 8192 // w.w)"""
  }

  val oracle: Map[String, String] = Map(
    // q144: DuckDB re-derives the engine's log-linear (HDR) sketch
    // answer from the same parquet — binade via corrected floor-log2
    // (exact power-of-two comparisons make the log2 rounding
    // irrelevant), exact sub-bucket arithmetic, Histogram.percentile's
    // rank convention walked in ascending value order (zero bucket
    // first; lineitem has no negative values), the same fixed
    // association lower + width*within. Exact quantile_cont companions
    // rounded through DECIMAL(18,6) (the q74 recipe).
    "q144_hdr_percentile" ->
      """WITH ve AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT v, abs(v) AS av FROM ve),
          eb0 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT CASE WHEN v = 0 THEN 1 ELSE 0 END AS isz,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT isz, e, s, count(*) AS n FROM eb2 GROUP BY 1, 2, 3),
          ecm AS (SELECT isz, e, s, n,
              sum(n) OVER (ORDER BY isz DESC, e, s) - n AS cumb,
              sum(n) OVER () AS total FROM ebk),
          etg AS (SELECT pr, CAST(pr AS DOUBLE) * CAST(t.total - 1 AS DOUBLE) AS target
            FROM (SELECT unnest([CAST('0.5' AS DOUBLE), CAST('0.95' AS DOUBLE)]) AS pr),
                 (SELECT max(total) AS total FROM ecm) t),
          epk AS (SELECT etg.pr, etg.target, ecm.isz, ecm.e, ecm.s, ecm.n, ecm.cumb
            FROM etg, ecm WHERE ecm.cumb + ecm.n > etg.target
            QUALIFY row_number() OVER (PARTITION BY etg.pr
              ORDER BY ecm.isz DESC, ecm.e, ecm.s) = 1),
          ees AS (SELECT pr, CASE WHEN isz = 1 THEN CAST(0 AS DOUBLE) ELSE
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
              + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
                * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
            END AS v FROM epk),
          efin AS (SELECT
              max(CASE WHEN pr = CAST('0.5' AS DOUBLE) THEN v END) AS p50e,
              max(CASE WHEN pr = CAST('0.95' AS DOUBLE) THEN v END) AS p95e
            FROM ees),
          vd AS (SELECT CAST(l_discount AS DOUBLE) AS v FROM lineitem
              WHERE l_discount IS NOT NULL),
          da AS (SELECT v, abs(v) AS av FROM vd),
          db0 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM da),
          db1 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM db0),
          db2 AS (SELECT CASE WHEN v = 0 THEN 1 ELSE 0 END AS isz,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM db1),
          dbk AS (SELECT isz, e, s, count(*) AS n FROM db2 GROUP BY 1, 2, 3),
          dcm AS (SELECT isz, e, s, n,
              sum(n) OVER (ORDER BY isz DESC, e, s) - n AS cumb,
              sum(n) OVER () AS total FROM dbk),
          dtg AS (SELECT CAST('0.5' AS DOUBLE) * CAST(t.total - 1 AS DOUBLE) AS target
            FROM (SELECT max(total) AS total FROM dcm) t),
          dpk AS (SELECT dtg.target, dcm.isz, dcm.e, dcm.s, dcm.n, dcm.cumb
            FROM dtg, dcm WHERE dcm.cumb + dcm.n > dtg.target
            QUALIFY row_number() OVER (ORDER BY dcm.isz DESC, dcm.e, dcm.s) = 1),
          dfin AS (SELECT CASE WHEN isz = 1 THEN CAST(0 AS DOUBLE) ELSE
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
              + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
                * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
            END AS p50d FROM dpk),
          exq AS (SELECT
              CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS x50e,
              CAST(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS x95e,
              CAST(CAST(quantile_cont(l_discount, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS x50d
            FROM lineitem)
          SELECT efin.p50e, efin.p95e, dfin.p50d, exq.x50e, exq.x95e, exq.x50d,
            efin.p50e - exq.x50e AS err_p50e,
            efin.p95e - exq.x95e AS err_p95e,
            dfin.p50d - exq.x50d AS err_p50d,
            CAST('0.03125' AS DOUBLE) AS rel_bound
          FROM efin, dfin, exq""",
    // q146: DuckDB re-derives the hdr range-count clip — bucket
    // geometry from the corrected-log2 chain, fully covered buckets as
    // an integer interior sum, the two clipped edge buckets' fractional
    // terms folded in ascending bucket order (the exact association
    // HdrSketch.rangeCount uses). Exact companion + realized error.
    "q146_hdr_range_count" ->
      """WITH ve AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT v, abs(v) AS av FROM ve),
          eb0 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT CASE WHEN v = 0 THEN 1 ELSE 0 END AS isz,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT isz, e, s, count(*) AS n FROM eb2 GROUP BY 1, 2, 3),
          geo AS (SELECT e, s, n,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0) AS blo,
              pow(2.0, CAST(e AS DOUBLE)) / 32.0 AS w
            FROM ebk WHERE isz = 0),
          clip AS (SELECT e, s, n, blo, w, blo + w AS bhi,
              greatest(CAST('5000' AS DOUBLE), blo) AS ovlo,
              least(CAST('30000' AS DOUBLE), blo + w) AS ovhi
            FROM geo),
          kinds AS (SELECT *, CASE WHEN ovhi <= ovlo THEN 'out'
              WHEN ovlo = blo AND ovhi = bhi THEN 'in'
              ELSE 'part' END AS kind FROM clip),
          agg AS (SELECT CAST(COALESCE(sum(CASE WHEN kind = 'in' THEN n END), 0) AS DOUBLE) AS interior
            FROM kinds),
          pord AS (SELECT CAST(n AS DOUBLE) * ((ovhi - ovlo) / w) AS term,
              row_number() OVER (ORDER BY e, s) AS rn
            FROM kinds WHERE kind = 'part'),
          est AS (SELECT (agg.interior + COALESCE(p1.term, CAST(0 AS DOUBLE)))
              + COALESCE(p2.term, CAST(0 AS DOUBLE)) AS n_est
            FROM agg
            LEFT JOIN (SELECT term FROM pord WHERE rn = 1) p1 ON TRUE
            LEFT JOIN (SELECT term FROM pord WHERE rn = 2) p2 ON TRUE),
          exq AS (SELECT CAST(sum(CASE WHEN l_extendedprice >= 5000
              AND l_extendedprice < 30000 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
            FROM lineitem)
          SELECT est.n_est, exq.n_exact,
            abs(est.n_est - CAST(exq.n_exact AS DOUBLE))
              / CAST(exq.n_exact AS DOUBLE) AS rel_err
          FROM est, exq""",
    // q147: the zero-edge rule — `> 0` excludes the zero bucket from
    // the estimate and charges it to the bound, so the served value is
    // exactly the positive rowcount (every positive row lands in one
    // fully covered log bucket).
    "q147_hdr_zero_edge" ->
      """SELECT CAST(count(*) AS DOUBLE) AS n_pos FROM lineitem
          WHERE CAST(l_discount AS DOUBLE) > 0""",
    // q148: q146's clip chain + the hdrsum rider — interior decimal
    // sums add exactly and cast once to double, clipped edge buckets'
    // sums scale by the same covered fraction, AVG = one division.
    "q148_hdr_range_sum" ->
      """WITH ve AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT v, abs(v) AS av FROM ve),
          eb0 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT v, CASE WHEN v = 0 THEN 1 ELSE 0 END AS isz,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT isz, e, s, count(*) AS n,
              sum(CAST(v AS DECIMAL(38,4))) AS s4
            FROM eb2 GROUP BY 1, 2, 3),
          geo AS (SELECT e, s, n, s4,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0) AS blo,
              pow(2.0, CAST(e AS DOUBLE)) / 32.0 AS w
            FROM ebk WHERE isz = 0),
          clip AS (SELECT e, s, n, s4, blo, w, blo + w AS bhi,
              greatest(CAST('3000' AS DOUBLE), blo) AS ovlo,
              least(CAST('50000' AS DOUBLE), blo + w) AS ovhi
            FROM geo),
          kinds AS (SELECT *, CASE WHEN ovhi <= ovlo THEN 'out'
              WHEN ovlo = blo AND ovhi = bhi THEN 'in'
              ELSE 'part' END AS kind FROM clip),
          agg AS (SELECT
              CAST(COALESCE(sum(CASE WHEN kind = 'in' THEN n END), 0) AS DOUBLE) AS interior,
              CAST(COALESCE(sum(CASE WHEN kind = 'in' THEN s4 END),
                CAST(0 AS DECIMAL(38,4))) AS DOUBLE) AS interior_s
            FROM kinds),
          pord AS (SELECT CAST(n AS DOUBLE) * ((ovhi - ovlo) / w) AS term_n,
              CAST(s4 AS DOUBLE) * ((ovhi - ovlo) / w) AS term_s,
              row_number() OVER (ORDER BY e, s) AS rn
            FROM kinds WHERE kind = 'part'),
          est AS (SELECT
              (agg.interior + COALESCE(p1.term_n, CAST(0 AS DOUBLE)))
                + COALESCE(p2.term_n, CAST(0 AS DOUBLE)) AS n_est,
              (agg.interior_s + COALESCE(p1.term_s, CAST(0 AS DOUBLE)))
                + COALESCE(p2.term_s, CAST(0 AS DOUBLE)) AS s_est
            FROM agg
            LEFT JOIN (SELECT term_n, term_s FROM pord WHERE rn = 1) p1 ON TRUE
            LEFT JOIN (SELECT term_n, term_s FROM pord WHERE rn = 2) p2 ON TRUE)
          SELECT n_est, s_est, s_est / n_est AS a_est FROM est""",
    // q149: q146's clip chain + HdrSketch.rangePercentile's segment
    // rule — the left-clipped partial (ovlo > blo) serves first when
    // its fractional mass reaches p*total, interior buckets walk on
    // EXACT integer cumulatives (one double addition per comparison),
    // the right-clipped partial (ovlo = blo) clamps to [0,1]. Every
    // float association mirrors the Scala walk; exact quantile_cont
    // companions rounded through DECIMAL(18,6) (the q74 recipe).
    // Assumes the band spans >1 bucket (no doubly clipped partial) —
    // true for [5000, 30000) on a 1/32-relative grid.
    "q149_hdr_range_pct" ->
      """WITH ve AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT v, abs(v) AS av FROM ve),
          eb0 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT CASE WHEN v = 0 THEN 1 ELSE 0 END AS isz,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT isz, e, s, count(*) AS n FROM eb2 GROUP BY 1, 2, 3),
          geo AS (SELECT e, s, n,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0) AS blo,
              pow(2.0, CAST(e AS DOUBLE)) / 32.0 AS w
            FROM ebk WHERE isz = 0),
          clip AS (SELECT e, s, n, blo, w, blo + w AS bhi,
              greatest(CAST('5000' AS DOUBLE), blo) AS ovlo,
              least(CAST('30000' AS DOUBLE), blo + w) AS ovhi
            FROM geo),
          kinds AS (SELECT *, CASE WHEN ovhi <= ovlo THEN 'out'
              WHEN ovlo = blo AND ovhi = bhi THEN 'in'
              ELSE 'part' END AS kind FROM clip),
          pl AS (SELECT n AS ca, ovlo, ovhi,
              CAST(n AS DOUBLE) * ((ovhi - ovlo) / w) AS ma
            FROM kinds WHERE kind = 'part' AND ovlo > blo),
          ph AS (SELECT n AS cb, ovlo, ovhi,
              CAST(n AS DOUBLE) * ((ovhi - ovlo) / w) AS mb
            FROM kinds WHERE kind = 'part' AND ovlo = blo),
          ins AS (SELECT e, s, n, blo, w FROM kinds WHERE kind = 'in'),
          base AS (SELECT
              COALESCE((SELECT ma FROM pl), CAST(0 AS DOUBLE)) AS ma,
              COALESCE((SELECT mb FROM ph), CAST(0 AS DOUBLE)) AS mb,
              COALESCE((SELECT sum(n) FROM ins), 0) AS it),
          tot AS (SELECT ma, mb, it,
              (CAST(it AS DOUBLE) + ma) + mb AS total FROM base),
          ps AS (SELECT unnest([CAST('0.5' AS DOUBLE),
              CAST('0.95' AS DOUBLE)]) AS p),
          tgt AS (SELECT ps.p, tot.ma, tot.mb, tot.it, tot.total,
              ps.p * tot.total AS target FROM ps CROSS JOIN tot),
          ord AS (SELECT e, s, n, blo, w,
              sum(n) OVER (ORDER BY e, s) AS cumi,
              sum(n) OVER (ORDER BY e, s) - n AS cumb
            FROM ins),
          cand AS (SELECT t.p, o.blo, o.w, o.n, o.cumb
            FROM tgt t JOIN ord o
              ON o.n > 0 AND t.ma + CAST(o.cumi AS DOUBLE) >= t.target
            QUALIFY row_number() OVER (PARTITION BY t.p
              ORDER BY o.e, o.s) = 1),
          vals AS (SELECT t.p, CASE
              WHEN t.total <= 0 THEN NULL
              WHEN COALESCE((SELECT ca FROM pl), 0) > 0 AND t.ma >= t.target
                THEN (SELECT ovlo FROM pl) +
                  ((SELECT ovhi FROM pl) - (SELECT ovlo FROM pl))
                    * (t.target / t.ma)
              WHEN cand.blo IS NOT NULL
                THEN cand.blo + cand.w *
                  ((t.target - (t.ma + CAST(cand.cumb AS DOUBLE)))
                    / CAST(cand.n AS DOUBLE))
              WHEN t.mb > 0
                THEN (SELECT ovlo FROM ph) +
                  ((SELECT ovhi FROM ph) - (SELECT ovlo FROM ph)) *
                  least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                    (t.target - (t.ma + CAST(t.it AS DOUBLE))) / t.mb))
              ELSE (SELECT max(blo + w) FROM ins) END AS v
            FROM tgt t LEFT JOIN cand ON cand.p = t.p),
          fin AS (SELECT
              max(CASE WHEN p = CAST('0.5' AS DOUBLE) THEN v END) AS p50b,
              max(CASE WHEN p = CAST('0.95' AS DOUBLE) THEN v END) AS p95b
            FROM vals),
          exq AS (SELECT
              CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS x50b,
              CAST(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS x95b
            FROM lineitem WHERE l_extendedprice >= 5000
              AND l_extendedprice < 30000)
          SELECT fin.p50b, fin.p95b, exq.x50b, exq.x95b,
            (fin.p50b - exq.x50b) / exq.x50b AS err_p50b,
            (fin.p95b - exq.x95b) / exq.x95b AS err_p95b
          FROM fin, exq""",
    // q150: the q144 hdr percentile chain PER (returnflag, linestatus)
    // group — corrected-log2 buckets carrying the group key, per-group
    // cumulatives, HdrSketch.percentile's rank convention (target =
    // p*(n_g - 1), within 0 for singleton buckets), the same fixed
    // association lower + width*within. Exact per-group quantile_cont
    // companions rounded through DECIMAL(18,6) (the q74 recipe).
    // l_extendedprice is strictly positive, so the value-order walk is
    // (e, s) ascending (no zero/negative buckets in this data).
    "q150_grouped_hdr_pct" ->
      """WITH ve AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
              CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT rf, ls, v, abs(v) AS av FROM ve),
          eb0 AS (SELECT rf, ls, v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT rf, ls, v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT rf, ls,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT rf, ls, e, s, count(*) AS n
            FROM eb2 GROUP BY 1, 2, 3, 4),
          ecm AS (SELECT rf, ls, e, s, n,
              sum(n) OVER (PARTITION BY rf, ls ORDER BY e, s) - n AS cumb,
              sum(n) OVER (PARTITION BY rf, ls) AS total FROM ebk),
          epk AS (SELECT rf, ls, e, s, n, cumb,
              CAST('0.95' AS DOUBLE) * CAST(total - 1 AS DOUBLE) AS target
            FROM ecm
            WHERE cumb + n > CAST('0.95' AS DOUBLE) * CAST(total - 1 AS DOUBLE)
            QUALIFY row_number() OVER (PARTITION BY rf, ls
              ORDER BY e, s) = 1),
          est AS (SELECT rf, ls,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
              + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
                * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
              AS p95 FROM epk),
          exq AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
              CAST(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS x95
            FROM lineitem GROUP BY 1, 2)
          SELECT est.rf, est.ls, est.p95, exq.x95,
            (est.p95 - exq.x95) / exq.x95 AS rel_err
          FROM est JOIN exq ON est.rf = exq.rf AND est.ls = exq.ls
          ORDER BY est.rf, est.ls""",
    // q161: the q150 per-group chain ordered by the estimate (key
    // tie-breaks) and cut to 3 — exactly what the peel replays over
    // the served rows.
    "q161_hdr_topk_groups" ->
      """WITH ve AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
              CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT rf, ls, v, abs(v) AS av FROM ve),
          eb0 AS (SELECT rf, ls, v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT rf, ls, v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT rf, ls,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT rf, ls, e, s, count(*) AS n
            FROM eb2 GROUP BY 1, 2, 3, 4),
          ecm AS (SELECT rf, ls, e, s, n,
              sum(n) OVER (PARTITION BY rf, ls ORDER BY e, s) - n AS cumb,
              sum(n) OVER (PARTITION BY rf, ls) AS total FROM ebk),
          epk AS (SELECT rf, ls, e, s, n, cumb,
              CAST('0.95' AS DOUBLE) * CAST(total - 1 AS DOUBLE) AS target
            FROM ecm
            WHERE cumb + n > CAST('0.95' AS DOUBLE) * CAST(total - 1 AS DOUBLE)
            QUALIFY row_number() OVER (PARTITION BY rf, ls
              ORDER BY e, s) = 1),
          est AS (SELECT rf AS l_returnflag, ls AS l_linestatus,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
              + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
                * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
              AS p95 FROM epk)
          SELECT l_returnflag, l_linestatus, p95 FROM est
          ORDER BY p95 DESC, l_returnflag, l_linestatus LIMIT 3""",
    // q151: the marginal collapse — the engine merges the composite
    // blob's per-(rf, ls) sketches across linestatus by adding bucket
    // counts (exact: the log grid is global), which is bucket-wise
    // identical to grouping by returnflag alone; the oracle therefore
    // just runs the q150 chain keyed on rf.
    "q151_hdr_marginal_pct" ->
      """WITH ve AS (SELECT l_returnflag AS rf,
              CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT rf, v, abs(v) AS av FROM ve),
          eb0 AS (SELECT rf, v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT rf, v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT rf,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT rf, e, s, count(*) AS n FROM eb2 GROUP BY 1, 2, 3),
          ecm AS (SELECT rf, e, s, n,
              sum(n) OVER (PARTITION BY rf ORDER BY e, s) - n AS cumb,
              sum(n) OVER (PARTITION BY rf) AS total FROM ebk),
          epk AS (SELECT rf, e, s, n, cumb,
              CAST('0.5' AS DOUBLE) * CAST(total - 1 AS DOUBLE) AS target
            FROM ecm
            WHERE cumb + n > CAST('0.5' AS DOUBLE) * CAST(total - 1 AS DOUBLE)
            QUALIFY row_number() OVER (PARTITION BY rf ORDER BY e, s) = 1),
          est AS (SELECT rf,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
              + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
                * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
              AS p50 FROM epk),
          exq AS (SELECT l_returnflag AS rf,
              CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS x50
            FROM lineitem GROUP BY 1)
          SELECT est.rf, est.p50, exq.x50,
            (est.p50 - exq.x50) / exq.x50 AS rel_err
          FROM est JOIN exq ON est.rf = exq.rf
          ORDER BY est.rf""",
    // q172: q151's rf-marginal chain evaluated at THREE quantiles per
    // group — the point estimate plus the rank-shifted CI bounds. The
    // shifted quantiles use the engine's exact association
    // p ∓ (1.96 · sqrt((p·(1−p)) / n_g)) clamped via greatest/least,
    // with n_g the group's total bucketed mass; each then walks the
    // same log-grid interpolation. Breaks together with q150/q151 if
    // the bucket chain or the CI association changes.
    "q172_grouped_pct_ci" ->
      """WITH ve AS (SELECT l_returnflag AS rf,
              CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT rf, v, abs(v) AS av FROM ve),
          eb0 AS (SELECT rf, v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT rf, v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT rf,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT rf, e, s, count(*) AS n FROM eb2 GROUP BY 1, 2, 3),
          ecm AS (SELECT rf, e, s, n,
              sum(n) OVER (PARTITION BY rf ORDER BY e, s) - n AS cumb,
              sum(n) OVER (PARTITION BY rf) AS total FROM ebk),
          tot AS (SELECT rf, max(total) AS total FROM ecm GROUP BY rf),
          tg AS (SELECT rf, total, tag,
              CASE tag WHEN 'est' THEN CAST('0.95' AS DOUBLE)
                WHEN 'lo' THEN greatest(CAST(0 AS DOUBLE), least(CAST(1 AS DOUBLE),
                  CAST('0.95' AS DOUBLE) - (CAST('1.96' AS DOUBLE)
                    * sqrt((CAST('0.95' AS DOUBLE)
                        * (CAST(1 AS DOUBLE) - CAST('0.95' AS DOUBLE)))
                      / CAST(total AS DOUBLE)))))
                ELSE greatest(CAST(0 AS DOUBLE), least(CAST(1 AS DOUBLE),
                  CAST('0.95' AS DOUBLE) + (CAST('1.96' AS DOUBLE)
                    * sqrt((CAST('0.95' AS DOUBLE)
                        * (CAST(1 AS DOUBLE) - CAST('0.95' AS DOUBLE)))
                      / CAST(total AS DOUBLE)))))
              END AS p
            FROM tot, (SELECT unnest(['est', 'lo', 'hi']) AS tag)),
          epk AS (SELECT tg.rf, tg.tag, ecm.e, ecm.s, ecm.n, ecm.cumb,
              tg.p * CAST(tg.total - 1 AS DOUBLE) AS target
            FROM tg JOIN ecm ON ecm.rf = tg.rf
            WHERE ecm.cumb + ecm.n > tg.p * CAST(tg.total - 1 AS DOUBLE)
            QUALIFY row_number() OVER (PARTITION BY tg.rf, tg.tag
              ORDER BY ecm.e, ecm.s) = 1),
          est AS (SELECT rf, tag,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
              + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
                * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
              AS v FROM epk)
          SELECT rf,
            max(CASE WHEN tag = 'est' THEN v END) AS p95,
            max(CASE WHEN tag = 'lo' THEN v END) AS p95_ci_low,
            max(CASE WHEN tag = 'hi' THEN v END) AS p95_ci_high
          FROM est GROUP BY rf ORDER BY rf""",
    // q158: the q150 per-group percentile chain keyed by calendar day
    // under the date filter — the engine prunes recorded day keys by
    // the widened epoch-day comparison, which equals filtering the
    // rows by CAST(ts AS DATE) before bucketing.
    "q158_daily_p99" ->
      """WITH ve AS (SELECT CAST(ts AS DATE) AS day,
              CAST(value AS DOUBLE) AS v FROM events
              WHERE value IS NOT NULL
                AND CAST(ts AS DATE) >= DATE '2024-01-21'),
          ea AS (SELECT day, v, abs(v) AS av FROM ve),
          eb0 AS (SELECT day, v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT day, v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT day,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT day, e, s, count(*) AS n
            FROM eb2 GROUP BY 1, 2, 3),
          ecm AS (SELECT day, e, s, n,
              sum(n) OVER (PARTITION BY day ORDER BY e, s) - n AS cumb,
              sum(n) OVER (PARTITION BY day) AS total FROM ebk),
          epk AS (SELECT day, e, s, n, cumb,
              CAST('0.99' AS DOUBLE) * CAST(total - 1 AS DOUBLE) AS target
            FROM ecm
            WHERE cumb + n > CAST('0.99' AS DOUBLE) * CAST(total - 1 AS DOUBLE)
            QUALIFY row_number() OVER (PARTITION BY day
              ORDER BY e, s) = 1)
          SELECT day,
            pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
            + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
              * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                      ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
            AS p99 FROM epk ORDER BY day""",
    // q160: q148's clip-sum arithmetic PER (returnflag, linestatus)
    // group — per-(group, bucket) exact decimal sums, interior decimal
    // addition + one cast, edge terms scaled by the covered fraction
    // in ascending bucket order, AVG one division of the two per-group
    // estimates.
    "q160_grouped_hdr_sum" ->
      """WITH ve AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
              CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT rf, ls, v, abs(v) AS av FROM ve),
          eb0 AS (SELECT rf, ls, v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT rf, ls, v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT rf, ls, v,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT rf, ls, e, s, count(*) AS n,
              sum(CAST(v AS DECIMAL(38,4))) AS s4
            FROM eb2 GROUP BY 1, 2, 3, 4),
          geo AS (SELECT rf, ls, e, s, n, s4,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0) AS blo,
              pow(2.0, CAST(e AS DOUBLE)) / 32.0 AS w
            FROM ebk),
          clip AS (SELECT rf, ls, e, s, n, s4, blo, w, blo + w AS bhi,
              greatest(CAST('5000' AS DOUBLE), blo) AS ovlo,
              least(CAST('30000' AS DOUBLE), blo + w) AS ovhi
            FROM geo),
          kinds AS (SELECT *, CASE WHEN ovhi <= ovlo THEN 'out'
              WHEN ovlo = blo AND ovhi = bhi THEN 'in'
              ELSE 'part' END AS kind FROM clip),
          agg AS (SELECT rf, ls,
              CAST(COALESCE(sum(CASE WHEN kind = 'in' THEN n END), 0) AS DOUBLE) AS interior,
              CAST(COALESCE(sum(CASE WHEN kind = 'in' THEN s4 END),
                CAST(0 AS DECIMAL(38,4))) AS DOUBLE) AS interior_s
            FROM kinds GROUP BY 1, 2),
          pord AS (SELECT rf, ls,
              CAST(n AS DOUBLE) * ((ovhi - ovlo) / w) AS term_n,
              CAST(s4 AS DOUBLE) * ((ovhi - ovlo) / w) AS term_s,
              row_number() OVER (PARTITION BY rf, ls ORDER BY e, s) AS rn
            FROM kinds WHERE kind = 'part'),
          est AS (SELECT agg.rf, agg.ls,
              (agg.interior + COALESCE(p1.term_n, CAST(0 AS DOUBLE)))
                + COALESCE(p2.term_n, CAST(0 AS DOUBLE)) AS n_est,
              (agg.interior_s + COALESCE(p1.term_s, CAST(0 AS DOUBLE)))
                + COALESCE(p2.term_s, CAST(0 AS DOUBLE)) AS s_est
            FROM agg
            LEFT JOIN (SELECT rf, ls, term_n, term_s FROM pord WHERE rn = 1) p1
              ON p1.rf = agg.rf AND p1.ls = agg.ls
            LEFT JOIN (SELECT rf, ls, term_n, term_s FROM pord WHERE rn = 2) p2
              ON p2.rf = agg.rf AND p2.ls = agg.ls)
          SELECT rf, ls, n_est, s_est, s_est / n_est AS a_est
          FROM est WHERE n_est > 0 ORDER BY rf, ls""",
    // q156: the per-group clip chain — the engine's marginal merge
    // over linestatus is bucket-count addition on the global grid, so
    // the oracle groups by returnflag directly; per-group count via
    // the q146 association (interior + lo term) + hi term, percentile
    // via the q149 segment rule PARTITIONed BY group. Assumes the
    // band spans >1 bucket per group (no doubly clipped partial).
    "q156_grouped_hdr_range" ->
      """WITH ve AS (SELECT l_returnflag AS rf,
              CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
          ea AS (SELECT rf, v, abs(v) AS av FROM ve),
          eb0 AS (SELECT rf, v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT rf, v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT rf,
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT rf, e, s, count(*) AS n FROM eb2 GROUP BY 1, 2, 3),
          geo AS (SELECT rf, e, s, n,
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0) AS blo,
              pow(2.0, CAST(e AS DOUBLE)) / 32.0 AS w
            FROM ebk),
          clip AS (SELECT rf, e, s, n, blo, w, blo + w AS bhi,
              greatest(CAST('5000' AS DOUBLE), blo) AS ovlo,
              least(CAST('30000' AS DOUBLE), blo + w) AS ovhi
            FROM geo),
          kinds AS (SELECT *, CASE WHEN ovhi <= ovlo THEN 'out'
              WHEN ovlo = blo AND ovhi = bhi THEN 'in'
              ELSE 'part' END AS kind FROM clip),
          pl AS (SELECT rf, n AS ca, ovlo AS alo, ovhi AS ahi,
              CAST(n AS DOUBLE) * ((ovhi - ovlo) / w) AS ma
            FROM kinds WHERE kind = 'part' AND ovlo > blo),
          ph AS (SELECT rf, ovlo AS plo, ovhi AS phi,
              CAST(n AS DOUBLE) * ((ovhi - ovlo) / w) AS mb
            FROM kinds WHERE kind = 'part' AND ovlo = blo),
          ins AS (SELECT rf, e, s, n, blo, w FROM kinds WHERE kind = 'in'),
          itot AS (SELECT rf, sum(n) AS it FROM ins GROUP BY 1),
          base AS (SELECT g.rf,
              COALESCE(pl.ma, CAST(0 AS DOUBLE)) AS ma,
              COALESCE(ph.mb, CAST(0 AS DOUBLE)) AS mb,
              COALESCE(itot.it, 0) AS it,
              pl.alo, pl.ahi, pl.ca, ph.plo, ph.phi
            FROM (SELECT DISTINCT rf FROM kinds WHERE kind <> 'out') g
            LEFT JOIN pl ON pl.rf = g.rf
            LEFT JOIN ph ON ph.rf = g.rf
            LEFT JOIN itot ON itot.rf = g.rf),
          tgt AS (SELECT *, CAST('0.5' AS DOUBLE) * total AS target FROM
            (SELECT *, (CAST(it AS DOUBLE) + ma) + mb AS total
             FROM base) tt),
          ord AS (SELECT rf, e, s, n, blo, w,
              sum(n) OVER (PARTITION BY rf ORDER BY e, s) AS cumi,
              sum(n) OVER (PARTITION BY rf ORDER BY e, s) - n AS cumb
            FROM ins),
          cand AS (SELECT t.rf, o.blo, o.w, o.n, o.cumb
            FROM tgt t JOIN ord o ON o.rf = t.rf
              AND o.n > 0 AND t.ma + CAST(o.cumi AS DOUBLE) >= t.target
            QUALIFY row_number() OVER (PARTITION BY t.rf
              ORDER BY o.e, o.s) = 1),
          vals AS (SELECT t.rf, t.total, CASE
              WHEN t.total <= 0 THEN NULL
              WHEN COALESCE(t.ca, 0) > 0 AND t.ma >= t.target
                THEN t.alo + (t.ahi - t.alo) * (t.target / t.ma)
              WHEN cand.blo IS NOT NULL
                THEN cand.blo + cand.w *
                  ((t.target - (t.ma + CAST(cand.cumb AS DOUBLE)))
                    / CAST(cand.n AS DOUBLE))
              WHEN t.mb > 0
                THEN t.plo + (t.phi - t.plo) *
                  least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                    (t.target - (t.ma + CAST(t.it AS DOUBLE))) / t.mb))
              ELSE (SELECT max(i.blo + i.w) FROM ins i WHERE i.rf = t.rf)
              END AS v
            FROM tgt t LEFT JOIN cand ON cand.rf = t.rf)
          SELECT rf, total AS n_est, v AS p50b FROM vals
          WHERE total > 0 ORDER BY rf""",
    // q152: the IN-list merge — the engine collapses the composite
    // blob over linestatus, then merges the 'A' and 'R' sketches;
    // both steps are per-bucket count addition on the global log
    // grid, so the merged sketch's buckets are exactly the bucket
    // counts over rows with rf IN ('A','R'), walked with the
    // FULL-sketch rank convention (target = p*(n-1)).
    "q152_hdr_inlist_pct" ->
      """WITH ve AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_returnflag IN ('A', 'R')),
          ea AS (SELECT v, abs(v) AS av FROM ve),
          eb0 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              ELSE CAST(floor(log2(av)) AS INTEGER) END AS e0 FROM ea),
          eb1 AS (SELECT v, av, CASE WHEN v = 0 THEN 0
              WHEN pow(2.0, CAST(e0 AS DOUBLE)) > av THEN e0 - 1
              WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= av THEN e0 + 1
              ELSE e0 END AS e FROM eb0),
          eb2 AS (SELECT
              CASE WHEN v = 0 THEN 0 ELSE e END AS e,
              CASE WHEN v = 0 THEN 0 ELSE least(31,
                CAST(floor((av / pow(2.0, CAST(e AS DOUBLE)) - 1.0) * 32.0)
                  AS INTEGER)) END AS s
            FROM eb1),
          ebk AS (SELECT e, s, count(*) AS n FROM eb2 GROUP BY 1, 2),
          ecm AS (SELECT e, s, n,
              sum(n) OVER (ORDER BY e, s) - n AS cumb,
              sum(n) OVER () AS total FROM ebk),
          epk AS (SELECT e, s, n, cumb,
              CAST('0.9' AS DOUBLE) * CAST(total - 1 AS DOUBLE) AS target
            FROM ecm
            WHERE cumb + n > CAST('0.9' AS DOUBLE) * CAST(total - 1 AS DOUBLE)
            QUALIFY row_number() OVER (ORDER BY e, s) = 1),
          est AS (SELECT
              pow(2.0, CAST(e AS DOUBLE)) * (1.0 + CAST(s AS DOUBLE) / 32.0)
              + (pow(2.0, CAST(e AS DOUBLE)) / 32.0)
                * (CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE (target - CAST(cumb AS DOUBLE)) / CAST(n AS DOUBLE) END)
              AS p90m FROM epk),
          exq AS (SELECT
              CAST(CAST(quantile_cont(l_extendedprice, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS x90m
            FROM lineitem WHERE l_returnflag IN ('A', 'R'))
          SELECT est.p90m, exq.x90m,
            (est.p90m - exq.x90m) / exq.x90m AS rel_err
          FROM est, exq""",
    // q77: DuckDB re-derives the engine's join-AQP answer — the q28
    // constants (sf0.01 lineitem -> 0.02 tier -> threshold 200, HT
    // weight exactly 50.0) through the join. Per-row x*50 and the
    // weight-sum per group are exact integers in double, so the
    // estimates hash-match despite the real fraction.
    "q77_join_aqp_engine" ->
      s"""WITH k AS (SELECT o_orderpriority, CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'sys:' || CAST(l_orderkey AS VARCHAR)")} % 10000 < 200)
          SELECT o_orderpriority,
            CAST(count(*) AS DOUBLE) * 50.0 AS n_est,
            CAST(sum(x) AS DOUBLE) * 50.0 AS qty_est
          FROM k GROUP BY 1 ORDER BY 1""",
    // q153: q77's membership + the UNWEIGHTED sample percentile per
    // group (equal HT weights cancel in the rank, so no reweighting
    // exists to re-derive) — quantile_cont over exactly the lottery's
    // rows, rounded through DECIMAL(18,6) like the engine's output
    // column (the q74 recipe); the count pins the membership.
    "q153_join_aqp_pct" ->
      s"""WITH k AS (SELECT o_orderpriority, CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'sys:' || CAST(l_orderkey AS VARCHAR)")} % 10000 < 200)
          SELECT o_orderpriority,
            CAST(CAST(quantile_cont(x, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
            CAST(count(*) AS DOUBLE) * 50.0 AS n_est
          FROM k GROUP BY 1 ORDER BY 1""",
    // q78: q77's join membership (tier 0.02 -> threshold 200, weight
    // 50.0) with q28's full CI re-derivation, PER GROUP: DuckDB
    // recomputes every estimate and all nine CI companions from exact
    // integer moment sums with the SAME association as the rewritten
    // plan. Var[HT count] per sampled row = w(w-1) = 2450; Var[HT sum]
    // = x²·2450; se[avg] = moment-form sample stddev / sqrt(kn).
    "q78_join_aqp_ci" ->
      s"""WITH k AS (SELECT o_orderpriority, CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'sys:' || CAST(l_orderkey AS VARCHAR)")} % 10000 < 200),
          a AS (SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS kn,
              CAST(sum(x) AS DOUBLE) AS sx,
              CAST(sum(x * x) AS DOUBLE) AS sxx
            FROM k GROUP BY 1)
          SELECT o_orderpriority,
            kn * 50.0 AS n_est,
            sx * 50.0 AS qty_est,
            (sx * 50.0) / (kn * 50.0) AS avg_est,
            kn * 50.0 - 1.96 * sqrt(kn * 2450.0) AS n_est_ci_low,
            kn * 50.0 + 1.96 * sqrt(kn * 2450.0) AS n_est_ci_high,
            (1.96 * sqrt(kn * 2450.0)) / abs(kn * 50.0) AS n_est_rel_error,
            sx * 50.0 - 1.96 * sqrt(sxx * 2450.0) AS qty_est_ci_low,
            sx * 50.0 + 1.96 * sqrt(sxx * 2450.0) AS qty_est_ci_high,
            (1.96 * sqrt(sxx * 2450.0)) / abs(sx * 50.0) AS qty_est_rel_error,
            (sx * 50.0) / (kn * 50.0)
              - 1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn) AS avg_est_ci_low,
            (sx * 50.0) / (kn * 50.0)
              + 1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn) AS avg_est_ci_high,
            (1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn))
              / abs((sx * 50.0) / (kn * 50.0)) AS avg_est_rel_error
          FROM a ORDER BY o_orderpriority""",
    // q79: DuckDB re-derives the universe sample — the surviving
    // join-key set is the pure hash predicate on the (equal) join key,
    // so one membership test on the joined rows reproduces the
    // both-sides filter exactly; weight 100.0 and integral l_quantity
    // keep every weighted sum an exact double.
    "q79_universe_join" ->
      s"""WITH k AS (SELECT o_orderpriority, CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'uv:' || CAST(o_orderkey AS VARCHAR)")} % 10000 < 100)
          SELECT o_orderpriority,
            CAST(count(*) AS DOUBLE) * 100.0 AS n_est,
            CAST(sum(x) AS DOUBLE) * 100.0 AS qty_est
          FROM k GROUP BY 1 ORDER BY 1""",
    // q154: q79's membership + the unweighted winners' percentile per
    // group (q153's weights-cancel rule on the universe path), both
    // sides DECIMAL(18,6)-rounded; the riding count pins membership.
    "q154_universe_pct" ->
      s"""WITH k AS (SELECT o_orderpriority, CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'uv:' || CAST(o_orderkey AS VARCHAR)")} % 10000 < 100)
          SELECT o_orderpriority,
            CAST(CAST(quantile_cont(x, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
            CAST(count(*) AS DOUBLE) * 100.0 AS n_est
          FROM k GROUP BY 1 ORDER BY 1""",
    // q119: q79's membership with the key-distinct scale — the
    // distinct count of surviving o_orderkeys (equal to l_orderkeys in
    // the join) times the exact 100.0 weight; one cast, one multiply.
    "q119_universe_distinct" ->
      s"""WITH k AS (SELECT CAST(l_quantity AS BIGINT) AS x, l_orderkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'uv:' || CAST(o_orderkey AS VARCHAR)")} % 10000 < 100)
          SELECT CAST(count(*) AS DOUBLE) * 100.0 AS n_est,
            CAST(sum(x) AS DOUBLE) * 100.0 AS qty_est,
            CAST(count(DISTINCT l_orderkey) AS DOUBLE) * 100.0 AS nd_est
          FROM k""",
    // q124: q119's scale PER GROUP — distinct surviving orderkeys per
    // priority times the exact 100.0 weight.
    "q124_universe_distinct_group" ->
      s"""WITH k AS (SELECT o_orderpriority, l_orderkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'uv:' || CAST(o_orderkey AS VARCHAR)")} % 10000 < 100)
          SELECT o_orderpriority,
            CAST(count(*) AS DOUBLE) * 100.0 AS n_est,
            CAST(count(DISTINCT l_orderkey) AS DOUBLE) * 100.0 AS nd_est
          FROM k GROUP BY 1 ORDER BY 1""",
    // q95: q79's membership ('uv:' lottery on the shared orderkey,
    // threshold 100, weight exactly 100.0) with the part dim joined
    // UNFILTERED — the engine lotteries only the two big sides, so the
    // oracle applies the same single key filter and the same 1/p
    // scale; x*100 per row and per-group counts are exact integers in
    // double.
    "q95_universe_star" ->
      s"""WITH k AS (SELECT p_brand, CAST(l_quantity AS BIGINT) AS x
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            WHERE ${graft.queries.Dedup.h60Duck("'uv:' || CAST(o_orderkey AS VARCHAR)")} % 10000 < 100)
          SELECT p_brand,
            CAST(count(*) AS DOUBLE) * 100.0 AS n_est,
            CAST(sum(x) AS DOUBLE) * 100.0 AS qty_est
          FROM k GROUP BY 1 ORDER BY 1""",
    // q82: q79's universe membership ('uv:' lottery, threshold 100,
    // weight exactly 100.0) with q78's full CI re-derivation, PER
    // GROUP: Var[HT count] per surviving row = w(w-1) = 9900; Var[HT
    // sum] = x²·9900; se[avg] = moment-form sample stddev / sqrt(kn).
    "q82_universe_ci" ->
      s"""WITH k AS (SELECT o_orderpriority, CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'uv:' || CAST(o_orderkey AS VARCHAR)")} % 10000 < 100),
          a AS (SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS kn,
              CAST(sum(x) AS DOUBLE) AS sx,
              CAST(sum(x * x) AS DOUBLE) AS sxx
            FROM k GROUP BY 1)
          SELECT o_orderpriority,
            kn * 100.0 AS n_est,
            sx * 100.0 AS qty_est,
            (sx * 100.0) / (kn * 100.0) AS avg_est,
            kn * 100.0 - 1.96 * sqrt(kn * 9900.0) AS n_est_ci_low,
            kn * 100.0 + 1.96 * sqrt(kn * 9900.0) AS n_est_ci_high,
            (1.96 * sqrt(kn * 9900.0)) / abs(kn * 100.0) AS n_est_rel_error,
            sx * 100.0 - 1.96 * sqrt(sxx * 9900.0) AS qty_est_ci_low,
            sx * 100.0 + 1.96 * sqrt(sxx * 9900.0) AS qty_est_ci_high,
            (1.96 * sqrt(sxx * 9900.0)) / abs(sx * 100.0) AS qty_est_rel_error,
            (sx * 100.0) / (kn * 100.0)
              - 1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn) AS avg_est_ci_low,
            (sx * 100.0) / (kn * 100.0)
              + 1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn) AS avg_est_ci_high,
            (1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn))
              / abs((sx * 100.0) / (kn * 100.0)) AS avg_est_rel_error
          FROM a ORDER BY o_orderpriority""",
    // q80: identical membership to q79 (the materialized samples hold
    // exactly the lottery's winners), so the oracle is q79's verbatim.
    "q80_universe_materialized" ->
      s"""WITH k AS (SELECT o_orderpriority, CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE ${graft.queries.Dedup.h60Duck("'uv:' || CAST(o_orderkey AS VARCHAR)")} % 10000 < 100)
          SELECT o_orderpriority,
            CAST(count(*) AS DOUBLE) * 100.0 AS n_est,
            CAST(sum(x) AS DOUBLE) * 100.0 AS qty_est
          FROM k GROUP BY 1 ORDER BY 1""",
    // q76: DuckDB re-derives the deterministic stratified sample and
    // its per-group HT estimates. Allocation is integer-only (m = N_h
    // div 512; w_h = 2^least(13, floor(log2 m)) via length(bin());
    // membership h60 % 8192 < 8192/w_h), so both engines compute the
    // SAME sample and the SAME exact-integer weighted sums.
    "q76_stratified_estimate" ->
      s"""WITH ns AS (SELECT CAST(o_orderstatus AS VARCHAR) AS st,
              count(*) AS nh FROM orders GROUP BY 1),
          w AS (SELECT st,
              CASE WHEN nh // 512 < 1 THEN CAST(1 AS BIGINT)
                   ELSE CAST(1 AS BIGINT)
                     << CAST(least(13, length(bin(nh // 512)) - 1) AS INT)
              END AS wh FROM ns),
          k AS (SELECT o.o_orderstatus, o.o_orderpriority, o.o_custkey, w.wh
              FROM orders o JOIN w ON CAST(o.o_orderstatus AS VARCHAR) = w.st
              WHERE ${graft.queries.Dedup.h60Duck("'q76:' || CAST(o_orderkey AS VARCHAR)")} % 8192 < 8192 // wh)
          SELECT o_orderstatus, o_orderpriority,
            CAST(sum(wh) AS DOUBLE) AS n_est,
            CAST(sum(o_custkey * wh) AS DOUBLE) AS sk_est
          FROM k GROUP BY 1, 2 ORDER BY 1, 2""",
    // q163: DuckDB re-derives the outlier-indexed sample end to end —
    // outlier membership is rank ≤ 500 under the (v DESC, key ASC)
    // total order (the engine's scan-local cutoff predicate selects the
    // same set), the rest weight is the q76 power-of-two chain over
    // m = (N−500) div 2048, rest membership the 'ol:' h60 lottery, and
    // the weighted price sum goes through DECIMAL(18,4)·DECIMAL(18,0)
    // arithmetic exactly like the engine's decimalSums rewrite.
    // q174: DuckDB re-derives the bottom-k sample end to end — the
    // 'bk:' keyed h60 hash, the (hash, key) rank, membership rn <= k,
    // the constant expansion weight N/k (two BIGINT→DOUBLE casts, one
    // division — the engine's st.popSize/st.sampleSize arithmetic), and
    // the post-scaled estimates: count = w·n_f (one multiply of exact
    // integer-valued doubles), sum = w·CAST(Σ DECIMAL(18,4) AS DOUBLE)
    // (decimal sums exact and order-independent; one final multiply),
    // avg = Σ_dec / n_f (one division — the constant w cancels).
    "q174_bottomk_sample" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM orders),
          rk AS (SELECT o_orderkey AS k, o_totalprice AS v,
              o_orderstatus AS st, o_orderpriority AS pr,
              row_number() OVER (ORDER BY
                ${graft.queries.Dedup.h60Duck("'bk:' || CAST(o_orderkey AS VARCHAR)")} ASC,
                o_orderkey ASC) AS rn
            FROM orders),
          samp AS (SELECT * FROM rk WHERE rn <= 2048),
          ka AS (SELECT count(*) AS m FROM samp),
          wv AS (SELECT CAST(nn.n AS DOUBLE) / CAST(ka.m AS DOUBLE) AS w
            FROM nn, ka)
        SELECT pr AS o_orderpriority,
          wv.w * CAST(count(*) AS DOUBLE) AS n_est,
          wv.w * CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS tp_est,
          CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
            / CAST(count(v) AS DOUBLE) AS tp_avg
        FROM samp, wv
        WHERE st = 'F'
        GROUP BY pr, wv.w
        ORDER BY o_orderpriority""",

    // q179: q174's membership + the q168 interpolation chain with NO
    // weights — ranks over the raw sample rows, nEff = the achieved
    // sample size (count of samp), shifted quantiles via the same
    // single-IEEE-op tree the engine computes in Scala.
    "q179_bottomk_pct_ci" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM orders),
          rk AS (SELECT o_totalprice AS v,
              row_number() OVER (ORDER BY
                ${graft.queries.Dedup.h60Duck("'bk:' || CAST(o_orderkey AS VARCHAR)")} ASC,
                o_orderkey ASC) AS rn
            FROM orders),
          samp AS (SELECT v FROM rk WHERE rn <= 2048),
          ka AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM samp),
          pr AS (SELECT 'p50' AS tag, CAST(0.5 AS DOUBLE) AS p FROM ka
            UNION ALL
            SELECT 'lo', greatest(0.0, least(1.0, CAST(0.5 AS DOUBLE)
              - (1.96 * sqrt((CAST(0.5 AS DOUBLE) * (1.0 - CAST(0.5 AS DOUBLE)))
                  / m)))) FROM ka
            UNION ALL
            SELECT 'hi', greatest(0.0, least(1.0, CAST(0.5 AS DOUBLE)
              + (1.96 * sqrt((CAST(0.5 AS DOUBLE) * (1.0 - CAST(0.5 AS DOUBLE)))
                  / m)))) FROM ka),
          exp AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS idx
            FROM samp),
          np AS (SELECT count(*) AS np FROM exp),
          picked AS (SELECT pr.tag,
              min(CASE WHEN e.idx = CAST(floor(pr.p * (np.np - 1)) AS BIGINT)
                  THEN e.v END) AS lov,
              min(CASE WHEN e.idx = least(
                    CAST(floor(pr.p * (np.np - 1)) AS BIGINT) + 1, np.np - 1)
                  THEN e.v END) AS hiv,
              min(pr.p * (np.np - 1) - floor(pr.p * (np.np - 1))) AS fr
            FROM pr, exp e, np GROUP BY pr.tag),
          vals AS (SELECT tag,
              CAST(CAST(lov + (hiv - lov) * fr AS DECIMAL(18,6)) AS DOUBLE) AS val
            FROM picked)
          SELECT
            (SELECT val FROM vals WHERE tag = 'p50') AS p50,
            (SELECT (CAST(nn.n AS DOUBLE) / ka.m) * ka.m FROM nn, ka) AS n_est,
            (SELECT val FROM vals WHERE tag = 'lo') AS p50_ci_low,
            (SELECT val FROM vals WHERE tag = 'hi') AS p50_ci_high""",

    // q175: the grouped bottom-k chain — per-group ('bkg:' hash, key)
    // rank, membership rn <= k per group, each group's exact N_g and
    // weight N_g/least(k, N_g) (two casts + one division), estimates
    // scaled per output group by max(gw): count max(gw)·n_g, sum
    // max(gw)·CAST(Σ DECIMAL(18,4) AS DOUBLE), avg Σ_dec/n_g.
    "q175_bottomk_grouped" ->
      s"""WITH gc AS (SELECT o_orderstatus AS g, count(*) AS gn
            FROM orders GROUP BY 1),
          rk AS (SELECT o_orderstatus AS g, o_totalprice AS v,
              row_number() OVER (PARTITION BY o_orderstatus ORDER BY
                ${graft.queries.Dedup.h60Duck("'bkg:' || CAST(o_orderkey AS VARCHAR)")} ASC,
                o_orderkey ASC) AS rn
            FROM orders),
          samp AS (SELECT rk.g, rk.v,
              CAST(gc.gn AS DOUBLE)
                / CAST(least(512, gc.gn) AS DOUBLE) AS gw
            FROM rk JOIN gc ON rk.g = gc.g WHERE rk.rn <= 512)
        SELECT g AS o_orderstatus,
          max(gw) * CAST(count(*) AS DOUBLE) AS n_est,
          max(gw) * CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS tp_est,
          CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
            / CAST(count(v) AS DOUBLE) AS tp_avg
        FROM samp
        GROUP BY g
        ORDER BY o_orderstatus""",

    // q177: q175's sample membership + per-group unweighted median —
    // quantile_cont over the sample rows (constant quantile), both
    // sides rounded through DECIMAL(18,6), count scaled by max(gw).
    "q177_bottomk_pct" ->
      s"""WITH gc AS (SELECT o_orderstatus AS g, count(*) AS gn
            FROM orders GROUP BY 1),
          rk AS (SELECT o_orderstatus AS g, o_totalprice AS v,
              row_number() OVER (PARTITION BY o_orderstatus ORDER BY
                ${graft.queries.Dedup.h60Duck("'bkg:' || CAST(o_orderkey AS VARCHAR)")} ASC,
                o_orderkey ASC) AS rn
            FROM orders),
          samp AS (SELECT rk.g, rk.v,
              CAST(gc.gn AS DOUBLE)
                / CAST(least(512, gc.gn) AS DOUBLE) AS gw
            FROM rk JOIN gc ON rk.g = gc.g WHERE rk.rn <= 512)
        SELECT g AS o_orderstatus,
          max(gw) * CAST(count(*) AS DOUBLE) AS n_est,
          CAST(CAST(quantile_cont(v, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50
        FROM samp
        GROUP BY g
        ORDER BY o_orderstatus""",

    // q181: q177's per-group sample + the q179 rank-shift chain PER
    // GROUP — the shifted quantile applies only where gn > kg (capped
    // groups, whose kg is exactly 512 by construction); complete
    // groups interpolate at p itself for all three tags (zero-width,
    // exact). Manual interpolation (rank p·(kg−1), lower +
    // (higher−lower)·frac) mirrors Spark's percentile association;
    // all three values round through DECIMAL(18,6).
    "q181_bottomkg_pct_ci" ->
      s"""WITH gc AS (SELECT o_orderstatus AS g, count(*) AS gn
            FROM orders GROUP BY 1),
          rk AS (SELECT o_orderstatus AS g, o_totalprice AS v,
              row_number() OVER (PARTITION BY o_orderstatus ORDER BY
                ${graft.queries.Dedup.h60Duck("'bkg:' || CAST(o_orderkey AS VARCHAR)")} ASC,
                o_orderkey ASC) AS rn
            FROM orders),
          samp AS (SELECT rk.g, rk.v, gc.gn,
              CAST(gc.gn AS DOUBLE)
                / CAST(least(512, gc.gn) AS DOUBLE) AS gw
            FROM rk JOIN gc ON rk.g = gc.g WHERE rk.rn <= 512),
          ks AS (SELECT g, count(*) AS kg, max(gn) AS gn FROM samp
            GROUP BY g),
          pr AS (SELECT g, 'p50' AS tag, CAST(0.5 AS DOUBLE) AS p FROM ks
            UNION ALL
            SELECT g, 'lo', CASE WHEN gn > kg THEN
              greatest(0.0, least(1.0, CAST(0.5 AS DOUBLE)
                - (1.96 * sqrt((CAST(0.5 AS DOUBLE)
                    * (1.0 - CAST(0.5 AS DOUBLE))) / 512.0))))
              ELSE CAST(0.5 AS DOUBLE) END FROM ks
            UNION ALL
            SELECT g, 'hi', CASE WHEN gn > kg THEN
              greatest(0.0, least(1.0, CAST(0.5 AS DOUBLE)
                + (1.96 * sqrt((CAST(0.5 AS DOUBLE)
                    * (1.0 - CAST(0.5 AS DOUBLE))) / 512.0))))
              ELSE CAST(0.5 AS DOUBLE) END FROM ks),
          exp AS (SELECT g, v,
              row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS idx
            FROM samp),
          np AS (SELECT g, count(*) AS np FROM exp GROUP BY g),
          picked AS (SELECT pr.g, pr.tag,
              min(CASE WHEN e.idx = CAST(floor(pr.p * (np.np - 1)) AS BIGINT)
                  THEN e.v END) AS lov,
              min(CASE WHEN e.idx = least(
                    CAST(floor(pr.p * (np.np - 1)) AS BIGINT) + 1, np.np - 1)
                  THEN e.v END) AS hiv,
              min(pr.p * (np.np - 1) - floor(pr.p * (np.np - 1))) AS fr
            FROM pr
            JOIN exp e ON pr.g = e.g
            JOIN np ON np.g = pr.g
            GROUP BY pr.g, pr.tag),
          vals AS (SELECT g, tag,
              CAST(CAST(lov + (hiv - lov) * fr AS DECIMAL(18,6)) AS DOUBLE)
                AS val
            FROM picked),
          cnt AS (SELECT g, max(gw) * CAST(count(*) AS DOUBLE) AS n_est
            FROM samp GROUP BY g)
        SELECT cnt.g AS o_orderstatus, cnt.n_est,
          (SELECT val FROM vals WHERE vals.g = cnt.g AND tag = 'p50') AS p50,
          (SELECT val FROM vals WHERE vals.g = cnt.g AND tag = 'lo')
            AS p50_ci_low,
          (SELECT val FROM vals WHERE vals.g = cnt.g AND tag = 'hi')
            AS p50_ci_high
        FROM cnt ORDER BY o_orderstatus""",

    "q163_outlier_sum" ->
      s"""WITH ${duckOutlierSamp()}
          SELECT CAST(sum(wt) AS DOUBLE) AS n_est,
            CAST(sum(CAST(v AS DECIMAL(18,4)) * CAST(wt AS DECIMAL(18,0))) AS DOUBLE) AS tp_est,
            CAST(sum(CAST(v AS DECIMAL(18,4)) * CAST(wt AS DECIMAL(18,0))) AS DOUBLE)
              / CAST(sum(wt) AS DOUBLE) AS tp_avg
          FROM samp""",
    // q169: q163's membership with the status/priority columns carried
    // through — the filter prunes sample rows, the group key partitions
    // them, and the decimal weighted sums run per group.
    "q169_outlier_group" ->
      s"""WITH ${duckOutlierSamp(Seq(("o_orderstatus", "st"), ("o_orderpriority", "pr")))}
          SELECT pr AS o_orderpriority,
            CAST(sum(wt) AS DOUBLE) AS n_est,
            CAST(sum(CAST(v AS DECIMAL(18,4)) * CAST(wt AS DECIMAL(18,0))) AS DOUBLE) AS tp_est
          FROM samp WHERE st = 'F'
          GROUP BY pr ORDER BY pr""",
    // q171: q163's membership CTEs; max(v) over the sample equals the
    // true column max because the rank-≤500 part holds every top row
    // at weight 1 — the oracle reads it off the SAME re-derived sample
    // the estimates use, so a membership drift breaks all columns
    // together.
    "q171_outlier_max" ->
      s"""WITH ${duckOutlierSamp()}
          SELECT CAST(sum(wt) AS DOUBLE) AS n_est,
            CAST(sum(CAST(v AS DECIMAL(18,4)) * CAST(wt AS DECIMAL(18,0))) AS DOUBLE) AS tp_est,
            max(v) AS tp_max
          FROM samp""",
    // q180: the TWO-SIDED membership re-derived — high rank rn <= 500
    // under (v DESC, k ASC), low rank rnl <= 500 under (v ASC, k ASC)
    // with high-part rows excluded (the builder's lowPred && !outlierPred),
    // the rest lottery over the remainder at the power-of-two weight
    // computed from (N - 1000), and min/max read off the weight-1
    // tails of the SAME sample the decimal-weighted sum uses.
    "q180_outlier_min" ->
      s"""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
          nn AS (SELECT count(*) AS n FROM base),
          rk AS (SELECT k, v,
              row_number() OVER (ORDER BY v DESC, k ASC) AS rn,
              row_number() OVER (ORDER BY v ASC, k ASC) AS rnl FROM base),
          wv AS (SELECT CASE WHEN (n - 1000) // 2048 < 1 THEN CAST(1 AS BIGINT)
                   ELSE CAST(1 AS BIGINT)
                     << CAST(least(13, length(bin((n - 1000) // 2048)) - 1) AS INT)
              END AS w FROM nn),
          samp AS (
            SELECT v, CAST(1 AS BIGINT) AS wt FROM rk WHERE rn <= 500
            UNION ALL
            SELECT v, CAST(1 AS BIGINT) AS wt FROM rk
            WHERE rnl <= 500 AND rn > 500
            UNION ALL
            SELECT r.v, w.w AS wt FROM rk r, wv w
            WHERE r.rn > 500 AND r.rnl > 500
              AND ${graft.queries.Dedup.h60Duck("'ol:' || CAST(r.k AS VARCHAR)")} % 8192 < 8192 // w.w)
          SELECT CAST(sum(wt) AS DOUBLE) AS n_est,
            CAST(sum(CAST(v AS DECIMAL(18,4)) * CAST(wt AS DECIMAL(18,0))) AS DOUBLE) AS tp_est,
            min(v) AS tp_min,
            max(v) AS tp_max
          FROM samp""",
    // q168: q163's membership CTEs, then the FULL percentile-CI chain
    // re-derived — nEff from the sample's own exact integer weight
    // sums, the rank-shifted quantiles with the engine's association
    // (p ∓ (z·sqrt((p·(1−p))/nEff)), clamped), and Spark's
    // frequency-weighted percentile interpolation (rank p·(Σw−1),
    // lower + (higher−lower)·frac) evaluated manually over the
    // w-expanded sample at all three quantiles; the count's moment CI
    // companions mirror the q28 trees.
    "q168_pct_ci" ->
      s"""WITH ${duckOutlierSamp()},
          ne AS (SELECT CAST(sum(wt) AS DOUBLE) AS n1,
              CAST(sum(wt * wt) AS DOUBLE) AS n2,
              CAST(sum(wt * (wt - 1)) AS DOUBLE) AS varc FROM samp),
          pr AS (SELECT 'p90' AS tag, CAST(0.9 AS DOUBLE) AS p FROM ne
            UNION ALL
            SELECT 'lo', greatest(0.0, least(1.0, CAST(0.9 AS DOUBLE)
              - (1.96 * sqrt((CAST(0.9 AS DOUBLE) * (1.0 - CAST(0.9 AS DOUBLE)))
                  / ((n1 * n1) / n2))))) FROM ne
            UNION ALL
            SELECT 'hi', greatest(0.0, least(1.0, CAST(0.9 AS DOUBLE)
              + (1.96 * sqrt((CAST(0.9 AS DOUBLE) * (1.0 - CAST(0.9 AS DOUBLE)))
                  / ((n1 * n1) / n2))))) FROM ne),
          x AS (SELECT v, unnest(generate_series(1, CAST(wt AS BIGINT))) AS i
            FROM samp),
          exp AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS idx FROM x),
          np AS (SELECT count(*) AS np FROM exp),
          picked AS (SELECT pr.tag,
              min(CASE WHEN e.idx = CAST(floor(pr.p * (np.np - 1)) AS BIGINT)
                  THEN e.v END) AS lov,
              min(CASE WHEN e.idx = least(
                    CAST(floor(pr.p * (np.np - 1)) AS BIGINT) + 1, np.np - 1)
                  THEN e.v END) AS hiv,
              min(pr.p * (np.np - 1) - floor(pr.p * (np.np - 1))) AS fr
            FROM pr, exp e, np GROUP BY pr.tag),
          vals AS (SELECT tag,
              CAST(CAST(lov + (hiv - lov) * fr AS DECIMAL(18,6)) AS DOUBLE) AS val
            FROM picked)
          SELECT
            (SELECT val FROM vals WHERE tag = 'p90') AS p90,
            (SELECT n1 FROM ne) AS n_est,
            (SELECT n1 - (1.96 * sqrt(varc)) FROM ne) AS n_est_ci_low,
            (SELECT n1 + (1.96 * sqrt(varc)) FROM ne) AS n_est_ci_high,
            (SELECT (1.96 * sqrt(varc)) / abs(n1) FROM ne) AS n_est_rel_error,
            (SELECT val FROM vals WHERE tag = 'lo') AS p90_ci_low,
            (SELECT val FROM vals WHERE tag = 'hi') AS p90_ci_high""",
    // q155: q76's deterministic sample, each surviving row EXPANDED
    // wh times (generate_series lateral) — quantile_cont over the
    // expansion is Spark's frequency-weighted percentile definition
    // verbatim (rank p·(Σw−1) in the replayed multiset); count(*) of
    // the expansion is Σwh, the same HT n_est as q76.
    "q155_stratified_pct" ->
      s"""WITH ns AS (SELECT CAST(o_orderstatus AS VARCHAR) AS st,
              count(*) AS nh FROM orders GROUP BY 1),
          w AS (SELECT st,
              CASE WHEN nh // 512 < 1 THEN CAST(1 AS BIGINT)
                   ELSE CAST(1 AS BIGINT)
                     << CAST(least(13, length(bin(nh // 512)) - 1) AS INT)
              END AS wh FROM ns),
          k AS (SELECT o.o_orderstatus, o.o_orderpriority, o.o_custkey, w.wh
              FROM orders o JOIN w ON CAST(o.o_orderstatus AS VARCHAR) = w.st
              WHERE ${graft.queries.Dedup.h60Duck("'q76:' || CAST(o_orderkey AS VARCHAR)")} % 8192 < 8192 // wh),
          x AS (SELECT o_orderstatus, o_orderpriority, o_custkey,
              unnest(generate_series(1, CAST(wh AS BIGINT))) AS i
            FROM k)
          SELECT o_orderstatus, o_orderpriority,
            CAST(CAST(quantile_cont(o_custkey, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
            CAST(count(*) AS DOUBLE) AS n_est
          FROM x GROUP BY 1, 2 ORDER BY 1, 2""",
    // q72: the oracle predicts what the ImageIO decoder must recover
    // from each generated PNG (Multimodal.pngFor's id arithmetic) —
    // a mismatch means the real codec round-trip corrupted something.
    "q72_image_decode" ->
      """SELECT doc_id,
            CAST(1 + doc_id % 16 AS INT) AS width,
            CAST(1 + (doc_id * 3) % 16 AS INT) AS height,
            CAST(doc_id % 256 AS INT) AS red,
            CAST((doc_id * 7) % 256 AS INT) AS green,
            CAST((doc_id * 13) % 256 AS INT) AS blue
          FROM documents ORDER BY doc_id""",
    // q167: the oracle predicts the RESIZED raster from the gradient
    // generator (Multimodal.gradPngFor) + the nearest-neighbor rule
    // sx = x'·w div 4 — all-integer arithmetic on nonnegative ids, so
    // both engines agree exactly; a resize that samples the wrong
    // source pixel (or a lossy round trip) breaks the checksum.
    "q167_image_resize" ->
      """WITH g AS (SELECT doc_id,
            CAST(4 + doc_id % 13 AS BIGINT) AS w,
            CAST(4 + (doc_id * 3) % 13 AS BIGINT) AS h FROM documents),
          x1 AS (SELECT doc_id, w, h, unnest(generate_series(0, 3)) AS xp FROM g),
          px AS (SELECT doc_id, w, h, xp, unnest(generate_series(0, 3)) AS yp FROM x1),
          v AS (SELECT doc_id, w, h,
              (xp * w) // 4 AS sx, (yp * h) // 4 AS sy FROM px),
          c AS (SELECT doc_id, w, h,
              (doc_id + 5 * sx + 11 * sy) % 256 AS r,
              (doc_id * 7 + 3 * sx + 13 * sy) % 256 AS gg,
              (doc_id * 13 + 9 * sx + 2 * sy) % 256 AS b FROM v)
          SELECT doc_id,
            CAST(max(w) AS INT) AS src_w, CAST(max(h) AS INT) AS src_h,
            CAST(4 AS INT) AS rw, CAST(4 AS INT) AS rh,
            CAST(sum(r + 256 * gg + 65536 * b) AS BIGINT) AS checksum
          FROM c GROUP BY doc_id ORDER BY doc_id""",
    // q173: the oracle predicts what the GIF decoder must recover from
    // each generated animated payload (Multimodal.gifFor's id
    // arithmetic: dims, frame count, per-frame delay, and the first and
    // last frames' fill colors) — a mismatch means frame rasters or
    // container timing metadata corrupted in the codec round trip.
    // All-integer arithmetic on nonnegative ids on both sides.
    "q173_video_decode" ->
      """WITH p AS (SELECT doc_id,
            2 + doc_id % 4 AS nf,
            4 + doc_id % 7 AS dc,
            1 + doc_id % 4 AS lf
          FROM documents)
          SELECT doc_id,
            CAST(2 + doc_id % 8 AS INT) AS width,
            CAST(2 + (doc_id * 3) % 8 AS INT) AS height,
            CAST(nf AS INT) AS n_frames,
            CAST(nf * dc * 10 AS BIGINT) AS duration_ms,
            CAST((doc_id % 256) * 65536 + ((doc_id * 7) % 256) * 256
              + (doc_id * 13) % 256 AS INT) AS first_rgb,
            CAST(((doc_id + 11 * lf) % 256) * 65536
              + ((doc_id * 7 + 29 * lf) % 256) * 256
              + (doc_id * 13 + 47 * lf) % 256 AS INT) AS last_rgb
          FROM p ORDER BY doc_id""",
    // q81: the oracle predicts what the WAV decoder must recover from
    // each generated payload (Multimodal.wavFor's id arithmetic) — a
    // mismatch means PCM data or container metadata corrupted in the
    // codec round trip. All-integer arithmetic on both sides (doc_id
    // >= 0, so % is the same nonnegative remainder in both engines).
    // q178: the resample chain predicted end to end — n2 = n div 2,
    // rate2 = rate div 2, resampled sample i = generator value at
    // src = i·n div n2, plus the position-weighted checksum over ALL
    // n2 samples (exact BIGINT arithmetic, expanded per doc with the
    // unnest(generate_series(...)) form DuckDB's binder accepts).
    "q178_audio_resample" ->
      """WITH p AS (SELECT doc_id AS id,
              100 + doc_id % 400 AS n,
              (8000 + 1000 * (doc_id % 5)) // 2 AS rate2,
              (100 + doc_id % 400) // 2 AS n2
            FROM documents),
          ex AS (SELECT id, n, rate2, n2,
              unnest(generate_series(0, CAST(n2 - 1 AS BIGINT))) AS i
            FROM p),
          sm AS (SELECT id, rate2, n2, i,
              ((id * 31 + ((i * n) // n2) * 17) % 65536) - 32768 AS v
            FROM ex)
        SELECT id AS doc_id,
          CAST(rate2 AS INT) AS sample_rate,
          CAST(n2 AS INT) AS n_samples,
          CAST(max(CASE WHEN i = 0 THEN v END) AS INT) AS first_sample,
          CAST(max(CASE WHEN i = n2 // 2 THEN v END) AS INT) AS mid_sample,
          CAST(max(CASE WHEN i = n2 - 1 THEN v END) AS INT) AS last_sample,
          CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
        FROM sm
        GROUP BY id, rate2, n2
        ORDER BY doc_id""",

    // q182: membership from the 'mq:' lottery, decoded values from the
    // WAV generator arithmetic (every payload decodes, so ok = 1 for
    // all winners — the rate column is still computed from the
    // decoder's outcomes on the Spark side), HT count chain = q28's
    // (w = 100.0, w(w−1) = 9900.0), means = exact integer sums over
    // the DECODED winners with one division each (okn divisor — every
    // fixture payload decodes, so okn = k here, but the divisor pins
    // the documented decoded-payload semantics).
    "q182_media_qa_sampled" ->
      s"""WITH k AS (SELECT doc_id,
              CAST(doc_id % 4 AS INT) AS shard,
              100 + doc_id % 400 AS ns,
              8000 + 1000 * (doc_id % 5) AS rate
            FROM documents
            WHERE ${graft.queries.Dedup.h60Duck("'mq:' || CAST(doc_id AS VARCHAR)")} % 10000 < 100),
          a AS (SELECT shard, count(*) AS k, count(*) AS okn,
              sum(ns) AS ss, sum(rate) AS sr
            FROM k GROUP BY shard)
          SELECT shard, k,
            CAST(k AS DOUBLE) * 100.0 AS n_est,
            CAST(k AS DOUBLE) * 100.0
              - 1.96 * sqrt(CAST(k AS DOUBLE) * 9900.0) AS n_ci_low,
            CAST(k AS DOUBLE) * 100.0
              + 1.96 * sqrt(CAST(k AS DOUBLE) * 9900.0) AS n_ci_high,
            CAST(okn AS DOUBLE) / CAST(k AS DOUBLE) AS ok_rate,
            CASE WHEN okn = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(ss AS DOUBLE) / CAST(okn AS DOUBLE) END AS avg_samples,
            CASE WHEN okn = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(sr AS DOUBLE) / CAST(okn AS DOUBLE) END AS avg_rate
          FROM a ORDER BY shard""",

    "q81_audio_decode" ->
      """SELECT doc_id,
            CAST(8000 + 1000 * (doc_id % 5) AS INT) AS sample_rate,
            CAST(1 AS INT) AS channels,
            CAST(100 + doc_id % 400 AS INT) AS n_samples,
            CAST((doc_id * 31) % 65536 - 32768 AS INT) AS first_sample,
            CAST((doc_id * 31 + ((100 + doc_id % 400) // 2) * 17) % 65536 - 32768 AS INT) AS mid_sample,
            CAST((doc_id * 31 + (99 + doc_id % 400) * 17) % 65536 - 32768 AS INT) AS last_sample
          FROM documents ORDER BY doc_id""",
    // q28: the engine picks the 0.02 size-tier fraction for the 60K-row
    // sf0.01 lineitem (StrategyChooser.sampleFraction), so threshold =
    // 200/10000 and HT weight = 1/0.02 = 50.0 (both exact doubles). The
    // oracle recomputes every estimate and CI companion from exact
    // integer sums with the SAME association as the rewritten plan —
    // if the engine's tier table or CI formulas drift, this gate trips.
    "q28_aqp_sampled_agg" ->
      s"""WITH k AS (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem
            WHERE ${graft.queries.Dedup.h60Duck("'sys:' || CAST(l_orderkey AS VARCHAR)")} % 10000 < 200),
          a AS (SELECT CAST(count(*) AS DOUBLE) AS kn,
              CAST(sum(x) AS DOUBLE) AS sx,
              CAST(sum(x * x) AS DOUBLE) AS sxx FROM k)
          SELECT kn * 50.0 AS n,
            sx * 50.0 AS qty,
            (sx * 50.0) / (kn * 50.0) AS avg_qty,
            kn * 50.0 - 1.96 * sqrt(kn * 2450.0) AS n_ci_low,
            kn * 50.0 + 1.96 * sqrt(kn * 2450.0) AS n_ci_high,
            (1.96 * sqrt(kn * 2450.0)) / abs(kn * 50.0) AS n_rel_error,
            sx * 50.0 - 1.96 * sqrt(sxx * 2450.0) AS qty_ci_low,
            sx * 50.0 + 1.96 * sqrt(sxx * 2450.0) AS qty_ci_high,
            (1.96 * sqrt(sxx * 2450.0)) / abs(sx * 50.0) AS qty_rel_error,
            (sx * 50.0) / (kn * 50.0)
              - 1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn) AS avg_qty_ci_low,
            (sx * 50.0) / (kn * 50.0)
              + 1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn) AS avg_qty_ci_high,
            (1.96 * sqrt(greatest(CAST(0 AS DOUBLE), (sxx - (sx * sx) / kn) / (kn - 1.0)) / kn))
              / abs((sx * 50.0) / (kn * 50.0)) AS avg_qty_rel_error
          FROM a""",
    // q74: DuckDB re-derives the engine's histogram-strategy answer
    // from the same parquet — same grid, same bucket bracket (first b
    // whose inclusive cumulative count exceeds the target rank), same
    // fixed-association interpolation as Histogram.percentile. p
    // literals go through CAST('…' AS DOUBLE) (bare decimals are
    // DECIMAL-typed).
    "q74_hist_percentile" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi,
              count(*) AS n FROM orders),
          g AS (SELECT lo, (hi - lo) / 64 AS w, n FROM mm),
          bk AS (SELECT least(63, CAST(floor((CAST(o_totalprice AS DOUBLE) - g.lo) / g.w) AS INT)) AS b
            FROM orders, g),
          c AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
          cum AS (SELECT b, c, sum(c) OVER (ORDER BY b) - c AS cum_before FROM c),
          tg AS (SELECT pr, CAST(pr AS DOUBLE) * CAST(g.n - 1 AS DOUBLE) AS target
            FROM (SELECT unnest([CAST('0.25' AS DOUBLE), CAST('0.5' AS DOUBLE), CAST('0.9' AS DOUBLE)]) AS pr), g),
          pick AS (SELECT tg.pr, tg.target, min(cum.b) AS b FROM cum, tg
            WHERE cum.cum_before + cum.c > tg.target GROUP BY tg.pr, tg.target),
          est AS (SELECT pick.pr,
              g.lo + g.w * (CAST(pick.b AS DOUBLE)
                + CASE WHEN cum.c <= 1 THEN CAST(0 AS DOUBLE)
                       ELSE (pick.target - CAST(cum.cum_before AS DOUBLE)) / CAST(cum.c AS DOUBLE) END) AS v
            FROM pick JOIN cum ON pick.b = cum.b, g),
          fin AS (SELECT max(CASE WHEN pr = CAST('0.25' AS DOUBLE) THEN v END) AS p25,
            max(CASE WHEN pr = CAST('0.5' AS DOUBLE) THEN v END) AS p50,
            max(CASE WHEN pr = CAST('0.9' AS DOUBLE) THEN v END) AS p90
          FROM est),
          exq AS (SELECT
              CAST(CAST(quantile_cont(o_totalprice, 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS x25,
              CAST(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS x50,
              CAST(CAST(quantile_cont(o_totalprice, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS x90,
              (CAST(max(o_totalprice) AS DOUBLE) - CAST(min(o_totalprice) AS DOUBLE)) / 64 AS bucket_width
            FROM orders)
          SELECT p25, p50, p90, x25, x50, x90, bucket_width,
            p25 - x25 AS err_p25, p50 - x50 AS err_p50, p90 - x90 AS err_p90
          FROM fin, exq""",
    // q84: the q74 derivation PER GROUP. Each o_orderstatus group has
    // its own [min, max] grid (the builder's CASE hi > lo mirrored);
    // ranks use the group's non-NULL count; the interpolation keeps
    // q74's exact association. Exact companions are the per-group
    // decimal-rounded type-7 percentiles.
    "q84_grouped_hist" ->
      """WITH mm AS (SELECT o_orderstatus AS g,
              min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi,
              count(o_totalprice) AS n
            FROM orders GROUP BY o_orderstatus),
          grd AS (SELECT g, lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w, n
            FROM mm),
          bk AS (SELECT o.o_orderstatus AS g,
              least(63, CAST(floor((CAST(o.o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders o JOIN grd ON o.o_orderstatus = grd.g
            WHERE o.o_totalprice IS NOT NULL),
          c AS (SELECT g, b, count(*) AS c FROM bk GROUP BY g, b),
          cum AS (SELECT g, b, c,
              sum(c) OVER (PARTITION BY g ORDER BY b) - c AS cum_before FROM c),
          tg AS (SELECT grd.g, pr, CAST(pr AS DOUBLE) * CAST(grd.n - 1 AS DOUBLE) AS target
            FROM (SELECT unnest([CAST('0.5' AS DOUBLE), CAST('0.9' AS DOUBLE)]) AS pr), grd),
          pick AS (SELECT tg.g, tg.pr, tg.target, min(cum.b) AS b
            FROM cum JOIN tg ON cum.g = tg.g
            WHERE cum.cum_before + cum.c > tg.target
            GROUP BY tg.g, tg.pr, tg.target),
          est AS (SELECT pick.g, pick.pr,
              grd.lo + grd.w * (CAST(pick.b AS DOUBLE)
                + CASE WHEN cum.c <= 1 THEN CAST(0 AS DOUBLE)
                       ELSE (pick.target - CAST(cum.cum_before AS DOUBLE)) / CAST(cum.c AS DOUBLE) END) AS v
            FROM pick JOIN cum ON pick.g = cum.g AND pick.b = cum.b
            JOIN grd ON pick.g = grd.g),
          fin AS (SELECT g,
              max(CASE WHEN pr = CAST('0.5' AS DOUBLE) THEN v END) AS p50,
              max(CASE WHEN pr = CAST('0.9' AS DOUBLE) THEN v END) AS p90
            FROM est GROUP BY g),
          exq AS (SELECT o_orderstatus AS g,
              CAST(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS x50,
              CAST(CAST(quantile_cont(o_totalprice, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS x90,
              (CAST(max(o_totalprice) AS DOUBLE) - CAST(min(o_totalprice) AS DOUBLE)) / 64 AS bucket_width
            FROM orders GROUP BY o_orderstatus)
          SELECT fin.g AS o_orderstatus, p50, p90, x50, x90, bucket_width,
            p50 - x50 AS err_p50, p90 - x90 AS err_p90
          FROM fin JOIN exq ON fin.g = exq.g ORDER BY fin.g""",
    // q85: DuckDB re-derives the recorded build statistics directly —
    // min/max are comparisons (bit-exact), the sum is the repo's
    // decimal(18,4) portable recipe, avg is that sum over count in ONE
    // double division. plan_type must read 'sketch': an (equally
    // exact) scan-path fallback would hash-mismatch on this column.
    "q85_stats_serve" ->
      """SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
           CAST(max(o_totalprice) AS DOUBLE) AS mx,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sm,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(o_totalprice) AS DOUBLE) AS av,
           count(o_totalprice) AS nv,
           count(*) AS nr,
           'sketch' AS plan_type
         FROM orders""",
    // q86: q85's derivation PER GROUP — DuckDB recomputes each group's
    // min/max/counts and the decimal(18,4) portable sum; avg is that
    // sum over the group's non-NULL count in ONE double division.
    // plan_type must read 'sketch' (grouped-stats serve, not a scan).
    "q86_grouped_stats" ->
      """SELECT o_orderstatus,
           CAST(min(o_totalprice) AS DOUBLE) AS mn,
           CAST(max(o_totalprice) AS DOUBLE) AS mx,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sm,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(o_totalprice) AS DOUBLE) AS av,
           count(o_totalprice) AS nv,
           count(*) AS nr,
           'sketch' AS plan_type
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // q87: q84's per-group histogram derivation RESTRICTED to the
    // named group (its own [min,max]/64 grid, group-local ranks, the
    // same fixed-association interpolation) + q85's exact stats over
    // the same WHERE — both served from the engine's grouped blobs.
    "q87_filtered_group" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi,
              count(o_totalprice) AS n
            FROM orders WHERE o_orderstatus = 'F'),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w, n
            FROM mm),
          bk AS (SELECT least(63, CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders, grd
            WHERE o_totalprice IS NOT NULL AND o_orderstatus = 'F'),
          c AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
          cum AS (SELECT b, c,
              sum(c) OVER (ORDER BY b) - c AS cum_before FROM c),
          tg AS (SELECT CAST('0.5' AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS target FROM grd),
          pick AS (SELECT tg.target, min(cum.b) AS b
            FROM cum, tg WHERE cum.cum_before + cum.c > tg.target
            GROUP BY tg.target),
          est AS (SELECT grd.lo + grd.w * (CAST(pick.b AS DOUBLE)
                + CASE WHEN cum.c <= 1 THEN CAST(0 AS DOUBLE)
                       ELSE (pick.target - CAST(cum.cum_before AS DOUBLE)) / CAST(cum.c AS DOUBLE) END) AS p50
            FROM pick JOIN cum ON pick.b = cum.b, grd),
          st AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
              CAST(max(o_totalprice) AS DOUBLE) AS mx,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sm,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                / CAST(count(o_totalprice) AS DOUBLE) AS av,
              count(o_totalprice) AS nv, count(*) AS nr
            FROM orders WHERE o_orderstatus = 'F')
          SELECT mn, mx, sm, av, nv, nr, p50, 'sketch' AS plan_type
          FROM st, est""",
    // q88: exact stats over the IN-list union — decimal addition is
    // exact, so the engine's merge of per-group records equals the
    // direct aggregate over the union (q85's recipe, filtered).
    "q88_filtered_in_stats" ->
      """SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
           CAST(max(o_totalprice) AS DOUBLE) AS mx,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sm,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(o_totalprice) AS DOUBLE) AS av,
           count(o_totalprice) AS nv, count(*) AS nr,
           'sketch' AS plan_type
         FROM orders WHERE o_orderstatus IN ('F', 'P')""",
    // q93: q77's membership ('sys:' lottery, threshold 200, weight
    // 50.0) with the COMPOSITE join condition — the AGMS sketches only
    // drive the plan decision (gated by the in-query assert); the
    // served values are fixed-association HT arithmetic DuckDB
    // re-derives exactly.
    "q93_composite_join_aqp" ->
      s"""WITH k AS (SELECT CAST(l_quantity AS BIGINT) AS x
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              AND o_orderstatus = l_linestatus
            WHERE ${graft.queries.Dedup.h60Duck("'sys:' || CAST(l_orderkey AS VARCHAR)")} % 10000 < 200)
          SELECT CAST(count(*) AS DOUBLE) * 50.0 AS n_est,
            CAST(sum(x) AS DOUBLE) * 50.0 AS qty_est
          FROM k""",
    // q96: q77's membership ('sys:' lottery on the fact key, threshold
    // 200, weight 50.0) through the TWO-EDGE chain — the AGMS
    // sketches only drive the plan decision (gated by the in-query
    // assert); orders and customer join exact, so the same surviving
    // lineitem rows flow through the same chain on both engines.
    "q96_snowflake_join_aqp" ->
      s"""WITH k AS (SELECT CAST(l_quantity AS BIGINT) AS x
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE ${graft.queries.Dedup.h60Duck("'sys:' || CAST(l_orderkey AS VARCHAR)")} % 10000 < 200)
          SELECT CAST(count(*) AS DOUBLE) * 50.0 AS n_est,
            CAST(sum(x) AS DOUBLE) * 50.0 AS qty_est
          FROM k""",
    // q92: exact per-(flag, status) statistics — the q86 recipe over a
    // composite GROUP BY. plan_type 'sketch' gates that the engine
    // really served from the composite blob.
    "q92_composite_stats" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(min(l_quantity) AS DOUBLE) AS mn,
           CAST(max(l_quantity) AS DOUBLE) AS mx,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sm,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_quantity) AS DOUBLE) AS av,
           count(l_quantity) AS nv, count(*) AS nr,
           'sketch' AS plan_type
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    // q94: the partial-key collapse is EXACT (decimal addition merges
    // per-(flag,status) sums into per-status sums; min/max monotone),
    // so the oracle aggregates the filtered rows directly with the
    // q86/q92 decimal-portable recipe. plan_type 'sketch' gates that
    // the engine really served from the composite blob.
    "q94_partial_key_stats" ->
      """SELECT l_linestatus,
           CAST(min(l_quantity) AS DOUBLE) AS mn,
           CAST(max(l_quantity) AS DOUBLE) AS mx,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sm,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_quantity) AS DOUBLE) AS av,
           count(l_quantity) AS nv, count(*) AS nr,
           'sketch' AS plan_type
         FROM lineitem WHERE l_returnflag IN ('A', 'N')
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",
    // q97: the serve answers the inner aggregate from the grouped
    // stats blob (q86's recipe), then HAVING / ORDER BY / LIMIT
    // replay over those bounded rows — so the oracle is the plain SQL
    // with the same total order (cnt DESC, key ASC breaks ties
    // deterministically on both engines).
    "q97_topk_serve" ->
      """SELECT o_orderstatus, count(o_totalprice) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(o_totalprice) AS DOUBLE) AS av,
           'sketch' AS plan_type
         FROM orders GROUP BY o_orderstatus
         HAVING count(o_totalprice) > 0
         ORDER BY cnt DESC, o_orderstatus LIMIT 2""",
    // q91: q84's per-group grid chain restricted to the named groups —
    // each group's grid comes from the FULL table's per-group min/max
    // (the build is unfiltered), so the filter only selects which rows
    // of the q84 answer appear.
    "q91_filtered_group_pct" ->
      """WITH mm AS (SELECT o_orderstatus AS g,
              min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi,
              count(o_totalprice) AS n
            FROM orders GROUP BY o_orderstatus),
          grd AS (SELECT g, lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w, n
            FROM mm),
          bk AS (SELECT o.o_orderstatus AS g,
              least(63, CAST(floor((CAST(o.o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders o JOIN grd ON o.o_orderstatus = grd.g
            WHERE o.o_totalprice IS NOT NULL),
          c AS (SELECT g, b, count(*) AS c FROM bk GROUP BY g, b),
          cum AS (SELECT g, b, c,
              sum(c) OVER (PARTITION BY g ORDER BY b) - c AS cum_before FROM c),
          tg AS (SELECT grd.g, CAST('0.5' AS DOUBLE) * CAST(grd.n - 1 AS DOUBLE) AS target
            FROM grd),
          pick AS (SELECT tg.g, tg.target, min(cum.b) AS b
            FROM cum JOIN tg ON cum.g = tg.g
            WHERE cum.cum_before + cum.c > tg.target
            GROUP BY tg.g, tg.target),
          est AS (SELECT pick.g,
              grd.lo + grd.w * (CAST(pick.b AS DOUBLE)
                + CASE WHEN cum.c <= 1 THEN CAST(0 AS DOUBLE)
                       ELSE (pick.target - CAST(cum.cum_before AS DOUBLE)) / CAST(cum.c AS DOUBLE) END) AS v
            FROM pick JOIN cum ON pick.g = cum.g AND pick.b = cum.b
            JOIN grd ON pick.g = grd.g)
          SELECT g AS o_orderstatus, v AS p50, 'sketch' AS plan_type
          FROM est WHERE g IN ('F', 'P') ORDER BY g""",
    // q90: the full CMS lookup re-derived — row hash i of key k is the
    // first 8 bytes of SHA-256(k || ascii(i)) read LITTLE-endian as an
    // unsigned 64-bit value (built positionally from the hex digits as
    // a HUGEINT) mod w; counter[i][c] = count of rows hashing to (i,c);
    // estimate(k) = min over the d rows; the IN answer is the sum over
    // the distinct keys. w/d are taken from the Cms constructor so the
    // oracle can never drift from the engine's dimensioning.
    "q90_cms_inlist" -> {
      val cms = new graft.sketch.Cms(0.01, 0.01)
      val bucket = (0 until 8).map { j =>
        val p1 = 2 * j + 1
        val p2 = 2 * j + 2
        val pair = s"((strpos('0123456789abcdef', substr(hx,$p1,1))-1)*16" +
          s" + (strpos('0123456789abcdef', substr(hx,$p2,1))-1))"
        val mult = java.math.BigInteger.valueOf(256).pow(j)
        s"CAST($pair AS HUGEINT) * CAST('$mult' AS HUGEINT)"
      }.mkString("(", " + ", s") % ${cms.w}")
      s"""WITH ri AS (SELECT unnest(range(${cms.d})) AS i),
          inp AS (
            SELECT o_orderstatus AS sv, 1 AS isrow FROM orders
            UNION ALL
            SELECT k, 0 FROM (SELECT unnest(['F', 'P']) AS k) tk),
          hashed AS (
            SELECT isrow, sv, i, sha256(sv || CAST(i AS VARCHAR)) AS hx
            FROM inp CROSS JOIN ri),
          bk AS (SELECT isrow, sv, i, $bucket AS c FROM hashed),
          cnt AS (
            SELECT t.sv AS k, t.i, count(r.c) AS n
            FROM (SELECT sv, i, c FROM bk WHERE isrow = 0) t
            LEFT JOIN (SELECT i, c FROM bk WHERE isrow = 1) r
              ON r.i = t.i AND r.c = t.c
            GROUP BY t.sv, t.i),
          est AS (SELECT k, min(n) AS e FROM cnt GROUP BY k)
          SELECT CAST(sum(e) AS BIGINT) AS n, 'sketch' AS plan_type
          FROM est"""
    },
    // q98: q90's CMS arithmetic over the COMPOSITE to_json tuple key —
    // rows hash '["<status>","<priority>"]' (rebuilt by concatenation;
    // these values contain no JSON metachars, and the general
    // renderer's byte-parity with Spark is SketchSpec-gated), the two
    // query tuples are the cross-product of the conjunction's literal
    // lists, and the served answer is the SUM of per-tuple minima.
    "q98_composite_cms" -> {
      val cms = new graft.sketch.Cms(0.01, 0.01)
      val bucket = (0 until 8).map { j =>
        val p1 = 2 * j + 1
        val p2 = 2 * j + 2
        val pair = s"((strpos('0123456789abcdef', substr(hx,$p1,1))-1)*16" +
          s" + (strpos('0123456789abcdef', substr(hx,$p2,1))-1))"
        val mult = java.math.BigInteger.valueOf(256).pow(j)
        s"CAST($pair AS HUGEINT) * CAST('$mult' AS HUGEINT)"
      }.mkString("(", " + ", s") % ${cms.w}")
      s"""WITH ri AS (SELECT unnest(range(${cms.d})) AS i),
          inp AS (
            SELECT '["' || o_orderstatus || '","' || o_orderpriority || '"]' AS sv,
              1 AS isrow
            FROM orders
            WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
            UNION ALL
            SELECT k, 0 FROM (SELECT unnest(
              ['["F","1-URGENT"]', '["F","3-MEDIUM"]']) AS k) tk),
          hashed AS (
            SELECT isrow, sv, i, sha256(sv || CAST(i AS VARCHAR)) AS hx
            FROM inp CROSS JOIN ri),
          bk AS (SELECT isrow, sv, i, $bucket AS c FROM hashed),
          cnt AS (
            SELECT t.sv AS k, t.i, count(r.c) AS n
            FROM (SELECT sv, i, c FROM bk WHERE isrow = 0) t
            LEFT JOIN (SELECT i, c FROM bk WHERE isrow = 1) r
              ON r.i = t.i AND r.c = t.c
            GROUP BY t.sv, t.i),
          est AS (SELECT k, min(n) AS e FROM cnt GROUP BY k)
          SELECT CAST(sum(e) AS BIGINT) AS n, 'sketch' AS plan_type
          FROM est"""
    },
    // q99: the shared-grid merge — ONE global [min,max]/64 grid for
    // every group, counts over the IN-filtered rows (identical to the
    // engine's sum of the named groups' bucket vectors), then the q74
    // interpolation chain once. Shares the grid/interpolation breakage
    // coupling of q74/q84/q91.
    "q99_merged_pct" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          flt AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
            WHERE o_orderstatus IN ('F', 'P') AND o_totalprice IS NOT NULL),
          nn AS (SELECT count(*) AS n FROM flt),
          bk AS (SELECT least(63, CAST(floor((flt.v - grd.lo) / grd.w) AS INT)) AS b
            FROM flt CROSS JOIN grd),
          c AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
          cum AS (SELECT b, c,
              sum(c) OVER (ORDER BY b) - c AS cum_before FROM c),
          tg AS (SELECT CAST('0.5' AS DOUBLE) * CAST(nn.n - 1 AS DOUBLE) AS target
            FROM nn),
          pick AS (SELECT tg.target, min(cum.b) AS b
            FROM cum CROSS JOIN tg
            WHERE cum.cum_before + cum.c > tg.target
            GROUP BY tg.target),
          est AS (SELECT grd.lo + grd.w * (CAST(pick.b AS DOUBLE)
              + CASE WHEN cum.c <= 1 THEN CAST(0 AS DOUBLE)
                     ELSE (pick.target - CAST(cum.cum_before AS DOUBLE)) / CAST(cum.c AS DOUBLE) END) AS v
            FROM pick JOIN cum ON pick.b = cum.b CROSS JOIN grd)
          SELECT v AS p50, 'sketch' AS plan_type FROM est""",
    // q101: the served key list equals the plain DISTINCT, in the
    // replayed ORDER BY order
    "q101_distinct_serve" ->
      """SELECT l_returnflag, l_linestatus, 'sketch' AS plan_type
          FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
          ORDER BY l_returnflag, l_linestatus""",
    // q103: the range-count interpolation re-derived — the build's
    // [min,max]/64 grid, per-bucket counts, range endpoints as grid
    // positions (single divisions), boundary bucket indexes, then
    // est = (interior + ca*((ia+1)-pa)) + cb*(pb-ib) with the exact
    // association Histogram.rangeCount uses.
    "q103_range_count" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd WHERE o_totalprice IS NOT NULL),
          c AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          parts AS (SELECT pa, pb, ia, ib,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS mid
            FROM ix),
          est AS (SELECT CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS v
            FROM parts)
          SELECT v AS n_est, 'sketch' AS plan_type FROM est""",
    // q106: q103's geometry with per-bucket decimal sums — interior
    // sums add exactly in DECIMAL then cast once, boundary terms are
    // single multiplies, avg is one double division; associations
    // mirror the engine's exactly.
    "q106_range_sum" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT o_totalprice AS rawv, least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd WHERE o_totalprice IS NOT NULL),
          c AS (SELECT b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          parts AS (SELECT pa, pb, ia, ib,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM ix),
          est AS (SELECT
              CASE WHEN pb <= pa THEN CAST(0 AS DOUBLE)
                   WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
                   ELSE (CAST(mid AS DOUBLE)
                       + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                     + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
              CASE WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
                   WHEN ia = ib THEN sa * (pb - pa)
                   ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                     + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT n AS n_est, s AS s_est, s / n AS a_est,
            'sketch' AS plan_type FROM est""",
    // q111: Histogram.rangePercentile re-derived — q103's grid and
    // clamped positions, then the segment rule: boundary bucket a
    // (mass ma, fractional), interior buckets on EXACT integer
    // cumulatives (one double addition per comparison), boundary
    // bucket b clamped to [0,1]. The first segment (zero-mass skipped)
    // whose cumulative mass reaches p*total brackets the value; every
    // float association mirrors the Scala walk.
    "q111_range_pct" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd WHERE o_totalprice IS NOT NULL),
          c AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
          pp AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM pp),
          parts AS (SELECT pa, pb, ia, ib,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS mid
            FROM ix),
          ps AS (SELECT unnest([CAST('0.5' AS DOUBLE),
              CAST('0.9' AS DOUBLE)]) AS p),
          base AS (SELECT ps.p, parts.*,
              CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa) AS ma,
              CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) AS mb
            FROM ps CROSS JOIN parts),
          tgt AS (SELECT *, p * total AS target FROM
            (SELECT *, (CAST(mid AS DOUBLE) + ma) + mb AS total
             FROM base) tt),
          cand AS (SELECT t.p, min(c.b) AS jb
            FROM tgt t JOIN c
              ON c.b > t.ia AND c.b < t.ib AND c.c > 0
            WHERE t.ma + CAST((SELECT sum(c2.c) FROM c c2
                WHERE c2.b > t.ia AND c2.b <= c.b) AS DOUBLE) >= t.target
            GROUP BY t.p),
          vals AS (SELECT t.p, CASE
              WHEN t.pb <= t.pa THEN NULL
              WHEN t.ia = t.ib THEN CASE WHEN t.ca > 0
                THEN grd.lo + grd.w * (t.pa + (t.pb - t.pa) * t.p)
                ELSE NULL END
              WHEN t.total <= 0 THEN NULL
              WHEN t.ca > 0 AND t.ma >= t.target
                THEN grd.lo + grd.w * (t.pa +
                  (CAST(t.ia + 1 AS DOUBLE) - t.pa) * (t.target / t.ma))
              WHEN cand.jb IS NOT NULL
                THEN grd.lo + grd.w * (CAST(cand.jb AS DOUBLE) +
                  (t.target - (t.ma + CAST(coalesce((SELECT sum(c3.c)
                      FROM c c3 WHERE c3.b > t.ia AND c3.b < cand.jb), 0)
                    AS DOUBLE)))
                  / CAST((SELECT c4.c FROM c c4 WHERE c4.b = cand.jb)
                    AS DOUBLE))
              WHEN t.mb > 0
                THEN grd.lo + grd.w * (CAST(t.ib AS DOUBLE) +
                  (t.pb - CAST(t.ib AS DOUBLE)) *
                  least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                    (t.target - (t.ma + CAST(t.mid AS DOUBLE))) / t.mb)))
              ELSE grd.lo + grd.w * CAST(t.ib AS DOUBLE) END AS v
            FROM tgt t LEFT JOIN cand ON cand.p = t.p CROSS JOIN grd)
          SELECT max(CASE WHEN p = CAST('0.5' AS DOUBLE) THEN v END) AS p50,
            max(CASE WHEN p = CAST('0.9' AS DOUBLE) THEN v END) AS p90,
            'sketch' AS plan_type
          FROM vals""",
    // q113: q104's per-group range-count arithmetic + q111's segment
    // rule PER GROUP over the shared-grid blob — global grid, per-
    // (group, bucket) counts, exact integer interior cumulatives per
    // group, rows kept where the count estimate is positive.
    "q113_grouped_range_pct" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT o_orderstatus AS g, least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd WHERE o_totalprice IS NOT NULL),
          c AS (SELECT g, b, count(*) AS c FROM bk GROUP BY g, b),
          pp AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM pp),
          gsx AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gsx.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c
                WHERE c.g IS NOT DISTINCT FROM gsx.g AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c
                WHERE c.g IS NOT DISTINCT FROM gsx.g AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.g IS NOT DISTINCT FROM gsx.g
                  AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid
            FROM gsx, ix),
          base AS (SELECT parts.*,
              CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa) AS ma,
              CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) AS mb
            FROM parts),
          tgt AS (SELECT *, CAST('0.5' AS DOUBLE) * total AS target FROM
            (SELECT *, (CAST(mid AS DOUBLE) + ma) + mb AS total
             FROM base) tt),
          cand AS (SELECT t.g, min(c.b) AS jb
            FROM tgt t JOIN c
              ON c.g IS NOT DISTINCT FROM t.g
                AND c.b > t.ia AND c.b < t.ib AND c.c > 0
            WHERE t.ma + CAST((SELECT sum(c2.c) FROM c c2
                WHERE c2.g IS NOT DISTINCT FROM t.g
                  AND c2.b > t.ia AND c2.b <= c.b) AS DOUBLE) >= t.target
            GROUP BY t.g),
          est AS (SELECT t.g,
              CASE WHEN t.pb <= t.pa THEN CAST(0 AS DOUBLE)
                   WHEN t.ia = t.ib THEN CAST(t.ca AS DOUBLE) * (t.pb - t.pa)
                   ELSE (CAST(t.mid AS DOUBLE)
                       + CAST(t.ca AS DOUBLE) * (CAST(t.ia + 1 AS DOUBLE) - t.pa))
                     + CAST(t.cb AS DOUBLE) * (t.pb - CAST(t.ib AS DOUBLE))
              END AS n_est,
              CASE WHEN t.pb <= t.pa THEN NULL
                   WHEN t.ia = t.ib THEN CASE WHEN t.ca > 0
                     THEN grd.lo + grd.w * (t.pa + (t.pb - t.pa) * CAST('0.5' AS DOUBLE))
                     ELSE NULL END
                   WHEN t.total <= 0 THEN NULL
                   WHEN t.ca > 0 AND t.ma >= t.target
                     THEN grd.lo + grd.w * (t.pa +
                       (CAST(t.ia + 1 AS DOUBLE) - t.pa) * (t.target / t.ma))
                   WHEN cand.jb IS NOT NULL
                     THEN grd.lo + grd.w * (CAST(cand.jb AS DOUBLE) +
                       (t.target - (t.ma + CAST(coalesce((SELECT sum(c3.c)
                           FROM c c3 WHERE c3.g IS NOT DISTINCT FROM t.g
                             AND c3.b > t.ia AND c3.b < cand.jb), 0)
                         AS DOUBLE)))
                       / CAST((SELECT c4.c FROM c c4
                           WHERE c4.g IS NOT DISTINCT FROM t.g
                             AND c4.b = cand.jb) AS DOUBLE))
                   WHEN t.mb > 0
                     THEN grd.lo + grd.w * (CAST(t.ib AS DOUBLE) +
                       (t.pb - CAST(t.ib AS DOUBLE)) *
                       least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                         (t.target - (t.ma + CAST(t.mid AS DOUBLE))) / t.mb)))
                   ELSE grd.lo + grd.w * CAST(t.ib AS DOUBLE) END AS p50
            FROM tgt t LEFT JOIN cand ON cand.g IS NOT DISTINCT FROM t.g
            CROSS JOIN grd)
          SELECT g AS o_orderstatus, n_est, p50, 'sketch' AS plan_type
          FROM est WHERE n_est > 0 ORDER BY o_orderstatus""",
    // q107: the full KMV set-op chain re-derived — per-side distinct
    // h60 hashes, bottom-k per side, bottom-k of the union, then the
    // engine's exact float associations: exhaustive union -> the true
    // matched count; saturated -> (m/k) * ((k-1)*2^60/θ), every
    // division/multiply in the engine's order.
    "q107_kmv_intersect" -> {
      val k = 1024
      val hO = graft.queries.Dedup.h60Duck("CAST(o_custkey AS VARCHAR)")
      val hC = graft.queries.Dedup.h60Duck("CAST(c_custkey AS VARCHAR)")
      s"""WITH ha AS (SELECT DISTINCT $hO AS h FROM orders
              WHERE o_custkey IS NOT NULL),
          hb AS (SELECT DISTINCT $hC AS h FROM customer
              WHERE c_custkey IS NOT NULL),
          ba AS (SELECT h FROM ha ORDER BY h LIMIT $k),
          bb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
          un AS (SELECT h FROM (SELECT h FROM ba UNION SELECT h FROM bb) u
              ORDER BY h LIMIT $k),
          st AS (SELECT count(*) AS un_n, max(h) AS theta FROM un),
          mm AS (SELECT count(*) AS m FROM un
              WHERE h IN (SELECT h FROM ba) AND h IN (SELECT h FROM bb))
          SELECT CASE WHEN st.un_n < $k THEN CAST(mm.m AS DOUBLE)
                      ELSE (CAST(mm.m AS DOUBLE) / CAST($k AS DOUBLE)) *
                        (CAST(${k - 1} AS DOUBLE)
                          * CAST(1152921504606846976 AS DOUBLE)
                          / CAST(st.theta AS DOUBLE)) END AS n,
            'sketch' AS plan_type
          FROM st, mm"""
    },
    // q114: the UNION estimate — exhaustive union counts exactly,
    // saturated unions use q45's (k-1)*2^60/θ on the union bottom-k.
    "q114_kmv_union" -> {
      val k = 1024
      val hO = graft.queries.Dedup.h60Duck("CAST(o_custkey AS VARCHAR)")
      val hC = graft.queries.Dedup.h60Duck("CAST(c_custkey AS VARCHAR)")
      s"""WITH ha AS (SELECT DISTINCT $hO AS h FROM orders
              WHERE o_custkey IS NOT NULL),
          hb AS (SELECT DISTINCT $hC AS h FROM customer
              WHERE c_custkey IS NOT NULL),
          ba AS (SELECT h FROM ha ORDER BY h LIMIT $k),
          bb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
          un AS (SELECT h FROM (SELECT h FROM ba UNION SELECT h FROM bb) u
              ORDER BY h LIMIT $k),
          st AS (SELECT count(*) AS un_n, max(h) AS theta FROM un)
          SELECT CASE WHEN st.un_n < $k THEN CAST(st.un_n AS DOUBLE)
                      ELSE CAST(${k - 1} AS DOUBLE)
                        * CAST(1152921504606846976 AS DOUBLE)
                        / CAST(st.theta AS DOUBLE) END AS n,
            'sketch' AS plan_type
          FROM st"""
    },
    // q108: the EXCEPT twin — A-only tuples (in customer's bottom-k,
    // not in events') scale the same union estimate.
    "q108_kmv_except" -> {
      val k = 1024
      val hE = graft.queries.Dedup.h60Duck("CAST(user_id AS VARCHAR)")
      val hC = graft.queries.Dedup.h60Duck("CAST(c_custkey AS VARCHAR)")
      s"""WITH ha AS (SELECT DISTINCT $hC AS h FROM customer
              WHERE c_custkey IS NOT NULL),
          hb AS (SELECT DISTINCT $hE AS h FROM events
              WHERE user_id IS NOT NULL),
          ba AS (SELECT h FROM ha ORDER BY h LIMIT $k),
          bb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
          un AS (SELECT h FROM (SELECT h FROM ba UNION SELECT h FROM bb) u
              ORDER BY h LIMIT $k),
          st AS (SELECT count(*) AS un_n, max(h) AS theta FROM un),
          mm AS (SELECT count(*) AS m FROM un
              WHERE h IN (SELECT h FROM ba)
                AND h NOT IN (SELECT h FROM bb))
          SELECT CASE WHEN st.un_n < $k THEN CAST(mm.m AS DOUBLE)
                      ELSE (CAST(mm.m AS DOUBLE) / CAST($k AS DOUBLE)) *
                        (CAST(${k - 1} AS DOUBLE)
                          * CAST(1152921504606846976 AS DOUBLE)
                          / CAST(st.theta AS DOUBLE)) END AS n,
            'sketch' AS plan_type
          FROM st, mm"""
    },
    // q109/q110: the heavy-hitters serves are EXACT (complete above
    // the build threshold), so the oracles are the plain SQL — the
    // deterministic tie-break (q109) / the keys-only sort (q110) pin
    // the kept row set.
    "q109_topk_serve" ->
      """SELECT l_partkey, count(*) AS c, 'sketch' AS plan_type
         FROM lineitem GROUP BY l_partkey
         ORDER BY c DESC, l_partkey LIMIT 10""",
    // q126: the star serve is EXACT (per-suppkey blob stats merged
    // into nations with the decimal-portable sum and one double
    // division for avg), so the oracle is the plain join + GROUP BY
    // with the repo's canonical renderings. plan_type must read
    // 'sketch' — a join fallback (scan) goes red.
    "q126_star_group" ->
      """SELECT s_nationkey, count(*) AS cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
           CAST(min(l_extendedprice) AS DOUBLE) AS mn,
           CAST(max(l_extendedprice) AS DOUBLE) AS mx,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_extendedprice) AS DOUBLE) AS av,
           'sketch' AS plan_type
         FROM lineitem JOIN supplier
           ON lineitem.l_suppkey = supplier.s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""",
    // q129: the snowflake star is exact — plain SQL over the 3-table
    // join with the portable sum
    "q129_snowflake_star" ->
      """SELECT n_name, count(*) AS cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
           'sketch' AS plan_type
         FROM lineitem JOIN supplier
           ON lineitem.l_suppkey = supplier.s_suppkey
         JOIN nation ON supplier.s_nationkey = nation.n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    // q128: dim-side filter + peel over the star serve, exact — the
    // plain SQL with the portable sum; the key tie-break pins the
    // kept row set under the LIMIT
    "q128_star_filtered" ->
      """SELECT s_nationkey, count(*) AS cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
           'sketch' AS plan_type
         FROM lineitem JOIN supplier
           ON lineitem.l_suppkey = supplier.s_suppkey
         WHERE s_nationkey < 13
         GROUP BY s_nationkey ORDER BY rev DESC, s_nationkey LIMIT 5""",
    // q127: the star percentile re-derived — ONE global grid over the
    // whole fact column (the shared-grid build's [min,max]/64), bucket
    // counts per NATION through the join (equal to summing the
    // suppkey histograms: bucket addition is associative), then q74's
    // interpolation per nation. Breaks together with
    // q74/q84/q99/q104 if Histogram.percentile or the grid rule
    // changes.
    "q127_star_pct" ->
      """WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
              max(CAST(l_extendedprice AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          j AS (SELECT s_nationkey AS g, CAST(l_extendedprice AS DOUBLE) AS v
            FROM lineitem JOIN supplier
              ON lineitem.l_suppkey = supplier.s_suppkey
            WHERE l_extendedprice IS NOT NULL),
          nn AS (SELECT g, count(*) AS n FROM j GROUP BY g),
          bk AS (SELECT g, least(63, CAST(floor((j.v - grd.lo) / grd.w) AS INT)) AS b
            FROM j CROSS JOIN grd),
          c AS (SELECT g, b, count(*) AS c FROM bk GROUP BY g, b),
          cum AS (SELECT g, b, c,
              sum(c) OVER (PARTITION BY g ORDER BY b) - c AS cum_before FROM c),
          tg AS (SELECT g, CAST('0.5' AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS target
            FROM nn),
          pick AS (SELECT tg.g, tg.target, min(cum.b) AS b
            FROM cum JOIN tg ON cum.g = tg.g
            WHERE cum.cum_before + cum.c > tg.target
            GROUP BY tg.g, tg.target),
          est AS (SELECT pick.g AS s_nationkey,
              grd.lo + grd.w * (CAST(pick.b AS DOUBLE)
                + CASE WHEN cum.c <= 1 THEN CAST(0 AS DOUBLE)
                       ELSE (pick.target - CAST(cum.cum_before AS DOUBLE))
                            / CAST(cum.c AS DOUBLE) END) AS p50
            FROM pick JOIN cum ON pick.g = cum.g AND pick.b = cum.b
            CROSS JOIN grd)
          SELECT s_nationkey, p50, 'sketch' AS plan_type FROM est
          ORDER BY s_nationkey""",
    // q131: the fact-side equality star is EXACT — plain SQL with the
    // portable decimal sum and one-division avg; the composite
    // collapse (prune on flag, add per-supplier counts/sums) IS the
    // filtered inner join's aggregation. plan_type rides as a column
    // so a scan fallback goes red.
    "q131_star_filtered_fact" ->
      """SELECT s_nationkey, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_quantity) AS DOUBLE) AS aq,
           'sketch' AS plan_type
         FROM lineitem JOIN supplier
           ON lineitem.l_suppkey = supplier.s_suppkey
         WHERE l_returnflag = 'R' GROUP BY s_nationkey
         ORDER BY s_nationkey""",
    // q132: the crossed rollup is exact — plain SQL with the portable
    // decimal sum; couples to q131's composite blob build.
    "q132_star_crossed" ->
      """SELECT s_nationkey, l_returnflag, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
           'sketch' AS plan_type
         FROM lineitem JOIN supplier
           ON lineitem.l_suppkey = supplier.s_suppkey
         GROUP BY s_nationkey, l_returnflag
         ORDER BY s_nationkey, l_returnflag""",
    // q134: the per-day rollup is exact — plain SQL with the portable
    // sum/avg; the serve emits TYPED timestamp keys (parsed back from
    // the blob's canonical UTC-session renderings), so the column
    // hash-matches DuckDB's native timestamps. ORDER BY is total
    // (dates unique per group).
    "q134_date_key_serve" ->
      """SELECT o_orderdate, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS st,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(o_totalprice) AS DOUBLE) AS at,
           'sketch' AS plan_type
         FROM orders GROUP BY o_orderdate
         ORDER BY o_orderdate LIMIT 100""",
    // q143: q130's chain grouped by NATION NAME through the snowflake
    // joins — same breakage coupling as q130/q142.
    "q143_snowflake_star_range" ->
      """WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
              max(CAST(l_extendedprice AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT n_name AS g, l_extendedprice AS rawv,
              least(63, CAST(floor((CAST(l_extendedprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem JOIN supplier
              ON lineitem.l_suppkey = supplier.s_suppkey
            JOIN nation ON supplier.s_nationkey = nation.n_nationkey
            CROSS JOIN grd WHERE l_extendedprice IS NOT NULL),
          c AS (SELECT g, b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('2000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('30000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT g AS n_name, n AS n_est, s AS s_est,
            'sketch' AS plan_type
          FROM est WHERE n > 0 ORDER BY g""",
    // q142: q130's chain restricted to the filtered nations — the dim
    // WHERE lands in the bucketing CTE's join; same breakage coupling
    // as q130.
    "q142_star_range_dim_where" ->
      """WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
              max(CAST(l_extendedprice AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT s_nationkey AS g, l_extendedprice AS rawv,
              least(63, CAST(floor((CAST(l_extendedprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem JOIN supplier
              ON lineitem.l_suppkey = supplier.s_suppkey
            CROSS JOIN grd
            WHERE l_extendedprice IS NOT NULL AND s_nationkey < 13),
          c AS (SELECT g, b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('2000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('30000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT g AS s_nationkey, n AS n_est, s AS s_est,
            'sketch' AS plan_type
          FROM est WHERE n > 0 ORDER BY g""",
    // q141: the last-N-days event rollup is exact — both engines
    // bucket by calendar day and compare the days chronologically.
    "q141_expr_key_range" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
           'sketch' AS plan_type
         FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-21'
         GROUP BY CAST(ts AS DATE) ORDER BY day""",
    // q139: the ungrouped star KPI is exact — plain SQL with the
    // portable sum/avg under the dim filter.
    "q139_star_ungrouped" ->
      """SELECT count(*) AS cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
           min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_extendedprice) AS DOUBLE) AS av,
           'sketch' AS plan_type
         FROM lineitem JOIN supplier
           ON lineitem.l_suppkey = supplier.s_suppkey
         WHERE s_nationkey < 13""",
    // q140: the ungrouped band — q130's count+sum chain with the
    // per-nation grouping removed (one global cell; every lineitem row
    // joins exactly one supplier, so the joined totals are the
    // table's). Breaks together with q104/q106/q118/q130.
    "q140_star_band_ungrouped" ->
      """WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
              max(CAST(l_extendedprice AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT l_extendedprice AS rawv, least(63,
              CAST(floor((CAST(l_extendedprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem JOIN supplier
              ON lineitem.l_suppkey = supplier.s_suppkey
            CROSS JOIN grd WHERE l_extendedprice IS NOT NULL),
          c AS (SELECT b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('2000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('30000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          parts AS (SELECT ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM ix),
          est AS (SELECT CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT n AS n_est, s AS s_est, 'sketch' AS plan_type FROM est""",
    // q138: the daily event rollup is exact — the engine's to_date
    // bucketing equals DuckDB's CAST(ts AS DATE); portable sum/avg.
    "q138_expr_key_serve" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(value) AS DOUBLE) AS av,
           'sketch' AS plan_type
         FROM events GROUP BY CAST(ts AS DATE) ORDER BY day""",
    // q137: the star marginal is exact — plain SQL; count(*) anchors
    // to the collapsed composite blob's rowcounts.
    "q137_star_marginal" ->
      """SELECT s_nationkey, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
           'sketch' AS plan_type
         FROM lineitem JOIN supplier
           ON lineitem.l_suppkey = supplier.s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""",
    // q136: the marginal rollup is exact — plain SQL with the portable
    // renderings; the engine's answer collapses the wide (flag,
    // status) blob's complete partition over the unused status key.
    "q136_marginal_rollup" ->
      """SELECT l_returnflag, count(*) AS nr,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_quantity) AS DOUBLE) AS aq,
           CAST(min(l_quantity) AS DOUBLE) AS mn,
           CAST(max(l_quantity) AS DOUBLE) AS mx,
           'sketch' AS plan_type
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // q135: the date-range pruned rollup is exact — plain SQL; both
    // engines compare the timestamps chronologically (the engine on
    // session-zone micros, DuckDB natively).
    "q135_date_range_serve" ->
      """SELECT o_orderdate, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS st,
           'sketch' AS plan_type
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1999-06-01 00:00:00'
           AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
         GROUP BY o_orderdate ORDER BY o_orderdate""",
    // q133: the filtered star-range chain — the q130/q118 arithmetic
    // with the flag filter inside bk (pruned composite cells add to
    // exactly the filtered per-(nation, bucket) counts and decimal
    // sums on the ONE shared grid over all lineitem.l_quantity).
    // Breaks together with q104/q106/q118/q130 if the grid rule or
    // Histogram.rangePositions changes; couples to q131's composite
    // build staying sharedGrid = true.
    "q133_star_range_filtered" ->
      """WITH mm AS (SELECT min(CAST(l_quantity AS DOUBLE)) AS lo,
              max(CAST(l_quantity AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT s_nationkey AS g, l_quantity AS rawv,
              least(63, CAST(floor((CAST(l_quantity AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem JOIN supplier
              ON lineitem.l_suppkey = supplier.s_suppkey
            CROSS JOIN grd
            WHERE l_quantity IS NOT NULL AND l_returnflag = 'R'),
          c AS (SELECT g, b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('10' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('40' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT g AS s_nationkey, n AS n_est, s AS s_est,
            s / n AS a_est, 'sketch' AS plan_type
          FROM est WHERE n > 0 ORDER BY g""",
    // q130: the star-range chain re-derived — q118's count+sum
    // arithmetic per NATION through the join on the shared global
    // grid (per-cell bucket counts and decimal sums equal the summed
    // per-suppkey blobs: integer/decimal addition is associative).
    // Breaks together with q104/q106/q118 if the grid rule or
    // Histogram.rangePositions changes, and with q126/q127 if the
    // star join orientation changes.
    "q130_star_range" ->
      """WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
              max(CAST(l_extendedprice AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT s_nationkey AS g, l_extendedprice AS rawv,
              least(63, CAST(floor((CAST(l_extendedprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem JOIN supplier
              ON lineitem.l_suppkey = supplier.s_suppkey
            CROSS JOIN grd WHERE l_extendedprice IS NOT NULL),
          c AS (SELECT g, b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('2000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('30000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT g AS s_nationkey, n AS n_est, s AS s_est,
            s / n AS a_est, 'sketch' AS plan_type
          FROM est WHERE n > 0 ORDER BY g""",
    // q112: the sum serve emits the repo's canonical decimal->double
    // recipe — the oracle computes the same rendering, so the top-10
    // revenues hash-match bit-for-bit
    "q112_topk_sum" ->
      """SELECT l_partkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
           'sketch' AS plan_type
         FROM lineitem GROUP BY l_partkey
         ORDER BY rev DESC, l_partkey LIMIT 10""",
    "q110_iceberg_serve" ->
      """SELECT l_partkey, count(*) AS c, 'sketch' AS plan_type
         FROM lineitem GROUP BY l_partkey HAVING count(*) >= 45
         ORDER BY l_partkey""",
    // q105: exact distinct tuple count — COUNT DISTINCT skips rows
    // with any NULL argument, mirrored by the non-NULL filter
    "q105_distinct_count" ->
      """SELECT count(*) AS nd, 'sketch' AS plan_type FROM (
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
            WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL) t""",
    // q104: q103's interpolation PER GROUP over the shared-grid blob —
    // one global grid, per-(group, bucket) counts, the same CASE
    // association per group, groups with positive mass only.
    "q104_grouped_range" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT o_orderstatus AS g, least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd WHERE o_totalprice IS NOT NULL),
          c AS (SELECT g, b, count(*) AS c FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS v
            FROM parts)
          SELECT g AS o_orderstatus, v AS n_est, 'sketch' AS plan_type
          FROM est WHERE v > 0 ORDER BY g""",
    // q118: q104's per-group range-count chain + q106's sum arithmetic
    // PER GROUP — per-(group, bucket) decimal sums on the same global
    // shared grid, interior sums exact decimal addition then one cast,
    // boundary buckets fractional, avg = s/n. Breaks together with
    // q104/q106 if the grid rule or Histogram.rangePositions changes.
    "q118_grouped_range_sum" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT o_orderstatus AS g, o_totalprice AS rawv, least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd WHERE o_totalprice IS NOT NULL),
          c AS (SELECT g, b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT g AS o_orderstatus, n AS n_est, s AS s_est,
            s / n AS a_est, 'sketch' AS plan_type
          FROM est WHERE n > 0 ORDER BY g""",
    // q120: the q106 count/sum arithmetic + the q111 segment walk over
    // ONE group's rows bucketed on the GLOBAL shared grid (mm/grd over
    // all orders, bk filtered to the group). Breaks together with
    // q104/q106/q111/q113/q118 if the grid rule or the walks change.
    "q120_filtered_range" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT o_totalprice AS rawv, least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd
            WHERE o_totalprice IS NOT NULL AND o_orderstatus = 'O'),
          c AS (SELECT b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          parts AS (SELECT pa, pb, ia, ib,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM ix),
          base AS (SELECT parts.*,
              CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa) AS ma,
              CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) AS mb
            FROM parts),
          tgt AS (SELECT *, CAST('0.5' AS DOUBLE) * total AS target FROM
            (SELECT *, (CAST(mid AS DOUBLE) + ma) + mb AS total
             FROM base) tt),
          cand AS (SELECT min(c.b) AS jb FROM tgt t JOIN c
              ON c.b > t.ia AND c.b < t.ib AND c.c > 0
            WHERE t.ma + CAST((SELECT sum(c2.c) FROM c c2
                WHERE c2.b > t.ia AND c2.b <= c.b) AS DOUBLE) >= t.target),
          est AS (SELECT
              CASE WHEN t.pb <= t.pa THEN CAST(0 AS DOUBLE)
                   WHEN t.ia = t.ib THEN CAST(t.ca AS DOUBLE) * (t.pb - t.pa)
                   ELSE (CAST(t.mid AS DOUBLE)
                       + CAST(t.ca AS DOUBLE) * (CAST(t.ia + 1 AS DOUBLE) - t.pa))
                     + CAST(t.cb AS DOUBLE) * (t.pb - CAST(t.ib AS DOUBLE))
              END AS n,
              CASE WHEN t.pb <= t.pa THEN CAST(NULL AS DOUBLE)
                   WHEN t.ia = t.ib THEN t.sa * (t.pb - t.pa)
                   ELSE (t.smid + t.sa * (CAST(t.ia + 1 AS DOUBLE) - t.pa))
                     + t.sb * (t.pb - CAST(t.ib AS DOUBLE)) END AS s,
              CASE WHEN t.pb <= t.pa THEN NULL
                   WHEN t.ia = t.ib THEN CASE WHEN t.ca > 0
                     THEN grd.lo + grd.w * (t.pa + (t.pb - t.pa) * CAST('0.5' AS DOUBLE))
                     ELSE NULL END
                   WHEN t.total <= 0 THEN NULL
                   WHEN t.ca > 0 AND t.ma >= t.target
                     THEN grd.lo + grd.w * (t.pa +
                       (CAST(t.ia + 1 AS DOUBLE) - t.pa) * (t.target / t.ma))
                   WHEN cand.jb IS NOT NULL
                     THEN grd.lo + grd.w * (CAST(cand.jb AS DOUBLE) +
                       (t.target - (t.ma + CAST(coalesce((SELECT sum(c3.c)
                           FROM c c3 WHERE c3.b > t.ia AND c3.b < cand.jb), 0)
                         AS DOUBLE)))
                       / CAST((SELECT c4.c FROM c c4 WHERE c4.b = cand.jb)
                         AS DOUBLE))
                   WHEN t.mb > 0
                     THEN grd.lo + grd.w * (CAST(t.ib AS DOUBLE) +
                       (t.pb - CAST(t.ib AS DOUBLE)) *
                       least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                         (t.target - (t.ma + CAST(t.mid AS DOUBLE))) / t.mb)))
                   ELSE grd.lo + grd.w * CAST(t.ib AS DOUBLE) END AS p50
            FROM tgt t LEFT JOIN cand ON TRUE CROSS JOIN grd)
          SELECT n AS n_est, s AS s_est, s / n AS a_est, p50,
            'sketch' AS plan_type FROM est""",
    // q121: the same count/sum chain with bk collapsed over BOTH named
    // groups — the engine adds the two groups' bucket counts and rider
    // sums exactly on the shared grid, which equals bucketing the
    // union of their rows.
    "q121_merged_range" ->
      """WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT o_totalprice AS rawv, least(63,
              CAST(floor((CAST(o_totalprice AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM orders CROSS JOIN grd
            WHERE o_totalprice IS NOT NULL
              AND o_orderstatus IN ('O', 'F')),
          c AS (SELECT b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('50000' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('150000' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          parts AS (SELECT pa, pb, ia, ib,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM ix),
          est AS (SELECT
              CASE WHEN pb <= pa THEN CAST(0 AS DOUBLE)
                   WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
                   ELSE (CAST(mid AS DOUBLE)
                       + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                     + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
              CASE WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
                   WHEN ia = ib THEN sa * (pb - pa)
                   ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                     + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT n AS n_est, s AS s_est, 'sketch' AS plan_type FROM est""",
    // q122: q121's chain over ONE composite cell's rows on the global
    // l_quantity shared grid — the engine's composite lookup selects
    // exactly those rows' histogram and rider.
    "q122_composite_filtered_range" ->
      """WITH mm AS (SELECT min(CAST(l_quantity AS DOUBLE)) AS lo,
              max(CAST(l_quantity AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT l_quantity AS rawv, least(63,
              CAST(floor((CAST(l_quantity AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem CROSS JOIN grd
            WHERE l_quantity IS NOT NULL
              AND l_returnflag = 'A' AND l_linestatus = 'F'),
          c AS (SELECT b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('10' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('40' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          parts AS (SELECT pa, pb, ia, ib,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c WHERE c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM ix),
          est AS (SELECT
              CASE WHEN pb <= pa THEN CAST(0 AS DOUBLE)
                   WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
                   ELSE (CAST(mid AS DOUBLE)
                       + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                     + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
              CASE WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
                   WHEN ia = ib THEN sa * (pb - pa)
                   ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                     + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT n AS n_est, s AS s_est, 'sketch' AS plan_type FROM est""",
    // q125: q123's chain with the flag filter widened to the IN list
    // — merging the matching cells per l_linestatus equals bucketing
    // the union of their rows on the shared grid.
    "q125_partial_in_range" ->
      """WITH mm AS (SELECT min(CAST(l_quantity AS DOUBLE)) AS lo,
              max(CAST(l_quantity AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT l_linestatus AS g, l_quantity AS rawv, least(63,
              CAST(floor((CAST(l_quantity AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem CROSS JOIN grd
            WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A', 'N')),
          c AS (SELECT g, b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('10' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('40' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT g AS l_linestatus, n AS n_est, s AS s_est,
            'sketch' AS plan_type
          FROM est WHERE n > 0 ORDER BY g""",
    // q123: q118's per-group count/sum chain keyed l_linestatus with
    // the residual l_returnflag = 'A' filter — exactly what pruning
    // the composite blob's entries computes (the global l_quantity
    // shared grid, groups with positive in-range mass kept).
    "q123_partial_key_range" ->
      """WITH mm AS (SELECT min(CAST(l_quantity AS DOUBLE)) AS lo,
              max(CAST(l_quantity AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          bk AS (SELECT l_linestatus AS g, l_quantity AS rawv, least(63,
              CAST(floor((CAST(l_quantity AS DOUBLE) - grd.lo) / grd.w) AS INT)) AS b
            FROM lineitem CROSS JOIN grd
            WHERE l_quantity IS NOT NULL AND l_returnflag = 'A'),
          c AS (SELECT g, b, count(*) AS c,
              sum(CAST(rawv AS DECIMAL(18,4))) AS s4 FROM bk GROUP BY g, b),
          p AS (SELECT
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('10' AS DOUBLE) - grd.lo) / grd.w)) AS pa,
              least(CAST(64 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                (CAST('40' AS DOUBLE) - grd.lo) / grd.w)) AS pb
            FROM grd),
          ix AS (SELECT pa, pb,
              least(63, CAST(floor(pa) AS INT)) AS ia,
              least(63, CAST(floor(pb) AS INT)) AS ib FROM p),
          gl AS (SELECT DISTINCT g FROM c),
          parts AS (SELECT gl.g, ix.pa, ix.pb, ix.ia, ix.ib,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ia), 0) AS ca,
              coalesce((SELECT c.c FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b = ix.ib), 0) AS cb,
              coalesce((SELECT sum(c.c) FROM c WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS mid,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ia), 0)
                AS DOUBLE) AS sa,
              CAST(coalesce((SELECT c.s4 FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g AND c.b = ix.ib), 0)
                AS DOUBLE) AS sb,
              CAST(coalesce((SELECT sum(c.s4) FROM c
                WHERE c.g IS NOT DISTINCT FROM gl.g
                AND c.b > ix.ia AND c.b < ix.ib), 0) AS DOUBLE) AS smid
            FROM gl CROSS JOIN ix),
          est AS (SELECT g, CASE
              WHEN pb <= pa THEN CAST(0 AS DOUBLE)
              WHEN ia = ib THEN CAST(ca AS DOUBLE) * (pb - pa)
              ELSE (CAST(mid AS DOUBLE)
                  + CAST(ca AS DOUBLE) * (CAST(ia + 1 AS DOUBLE) - pa))
                + CAST(cb AS DOUBLE) * (pb - CAST(ib AS DOUBLE)) END AS n,
            CASE
              WHEN pb <= pa THEN CAST(NULL AS DOUBLE)
              WHEN ia = ib THEN sa * (pb - pa)
              ELSE (smid + sa * (CAST(ia + 1 AS DOUBLE) - pa))
                + sb * (pb - CAST(ib AS DOUBLE)) END AS s
            FROM parts)
          SELECT g AS l_linestatus, n AS n_est, s AS s_est,
            'sketch' AS plan_type
          FROM est WHERE n > 0 ORDER BY g""",
    // q102: the typed-key serve equals the direct aggregate (decimal
    // sum recipe; the key stays the parquet INT type in both engines)
    "q102_typed_key_serve" ->
      """SELECT l_linenumber,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sm,
          count(l_extendedprice) AS nv, count(*) AS nr,
          'sketch' AS plan_type
          FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber""",
    // q115/q116/q117: integral key-range dispatch is EXACT (the pruned
    // group set equals exact execution's), so the oracles are the
    // plain filtered SQL with the decimal-portable sum recipe.
    "q115_key_range_group" ->
      """SELECT l_linenumber,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sm,
          count(*) AS nr, 'sketch' AS plan_type
          FROM lineitem WHERE l_linenumber BETWEEN 2 AND 4
          GROUP BY l_linenumber ORDER BY l_linenumber""",
    "q116_key_range_filtered" ->
      """SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
           CAST(max(l_extendedprice) AS DOUBLE) AS mx,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sm,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_extendedprice) AS DOUBLE) AS av,
           count(l_extendedprice) AS nv, count(*) AS nr,
           'sketch' AS plan_type
         FROM lineitem WHERE l_linenumber >= 5""",
    "q117_key_range_distinct" ->
      """SELECT DISTINCT l_linenumber, 'sketch' AS plan_type
         FROM lineitem WHERE l_linenumber <= 3 ORDER BY l_linenumber""",
    // q100: the partial-key collapse — the SAME global l_quantity grid
    // (composite shared-grid build), counts per l_linestatus over the
    // returnflag-filtered rows (= the engine's per-status sum of the
    // pruned composite entries' bucket vectors), chain per group.
    "q100_partial_key_pct" ->
      """WITH mm AS (SELECT min(CAST(l_quantity AS DOUBLE)) AS lo,
              max(CAST(l_quantity AS DOUBLE)) AS hi FROM lineitem),
          grd AS (SELECT lo,
              CASE WHEN hi > lo THEN (hi - lo) / 64 ELSE CAST('1' AS DOUBLE) END AS w
            FROM mm),
          flt AS (SELECT l_linestatus AS g, CAST(l_quantity AS DOUBLE) AS v
            FROM lineitem
            WHERE l_returnflag IN ('A', 'N') AND l_quantity IS NOT NULL),
          nn AS (SELECT g, count(*) AS n FROM flt GROUP BY g),
          bk AS (SELECT flt.g,
              least(63, CAST(floor((flt.v - grd.lo) / grd.w) AS INT)) AS b
            FROM flt CROSS JOIN grd),
          c AS (SELECT g, b, count(*) AS c FROM bk GROUP BY g, b),
          cum AS (SELECT g, b, c,
              sum(c) OVER (PARTITION BY g ORDER BY b) - c AS cum_before FROM c),
          tg AS (SELECT g, CAST('0.5' AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS target
            FROM nn),
          pick AS (SELECT tg.g, tg.target, min(cum.b) AS b
            FROM cum JOIN tg ON cum.g = tg.g
            WHERE cum.cum_before + cum.c > tg.target
            GROUP BY tg.g, tg.target),
          est AS (SELECT pick.g, grd.lo + grd.w * (CAST(pick.b AS DOUBLE)
              + CASE WHEN cum.c <= 1 THEN CAST(0 AS DOUBLE)
                     ELSE (pick.target - CAST(cum.cum_before AS DOUBLE)) / CAST(cum.c AS DOUBLE) END) AS v
            FROM pick JOIN cum ON pick.g = cum.g AND pick.b = cum.b
            CROSS JOIN grd)
          SELECT g AS l_linestatus, v AS p50, 'sketch' AS plan_type
          FROM est ORDER BY g""",
    "q89_merged_hll" -> {
      val num = (0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0
        * 1073741824.0).toString
      s"""WITH h AS (SELECT l_returnflag AS g,
              ${graft.queries.Dedup.h60Duck("'fhll:' || CAST(l_orderkey AS VARCHAR)")} AS h
            FROM lineitem WHERE l_returnflag IN ('A', 'R')),
          b AS (SELECT g, CAST(h % 1024 AS INT) AS b, h // 1024 AS rest FROM h),
          r AS (SELECT g, b,
              max(CASE WHEN rest = 0 THEN 51 ELSE 51 - length(bin(rest)) END) AS rho
            FROM b GROUP BY g, b),
          mrg AS (SELECT b, max(rho) AS rho FROM r GROUP BY b),
          s AS (SELECT count(*) AS nb,
              sum(CAST(1 AS BIGINT) << CAST(30 - least(rho, 30) AS INT)) AS sp
            FROM mrg),
          ex AS (SELECT count(DISTINCT l_orderkey) AS n_exact
            FROM lineitem WHERE l_returnflag IN ('A', 'R'))
          SELECT CAST(1024 - nb AS INT) AS v_empty,
            CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS s_scaled,
            CAST('$num' AS DOUBLE)
              / CAST(CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS DOUBLE) AS est_raw,
            n_exact,
            (CAST('$num' AS DOUBLE)
                / CAST(CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS DOUBLE)
              - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
          FROM s, ex"""
    },
    "q73_hll_estimate" -> {
      val num = (0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0
        * 1073741824.0).toString
      s"""WITH h AS (SELECT ${graft.queries.Dedup.h60Duck("'hll:' || CAST(l_orderkey AS VARCHAR)")} AS h
              FROM lineitem),
          b AS (SELECT CAST(h % 1024 AS INT) AS b, h // 1024 AS rest FROM h),
          r AS (SELECT b,
              max(CASE WHEN rest = 0 THEN 51 ELSE 51 - length(bin(rest)) END) AS rho
            FROM b GROUP BY b),
          s AS (SELECT count(*) AS nb,
              sum(CAST(1 AS BIGINT) << CAST(30 - least(rho, 30) AS INT)) AS sp
            FROM r),
          ex AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem)
          SELECT 1024 AS m,
            CAST(1024 - nb AS INT) AS v_empty,
            CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS s_scaled,
            CAST('$num' AS DOUBLE)
              / CAST(CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS DOUBLE) AS est_raw,
            n_exact,
            (CAST('$num' AS DOUBLE)
                / CAST(CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS DOUBLE)
              - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
          FROM s, ex"""
    },
    "q83_grouped_hll" -> {
      val num = (0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0
        * 1073741824.0).toString
      s"""WITH h AS (SELECT l_returnflag AS g,
              ${graft.queries.Dedup.h60Duck("'ghll:' || CAST(l_orderkey AS VARCHAR)")} AS h
            FROM lineitem),
          b AS (SELECT g, CAST(h % 1024 AS INT) AS b, h // 1024 AS rest FROM h),
          r AS (SELECT g, b,
              max(CASE WHEN rest = 0 THEN 51 ELSE 51 - length(bin(rest)) END) AS rho
            FROM b GROUP BY g, b),
          s AS (SELECT g, count(*) AS nb,
              sum(CAST(1 AS BIGINT) << CAST(30 - least(rho, 30) AS INT)) AS sp
            FROM r GROUP BY g),
          ex AS (SELECT l_returnflag AS g, count(DISTINCT l_orderkey) AS n_exact
            FROM lineitem GROUP BY l_returnflag)
          SELECT s.g,
            CAST(1024 - nb AS INT) AS v_empty,
            CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS s_scaled,
            CAST('$num' AS DOUBLE)
              / CAST(CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS DOUBLE) AS est_raw,
            n_exact,
            (CAST('$num' AS DOUBLE)
                / CAST(CAST(sp + (1024 - nb) * 1073741824 AS BIGINT) AS DOUBLE)
              - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
          FROM s JOIN ex ON s.g = ex.g ORDER BY s.g"""
    },
    "q62_join_size_agms" -> {
      def sk(table: String, key: String, alias: String): String =
        s"""$alias AS (SELECT bucket, CAST(sum(sgn) AS BIGINT) AS c FROM (
              SELECT CAST(h % 1024 AS INT) AS bucket,
                CASE WHEN (h // 1024) % 2 = 0 THEN 1 ELSE -1 END AS sgn
              FROM (SELECT ${graft.queries.Dedup.h60Duck(s"'js:' || CAST($key AS VARCHAR)")} AS h
                    FROM $table)) GROUP BY bucket)"""
      s"""WITH ${sk("orders", "o_orderkey", "sa")},
          ${sk("lineitem", "l_orderkey", "sb")},
          est AS (SELECT CAST(sum(sa.c * sb.c) AS BIGINT) AS est_join_size
                  FROM sa JOIN sb USING (bucket)),
          ex AS (SELECT count(*) AS exact_join_size
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
          SELECT est_join_size, exact_join_size,
            CAST(est_join_size - exact_join_size AS DOUBLE)
              / CAST(exact_join_size AS DOUBLE) AS rel_error,
            1024 AS n_buckets
          FROM est, ex"""
    },
    "q63_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
          f AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
              ${TextAnalysis.scoreDuck("t")} AS score,
              ${graft.queries.Dedup.h60Duck("'ws:' || CAST(doc_id AS VARCHAR)")} % 10000 AS hh
            FROM d),
          g AS (SELECT nt, hh,
              CASE WHEN score >= 0.7 THEN 10000 WHEN score >= 0.4 THEN 3000 ELSE 500 END AS w
            FROM f),
          k AS (SELECT nt, w, CASE WHEN hh < w THEN 1 ELSE 0 END AS kept FROM g),
          a AS (SELECT
              CAST(sum(CASE WHEN w = 10000 THEN kept ELSE 0 END) AS BIGINT) AS n_high,
              CAST(sum(CASE WHEN w = 3000 THEN kept ELSE 0 END) AS BIGINT) AS n_mid,
              CAST(sum(CASE WHEN w = 500 THEN kept ELSE 0 END) AS BIGINT) AS n_low,
              CAST(sum(CASE WHEN w = 10000 THEN kept * nt ELSE 0 END) AS BIGINT) AS t_high,
              CAST(sum(CASE WHEN w = 3000 THEN kept * nt ELSE 0 END) AS BIGINT) AS t_mid,
              CAST(sum(CASE WHEN w = 500 THEN kept * nt ELSE 0 END) AS BIGINT) AS t_low,
              count(*) AS exact_docs,
              CAST(sum(nt) AS BIGINT) AS exact_tokens
            FROM k)
          SELECT n_high, n_mid, n_low,
            ((CAST(n_high AS DOUBLE)
              + CAST(n_mid * 10000 AS DOUBLE) / CAST(3000 AS DOUBLE))
              + CAST(n_low * 10000 AS DOUBLE) / CAST(500 AS DOUBLE)) AS est_docs,
            exact_docs,
            ((CAST(t_high AS DOUBLE)
              + CAST(t_mid * 10000 AS DOUBLE) / CAST(3000 AS DOUBLE))
              + CAST(t_low * 10000 AS DOUBLE) / CAST(500 AS DOUBLE)) AS est_tokens,
            exact_tokens,
            (((CAST(n_high AS DOUBLE)
              + CAST(n_mid * 10000 AS DOUBLE) / CAST(3000 AS DOUBLE))
              + CAST(n_low * 10000 AS DOUBLE) / CAST(500 AS DOUBLE))
              - CAST(exact_docs AS DOUBLE)) / CAST(exact_docs AS DOUBLE) AS err_docs,
            (((CAST(t_high AS DOUBLE)
              + CAST(t_mid * 10000 AS DOUBLE) / CAST(3000 AS DOUBLE))
              + CAST(t_low * 10000 AS DOUBLE) / CAST(500 AS DOUBLE))
              - CAST(exact_tokens AS DOUBLE)) / CAST(exact_tokens AS DOUBLE) AS err_tokens
          FROM a""",
    "q69_frame_sample" ->
      """SELECT doc_id, CAST(nb AS INT) AS nb, CAST(f AS INT) AS frame_idx,
            CAST(f * 256 AS INT) AS "offset",
            CAST(least(256, nb - f * 256) AS INT) AS frame_len
          FROM (SELECT doc_id, octet_length(encode(text)) AS nb,
                  unnest(generate_series(0, greatest(nb // 256, 1) - 1, 4)) AS f
                FROM documents WHERE doc_id % 3 = 2)
          ORDER BY doc_id, frame_idx""",
    "q68_sampled_join_agg" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
              ${graft.queries.Dedup.h60Duck("'sj:' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' || CAST(l_quantity AS VARCHAR)")} AS h
            FROM lineitem),
          sa AS (SELECT o_orderpriority, count(*) AS n_sampled,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev_sampled
            FROM li JOIN orders ON l_orderkey = o_orderkey
            WHERE h % 10 = 0 GROUP BY o_orderpriority),
          ex AS (SELECT o_orderpriority, count(*) AS exact_rows,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS exact_revenue
            FROM li JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority)
          SELECT sa.o_orderpriority, n_sampled,
            n_sampled * 10 AS est_rows, exact_rows,
            rev_sampled * 10 AS est_revenue, exact_revenue,
            (rev_sampled * 10 - exact_revenue) / exact_revenue AS rel_error
          FROM sa JOIN ex ON sa.o_orderpriority = ex.o_orderpriority
          ORDER BY sa.o_orderpriority""",
    "q27_binary_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS content_md5,
           CAST(16 + octet_length(encode(text)) % 64 AS INT) AS width,
           CAST(16 + (octet_length(encode(text)) * 7) % 64 AS INT) AS height,
           CASE WHEN doc_id % 3 <> 0 THEN CAST(octet_length(encode(text)) AS BIGINT) * 40 ELSE CAST(0 AS BIGINT) END AS duration_ms
         FROM documents ORDER BY doc_id""",
    "q43_stratified_identity" ->
      """SELECT o_orderpriority,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(o_custkey) AS DOUBLE) AS sk
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q39_aqp_ht_identity" ->
      """SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(l_quantity) AS DOUBLE) AS qty,
           CAST(count(*) AS DOUBLE) AS n_ci_low,
           CAST(count(*) AS DOUBLE) AS n_ci_high,
           CAST(0 AS DOUBLE) AS n_rel_error,
           CAST(sum(l_quantity) AS DOUBLE) AS qty_ci_low,
           CAST(sum(l_quantity) AS DOUBLE) AS qty_ci_high,
           CAST(0 AS DOUBLE) AS qty_rel_error
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
  )
}
