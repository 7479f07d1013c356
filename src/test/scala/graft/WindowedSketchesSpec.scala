package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.WindowedSketches

/** Round-14 windowed/TTL maintainers (histogram+histsum, grouped
  * stats, KMV, top-k): expired buckets must leave the serving blobs,
  * the catalog's live-row stats, and the engine's served answers; the
  * serving blob must equal a batch build over EXACTLY the live rows;
  * replayed batch ids must not double-count (the `last_batch` guard).
  * Shared fixture (the q183/q184 shape): ids 0..3999 with ts = id
  * seconds, window 2000 s, bucket 100 s ⇒ live window = ids
  * 1900..3999 (2100 rows) after the second batch.
  */
class WindowedSketchesSpec extends SparkSpec {

  private val liveFrom = 1900L
  private val liveTo = 4000L // exclusive
  private val liveRows = liveTo - liveFrom // 2100

  private def tmpCatalog(tag: String) = new graft.catalog.MetaCatalog(
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString)

  private def feed(stream: MemoryStream[Long],
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    stream.addData(0L until 2000L)
    q.processAllAvailable()
    stream.addData(2000L until 4000L)
    q.processAllAvailable()
    q.stop()
  }

  test("windowed histogram maintainer: expiry, byte-equality over live rows, live range serve, replay guard") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("whist")
    val (lo, width, buckets) = (0.0, 16.0, 64)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("v", expr("(id * 37) % 997"))
      .drop("id")
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainHistogramWindowed(
      shape(stream.toDF().toDF("id")), catalog, "whist_live", "v", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L,
      lo, width, buckets)
    feed(stream, q)
    assert(catalog.statsFor("whist_live").exists(_.rowCount == liveRows),
      catalog.statsFor("whist_live").toString)
    // serving histogram + histsum == the batch build over EXACTLY the
    // live rows on the same grid (counts and BigInt sums add; expiry
    // subtracted the dead buckets exactly)
    val liveVals = (liveFrom until liveTo).map(i => (i * 37) % 997)
    val counts = new Array[Long](buckets)
    val bsums = Array.fill(buckets)(BigInt(0))
    liveVals.foreach { v =>
      val b = math.min(buckets - 1, math.max(0, ((v - lo) / width).toInt))
      counts(b) += 1
      bsums(b) += BigInt(v) * 10000
    }
    val sk = catalog.getSketch("whist_live", "v", "histogram")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(
      graft.sketch.Histogram(lo, width, counts).serialize),
      "windowed serving histogram != batch build over the live rows")
    val hs = catalog.getSketch("whist_live", "v", "histsum")
    assert(hs.isDefined)
    assert(hs.get.data.sameElements(graft.sketch.GroupedHll.pack(
      bsums.zipWithIndex.toSeq.map { case (s, i) =>
        Option(i.toString) -> s.toByteArray
      })), "windowed serving histsum != batch build over the live rows")
    // the engine serves the LIVE window's range count over an EMPTY
    // view (cut on a grid edge ⇒ zero boundary mass, exact)
    spark.range(0).select(col("id").cast("long").as("v"))
      .createOrReplaceTempView("whist_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query("SELECT count(*) AS n FROM whist_live WHERE v < 512",
      engine.Options(maxRelError = 0.2))
    assert(r.servedFromCatalog && r.serveKind.contains("histogram_range"),
      r.reason)
    // explain contract: the serve names itself a LIVE-WINDOW serve
    // (the hist_windowed state rider is the evidence)
    assert(r.reason.contains("live window"), r.reason)
    // cut on a grid edge ⇒ only whole buckets sum: the interpolated
    // estimate IS the exact live-window count
    assert(r.df.collect().head.getDouble(0) ==
      liveVals.count(_ < 512).toDouble, r.df.collect().toSeq)
    // replay guard: a fresh maintainer on the same catalog restarts at
    // batch id 0 — already folded (rider last_batch = 1), so the fold
    // must skip and every serving blob stay byte-identical
    val stream2 = MemoryStream[Long]
    val q2 = WindowedSketches.maintainHistogramWindowed(
      shape(stream2.toDF().toDF("id")), catalog, "whist_live", "v", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L,
      lo, width, buckets)
    stream2.addData(0L until 500L)
    q2.processAllAvailable(); q2.stop()
    assert(catalog.getSketch("whist_live", "v", "histogram").get.data
      .sameElements(sk.get.data), "replayed batch id re-counted")
    assert(catalog.statsFor("whist_live").exists(_.rowCount == liveRows))
  }

  test("windowed grouped-stats maintainer: expiry, byte-equality over live rows, exact live grouped serve") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("wgstats")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("g", expr("concat('g', cast(id % 5 as string))"))
      .withColumn("v", col("id"))
      .drop("id")
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainGroupedStatsWindowed(
      shape(stream.toDF().toDF("id")), catalog, "wgs_live", Seq("g"), "v",
      "ts", windowMicros = 2000L * 1000000L,
      bucketMicros = 100L * 1000000L)
    feed(stream, q)
    assert(catalog.statsFor("wgs_live").exists(_.rowCount == liveRows),
      catalog.statsFor("wgs_live").toString)
    // serving stats_grouped == the per-group stats over EXACTLY the
    // live rows (counts/sums re-added, min/max re-merged)
    val expected = graft.sketch.GroupedHll.pack(
      (liveFrom until liveTo).groupBy(i => s"g${i % 5}").toSeq
        .map { case (g, ids) =>
          Option(g) -> graft.sketch.GroupedStats.encode(
            graft.sketch.GroupedStats.Stat(
              Some(ids.min.toDouble), Some(ids.max.toDouble),
              ids.size.toLong, ids.size.toLong,
              ids.map(i => BigInt(i) * 10000).sum))
        })
    val sk = catalog.getSketch("wgs_live", "v", "stats_grouped")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(expected),
      "windowed serving stats_grouped != batch stats over the live rows")
    // the engine serves exact per-group COUNT/SUM/MIN/MAX over the
    // LIVE window from an EMPTY view
    spark.range(0)
      .select(expr("concat('g', cast(id % 5 as string))").as("g"),
        col("id").as("v"))
      .createOrReplaceTempView("wgs_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT g, count(*) AS n, sum(v) AS s, min(v) AS lo, max(v) AS hi " +
        "FROM wgs_live GROUP BY g ORDER BY g")
    assert(r.servedFromCatalog, r.reason)
    assert(r.reason.contains("live window"), r.reason) // explain contract
    val rows = r.df.collect()
    assert(rows.length == 5)
    val g3 = (liveFrom until liveTo).filter(_ % 5 == 3)
    val row3 = rows.find(_.getString(0) == "g3").get
    assert(row3.getLong(1) == g3.size.toLong)
    assert(row3.getDouble(2) == g3.sum.toDouble)
    assert(row3.getDouble(3) == g3.min.toDouble)
    assert(row3.getDouble(4) == g3.max.toDouble)
  }

  test("windowed KMV maintainer: expiry and byte-equality of the live bottom-k union") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("wkmv")
    val k = 64
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainKmvWindowed(
      shape(stream.toDF().toDF("id")), catalog, "wkmv_live", "id", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L,
      k = k)
    feed(stream, q)
    assert(catalog.statsFor("wkmv_live").exists(_.rowCount == liveRows),
      catalog.statsFor("wkmv_live").toString)
    // serving sketch == the direct bottom-k over EXACTLY the live ids
    // (bottom-k of a union == union of the buckets' bottom-k's)
    graft.functions.GraftFunctions.register(spark)
    val expected = spark.range(liveFrom, liveTo)
      .select(expr("graft_h60(cast(id as string))").as("h"))
      .distinct().orderBy(col("h")).limit(k)
      .collect().map(_.getLong(0))
    val sk = catalog.getSketch("wkmv_live", "id", "kmv")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(
      graft.sketch.Kmv.Sketch(k, expected.sorted).serialize),
      "windowed serving KMV != direct bottom-k over the live rows")
    assert(sk.get.parameters.contains(s""""rows":$liveRows"""))
    // the estimator over the maintained sketch tracks the live
    // distinct count (2100), not the all-time one (4000)
    val est = graft.sketch.Kmv.deserialize(sk.get.data).estimate
    assert(math.abs(est - liveRows.toDouble) / liveRows < 0.5,
      s"est=$est (all-time would be ~4000)")
  }

  test("windowed top-k maintainer: expiry, exact live counts, threshold completeness, HAVING-below-threshold refusal") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("wtopk")
    // id % 13 over the live window: groups 1..7 hold 162 rows, the
    // rest 161 (2100 = 13*161 + 7) — threshold 162 splits them
    val threshold = 162L
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("u", expr("id % 13"))
      .drop("id")
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainTopKWindowed(
      shape(stream.toDF().toDF("id")), catalog, "wtopk_live", Seq("u"),
      "ts", windowMicros = 2000L * 1000000L,
      bucketMicros = 100L * 1000000L, threshold = threshold)
    feed(stream, q)
    assert(catalog.statsFor("wtopk_live").exists(_.rowCount == liveRows),
      catalog.statsFor("wtopk_live").toString)
    val liveCounts = (liveFrom until liveTo).groupBy(_ % 13)
      .map { case (u, ids) => u -> ids.size.toLong }
    val expected = liveCounts.filter(_._2 >= threshold)
      .map { case (u, n) => Option(u.toString) -> n }
    val sk = catalog.getSketch("wtopk_live", "u", "topk")
    assert(sk.isDefined)
    val stored = graft.sketch.GroupedHll.unpack(sk.get.data)
      .map { case (g, b) =>
        g -> java.nio.ByteBuffer.wrap(b)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      }.toMap
    assert(stored == expected, s"stored=$stored expected=$expected")
    assert(sk.get.parameters.contains(s""""threshold":$threshold"""))
    // the engine serves the live-window iceberg shape over an EMPTY
    // view, exactly — and REFUSES a HAVING below the stored threshold
    // (an unstored group could reach it)
    spark.range(0).select(expr("id % 13").as("u"))
      .createOrReplaceTempView("wtopk_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val served = engine.query(
      s"SELECT u, count(*) AS n FROM wtopk_live GROUP BY u " +
        s"HAVING count(*) >= $threshold ORDER BY n DESC, u")
    assert(served.servedFromCatalog, served.reason)
    assert(served.reason.contains("live window"), served.reason) // explain
    assert(served.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      expected.map { case (g, n) => (g.get.toLong, n) }.toSeq
        .sortBy { case (u, n) => (-n, u) })
    val refused = engine.query(
      s"SELECT u, count(*) AS n FROM wtopk_live GROUP BY u " +
        s"HAVING count(*) >= ${threshold - 5} ORDER BY n DESC, u")
    assert(!refused.servedFromCatalog,
      s"HAVING below the stored threshold must refuse: ${refused.reason}")
  }

  test("windowed HDR maintainer: expiry, byte-equality over live rows, live percentile serve") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("whdr")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("v", expr("cast((id * 37) % 997 as double)"))
      .drop("id")
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainHdrWindowed(
      shape(stream.toDF().toDF("id")), catalog, "whdr_live", "v", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L)
    feed(stream, q)
    assert(catalog.statsFor("whdr_live").exists(_.rowCount == liveRows),
      catalog.statsFor("whdr_live").toString)
    // serving hdr + hdrsum == the one-pass batch aggregate over
    // EXACTLY the live rows (binade counts and BigInt sums add on the
    // global log grid; expiry subtracted the dead buckets exactly)
    val liveDf = spark.range(liveFrom, liveTo)
      .select(expr("cast((id * 37) % 997 as double)").as("v"))
    val exp = graft.sketch.SketchOps.hdrPass(liveDf, Nil, "v", 32,
      "spec expected")(Nil)
    val (expSk, expSums, expOvf) = (exp.sketch, exp.sums, exp.overflow)
    assert(!expOvf)
    val sk = catalog.getSketch("whdr_live", "v", "hdr")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(expSk.serialize),
      "windowed serving hdr != batch build over the live rows")
    val hs = catalog.getSketch("whdr_live", "v", "hdrsum")
    assert(hs.isDefined)
    assert(hs.get.data.sameElements(graft.sketch.GroupedHll.pack(
      expSums.map { case ((sg, e, s0), v) =>
        Option(s"$sg:$e:$s0") -> v.toByteArray
      })), "windowed serving hdrsum != batch build over the live rows")
    // the engine serves the LIVE window's percentile over an EMPTY
    // view, at the 1/m bound, and explain names the live-window serve
    spark.range(0).select(expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("whdr_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT percentile(v, 0.5) AS p50 FROM whdr_live",
      engine.Options(maxRelError = 0.05))
    assert(r.servedFromCatalog && r.serveKind.contains("hdr"), r.reason)
    assert(r.reason.contains("live window"), r.reason)
    assert(r.df.collect().head.getDouble(0) ==
      expSk.percentile(0.5).get)
  }

  test("windowed grouped-HLL maintainer: expiry, byte-equality over live rows, live per-group distinct serve") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("wghll")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("g", expr("concat('g', cast(id % 3 as string))"))
      .withColumn("k", col("id"))
      .drop("id")
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainGroupedHllWindowed(
      shape(stream.toDF().toDF("id")), catalog, "wghll_live", Seq("g"),
      "k", "ts", windowMicros = 2000L * 1000000L,
      bucketMicros = 100L * 1000000L)
    feed(stream, q)
    assert(catalog.statsFor("wghll_live").exists(_.rowCount == liveRows),
      catalog.statsFor("wghll_live").toString)
    // serving blob == the batch createGroupedHll build over EXACTLY
    // the live rows (register max is idempotent per group)
    spark.range(liveFrom, liveTo)
      .select(expr("concat('g', cast(id % 3 as string))").as("g"),
        col("id").as("k"))
      .createOrReplaceTempView("wghll_batch")
    val cat2 = tmpCatalog("wghll-batch")
    graft.sketch.SketchOps.createGroupedHll(spark, cat2, "wghll_batch",
      Seq("g"), "k", b = 12)
    val streamed = catalog.getSketch("wghll_live", "k", "hll_grouped")
    val batch = cat2.getSketch("wghll_batch", "k", "hll_grouped")
    assert(streamed.isDefined && batch.isDefined)
    assert(streamed.get.data.sameElements(batch.get.data),
      "windowed serving hll_grouped != batch build over the live rows")
    // the engine serves per-group COUNT(DISTINCT) over the LIVE window
    // from an EMPTY view (exact at this cardinality: 700 per group)
    spark.range(0)
      .select(expr("concat('g', cast(id % 3 as string))").as("g"),
        col("id").as("k"))
      .createOrReplaceTempView("wghll_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT g, count(DISTINCT k) AS nd FROM wghll_live GROUP BY g ORDER BY g")
    assert(r.servedFromCatalog, r.reason)
    val rows = r.df.collect()
    assert(rows.length == 3)
    val expected = graft.sketch.GroupedHll.deserialize(batch.get.data)
      .collect { case (Some(g), h) => g -> h.count }.toMap
    rows.foreach(row =>
      assert(row.getLong(1) == expected(row.getString(0))))
  }

  test("windowed grouped-HDR maintainer: expiry, byte-equality over live rows, live per-group percentile serve") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("wghdr")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("g", expr("concat('g', cast(id % 3 as string))"))
      .withColumn("v", expr("cast((id * 37) % 997 as double)"))
      .drop("id")
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainGroupedHdrWindowed(
      shape(stream.toDF().toDF("id")), catalog, "wghdr_live", Seq("g"),
      "v", "ts", windowMicros = 2000L * 1000000L,
      bucketMicros = 100L * 1000000L)
    feed(stream, q)
    assert(catalog.statsFor("wghdr_live").exists(_.rowCount == liveRows),
      catalog.statsFor("wghdr_live").toString)
    // serving blobs == the batch createGroupedHdr build over EXACTLY
    // the live rows (binade counts and BigInt sums add per group on
    // the global log grid; expiry subtracted the dead buckets)
    spark.range(liveFrom, liveTo)
      .select(expr("concat('g', cast(id % 3 as string))").as("g"),
        expr("cast((id * 37) % 997 as double)").as("v"))
      .createOrReplaceTempView("wghdr_batch")
    val cat2 = tmpCatalog("wghdr-batch")
    graft.sketch.SketchOps.createGroupedHdr(spark, cat2, "wghdr_batch",
      Seq("g"), "v")
    for (t <- Seq("hdr_grouped", "hdrsum_grouped")) {
      val streamed = catalog.getSketch("wghdr_live", "v", t)
      val batch = cat2.getSketch("wghdr_batch", "v", t)
      assert(streamed.isDefined && batch.isDefined, t)
      assert(streamed.get.data.sameElements(batch.get.data),
        s"windowed serving $t != batch build over the live rows")
    }
    // the engine serves per-group percentiles over the LIVE window
    // from an EMPTY view, with the live-window explain note
    spark.range(0)
      .select(expr("concat('g', cast(id % 3 as string))").as("g"),
        expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("wghdr_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT g, percentile(v, 0.5) AS p50 FROM wghdr_live GROUP BY g ORDER BY g",
      engine.Options(maxRelError = 0.05))
    assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
      r.reason)
    val served = r.df.collect().map(row =>
      row.getString(0) -> row.getDouble(1)).toMap
    val expected = graft.sketch.GroupedHll
      .unpack(cat2.getSketch("wghdr_batch", "v", "hdr_grouped").get.data)
      .collect { case (Some(g), b) =>
        g -> graft.sketch.HdrSketch.deserialize(b).percentile(0.5).get
      }.toMap
    assert(served == expected, s"served=$served expected=$expected")
  }

  test("windowed AGMS maintainer: expiry and byte-equality of the live signed counters") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("wagms")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("fk", expr("id % 50"))
      .drop("id")
    val stream = MemoryStream[Long]
    val q = WindowedSketches.maintainAgmsWindowed(
      shape(stream.toDF().toDF("id")), catalog, "wagms_live", Seq("fk"),
      "ts", windowMicros = 2000L * 1000000L,
      bucketMicros = 100L * 1000000L, buckets = 256)
    feed(stream, q)
    // serving counters == the batch build over EXACTLY the live rows
    // (signed-counter addition; expiry subtracted dead buckets)
    spark.range(liveFrom, liveTo).select(expr("id % 50").as("fk"))
      .createOrReplaceTempView("wagms_batch")
    val cat2 = tmpCatalog("wagms-batch")
    graft.sketch.SketchOps.createAgms(spark, cat2, "wagms_batch",
      Seq("fk"), buckets = 256)
    val streamed = catalog.getSketch("wagms_live", "fk", "agms")
    val batch = cat2.getSketch("wagms_batch", "fk", "agms")
    assert(streamed.isDefined && batch.isDefined)
    assert(streamed.get.data.sameElements(batch.get.data),
      "windowed serving AGMS != batch build over the live rows")
    // the rows evidence the join estimate divides by tracks the LIVE
    // window, not all-time
    assert(streamed.get.parameters.contains(s""""rows":$liveRows"""),
      streamed.get.parameters)
  }

  test("TTL advisor loop: misses on a streamed table advise the windowed maintainer; the build retires the advice and serves the live window") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = tmpCatalog("ttladv")
    // mark the table as STREAMED: a windowed HLL maintained on a SIDE
    // column leaves the hll_windowed state rider — the advisor's
    // evidence that one-shot batch builds would go stale here
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("k", expr("concat('k', cast(id % 7 as string))"))
      .withColumn("other", col("id"))
      .drop("id")
    val s0 = MemoryStream[Long]
    val q0 = graft.streaming.EventStreams.maintainHllWindowed(
      shape(s0.toDF().toDF("id")), catalog, "tta_live", "other", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L)
    s0.addData(0L until 2000L); q0.processAllAvailable()
    s0.addData(2000L until 4000L); q0.processAllAvailable(); q0.stop()
    // the backing view holds exactly the LIVE rows (what a compacted
    // TTL table would contain)
    spark.range(liveFrom, liveTo)
      .select(expr("concat('k', cast(id % 7 as string))").as("k"),
        col("id").as("other"))
      .createOrReplaceTempView("tta_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val sql = "SELECT count(*) AS n FROM tta_live WHERE k = 'k3'"
    (1 to 3).foreach(_ => engine.query(sql,
      engine.Options(ciColumns = false)))
    // miss -> advice: the point-frequency shape on a STREAMED table
    // must advise the windowed CMS maintainer, not the batch build
    val advice = engine.adviseSketches(3).filter(a =>
      a.candidate.sketchType == "cms" &&
        a.candidate.table == "tta_live" &&
        a.candidate.column.equalsIgnoreCase("k"))
    assert(advice.nonEmpty, engine.adviseSketches(1).mkString("; "))
    assert(advice.head.build.contains("maintainCmsWindowed"),
      advice.head.build)
    // advice -> maintainer: run the advised build
    val s1 = MemoryStream[Long]
    val q1 = graft.streaming.EventStreams.maintainCmsWindowed(
      shape(s1.toDF().toDF("id")), catalog, "tta_live", "k", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L)
    s1.addData(0L until 2000L); q1.processAllAvailable()
    s1.addData(2000L until 4000L); q1.processAllAvailable(); q1.stop()
    // maintainer -> retire: the fresh live-window CMS covers the shape
    assert(!engine.adviseSketches(3).exists(a =>
      a.candidate.sketchType == "cms" &&
        a.candidate.table == "tta_live" &&
        a.candidate.column.equalsIgnoreCase("k")),
      engine.adviseSketches(3).mkString("; "))
    // retire -> serve: the same query now answers from the live-window
    // sketch with no scan, and explain says so
    val r = engine.query(sql, engine.Options(ciColumns = false))
    assert(r.servedFromCatalog, r.reason)
    assert(r.reason.contains("live window"), r.reason)
    val exactK3 = (liveFrom until liveTo).count(_ % 7 == 3)
    assert(r.df.collect().head.getLong(0) == exactK3.toLong)
  }
}
