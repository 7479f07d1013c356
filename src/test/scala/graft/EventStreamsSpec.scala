package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams

/** Structured Streaming behavior: the streaming windowed aggregation
  * must equal the batch run of the same transformation, sketches must
  * merge across micro-batches, and stateful sessionization must apply
  * the same gap rule as the batch oracle query.
  */
class EventStreamsSpec extends SparkSpec {

  import EventStreams.Event

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val sample = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(10), 1, "click", 2.0),
    Event(3, ts(61), 1, "view", 3.0),
    Event(4, ts(5), 2, "click", 4.0),
    Event(5, ts(120), 2, "view", 5.0),
    Event(6, ts(125), 1, "click", 6.0))

  test("streaming windowed agg over micro-batches equals batch result") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val out = EventStreams.windowedAgg(stream.toDF())
    val q = out.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete()).start()
    // two micro-batches to exercise incremental state merge
    stream.addData(sample.take(3))
    q.processAllAvailable()
    stream.addData(sample.drop(3))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_agg")
      .orderBy("ws", "event_type").collect().toSeq
    val batch = EventStreams.windowedAgg(sample.toDF())
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming approx distinct users merges across micro-batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val out = EventStreams.approxUsers(stream.toDF())
    val q = out.writeStream.format("memory").queryName("approx_users")
      .outputMode(OutputMode.Complete()).start()
    sample.grouped(2).foreach { batch =>
      stream.addData(batch)
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("approx_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 2 distinct users in both types; rsd 2% is exact at this cardinality
    assert(rows("click") == 2 && rows("view") == 2)
  }

  test("stream-maintained HLL sketch answers the engine's COUNT DISTINCT with no scan") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-sketch").toString)
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainHllSketch(
      stream.toDF().toDF("user_id"), catalog, "events_live", "user_id")
    (1L to 400L).grouped(100).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    // overlap: re-send the first chunk — HLL merge must not overcount
    stream.addData((1L to 100L).toSeq)
    q.processAllAvailable()
    q.stop()

    val sk = catalog.getSketch("events_live", "user_id", "hyperloglog")
    assert(sk.isDefined)
    val est = graft.sketch.Hll.deserialize(sk.get.data).count
    assert(math.abs(est - 400.0) / 400.0 < 0.1, s"est=$est")

    // the engine serves the stream-built sketch without touching the
    // table: the backing view is EMPTY, so any scan would answer 0
    spark.range(0).select(col("id").as("user_id"))
      .createOrReplaceTempView("events_live")
    catalog.upsertTableStats("events_live", 400000L)
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT count(DISTINCT user_id) AS nd FROM events_live")
    assert(r.planType == "sketch", r.reason)
    assert(r.df.collect().head.getLong(0) == est)
  }

  test("windowed HLL maintainer: expired buckets leave the sketch, stats, and the served distinct") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-whll").toString)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainHllWindowed(
      shape(stream.toDF().toDF("id")), catalog, "whll_live", "id", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L,
      b = 12)
    stream.addData((0L until 2000L).toSeq)
    q.processAllAvailable()
    stream.addData((2000L until 4000L).toSeq)
    q.processAllAvailable(); q.stop()
    // (the last_batch guard protects CHECKPOINT re-delivery of the
    // same batch id, the histogram maintainers' discipline — app-level
    // duplicate data under a NEW batch id re-counts by design, exactly
    // like every additive maintainer)
    // live window = buckets b with (b+1)*100s > 3999s - 2000s → ids
    // 1900..3999 (2100 live rows; ids are both keys and seconds)
    assert(catalog.statsFor("whll_live").exists(_.rowCount == 2100L),
      catalog.statsFor("whll_live").toString)
    // serving sketch == the batch-built HLL over exactly the live rows
    val expected = spark.range(1900, 4000)
      .select(graft.sketch.Hll.sketchAgg(
        expr("cast(id as string)"), 12).as("s"))
      .collect().head.getAs[Array[Byte]]("s")
    val sk = catalog.getSketch("whll_live", "id", "hyperloglog")
    assert(sk.isDefined)
    assert(java.util.Arrays.equals(sk.get.data, expected),
      "windowed serving sketch != batch HLL over the live rows")
    // the engine answers the LIVE window's distinct over an empty view
    spark.range(0).toDF("id").createOrReplaceTempView("whll_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query("SELECT count(DISTINCT id) AS nd FROM whll_live")
    assert(r.planType == "sketch", r.reason)
    assert(r.df.collect().head.getLong(0) ==
      graft.sketch.Hll.deserialize(expected).count)
  }

  test("windowed CMS maintainer: expired buckets leave the counters, stats, and the served frequency") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-wcms").toString)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("k", expr("concat('k', cast(id % 7 as string))"))
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainCmsWindowed(
      shape(stream.toDF().toDF("id")), catalog, "wcms_live", "k", "ts",
      windowMicros = 2000L * 1000000L, bucketMicros = 100L * 1000000L)
    stream.addData((0L until 2000L).toSeq)
    q.processAllAvailable()
    stream.addData((2000L until 4000L).toSeq)
    q.processAllAvailable(); q.stop()
    // live window: ids 1900..3999 (2100 rows — the q183/q184 fixture)
    assert(catalog.statsFor("wcms_live").exists(_.rowCount == 2100L),
      catalog.statsFor("wcms_live").toString)
    // serving sketch == the batch CMS over exactly the live rows
    // (counter addition is partition-independent, so bytes match)
    val expected = spark.range(1900, 4000)
      .select(graft.sketch.Cms.sketchAgg(
        expr("concat('k', cast(id % 7 as string))"), 0.01, 0.01).as("s"))
      .collect().head.getAs[Array[Byte]]("s")
    val sk = catalog.getSketch("wcms_live", "k", "countmin")
    assert(sk.isDefined)
    assert(java.util.Arrays.equals(sk.get.data, expected),
      "windowed serving CMS != batch CMS over the live rows")
    // the engine answers the LIVE window's point frequency over an
    // empty view (CMS estimate == exact here: 7 keys, no collisions)
    val exactK3 = (1900L until 4000L).count(_ % 7 == 3)
    spark.range(0).toDF("id").withColumn("k", expr("cast(id as string)"))
      .createOrReplaceTempView("wcms_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query("SELECT count(*) AS n FROM wcms_live WHERE k = 'k3'")
    assert(r.servedFromCatalog, r.reason)
    assert(r.df.collect().head.getLong(0) == exactK3, r.df.collect().toSeq)
  }

  test("stream-maintained histogram equals the batch build; engine percentiles go live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-hist").toString)
    // fixed 64-bucket grid over [0, 1024): values are (i*37) % 997
    val (lo, width, buckets) = (0.0, 16.0, 64)
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainHistogramSketch(
      stream.toDF().toDF("price"), catalog, "prices_live", "price",
      lo, width, buckets)
    val data = (0L until 1000L).map(i => (i * 37) % 997)
    data.grouped(250).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // law: the stream-maintained sketch is BYTE-equal to a batch build
    // over the same data on the same grid (merge = count addition)
    val counts = new Array[Long](buckets)
    data.foreach { v =>
      val b = math.min(buckets - 1, math.max(0, ((v - lo) / width).toInt))
      counts(b) += 1
    }
    val expected = graft.sketch.Histogram(lo, width, counts)
    val sk = catalog.getSketch("prices_live", "price", "histogram")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(expected.serialize),
      graft.sketch.Histogram.deserialize(sk.get.data).counts.toSeq)
    assert(sk.get.parameters.contains("\"last_batch\""))

    // the histsum RIDER maintains in the same pass and is BYTE-equal
    // to the batch builder's blob (BigInt addition is exact)
    val bsums = Array.fill(buckets)(BigInt(0))
    data.foreach { v =>
      val b = math.min(buckets - 1, math.max(0, ((v - lo) / width).toInt))
      bsums(b) += BigInt(v) * 10000 // scale-4 unscaled integer
    }
    val hs = catalog.getSketch("prices_live", "price", "histsum")
    assert(hs.isDefined)
    assert(hs.get.data.sameElements(graft.sketch.GroupedHll.pack(
      bsums.zipWithIndex.toSeq.map { case (s, i) =>
        Option(i.toString) -> s.toByteArray
      })))

    // the engine answers percentile queries from the LIVE sketch with
    // no scan: the backing view is empty, a scan would return null
    spark.range(0).select(col("id").cast("double").as("price"))
      .createOrReplaceTempView("prices_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT percentile(price, 0.5) AS p50 FROM prices_live")
    assert(r.planType == "sketch", r.reason)
    assert(r.df.collect().head.getDouble(0) == expected.percentile(0.5))

    // range SUM/AVG serve from the LIVE histogram + histsum pair too
    val rSum = engine.query(
      "SELECT count(*) AS n, sum(price) AS s FROM prices_live " +
        "WHERE price >= 100 AND price < 600",
      engine.Options(maxRelError = 0.5))
    assert(rSum.servedFromCatalog &&
      rSum.serveKind.contains("histogram_range"), rSum.reason)
    val sumRow = rSum.df.collect().head
    // truth: values in [100, 600) sum within the boundary-mass bound
    val truthSum = data.filter(v => v >= 100 && v < 600).sum.toDouble
    assert(math.abs(sumRow.getDouble(1) - truthSum) / truthSum < 0.1,
      s"${sumRow.getDouble(1)} vs $truthSum")

    // an overflowing batch POISONS histsum: SUM refuses, COUNT serves
    val stream2 = MemoryStream[Double]
    val q2 = EventStreams.maintainHistogramSketch(
      stream2.toDF().toDF("price"), catalog, "prices_live2", "price",
      lo, width, buckets)
    stream2.addData(Seq(1.0, 2.0))
    q2.processAllAvailable()
    // five values near decimal(38,4)'s ceiling overflow try_sum in
    // one bucket (they clamp into the top bucket together)
    stream2.addData(Seq.fill(5)(9.9e33))
    q2.processAllAvailable()
    q2.stop()
    assert(graft.sketch.GroupedHll.unpack(
      catalog.getSketch("prices_live2", "price", "histsum").get.data).isEmpty)
    spark.range(0).select(col("id").cast("double").as("price"))
      .createOrReplaceTempView("prices_live2")
    val rPois = engine.query(
      "SELECT sum(price) AS s FROM prices_live2 " +
        "WHERE price >= 100 AND price < 600",
      engine.Options(maxRelError = 0.5))
    assert(!rPois.servedFromCatalog, rPois.reason)
    val rCnt = engine.query(
      "SELECT count(*) AS n FROM prices_live2 " +
        "WHERE price >= 100 AND price < 600",
      engine.Options(maxRelError = 0.5))
    assert(rCnt.servedFromCatalog, rCnt.reason)
  }

  test("stream-maintained grouped HLL equals the batch build; per-group COUNT DISTINCT goes live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-ghll").toString)
    val stream = MemoryStream[(String, Long)]
    val q = EventStreams.maintainGroupedHllSketch(
      stream.toDF().toDF("lang", "user_id"), catalog, "docs_live",
      "lang", "user_id")
    val data = (1L to 600L).map(i => (s"l${i % 3}", i))
    data.grouped(200).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    // replay: register-max merge must be idempotent (no overcount)
    stream.addData(data.take(200).toSeq)
    q.processAllAvailable()
    q.stop()

    // law: BYTE-equal to a one-pass batch build over the same data
    // (canonical group order + mergeable registers)
    data.toDF("lang", "user_id").createOrReplaceTempView("docs_live")
    val catalog2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-batch-ghll").toString)
    graft.sketch.SketchOps.createGroupedHll(
      spark, catalog2, "docs_live", "lang", "user_id")
    val streamed = catalog.getSketch("docs_live", "user_id", "hll_grouped")
    val batch = catalog2.getSketch("docs_live", "user_id", "hll_grouped")
    assert(streamed.isDefined && batch.isDefined)
    assert(streamed.get.data.sameElements(batch.get.data))

    // the engine serves the stream-built grouped sketch with no scan:
    // the backing view is EMPTY, so a scan would answer zero groups
    spark.range(0)
      .select(lit("x").as("lang"), col("id").as("user_id"))
      .createOrReplaceTempView("docs_live")
    catalog.upsertTableStats("docs_live", 400000L)
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT lang, count(DISTINCT user_id) AS nd FROM docs_live GROUP BY lang")
    assert(r.planType == "sketch", r.reason)
    assert(r.transformations.exists(_.contains("grouped HyperLogLog")),
      r.transformations)
    val m = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(m.keySet == Set("l0", "l1", "l2"), m)
    m.foreach { case (k, v) =>
      assert(math.abs(v - 200.0) / 200.0 < 0.15, s"group $k: est=$v")
    }
  }

  test("stream-maintained grouped histogram equals the hand build; per-group percentiles go live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-ghist").toString)
    // fixed per-group grids: g0 over [0, 640), g1 over [0, 1280)
    val buckets = 64
    val grids = Seq(
      (Option("g0"), 0.0, 10.0),
      (Option("g1"), 0.0, 20.0))
    val stream = MemoryStream[(String, Long)]
    val q = EventStreams.maintainGroupedHistogramSketch(
      stream.toDF().toDF("grp", "price"), catalog, "prices_live", "grp",
      "price", grids, buckets)
    val data = (0L until 1000L).map { i =>
      if (i % 2 == 0) ("g0", (i * 37) % 631) else ("g1", (i * 53) % 1259)
    }
    data.grouped(250).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // law: the stream-maintained blob is BYTE-equal to a hand build
    // over the same data on the same grids (additive merge + canonical
    // group order)
    val gridByKey = grids.map { case (k, lo, w) => (k.get, (lo, w)) }.toMap
    val expected = graft.sketch.GroupedHll.pack(
      data.groupBy(_._1).toSeq.map { case (g, rows) =>
        val (lo, w) = gridByKey(g)
        val counts = new Array[Long](buckets)
        rows.foreach { case (_, v) =>
          val b = math.min(buckets - 1, math.max(0, ((v - lo) / w).toInt))
          counts(b) += 1
        }
        Option(g) -> graft.sketch.Histogram(lo, w, counts).serialize
      })
    val sk = catalog.getSketch("prices_live", "price", "histogram_grouped")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(expected))
    assert(sk.get.parameters.contains("\"last_batch\""))
    assert(sk.get.parameters.contains("\"group_by\":\"grp\""))

    // replay guard: a restarted stream re-delivering batch id 0 (<=
    // stored last_batch 3) must not double-count — blob unchanged
    val replay = MemoryStream[(String, Long)]
    val q2 = EventStreams.maintainGroupedHistogramSketch(
      replay.toDF().toDF("grp", "price"), catalog, "prices_live", "grp",
      "price", grids, buckets)
    replay.addData(data.take(250).toSeq)
    q2.processAllAvailable()
    q2.stop()
    assert(catalog.getSketch("prices_live", "price", "histogram_grouped")
      .get.data.sameElements(expected),
      "replayed batch id must be skipped, not re-merged")

    // the engine serves per-group percentiles from the LIVE blob with
    // no scan: the backing view is EMPTY, so a scan would answer zero
    // groups
    spark.range(0)
      .select(lit("x").as("grp"), col("id").cast("double").as("price"))
      .createOrReplaceTempView("prices_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT grp, percentile(price, 0.5) AS p50 FROM prices_live GROUP BY grp")
    assert(r.planType == "sketch", r.reason)
    assert(r.transformations.exists(_.contains("grouped histogram")),
      r.transformations)
    val served = r.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val hs = graft.sketch.GroupedHll.unpack(expected).map {
      case (k, b) => k.get -> graft.sketch.Histogram.deserialize(b)
    }.toMap
    assert(served.keySet == Set("g0", "g1"), served)
    served.foreach { case (k, v) =>
      assert(v == hs(k).percentile(0.5), s"group $k: $v")
    }

    // a batch containing a group with no declared grid is refused —
    // the sketch must not silently invent a grid for domain drift
    val drift = MemoryStream[(String, Long)]
    val q3 = EventStreams.maintainGroupedHistogramSketch(
      drift.toDF().toDF("grp", "price"), catalog, "prices_live2", "grp",
      "price", grids, buckets)
    drift.addData(Seq(("g9", 5L)))
    val failed =
      try { q3.processAllAvailable(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException |
                   _: IllegalArgumentException => true }
    q3.stop()
    assert(failed, "unknown group must refuse, not clamp into a guessed grid")
    assert(catalog.getSketch("prices_live2", "price", "histogram_grouped").isEmpty)
  }

  test("stream-maintained histsum rider serves grouped range SUM/AVG live; overflow poisons per group") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-ghsum").toString)
    val buckets = 64
    val grids = Seq(
      (Option("g0"), 0.0, 10.0),
      (Option("g1"), 0.0, 20.0))
    val stream = MemoryStream[(String, Long)]
    val q = EventStreams.maintainGroupedHistogramSketch(
      stream.toDF().toDF("grp", "price"), catalog, "prices_hs", "grp",
      "price", grids, buckets)
    val data = (0L until 1000L).map { i =>
      if (i % 2 == 0) ("g0", (i * 37) % 631) else ("g1", (i * 53) % 1259)
    }
    data.grouped(250).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // law: the rider is BYTE-equal to the batch builder's pack over the
    // same rows (exact BigInt addition across micro-batches, canonical
    // bucket-key order, only buckets with rows stored)
    val gridByKey = grids.map { case (k, lo, w) => (k.get, (lo, w)) }.toMap
    val expectedSums = graft.sketch.GroupedHll.pack(
      data.groupBy(_._1).toSeq.map { case (g, rows) =>
        val (lo, w) = gridByKey(g)
        val sums = scala.collection.mutable.Map.empty[Int, BigInt]
        rows.foreach { case (_, v) =>
          val b = math.min(buckets - 1, math.max(0, ((v - lo) / w).toInt))
          sums(b) = sums.getOrElse(b, BigInt(0)) + BigInt(v) * 10000
        }
        Option(g) -> graft.sketch.GroupedHll.pack(
          sums.toSeq.map { case (b, s) => Option(b.toString) -> s.toByteArray })
      })
    val rider = catalog.getSketch("prices_hs", "price", "histsum_grouped")
    assert(rider.isDefined)
    assert(rider.get.data.sameElements(expectedSums))

    // the engine serves per-group range SUM/AVG from the LIVE blobs
    // with no scan (empty backing view — a scan would answer nothing)
    spark.range(0)
      .select(lit("x").as("grp"), col("id").cast("double").as("price"))
      .createOrReplaceTempView("prices_hs")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT grp, count(*) AS n, sum(price) AS s, avg(price) AS a " +
        "FROM prices_hs WHERE price >= 100 AND price < 500 GROUP BY grp",
      engine.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog &&
      r.serveKind.contains("grouped_histogram_range"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(served.keySet == Set("g0", "g1"), served)
    // per-group truth from the streamed rows, within the reported bound
    data.groupBy(_._1).foreach { case (g, rows) =>
      val in = rows.map(_._2).filter(v => v >= 100 && v < 500)
      val (n, s) = served(g)
      assert(math.abs(n - in.size) <= r.estimatedError * math.max(1.0, n) + 1e-6)
      assert(math.abs(s - in.sum.toDouble) <=
        r.estimatedError * math.max(1.0, math.abs(s)) + 1e-6,
        s"group $g: sum est=$s truth=${in.sum}")
    }

    // the FILTERED-range serve reads the same live blobs: one group's
    // band answers from its histogram + rider with no scan
    val rf = engine.query(
      "SELECT count(*) AS n, sum(price) AS s FROM prices_hs " +
        "WHERE grp = 'g0' AND price >= 100 AND price < 500",
      engine.Options(maxRelError = 0.5))
    assert(rf.servedFromCatalog && rf.serveKind.contains("filtered_range"),
      s"${rf.serveKind}: ${rf.reason}")
    val g0 = data.filter(_._1 == "g0").map(_._2)
      .filter(v => v >= 100 && v < 500)
    val rowf = rf.df.collect().head
    assert(math.abs(rowf.getDouble(0) - g0.size) <=
      rf.estimatedError * math.max(1.0, rowf.getDouble(0)) + 1e-6)
    assert(math.abs(rowf.getDouble(1) - g0.sum.toDouble) <=
      rf.estimatedError * math.max(1.0, math.abs(rowf.getDouble(1))) + 1e-6)

    // overflow poison: a group whose batch sum exceeds decimal(38,4)
    // poisons ITS rider entry — SUM refuses, counts keep serving
    val catalog2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-ghsum2").toString)
    val big = MemoryStream[(String, Double)]
    val q2 = EventStreams.maintainGroupedHistogramSketch(
      big.toDF().toDF("grp", "price"), catalog2, "prices_po", "grp",
      "price", Seq((Option("g0"), 0.0, 1e33)), buckets)
    big.addData(Seq(("g0", 9e33), ("g0", 9e33), ("g0", 5.0)))
    q2.processAllAvailable()
    q2.stop()
    val poisoned = catalog2.getSketch("prices_po", "price", "histsum_grouped")
    assert(poisoned.isDefined)
    assert(graft.sketch.GroupedHll.unpack(poisoned.get.data).forall {
      case (_, inner) => graft.sketch.GroupedHll.unpack(inner).isEmpty
    }, "overflowing group must store an EMPTY inner pack")
    spark.range(0)
      .select(lit("x").as("grp"), col("id").cast("double").as("price"))
      .createOrReplaceTempView("prices_po")
    val engine2 = new graft.engine.QueryEngine(spark, catalog2)
    val rs = engine2.query(
      "SELECT grp, sum(price) AS s FROM prices_po " +
        "WHERE price >= 0 AND price < 1e35 GROUP BY grp",
      engine2.Options(maxRelError = 0.9))
    assert(!rs.servedFromCatalog, rs.reason)
    val rc = engine2.query(
      "SELECT grp, count(*) AS n FROM prices_po " +
        "WHERE price >= 0 AND price < 1e35 GROUP BY grp",
      engine2.Options(maxRelError = 0.9))
    assert(rc.servedFromCatalog &&
      rc.serveKind.contains("grouped_histogram_range"), rc.reason)
  }

  test("stream-maintained SHARED-GRID grouped histograms serve merged IN-list percentiles live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-sghist").toString)
    val buckets = 64
    // ONE global grid for every group — the shared-grid contract: the
    // maintainer needs no new code, it folds counts on each group's
    // declared grid and the engine's merge law is payload-level
    val grids = Seq((Option("g0"), 0.0, 20.0), (Option("g1"), 0.0, 20.0))
    val stream = MemoryStream[(String, Long)]
    val q = EventStreams.maintainGroupedHistogramSketch(
      stream.toDF().toDF("grp", "price"), catalog, "prices_sg", "grp",
      "price", grids, buckets)
    val data = (0L until 1000L).map { i =>
      if (i % 2 == 0) ("g0", (i * 37) % 631) else ("g1", (i * 53) % 1259)
    }
    data.grouped(250).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // the engine merges BOTH groups' live histograms for a global
    // IN-list percentile — zero scan (the backing view is empty)
    spark.range(0)
      .select(lit("x").as("grp"), col("id").cast("double").as("price"))
      .createOrReplaceTempView("prices_sg")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT percentile(price, 0.5) AS p50 FROM prices_sg " +
        "WHERE grp IN ('g0', 'g1')")
    assert(r.servedFromCatalog && r.serveKind.contains("filtered_group"),
      s"${r.serveKind}: ${r.reason}")
    // law: equals the hand merge of all rows on the one shared grid
    val counts = new Array[Long](buckets)
    data.foreach { case (_, v) =>
      counts(math.min(buckets - 1, (v / 20.0).toInt)) += 1
    }
    val hand = graft.sketch.Histogram(0.0, 20.0, counts).percentile(0.5)
    assert(r.df.collect().head.getDouble(0) == hand)
  }

  test("stream-discovered groups raise the exact DISTINCT count live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-dcnt").toString)
    val stream = MemoryStream[(String, Long)]
    val q = EventStreams.maintainGroupedStatsSketch(
      stream.toDF().toDF("grp", "amount"), catalog, "dcnt_live", "grp",
      "amount")
    stream.addData(Seq(("a", 1L), ("b", 2L)))
    q.processAllAvailable()
    // zero scan: the backing view is empty
    spark.range(0)
      .select(lit("x").as("grp"), col("id").as("amount"))
      .createOrReplaceTempView("dcnt_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val sql = "SELECT count(DISTINCT grp) AS nd FROM dcnt_live"
    val r1 = engine.query(sql)
    assert(r1.servedFromCatalog && r1.serveKind.contains("distinct_count"),
      s"${r1.serveKind}: ${r1.reason}")
    assert(r1.df.collect().head.getLong(0) == 2L)
    // a NEW group arriving through the stream unions into the blob and
    // raises the exact count — the one serve whose ANSWER grows with
    // stream-discovered keys
    stream.addData(Seq(("c", 3L)))
    q.processAllAvailable()
    q.stop()
    val r2 = engine.query(sql)
    assert(r2.servedFromCatalog, r2.reason)
    assert(r2.df.collect().head.getLong(0) == 3L)
  }

  test("stream-maintained grouped stats BYTE-equal the batch build; per-group exact aggregates go live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-gstats").toString)
    val stream = MemoryStream[(String, Long)]
    val q = EventStreams.maintainGroupedStatsSketch(
      stream.toDF().toDF("grp", "amount"), catalog, "sales_live", "grp",
      "amount")
    val data = (1L to 900L).map(i => (s"g${i % 3}", i * 7 % 1000))
    data.grouped(300).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // law: BYTE-equal to a one-pass batch build over the same data —
    // every stat merge is exact (monotone min/max, integer counts,
    // BigInt decimal sums), so unlike HLL this loop has NO error at all
    data.toDF("grp", "amount").createOrReplaceTempView("sales_live")
    val catalog2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-batch-gstats").toString)
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog2, "sales_live", "grp", "amount", 64)
    val streamed = catalog.getSketch("sales_live", "amount", "stats_grouped")
    val batch = catalog2.getSketch("sales_live", "amount", "stats_grouped")
    assert(streamed.isDefined && batch.isDefined)
    assert(streamed.get.data.sameElements(batch.get.data))
    assert(streamed.get.parameters.contains("\"last_batch\""))

    // replay guard: re-delivered batch id 0 must not double-count
    val replay = MemoryStream[(String, Long)]
    val q2 = EventStreams.maintainGroupedStatsSketch(
      replay.toDF().toDF("grp", "amount"), catalog, "sales_live", "grp",
      "amount")
    replay.addData(data.take(300).toSeq)
    q2.processAllAvailable()
    q2.stop()
    assert(catalog.getSketch("sales_live", "amount", "stats_grouped")
      .get.data.sameElements(batch.get.data),
      "replayed batch id must be skipped, not re-merged")

    // the engine serves EXACT per-group aggregates from the LIVE blob
    // with no scan: the backing view is EMPTY
    val exact = spark.sql(
      "SELECT grp, cast(min(amount) as double) mn, cast(max(amount) as double) mx, " +
        "cast(sum(cast(amount as decimal(18,4))) as double) sm, count(*) nr " +
        "FROM sales_live GROUP BY grp").collect()
      .map(r => r.getString(0) -> r).toMap
    spark.range(0)
      .select(lit("x").as("grp"), col("id").cast("double").as("amount"))
      .createOrReplaceTempView("sales_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT grp, min(amount) AS mn, max(amount) AS mx, sum(amount) AS sm, " +
        "count(*) AS nr FROM sales_live GROUP BY grp")
    assert(r.planType == "sketch", r.reason)
    assert(r.transformations.exists(_.contains("grouped build statistics")),
      r.transformations)
    val served = r.df.collect().map(x => x.getString(0) -> x).toMap
    assert(served.keySet == exact.keySet)
    served.foreach { case (k, row) =>
      assert(row.getDouble(1) == exact(k).getDouble(1), s"$k min")
      assert(row.getDouble(2) == exact(k).getDouble(2), s"$k max")
      assert(row.getDouble(3) == exact(k).getDouble(3), s"$k sum")
      assert(row.getLong(4) == exact(k).getLong(4), s"$k count(*)")
    }

    // filtered-group dispatch rides the SAME live blob: WHERE grp = lit
    // and IN-lists answer from the stream-maintained records over the
    // empty backing view (stats exact; IN merges the records exactly)
    val rf = engine.query(
      "SELECT min(amount) AS mn, max(amount) AS mx, sum(amount) AS sm, " +
        "count(*) AS nr FROM sales_live WHERE grp = 'g1'")
    assert(rf.transformations.exists(_.contains("group-pruned")),
      rf.transformations)
    val f = rf.df.collect().head
    assert(f.getDouble(0) == exact("g1").getDouble(1))
    assert(f.getDouble(1) == exact("g1").getDouble(2))
    assert(f.getDouble(2) == exact("g1").getDouble(3))
    assert(f.getLong(3) == exact("g1").getLong(4))
    val rin = engine.query(
      "SELECT sum(amount) AS sm, count(*) AS nr FROM sales_live " +
        "WHERE grp IN ('g0', 'g2')")
    assert(rin.transformations.exists(_.contains("group-pruned")),
      rin.transformations)
    val in = rin.df.collect().head
    assert(in.getDouble(0) ==
      exact("g0").getDouble(3) + exact("g2").getDouble(3))
    assert(in.getLong(1) == exact("g0").getLong(4) + exact("g2").getLong(4))
  }

  test("stream-maintained grouped HDR byte-equal the batch build; marginal percentile serves live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-ghdr").toString)
    val stream = MemoryStream[(String, String, Long)]
    def shaped(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("a", "b",
        // heavy-tailed value; the a2 group is all-NULL (the builder's
        // empty-payload contract must hold through the stream too)
        "case when a = 'a2' then cast(null as double) " +
          "else exp(cast(raw % 600 as double) / 100.0d) end as v")
    val q = EventStreams.maintainGroupedHdrSketch(
      shaped(stream.toDF().toDF("a", "b", "raw")), catalog, "lat_live",
      Seq("a", "b"), "v")
    val data = (1L to 900L).map(i => (s"a${i % 3}", s"b${i % 2}", i))
    data.grouped(300).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // law: BYTE-equal to a one-pass batch build over the same rows —
    // the log grid is global, so per-bucket counts add exactly and
    // the canonical serializations coincide
    shaped(data.toDF("a", "b", "raw")).createOrReplaceTempView("lat_live")
    val catalog2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-batch-ghdr").toString)
    graft.sketch.SketchOps.createGroupedHdr(
      spark, catalog2, "lat_live", Seq("a", "b"), "v")
    val streamed = catalog.getSketch("lat_live", "v", "hdr_grouped")
    val batch = catalog2.getSketch("lat_live", "v", "hdr_grouped")
    assert(streamed.isDefined && batch.isDefined)
    assert(streamed.get.data.sameElements(batch.get.data))
    // the hdrsum rider folds in the same pass and is BYTE-equal too
    // (per-bucket decimal sums add exactly across batches; the
    // all-NULL a2 group is omitted from both sides)
    val rStream = catalog.getSketch("lat_live", "v", "hdrsum_grouped")
    val rBatch = catalog2.getSketch("lat_live", "v", "hdrsum_grouped")
    assert(rStream.isDefined && rBatch.isDefined)
    assert(rStream.get.data.sameElements(rBatch.get.data))

    // replay guard: a re-delivered batch id must not double-count
    val replay = MemoryStream[(String, String, Long)]
    val q2 = EventStreams.maintainGroupedHdrSketch(
      shaped(replay.toDF().toDF("a", "b", "raw")), catalog, "lat_live",
      Seq("a", "b"), "v")
    replay.addData(data.take(300).toSeq)
    q2.processAllAvailable()
    q2.stop()
    assert(catalog.getSketch("lat_live", "v", "hdr_grouped")
      .get.data.sameElements(batch.get.data),
      "replayed batch id must be skipped, not re-merged")

    // the engine serves the MARGINAL percentile (GROUP BY a over the
    // live "a,b" blob — the exact-merge shape) with no scan: the
    // backing view is EMPTY
    val exact = spark.sql(
      "SELECT a, percentile(v, 0.9) AS t FROM lat_live " +
        "WHERE v IS NOT NULL GROUP BY a").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    spark.range(0).selectExpr("'' as a", "'' as b",
      "cast(id as double) as v").createOrReplaceTempView("lat_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT a, percentile(v, 0.9) AS p90 FROM lat_live GROUP BY a")
    assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect().map(x => x.getString(0) ->
      (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(served.keySet == Set("a0", "a1", "a2"))
    assert(served("a2").isEmpty, "all-NULL group must serve NULL")
    Seq("a0", "a1").foreach { k =>
      val t = exact(k)
      assert(math.abs(served(k).get - t) / t <= 2.0 / 32,
        s"$k: ${served(k)} vs $t")
    }
  }

  test("grouped HDR rider: crash-window replay heals, out-of-sync riders refuse sums, all-zero groups are identity") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-hdr-crash").toString)
    val batchA = Seq(("a", 2.0), ("b", 3.0))
    val batchB = Seq(("a", 4.0), ("a", 0.0), ("b", 5.0), ("c", 0.0))
    val stream = MemoryStream[(String, Double)]
    val q = EventStreams.maintainGroupedHdrSketch(
      stream.toDF().toDF("g", "v"), catalog, "zr_live", Seq("g"), "v")
    stream.addData(batchA)
    q.processAllAvailable()
    val riderAfterA = catalog.getSketch("zr_live", "v", "hdrsum_grouped").get
    stream.addData(batchB)
    q.processAllAvailable()
    q.stop()
    val riderFinal = catalog.getSketch("zr_live", "v", "hdrsum_grouped").get
    // the stream rider is BYTE-equal to the batch build, all-zero
    // group c included (its rider pack is the EMPTY identity, never
    // poison)
    (batchA ++ batchB).toDF("g", "v").createOrReplaceTempView("zr_live")
    val cat2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-hdr-crash2").toString)
    graft.sketch.SketchOps.createGroupedHdr(spark, cat2, "zr_live",
      Seq("g"), "v")
    assert(riderFinal.data.sameElements(
      cat2.getSketch("zr_live", "v", "hdrsum_grouped").get.data))
    // simulate the crash window: counts folded batch 1, the rider did
    // not (rolled back to its after-batch-0 state)
    catalog.upsertSketch(riderAfterA)
    spark.range(0).selectExpr("'' as g", "cast(id as double) as v")
      .createOrReplaceTempView("zr_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    // counts still serve; SUMs refuse (the rider is a batch behind —
    // serving would silently understate)
    val rc = engine.query("SELECT g, count(*) AS n FROM zr_live " +
      "WHERE v >= -1 AND v < 100 GROUP BY g")
    assert(rc.servedFromCatalog && rc.serveKind.contains("grouped_hdr_range"),
      s"${rc.serveKind}: ${rc.reason}")
    val rs = engine.query("SELECT g, count(*) AS n, sum(v) AS s " +
      "FROM zr_live WHERE v >= -1 AND v < 100 GROUP BY g")
    assert(!rs.servedFromCatalog, rs.reason)
    // REPLAY heals: a restarted maintainer re-delivers both batches;
    // batch 0 is skipped by both guards, batch 1 folds ONLY the rider
    // (the counts guard skips it) — the independent guards are what
    // make the replayed batch reach the rider at all
    val replay = MemoryStream[(String, Double)]
    val q2 = EventStreams.maintainGroupedHdrSketch(
      replay.toDF().toDF("g", "v"), catalog, "zr_live", Seq("g"), "v")
    replay.addData(batchA)
    q2.processAllAvailable()
    replay.addData(batchB)
    q2.processAllAvailable()
    q2.stop()
    assert(catalog.getSketch("zr_live", "v", "hdrsum_grouped")
      .get.data.sameElements(riderFinal.data),
      "replay must heal the rider to the pre-crash state")
    // and the healed sums serve exactly: a = 2+4(+0), b = 3+5, c = 0
    val rh = engine.query("SELECT g, count(*) AS n, sum(v) AS s " +
      "FROM zr_live WHERE v >= -1 AND v < 100 GROUP BY g")
    assert(rh.servedFromCatalog && rh.serveKind.contains("grouped_hdr_range"),
      s"${rh.serveKind}: ${rh.reason}")
    val served = rh.df.collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(served("a") == ((3.0, 6.0)), served.toString)
    assert(served("b") == ((2.0, 8.0)), served.toString)
    assert(served("c") == ((1.0, 0.0)), served.toString)
  }

  test("stream-maintained COMPOSITE grouped stats byte-equal the batch build; composite serves go live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-cgstats").toString)
    val stream = MemoryStream[(String, String, Long)]
    val q = EventStreams.maintainGroupedStatsSketch(
      stream.toDF().toDF("ga", "gb", "amount"), catalog, "sales_live_c",
      Seq("ga", "gb"), "amount")
    val data = (1L to 600L).map(i => (s"a${i % 2}", s"b${i % 3}", i * 7 % 500))
    data.grouped(200).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // byte-equality law holds for composite keys too: the stream keys
    // records with the same to_json tuple rendering the batch build uses
    data.toDF("ga", "gb", "amount").createOrReplaceTempView("sales_live_c")
    val catalog2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-batch-cgstats").toString)
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog2, "sales_live_c", Seq("ga", "gb"), "amount", 64)
    val streamed = catalog.getSketch("sales_live_c", "amount", "stats_grouped")
    val batch = catalog2.getSketch("sales_live_c", "amount", "stats_grouped")
    assert(streamed.isDefined && batch.isDefined)
    assert(streamed.get.data.sameElements(batch.get.data))
    // composite GROUP BY and composite point lookup serve from the LIVE
    // stream-built blob over an EMPTY backing view
    val exact = spark.sql(
      "SELECT ga, gb, cast(sum(cast(amount as decimal(18,4))) as double) sm, " +
        "count(*) nr FROM sales_live_c GROUP BY ga, gb").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    spark.range(0)
      .select(lit("x").as("ga"), lit("y").as("gb"),
        col("id").cast("double").as("amount"))
      .createOrReplaceTempView("sales_live_c")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT ga, gb, sum(amount) AS sm, count(*) AS nr " +
        "FROM sales_live_c GROUP BY ga, gb")
    assert(r.transformations.exists(_.contains("grouped build statistics")),
      r.transformations)
    val served = r.df.collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(served.keySet == exact.keySet, served.keySet.toString)
    served.foreach { case (k, row) =>
      assert(row.getDouble(2) == exact(k).getDouble(2), s"$k sum")
      assert(row.getLong(3) == exact(k).getLong(3), s"$k count(*)")
    }
    val rp = engine.query(
      "SELECT sum(amount) AS sm, count(*) AS nr FROM sales_live_c " +
        "WHERE ga = 'a1' AND gb = 'b2'")
    assert(rp.transformations.exists(_.contains("group-pruned")),
      rp.transformations)
    val p = rp.df.collect().head
    assert(p.getDouble(0) == exact(("a1", "b2")).getDouble(2))
    assert(p.getLong(1) == exact(("a1", "b2")).getLong(3))

    // composite grouped HLL maintains live too: the stream-built blob
    // serves per-(ga, gb) count(DISTINCT) with no scan
    val hstream = MemoryStream[(String, String, Long)]
    val qh = EventStreams.maintainGroupedHllSketch(
      hstream.toDF().toDF("ga", "gb", "amount"), catalog, "sales_live_c",
      Seq("ga", "gb"), "amount", 12)
    hstream.addData(data)
    qh.processAllAvailable()
    qh.stop()
    catalog.upsertTableStats("sales_live_c", 400000L)
    val rd = engine.query(
      "SELECT ga, gb, count(DISTINCT amount) AS nd " +
        "FROM sales_live_c GROUP BY ga, gb")
    assert(rd.transformations.exists(_.contains("grouped HyperLogLog")),
      rd.transformations)
    val exactD = data.groupBy(t => (t._1, t._2))
      .map { case (k, vs) => k -> vs.map(_._3).distinct.size }
    val servedD = rd.df.collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(servedD.keySet == exactD.keySet, servedD.keySet.toString)
    servedD.foreach { case (k, v) =>
      assert(math.abs(v - exactD(k).toDouble) / exactD(k) < 0.15,
        s"group $k: est=$v exact=${exactD(k)}")
    }
  }

  test("stream-maintained COMPOSITE grouped histogram byte-equal the batch build; composite percentiles go live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-cghist").toString)
    val buckets = 64
    val data = (1L to 900L).map(i =>
      (s"a${i % 2}", s"b${i % 3}", (i * 37 % 613).toDouble))
    // fixed per-composite-group grids with the BATCH builder's grid
    // rule ((hi-lo)/buckets from the full data), keys derived with the
    // builder's own tuple rendering — never hand-constructed
    val grids = data.toDF("ga", "gb", "price")
      .groupBy(graft.sketch.SketchOps.groupKeyExpr(Seq("ga", "gb")).as("g"))
      .agg(org.apache.spark.sql.functions.min("price").as("lo"),
        org.apache.spark.sql.functions.max("price").as("hi"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1),
        if (r.getDouble(2) > r.getDouble(1))
          (r.getDouble(2) - r.getDouble(1)) / buckets
        else 1.0))
      .toSeq
    val stream = MemoryStream[(String, String, Double)]
    val q = EventStreams.maintainGroupedHistogramSketch(
      stream.toDF().toDF("ga", "gb", "price"), catalog, "prices_live_c",
      Seq("ga", "gb"), "price", grids, buckets)
    data.grouped(300).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // law: the stream-maintained blob is BYTE-equal to the one-pass
    // batch build over the same rows on the same grids
    data.toDF("ga", "gb", "price").createOrReplaceTempView("prices_live_c")
    val catalog2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-batch-cghist").toString)
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog2, "prices_live_c", Seq("ga", "gb"), "price", buckets)
    val streamed = catalog.getSketch("prices_live_c", "price",
      "histogram_grouped")
    val batchSk = catalog2.getSketch("prices_live_c", "price",
      "histogram_grouped")
    assert(streamed.isDefined && batchSk.isDefined)
    assert(streamed.get.data.sameElements(batchSk.get.data))
    assert(streamed.get.parameters.contains("\"group_by\":\"ga,gb\""))

    // the engine serves per-(ga, gb) percentiles from the LIVE blob
    // over an EMPTY backing view (a scan would answer zero groups)
    spark.range(0)
      .select(lit("x").as("ga"), lit("y").as("gb"),
        col("id").cast("double").as("price"))
      .createOrReplaceTempView("prices_live_c")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT ga, gb, percentile(price, 0.5) AS p50 " +
        "FROM prices_live_c GROUP BY ga, gb")
    assert(r.planType == "sketch", r.reason)
    assert(r.transformations.exists(_.contains("grouped histogram")),
      r.transformations)
    val served = r.df.collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    assert(served.keySet ==
      data.map(t => (t._1, t._2)).distinct.toSet, served.keySet.toString)
    val hs = graft.sketch.GroupedHll.unpack(streamed.get.data)
    served.values.foreach(v => assert(!v.isNaN))
    assert(hs.sizeIs == 6)

    // an unknown COMPOSITE group still refuses (fixed-grid contract)
    val drift = MemoryStream[(String, String, Double)]
    val q3 = EventStreams.maintainGroupedHistogramSketch(
      drift.toDF().toDF("ga", "gb", "price"), catalog, "prices_live_c2",
      Seq("ga", "gb"), "price", grids, buckets)
    drift.addData(Seq(("zz", "zz", 5.0)))
    val failed =
      try { q3.processAllAvailable(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException |
                   _: IllegalArgumentException => true }
    q3.stop()
    assert(failed, "unknown composite group must refuse, not guess a grid")
    assert(catalog.getSketch("prices_live_c2", "price",
      "histogram_grouped").isEmpty)
  }

  test("stream-maintained CMS equals the batch build; engine point-frequency goes live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-cms").toString)
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainCmsSketch(
      stream.toDF().select(expr("concat('k', value % 13)").as("k")),
      catalog, "clicks_live", "k")
    val data = (0L until 2000L)
    data.grouped(500).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // law: the stream-maintained sketch is BYTE-equal to a batch build
    // over the same data (counter addition is associative/commutative)
    val expected = new graft.sketch.Cms(0.01, 0.01)
    data.foreach(v => expected.addString(s"k${v % 13}"))
    val sk = catalog.getSketch("clicks_live", "k", "countmin")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(expected.serialize))
    assert(sk.get.parameters.contains("\"last_batch\""))

    // replay guard: a restarted stream re-delivering already-merged
    // batch ids (fresh MemoryStream restarts numbering at 0, which is
    // <= the stored last_batch of 3) must not double-count — the
    // sketch stays byte-identical after the replay
    val replay = MemoryStream[Long]
    val q2 = EventStreams.maintainCmsSketch(
      replay.toDF().select(expr("concat('k', value % 13)").as("k")),
      catalog, "clicks_live", "k")
    replay.addData((0L until 500L).toSeq)
    q2.processAllAvailable()
    q2.stop()
    val skAfter = catalog.getSketch("clicks_live", "k", "countmin").get
    assert(skAfter.data.sameElements(expected.serialize),
      "replayed batch id must be skipped, not re-merged")

    // the engine answers the point-frequency from the LIVE sketch with
    // no scan: the backing view is empty, a scan would answer 0
    spark.range(0).select(expr("cast(null as string)").as("k"))
      .createOrReplaceTempView("clicks_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT count(*) AS n FROM clicks_live WHERE k = 'k5'")
    assert(r.planType == "sketch" && r.reason.contains("Count-Min"), r.reason)
    val est = r.df.collect().head.getLong(0)
    val truth = data.count(_ % 13 == 5)
    assert(est >= truth, s"est=$est truth=$truth") // overestimate-only
    assert(est <= truth + (0.01 * 2000).toLong + 1, s"est=$est truth=$truth")
  }

  test("stream-maintained COMPOSITE CMS serves conjunctive frequencies live, byte-equal to batch") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-ccms").toString)
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainCmsSketch(
      stream.toDF().select(expr("concat('x', value % 5)").as("x"),
        expr("concat('y', value % 3)").as("y")),
      catalog, "cc_live", Seq("x", "y"), 0.01, 0.01)
    val data = (0L until 2000L)
    data.grouped(500).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // byte-equality with a single-threaded build over the same tuples,
    // keyed with the builders' to_json rendering
    val expected = new graft.sketch.Cms(0.01, 0.01)
    data.foreach(v => expected.addString(
      graft.sketch.SketchOps.jsonTupleKey(Seq(s"x${v % 5}", s"y${v % 3}"))))
    val sk = catalog.getSketch("cc_live", "x,y", "countmin")
    assert(sk.isDefined)
    assert(sk.get.data.sameElements(expected.serialize))
    assert(sk.get.parameters.contains("\"enc\":\"j1\""))
    // the engine serves the conjunction from the LIVE blob (empty
    // backing view proves no scan), in either conjunct order
    spark.range(0)
      .select(expr("cast(null as string)").as("x"),
        expr("cast(null as string)").as("y"))
      .createOrReplaceTempView("cc_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT count(*) AS n FROM cc_live WHERE y = 'y1' AND x = 'x2'")
    assert(r.servedFromCatalog && r.serveKind.contains("cms"),
      s"${r.serveKind}: ${r.reason}")
    val est = r.df.collect().head.getLong(0)
    val truth = data.count(v => v % 5 == 2 && v % 3 == 1)
    assert(est >= truth, s"est=$est truth=$truth")
    assert(est <= truth + (0.01 * 2000).toLong + 1, s"est=$est truth=$truth")
  }

  test("stream-maintained AGMS equals the batch build; rows accumulate for the join estimate") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-agms").toString)
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainAgmsSketch(
      stream.toDF().select(expr("value % 1000").as("k")),
      catalog, "joins_live", Seq("k"), 256)
    val data = (0L until 3000L)
    data.grouped(1000).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // law: byte-equal to SketchOps.createAgms over the same rows (the
    // signed counters add associatively), and "rows" accumulated to the
    // true total — the cardinality the join estimate reads
    val ref = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-agms-ref").toString)
    spark.range(0, 3000).select(expr("id % 1000").as("k"))
      .createOrReplaceTempView("joins_live")
    graft.sketch.SketchOps.createAgms(spark, ref, "joins_live", Seq("k"), 256)
    val live = catalog.getSketch("joins_live", "k", "agms").get
    val batchS = ref.getSketch("joins_live", "k", "agms").get
    assert(live.data.sameElements(batchS.data),
      "stream-built AGMS counters must equal the batch build")
    def rowsOf(p: String) =
      """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(p).map(_.group(1))
    assert(rowsOf(live.parameters).contains("3000"), live.parameters)
    // replay guard: re-delivered batch ids neither re-add counters nor
    // re-count rows
    val replay = MemoryStream[Long]
    val q2 = EventStreams.maintainAgmsSketch(
      replay.toDF().select(expr("value % 1000").as("k")),
      catalog, "joins_live", Seq("k"), 256)
    replay.addData((0L until 1000L).toSeq)
    q2.processAllAvailable()
    q2.stop()
    val after = catalog.getSketch("joins_live", "k", "agms").get
    assert(after.data.sameElements(batchS.data))
    assert(rowsOf(after.parameters).contains("3000"), after.parameters)
    // a maintainer configured with a different bucket count must refuse
    // (unequal counter widths cannot add)
    val bad = MemoryStream[Long]
    val q3 = EventStreams.maintainAgmsSketch(
      bad.toDF().select(expr("value % 1000").as("k")),
      catalog, "joins_live", Seq("k"), 128)
    bad.addData(Seq(1L))
    val failed =
      try { q3.processAllAvailable(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException |
                   _: IllegalArgumentException => true }
    q3.stop()
    assert(failed, "bucket-width mismatch must refuse, not corrupt")
    assert(catalog.getSketch("joins_live", "k", "agms").get.data
      .sameElements(batchS.data))
  }

  test("stream-maintained HDR sketch is byte-equal to the batch build; replay and m-mismatch guard") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-hdr").toString)
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainHdrSketch(
      stream.toDF().select(expr("exp(cast(value % 700 as double) / 100.0d)").as("v")),
      catalog, "hdr_live", "v", 32)
    val data = (0L until 3000L)
    data.grouped(1000).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // law: byte-equal to SketchOps.createHdr over the same rows (the
    // log grid is global, per-bucket counts add exactly)
    val ref = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-hdr-ref").toString)
    spark.range(0, 3000)
      .select(expr("exp(cast(id % 700 as double) / 100.0d)").as("v"))
      .createOrReplaceTempView("hdr_live")
    graft.sketch.SketchOps.createHdr(spark, ref, "hdr_live", "v", 32)
    val live = catalog.getSketch("hdr_live", "v", "hdr").get
    val batchS = ref.getSketch("hdr_live", "v", "hdr").get
    assert(live.data.sameElements(batchS.data),
      "stream-built HDR buckets must equal the batch build")
    def rowsOf(p: String) =
      """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(p).map(_.group(1))
    assert(rowsOf(live.parameters).contains("3000"), live.parameters)
    // the engine serves the live blob (empty backing view = no scan)
    spark.range(0).selectExpr("cast(id as double) as v")
      .createOrReplaceTempView("hdr_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query("SELECT percentile(v, 0.9) AS p90 FROM hdr_live")
    assert(r.servedFromCatalog && r.serveKind.contains("hdr"),
      s"${r.serveKind}: ${r.reason}")
    // replay guard: a re-delivered batch id neither re-adds counts nor
    // re-counts rows
    val replay = MemoryStream[Long]
    val q2 = EventStreams.maintainHdrSketch(
      replay.toDF().select(expr("exp(cast(value % 700 as double) / 100.0d)").as("v")),
      catalog, "hdr_live", "v", 32)
    replay.addData((0L until 1000L).toSeq)
    q2.processAllAvailable()
    q2.stop()
    val after = catalog.getSketch("hdr_live", "v", "hdr").get
    assert(after.data.sameElements(batchS.data))
    assert(rowsOf(after.parameters).contains("3000"), after.parameters)
    // a maintainer configured with a different m refuses (sub-bucket
    // layouts cannot add)
    val bad = MemoryStream[Long]
    val q3 = EventStreams.maintainHdrSketch(
      bad.toDF().select(expr("cast(value as double)").as("v")),
      catalog, "hdr_live", "v", 64)
    bad.addData(Seq(1L))
    val failed =
      try { q3.processAllAvailable(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException |
                   _: IllegalArgumentException => true }
    q3.stop()
    assert(failed, "m mismatch must refuse, not corrupt")
    assert(catalog.getSketch("hdr_live", "v", "hdr").get.data
      .sameElements(batchS.data))
  }

  test("streaming sampled windowed agg (AQP on a stream) equals batch; estimates track exact") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val eventsDf = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val batch = EventStreams.sampledWindowedAgg(eventsDf, 0.3)
      .orderBy("ws", "event_type").collect().toSeq

    val stream = MemoryStream[Event]
    val out = EventStreams.sampledWindowedAgg(stream.toDF(), 0.3)
    val q = out.writeStream.format("memory").queryName("sampled_win")
      .outputMode(OutputMode.Complete()).start()
    val rows = eventsDf.as[Event].collect().toSeq
    rows.grouped(400).foreach { b =>
      stream.addData(b)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("sampled_win")
      .orderBy("ws", "event_type").collect().toSeq
    // deterministic systematic membership -> stream == batch EXACTLY
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // HT-scaled count estimate tracks the exact windowed aggregate
    val exactN = EventStreams.windowedAgg(eventsDf).collect()
      .map(r => r.getAs[Long]("n")).sum.toDouble
    val estN = streamed.map(_.getAs[Double]("est_n")).sum
    assert(math.abs(estN - exactN) / exactN < 0.25,
      s"est=$estN exact=$exactN")
    // and the sampled state really is ~the fraction of the full state
    val sampledRows = streamed.map(_.getAs[Long]("n_sampled")).sum.toDouble
    assert(sampledRows < 0.6 * exactN)
  }

  test("streaming IVF cell assignment equals the batch coarse quantizer") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // static side: the k-row centroid table the batch pipeline (q41)
    // builds; stream side: embeddings arriving over micro-batches
    val cents = graft.queries.Similarity.cellCentroids(spark, sfDir)
      .localCheckpoint()
    val embCols = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val batch = EventStreams.assignToCells(embCols, cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    val stream = MemoryStream[(Long, Array[Float])]
    val out = EventStreams.assignToCells(
      stream.toDF().toDF("vec_id", "embedding"), cents)
    val q = out.writeStream.format("memory").queryName("ivf_cells")
      .outputMode(OutputMode.Complete()).start()
    val vecs = embCols.as[(Long, Array[Float])].collect().toSeq
    vecs.grouped(200).foreach { b =>
      stream.addData(b)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("ivf_cells").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed.size == vecs.size)
    assert(streamed == batch)
    // every assignment is a real label cell
    val cells = cents.collect().map(_.getInt(0)).toSet
    assert(streamed.values.toSet.subsetOf(cells))
  }

  test("stateful sessionization applies the 30-minute gap rule") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val sessions = EventStreams.sessionize(stream.toDS())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    stream.addData(sample)
    q.processAllAvailable()
    // second batch arrives after a > 30 min event-time gap for user 1:
    // the first sessions for users 1 and 2 must close
    stream.addData(Seq(Event(7, ts(200), 1, "click", 1.0),
      Event(8, ts(200), 2, "click", 1.0)))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    // user 1: events at 0,10 close when the 61-min event arrives (gap 51');
    // then 61' closes at 125' (gap 64'); then {125} closes at 200'.
    // user 2: {5} closes at 120' (gap 115'); {120} closes at 200' (gap 80').
    assert(closed.contains((1L, 2L)), s"got $closed") // session {0,10}
    assert(closed.contains((2L, 1L)), s"got $closed")
    assert(closed.count(_._1 == 1L) >= 2)
  }

  test("streaming k-anonymity equals batch and applies the k rule") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val out = EventStreams.kanonWindowed(stream.toDF(), k = 2L)
    val q = out.writeStream.format("memory").queryName("kanon")
      .outputMode(OutputMode.Complete()).start()
    stream.addData(sample.take(3))
    q.processAllAvailable()
    stream.addData(sample.drop(3))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kanon")
      .orderBy("ws", "event_type").collect().toSeq
    val batch = EventStreams.kanonWindowed(sample.toDF(), k = 2L)
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    streamed.foreach { r =>
      val nUsers = r.getAs[Long]("n_users")
      val suppressed = r.getAs[Int]("suppressed")
      assert((nUsers < 2L) == (suppressed == 1))
      if (suppressed == 1) assert(r.isNullAt(r.fieldIndex("released_n")))
      else assert(r.getAs[Long]("released_n") == r.getAs[Long]("n_events"))
    }
    // no raw identifier leaves the report
    assert(!streamed.head.schema.fieldNames.contains("user_id"))
  }

  test("streaming CMS heavy hitters: sketch merges across micro-batches, never undercounts") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val out = EventStreams.windowedHeavyHitters(stream.toDF())
    val q = out.writeStream.format("memory").queryName("hh_cms")
      .outputMode(OutputMode.Complete()).start()
    stream.addData(sample.take(3))
    q.processAllAvailable()
    stream.addData(sample.drop(3))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hh_cms").collect()
    assert(rows.nonEmpty)
    // true per-window user counts from the batch side
    val truth = sample.groupBy(e =>
      (e.ts.getTime / (6L * 3600 * 1000)) -> e.user_id)
      .map { case (k, es) => k -> es.size.toLong }
    rows.foreach { r =>
      val sketch = graft.sketch.Cms.deserialize(r.getAs[Array[Byte]]("cms"))
      val ws = r.getAs[Timestamp]("ws").getTime / (6L * 3600 * 1000)
      val users = sample.filter(e => e.ts.getTime / (6L * 3600 * 1000) == ws)
        .map(_.user_id).distinct
      users.foreach { u =>
        val est = sketch.estimateString(u.toString)
        val exact = truth((ws, u))
        assert(est >= exact, s"CMS undercounted user $u: $est < $exact")
        // eps*N slack at these tiny counts means the estimate is exact
        assert(est <= exact + 1, s"CMS overcount too large for $u")
      }
      // n_events carries the exact per-window total alongside the sketch
      assert(r.getAs[Long]("n_events") ==
        sample.count(e => e.ts.getTime / (6L * 3600 * 1000) == ws))
    }
  }

  test("stream-stream interval join equals batch, bounded by the hour rule") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val vSample = sample.filter(_.event_type == "view")
    // sample's only view->click gaps are negative or 64' (> 1h): add a
    // click 39' after user 1's view@61' so exactly one pair joins
    val cSample = sample.filter(_.event_type == "click") :+
      Event(9, ts(100), 1, "click", 9.0)
    val out = EventStreams.clicksAfterViews(views.toDF(), clicks.toDF())
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    views.addData(vSample)
    clicks.addData(cSample.take(2))
    q.processAllAvailable()
    clicks.addData(cSample.drop(2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssj")
      .orderBy("click_id", "view_id").collect().toSeq
    val batch = EventStreams.clicksAfterViews(vSample.toDF(), cSample.toDF())
      .orderBy("click_id", "view_id").collect().toSeq
    assert(streamed == batch)
    // every joined pair respects the (0, 1h] event-time bound per user
    streamed.foreach { r =>
      val gap = r.getAs[Timestamp]("click_ts").getTime -
        r.getAs[Timestamp]("view_ts").getTime
      assert(gap > 0 && gap <= 3600 * 1000L)
    }
    // exactly the (view@61', click@100') pair for user 1 joins; the
    // 64'-later click@125' and all clicks preceding their views do not
    assert(streamed.map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
      == Seq((3L, 9L)))
  }

  test("streaming corpus ingest: quality filter + fingerprint dedup across batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val good = "the data of the table and the index is a scan " * 5 // high score
    val dup = "a b " + good // same token SET as below -> same fingerprint
    val dup2 = "b a " + good + " a b" // reordered/multiplied: same fp
    val low = "zz yy" // 2 tokens, no markers -> score < 0.4
    val docs = Seq((1L, ts(0), good), (2L, ts(1), dup),
      (3L, ts(2), dup2), (4L, ts(3), low))
    val cols = Seq("doc_id", "ts", "text")
    val stream = MemoryStream[(Long, Timestamp, String)]
    val out = EventStreams.corpusIngest(stream.toDF().toDF(cols: _*))
    val q = out.writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append()).start()
    stream.addData(docs.take(2))
    q.processAllAvailable()
    stream.addData(docs.drop(2)) // dup2 arrives in a LATER micro-batch
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("ingest").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    // doc 1 and doc 2 have different token sets (doc 2 adds a/b)?
    // no: 'a' appears in good; 'b' is new -> doc2/doc3 share a fp,
    // doc3 is dropped as a cross-batch duplicate; doc4 fails quality
    assert(kept == Seq(1L, 2L), s"got $kept")
    val batch = EventStreams.corpusIngest(docs.toDF(cols: _*))
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(batch == kept)
  }

  test("streaming PII-redaction ingest: no raw spans emitted, redaction canonicalizes dedup, stream == batch") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val good = "the data of the table and the index is a scan " * 5
    val a = good + " contact bob1@example.com"
    // differs from `a` ONLY in its PII span -> same redacted fingerprint
    val b = good + " contact alice99@example.com"
    val c = good + " call 415-555-0042 ssn 123-45-6789 extra tail"
    val low = "zz yy"
    val docs = Seq((1L, ts(0), a), (2L, ts(1), b), (3L, ts(2), c),
      (4L, ts(3), low))
    val cols = Seq("doc_id", "ts", "text")
    val stream = MemoryStream[(Long, Timestamp, String)]
    val out = EventStreams.redactIngest(stream.toDF().toDF(cols: _*))
    val q = out.writeStream.format("memory").queryName("redact_ingest")
      .outputMode(OutputMode.Append()).start()
    stream.addData(docs.take(2))
    q.processAllAvailable()
    stream.addData(docs.drop(2)) // the cross-batch redacted-duplicate case
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("redact_ingest").collect()
    // doc 2's redacted text equals doc 1's -> deduped even though the
    // raw emails differ; doc 3 survives (different tail); doc 4 quality
    val kept = rows.map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept == Seq(1L, 3L), s"got $kept")
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Int]("n_email") == 1)
    assert(byId(3L).getAs[Int]("n_phone") == 1 &&
      byId(3L).getAs[Int]("n_id") == 1)
    // the output schema carries NO text column at all — nothing ever
    // emits a raw span
    assert(!rows.head.schema.fieldNames.exists(
      n => n == "text" || n == "redacted"))
    // batch parity, value for value
    val batch = EventStreams.redactIngest(docs.toDF(cols: _*))
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(batch == kept)
  }

  test("streaming dedup drops repeated event ids across micro-batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val out = EventStreams.dedupEvents(stream.toDF())
    val q = out.writeStream.format("memory").queryName("dedup_events")
      .outputMode(OutputMode.Append()).start()
    stream.addData(sample)
    q.processAllAvailable()
    stream.addData(sample.take(3)) // exact duplicates, second batch
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_events").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == sample.map(_.event_id).sorted.toSeq)
  }

  test("batch windowedAgg matches the q24 oracle-backed query shape") {
    val df = graft.queries.Events.queries("q24_event_window")(spark, sfDir)
    val viaModule = EventStreams.windowedAgg(Tables.load(spark, sfDir, "events"))
      .select(expr("unix_micros(ws)").as("ws_us"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("ws_us"), col("event_type"))
    assert(df.collect().toSeq == viaModule.collect().toSeq)
  }

  test("stream-maintained KMV is byte-equal to the batch build; set-op serves go live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-kmv").toString)
    val stream = MemoryStream[Long]
    val q = EventStreams.maintainKmvSketch(
      stream.toDF().select(expr("concat('s', value)").as("uid")),
      catalog, "kmv_live", "uid", 64)
    (0L until 500L).grouped(125).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    // replay a chunk: bottom-k union is idempotent — no change
    stream.addData((0L until 125L).toSeq)
    q.processAllAvailable()
    q.stop()

    // BYTE-equal to a batch build over the same rows (bottom-k of a
    // union == union of bottom-ks)
    spark.range(0, 500).select(expr("concat('s', id)").as("uid"))
      .createOrReplaceTempView("kmv_live_batch")
    graft.sketch.SketchOps.createKmv(spark, catalog, "kmv_live_batch",
      "uid", 64)
    val live = catalog.getSketch("kmv_live", "uid", "kmv").get.data
    val batch = catalog.getSketch("kmv_live_batch", "uid", "kmv").get.data
    assert(live.sameElements(batch))

    // the engine serves a set-op count from the STREAM-built sketch:
    // both backing views are EMPTY, so a correct answer proves no scan
    spark.range(250, 750).select(expr("concat('s', id)").as("uid"))
      .createOrReplaceTempView("kmv_other")
    graft.sketch.SketchOps.createKmv(spark, catalog, "kmv_other", "uid", 64)
    spark.range(0).select(expr("cast(null as string)").as("uid"))
      .createOrReplaceTempView("kmv_live")
    spark.range(0).select(expr("cast(null as string)").as("uid"))
      .createOrReplaceTempView("kmv_other")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query(
      "SELECT count(*) AS n FROM (SELECT uid FROM kmv_live " +
        "INTERSECT SELECT uid FROM kmv_other) t",
      engine.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog && r.serveKind.contains("kmv_setop"),
      s"${r.serveKind}: ${r.reason}")
    val est = r.df.collect().head.getDouble(0)
    // truth |A∩B| = 250 of a 750 union; k=64 — generous 3-sigma-ish gate
    assert(est > 0 && math.abs(est - 250.0) / 250.0 < 1.0, est.toString)
  }

  test("stream-maintained fk-keyed stats serve the STAR aggregate live: fact never scanned") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-star").toString)
    // maintain the grouped-stats blob keyed on the fact's JOIN key —
    // the same maintainer the single-table serves use; the star serve
    // reads the identical blob, so streams keep the star dashboard
    // live with no star-specific maintenance code
    val stream = MemoryStream[(Long, Double)]
    val q = EventStreams.maintainGroupedStatsSketch(
      stream.toDF().toDF("fk", "amt"), catalog, "fact_live", "fk", "amt")
    val data = (1L to 3000L).map(i => (i % 10, (i % 23).toDouble))
    data.grouped(1000).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    spark.range(0, 10).select(col("id").as("pk"),
      expr("concat('b', id % 3)").as("bucket"))
      .createOrReplaceTempView("dim_live")
    // EMPTY fact: a correct star answer can only come from the blob
    spark.range(0).select(col("id").as("fk"),
      col("id").cast("double").as("amt"))
      .createOrReplaceTempView("fact_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query("SELECT bucket, count(*) AS cnt, sum(amt) AS s " +
      "FROM fact_live JOIN dim_live ON fact_live.fk = dim_live.pk " +
      "GROUP BY bucket")
    assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
      s"${r.serveKind}: ${r.reason}")
    // truth from the generator, grouped by the dim attribute
    val truth = data.groupBy { case (fk, _) => s"b${fk % 3}" }
      .view.mapValues(rows =>
        (rows.size.toLong, rows.map(_._2).sum)).toMap
    val served = r.df.collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(served == truth, s"$served vs $truth")
  }

  test("stream-maintained fk-keyed histograms serve the STAR-RANGE band live: fact never scanned") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-starrange")
        .toString)
    // ONE identical grid per fk (multi-fk dim cells merge only when
    // grids agree) with band edges landing on bucket boundaries — the
    // served band is then exact and comparable to generator truth.
    // The maintainer folds the histsum rider in the same micro-batch,
    // so the band's SUM serves live too.
    val buckets = 32
    val grids = (0L until 10L).map(k => (Option(k.toString), 0.0, 1.0))
    val stream = MemoryStream[(Long, Double)]
    val q = EventStreams.maintainGroupedHistogramSketch(
      stream.toDF().toDF("fk", "amt"), catalog, "fact_rlive", "fk", "amt",
      grids, buckets)
    val data = (1L to 3000L).map(i => (i % 10, (i % 32).toDouble))
    data.grouped(1000).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    spark.range(0, 10).select(col("id").as("pk"),
      expr("concat('b', id % 3)").as("bucket"))
      .createOrReplaceTempView("dim_rlive")
    // EMPTY fact: a correct band answer can only come from the blobs
    spark.range(0).select(col("id").as("fk"),
      col("id").cast("double").as("amt"))
      .createOrReplaceTempView("fact_rlive")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query("SELECT bucket, count(*) AS n_est, " +
      "sum(amt) AS s_est FROM fact_rlive JOIN dim_rlive " +
      "ON fact_rlive.fk = dim_rlive.pk " +
      "WHERE amt >= 8 AND amt < 16 GROUP BY bucket",
      engine.Options(maxRelError = 0.9))
    assert(r.servedFromCatalog && r.serveKind.contains("star_range"),
      s"${r.serveKind}: ${r.reason}")
    val truth = data.filter(d => d._2 >= 8 && d._2 < 16)
      .groupBy { case (fk, _) => s"b${fk % 3}" }
      .view.mapValues(rows => (rows.size.toDouble, rows.map(_._2).sum))
      .toMap
    val served = r.df.collect()
      .map(x => x.getString(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(served.keySet == truth.keySet, s"$served vs $truth")
    served.foreach { case (g, (n, s0)) =>
      assert(math.abs(n - truth(g)._1) < 1e-9, s"$g count: $n")
      assert(math.abs(s0 - truth(g)._2) < 1e-6, s"$g sum: $s0")
    }
  }

  test("stream-maintained EXPRESSION-keyed stats serve GROUP BY to_date(ts) live") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-exprkey")
        .toString)
    // the maintainer keys by SketchOps.groupKeyExpr, which parses
    // non-identifier key specs as expressions — the time-bucket keys
    // stream with no extra code
    val stream = MemoryStream[(Long, Double)]
    val q = EventStreams.maintainGroupedStatsSketch(
      stream.toDF().toDF("tsm", "amt")
        .selectExpr("timestamp_micros(tsm) AS ts", "amt"),
      catalog, "evt_live", "to_date(ts)", "amt")
    val data = (0L until 3000L).map(i =>
      (1700000000000000L + (i % 5) * 86400000000L + i * 1000L,
        (i % 17).toDouble))
    data.grouped(1000).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // EMPTY fact: a correct answer can only come from the blob
    spark.range(0).select(
      expr("timestamp_micros(id)").as("ts"),
      expr("cast(id as double)").as("amt"))
      .createOrReplaceTempView("evt_live")
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r = engine.query("SELECT to_date(ts) AS day, count(*) AS n, " +
      "sum(amt) AS s FROM evt_live GROUP BY to_date(ts)")
    assert(r.servedFromCatalog, s"${r.serveKind}: ${r.reason}")
    val truth = data.groupBy { case (tsm, _) => tsm / 86400000000L }
      .view.mapValues(rows => (rows.size.toLong, rows.map(_._2).sum))
      .values.toSeq.sorted
    val served = r.df.collect()
      .map(x => (x.getLong(1), x.getDouble(2))).toSeq.sorted
    assert(served == truth, s"$served vs $truth")
  }

  test("stream-maintained heavy-hitters: stored counts stay exact, unknown mass inflates the serve bound") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-topk").toString)
    // build: 5 heavy keys at 100 rows each + 600 singleton tails
    // (>1000 rows total — under that the chooser's small-table rule
    // answers exact before any serve), threshold 50 — blob stores
    // exactly h0..h4
    spark.range(0, 1100).select(expr(
      "cast(case when id < 500 then concat('h', id % 5) " +
        "else concat('t', id) end as string)").as("k"))
      .createOrReplaceTempView("hh_live")
    graft.sketch.SketchOps.createTopK(spark, catalog, "hh_live", Seq("k"), 50L)
    spark.range(0).select(expr("cast(null as string)").as("k"))
      .createOrReplaceTempView("hh_live")

    val stream = MemoryStream[String]
    val q = EventStreams.maintainTopKSketch(
      stream.toDF().toDF("k"), catalog, "hh_live", Seq("k"))
    // batch 0: +10 h0 (stored — exact increment), unstored u1×30, u2×5
    // (unknown mass: the batch MAX over unstored groups = 30)
    stream.addData(Seq.fill(10)("h0") ++ Seq.fill(30)("u1") ++
      Seq.fill(5)("u2"))
    q.processAllAvailable()
    // batch 1: +20 h1, unstored u3×25 → unknown_bound 30 + 25 = 55
    stream.addData(Seq.fill(20)("h1") ++ Seq.fill(25)("u3"))
    q.processAllAvailable()
    q.stop()

    val blob = catalog.getSketch("hh_live", "k", "topk").get
    val ubRe = """"unknown_bound"\s*:\s*([0-9.eE+-]+)""".r
    assert(ubRe.findFirstMatchIn(blob.parameters)
      .map(_.group(1).toDouble).contains(55.0), blob.parameters)
    def counts(b: Array[Byte]): Map[String, Long] =
      graft.sketch.GroupedHll.unpack(b).map { case (k, v) =>
        k.get -> java.nio.ByteBuffer.wrap(v)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      }.toMap
    val c = counts(blob.data)
    // stored counts exact: increments add, untouched groups unchanged,
    // unstored groups never enter the blob
    assert(c == Map("h0" -> 110L, "h1" -> 120L, "h2" -> 100L,
      "h3" -> 100L, "h4" -> 100L), c.toString)

    // replay guard: a restarted stream re-delivers batch id 0 — the
    // stored last_batch skips it (no double count, no unknown inflation)
    val replay = MemoryStream[String]
    val q2 = EventStreams.maintainTopKSketch(
      replay.toDF().toDF("k"), catalog, "hh_live", Seq("k"))
    replay.addData(Seq.fill(99)("h2") ++ Seq.fill(99)("u9"))
    q2.processAllAvailable()
    q2.stop()
    val after = catalog.getSketch("hh_live", "k", "topk").get
    assert(counts(after.data) == c, "replayed batch must be skipped")
    assert(ubRe.findFirstMatchIn(after.parameters)
      .map(_.group(1).toDouble).contains(55.0), after.parameters)

    // serve law over the EMPTY backing view: completeness holds only
    // above threshold 50 + unknown 55 = 105. Top-2 serves (2nd stored
    // metric 110 >= 105); top-3 refuses (3rd metric 100 < 105).
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val r2 = engine.query("SELECT k, count(*) AS c FROM hh_live " +
      "GROUP BY k ORDER BY c DESC, k LIMIT 2")
    assert(r2.servedFromCatalog && r2.serveKind.contains("topk"),
      s"${r2.serveKind}: ${r2.reason}")
    assert(r2.reason.contains("unknown-mass"), r2.reason)
    assert(r2.df.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("h1", 120L), ("h0", 110L)))
    // iceberg: a bound at/above the inflated threshold serves the
    // exact qualifying stored groups
    val rIce = engine.query("SELECT k, count(*) AS c FROM hh_live " +
      "GROUP BY k HAVING count(*) >= 110 ORDER BY k")
    assert(rIce.servedFromCatalog, rIce.reason)
    assert(rIce.df.collect().map(_.getString(0)).toSeq == Seq("h0", "h1"))
    // refusals LAST: a refused query falls through to the chooser,
    // which live-counts the EMPTY backing view and upserts rowCount=0
    // table stats — retiring the blob as stale for any later query
    val r3 = engine.query("SELECT k, count(*) AS c FROM hh_live " +
      "GROUP BY k ORDER BY c DESC, k LIMIT 3")
    assert(!r3.servedFromCatalog, r3.reason)
    // a bound below the inflated threshold refuses even though the
    // batch-built blob would have served it
    val rLow = engine.query("SELECT k, count(*) AS c FROM hh_live " +
      "GROUP BY k HAVING count(*) >= 60 ORDER BY k")
    assert(!rLow.servedFromCatalog, rLow.reason)
  }

  test("stream-maintained SUM heavy-hitters: decimal-exact increments, positive-only unknown mass, overflow refusal") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-stream-topksum").toString)
    // 3 heavy keys summing 10 × 100.0 = 1000.0 each + 1200 light tails
    // (>1000 rows so the chooser's small-table rule doesn't answer
    // exact before the serve), threshold 500
    spark.range(0, 1230).select(
      expr("cast(case when id < 30 then concat('s', id % 3) " +
        "else concat('t', id) end as string)").as("k"),
      expr("case when id < 30 then cast(100.0 as double) " +
        "else cast(1.5 as double) end").as("v"))
      .createOrReplaceTempView("rev_live")
    graft.sketch.SketchOps.createTopKSum(spark, catalog, "rev_live",
      Seq("k"), "v", 500.0)
    spark.range(0).select(expr("cast(null as string)").as("k"),
      expr("cast(null as double)").as("v"))
      .createOrReplaceTempView("rev_live")

    val stream = MemoryStream[(String, Double)]
    val q = EventStreams.maintainTopKSumSketch(
      stream.toDF().toDF("k", "v"), catalog, "rev_live", Seq("k"), "v")
    // batch 0: s0 +200.5 (two rows — decimal addition, no float drift),
    // unstored u1 totals +300 → unknown_bound 300
    stream.addData(Seq(("s0", 100.25), ("s0", 100.25), ("u1", 150.0),
      ("u1", 150.0)))
    q.processAllAvailable()
    // batch 1: an unstored NEGATIVE batch sum clamps to zero — it can
    // only lower an unstored total, never push one over the bound
    stream.addData(Seq(("u2", -50.0)))
    q.processAllAvailable()
    q.stop()

    val blob = catalog.getSketch("rev_live", "k->v", "topk").get
    val ubRe = """"unknown_bound"\s*:\s*([0-9.eE+-]+)""".r
    assert(ubRe.findFirstMatchIn(blob.parameters)
      .map(_.group(1).toDouble).contains(300.0), blob.parameters)
    def sums(b: Array[Byte]): Map[String, Double] =
      graft.sketch.GroupedHll.unpack(b).map { case (k, v) =>
        k.get -> new java.math.BigDecimal(
          new java.math.BigInteger(v), 4).doubleValue
      }.toMap
    assert(sums(blob.data) == Map("s0" -> 1200.5, "s1" -> 1000.0,
      "s2" -> 1000.0), sums(blob.data).toString)

    // serve law: effective bound 500 + 300 = 800. HAVING >= 850 serves
    // the exact stored sums; >= 600 refuses (a group the blob cannot
    // name could reach 600 < 800); top-1 serves (1200.5 >= 800)
    val engine = new graft.engine.QueryEngine(spark, catalog)
    val rIce = engine.query("SELECT k, sum(v) AS s FROM rev_live " +
      "GROUP BY k HAVING sum(v) >= 850 ORDER BY k")
    assert(rIce.servedFromCatalog && rIce.serveKind.contains("topk"),
      s"${rIce.serveKind}: ${rIce.reason}")
    assert(rIce.df.collect().map(x => (x.getString(0), x.getDouble(1)))
      .toSeq == Seq(("s0", 1200.5), ("s1", 1000.0), ("s2", 1000.0)))
    val rTop = engine.query("SELECT k, sum(v) AS s FROM rev_live " +
      "GROUP BY k ORDER BY s DESC, k LIMIT 1")
    assert(rTop.servedFromCatalog, rTop.reason)
    assert(rTop.df.collect().map(x =>
      (x.getString(0), x.getDouble(1))).toSeq == Seq(("s0", 1200.5)))
    // refusal LAST (it live-counts the empty view into table stats,
    // retiring the blob as stale for later queries)
    val rLow = engine.query("SELECT k, sum(v) AS s FROM rev_live " +
      "GROUP BY k HAVING sum(v) >= 600 ORDER BY k")
    assert(!rLow.servedFromCatalog, rLow.reason)

    // a batch group sum overflowing decimal(38,4) fails the batch
    // loudly and leaves the blob untouched (never under-counts a
    // stored group below the serve bound)
    val ovf = MemoryStream[(String, Double)]
    val q3 = EventStreams.maintainTopKSumSketch(
      ovf.toDF().toDF("k", "v"), catalog, "rev_live", Seq("k"), "v")
    // a restarted stream's batch ids 0 and 1 are <= the stored
    // last_batch and get replay-skipped — burn them so the overflow
    // batch is actually processed (id 2 > 1)
    ovf.addData(Seq(("s2", 0.0)))
    q3.processAllAvailable()
    ovf.addData(Seq(("s2", 0.0)))
    q3.processAllAvailable()
    ovf.addData(Seq(("s1", 9.9e33), ("s1", 9.9e33)))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    assert(ex.getMessage.contains("overflows") ||
      Option(ex.getCause).exists(_.getMessage.contains("overflows")),
      ex.getMessage)
    q3.stop()
    assert(sums(catalog.getSketch("rev_live", "k->v", "topk").get.data) ==
      sums(blob.data), "overflow batch must not modify the blob")
  }

  test("band-admission ingest: fold across monotone batches == the q192 batch operator; replay guarded; out-of-order ids refuse") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-bandadm").toString)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val mid = docs(docs.length / 2)._1
    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.maintainBandAdmission(
      stream.toDF().toDF("doc_id", "text"), catalog, "docs_live")
    stream.addData(docs.filter(_._1 <= mid).toSeq)
    q.processAllAvailable()
    stream.addData(docs.filter(_._1 > mid).toSeq)
    q.processAllAvailable()
    q.stop()
    // fold == batch law: the two-batch admission equals q192 over the
    // whole corpus (foreachBatch views live in a CLONED session — read
    // the persisted output, the authority)
    val outPath = s"${catalog.samplesDir}/docs_live__admitted/b*"
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("n_bands"), col("n_owned"), col("admitted"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val got = shape(spark.read.parquet(outPath))
    val want = shape(
      graft.queries.Dedup.queries("q192_band_admission")(spark, sfDir))
    assert(got == want)
    // the fixture really exercises suppression and the trivial-admit arm
    assert(got.exists(_._4 == 0), "no doc was suppressed")
    assert(got.exists(t => t._4 == 1 && t._2 == 6), "no full owner admitted")
    val rider = catalog.getSketch("docs_live", "text", "bandreg_state").get
    assert(rider.parameters.contains(s""""rows":${want.count(_._4 == 1)}"""),
      rider.parameters)

    // replay guard: a restarted stream re-sends both batches under ids
    // 0/1 <= last_batch — skipped before any write, output unchanged
    val replay = MemoryStream[(Long, String)]
    val q2 = EventStreams.maintainBandAdmission(
      replay.toDF().toDF("doc_id", "text"), catalog, "docs_live")
    replay.addData(docs.filter(_._1 <= mid).toSeq)
    q2.processAllAvailable()
    replay.addData(docs.filter(_._1 > mid).toSeq)
    q2.processAllAvailable()
    q2.stop()
    assert(shape(spark.read.parquet(outPath)) == want)

    // out-of-order arrival refuses loudly: a smaller id after the fold
    // would steal ownership the registry already granted
    val cat2 = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-bandadm2").toString)
    val mono = MemoryStream[(Long, String)]
    val q3 = EventStreams.maintainBandAdmission(
      mono.toDF().toDF("doc_id", "text"), cat2, "docs_mono")
    mono.addData(Seq((10L, "a b c d e")))
    q3.processAllAvailable()
    mono.addData(Seq((5L, "p q r s t")))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    assert(ex.getMessage.contains("monotone") ||
      Option(ex.getCause).exists(_.getMessage.contains("monotone")),
      ex.getMessage)
    q3.stop()
  }

  private def admissionShape(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id"), col("n_bands"), col("n_owned"), col("admitted"))
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    .toSet

  test("band-admission registry compaction: admissions invariant, version stamped atomically, registry file count bounded") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-bandcmp").toString)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val stream = MemoryStream[(Long, String)]
    // threshold 2: every few appends trip a compaction, exercising the
    // version-stamp/cleanup cycle many times in one run
    val q = EventStreams.maintainBandAdmission(
      stream.toDF().toDF("doc_id", "text"), catalog, "docs_cmp",
      compactFileThreshold = 2)
    val batches = docs.grouped(math.max(1, docs.length / 8)).toSeq
    batches.foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // LAW: a compacted registry yields admissions identical to the
    // batch operator over the whole corpus — compaction only rewrites
    // the registry to the min-owner form the fold already consumes
    val got = admissionShape(
      spark.read.parquet(s"${catalog.samplesDir}/docs_cmp__admitted/b*"))
    val want = admissionShape(
      graft.queries.Dedup.queries("q192_band_admission")(spark, sfDir))
    assert(got == want)
    val rider = catalog.getSketch("docs_cmp", "text", "bandreg_state").get
    val regV = """"reg_v"\s*:\s*(\d+)""".r
      .findFirstMatchIn(rider.parameters).map(_.group(1).toInt)
    assert(regV.exists(_ >= 1),
      s"compaction never stamped a version: ${rider.parameters}")
    // bounded registry: the current version dir holds the compacted
    // rewrite plus at most a threshold's worth of fresh appends — far
    // below the uncompacted total (8+ batches x up to 4 files each)
    val regDir = new java.io.File(
      EventStreams.bandRegistryDir(catalog, "docs_cmp"))
    assert(regDir.exists, regDir.toString)
    val nFiles = regDir.listFiles.count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(nFiles <= 12, s"registry not bounded: $nFiles files")
    // one more monotone fold runs the stale-version cleanup: only the
    // CURRENT version dir remains among the registry siblings
    val extra = MemoryStream[(Long, String)]
    val q2 = EventStreams.maintainBandAdmission(
      extra.toDF().toDF("doc_id", "text"), catalog, "docs_cmp",
      compactFileThreshold = 2)
    extra.addData(Seq((docs.last._1 + 1, "zz yy xx ww vv")))
    q2.processAllAvailable()
    q2.stop()
    val curName = new java.io.File(
      EventStreams.bandRegistryDir(catalog, "docs_cmp")).getName
    val regSiblings = new java.io.File(catalog.samplesDir).listFiles
      .map(_.getName)
      .filter(n => n == "docs_cmp__admitted__registry" ||
        n.startsWith("docs_cmp__admitted__registry_v"))
    assert(regSiblings.toSet == Set(curName),
      s"stale registry versions not cleaned: ${regSiblings.mkString(",")}")
  }

  test("band-admission RESTART law: the durable checkpoint resumes the fold past a kill — fold == batch operator across the restart") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-bandrst").toString
    val catalog = new graft.catalog.MetaCatalog(s"$work/cat")
    val srcDir = s"$work/src"
    val ckpt = s"$work/ckpt"
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val mid = docs(docs.length / 2)._1
    // drop 1 lands, the maintainer folds it, then the process "dies"
    docs.filter(_._1 <= mid).toSeq.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def attach() = EventStreams.maintainBandAdmission(
      spark.readStream.schema(schema).parquet(srcDir), catalog, "docs_rst",
      checkpointLocation = Some(ckpt))
    val q1 = attach()
    q1.processAllAvailable()
    q1.stop() // the kill
    // drop 2 lands while the maintainer is down; the re-attachment with
    // the ORIGINAL checkpoint resumes the source's processed-files log,
    // so batch ids continue past the durable rider's last_batch (the
    // documented RESTART contract) and only the new file folds
    docs.filter(_._1 > mid).toSeq.toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = attach()
    q2.processAllAvailable()
    q2.stop()
    val got = admissionShape(
      spark.read.parquet(s"${catalog.samplesDir}/docs_rst__admitted/b*"))
    val want = admissionShape(
      graft.queries.Dedup.queries("q192_band_admission")(spark, sfDir))
    assert(got == want)
    // the resumed attachment really folded under a CONTINUED batch id
    // (0 before the kill, 1 after), not a reset-to-0 replay skip
    val rider = catalog.getSketch("docs_rst", "text", "bandreg_state").get
    assert(rider.parameters.contains(""""last_batch":1"""), rider.parameters)
    assert(new java.io.File(
      s"${catalog.samplesDir}/docs_rst__admitted/b1").exists)
  }

  test("admission stats serve answers from the artifact after a batch materialization") {
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-admstat").toString)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    EventStreams.materializeBandAdmission(catalog, "docs_stat", docs)
    // idempotent: a second materialization is replay-skipped by the
    // rider guard (same artifact, no duplicate b0 content)
    EventStreams.materializeBandAdmission(catalog, "docs_stat", docs)
    val stats = EventStreams.admissionStats(spark, catalog, "docs_stat")
      .collect()(0)
    val want = admissionShape(
      graft.queries.Dedup.queries("q192_band_admission")(spark, sfDir))
    assert(stats.getAs[Long]("n_docs") == want.size)
    assert(stats.getAs[Long]("n_admitted") == want.count(_._4 == 1))
    assert(stats.getAs[Long]("n_suppressed") == want.count(_._4 == 0))
    assert(stats.getAs[Long]("n_bands") > 0)
    assert(stats.getAs[Double]("admit_rate") ==
      want.count(_._4 == 1).toDouble / want.size)
  }

  test("admission stats on an EMPTY fold degrade to the zero row, no throw") {
    // round 17 (VERDICT #7): before the guard, the b* read threw
    // PATH_NOT_FOUND when no batch dir existed (tiny-SF entry smoke);
    // the serve must degrade like the registry-absent branch instead.
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-admempty").toString)
    val stats = EventStreams.admissionStats(spark, catalog, "docs_never")
      .collect()(0)
    assert(stats.getAs[Long]("n_docs") == 0L)
    assert(stats.getAs[Long]("n_bands") == 0L)
    assert(stats.isNullAt(stats.fieldIndex("admit_rate")),
      "0/0 admit_rate must be NULL, not a fabricated number")
    assert(!stats.isNullAt(stats.fieldIndex("n_admitted")) &&
      stats.getAs[Long]("n_admitted") == 0L, "n_admitted must be 0")
    assert(!stats.isNullAt(stats.fieldIndex("n_suppressed")) &&
      stats.getAs[Long]("n_suppressed") == 0L, "n_suppressed must be 0")
  }

  test("admission stats fail loudly when the batch directory cannot be listed") {
    val catalog = new graft.catalog.MetaCatalog(
      java.nio.file.Files.createTempDirectory("graft-admunlisted").toString)
    // a plain file where the batch directory belongs: it exists, but
    // listing it yields nothing to read
    val path = java.nio.file.Paths.get(catalog.samplesDir, "docs_x__admitted")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, Array[Byte](1))
    val ex = intercept[IllegalStateException](
      EventStreams.admissionStats(spark, catalog, "docs_x").collect())
    assert(ex.getMessage.contains("cannot list"), ex.getMessage)
  }
}
