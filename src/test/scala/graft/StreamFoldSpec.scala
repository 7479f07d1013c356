package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.MetaCatalog
import graft.streaming.{EventStreams, SampleMaintainers, WindowedSketches}

/** Laws every sketch maintainer owes through the shared fold
  * (`streaming/Fold.scala`), checked table-driven over all 23:
  *  - REPLAY: re-delivering batch 0 to a fresh attachment on the same
  *    catalog leaves every blob the maintainer owns unchanged — data,
  *    parameters and version for guarded blobs; data for idempotent
  *    ones (they re-fold, so their version moves);
  *  - NULL EVENT TIME: a windowed maintainer drops rows whose event
  *    time is NULL (they belong to no bucket) and keeps running, with
  *    the live row count over the timed rows only.
  * The six sample maintainers owe the same two laws over their sample
  * entry, strata, riders and sample/state parquet rows.
  * Fixture: ids 0..399, ts = id seconds, g = id % 4 (string), h = id % 3,
  * v = (id * 37) % 997; the 1000 s window keeps every bucket live.
  */
class StreamFoldSpec extends SparkSpec {

  private val window = 1000L * 1000000L
  private val bucket = 50L * 1000000L
  private val ids = 0L until 400L

  private def shape(df: DataFrame): DataFrame = df
    .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
    .withColumn("g", expr("cast(id % 4 as string)"))
    .withColumn("h", expr("id % 3"))
    .withColumn("v", expr("cast((id * 37) % 997 as double)"))

  /** One maintainer under test: the blobs it owns as (column, type,
    * idempotent), its attachment, and any batch build it folds into.
    */
  private case class Case(name: String, blobs: Seq[(String, String, Boolean)],
      start: (DataFrame, MetaCatalog, String) => StreamingQuery,
      setup: (MetaCatalog, String) => Unit = (_, _) => ())

  private val grids = (0 until 4).map(i => (Option(i.toString), 0.0, 16.0))

  private val appendCases = Seq(
    Case("hll", Seq(("g", "hyperloglog", true)),
      (df, c, t) => EventStreams.maintainHllSketch(df, c, t, "g")),
    Case("kmv", Seq(("id", "kmv", true)),
      (df, c, t) => EventStreams.maintainKmvSketch(df, c, t, "id", k = 64)),
    Case("cms", Seq(("g", "countmin", false)),
      (df, c, t) => EventStreams.maintainCmsSketch(df, c, t, "g")),
    Case("cms composite", Seq(("g,h", "countmin", false)),
      (df, c, t) => EventStreams.maintainCmsSketch(df, c, t, Seq("g", "h"),
        0.01, 0.01)),
    Case("histogram", Seq(("v", "histogram", false), ("v", "histsum", false)),
      (df, c, t) => EventStreams.maintainHistogramSketch(df, c, t, "v",
        0.0, 16.0, 64)),
    Case("grouped hll", Seq(("id", "hll_grouped", true)),
      (df, c, t) => EventStreams.maintainGroupedHllSketch(df, c, t, "g", "id")),
    Case("grouped histogram", Seq(("v", "histogram_grouped", false),
      ("v", "histsum_grouped", false)),
      (df, c, t) => EventStreams.maintainGroupedHistogramSketch(df, c, t, "g",
        "v", grids, 64)),
    Case("grouped stats", Seq(("v", "stats_grouped", false)),
      (df, c, t) => EventStreams.maintainGroupedStatsSketch(df, c, t, "g", "v")),
    Case("agms", Seq(("id", "agms", false)),
      (df, c, t) => EventStreams.maintainAgmsSketch(df, c, t, Seq("id"), 256)),
    Case("hdr", Seq(("v", "hdr", false), ("v", "hdrsum", false)),
      (df, c, t) => EventStreams.maintainHdrSketch(df, c, t, "v")),
    Case("grouped hdr", Seq(("v", "hdr_grouped", false),
      ("v", "hdrsum_grouped", false)),
      (df, c, t) => EventStreams.maintainGroupedHdrSketch(df, c, t, Seq("g"),
        "v")),
    Case("topk", Seq(("g", "topk", false)),
      (df, c, t) => EventStreams.maintainTopKSketch(df, c, t, Seq("g")),
      (c, t) => graft.sketch.SketchOps.createTopK(spark, c, t, Seq("g"), 1L)),
    Case("topk sum", Seq(("g->v", "topk", false)),
      (df, c, t) => EventStreams.maintainTopKSumSketch(df, c, t, Seq("g"), "v"),
      (c, t) => graft.sketch.SketchOps.createTopKSum(spark, c, t, Seq("g"), "v",
        1.0)))

  private val windowedCases = Seq(
    Case("windowed hll", Seq(("g", "hyperloglog", false),
      ("g", "hll_windowed", false)),
      (df, c, t) => EventStreams.maintainHllWindowed(df, c, t, "g", "ts",
        window, bucket)),
    Case("windowed cms", Seq(("g", "countmin", false),
      ("g", "cms_windowed", false)),
      (df, c, t) => EventStreams.maintainCmsWindowed(df, c, t, "g", "ts",
        window, bucket)),
    Case("windowed histogram", Seq(("v", "histogram", false),
      ("v", "histsum", false), ("v", "hist_windowed", false)),
      (df, c, t) => WindowedSketches.maintainHistogramWindowed(df, c, t, "v",
        "ts", window, bucket, 0.0, 16.0, 64)),
    Case("windowed grouped stats", Seq(("v", "stats_grouped", false),
      ("v", "statsg_windowed", false)),
      (df, c, t) => WindowedSketches.maintainGroupedStatsWindowed(df, c, t,
        Seq("g"), "v", "ts", window, bucket)),
    Case("windowed kmv", Seq(("id", "kmv", false),
      ("id", "kmv_windowed", false)),
      (df, c, t) => WindowedSketches.maintainKmvWindowed(df, c, t, "id", "ts",
        window, bucket, k = 64)),
    Case("windowed topk", Seq(("g", "topk", false),
      ("g", "topk_windowed", false)),
      (df, c, t) => WindowedSketches.maintainTopKWindowed(df, c, t, Seq("g"),
        "ts", window, bucket, threshold = 1L)),
    Case("windowed hdr", Seq(("v", "hdr", false), ("v", "hdrsum", false),
      ("v", "hdr_windowed", false)),
      (df, c, t) => WindowedSketches.maintainHdrWindowed(df, c, t, "v", "ts",
        window, bucket)),
    Case("windowed grouped hll", Seq(("id", "hll_grouped", false),
      ("id", "hllg_windowed", false)),
      (df, c, t) => WindowedSketches.maintainGroupedHllWindowed(df, c, t,
        Seq("g"), "id", "ts", window, bucket)),
    Case("windowed grouped hdr", Seq(("v", "hdr_grouped", false),
      ("v", "hdrsum_grouped", false), ("v", "hdrg_windowed", false)),
      (df, c, t) => WindowedSketches.maintainGroupedHdrWindowed(df, c, t,
        Seq("g"), "v", "ts", window, bucket)),
    Case("windowed agms", Seq(("id", "agms", false),
      ("id", "agms_windowed", false)),
      (df, c, t) => WindowedSketches.maintainAgmsWindowed(df, c, t, Seq("id"),
        "ts", window, bucket, buckets = 256)))

  /** One sample maintainer under test: its sample table, the riders it
    * owns as (column, type), the suffix of its state parquet (None when
    * the sample parquet is its state) and its attachment.
    */
  private case class SampleCase(name: String, sample: String => String,
      riders: Seq[(String, String)], state: Option[String],
      start: (DataFrame, MetaCatalog, String) => StreamingQuery,
      windowed: Boolean = false)

  private val sampleCases = Seq(
    SampleCase("bottom-k", t => s"${t}__bottomk_id",
      Seq(("id", "bottomk_rider")), None,
      (df, c, t) => SampleMaintainers.maintainBottomKSample(df, c, t, "id",
        k = 64)),
    SampleCase("grouped bottom-k", t => s"${t}__bottomkg_g",
      Seq(("g", "bottomkg_rider")), None,
      (df, c, t) => SampleMaintainers.maintainBottomKGrouped(df, c, t, "g",
        "id", kPerGroup = 16)),
    SampleCase("outlier", t => s"${t}__outlier2_v",
      Seq(("v", "outlier_rider")), Some("__state"),
      (df, c, t) => SampleMaintainers.maintainOutlierSample(df, c, t, "v",
        "id", outlierK = 8, targetRest = 32L, lowK = 4)),
    SampleCase("windowed bottom-k", t => s"${t}__bottomkw_id",
      Seq(("id", "bottomkw_state"), ("id", "bottomk_rider")), Some("__state"),
      (df, c, t) => SampleMaintainers.maintainBottomKWindowed(df, c, t, "id",
        "ts", window, bucket, k = 64), windowed = true),
    SampleCase("windowed grouped bottom-k", t => s"${t}__bottomkg_g",
      Seq(("g", "bkgw_state"), ("g", "bottomkg_rider")), Some("__state"),
      (df, c, t) => SampleMaintainers.maintainBottomKGroupedWindowed(df, c, t,
        "g", "id", "ts", window, bucket, kPerGroup = 16), windowed = true),
    SampleCase("windowed outlier", t => s"${t}__outlier2_v",
      Seq(("v", "outlierw_state"), ("v", "outlier_rider")), Some("__wstate"),
      (df, c, t) => SampleMaintainers.maintainOutlierWindowed(df, c, t, "v",
        "id", "ts", window, bucket, outlierK = 8, lowK = 4, restWeight = 4L),
      windowed = true))

  private def tmpCatalog(tag: String) = new MetaCatalog(
    java.nio.file.Files.createTempDirectory(s"graft-fold-$tag").toString)

  test("replay law: re-delivering batch 0 leaves every maintainer's blobs unchanged (all 23)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    assert(appendCases.size + windowedCases.size == 23)
    (appendCases ++ windowedCases).zipWithIndex.foreach { case (m, i) =>
      val table = s"fold_replay_$i"
      val catalog = tmpCatalog(s"replay-$i")
      shape(spark.range(ids.start, ids.end).toDF("id"))
        .createOrReplaceTempView(table)
      m.setup(catalog, table)
      def fold(): Unit = {
        val stream = MemoryStream[Long]
        val q = m.start(shape(stream.toDF().toDF("id")), catalog, table)
        stream.addData(ids)
        q.processAllAvailable()
        q.stop()
      }
      fold()
      def owned = m.blobs.map { case (c, ty, _) =>
        catalog.getSketch(table, c, ty).getOrElse(
          fail(s"${m.name}: no $ty blob on $table.$c after batch 0"))
      }
      val before = owned
      val stats = catalog.statsFor(table)
      fold() // a fresh attachment: batch id 0 again
      m.blobs.zip(before).zip(owned).foreach {
        case (((c, ty, idempotent), b), a) =>
          assert(a.data.sameElements(b.data), s"${m.name}: $ty data moved")
          if (!idempotent) {
            assert(a.parameters == b.parameters,
              s"${m.name}: $ty params ${b.parameters} -> ${a.parameters}")
            assert(a.version == b.version, s"${m.name}: $ty re-written")
          }
      }
      assert(catalog.statsFor(table) == stats, s"${m.name}: table stats moved")
    }
  }

  test("NULL event times: every windowed sketch maintainer skips them, stays active, and counts only timed rows") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // every 10th row has no event time; the window covers all the rest
    def nullTs(df: DataFrame): DataFrame = shape(df).withColumn("ts",
      expr("case when id % 10 = 0 then cast(null as timestamp) else ts end"))
    val timed = ids.count(_ % 10 != 0).toLong
    windowedCases.zipWithIndex.foreach { case (m, i) =>
      val table = s"fold_nullts_$i"
      val catalog = tmpCatalog(s"nullts-$i")
      val stream = MemoryStream[Long]
      val q = m.start(nullTs(stream.toDF().toDF("id")), catalog, table)
      stream.addData(ids)
      val run = scala.util.Try(q.processAllAvailable())
      val active = q.isActive && q.exception.isEmpty
      q.stop()
      assert(run.isSuccess && active,
        s"${m.name}: stream died on NULL event times: ${q.exception}")
      // AGMS leaves the table stats alone; its blob carries the count
      val rows =
        if (m.name == "windowed agms")
          catalog.getSketch(table, "id", "agms").flatMap(_.paramLong("rows"))
        else catalog.statsFor(table).map(_.rowCount)
      assert(rows.contains(timed), s"${m.name}: live rows $rows, want $timed")
    }
  }
  test("replay law: re-delivering batch 0 leaves every sample maintainer's entry, strata, riders and rows unchanged (all 6)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    assert(sampleCases.size == 6)
    sampleCases.zipWithIndex.foreach { case (m, i) =>
      val table = s"fold_sreplay_$i"
      val catalog = tmpCatalog(s"sreplay-$i")
      val name = m.sample(table)
      def fold(): Unit = {
        val stream = MemoryStream[Long]
        val q = m.start(shape(stream.toDF().toDF("id")), catalog, table)
        stream.addData(ids)
        q.processAllAvailable()
        q.stop()
      }
      def rowsAt(path: String): Seq[String] =
        if (new java.io.File(path).exists)
          spark.read.parquet(path).collect().toSeq.map(_.toString)
        else Nil
      def snapshot() = {
        val entry = catalog.sampleByName(name).getOrElse(
          fail(s"${m.name}: no sample entry $name after batch 0"))
        val riders = m.riders.map { case (c, ty) =>
          val r = catalog.getSketch(table, c, ty).getOrElse(
            fail(s"${m.name}: no $ty rider on $table.$c after batch 0"))
          (ty, r.data.toSeq, r.parameters)
        }
        val strata = catalog.strataFor(name).map(st => (st.strataValue,
          st.popSize, st.sampleSize, st.fraction, st.weight))
        (entry.baseRows, entry.fraction, strata, riders, rowsAt(entry.path),
          m.state.map(sfx => rowsAt(entry.path + sfx)),
          catalog.statsFor(table))
      }
      fold()
      val before = snapshot()
      assert(before._5.nonEmpty, s"${m.name}: empty sample after batch 0")
      assert(before._6.forall(_.nonEmpty), s"${m.name}: empty state parquet")
      fold() // a fresh attachment: batch id 0 again
      val after = snapshot()
      Seq("base rows / fraction" -> ((before._1, before._2),
          (after._1, after._2)),
        "strata" -> (before._3, after._3), "riders" -> (before._4, after._4),
        "sample rows" -> (before._5, after._5),
        "state rows" -> (before._6, after._6),
        "table stats" -> (before._7, after._7)).foreach {
        case (what, (b, a)) => assert(a == b, s"${m.name}: $what moved")
      }
    }
  }

  test("NULL event times: every windowed sample maintainer skips them, stays active, and counts only timed rows") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    def nullTs(df: DataFrame): DataFrame = shape(df).withColumn("ts",
      expr("case when id % 10 = 0 then cast(null as timestamp) else ts end"))
    val timed = ids.count(_ % 10 != 0).toLong
    sampleCases.filter(_.windowed).zipWithIndex.foreach { case (m, i) =>
      val table = s"fold_snullts_$i"
      val catalog = tmpCatalog(s"snullts-$i")
      val stream = MemoryStream[Long]
      val q = m.start(nullTs(stream.toDF().toDF("id")), catalog, table)
      stream.addData(ids)
      val run = scala.util.Try(q.processAllAvailable())
      val active = q.isActive && q.exception.isEmpty
      q.stop()
      assert(run.isSuccess && active,
        s"${m.name}: stream died on NULL event times: ${q.exception}")
      val rows = catalog.statsFor(table).map(_.rowCount)
      assert(rows.contains(timed), s"${m.name}: live rows $rows, want $timed")
      assert(catalog.sampleByName(m.sample(table)).flatMap(_.baseRows)
        .contains(timed), s"${m.name}: sample base rows")
    }
  }
}
