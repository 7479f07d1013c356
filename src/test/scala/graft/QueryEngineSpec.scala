package graft

import java.nio.file.Files

import graft.catalog.MetaCatalog
import graft.engine.QueryEngine
import graft.sample.Samplers

/** End-to-end engine behavior on the sf0.001 tables (~6k lineitem rows):
  * strategy routing, HT-weighted scaling, CI columns, sketch rewrite,
  * stratified routing, history loop.
  */
class QueryEngineSpec extends SparkSpec {

  lazy val catalog = new MetaCatalog(
    Files.createTempDirectory("graft-test").toString)
  lazy val engine = new QueryEngine(spark, catalog)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.registerAll(spark, sfDir)
  }

  test("exact path returns exact results (preferExact)") {
    val r = engine.query("SELECT count(*) AS n FROM lineitem",
      engine.Options(preferExact = true))
    assert(r.planType == "exact")
    val n = r.df.collect().head.getLong(0)
    val truth = spark.table("lineitem").count()
    assert(n == truth)
  }

  test("small tables always run exact (rule 1)") {
    val r = engine.query("SELECT count(*) AS n FROM nation")
    assert(r.planType == "exact")
    assert(r.reason.contains("small table"))
  }

  test("COUNT(*) routes to sampling and estimates within bounds, with CI columns") {
    val r = engine.query("SELECT count(*) AS n FROM lineitem")
    assert(r.planType == "sample", r.reason)
    assert(r.sampleFraction.isDefined)
    val row = r.df.collect().head
    val schema = r.df.schema.fieldNames.toSeq
    assert(schema.contains("n"))
    assert(schema.contains("n_ci_low") && schema.contains("n_ci_high")
      && schema.contains("n_rel_error"))
    val truth = spark.table("lineitem").count().toDouble
    val est = row.getAs[Any]("n").asInstanceOf[Number].doubleValue()
    // Bernoulli sample, f from the chooser tier; 5-sigma-ish slack.
    val f = r.sampleFraction.get
    val se = math.sqrt(truth * (1 - f) / f)
    assert(math.abs(est - truth) < 6 * se + 1,
      s"est=$est truth=$truth f=$f se=$se")
    val lo = row.getAs[Any]("n_ci_low").asInstanceOf[Number].doubleValue()
    val hi = row.getAs[Any]("n_ci_high").asInstanceOf[Number].doubleValue()
    assert(lo < est && est < hi)
  }

  test("SUM and AVG are HT-consistent: avg ~ sum/count") {
    val r = engine.query(
      "SELECT sum(l_quantity) AS s, count(*) AS n, avg(l_quantity) AS a FROM lineitem")
    assert(r.planType == "sample")
    val row = r.df.collect().head
    val s = row.getAs[Any]("s").asInstanceOf[Number].doubleValue()
    val n = row.getAs[Any]("n").asInstanceOf[Number].doubleValue()
    val a = row.getAs[Any]("a").asInstanceOf[Number].doubleValue()
    assert(math.abs(s / n - a) < 1e-6 * math.max(1.0, a))
    val truthAvg = spark.sql("SELECT avg(l_quantity) FROM lineitem")
      .collect().head.getDouble(0)
    assert(math.abs(a - truthAvg) / truthAvg < 0.25, s"a=$a truth=$truthAvg")
  }

  test("GROUP BY estimates per-group counts within tolerance") {
    val r = engine.query(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
    assert(r.planType == "sample" || r.planType == "exact")
    val approx = r.df.collect().map(x =>
      x.getString(0) -> x.getAs[Any]("n").asInstanceOf[Number].doubleValue()).toMap
    val truth = spark.sql(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
      .collect().map(x => x.getString(0) -> x.getLong(1).toDouble).toMap
    truth.foreach { case (k, v) =>
      val est = approx.getOrElse(k, 0.0)
      assert(math.abs(est - v) / v < 0.5, s"group $k est=$est truth=$v")
    }
  }

  test("COUNT DISTINCT routes to HLL sketch (approx_count_distinct)") {
    val r = engine.query(
      "SELECT count(DISTINCT l_partkey) AS nd FROM lineitem")
    assert(r.planType == "sketch", s"${r.planType}: ${r.reason}")
    val est = r.df.collect().head.getLong(0).toDouble
    val truth = spark.sql("SELECT count(DISTINCT l_partkey) FROM lineitem")
      .collect().head.getLong(0).toDouble
    assert(math.abs(est - truth) / truth < 0.15, s"est=$est truth=$truth")
  }

  test("materialized uniform sample is preferred over inline sampling") {
    Samplers.createUniform(spark, catalog, "lineitem", 0.25)
    val r = engine.query("SELECT count(*) AS n FROM lineitem")
    assert(r.planType == "sample")
    assert(r.sampleTable.contains("lineitem__sample_0_25"), r.sampleTable)
    val est = r.df.collect().head.getAs[Any]("n")
      .asInstanceOf[Number].doubleValue()
    val truth = spark.table("lineitem").count().toDouble
    assert(math.abs(est - truth) / truth < 0.2, s"est=$est truth=$truth")
  }

  test("stratified strategy routes to a registered stratified sample with per-stratum weights") {
    Samplers.createStratified(spark, catalog, "orders", "o_orderpriority",
      0.3, varianceCol = Some("o_totalprice"))
    // multi-column GROUP BY on a table > 10k rows triggers 'stratified'
    // at sf0.001 orders ~1.5k rows -> force size via catalog stats
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", math.max(n, 20000L))
    catalog.refreshSampleBase("orders") // forced stats: keep sample fresh
    val r = engine.query(
      "SELECT o_orderpriority, o_orderstatus, sum(o_totalprice) AS s FROM orders GROUP BY o_orderpriority, o_orderstatus")
    catalog.upsertTableStats("orders", n) // restore
    catalog.refreshSampleBase("orders")
    assert(r.planType == "stratified", s"${r.planType}: ${r.reason}")
    val est = r.df.collect()
      .map(x => x.getAs[Any]("s").asInstanceOf[Number].doubleValue()).sum
    val truth = spark.sql("SELECT sum(o_totalprice) FROM orders")
      .collect().head.getDouble(0)
    assert(math.abs(est - truth) / truth < 0.25, s"est=$est truth=$truth")
  }

  test("stored HLL sketch answers COUNT(DISTINCT) with no scan") {
    graft.sketch.SketchOps.createHll(spark, catalog, "lineitem", "l_suppkey")
    val r = engine.query("SELECT count(DISTINCT l_suppkey) AS nd FROM lineitem")
    assert(r.planType == "sketch")
    assert(r.transformations.exists(_.contains("stored HyperLogLog")), r.transformations)
    val est = r.df.collect().head.getLong(0)
    assert(est == graft.sketch.SketchOps
      .distinctFromSketch(catalog, "lineitem", "l_suppkey").get)
    val truth = spark.sql("SELECT count(DISTINCT l_suppkey) FROM lineitem")
      .collect().head.getLong(0)
    assert(math.abs(est - truth.toDouble) / truth < 3 * (1.04 / math.sqrt(4096)))
  }

  test("stored grouped HLL answers per-group COUNT(DISTINCT) with no scan; stale falls through") {
    graft.sketch.SketchOps.createGroupedHll(
      spark, catalog, "orders", "o_orderstatus", "o_custkey")
    val sql = "SELECT o_orderstatus, count(DISTINCT o_custkey) AS nd " +
      "FROM orders GROUP BY o_orderstatus"
    val r = engine.query(sql)
    assert(r.planType == "sketch", s"${r.planType}: ${r.reason}")
    assert(r.transformations.exists(_.contains("grouped HyperLogLog")),
      r.transformations)
    val est = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val truth = spark.sql(sql).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(est.keySet == truth.keySet, s"est=$est truth=$truth")
    truth.foreach { case (k, t) =>
      assert(math.abs(est(k) - t.toDouble) / t < 3 * (1.04 / math.sqrt(4096)),
        s"group $k: est=${est(k)} truth=$t")
    }
    // appended base table (stats no longer match the creation rowcount):
    // the no-scan serve stops; exact per-group counts come back instead
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", n + 1000)
    val r2 = engine.query(sql)
    assert(!r2.transformations.exists(_.contains("grouped HyperLogLog")),
      r2.transformations)
    catalog.upsertTableStats("orders", n)
    // a different grouping column than the sketch's falls through too
    val r3 = engine.query(
      "SELECT o_orderpriority, count(DISTINCT o_custkey) AS nd " +
        "FROM orders GROUP BY o_orderpriority")
    assert(!r3.transformations.exists(_.contains("grouped HyperLogLog")),
      r3.transformations)
  }

  test("stored grouped histogram answers per-group percentiles with no scan; stale falls through") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    val sql = "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS p50, " +
      "percentile(o_totalprice, 0.9) AS p90 FROM orders GROUP BY o_orderstatus"
    val r = engine.query(sql)
    assert(r.planType == "sketch", s"${r.planType}: ${r.reason}")
    assert(r.transformations.exists(_.contains("grouped histogram")),
      r.transformations)
    val est = r.df.collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    val truth = spark.sql(sql).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(est.keySet == truth.keySet, s"est=$est truth=$truth")
    // per-group error bound: one bucket width of that group's own grid
    // (+1 width slack for the exact side's type-7 interpolation landing
    // across a bucket boundary; the tight per-value gate is q84's
    // oracle-measured err_* columns)
    val widths = spark.sql(
      "SELECT o_orderstatus, (cast(max(o_totalprice) as double) - " +
        "cast(min(o_totalprice) as double)) / 64 AS w " +
        "FROM orders GROUP BY o_orderstatus").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    truth.foreach { case (k, (t50, t90)) =>
      val w = 2 * widths(k) + 1e-9
      assert(math.abs(est(k)._1 - t50) <= w, s"$k p50: ${est(k)._1} vs $t50 (w=$w)")
      assert(math.abs(est(k)._2 - t90) <= w, s"$k p90: ${est(k)._2} vs $t90 (w=$w)")
    }
    // appended base table: the grouped no-scan serve stops
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", n + 1000)
    val r2 = engine.query(sql)
    assert(!r2.transformations.exists(_.contains("grouped histogram")),
      r2.transformations)
    catalog.upsertTableStats("orders", n)
  }

  test("stored grouped build statistics answer per-group MIN/MAX/COUNT/SUM/AVG with no scan") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    val sql = "SELECT o_orderstatus, min(o_totalprice) AS mn, " +
      "max(o_totalprice) AS mx, sum(o_totalprice) AS sm, " +
      "avg(o_totalprice) AS av, count(o_totalprice) AS nv, count(*) AS nr " +
      "FROM orders GROUP BY o_orderstatus"
    val r = engine.query(sql)
    assert(r.planType == "sketch", s"${r.planType}: ${r.reason}")
    assert(r.transformations.exists(_.contains("grouped build statistics")),
      r.transformations)
    assert(r.estimatedError == 0.0)
    val served = r.df.collect().map(x => x.getString(0) -> x).toMap
    val ex = spark.sql(
      "SELECT o_orderstatus, cast(min(o_totalprice) as double), " +
        "cast(max(o_totalprice) as double), " +
        "cast(sum(cast(o_totalprice as decimal(18,4))) as double), " +
        "count(o_totalprice), count(*) FROM orders GROUP BY o_orderstatus")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(served.keySet == ex.keySet)
    served.foreach { case (k, row) =>
      val e = ex(k)
      assert(row.getDouble(1) == e.getDouble(1), s"$k min")
      assert(row.getDouble(2) == e.getDouble(2), s"$k max")
      assert(row.getDouble(3) == e.getDouble(3), s"$k sum")
      assert(row.getDouble(4) == e.getDouble(3) / e.getLong(4).toDouble, s"$k avg")
      assert(row.getLong(5) == e.getLong(4), s"$k count(col)")
      assert(row.getLong(6) == e.getLong(5), s"$k count(*)")
    }
    // a lone grouped COUNT(*) does NOT serve from stats
    val rc = engine.query(
      "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus")
    assert(!rc.transformations.exists(_.contains("grouped build statistics")),
      rc.transformations)
    // stale stats fall through
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", n + 1000)
    val r2 = engine.query(sql)
    assert(!r2.transformations.exists(_.contains("grouped build statistics")),
      r2.transformations)
    catalog.upsertTableStats("orders", n)
  }

  test("WHERE g = lit dispatches to the named group's stored sketches (group-pruned, no scan)") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    val sql = "SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx, " +
      "sum(o_totalprice) AS sm, count(o_totalprice) AS nv, count(*) AS nr, " +
      "percentile(o_totalprice, 0.5) AS p50 " +
      "FROM orders WHERE o_orderstatus = 'F'"
    val r = engine.query(sql)
    assert(r.planType == "sketch", s"${r.planType}: ${r.reason}")
    assert(r.transformations.exists(_.contains("group-pruned")),
      r.transformations)
    val row = r.df.collect().head
    val ex = spark.sql(
      "SELECT cast(min(o_totalprice) as double), cast(max(o_totalprice) as double), " +
        "cast(sum(cast(o_totalprice as decimal(18,4))) as double), " +
        "count(o_totalprice), count(*), " +
        "cast(percentile(o_totalprice, 0.5) as double), " +
        "(cast(max(o_totalprice) as double) - cast(min(o_totalprice) as double)) / 64 " +
        "FROM orders WHERE o_orderstatus = 'F'").collect().head
    assert(row.getDouble(0) == ex.getDouble(0)) // min exact
    assert(row.getDouble(1) == ex.getDouble(1)) // max exact
    assert(row.getDouble(2) == ex.getDouble(2)) // decimal-portable sum
    assert(row.getLong(3) == ex.getLong(3))     // count(col) exact
    assert(row.getLong(4) == ex.getLong(4))     // count(*) exact
    assert(math.abs(row.getDouble(5) - ex.getDouble(5)) <= 2 * ex.getDouble(6),
      s"p50 ${row.getDouble(5)} vs ${ex.getDouble(5)}")

    // a literal naming NO recorded group is the exact empty aggregate
    val r2 = engine.query(
      "SELECT min(o_totalprice) AS mn, count(o_totalprice) AS nv, " +
        "count(*) AS nr FROM orders WHERE o_orderstatus = 'ZZ'")
    assert(r2.transformations.exists(_.contains("group-pruned")),
      r2.transformations)
    val row2 = r2.df.collect().head
    assert(row2.isNullAt(0) && row2.getLong(1) == 0L && row2.getLong(2) == 0L)

    // a LONE filtered COUNT(*) keeps its Count-Min/sampling semantics
    val rc = engine.query(
      "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'")
    assert(!rc.transformations.exists(_.contains("group-pruned")),
      rc.transformations)

    // stale stats fall through
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", n + 1000)
    val r3 = engine.query(sql)
    assert(!r3.transformations.exists(_.contains("group-pruned")),
      r3.transformations)
    catalog.upsertTableStats("orders", n)
  }

  test("WHERE g IN (...) merges the named groups' stats and HLL registers (no scan)") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    graft.sketch.SketchOps.createGroupedHll(
      spark, catalog, "orders", "o_orderstatus", "o_custkey")
    val r = engine.query(
      "SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx, " +
        "sum(o_totalprice) AS sm, count(o_totalprice) AS nv, " +
        "count(*) AS nr, count(DISTINCT o_custkey) AS nd " +
        "FROM orders WHERE o_orderstatus IN ('F', 'P')")
    assert(r.planType == "sketch", s"${r.planType}: ${r.reason}")
    assert(r.transformations.exists(_.contains("group-pruned")),
      r.transformations)
    val row = r.df.collect().head
    val ex = spark.sql(
      "SELECT cast(min(o_totalprice) as double), cast(max(o_totalprice) as double), " +
        "cast(sum(cast(o_totalprice as decimal(18,4))) as double), " +
        "count(o_totalprice), count(*), count(DISTINCT o_custkey) " +
        "FROM orders WHERE o_orderstatus IN ('F', 'P')").collect().head
    assert(row.getDouble(0) == ex.getDouble(0)) // merged min exact
    assert(row.getDouble(1) == ex.getDouble(1)) // merged max exact
    assert(row.getDouble(2) == ex.getDouble(2)) // merged decimal sum exact
    assert(row.getLong(3) == ex.getLong(3))     // merged count(col) exact
    assert(row.getLong(4) == ex.getLong(4))     // merged count(*) exact
    val nd = ex.getLong(5).toDouble             // HLL union estimate
    assert(math.abs(row.getLong(5) - nd) / nd <= 0.10,
      s"distinct estimate ${row.getLong(5)} vs exact $nd")

    // single-group count(DISTINCT) serves too
    val r1 = engine.query(
      "SELECT count(DISTINCT o_custkey) AS nd FROM orders " +
        "WHERE o_orderstatus = 'F'")
    assert(r1.transformations.exists(_.contains("group-pruned")),
      r1.transformations)

    // percentile over an IN-list falls through: per-group grids with
    // different [min,max] ranges don't merge
    val rp = engine.query(
      "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders " +
        "WHERE o_orderstatus IN ('F', 'P')")
    assert(!rp.transformations.exists(_.contains("group-pruned")),
      rp.transformations)
  }

  test("WHERE g IN (...) GROUP BY g serves per-group percentiles and stats (union of single-group serves)") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    // per-group grids don't merge, but a GROUP BY keeps them separate:
    // the IN-list serves one row per named group, each on its own grid
    val r = engine.query(
      "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS p50 " +
        "FROM orders WHERE o_orderstatus IN ('F', 'P') GROUP BY o_orderstatus")
    assert(r.transformations.exists(_.contains("grouped")), r.transformations)
    val keys = r.df.collect().map(_.getString(0)).toSet
    assert(keys == Set("F", "P"), keys.toString)
    // grouped stats under an equality filter: one exact row
    val rs = engine.query(
      "SELECT o_orderstatus, sum(o_totalprice) AS sm, count(*) AS nr " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus")
    assert(rs.transformations.exists(_.contains("build statistics")),
      rs.transformations)
    val rows = rs.df.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "F", rows.mkString)
    val ex = spark.sql(
      "SELECT cast(sum(cast(o_totalprice as decimal(18,4))) as double), " +
        "count(*) FROM orders WHERE o_orderstatus = 'F'").collect().head
    assert(rows.head.getDouble(1) == ex.getDouble(0))
    assert(rows.head.getLong(2) == ex.getLong(1))
    // a filter on a NON-group column refuses (fall through to scan)
    val rn = engine.query(
      "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS p50 " +
        "FROM orders WHERE o_custkey = 7 GROUP BY o_orderstatus")
    assert(!rn.transformations.exists(_.contains("grouped")),
      rn.transformations)
    // literals naming no recorded group serve ZERO rows — exactly what
    // exact GROUP BY returns for a key with no rows
    val rz = engine.query(
      "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS p50 " +
        "FROM orders WHERE o_orderstatus IN ('ZZ') GROUP BY o_orderstatus")
    assert(rz.transformations.exists(_.contains("grouped")),
      rz.transformations)
    assert(rz.df.count() == 0)
  }

  test("composite-key grouped sketches answer GROUP BY a, b with no scan; key-set mismatches refuse") {
    graft.sketch.SketchOps.createGroupedHistogram(spark, catalog, "lineitem",
      Seq("l_returnflag", "l_linestatus"), "l_quantity", 64)
    graft.sketch.SketchOps.createGroupedHll(spark, catalog, "lineitem",
      Seq("l_returnflag", "l_linestatus"), "l_orderkey", 12)
    // stats over the composite key, group columns in REVERSED order vs
    // the build — dispatch is on column-SET equality, components are
    // permuted into the query's order
    val r = engine.query(
      "SELECT l_linestatus, l_returnflag, sum(l_quantity) AS sm, " +
        "count(*) AS nr FROM lineitem GROUP BY l_linestatus, l_returnflag")
    assert(r.transformations.exists(_.contains("build statistics")),
      r.transformations)
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getString(1), x.getDouble(2), x.getLong(3)))
      .toSet
    val ex = spark.sql(
      "SELECT l_linestatus, l_returnflag, " +
        "cast(sum(cast(l_quantity as decimal(18,4))) as double), count(*) " +
        "FROM lineitem GROUP BY l_linestatus, l_returnflag").collect()
      .map(x => (x.getString(0), x.getString(1), x.getDouble(2), x.getLong(3)))
      .toSet
    assert(got == ex, s"$got vs $ex")
    // per-composite-group COUNT(DISTINCT) serves from the grouped HLL
    val rd = engine.query(
      "SELECT l_returnflag, l_linestatus, count(DISTINCT l_orderkey) AS nd " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus")
    assert(rd.transformations.exists(_.contains("grouped HyperLogLog")),
      rd.transformations)
    assert(rd.df.count() == spark.sql(
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem").count())
    // a SUBSET of the sketch's key set SERVES as the exact marginal
    // (round 10 wide-blob collapse): every row lands in exactly one
    // composite cell, so summing the complete partition over the
    // unused component cannot double-count
    val rSub = engine.query(
      "SELECT l_returnflag, sum(l_quantity) AS sm FROM lineitem " +
        "GROUP BY l_returnflag")
    assert(rSub.transformations.exists(_.contains("build statistics")),
      rSub.transformations)
    assert(rSub.df.collect().map(x =>
      x.getString(0) -> x.getDouble(1)).toMap ==
      spark.sql("SELECT l_returnflag, cast(sum(cast(l_quantity as " +
        "decimal(18,4))) as double) AS sm FROM lineitem " +
        "GROUP BY l_returnflag").collect().map(x =>
        x.getString(0) -> x.getDouble(1)).toMap)
    // a SUPERSET refuses too
    val rSup = engine.query(
      "SELECT l_returnflag, l_linestatus, l_shipdate, sum(l_quantity) AS sm " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus, l_shipdate")
    assert(!rSup.transformations.exists(_.contains("build statistics")),
      rSup.transformations)
    // composite POINT LOOKUP: a conjunction of equalities over the
    // sketch's key set (any order) dispatches to the one named group
    val rf = engine.query(
      "SELECT sum(l_quantity) AS sm, count(*) AS nr, " +
        "count(DISTINCT l_orderkey) AS nd " +
        "FROM lineitem WHERE l_linestatus = 'F' AND l_returnflag = 'A'")
    assert(rf.transformations.exists(_.contains("group-pruned")),
      rf.transformations)
    val frow = rf.df.collect().head
    val fex = spark.sql(
      "SELECT cast(sum(cast(l_quantity as decimal(18,4))) as double), " +
        "count(*), count(DISTINCT l_orderkey) FROM lineitem " +
        "WHERE l_linestatus = 'F' AND l_returnflag = 'A'").collect().head
    assert(frow.getDouble(0) == fex.getDouble(0))
    assert(frow.getLong(1) == fex.getLong(1))
    assert(math.abs(frow.getLong(2) - fex.getLong(2).toDouble) /
      fex.getLong(2) < 0.1, s"${frow.getLong(2)} vs ${fex.getLong(2)}")
    // literals naming no recorded composite group: the exact empty
    // aggregate
    val rz = engine.query(
      "SELECT count(l_quantity) AS nv, sum(l_quantity) AS sm " +
        "FROM lineitem WHERE l_returnflag = 'Z' AND l_linestatus = 'F'")
    assert(rz.transformations.exists(_.contains("group-pruned")),
      rz.transformations)
    val zrow = rz.df.collect().head
    assert(zrow.getLong(0) == 0L && zrow.isNullAt(1), zrow.toString)
    // a conjunction mixing IN refuses (not a single-group lookup)
    val rm = engine.query(
      "SELECT sum(l_quantity) AS sm FROM lineitem " +
        "WHERE l_returnflag IN ('A', 'R') AND l_linestatus = 'F'")
    assert(!rm.transformations.exists(_.contains("group-pruned")),
      rm.transformations)
  }

  test("type-mismatched filter literals refuse catalog serves (typedLitKey)") {
    // double group column: WHERE l_quantity = 5 renders "5" but the
    // blob keys "5.0" — serving would return the exact-empty-group
    // answer for a group that has rows; the dispatch must refuse
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "lineitem", "l_quantity", "l_extendedprice", 64)
    val r = engine.query(
      "SELECT min(l_extendedprice) AS mn, count(*) AS nr " +
        "FROM lineitem WHERE l_quantity = 5")
    assert(!r.transformations.exists(_.contains("group-pruned")),
      r.transformations)
    // integral literal against a string group column refuses too
    // ("05"-style keys would miss); the sketches exist from earlier
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    val r2 = engine.query(
      "SELECT min(o_totalprice) AS mn, count(*) AS nr " +
        "FROM orders WHERE o_orderstatus = 5")
    assert(!r2.transformations.exists(_.contains("group-pruned")),
      r2.transformations)
    // Count-Min point frequency refuses a double-typed filter column
    graft.sketch.SketchOps.createCms(spark, catalog, "events", "value")
    val r3 = engine.query("SELECT count(*) AS n FROM events WHERE value = 5")
    assert(!r3.transformations.exists(_.contains("Count-Min")),
      r3.transformations)
  }

  test("stats serve refuses when doubles cannot represent the column exactly (sx gate)") {
    import spark.implicits._
    // (1<<60)+1 does not round-trip through a double: the build records
    // sx=false and the 'no scan, exact' stats serve falls through
    Seq(1L << 60, (1L << 60) + 1, 5L).toDF("big")
      .createOrReplaceTempView("bigvals")
    graft.sketch.SketchOps.createHistogram(spark, catalog, "bigvals", "big", 64)
    val s = catalog.getSketch("bigvals", "big", "histogram").get
    assert(s.parameters.contains(""""sx":false"""), s.parameters)
    val r = engine.query(
      "SELECT min(big) AS mn, max(big) AS mx, sum(big) AS sm FROM bigvals")
    assert(!r.transformations.exists(_.contains("build statistics")),
      r.transformations)
    // the histogram itself (approximate by contract) still serves
    val rp = engine.query("SELECT percentile(big, 0.5) AS p50 FROM bigvals")
    assert(rp.transformations.exists(_.contains("histogram")),
      rp.transformations)
    // COUNT is an exact long whatever the column type: it serves from
    // the same sketch even under sx=false
    val rc = engine.query("SELECT count(big) AS nv FROM bigvals")
    assert(rc.transformations.exists(_.contains("build statistics")),
      rc.transformations)
    assert(rc.df.collect().head.getLong(0) == 3L)
  }

  test("grouped serves refuse sums whose double rendering loses precision") {
    import spark.implicits._
    // group a's sum = 2^54+2: its decimal(·,4) unscaled integer exceeds
    // the double mantissa, so SUM/AVG refuse (scan path) while COUNT
    // still serves exactly
    Seq(("a", 1L << 54), ("a", 1L), ("b", 2L)).toDF("g", "v")
      .createOrReplaceTempView("bigsums")
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "bigsums", "g", "v", 16)
    val rs = engine.query("SELECT g, sum(v) AS s FROM bigsums GROUP BY g")
    assert(!rs.transformations.exists(_.contains("build statistics")),
      rs.transformations)
    val rc = engine.query("SELECT g, count(v) AS c FROM bigsums GROUP BY g")
    assert(rc.transformations.exists(_.contains("build statistics")),
      rc.transformations)
    // the filtered dispatch applies the same check per named group
    val rf = engine.query("SELECT sum(v) AS s FROM bigsums WHERE g = 'a'")
    assert(!rf.transformations.exists(_.contains("group-pruned")),
      rf.transformations)
    val rf2 = engine.query("SELECT sum(v) AS s FROM bigsums WHERE g = 'b'")
    assert(rf2.transformations.exists(_.contains("group-pruned")),
      rf2.transformations)
    assert(rf2.df.collect().head.getDouble(0) == 2.0)
  }

  test("all-NULL groups serve with NULL percentile from the grouped histogram") {
    import spark.implicits._
    Seq(("a", Some(1.0)), ("a", Some(3.0)), ("b", Option.empty[Double]))
      .toDF("g", "v").createOrReplaceTempView("gnull")
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "gnull", "g", "v", 64)
    // the served GROUP BY row set matches exact execution: group b is
    // present with a NULL percentile, not silently dropped
    val r = engine.query("SELECT g, percentile(v, 0.5) AS p50 FROM gnull GROUP BY g")
    assert(r.transformations.exists(_.contains("grouped")), r.transformations)
    val rows = r.df.collect().map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(rows.keySet == Set("a", "b"), rows.toString)
    assert(rows("a").isDefined && rows("b").isEmpty, rows.toString)
    // the filtered single-group dispatch serves the all-NULL group too
    val rf = engine.query(
      "SELECT percentile(v, 0.5) AS p50, count(v) AS c FROM gnull WHERE g = 'b'")
    assert(rf.transformations.exists(_.contains("group-pruned")),
      rf.transformations)
    val row = rf.df.collect().head
    assert(row.isNullAt(0) && row.getLong(1) == 0L, row.toString)
  }

  test("sketch advisor: repeated scan-path shapes become build recommendations; builds retire them") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-advise").toString)
    val eng = new QueryEngine(spark, cat)
    val pctSql = "SELECT percentile(o_totalprice, 0.5) AS p50 " +
      "FROM orders WHERE o_orderstatus = 'F'"
    val hllSql = "SELECT count(DISTINCT o_custkey) AS nd FROM orders"
    val cmsSql = "SELECT count(*) AS n FROM orders WHERE o_orderpriority = '1-URGENT'"
    (1 to 3).foreach { _ =>
      eng.query(pctSql); eng.query(hllSql); eng.query(cmsSql)
    }
    val advice = eng.adviseSketches(minMisses = 3)
    def has(tpe: String, col: String, g: Option[String]): Boolean =
      advice.exists(a => a.candidate.sketchType == tpe &&
        a.candidate.column == col && a.candidate.groupBy == g)
    assert(has("histogram_grouped", "o_totalprice", Some("o_orderstatus")),
      advice)
    assert(has("hll", "o_custkey", None), advice)
    assert(has("cms", "o_orderpriority", None), advice)
    assert(advice.forall(_.misses == 3), advice)
    assert(eng.adviseSketches(minMisses = 4).isEmpty)

    // running the recommended builds retires the advice AND flips the
    // shapes to the no-scan serve
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, cat, "orders", "o_orderstatus", "o_totalprice", 64)
    graft.sketch.SketchOps.createHll(spark, cat, "orders", "o_custkey")
    val after = eng.adviseSketches(minMisses = 3)
    assert(!after.exists(a => a.candidate.sketchType == "histogram_grouped"),
      after)
    assert(!after.exists(a => a.candidate.sketchType == "hll"), after)
    assert(after.exists(_.candidate.sketchType == "cms"), after) // not built
    assert(eng.query(pctSql).planType == "sketch")
    assert(eng.query(hllSql).planType == "sketch")

    // composite GROUP BY misses advise composite grouped sketches, and
    // a build in ANY column order retires them (set-equality coverage)
    val cSql = "SELECT o_orderstatus, o_orderpriority, " +
      "percentile(o_totalprice, 0.5) AS p50 " +
      "FROM orders GROUP BY o_orderstatus, o_orderpriority"
    (1 to 3).foreach(_ => eng.query(cSql))
    def hasComposite = eng.adviseSketches().exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.groupBy.contains("o_orderstatus,o_orderpriority"))
    assert(hasComposite, eng.adviseSketches().toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat, "orders",
      Seq("o_orderpriority", "o_orderstatus"), "o_totalprice", 64)
    assert(!hasComposite, eng.adviseSketches().toString)
    assert(eng.query(cSql).planType == "sketch",
      eng.query(cSql).reason)
  }

  test("advisor recommends AGMS pairs for repeated exact joins; builds flip the decision") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-advise-join").toString)
    val eng = new QueryEngine(spark, cat)
    val sql = "SELECT count(*) AS n " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    (1 to 3).foreach { _ =>
      val r = eng.query(sql, eng.Options(maxRelError = 0.1))
      assert(r.planType == "exact", s"${r.planType}: ${r.reason}")
    }
    val advice = eng.adviseSketches()
    def agmsFor(t: String, c: String) = advice.find(a =>
      a.candidate.table == t && a.candidate.column == c &&
        a.candidate.sketchType == "agms")
    assert(agmsFor("lineitem", "l_orderkey").isDefined, advice.toString)
    assert(agmsFor("orders", "o_orderkey").isDefined, advice.toString)
    assert(agmsFor("lineitem", "l_orderkey").get.build.contains("createAgms"))
    // running the recommended builds retires the advice...
    graft.sketch.SketchOps.createAgms(spark, cat, "orders", "o_orderkey")
    graft.sketch.SketchOps.createAgms(spark, cat, "lineitem", "l_orderkey")
    assert(!eng.adviseSketches().exists(_.candidate.sketchType == "agms"),
      eng.adviseSketches().toString)
    // ...and the same query flips to the automatic costed join AQP
    val r = eng.query(sql, eng.Options(maxRelError = 0.1))
    assert(r.strategy == "sample_join" && r.reason.contains("AGMS"),
      s"${r.strategy}: ${r.reason}")
    // a SERVED join is not a miss: the advice stays retired
    assert(!eng.adviseSketches().exists(_.candidate.sketchType == "agms"))
  }

  test("measureExact closes the learning loop") {
    val before = engine.history.all.size
    val r = engine.query("SELECT count(*) AS n FROM lineitem",
      engine.Options(measureExact = true))
    assert(r.executionTimeMs.isDefined && r.actualSpeedup.isDefined)
    assert(engine.history.all.size == before + 1)
    val rec = engine.history.all.last
    assert(rec.strategy == r.strategy)
    assert(rec.actualError < 0.3)
  }

  test("measureExact records realized per-group error for sampled GROUP BY results") {
    // l_discount: no grouped blob over it exists in the shared
    // catalog, so the query stays on the SAMPLING path this test
    // measures (l_quantity would now serve as the exact marginal of
    // the (l_returnflag, l_linestatus) composite blob)
    val sql = "SELECT l_returnflag, count(*) AS n, sum(l_discount) AS s " +
      "FROM lineitem GROUP BY l_returnflag"
    val before = engine.history.all.size
    val r = engine.query(sql, engine.Options(measureExact = true))
    assert(r.planType == "sample", s"${r.planType}: ${r.reason}")
    assert(engine.history.all.size == before + 1)
    val rec = engine.history.all.last
    // the old behavior recorded 0.0 for every multi-row result,
    // systematically flattering sampling on grouped workloads
    assert(rec.actualError > 0.0,
      s"sampled GROUP BY must record a measured non-zero error, got ${rec.actualError}")
    assert(rec.actualError < 0.5, rec.actualError.toString)

    // the history adjustment consumes the measured error: a strategy
    // whose records show tolerance-violating error is vetoed even at a
    // flattering speedup (with the old 0.0-error records it would win)
    import graft.plan.StrategyChooser
    val feats = graft.plan.QueryFeatures.extract(
      spark.sessionState.sqlParser.parsePlan(sql), sql)
    val hist =
      Seq.fill(5)(rec.copy(strategy = "sketch", actualError = 0.5,
        actualSpeedup = 10.0)) ++
      Seq.fill(5)(rec.copy(strategy = "exact", actualError = 0.0,
        actualSpeedup = 1.0))
    val c = StrategyChooser.choose(feats, 60000L, 0.05, hist)
    assert(c.strategy == StrategyChooser.Exact, c.toString)
  }

  test("planner-only mode (useMl=false) follows the cost model") {
    // with the 0.25 sample registered earlier, the cost model picks it
    val r = engine.query("SELECT count(*) AS n FROM lineitem",
      engine.Options(useMl = false))
    assert(r.planType == "sample", s"${r.planType}: ${r.reason}")
    assert(r.sampleTable.exists(_.startsWith("lineitem__sample")))
    // a table with no registered sample runs exact under the cost model
    val r2 = engine.query("SELECT count(*) AS n FROM part",
      engine.Options(useMl = false))
    assert(r2.planType == "exact", s"${r2.planType}: ${r2.reason}")
  }

  test("multi-table queries run exact (reference parity)") {
    val r = engine.query(
      "SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey")
    assert(r.planType == "exact")
    val n = r.df.collect().head.getLong(0)
    assert(n > 0)
  }

  test("opt-in join AQP samples the fact side and HT-scales (beyond reference)") {
    val sql = "SELECT count(*) AS n FROM orders o " +
      "JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    val r = engine.query(sql,
      engine.Options(approximateJoins = true, maxRelError = 0.1))
    assert(r.strategy == "sample_join", s"${r.strategy}: ${r.reason}")
    assert(r.sampleFraction.exists(f => f > 0 && f < 1), r.sampleFraction)
    val est = r.df.collect().head.getAs[Any]("n")
      .asInstanceOf[Number].doubleValue()
    val truth = spark.sql(sql.replace(" AS n", ""))
      .collect().head.getLong(0).toDouble
    assert(math.abs(est - truth) / truth < 0.3, s"est=$est truth=$truth")
    // distinct aggregates refuse join sampling (HT cannot correct them)
    val r2 = engine.query(
      "SELECT count(DISTINCT l_partkey) AS nd FROM orders o " +
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
      engine.Options(approximateJoins = true))
    assert(r2.planType == "exact", s"${r2.planType}: ${r2.reason}")
  }

  test("join AQP refuses CTEs, unresolvable names, and fact self-joins (falls back to exact, no throw)") {
    // CTE: the WITH name parses as a relation; resolving it as a table
    // throws AnalysisException — the engine must fall back, not throw
    val r = engine.query(
      "WITH x AS (SELECT o_orderkey FROM orders) " +
        "SELECT count(*) AS n FROM x JOIN lineitem ON x.o_orderkey = l_orderkey",
      engine.Options(approximateJoins = true, maxRelError = 0.1))
    assert(r.planType == "exact", s"${r.planType}: ${r.reason}")
    assert(r.df.collect().head.getLong(0) > 0)
    // self-join of the fact table: both scans would be substituted at
    // fraction f under one 1/f weight — must refuse
    val r2 = engine.query(
      "SELECT count(*) AS n FROM lineitem a " +
        "JOIN lineitem b ON a.l_orderkey = b.l_orderkey",
      engine.Options(approximateJoins = true, maxRelError = 0.1))
    assert(r2.planType == "exact", s"${r2.planType}: ${r2.reason}")
  }

  test("AGMS join-size sketches make join AQP an automatic costed decision") {
    val sql = "SELECT count(*) AS n " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    // no sketches: default multi-table behavior stays reference-parity
    // exact (no opt-in flag set)
    val r0 = engine.query(sql, engine.Options(maxRelError = 0.1))
    assert(r0.planType == "exact", s"${r0.planType}: ${r0.reason}")

    graft.sketch.SketchOps.createAgms(spark, catalog, "orders", "o_orderkey")
    graft.sketch.SketchOps.createAgms(spark, catalog, "lineitem", "l_orderkey")

    // accept: estimated join size is large and the achievable fraction
    // meets the tolerance -> join AQP chosen with NO flag
    val r = engine.query(sql, engine.Options(maxRelError = 0.1))
    assert(r.strategy == "sample_join", s"${r.strategy}: ${r.reason}")
    assert(r.reason.contains("AGMS"), r.reason)
    val est = r.df.collect().head.getAs[Any]("n")
      .asInstanceOf[Number].doubleValue()
    val truth = spark.sql(sql.replace(" AS n", "")).collect().head.getLong(0).toDouble
    assert(math.abs(est - truth) / truth < 0.3, s"est=$est truth=$truth")

    // refuse: a tolerance the achievable fraction cannot meet
    val r2 = engine.query(sql, engine.Options(maxRelError = 0.01))
    assert(r2.planType == "exact", s"${r2.planType}: ${r2.reason}")

    // switching the auto decision off keeps reference-parity exact even
    // with fresh AGMS evidence — sketches built purely for cardinality
    // estimation don't change query semantics
    val rOff = engine.query(sql,
      engine.Options(maxRelError = 0.1, autoCostedJoins = false))
    assert(rOff.planType == "exact", s"${rOff.planType}: ${rOff.reason}")

    // refuse: estimated join output too small to be worth approximating
    graft.sketch.SketchOps.createAgms(spark, catalog, "nation", "n_regionkey")
    graft.sketch.SketchOps.createAgms(spark, catalog, "region", "r_regionkey")
    val r3 = engine.query(
      "SELECT count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey",
      engine.Options(maxRelError = 0.1))
    assert(r3.planType == "exact", s"${r3.planType}: ${r3.reason}")

    // refuse: stale sketch (base table changed size since the build)
    val n = spark.table("lineitem").count()
    catalog.upsertTableStats("lineitem", n + 1000)
    val r4 = engine.query(sql, engine.Options(maxRelError = 0.1))
    assert(r4.planType == "exact", s"${r4.planType}: ${r4.reason}")
    catalog.upsertTableStats("lineitem", n)

    // the explicit opt-in path (q77 contract) is unchanged by the
    // auto gate: it needs no sketches and models error on the fact size
    val r5 = engine.query(sql,
      engine.Options(approximateJoins = true, maxRelError = 0.1))
    assert(r5.strategy == "sample_join" && !r5.reason.contains("AGMS"),
      s"${r5.strategy}: ${r5.reason}")
  }

  test("composite-key and star joins participate in the automatic costed decision") {
    // composite equi-key: single-column AGMS evidence (created by the
    // previous test) does NOT cover ON k1 = k1 AND k2 = k2 — the
    // lookup is by the comma-joined composite key name
    val sqlC = "SELECT count(*) AS n FROM orders JOIN lineitem " +
      "ON o_orderkey = l_orderkey AND o_orderstatus = l_linestatus"
    val r0 = engine.query(sqlC, engine.Options(maxRelError = 0.1))
    assert(r0.planType == "exact", s"${r0.planType}: ${r0.reason}")
    graft.sketch.SketchOps.createAgms(spark, catalog, "lineitem",
      Seq("l_linestatus", "l_orderkey"), 1024)
    graft.sketch.SketchOps.createAgms(spark, catalog, "orders",
      Seq("o_orderstatus", "o_orderkey"), 1024)
    val r = engine.query(sqlC, engine.Options(maxRelError = 0.1))
    assert(r.strategy == "sample_join" && r.reason.contains("AGMS"),
      s"${r.strategy}: ${r.reason}")
    val est = r.df.collect().head.getAs[Any]("n")
      .asInstanceOf[Number].doubleValue()
    val truth = spark.sql(sqlC.replace(" AS n", ""))
      .collect().head.getLong(0).toDouble
    assert(math.abs(est - truth) / truth < 0.4, s"est=$est truth=$truth")
    // the ON-clause conjunct order is normalized away: the reversed
    // condition finds the same sketches
    val rRev = engine.query(
      "SELECT count(*) AS n FROM orders JOIN lineitem " +
        "ON o_orderstatus = l_linestatus AND o_orderkey = l_orderkey",
      engine.Options(maxRelError = 0.1))
    assert(rRev.strategy == "sample_join" && rRev.reason.contains("AGMS"),
      s"${rRev.strategy}: ${rRev.reason}")

    // star: fact + two dims, each on its own key — the estimated
    // output composes the pairwise AGMS estimates under independence
    // (J = |F| * prod(Ji/|F|)); the fact is sampled, BOTH dims stay
    // exact
    graft.sketch.SketchOps.createAgms(spark, catalog, "lineitem", "l_partkey")
    graft.sketch.SketchOps.createAgms(spark, catalog, "part", "p_partkey")
    val sqlS = "SELECT count(*) AS n FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN part ON l_partkey = p_partkey"
    val rs = engine.query(sqlS, engine.Options(maxRelError = 0.1))
    assert(rs.strategy == "sample_join" && rs.reason.contains("AGMS"),
      s"${rs.strategy}: ${rs.reason}")
    val estS = rs.df.collect().head.getAs[Any]("n")
      .asInstanceOf[Number].doubleValue()
    val truthS = spark.sql(sqlS.replace(" AS n", ""))
      .collect().head.getLong(0).toDouble
    assert(math.abs(estS - truthS) / truthS < 0.4, s"est=$estS truth=$truthS")

    // a dim-dim chain edge WITHOUT AGMS evidence refuses: the
    // orders⋈customer edge has no sketches, so the tree estimate is
    // incomplete and the decision stays reference-parity exact
    val chainSql = "SELECT count(*) AS n FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey"
    val rc = engine.query(chainSql, engine.Options(maxRelError = 0.1))
    assert(rc.planType == "exact", s"${rc.planType}: ${rc.reason}")

    // snowflake: AGMS on the chain edge completes the oriented-tree
    // composition (J = |L| · J_LO/|L| · J_OC/|O|) — the fact is
    // sampled, the WHOLE chain stays exact
    graft.sketch.SketchOps.createAgms(spark, catalog, "orders", "o_custkey")
    graft.sketch.SketchOps.createAgms(spark, catalog, "customer", "c_custkey")
    val rSnow = engine.query(chainSql, engine.Options(maxRelError = 0.1))
    assert(rSnow.strategy == "sample_join" && rSnow.reason.contains("AGMS"),
      s"${rSnow.strategy}: ${rSnow.reason}")
    val estC = rSnow.df.collect().head.getAs[Any]("n")
      .asInstanceOf[Number].doubleValue()
    val truthC = spark.sql(chainSql.replace(" AS n", ""))
      .collect().head.getLong(0).toDouble
    assert(math.abs(estC - truthC) / truthC < 0.4,
      s"est=$estC truth=$truthC")
  }

  test("universe (both-side) join sampling is chosen when both tables are big") {
    val sql = "SELECT count(*) AS n " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    val nO = spark.table("orders").count()
    val nL = spark.table("lineitem").count()
    // both sides over the engine's UniverseMinRows threshold -> the
    // fact-side plan would still scan a 2M-row dim; universe sampling
    // shrinks BOTH scans
    catalog.upsertTableStats("orders", 2000000L)
    catalog.upsertTableStats("lineitem", 8000000L)
    try {
      val r = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r.strategy == "sample_universe", s"${r.strategy}: ${r.reason}")
      assert(r.sampleFraction.contains(0.01), r.sampleFraction.toString)
      // plan shape: BOTH relations carry the keyed-hash lottery filter
      val lotteries = r.df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.sql.contains("graft_h60") => f
      }
      assert(lotteries.size == 2, r.df.queryExecution.optimizedPlan.toString)
      // deterministic membership, single 1/p scale: estimate is a
      // multiple of 100 and lands in the right ballpark of the truth
      val est = r.df.collect().head.getAs[Any]("n")
        .asInstanceOf[Number].doubleValue()
      val truth = spark.sql(sql.replace(" AS n", ""))
        .collect().head.getLong(0).toDouble
      assert(est % 100.0 == 0.0, est.toString)
      assert(est > 0.2 * truth && est < 5 * truth, s"est=$est truth=$truth")

      // a materialized universe-sample pair (same fraction) is preferred
      // over the inline lottery — the per-query hash over both scans
      // disappears; membership is identical so the estimate is EXACTLY
      // the inline plan's
      Samplers.createUniverse(spark, catalog, "orders", "o_orderkey", 0.01)
      Samplers.createUniverse(spark, catalog, "lineitem", "l_orderkey", 0.01)
      catalog.upsertTableStats("orders", 2000000L)
      catalog.upsertTableStats("lineitem", 8000000L)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
      val rm = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(rm.strategy == "sample_universe" &&
        rm.reason.contains("materialized universe"), rm.reason)
      assert(rm.sampleTable.exists(_.contains("__uni_")), rm.sampleTable.toString)
      val estM = rm.df.collect().head.getAs[Any]("n")
        .asInstanceOf[Number].doubleValue()
      assert(estM == est, s"materialized=$estM inline=$est")

      // one big + one small table -> fact-side sampling, not universe
      catalog.upsertTableStats("orders", nO)
      val r2 = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r2.strategy == "sample_join", s"${r2.strategy}: ${r2.reason}")
    } finally {
      catalog.upsertTableStats("orders", nO)
      catalog.upsertTableStats("lineitem", nL)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
    }
  }

  test("COUNT(DISTINCT join-key) scales by 1/p under the universe lottery; other distincts refuse") {
    val nO = spark.table("orders").count()
    val nL = spark.table("lineitem").count()
    catalog.upsertTableStats("orders", 2000000L)
    catalog.upsertTableStats("lineitem", 8000000L)
    try {
      val sql = "SELECT count(DISTINCT l_orderkey) AS nd " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
      val r = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r.strategy == "sample_universe", s"${r.strategy}: ${r.reason}")
      val est = r.df.collect().head.getDouble(0)
      // deterministic membership: EXACTLY the lottery-filtered distinct
      // count times the 1/p weight (100.0)
      val expected = spark.sql(
        "SELECT cast(count(DISTINCT l_orderkey) as double) * 100.0 " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "WHERE graft_h60('uv:' || cast(o_orderkey as string)) % 10000 < 100")
        .collect().head.getDouble(0)
      assert(est == expected, s"est=$est expected=$expected")
      // partner-side key spelling serves too (equal values in the join)
      val rp = engine.query(
        "SELECT count(DISTINCT o_orderkey) AS nd, count(*) AS n " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(rp.strategy == "sample_universe", s"${rp.strategy}: ${rp.reason}")
      assert(rp.df.collect().head.getDouble(0) == expected)
      // a NON-key distinct refuses the whole join AQP attempt
      val r2 = engine.query(
        "SELECT count(DISTINCT l_partkey) AS nd " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r2.planType == "exact", s"${r2.strategy}: ${r2.reason}")
      // one big + one small: fact-side row sampling must refuse the
      // key distinct too (rows of one key sample independently)
      catalog.upsertTableStats("orders", nO)
      val r3 = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r3.planType == "exact", s"${r3.strategy}: ${r3.reason}")
    } finally {
      catalog.upsertTableStats("orders", nO)
      catalog.upsertTableStats("lineitem", nL)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
    }
  }

  test("universe sampling handles composite equi-keys (tuple lottery on both sides)") {
    val sql = "SELECT count(*) AS n FROM orders JOIN lineitem " +
      "ON o_orderkey = l_orderkey AND o_orderstatus = l_linestatus"
    val nO = spark.table("orders").count()
    val nL = spark.table("lineitem").count()
    catalog.upsertTableStats("orders", 2000000L)
    catalog.upsertTableStats("lineitem", 8000000L)
    try {
      val r = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r.strategy == "sample_universe", s"${r.strategy}: ${r.reason}")
      // BOTH scans carry the tuple lottery (one hash over the
      // separator-joined components per side)
      val lotteries = r.df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.sql.contains("graft_h60") => f
      }
      assert(lotteries.size == 2, r.df.queryExecution.optimizedPlan.toString)
      val est = r.df.collect().head.getAs[Any]("n")
        .asInstanceOf[Number].doubleValue()
      val truth = spark.sql(sql.replace(" AS n", ""))
        .collect().head.getLong(0).toDouble
      assert(est % 100.0 == 0.0, est.toString)
      assert(est > 0.1 * truth && est < 10 * truth, s"est=$est truth=$truth")

      // a materialized composite pair serves the IDENTICAL estimate
      // canonical order: fact (lineitem) keys sorted, dim aligned
      Samplers.createUniverse(spark, catalog, "lineitem",
        Seq("l_linestatus", "l_orderkey"), 0.01)
      Samplers.createUniverse(spark, catalog, "orders",
        Seq("o_orderstatus", "o_orderkey"), 0.01)
      catalog.upsertTableStats("orders", 2000000L)
      catalog.upsertTableStats("lineitem", 8000000L)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
      val rm = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(rm.strategy == "sample_universe" &&
        rm.reason.contains("materialized universe"), rm.reason)
      val estM = rm.df.collect().head.getAs[Any]("n")
        .asInstanceOf[Number].doubleValue()
      assert(estM == est, s"materialized=$estM inline=$est")
    } finally {
      catalog.upsertTableStats("orders", nO)
      catalog.upsertTableStats("lineitem", nL)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
    }
  }

  test("universe sampling generalizes to the two-big + dims star: lottery on both big scans, dim exact") {
    val sql = "SELECT p_brand, count(*) AS n FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN part ON l_partkey = p_partkey GROUP BY p_brand"
    val nO = spark.table("orders").count()
    val nL = spark.table("lineitem").count()
    // lineitem and orders big; part stays a real (small) dim. The
    // forced stats also stale any materialized universe pair earlier
    // tests built, so this exercises the INLINE star route.
    catalog.upsertTableStats("orders", 2000000L)
    catalog.upsertTableStats("lineitem", 8000000L)
    try {
      val r = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r.strategy == "sample_universe", s"${r.strategy}: ${r.reason}")
      assert(r.reason.contains("small dims joined exact"), r.reason)
      assert(r.sampleFraction.contains(0.01), r.sampleFraction.toString)
      // plan shape: the lottery sits on the TWO big scans and never on
      // the dim — part joins exact at full fidelity
      val lotteries = r.df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.sql.contains("graft_h60") => f
      }
      assert(lotteries.size == 2, r.df.queryExecution.optimizedPlan.toString)
      assert(!lotteries.exists(_.condition.sql.toLowerCase.contains("p_partkey")),
        lotteries.map(_.condition.sql).mkString("; "))
      // unbiased-ish totals under the single 1/p scale
      val est = r.df.collect()
        .map(_.getAs[Any]("n").asInstanceOf[Number].doubleValue()).sum
      val truth = spark.sql(
        "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN part ON l_partkey = p_partkey").collect().head.getLong(0).toDouble
      assert(est % 100.0 == 0.0, est.toString)
      assert(est > 0.2 * truth && est < 5 * truth, s"est=$est truth=$truth")

      // THREE big tables: no single partner — refuse universe, fall
      // back to fact-side sampling (dims exact)
      val nP = spark.table("part").count()
      catalog.upsertTableStats("part", 3000000L)
      val r3 = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r3.strategy == "sample_join", s"${r3.strategy}: ${r3.reason}")
      catalog.upsertTableStats("part", nP)
    } finally {
      catalog.upsertTableStats("orders", nO)
      catalog.upsertTableStats("lineitem", nL)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
    }
  }

  test("advisor recommends a materialized universe pair for repeated inline two-big joins; building it flips the route") {
    val sql = "SELECT sum(l_quantity) AS s " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    val nO = spark.table("orders").count()
    val nL = spark.table("lineitem").count()
    // two-big regime; earlier tests' universe samples go stale under
    // the forced stats, so the engine runs the INLINE lottery route
    catalog.upsertTableStats("orders", 2000000L)
    catalog.upsertTableStats("lineitem", 8000000L)
    try {
      (1 to 3).foreach { _ =>
        val r = engine.query(sql,
          engine.Options(approximateJoins = true, maxRelError = 0.1))
        assert(r.strategy == "sample_universe" && r.sampleTable.isEmpty,
          s"${r.strategy} ${r.sampleTable}: ${r.reason}")
      }
      // the repeated per-query lottery hash surfaces the pair build
      val uni = engine.adviseSketches(minMisses = 3)
        .filter(_.candidate.sketchType == "universe")
      assert(uni.map(_.candidate.table).toSet == Set("orders", "lineitem"),
        uni.toString)
      assert(uni.forall(a => a.candidate.column.nonEmpty &&
        a.build.contains("createUniverse")), uni.toString)
      // building the recommended pair retires the advice...
      Samplers.createUniverse(spark, catalog, "orders", "o_orderkey", 0.01)
      Samplers.createUniverse(spark, catalog, "lineitem", "l_orderkey", 0.01)
      catalog.upsertTableStats("orders", 2000000L)
      catalog.upsertTableStats("lineitem", 8000000L)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
      assert(!engine.adviseSketches(minMisses = 3)
        .exists(_.candidate.sketchType == "universe"))
      // ...and the same query now serves from the materialized pair
      val rm = engine.query(sql,
        engine.Options(approximateJoins = true, maxRelError = 0.1))
      assert(rm.strategy == "sample_universe" &&
        rm.reason.contains("materialized universe") &&
        rm.sampleTable.exists(_.contains("__uni_")),
        s"${rm.strategy} ${rm.sampleTable}: ${rm.reason}")
    } finally {
      catalog.upsertTableStats("orders", nO)
      catalog.upsertTableStats("lineitem", nL)
      catalog.refreshSampleBase("orders")
      catalog.refreshSampleBase("lineitem")
    }
  }

  test("distinct-key joins advise the universe pair; non-key distinct shapes advise nothing") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-unidist").toString)
    val eng = new QueryEngine(spark, cat)
    cat.upsertTableStats("orders", 2000000L)
    cat.upsertTableStats("lineitem", 8000000L)
    // a NON-key distinct has no build that would ever flip it — the
    // advisor must stay silent rather than emit dead recipes
    (1 to 3).foreach { _ =>
      val r = eng.query(
        "SELECT count(DISTINCT l_partkey) AS nd " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        eng.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r.planType == "exact", r.reason)
    }
    assert(!eng.adviseSketches(minMisses = 1).exists(a =>
      a.candidate.sketchType == "universe" ||
        a.candidate.sketchType == "agms"),
      eng.adviseSketches(minMisses = 1).toString)
    // the KEY-distinct shape serves inline and surfaces the pair build
    val sql = "SELECT count(DISTINCT l_orderkey) AS nd " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    (1 to 3).foreach { _ =>
      val r = eng.query(sql,
        eng.Options(approximateJoins = true, maxRelError = 0.1))
      assert(r.strategy == "sample_universe" && r.sampleTable.isEmpty,
        s"${r.strategy} ${r.sampleTable}: ${r.reason}")
    }
    val uni = eng.adviseSketches(minMisses = 3)
      .filter(_.candidate.sketchType == "universe")
    assert(uni.map(_.candidate.table).toSet == Set("orders", "lineitem"),
      uni.toString)
    // building the pair retires the advice and the query serves from it
    Samplers.createUniverse(spark, cat, "orders", "o_orderkey", 0.01)
    Samplers.createUniverse(spark, cat, "lineitem", "l_orderkey", 0.01)
    cat.upsertTableStats("orders", 2000000L)
    cat.upsertTableStats("lineitem", 8000000L)
    cat.refreshSampleBase("orders")
    cat.refreshSampleBase("lineitem")
    assert(!eng.adviseSketches(minMisses = 3)
      .exists(_.candidate.sketchType == "universe"))
    val rm = eng.query(sql,
      eng.Options(approximateJoins = true, maxRelError = 0.1))
    assert(rm.strategy == "sample_universe" &&
      rm.reason.contains("materialized universe"), rm.reason)
  }

  test("stored histogram sketch answers percentile queries with no scan") {
    val h = graft.sketch.SketchOps.createHistogram(
      spark, catalog, "orders", "o_totalprice", 64)
    val r = engine.query(
      "SELECT percentile(o_totalprice, 0.5) AS p50, " +
        "percentile(o_totalprice, 0.9) AS p90, " +
        "median(o_totalprice) AS med FROM orders")
    assert(r.planType == "sketch", r.reason)
    assert(r.reason.contains("histogram"), r.reason)
    val row = r.df.collect().head
    val ex = spark.sql(
      "SELECT percentile(o_totalprice, 0.5), percentile(o_totalprice, 0.9) FROM orders")
      .collect().head
    // interpolation brackets the true order statistic: within one
    // bucket width (+ one for boundary interpolation slack)
    assert(math.abs(row.getDouble(0) - ex.getDouble(0)) <= 2 * h.width,
      s"p50 est=${row.getDouble(0)} exact=${ex.getDouble(0)} width=${h.width}")
    assert(math.abs(row.getDouble(1) - ex.getDouble(1)) <= 2 * h.width)
    assert(row.getDouble(2) == row.getDouble(0)) // median == p50
    // a column without a stored histogram falls through to exact
    val r2 = engine.query(
      "SELECT percentile(o_custkey, 0.5) AS p FROM orders")
    assert(r2.planType == "exact")
  }

  test("stale sketches are not served after the base table changes size") {
    graft.sketch.SketchOps.createHistogram(
      spark, catalog, "orders", "o_totalprice", 64)
    graft.sketch.SketchOps.createHll(spark, catalog, "lineitem", "l_suppkey")
    val nOrders = spark.table("orders").count()
    val nLineitem = spark.table("lineitem").count()
    // simulate an appended table: the profile refresh records a new
    // rowcount that no longer matches the sketches' creation rowcount
    catalog.upsertTableStats("orders", nOrders + 1000)
    catalog.upsertTableStats("lineitem", nLineitem + 1000)
    val r = engine.query(
      "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders")
    assert(r.planType == "exact", s"${r.planType}: ${r.reason}")
    val r2 = engine.query(
      "SELECT count(DISTINCT l_suppkey) AS nd FROM lineitem")
    assert(!r2.transformations.exists(_.contains("stored HyperLogLog")),
      r2.transformations)
    // restored stats serve from the catalog again
    catalog.upsertTableStats("orders", nOrders)
    catalog.upsertTableStats("lineitem", nLineitem)
    val r3 = engine.query(
      "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders")
    assert(r3.planType == "sketch", s"${r3.planType}: ${r3.reason}")
  }

  test("stale materialized samples are not served after the base table changes size") {
    // 0.5 on ~1.5k-row orders: sqrt(1/(0.5*N)) fits the default budget,
    // so the cost model picks the materialized sample when it is fresh
    Samplers.createUniform(spark, catalog, "orders", 0.5)
    val r = engine.query("SELECT count(*) AS n FROM orders")
    assert(r.sampleTable.contains("orders__sample_0_5"),
      s"${r.planType}/${r.sampleTable}: ${r.reason}")
    // simulate an appended table: the profile refresh records a new
    // rowcount; the sample was built from the OLD table and must stop
    // serving (fall through to inline sampling / exact)
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", n + 500)
    val r2 = engine.query("SELECT count(*) AS n FROM orders")
    assert(!r2.sampleTable.exists(_.startsWith("orders__sample")),
      s"${r2.planType}/${r2.sampleTable}: ${r2.reason}")
    // restored stats match the creation-time base again -> serves
    catalog.upsertTableStats("orders", n)
    val r3 = engine.query("SELECT count(*) AS n FROM orders")
    assert(r3.sampleTable.contains("orders__sample_0_5"),
      s"${r3.planType}/${r3.sampleTable}: ${r3.reason}")
  }

  test("stored Count-Min sketch answers point-frequency queries with no scan") {
    import org.apache.spark.sql.functions.expr
    spark.range(0, 5000).select(expr("concat('k', id % 7)").as("k"))
      .createOrReplaceTempView("cms_t")
    val truth = spark.sql("SELECT count(*) FROM cms_t WHERE k = 'k3'")
      .collect().head.getLong(0)
    val truthInList = spark.sql(
      "SELECT count(*) FROM cms_t WHERE k IN ('k3', 'k0')")
      .collect().head.getLong(0)
    graft.sketch.SketchOps.createCms(spark, catalog, "cms_t", "k")
    catalog.upsertTableStats("cms_t", 5000L)
    // replace the backing view with an EMPTY one: a correct answer can
    // only have come from the catalog (proves the no-scan path)
    spark.range(0).select(expr("cast(null as string)").as("k"))
      .createOrReplaceTempView("cms_t")
    val r = engine.query("SELECT count(*) AS n FROM cms_t WHERE k = 'k3'")
    assert(r.planType == "sketch" && r.reason.contains("Count-Min"),
      s"${r.planType}: ${r.reason}")
    val est = r.df.collect().head.getLong(0)
    // CMS law: overestimate-only, within eps*N additive
    assert(est >= truth, s"est=$est truth=$truth")
    assert(est <= truth + (0.01 * 5000).toLong + 1, s"est=$est truth=$truth")

    // an all-literal IN-list serves the SUM of per-key estimates
    // (overestimate-only survives addition), under a |list|*eps budget
    val truthIn = truthInList
    val rIn = engine.query(
      "SELECT count(*) AS n FROM cms_t WHERE k IN ('k3', 'k0', 'k3')")
    assert(rIn.planType == "sketch" && rIn.reason.contains("Count-Min"),
      s"${rIn.planType}: ${rIn.reason}")
    val estIn = rIn.df.collect().head.getLong(0)
    assert(estIn >= truthIn, s"est=$estIn truth=$truthIn")
    assert(estIn <= truthIn + 2 * ((0.01 * 5000).toLong + 1),
      s"est=$estIn truth=$truthIn")
    assert(rIn.estimatedError == 2 * 0.01, rIn.estimatedError.toString)

    // an IN-list whose widened |list|*eps bound misses the budget
    // falls through (3 distinct keys * 0.01 > 0.025)
    val rInWide = engine.query(
      "SELECT count(*) AS n FROM cms_t WHERE k IN ('k1', 'k2', 'k4')",
      engine.Options(maxRelError = 0.025))
    assert(!rInWide.reason.contains("Count-Min"), rInWide.reason)

    // a tighter error budget than eps falls through to the scan path
    val rb = engine.query("SELECT count(*) AS n FROM cms_t WHERE k = 'k3'",
      engine.Options(maxRelError = 0.005))
    assert(!rb.reason.contains("Count-Min"), rb.reason)

    // stale CMS (table stats no longer match creation rowcount) falls
    // through via the freshness guard
    catalog.upsertTableStats("cms_t", 6000L)
    val r2 = engine.query("SELECT count(*) AS n FROM cms_t WHERE k = 'k3'")
    assert(!r2.reason.contains("Count-Min"), s"${r2.planType}: ${r2.reason}")
    catalog.upsertTableStats("cms_t", 5000L)

    // a filter on a column with no stored CMS falls through
    spark.range(0, 100)
      .select(expr("concat('k', id % 7)").as("k"), expr("id % 3").as("v"))
      .createOrReplaceTempView("cms_u")
    val r3 = engine.query("SELECT count(*) AS n FROM cms_u WHERE v = 1")
    assert(!r3.reason.contains("Count-Min"), r3.reason)
  }

  test("stored histogram honors the caller's error budget") {
    graft.sketch.SketchOps.createHistogram(
      spark, catalog, "orders", "o_totalprice", 64)
    // one bucket width = 1/64 ~ 0.0156 > 0.01 -> scan path, like the
    // sample strategy refusing a fraction that misses the tolerance
    val r = engine.query(
      "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders",
      engine.Options(maxRelError = 0.01))
    assert(r.planType == "exact", s"${r.planType}: ${r.reason}")
  }

  test("stored histogram build statistics answer MIN/MAX/COUNT/SUM/AVG with no scan") {
    graft.sketch.SketchOps.createHistogram(
      spark, catalog, "orders", "o_totalprice", 64)
    // exact values computed BEFORE serving, with the same portable
    // decimal-sum recipe the builder records
    val ex = spark.sql(
      "SELECT cast(min(o_totalprice) as double), cast(max(o_totalprice) as double), " +
        "count(o_totalprice), count(*), " +
        "cast(sum(cast(o_totalprice as decimal(18,4))) as double) FROM orders")
      .collect().head
    val sql = "SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx, " +
      "count(o_totalprice) AS nv, count(*) AS nr, sum(o_totalprice) AS sm, " +
      "avg(o_totalprice) AS av FROM orders"
    val r = engine.query(sql)
    assert(r.planType == "sketch", s"${r.planType}: ${r.reason}")
    assert(r.transformations.exists(_.contains("build statistics")),
      r.transformations)
    assert(r.estimatedError == 0.0)
    val row = r.df.collect().head
    assert(row.getDouble(0) == ex.getDouble(0)) // min exact
    assert(row.getDouble(1) == ex.getDouble(1)) // max exact
    assert(row.getLong(2) == ex.getLong(2))     // count(col) exact
    assert(row.getLong(3) == ex.getLong(3))     // count(*) exact
    assert(row.getDouble(4) == ex.getDouble(4)) // decimal-portable sum
    assert(row.getDouble(5) == ex.getDouble(4) / ex.getLong(2).toDouble)

    // a lone COUNT(*) does NOT serve from stats: bare table counts keep
    // their sampling semantics (and the bench window)
    val rc = engine.query("SELECT count(*) AS n FROM orders")
    assert(!rc.transformations.exists(_.contains("build statistics")),
      rc.transformations)

    // a column without a stats-bearing histogram falls through
    val r2 = engine.query(
      "SELECT min(o_custkey) AS m FROM orders")
    assert(r2.planType == "exact", s"${r2.planType}: ${r2.reason}")

    // stale stats are not served after the base table changes size
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", n + 1000)
    val r3 = engine.query(sql)
    assert(!r3.transformations.exists(_.contains("build statistics")),
      r3.transformations)
    catalog.upsertTableStats("orders", n)
  }

  test("createHistogram tolerates NULLs and refuses empty/bad input") {
    import org.apache.spark.sql.functions.expr
    spark.range(0, 100)
      .select(expr(
        "case when id % 10 = 0 then cast(null as double) else cast(id as double) end")
        .as("x"))
      .createOrReplaceTempView("hist_nulls_t")
    val h = graft.sketch.SketchOps.createHistogram(
      spark, catalog, "hist_nulls_t", "x", 8)
    assert(h.counts.sum == 90, h.counts.toSeq) // NULLs dropped, no NPE
    spark.range(0, 10).select(expr("cast(null as double)").as("x"))
      .createOrReplaceTempView("hist_empty_t")
    intercept[IllegalArgumentException] {
      graft.sketch.SketchOps.createHistogram(
        spark, catalog, "hist_empty_t", "x", 8)
    }
    intercept[IllegalArgumentException] {
      graft.sketch.SketchOps.createHistogram(
        spark, catalog, "hist_nulls_t", "x", 0)
    }
  }

  test("skew loop: profiled hot key makes an exact GROUP BY plan salted, result unchanged") {
    import org.apache.spark.sql.functions.{col, expr}
    // 90% of rows share one key -> topSharePpm ~ 900000 >> threshold
    spark.range(0, 20000)
      .select(expr("case when id % 10 < 9 then 'hot' else concat('k', id % 97) end").as("k"),
        (col("id") % 1000).as("v"))
      .createOrReplaceTempView("skewed_t")
    val skew = engine.profileKeySkew("skewed_t", "k")
    assert(skew.topSharePpm >= graft.plan.SaltRewrite.SkewPpmThreshold,
      s"profile: $skew")

    val sql = "SELECT k, count(*) AS n, sum(v) AS s, avg(v) AS a, " +
      "min(v) AS mn, max(v) AS mx FROM skewed_t GROUP BY k ORDER BY k"
    val r = engine.query(sql, engine.Options(preferExact = true))
    assert(r.planType == "exact")
    assert(r.reason.contains("salted"), r.reason)
    // plan assert: two chained hash aggregates on (k, salt) then (k)
    val aggs = r.df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.length == 2, r.df.queryExecution.optimizedPlan.toString)
    assert(aggs.last.groupingExpressions.length == 2) // (k, salt)
    assert(aggs.head.groupingExpressions.length == 1) // (k)

    // result identity vs the plain plan (v is integral: exact merge)
    val salted = r.df.collect().map(_.toSeq).toSeq
    val plain = spark.sql(sql).collect().map(_.toSeq).toSeq
    assert(salted == plain)

    // an unprofiled column on the same table stays unsalted
    val r2 = engine.query(
      "SELECT v, count(*) AS n FROM skewed_t GROUP BY v",
      engine.Options(preferExact = true))
    assert(!r2.reason.contains("salted"))

    // COUNT(DISTINCT) under the hot key re-plans as dedup-then-count
    // (the skew shape map-side combine cannot fix)
    val rd = engine.query(
      "SELECT k, count(DISTINCT v) AS nd FROM skewed_t GROUP BY k ORDER BY k",
      engine.Options(preferExact = true))
    assert(rd.reason.contains("salted"), rd.reason)
    val dAggs = rd.df.queryExecution.optimizedPlan.collect {
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ag
    }
    assert(dAggs.length == 2, rd.df.queryExecution.optimizedPlan.toString)
    assert(dAggs.last.groupingExpressions.length == 2) // (k, v) dedup
    val dSalted = rd.df.collect().map(_.toSeq).toSeq
    val dPlain = spark.sql(
      "SELECT k, count(DISTINCT v) AS nd FROM skewed_t GROUP BY k ORDER BY k")
      .collect().map(_.toSeq).toSeq
    assert(dSalted == dPlain)
  }

  test("skew loop: expression grouping keys and mixed distinct+plain aggregates re-plan") {
    import org.apache.spark.sql.functions.{col, expr}
    spark.range(0, 20000)
      .select(expr("case when id % 10 < 9 then 'hot' else concat('k', id % 97) end").as("k"),
        (col("id") % 1000).as("v"), (col("id") % 50).as("u"))
      .createOrReplaceTempView("skewed_e_t")
    // profile the EXPRESSION itself (e.g. a date_trunc bucket in
    // practice); the catalog key is the normalized SQL
    val skew = engine.profileKeySkew("skewed_e_t", "upper(k)")
    assert(skew.topSharePpm >= graft.plan.SaltRewrite.SkewPpmThreshold, skew)

    val sql = "SELECT upper(k) AS uk, count(*) AS n, sum(v) AS s, " +
      "min(v) AS mn FROM skewed_e_t GROUP BY upper(k) ORDER BY uk"
    val r = engine.query(sql, engine.Options(preferExact = true))
    assert(r.reason.contains("salted"), r.reason)
    val aggs = r.df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.length == 2, r.df.queryExecution.optimizedPlan.toString)
    assert(aggs.last.groupingExpressions.length == 2) // (upper(k), salt)
    assert(aggs.head.groupingExpressions.length == 1) // (alias of upper(k))
    assert(r.df.collect().map(_.toSeq).toSeq ==
      spark.sql(sql).collect().map(_.toSeq).toSeq)

    // mixed COUNT(DISTINCT u) + plain aggregates under a hot plain key:
    // keyed dedup two-stage with partials computed before the dedup
    engine.profileKeySkew("skewed_e_t", "k")
    val sqlMixed = "SELECT k, count(DISTINCT u) AS nd, count(*) AS n, " +
      "sum(v) AS s, avg(v) AS a FROM skewed_e_t GROUP BY k ORDER BY k"
    val rm = engine.query(sqlMixed, engine.Options(preferExact = true))
    assert(rm.reason.contains("salted"), rm.reason)
    val mAggs = rm.df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(mAggs.length == 2, rm.df.queryExecution.optimizedPlan.toString)
    assert(mAggs.last.groupingExpressions.length == 2) // (k, u) dedup
    assert(rm.df.collect().map(_.toSeq).toSeq ==
      spark.sql(sqlMixed).collect().map(_.toSeq).toSeq)
  }

  test("ordinary spark.sql on the same session is untouched by the rule") {
    val n = spark.sql("SELECT count(*) AS n FROM lineitem")
      .collect().head.getLong(0)
    assert(n == spark.table("lineitem").count())
  }

  test("explain contract: a servable query reports the planner's serve candidate; staleness flips it to sample/exact") {
    graft.sketch.SketchOps.createHistogram(
      spark, catalog, "lineitem", "l_quantity", 64)
    val sql = "SELECT sum(l_quantity) AS s, avg(l_quantity) AS a FROM lineitem"
    val r = engine.query(sql)
    // the serve is named BY THE PLANNER's candidate enumeration: kind,
    // CatalogServeCost, a finite cost-model speedup — no ∞ constants
    assert(r.servedFromCatalog && r.serveKind.contains("stats"),
      s"${r.serveKind}: ${r.reason}")
    assert(r.estimatedCost.contains(graft.plan.Planner.CatalogServeCost),
      r.estimatedCost)
    assert(r.reason.contains("catalog serve (stats)"), r.reason)
    assert(r.estimatedSpeedup > 1.0 && !r.estimatedSpeedup.isInfinite,
      r.estimatedSpeedup.toString)
    // staleness retires the serve: the SAME query now plans sample/exact
    // with no serve kind and no serve cost
    val n = spark.table("lineitem").count()
    catalog.upsertTableStats("lineitem", n + 1000)
    val r2 = engine.query(sql)
    assert(!r2.servedFromCatalog && r2.serveKind.isEmpty,
      s"${r2.serveKind}: ${r2.reason}")
    assert(r2.planType == "sample" || r2.planType == "exact", r2.planType)
    assert(!r2.estimatedCost.contains(graft.plan.Planner.CatalogServeCost))
    catalog.upsertTableStats("lineitem", n)
  }

  test("partial-key dispatch: WHERE a = lit GROUP BY b serves stats and HLLs from the composite a,b blob by exact collapse") {
    graft.sketch.SketchOps.createGroupedHistogram(spark, catalog,
      "orders", Seq("o_orderstatus", "o_orderpriority"), "o_totalprice", 64)
    graft.sketch.SketchOps.createGroupedHll(spark, catalog,
      "orders", Seq("o_orderstatus", "o_orderpriority"), "o_custkey", 12)

    // equality residual: prune on o_orderstatus, group by o_orderpriority
    val sql = "SELECT o_orderpriority, min(o_totalprice) AS mn, " +
      "max(o_totalprice) AS mx, sum(o_totalprice) AS sm, " +
      "avg(o_totalprice) AS av, count(o_totalprice) AS nv, count(*) AS nr " +
      "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"
    val r = engine.query(sql)
    assert(r.servedFromCatalog && r.serveKind.contains("grouped_stats"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect().map(x => x.getString(0) -> x).toMap
    val ex = spark.sql(
      "SELECT o_orderpriority, cast(min(o_totalprice) as double), " +
        "cast(max(o_totalprice) as double), " +
        "cast(sum(cast(o_totalprice as decimal(18,4))) as double), " +
        "count(o_totalprice), count(*) FROM orders " +
        "WHERE o_orderstatus = 'F' GROUP BY o_orderpriority")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(served.keySet == ex.keySet, s"${served.keySet} vs ${ex.keySet}")
    served.foreach { case (k, row) =>
      val e = ex(k)
      assert(row.getDouble(1) == e.getDouble(1), s"$k min")
      assert(row.getDouble(2) == e.getDouble(2), s"$k max")
      assert(row.getDouble(3) == e.getDouble(3), s"$k sum")
      assert(row.getDouble(4) == e.getDouble(3) / e.getLong(4).toDouble, s"$k avg")
      assert(row.getLong(5) == e.getLong(4), s"$k count(col)")
      assert(row.getLong(6) == e.getLong(5), s"$k count(*)")
    }

    // IN-list residual merges the collapsed records exactly
    val rIn = engine.query(
      "SELECT o_orderpriority, sum(o_totalprice) AS sm, count(*) AS nr " +
        "FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY o_orderpriority")
    assert(rIn.servedFromCatalog, rIn.reason)
    val inServed = rIn.df.collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getLong(2))).toMap
    val inEx = spark.sql(
      "SELECT o_orderpriority, cast(sum(cast(o_totalprice as decimal(18,4))) as double), " +
        "count(*) FROM orders WHERE o_orderstatus IN ('F', 'O') " +
        "GROUP BY o_orderpriority").collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getLong(2))).toMap
    assert(inServed == inEx, s"$inServed vs $inEx")

    // COUNT(DISTINCT) collapses by register-max HLL union
    val rD = engine.query(
      "SELECT o_orderpriority, count(DISTINCT o_custkey) AS nd FROM orders " +
        "WHERE o_orderstatus = 'F' GROUP BY o_orderpriority")
    assert(rD.servedFromCatalog && rD.serveKind.contains("grouped_hll"),
      s"${rD.serveKind}: ${rD.reason}")
    val dServed = rD.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val dEx = spark.sql(
      "SELECT o_orderpriority, count(DISTINCT o_custkey) FROM orders " +
        "WHERE o_orderstatus = 'F' GROUP BY o_orderpriority").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(dServed.keySet == dEx.keySet)
    dEx.foreach { case (k, t) =>
      assert(math.abs(dServed(k) - t.toDouble) / t < 3 * (1.04 / math.sqrt(4096)),
        s"group $k: est=${dServed(k)} truth=$t")
    }

    // a single-equality residual keeps exactly ONE composite entry per
    // output group — no merge happens, so percentiles serve even from
    // per-group grids: each answer is the (F, priority) group's own
    // histogram, within one bucket width of its own grid
    val rP = engine.query(
      "SELECT o_orderpriority, percentile(o_totalprice, 0.5) AS p50 " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority")
    assert(rP.servedFromCatalog && rP.serveKind.contains("grouped_histogram"),
      s"${rP.serveKind}: ${rP.reason}")
    val pServed = rP.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val pEx = spark.sql(
      "SELECT o_orderpriority, percentile(o_totalprice, 0.5), " +
        "cast(max(o_totalprice) as double) - cast(min(o_totalprice) as double) " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority")
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2)))
      .toMap
    assert(pServed.keySet == pEx.keySet)
    pEx.foreach { case (k, (ex, range)) =>
      assert(math.abs(pServed(k) - ex) <= range / 64 + 1e-9,
        s"group $k: est=${pServed(k)} exact=$ex width=${range / 64}")
    }

    // an IN-list residual needs a REAL merge of 2+ histograms —
    // per-group grids differ, so the percentile collapse refuses and
    // the query falls through to the scan path
    val rPIn = engine.query(
      "SELECT o_orderpriority, percentile(o_totalprice, 0.5) AS p50 " +
        "FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY o_orderpriority")
    assert(!rPIn.servedFromCatalog, rPIn.reason)

    // a filter column the blob does not carry refuses (set mismatch)
    val rX = engine.query(
      "SELECT o_orderpriority, sum(o_totalprice) AS sm, count(o_totalprice) AS nv " +
        "FROM orders WHERE o_custkey = 7 GROUP BY o_orderpriority")
    assert(!rX.servedFromCatalog, rX.reason)

    // staleness retires the partial serve like every other serve
    val n = spark.table("orders").count()
    catalog.upsertTableStats("orders", n + 1000)
    val rS = engine.query(sql)
    assert(!rS.servedFromCatalog, rS.reason)
    catalog.upsertTableStats("orders", n)
  }

  test("shared-grid grouped histograms merge: IN-list and partial-key percentiles serve") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-sg").toString)
    val eng = new QueryEngine(spark, cat)

    // single-key shared grid: a global-aggregate IN-list percentile
    // merges the named groups' bucket counts (the shape per-group
    // grids refuse — asserted in the IN-list dispatch spec above)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64, sharedGrid = true)
    val rIn = eng.query(
      "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders " +
        "WHERE o_orderstatus IN ('F', 'P')")
    assert(rIn.servedFromCatalog && rIn.serveKind.contains("filtered_group"),
      s"${rIn.serveKind}: ${rIn.reason}")
    val est = rIn.df.collect().head.getDouble(0)
    // law 1: the serve equals the hand merge of the named groups'
    // histograms (identical grids by construction)
    val blob = cat.getSketch("orders", "o_totalprice", "histogram_grouped").get
    val byKey = graft.sketch.GroupedHll.unpack(blob.data).toMap
    val hand = graft.sketch.Histogram.deserialize(byKey(Some("F")))
      .merge(graft.sketch.Histogram.deserialize(byKey(Some("P"))))
    assert(est == hand.percentile(0.5), s"$est vs ${hand.percentile(0.5)}")
    // law 2: within one (global) bucket width of the exact percentile
    val Array(loHi) = spark.sql(
      "SELECT cast(min(o_totalprice) as double) AS lo, " +
        "cast(max(o_totalprice) as double) AS hi FROM orders").collect()
    val w = (loHi.getDouble(1) - loHi.getDouble(0)) / 64
    val exP = spark.sql(
      "SELECT percentile(o_totalprice, 0.5) FROM orders " +
        "WHERE o_orderstatus IN ('F', 'P')").collect().head.getDouble(0)
    assert(math.abs(est - exP) <= w + 1e-9, s"est=$est exact=$exP width=$w")

    // composite shared grid: partial-key residual dispatch collapses
    // the filtered dimension by adding bucket counts — the percentile
    // shape the per-group-grid blob refuses (asserted above)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64,
      sharedGrid = true)
    val rPk = eng.query(
      "SELECT l_linestatus, percentile(l_quantity, 0.5) AS p50 " +
        "FROM lineitem WHERE l_returnflag IN ('A', 'N') " +
        "GROUP BY l_linestatus")
    assert(rPk.servedFromCatalog &&
      rPk.serveKind.contains("grouped_histogram"),
      s"${rPk.serveKind}: ${rPk.reason}")
    val served = rPk.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val exPk = spark.sql(
      "SELECT l_linestatus, percentile(l_quantity, 0.5) FROM lineitem " +
        "WHERE l_returnflag IN ('A', 'N') GROUP BY l_linestatus").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(served.keySet == exPk.keySet, s"${served.keySet} vs ${exPk.keySet}")
    val Array(qLoHi) = spark.sql(
      "SELECT cast(min(l_quantity) as double) AS lo, " +
        "cast(max(l_quantity) as double) AS hi FROM lineitem").collect()
    val qw = (qLoHi.getDouble(1) - qLoHi.getDouble(0)) / 64
    exPk.foreach { case (k, ex) =>
      assert(math.abs(served(k) - ex) <= qw + 1e-9,
        s"group $k: est=${served(k)} exact=$ex width=$qw")
    }

    // all-NULL groups are merge identities: the merged percentile over
    // {values, all-NULL} equals the values-only percentile
    import spark.implicits._
    Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", Some(9.0)),
        ("b", Option.empty[Double]))
      .toDF("g", "v").createOrReplaceTempView("sgnull")
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "sgnull", Seq("g"), "v", 64, sharedGrid = true)
    val rN = eng.query(
      "SELECT percentile(v, 0.5) AS p50 FROM sgnull WHERE g IN ('a', 'b')")
    assert(rN.servedFromCatalog, rN.reason)
    val rA = eng.query(
      "SELECT percentile(v, 0.5) AS p50 FROM sgnull WHERE g = 'a'")
    assert(rN.df.collect().head.getDouble(0) ==
      rA.df.collect().head.getDouble(0))
  }

  test("DISTINCT / keys-only GROUP BY serves the recorded group set with zero scan") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-distinct").toString)
    val eng = new QueryEngine(spark, cat)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    val exact = spark.sql("SELECT DISTINCT o_orderstatus FROM orders")
      .collect().map(_.getString(0)).toSet

    // keys-only GROUP BY
    val r = eng.query("SELECT o_orderstatus FROM orders GROUP BY o_orderstatus")
    assert(r.servedFromCatalog && r.serveKind.contains("distinct_keys"),
      s"${r.serveKind}: ${r.reason}")
    assert(r.df.collect().map(_.getString(0)).toSet == exact)

    // SELECT DISTINCT parses to a Distinct node — same serve
    val rd = eng.query("SELECT DISTINCT o_orderstatus FROM orders")
    assert(rd.servedFromCatalog && rd.serveKind.contains("distinct_keys"),
      s"${rd.serveKind}: ${rd.reason}")
    assert(rd.df.collect().map(_.getString(0)).toSet == exact)

    // ORDER BY / LIMIT replay composes: top-2 keys, zero scan
    val rt = eng.query("SELECT o_orderstatus FROM orders " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus LIMIT 2")
    assert(rt.servedFromCatalog, rt.reason)
    assert(rt.df.collect().map(_.getString(0)).toSeq ==
      exact.toSeq.sorted.take(2))

    // key filter prunes to the named keys
    val rf = eng.query("SELECT o_orderstatus FROM orders " +
      "WHERE o_orderstatus IN ('F', 'ZZ') GROUP BY o_orderstatus")
    assert(rf.servedFromCatalog, rf.reason)
    assert(rf.df.collect().map(_.getString(0)).toSeq == Seq("F"))

    // composite keys + partial-key residual
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64)
    val cEx = spark.sql(
      "SELECT DISTINCT l_linestatus, l_returnflag FROM lineitem")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    val rc = eng.query("SELECT l_linestatus, l_returnflag FROM lineitem " +
      "GROUP BY l_linestatus, l_returnflag")
    assert(rc.servedFromCatalog, rc.reason)
    assert(rc.df.collect().map(x => (x.getString(0), x.getString(1))).toSet
      == cEx)
    val rp = eng.query("SELECT l_linestatus FROM lineitem " +
      "WHERE l_returnflag = 'A' GROUP BY l_linestatus")
    assert(rp.servedFromCatalog, rp.reason)
    assert(rp.df.collect().map(_.getString(0)).toSet ==
      spark.sql("SELECT DISTINCT l_linestatus FROM lineitem " +
        "WHERE l_returnflag = 'A'").collect().map(_.getString(0)).toSet)

    // a numeric key column refuses (served keys are string renderings)
    val rn = eng.query("SELECT o_custkey FROM orders GROUP BY o_custkey")
    assert(!rn.servedFromCatalog, rn.reason)

    // staleness retires the serve
    val n = spark.table("orders").count()
    cat.upsertTableStats("orders", n + 1000)
    val rs = eng.query("SELECT o_orderstatus FROM orders GROUP BY o_orderstatus")
    assert(!rs.servedFromCatalog, rs.reason)
    cat.upsertTableStats("orders", n)
  }

  test("percentile merge misses advise SHARED-GRID builds; only the shared build retires them") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-advise-sg").toString)
    val eng = new QueryEngine(spark, cat)
    // IN-list global percentile (needs a histogram merge) and
    // partial-key percentile (residual collapse) — both unservable
    // without a shared-grid blob
    val inSql = "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders " +
      "WHERE o_orderstatus IN ('F', 'P')"
    val pkSql = "SELECT l_linestatus, percentile(l_quantity, 0.5) AS p50 " +
      "FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY l_linestatus"
    (1 to 3).foreach { _ => eng.query(inSql); eng.query(pkSql) }
    val advice = eng.adviseSketches()
    def shared(g: String) = advice.find(a =>
      a.candidate.sketchType == "histogram_grouped_shared" &&
        a.candidate.groupBy.exists(_.toLowerCase.split(",").map(_.trim).toSet ==
          g.toLowerCase.split(",").map(_.trim).toSet))
    assert(shared("o_orderstatus").isDefined, advice.toString)
    assert(shared("l_linestatus,l_returnflag").isDefined, advice.toString)
    assert(shared("o_orderstatus").get.build.contains("sharedGrid = true"))

    // a per-group-grid build of the same shape does NOT retire the
    // advice (it cannot serve the merge)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    assert(eng.adviseSketches().exists(a =>
      a.candidate.sketchType == "histogram_grouped_shared" &&
        a.candidate.groupBy.contains("o_orderstatus")),
      eng.adviseSketches().toString)

    // the SHARED builds retire both and flip the queries to the serve
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64, sharedGrid = true)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64,
      sharedGrid = true)
    assert(!eng.adviseSketches().exists(
      _.candidate.sketchType == "histogram_grouped_shared"),
      eng.adviseSketches().toString)
    assert(eng.query(inSql).servedFromCatalog)
    assert(eng.query(pkSql).servedFromCatalog)
  }

  test("natural-order composite artifacts are found by permutation-tolerant pair lookup") {
    // both sides built in the caller's NATURAL ON-clause order — not
    // the canonical (alphabetically-first table's sorted keys) order a
    // curious HTTP caller would have to know; the engine's pair lookup
    // derives the partner order from the stored fact order instead of
    // silently falling back to exact
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-natorder").toString)
    val eng2 = new QueryEngine(spark, cat2)
    graft.sketch.SketchOps.createAgms(spark, cat2, "lineitem",
      Seq("l_orderkey", "l_linestatus"), 1024)
    graft.sketch.SketchOps.createAgms(spark, cat2, "orders",
      Seq("o_orderkey", "o_orderstatus"), 1024)
    val sql = "SELECT count(*) AS n FROM orders JOIN lineitem " +
      "ON o_orderkey = l_orderkey AND o_orderstatus = l_linestatus"
    val r = eng2.query(sql, eng2.Options(maxRelError = 0.1))
    assert(r.strategy == "sample_join" && r.reason.contains("AGMS"),
      s"${r.strategy}: ${r.reason}")
    // a natural-order universe pair serves the materialized route too
    Samplers.createUniverse(spark, cat2, "orders",
      Seq("o_orderkey", "o_orderstatus"), 0.01)
    Samplers.createUniverse(spark, cat2, "lineitem",
      Seq("l_orderkey", "l_linestatus"), 0.01)
    cat2.upsertTableStats("orders", 2000000L)
    cat2.upsertTableStats("lineitem", 8000000L)
    cat2.refreshSampleBase("orders")
    cat2.refreshSampleBase("lineitem")
    val rm = eng2.query(sql,
      eng2.Options(approximateJoins = true, maxRelError = 0.1))
    assert(rm.strategy == "sample_universe" &&
      rm.reason.contains("materialized universe"),
      s"${rm.strategy}: ${rm.reason}")
  }

  test("NULL literals in IN-lists are dropped from catalog serves, not refused") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    val rNull = engine.query(
      "SELECT sum(o_totalprice) AS sm, count(*) AS nr FROM orders " +
        "WHERE o_orderstatus IN ('F', NULL)")
    assert(rNull.servedFromCatalog, rNull.reason)
    val rF = engine.query(
      "SELECT sum(o_totalprice) AS sm, count(*) AS nr FROM orders " +
        "WHERE o_orderstatus IN ('F')")
    assert(rF.servedFromCatalog, rF.reason)
    // NULL can never match a row (three-valued IN): same answer as the
    // NULL-free list
    assert(rNull.df.collect().toSeq.map(_.toSeq) ==
      rF.df.collect().toSeq.map(_.toSeq))
    // an all-NULL list serves the exact empty-match aggregate
    val rAll = engine.query(
      "SELECT count(o_totalprice) AS nv, count(*) AS nr FROM orders " +
        "WHERE o_orderstatus IN (NULL)")
    assert(rAll.servedFromCatalog, rAll.reason)
    val row = rAll.df.collect().head
    assert(row.getLong(0) == 0L && row.getLong(1) == 0L)
  }

  test("a stored HLL whose error bound exceeds a tight budget is not a valid candidate: the adaptive HLL++ rewrite runs instead") {
    graft.sketch.SketchOps.createHll(spark, catalog, "lineitem", "l_partkey")
    val sql = "SELECT count(DISTINCT l_partkey) AS nd FROM lineitem"
    val served = engine.query(sql) // default budget 0.05 > 0.01625
    assert(served.servedFromCatalog && served.serveKind.contains("hll"),
      s"${served.serveKind}: ${served.reason}")
    // 1.04/sqrt(4096) ~ 0.01625 > 0.01: the stored sketch cannot honor
    // the budget; the scan rewrite (rsd adapts to the budget) runs
    val tight = engine.query(sql, engine.Options(maxRelError = 0.01))
    assert(!tight.servedFromCatalog && tight.serveKind.isEmpty,
      s"${tight.serveKind}: ${tight.reason}")
    assert(tight.transformations.exists(_.contains("HyperLogLog++")),
      tight.transformations)
  }

  test("ORDER BY aggregate DESC LIMIT k serves top-k from the grouped stats blob with zero scan") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    val sql = "SELECT o_orderstatus, count(o_totalprice) AS cnt, " +
      "avg(o_totalprice) AS av FROM orders GROUP BY o_orderstatus " +
      "ORDER BY cnt DESC, o_orderstatus LIMIT 2"
    val r = engine.query(sql)
    assert(r.servedFromCatalog && r.serveKind.contains("grouped_stats"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect()
    val truth = spark.sql(
      "SELECT o_orderstatus, count(o_totalprice) AS cnt, " +
        "cast(sum(cast(o_totalprice as decimal(18,4))) as double) / " +
        "count(o_totalprice) AS av FROM orders GROUP BY o_orderstatus " +
        "ORDER BY cnt DESC, o_orderstatus LIMIT 2").collect()
    assert(served.length == 2)
    served.zip(truth).foreach { case (s, t) =>
      assert(s.getString(0) == t.getString(0), s"key order: $s vs $t")
      assert(s.getLong(1) == t.getLong(1), s"cnt: $s vs $t")
      assert(s.getDouble(2) == t.getDouble(2), s"avg: $s vs $t")
    }
    // ordinal sort key: ORDER BY 2 names the count output
    val rOrd = engine.query(
      "SELECT o_orderstatus, count(o_totalprice) AS cnt FROM orders " +
        "GROUP BY o_orderstatus ORDER BY 2 DESC, o_orderstatus LIMIT 1")
    assert(rOrd.servedFromCatalog, rOrd.reason)
    assert(rOrd.df.collect().head.getString(0) == truth.head.getString(0))
    // the aggregate expression itself as the sort key (no alias ref)
    val rFn = engine.query(
      "SELECT o_orderstatus, count(o_totalprice) AS cnt FROM orders " +
        "GROUP BY o_orderstatus ORDER BY count(o_totalprice) DESC, " +
        "o_orderstatus LIMIT 1")
    assert(rFn.servedFromCatalog, rFn.reason)
    assert(rFn.df.collect().head.getString(0) == truth.head.getString(0))
  }

  test("HAVING on aggregate outputs replays over the served rows; group-key HAVING refuses") {
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    // pick a threshold between the 2nd and 1st group counts so HAVING
    // genuinely filters
    val counts = spark.sql(
      "SELECT count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY n DESC")
      .collect().map(_.getLong(0))
    val thr = (counts(0) + counts(1)) / 2
    val r = engine.query(
      s"SELECT o_orderstatus, count(o_totalprice) AS cnt FROM orders " +
        s"GROUP BY o_orderstatus HAVING count(o_totalprice) >= $thr " +
        s"ORDER BY cnt DESC")
    assert(r.servedFromCatalog, r.reason)
    val rows = r.df.collect()
    assert(rows.length == counts.count(_ >= thr), rows.mkString(","))
    assert(rows.forall(_.getLong(1) >= thr))
    // alias reference in HAVING serves identically
    val rAlias = engine.query(
      s"SELECT o_orderstatus, count(o_totalprice) AS cnt FROM orders " +
        s"GROUP BY o_orderstatus HAVING cnt >= $thr ORDER BY cnt DESC")
    assert(rAlias.servedFromCatalog, rAlias.reason)
    assert(rAlias.df.collect().map(_.getString(0)).toSeq ==
      rows.map(_.getString(0)).toSeq)
    // HAVING on the GROUP KEY refuses the peel (that's a WHERE, and the
    // served key is a string rendering): falls through, not served
    val rKey = engine.query(
      "SELECT o_orderstatus, count(o_totalprice) AS cnt FROM orders " +
        "GROUP BY o_orderstatus HAVING o_orderstatus = 'F'")
    assert(!rKey.servedFromCatalog, rKey.reason)
  }

  test("integral group keys serve TYPED and sort numerically; string and aggregate keys sort fine") {
    // o_custkey is an INT column: the serves parse the builder's
    // string rendering back (bijective for integrals), so the served
    // schema matches exact execution and ORDER BY o_custkey LIMIT k
    // keeps NUMERIC winners
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_custkey", "o_totalprice", 64)
    val rNum = engine.query(
      "SELECT o_custkey, sum(o_totalprice) AS s FROM orders " +
        "GROUP BY o_custkey ORDER BY o_custkey LIMIT 5")
    assert(rNum.servedFromCatalog, rNum.reason)
    val numTruth = spark.sql(
      "SELECT o_custkey, cast(sum(cast(o_totalprice as decimal(18,4))) " +
        "as double) AS s FROM orders GROUP BY o_custkey " +
        "ORDER BY o_custkey LIMIT 5").collect()
    assert(rNum.df.collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
      == numTruth.map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq)
    // same blob, sort on the AGGREGATE output alone: serves (per-key
    // double sums are distinct in this data, so no tie-break needed)
    val rAgg = engine.query(
      "SELECT o_custkey, sum(o_totalprice) AS s FROM orders " +
        "GROUP BY o_custkey ORDER BY s DESC LIMIT 5")
    assert(rAgg.servedFromCatalog, rAgg.reason)
    val truth = spark.sql(
      "SELECT o_custkey, cast(sum(cast(o_totalprice as decimal(18,4))) " +
        "as double) AS s FROM orders GROUP BY o_custkey " +
        "ORDER BY s DESC LIMIT 5").collect()
    // served keys carry the source integral type
    assert(rAgg.df.collect().map(_.getLong(0)).toSet ==
      truth.map(_.getLong(0)).toSet)
    // STRING group key sorts replay exactly
    graft.sketch.SketchOps.createGroupedHistogram(
      spark, catalog, "orders", "o_orderstatus", "o_totalprice", 64)
    val rStr = engine.query(
      "SELECT o_orderstatus, sum(o_totalprice) AS s FROM orders " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus DESC LIMIT 2")
    assert(rStr.servedFromCatalog, rStr.reason)
    assert(rStr.df.collect().map(_.getString(0)).toSeq ==
      spark.sql("SELECT DISTINCT o_orderstatus FROM orders " +
        "ORDER BY o_orderstatus DESC LIMIT 2").collect()
        .map(_.getString(0)).toSeq)
  }

  test("range-predicate COUNT(*) interpolates the stored histogram within the boundary-mass bound") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-range").toString)
    val eng = new QueryEngine(spark, cat)
    graft.sketch.SketchOps.createHistogram(spark, cat, "orders", "o_totalprice")
    val sql = "SELECT count(*) AS n FROM orders " +
      "WHERE o_totalprice >= 50000 AND o_totalprice < 150000"
    val r = eng.query(sql, eng.Options(maxRelError = 0.2))
    assert(r.servedFromCatalog && r.serveKind.contains("histogram_range"),
      s"${r.serveKind}: ${r.reason}")
    val est = r.df.collect().head.getDouble(0)
    val truth = spark.sql("SELECT count(*) FROM orders " +
      "WHERE o_totalprice >= 50000 AND o_totalprice < 150000")
      .collect().head.getLong(0).toDouble
    // law: the truth sits within the reported boundary-mass bound
    assert(math.abs(est - truth) <= r.estimatedError * math.max(1.0, est) + 1e-6,
      s"est=$est truth=$truth err=${r.estimatedError}")

    // one-sided bound serves under the same law
    val r1 = eng.query(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice < 100000",
      eng.Options(maxRelError = 0.2))
    assert(r1.servedFromCatalog && r1.serveKind.contains("histogram_range"),
      r1.reason)
    val e1 = r1.df.collect().head.getDouble(0)
    val t1 = spark.sql(
      "SELECT count(*) FROM orders WHERE o_totalprice < 100000")
      .collect().head.getLong(0).toDouble
    assert(math.abs(e1 - t1) <= r1.estimatedError * math.max(1.0, e1) + 1e-6,
      s"est=$e1 truth=$t1 err=${r1.estimatedError}")

    // a budget tighter than the boundary mass refuses the serve
    val rt = eng.query(sql, eng.Options(maxRelError = 0.001))
    assert(!rt.servedFromCatalog, rt.reason)

    // SUM over the range serves from the histsum blob within the bound
    val rs = eng.query(
      "SELECT sum(o_totalprice) AS s FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice < 150000",
      eng.Options(maxRelError = 0.2))
    assert(rs.servedFromCatalog && rs.serveKind.contains("histogram_range"),
      s"${rs.serveKind}: ${rs.reason}")
    val sEst = rs.df.collect().head.getDouble(0)
    val sTruth = spark.sql(
      "SELECT cast(sum(cast(o_totalprice as decimal(18,4))) as double) " +
        "FROM orders WHERE o_totalprice >= 50000 AND o_totalprice < 150000")
      .collect().head.getDouble(0)
    assert(math.abs(sEst - sTruth) <= rs.estimatedError * math.abs(sEst) + 1e-6,
      s"sum est=$sEst truth=$sTruth err=${rs.estimatedError}")
    // count+sum+avg together: avg is exactly the ratio of the estimates
    val r3 = eng.query(
      "SELECT count(*) AS n, sum(o_totalprice) AS s, " +
        "avg(o_totalprice) AS a FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice < 150000",
      eng.Options(maxRelError = 0.5))
    assert(r3.servedFromCatalog && r3.serveKind.contains("histogram_range"),
      s"${r3.serveKind}: ${r3.reason}")
    val row3 = r3.df.collect().head
    assert(row3.getDouble(2) == row3.getDouble(1) / row3.getDouble(0))
    // SUM over a column OTHER than the range column is not the shape
    val rm = eng.query(
      "SELECT sum(o_custkey) AS s FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice < 150000",
      eng.Options(maxRelError = 0.5))
    assert(!rm.serveKind.contains("histogram_range"), rm.reason)
    // staleness retires the serve
    val n = spark.table("orders").count()
    cat.upsertTableStats("orders", n + 1000)
    assert(!eng.query(sql, eng.Options(maxRelError = 0.2)).servedFromCatalog)
    cat.upsertTableStats("orders", n)
  }

  test("range-count misses advise a histogram; the build retires and flips the query to the serve") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-advise-range").toString)
    val eng = new QueryEngine(spark, cat)
    val sql = "SELECT count(*) AS n FROM orders " +
      "WHERE o_totalprice >= 50000 AND o_totalprice < 150000"
    (1 to 3).foreach { _ =>
      val r = eng.query(sql, eng.Options(maxRelError = 0.2))
      assert(!r.servedFromCatalog, r.reason)
    }
    val advice = eng.adviseSketches()
    assert(advice.exists(a => a.candidate.sketchType == "histogram" &&
      a.candidate.column == "o_totalprice" && a.candidate.groupBy.isEmpty),
      advice.toString)
    graft.sketch.SketchOps.createHistogram(spark, cat, "orders", "o_totalprice")
    assert(!eng.adviseSketches().exists(_.candidate.sketchType == "histogram"),
      eng.adviseSketches().toString)
    val r = eng.query(sql, eng.Options(maxRelError = 0.2))
    assert(r.servedFromCatalog && r.serveKind.contains("histogram_range"),
      s"${r.serveKind}: ${r.reason}")

    // GROUPED range misses advise the grouped histogram over
    // (key -> range column); building it flips the query too
    val gSql = "SELECT o_orderstatus, count(*) AS n FROM orders " +
      "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
      "GROUP BY o_orderstatus"
    (1 to 3).foreach { _ =>
      val rg = eng.query(gSql, eng.Options(maxRelError = 0.5))
      assert(!rg.servedFromCatalog, rg.reason)
    }
    assert(eng.adviseSketches().exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.column == "o_totalprice" &&
        a.candidate.groupBy.contains("o_orderstatus")),
      eng.adviseSketches().toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    assert(!eng.adviseSketches().exists(
      _.candidate.sketchType == "histogram_grouped"),
      eng.adviseSketches().toString)
    val rg = eng.query(gSql, eng.Options(maxRelError = 0.5))
    assert(rg.servedFromCatalog &&
      rg.serveKind.contains("grouped_histogram_range"),
      s"${rg.serveKind}: ${rg.reason}")
  }

  test("COUNT(DISTINCT group columns) serves EXACTLY from the grouped blob's key list") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-dcount").toString)
    val eng = new QueryEngine(spark, cat)
    import spark.implicits._
    Seq((Option("a"), 1.0), (Option("b"), 2.0), (Option("b"), 3.0),
        (Option.empty[String], 4.0))
      .toDF("g", "v").createOrReplaceTempView("dcnt")
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "dcnt", "g", "v", 64)
    val r = eng.query("SELECT count(DISTINCT g) AS nd FROM dcnt")
    assert(r.servedFromCatalog && r.serveKind.contains("distinct_count"),
      s"${r.serveKind}: ${r.reason}")
    // the NULL group is recorded in the blob but COUNT DISTINCT skips it
    assert(r.df.collect().head.getLong(0) == 2L)
    assert(r.estimatedError == 0.0)

    // composite tuples: non-null tuple count, exact vs direct execution
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64)
    val rc = eng.query(
      "SELECT count(DISTINCT l_returnflag, l_linestatus) AS nd FROM lineitem")
    assert(rc.servedFromCatalog && rc.serveKind.contains("distinct_count"),
      s"${rc.serveKind}: ${rc.reason}")
    assert(rc.df.collect().head.getLong(0) ==
      spark.sql("SELECT count(DISTINCT l_returnflag, l_linestatus) " +
        "FROM lineitem").collect().head.getLong(0))

    // a column with NO covering blob falls through
    val rx = eng.query("SELECT count(DISTINCT l_partkey) AS nd FROM lineitem")
    assert(!rx.serveKind.contains("distinct_count"), rx.reason)
    // staleness retires the exact serve
    val n = spark.table("dcnt").count()
    cat.upsertTableStats("dcnt", n + 1000)
    assert(!eng.query("SELECT count(DISTINCT g) AS nd FROM dcnt")
      .servedFromCatalog)
    cat.upsertTableStats("dcnt", n)
  }

  test("grouped range-count serves each recorded group from its own histogram") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-grange").toString)
    val eng = new QueryEngine(spark, cat)
    // per-group grids — no merging happens, each group interpolates
    // independently, so the default build serves this shape
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    val r = eng.query(
      "SELECT o_orderstatus, count(*) AS n FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
        "GROUP BY o_orderstatus",
      eng.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog &&
      r.serveKind.contains("grouped_histogram_range"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val truth = spark.sql(
      "SELECT o_orderstatus, count(*) FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
        "GROUP BY o_orderstatus").collect()
      .map(x => x.getString(0) -> x.getLong(1).toDouble).toMap
    // every group exact execution returns is served (positive mass)
    assert(truth.keySet.subsetOf(served.keySet),
      s"${served.keySet} vs ${truth.keySet}")
    // each served estimate within the reported worst-group bound
    served.foreach { case (g, est) =>
      val t = truth.getOrElse(g, 0.0)
      assert(math.abs(est - t) <= r.estimatedError * math.max(1.0, est) + 1e-6,
        s"group $g: est=$est truth=$t err=${r.estimatedError}")
    }
    // a range on the GROUP column itself is not this shape
    val rk = eng.query(
      "SELECT o_orderstatus, count(*) AS n FROM orders " +
        "WHERE o_orderstatus >= 'F' GROUP BY o_orderstatus",
      eng.Options(maxRelError = 0.5))
    assert(!rk.servedFromCatalog, rk.reason)
  }

  test("grouped range SUM/AVG serves from the histsum rider; a mismatched rider refuses") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-grsum").toString)
    val eng = new QueryEngine(spark, cat)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    val sql = "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s, " +
      "avg(o_totalprice) AS a FROM orders " +
      "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
      "GROUP BY o_orderstatus"
    val r = eng.query(sql, eng.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog &&
      r.serveKind.contains("grouped_histogram_range"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2), x.getDouble(3)))
      .toMap
    val truth = spark.sql(
      "SELECT o_orderstatus, count(*), cast(sum(o_totalprice) as double) " +
        "FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
        "GROUP BY o_orderstatus").collect()
      .map(x => x.getString(0) -> (x.getLong(1).toDouble, x.getDouble(2)))
      .toMap
    assert(truth.keySet.subsetOf(served.keySet))
    served.foreach { case (g, (n, s, a)) =>
      val (tn, ts) = truth.getOrElse(g, (0.0, 0.0))
      assert(math.abs(n - tn) <= r.estimatedError * math.max(1.0, n) + 1e-6)
      assert(math.abs(s - ts) <= r.estimatedError * math.max(1.0, math.abs(s)) + 1e-6,
        s"group $g: sum est=$s truth=$ts err=${r.estimatedError}")
      // AVG is exactly the division of the two served estimates
      assert(a == s / n)
    }
    // a rider whose group set does not match refuses the SUM serve
    // (count-only shapes keep serving from the histogram blob alone)
    val rows = spark.table("orders").count()
    cat.upsertSketch(cat.SketchInfo("orders", "o_totalprice",
      "histsum_grouped", Array.emptyByteArray,
      s"""{"buckets":64,"group_by":"o_orderpriority","groups":0,"rows":$rows}""",
      System.currentTimeMillis()))
    val r2 = eng.query(sql, eng.Options(maxRelError = 0.5))
    assert(!r2.servedFromCatalog, r2.reason)
    val r3 = eng.query(
      "SELECT o_orderstatus, count(*) AS n FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice < 150000 " +
        "GROUP BY o_orderstatus",
      eng.Options(maxRelError = 0.5))
    assert(r3.servedFromCatalog &&
      r3.serveKind.contains("grouped_histogram_range"), r3.reason)
  }

  test("partial-key grouped range: residual equality prunes the composite blob per group") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-pkrange").toString)
    val eng = new QueryEngine(spark, cat)
    // composite per-group-grid build — the residual pins a point, so
    // no merge is needed and per-group grids serve
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64)
    val sql = "SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS s " +
      "FROM lineitem WHERE l_returnflag = 'A' " +
      "AND l_quantity >= 10 AND l_quantity < 40 " +
      "GROUP BY l_linestatus"
    val r = eng.query(sql, eng.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog &&
      r.serveKind.contains("grouped_histogram_range"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    val truth = spark.sql(
      "SELECT l_linestatus, count(*), cast(sum(l_quantity) as double) " +
        "FROM lineitem WHERE l_returnflag = 'A' " +
        "AND l_quantity >= 10 AND l_quantity < 40 " +
        "GROUP BY l_linestatus").collect()
      .map(x => x.getString(0) -> (x.getLong(1).toDouble, x.getDouble(2)))
      .toMap
    assert(truth.keySet.subsetOf(served.keySet),
      s"${served.keySet} vs ${truth.keySet}")
    served.foreach { case (g, (n, sm)) =>
      val (tn, ts) = truth.getOrElse(g, (0.0, 0.0))
      assert(math.abs(n - tn) <= r.estimatedError * math.max(1.0, n) + 1e-6,
        s"group $g: n=$n truth=$tn")
      assert(math.abs(sm - ts) <=
        r.estimatedError * math.max(1.0, math.abs(sm)) + 1e-6,
        s"group $g: s=$sm truth=$ts")
    }
    // a residual column NOT in the blob's key set refuses
    val rx = eng.query(
      "SELECT l_linestatus, count(*) AS n FROM lineitem " +
        "WHERE l_suppkey = 1 AND l_quantity >= 10 AND l_quantity < 40 " +
        "GROUP BY l_linestatus",
      eng.Options(maxRelError = 0.5))
    assert(!rx.servedFromCatalog, rx.reason)
    // a residual IN-list must MERGE cells per output group, which
    // needs ONE grid. Note l_quantity's integer range is identical in
    // every cell, so per-group grids COINCIDE and the merge is legal —
    // the refusal needs a continuous column whose per-cell [min,max]
    // genuinely differ (l_extendedprice):
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_extendedprice", 64)
    val ri = eng.query(
      "SELECT l_linestatus, count(*) AS n FROM lineitem " +
        "WHERE l_returnflag IN ('A', 'N') " +
        "AND l_extendedprice >= 2000 AND l_extendedprice < 50000 " +
        "GROUP BY l_linestatus",
      eng.Options(maxRelError = 0.5))
    assert(!ri.servedFromCatalog, ri.reason)
    // ...while the l_quantity IN-list (coinciding per-cell grids)
    // and any shared-grid build serve:
    val insql = "SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS s " +
      "FROM lineitem WHERE l_returnflag IN ('A', 'N') " +
      "AND l_quantity >= 10 AND l_quantity < 40 " +
      "GROUP BY l_linestatus"
    // ...and a SHARED-grid build serves it, within the merged bound
    val catS = new MetaCatalog(
      Files.createTempDirectory("graft-pkr-shared").toString)
    val engS = new QueryEngine(spark, catS)
    graft.sketch.SketchOps.createGroupedHistogram(spark, catS,
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity", 64,
      sharedGrid = true)
    val rs = engS.query(insql, engS.Options(maxRelError = 0.5))
    assert(rs.servedFromCatalog &&
      rs.serveKind.contains("grouped_histogram_range"),
      s"${rs.serveKind}: ${rs.reason}")
    val servedIn = rs.df.collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    val truthIn = spark.sql(
      "SELECT l_linestatus, count(*), cast(sum(l_quantity) as double) " +
        "FROM lineitem WHERE l_returnflag IN ('A', 'N') " +
        "AND l_quantity >= 10 AND l_quantity < 40 " +
        "GROUP BY l_linestatus").collect()
      .map(x => x.getString(0) -> (x.getLong(1).toDouble, x.getDouble(2)))
      .toMap
    assert(truthIn.keySet.subsetOf(servedIn.keySet))
    servedIn.foreach { case (g, (n, sm)) =>
      val (tn, ts) = truthIn.getOrElse(g, (0.0, 0.0))
      assert(math.abs(n - tn) <= rs.estimatedError * math.max(1.0, n) + 1e-6)
      assert(math.abs(sm - ts) <=
        rs.estimatedError * math.max(1.0, math.abs(sm)) + 1e-6)
    }
    // the miss advises the COMPOSITE blob; building it flips the serve
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-pkr-miss").toString)
    val eng2 = new QueryEngine(spark, cat2)
    (1 to 3).foreach { _ =>
      assert(!eng2.query(sql, eng2.Options(maxRelError = 0.5))
        .servedFromCatalog)
    }
    assert(eng2.adviseSketches().exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.column.equalsIgnoreCase("l_quantity") &&
        a.candidate.groupBy.exists(
          _.toLowerCase == "l_linestatus,l_returnflag")),
      eng2.adviseSketches().toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat2,
      "lineitem", Seq("l_linestatus", "l_returnflag"), "l_quantity", 64)
    assert(!eng2.adviseSketches().exists(
      _.candidate.sketchType == "histogram_grouped"),
      eng2.adviseSketches().toString)
    val r2 = eng2.query(sql, eng2.Options(maxRelError = 0.5))
    assert(r2.servedFromCatalog &&
      r2.serveKind.contains("grouped_histogram_range"), r2.reason)
    // an unknown residual literal serves the exact empty row set
    val rz = eng.query(
      "SELECT l_linestatus, count(*) AS n FROM lineitem " +
        "WHERE l_returnflag = 'Z' AND l_quantity >= 10 AND l_quantity < 40 " +
        "GROUP BY l_linestatus",
      eng.Options(maxRelError = 0.5))
    assert(rz.servedFromCatalog &&
      rz.serveKind.contains("grouped_histogram_range"), rz.reason)
    assert(rz.df.collect().isEmpty)
  }

  test("filtered-range serve: named groups' bands from histograms + riders; grid and rider guards") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-frange").toString)
    val eng = new QueryEngine(spark, cat)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    val single = "SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders " +
      "WHERE o_orderstatus = 'O' " +
      "AND o_totalprice >= 50000 AND o_totalprice < 150000"
    val r = eng.query(single, eng.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog && r.serveKind.contains("filtered_range"),
      s"${r.serveKind}: ${r.reason}")
    val row = r.df.collect().head
    val t = spark.sql(
      "SELECT count(*), cast(sum(o_totalprice) as double) FROM orders " +
        "WHERE o_orderstatus = 'O' " +
        "AND o_totalprice >= 50000 AND o_totalprice < 150000").collect().head
    assert(math.abs(row.getDouble(0) - t.getLong(0)) <=
      r.estimatedError * math.max(1.0, row.getDouble(0)) + 1e-6)
    assert(math.abs(row.getDouble(1) - t.getDouble(1)) <=
      r.estimatedError * math.max(1.0, math.abs(row.getDouble(1))) + 1e-6)
    // IN-list merge needs ONE grid: per-group grids refuse
    val inq = "SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders " +
      "WHERE o_orderstatus IN ('O', 'F') " +
      "AND o_totalprice >= 50000 AND o_totalprice < 150000"
    val r2 = eng.query(inq, eng.Options(maxRelError = 0.5))
    assert(!r2.servedFromCatalog, r2.reason)
    // a literal naming no recorded group is the exact empty answer
    val r3 = eng.query(
      "SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders " +
        "WHERE o_orderstatus = 'ZZZ' " +
        "AND o_totalprice >= 50000 AND o_totalprice < 150000",
      eng.Options(maxRelError = 0.5))
    assert(r3.servedFromCatalog && r3.serveKind.contains("filtered_range"),
      r3.reason)
    val row3 = r3.df.collect().head
    assert(row3.getDouble(0) == 0.0 && row3.isNullAt(1))
    // a shared-grid rebuild makes the IN-list merge serve
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64, sharedGrid = true)
    val r4 = eng.query(inq, eng.Options(maxRelError = 0.5))
    assert(r4.servedFromCatalog && r4.serveKind.contains("filtered_range"),
      s"${r4.serveKind}: ${r4.reason}")
    val row4 = r4.df.collect().head
    val t4 = spark.sql(
      "SELECT count(*), cast(sum(o_totalprice) as double) FROM orders " +
        "WHERE o_orderstatus IN ('O', 'F') " +
        "AND o_totalprice >= 50000 AND o_totalprice < 150000").collect().head
    assert(math.abs(row4.getDouble(0) - t4.getLong(0)) <=
      r4.estimatedError * math.max(1.0, row4.getDouble(0)) + 1e-6)
    assert(math.abs(row4.getDouble(1) - t4.getDouble(1)) <=
      r4.estimatedError * math.max(1.0, math.abs(row4.getDouble(1))) + 1e-6)
    // a mismatched rider refuses SUM; count-only keeps serving
    val rows = spark.table("orders").count()
    cat.upsertSketch(cat.SketchInfo("orders", "o_totalprice",
      "histsum_grouped", Array.emptyByteArray,
      s"""{"buckets":64,"group_by":"o_orderpriority","groups":0,"rows":$rows}""",
      System.currentTimeMillis()))
    val r5 = eng.query(single, eng.Options(maxRelError = 0.5))
    assert(!r5.servedFromCatalog, r5.reason)
    val r6 = eng.query(
      "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O' " +
        "AND o_totalprice >= 50000 AND o_totalprice < 150000",
      eng.Options(maxRelError = 0.5))
    assert(r6.servedFromCatalog && r6.serveKind.contains("filtered_range"),
      r6.reason)
  }

  test("filtered-range misses advise the grouped histogram; IN-list misses the shared grid") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-frmiss").toString)
    val eng = new QueryEngine(spark, cat)
    val sql = "SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders " +
      "WHERE o_orderstatus = 'O' " +
      "AND o_totalprice >= 50000 AND o_totalprice < 150000"
    (1 to 3).foreach { _ =>
      assert(!eng.query(sql, eng.Options(maxRelError = 0.5)).servedFromCatalog)
    }
    assert(eng.adviseSketches().exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.column.equalsIgnoreCase("o_totalprice") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("o_orderstatus"))),
      eng.adviseSketches().toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    assert(!eng.adviseSketches().exists(
      _.candidate.sketchType == "histogram_grouped"),
      eng.adviseSketches().toString)
    val r = eng.query(sql, eng.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog && r.serveKind.contains("filtered_range"),
      s"${r.serveKind}: ${r.reason}")
    // the IN-list shape needs a MERGE the per-group build cannot do —
    // its miss advises the shared-grid variant
    val insql = "SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders " +
      "WHERE o_orderstatus IN ('O', 'F') " +
      "AND o_totalprice >= 50000 AND o_totalprice < 150000"
    (1 to 3).foreach { _ =>
      assert(!eng.query(insql, eng.Options(maxRelError = 0.5)).servedFromCatalog)
    }
    assert(eng.adviseSketches().exists(a =>
      a.candidate.sketchType == "histogram_grouped_shared" &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("o_orderstatus"))),
      eng.adviseSketches().toString)
  }

  test("composite-key CMS serves conjunctive equality frequencies from the tuple sketch") {
    import org.apache.spark.sql.functions.expr
    // one all-NULL-component row: excluded from the counters (it can
    // never match an equality conjunction), so estimates stay
    // overestimate-only for every servable predicate
    def base = spark.range(0, 6000)
      .select(
        expr("case when id = 0 then cast(null as string) " +
          "else concat('a', id % 5) end").as("x"),
        expr("concat('b', id % 3)").as("y"))
    base.createOrReplaceTempView("ccms_t")
    val truth = spark.sql(
      "SELECT count(*) FROM ccms_t WHERE x = 'a2' AND y = 'b1'")
      .collect().head.getLong(0)
    val truthIn = spark.sql(
      "SELECT count(*) FROM ccms_t WHERE x IN ('a2', 'a3') AND y = 'b1'")
      .collect().head.getLong(0)
    graft.sketch.SketchOps.createCms(
      spark, catalog, "ccms_t", Seq("x", "y"), 0.01, 0.01)
    catalog.upsertTableStats("ccms_t", 6000L)
    // empty backing view: a correct answer proves the no-scan path
    spark.range(0)
      .select(expr("cast(null as string)").as("x"),
        expr("cast(null as string)").as("y"))
      .createOrReplaceTempView("ccms_t")
    val r = engine.query(
      "SELECT count(*) AS n FROM ccms_t WHERE x = 'a2' AND y = 'b1'")
    assert(r.servedFromCatalog && r.serveKind.contains("cms"),
      s"${r.serveKind}: ${r.reason}")
    val est = r.df.collect().head.getLong(0)
    assert(est >= truth, s"est=$est truth=$truth")
    assert(est <= truth + (0.01 * 6000).toLong + 1, s"est=$est truth=$truth")
    // reversed conjunct order finds the same sketch (set dispatch) and
    // renders the tuple in the sketch's stored order
    val rRev = engine.query(
      "SELECT count(*) AS n FROM ccms_t WHERE y = 'b1' AND x = 'a2'")
    assert(rRev.servedFromCatalog, rRev.reason)
    assert(rRev.df.collect().head.getLong(0) == est)
    // per-column IN-list: the cross-product of tuples, summed
    // (overestimate-only survives the sum), under a |tuples|*eps budget
    val rIn = engine.query(
      "SELECT count(*) AS n FROM ccms_t WHERE x IN ('a2', 'a3') AND y = 'b1'")
    assert(rIn.servedFromCatalog, rIn.reason)
    val estIn = rIn.df.collect().head.getLong(0)
    assert(estIn >= truthIn, s"est=$estIn truth=$truthIn")
    assert(estIn <= truthIn + 2 * ((0.01 * 6000).toLong + 1),
      s"est=$estIn truth=$truthIn")
    assert(rIn.estimatedError == 2 * 0.01, rIn.estimatedError.toString)
    // a single-column predicate is NOT a composite lookup (and there is
    // no single-column CMS here): falls through
    val rSub = engine.query("SELECT count(*) AS n FROM ccms_t WHERE x = 'a2'")
    assert(!rSub.servedFromCatalog, rSub.reason)
    // same-column conjunction is not a tuple: falls through
    val rDup = engine.query(
      "SELECT count(*) AS n FROM ccms_t WHERE x = 'a2' AND x = 'a3'")
    assert(!rDup.servedFromCatalog, rDup.reason)
    // stale sketch falls through via the freshness guard
    catalog.upsertTableStats("ccms_t", 7000L)
    val rStale = engine.query(
      "SELECT count(*) AS n FROM ccms_t WHERE x = 'a2' AND y = 'b1'")
    assert(!rStale.servedFromCatalog, rStale.reason)
    catalog.upsertTableStats("ccms_t", 6000L)
  }

  test("repeated conjunctive COUNT(*) shapes advise the composite CMS; building retires and serves") {
    import org.apache.spark.sql.functions.expr
    // dedicated engine: clean miss counters and catalog
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-advise-ccms").toString)
    val eng2 = new QueryEngine(spark, cat2)
    spark.range(0, 3000)
      .select(expr("concat('p', id % 4)").as("p"),
        expr("concat('q', id % 6)").as("q"))
      .createOrReplaceTempView("adv_cc")
    val sql = "SELECT count(*) AS n FROM adv_cc WHERE q = 'q2' AND p = 'p1'"
    (1 to 3).foreach(_ => eng2.query(sql))
    val advice = eng2.adviseSketches(minMisses = 3)
    val cms = advice.find(a => a.candidate.sketchType == "cms" &&
      a.candidate.table == "adv_cc")
    assert(cms.isDefined, advice.mkString(","))
    // canonical sorted order: `q AND p` and `p AND q` are one miss key
    assert(cms.get.candidate.column == "p,q", cms.get.candidate.toString)
    assert(cms.get.build.contains("createCms"), cms.get.build)
    graft.sketch.SketchOps.createCms(
      spark, cat2, "adv_cc", Seq("p", "q"), 0.01, 0.01)
    assert(!eng2.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "cms" && a.candidate.table == "adv_cc"),
      "a fresh composite CMS must retire the advice")
    val r = eng2.query(sql)
    assert(r.servedFromCatalog && r.serveKind.contains("cms"), r.reason)
  }

  test("stored KMV pair serves INTERSECT/UNION/EXCEPT cardinality with no scan") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-kmvserve").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 3000).select(expr("concat('c', id)").as("v"))
      .createOrReplaceTempView("kmvq_a")
    spark.range(1000, 4000).select(expr("concat('c', id)").as("v"))
      .createOrReplaceTempView("kmvq_b")
    // truths before the views are emptied: |A∪B|=4000, |A∩B|=2000,
    // |A\B|=1000
    graft.sketch.SketchOps.createKmv(spark, cat, "kmvq_a", "v", 256)
    graft.sketch.SketchOps.createKmv(spark, cat, "kmvq_b", "v", 256)
    // replace both backing views with EMPTY ones: a correct answer can
    // only have come from the catalog (proves the no-scan path)
    spark.range(0).select(expr("cast(null as string)").as("v"))
      .createOrReplaceTempView("kmvq_a")
    spark.range(0).select(expr("cast(null as string)").as("v"))
      .createOrReplaceTempView("kmvq_b")
    val loose = eng.Options(maxRelError = 0.5)
    def served(sql: String): Double = {
      val r = eng.query(sql, loose)
      assert(r.servedFromCatalog && r.serveKind.contains("kmv_setop"),
        s"${r.serveKind}: ${r.reason}")
      assert(r.estimatedError > 0.0 && r.estimatedError <= 0.5,
        r.estimatedError.toString)
      r.df.collect().head.getDouble(0)
    }
    val inter = served("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_a INTERSECT SELECT v FROM kmvq_b) t")
    assert(math.abs(inter - 2000.0) / 2000.0 < 0.5, inter.toString)
    val uni = served("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_a UNION SELECT v FROM kmvq_b) t")
    assert(math.abs(uni - 4000.0) / 4000.0 < 0.2, uni.toString)
    val exc = served("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_a EXCEPT SELECT v FROM kmvq_b) t")
    assert(math.abs(exc - 1000.0) / 1000.0 < 0.6, exc.toString)

    // the default 0.05 budget is tighter than the matched-proportion
    // bound at k=256 — the serve falls through to exact execution
    val tight = eng.query("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_a INTERSECT SELECT v FROM kmvq_b) t")
    assert(!tight.servedFromCatalog, tight.reason)

    // UNION ALL is row-bag semantics, not a distinct count — refuse
    val bag = eng.query("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_a UNION ALL SELECT v FROM kmvq_b) t", loose)
    assert(!bag.servedFromCatalog, bag.reason)
    // ...but count(DISTINCT v) over the same UNION ALL IS the union
    // cardinality — the DISTINCT collapses the bag
    val bagD = eng.query("SELECT count(DISTINCT v) AS n FROM " +
      "(SELECT v FROM kmvq_a UNION ALL SELECT v FROM kmvq_b) t", loose)
    assert(bagD.servedFromCatalog && bagD.serveKind.contains("kmv_setop"),
      bagD.reason)
    assert(bagD.df.collect().head.getDouble(0) == uni)

    // an EXHAUSTIVE pair (both sketches under k) answers EXACTLY
    spark.range(0, 50).select(expr("concat('e', id)").as("v"))
      .createOrReplaceTempView("kmvq_c")
    spark.range(30, 60).select(expr("concat('e', id)").as("v"))
      .createOrReplaceTempView("kmvq_d")
    graft.sketch.SketchOps.createKmv(spark, cat, "kmvq_c", "v", 256)
    graft.sketch.SketchOps.createKmv(spark, cat, "kmvq_d", "v", 256)
    val rEx = eng.query("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_c INTERSECT SELECT v FROM kmvq_d) t")
    assert(rEx.servedFromCatalog && rEx.estimatedError == 0.0, rEx.reason)
    assert(rEx.df.collect().head.getDouble(0) == 20.0)

    // a k-mismatched pair refuses (the estimators are not comparable)
    graft.sketch.SketchOps.createKmv(spark, cat, "kmvq_d", "v", 128)
    val rMismatch = eng.query("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_c INTERSECT SELECT v FROM kmvq_d) t", loose)
    assert(!rMismatch.servedFromCatalog, rMismatch.reason)

    // staleness retires the serve: the freshness guard sees the grown
    // base table and the query falls back to exact execution
    cat.upsertTableStats("kmvq_a", 999999L)
    val rStale = eng.query("SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvq_a INTERSECT SELECT v FROM kmvq_b) t", loose)
    assert(!rStale.servedFromCatalog, rStale.reason)
  }

  test("range-restricted percentiles serve from the stored histogram with no scan") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-rpct").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 10000).select(expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("rpct_t")
    graft.sketch.SketchOps.createHistogram(spark, cat, "rpct_t", "v", 64)
    // empty backing view: a correct answer proves the no-scan path
    spark.range(0).select(expr("cast(null as double)").as("v"))
      .createOrReplaceTempView("rpct_t")
    val loose = eng.Options(maxRelError = 0.5)
    val r = eng.query(
      "SELECT percentile(v, 0.5) AS p50, count(*) AS n FROM rpct_t " +
        "WHERE v >= 2000 AND v < 7000", loose)
    assert(r.servedFromCatalog && r.serveKind.contains("histogram_range"),
      s"${r.serveKind}: ${r.reason}")
    val row = r.df.collect().head
    // truth: uniform 0..9999, p50 of [2000, 7000) = 4500 (+- one
    // bucket width 156.25 + the boundary-mass rank shift)
    assert(math.abs(row.getDouble(0) - 4500.0) < 2 * (10000.0 / 64),
      row.getDouble(0).toString)
    assert(math.abs(row.getDouble(1) - 5000.0) < 2 * (10000.0 / 64))

    // a range entirely past the data serves NULL (no covering mass —
    // exact execution over zero rows returns NULL too)
    val rEmpty = eng.query(
      "SELECT percentile(v, 0.5) AS p FROM rpct_t WHERE v >= 999999",
      loose)
    assert(rEmpty.servedFromCatalog, rEmpty.reason)
    assert(rEmpty.df.collect().head.isNullAt(0))

    // a percentile over a DIFFERENT column than the range refuses —
    // the histogram models only the range column's distribution
    spark.range(0, 100).select(expr("cast(id as double)").as("u"),
      expr("cast(id * 2 as double)").as("v"))
      .createOrReplaceTempView("rpct2_t")
    graft.sketch.SketchOps.createHistogram(spark, cat, "rpct2_t", "u", 64)
    val rOther = eng.query(
      "SELECT percentile(v, 0.5) AS p FROM rpct2_t " +
        "WHERE u >= 10 AND u < 50", loose)
    assert(!rOther.servedFromCatalog, rOther.reason)

    // GROUPED: per-group percentiles under the range serve from the
    // grouped blob — each group's own histogram clipped to the range,
    // no cross-group merge, so any grid kind works
    spark.range(0, 8000).select(
      expr("concat('g', id % 2)").as("g"),
      expr("cast(id % 4000 as double)").as("w"),
      expr("cast(id as double)").as("w2"))
      .createOrReplaceTempView("rpctg_t")
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat, "rpctg_t",
      Seq("g"), "w", 64)
    spark.range(0).select(expr("cast(null as string)").as("g"),
      expr("cast(null as double)").as("w"),
      expr("cast(null as double)").as("w2"))
      .createOrReplaceTempView("rpctg_t")
    val rg = eng.query(
      "SELECT g, count(*) AS n, percentile(w, 0.5) AS p50 FROM rpctg_t " +
        "WHERE w >= 1000 AND w < 3000 GROUP BY g ORDER BY g", loose)
    assert(rg.servedFromCatalog &&
      rg.serveKind.contains("grouped_histogram_range"),
      s"${rg.serveKind}: ${rg.reason}")
    val grows = rg.df.collect()
    assert(grows.length == 2)
    grows.foreach { row =>
      // each group holds every in-range value twice: 2000 rows
      assert(math.abs(row.getDouble(1) - 2000.0) < 4 * (4000.0 / 64),
        row.toString)
      assert(math.abs(row.getDouble(2) - 2000.0) < 2 * (4000.0 / 64),
        row.toString) // per-group p50 of [1000, 3000)
    }
    // a grouped percentile over a NON-range column refuses
    val rgOther = eng.query(
      "SELECT g, percentile(w2, 0.5) AS p FROM rpctg_t " +
        "WHERE w >= 1000 AND w < 3000 GROUP BY g", loose)
    assert(!rgOther.servedFromCatalog, rgOther.reason)

    // advisor: repeated range-percentile scans advise the histogram
    // whose range serve would absorb them; the build retires it
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-rpcta").toString)
    val eng2 = new QueryEngine(spark, cat2)
    spark.range(0, 500).select(expr("cast(id as double)").as("x"))
      .createOrReplaceTempView("rpct3_t")
    val sql3 = "SELECT percentile(x, 0.5) AS p FROM rpct3_t " +
      "WHERE x >= 100 AND x < 400"
    (1 to 3).foreach(_ => eng2.query(sql3))
    assert(eng2.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "histogram" && a.candidate.column == "x"),
      eng2.adviseSketches(minMisses = 3).toString)
    graft.sketch.SketchOps.createHistogram(spark, cat2, "rpct3_t", "x", 64)
    assert(eng2.adviseSketches(minMisses = 3)
      .forall(_.candidate.column != "x"))
    val r3 = eng2.query(sql3, eng2.Options(maxRelError = 0.5))
    assert(r3.servedFromCatalog && r3.serveKind.contains("histogram_range"),
      r3.reason)
  }

  test("heavy-hitters blob serves top-k and iceberg GROUP BY shapes exactly with no scan") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-topk").toString)
    val eng = new QueryEngine(spark, cat)
    // 50 heavy keys (100 rows each) + 500 singleton tail keys
    spark.range(0, 5500).select(expr(
      "cast(case when id < 5000 then concat('h', lpad(cast(id % 50 as string), 2, '0')) " +
        "else concat('t', id) end as string)").as("k"))
      .createOrReplaceTempView("topk_t")
    val truthTop = spark.sql(
      "SELECT k, count(*) AS c FROM topk_t GROUP BY k " +
        "ORDER BY c DESC, k LIMIT 5").collect().toSeq
    graft.sketch.SketchOps.createTopK(spark, cat, "topk_t", Seq("k"), 50L)
    // empty backing view: a correct answer can only come from the blob
    spark.range(0).select(expr("cast(null as string)").as("k"))
      .createOrReplaceTempView("topk_t")
    val r = eng.query("SELECT k, count(*) AS c FROM topk_t " +
      "GROUP BY k ORDER BY c DESC, k LIMIT 5")
    assert(r.servedFromCatalog && r.serveKind.contains("topk"),
      s"${r.serveKind}: ${r.reason}")
    assert(r.estimatedError == 0.0)
    assert(r.df.collect().toSeq == truthTop)

    // iceberg: HAVING at/above the threshold returns every qualifying
    // stored group (all 50 heavies count 100)
    val rIce = eng.query("SELECT k, count(*) AS c FROM topk_t " +
      "GROUP BY k HAVING count(*) >= 60 ORDER BY k")
    assert(rIce.servedFromCatalog && rIce.serveKind.contains("topk"),
      rIce.reason)
    assert(rIce.df.collect().length == 50)

    // refusals — each shape needs groups the blob cannot name:
    // LIMIT past the stored list
    val rWide = eng.query("SELECT k, count(*) AS c FROM topk_t " +
      "GROUP BY k ORDER BY c DESC, k LIMIT 60")
    assert(!rWide.servedFromCatalog, rWide.reason)
    // HAVING below the threshold
    val rLow = eng.query("SELECT k, count(*) AS c FROM topk_t " +
      "GROUP BY k HAVING count(*) >= 20 ORDER BY k")
    assert(!rLow.servedFromCatalog, rLow.reason)
    // the bare full GROUP BY (no clauses bound the result to heavies)
    val rFull = eng.query(
      "SELECT k, count(*) AS c FROM topk_t GROUP BY k")
    assert(!rFull.servedFromCatalog, rFull.reason)
    // a LIMIT without the count-DESC sort keeps arbitrary rows
    val rNoSort = eng.query("SELECT k, count(*) AS c FROM topk_t " +
      "GROUP BY k ORDER BY k LIMIT 5")
    assert(!rNoSort.servedFromCatalog, rNoSort.reason)

    // staleness retires the serve
    cat.upsertTableStats("topk_t", 999999L)
    val rStale = eng.query("SELECT k, count(*) AS c FROM topk_t " +
      "GROUP BY k ORDER BY c DESC, k LIMIT 5")
    assert(!rStale.servedFromCatalog, rStale.reason)
  }

  test("sum-threshold topk blob serves revenue top-k and sum-iceberg exactly") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-topksum").toString)
    val eng = new QueryEngine(spark, cat)
    // 20 heavy keys summing 100 * 100.5 = 10050 each; 100 singleton
    // tail keys at 1.25
    spark.range(0, 2100).select(
      expr("cast(case when id < 2000 then concat('h', id % 20) " +
        "else concat('t', id) end as string)").as("k"),
      expr("case when id < 2000 then cast(100.5 as double) " +
        "else cast(1.25 as double) end").as("v"))
      .createOrReplaceTempView("topksum_t")
    graft.sketch.SketchOps.createTopKSum(spark, cat, "topksum_t",
      Seq("k"), "v", 5000.0)
    spark.range(0).select(expr("cast(null as string)").as("k"),
      expr("cast(null as double)").as("v"))
      .createOrReplaceTempView("topksum_t")
    val r = eng.query("SELECT k, sum(v) AS s FROM topksum_t " +
      "GROUP BY k ORDER BY s DESC, k LIMIT 5")
    assert(r.servedFromCatalog && r.serveKind.contains("topk"),
      s"${r.serveKind}: ${r.reason}")
    val rows = r.df.collect().toSeq
    assert(rows.length == 5 && rows.forall(_.getDouble(1) == 10050.0),
      rows.toString)
    // ties broken by key ASC: the five lexicographically-first heavies
    assert(rows.map(_.getString(0)) ==
      Seq("h0", "h1", "h10", "h11", "h12"))

    // sum-iceberg: HAVING at/above the threshold returns all 20
    val rIce = eng.query("SELECT k, sum(v) AS s FROM topksum_t " +
      "GROUP BY k HAVING sum(v) >= 6000 ORDER BY k")
    assert(rIce.servedFromCatalog, rIce.reason)
    assert(rIce.df.collect().length == 20)
    // a bound below the threshold refuses to the scan
    val rLow = eng.query("SELECT k, sum(v) AS s FROM topksum_t " +
      "GROUP BY k HAVING sum(v) >= 1000 ORDER BY k")
    assert(!rLow.servedFromCatalog, rLow.reason)
    // a COUNT top-k cannot serve from the SUM blob (metric mismatch)
    val rCnt = eng.query("SELECT k, count(*) AS c FROM topksum_t " +
      "GROUP BY k ORDER BY c DESC, k LIMIT 5")
    assert(!rCnt.servedFromCatalog, rCnt.reason)

    // advisor: repeated revenue-top-k scans advise the SUM blob
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-topksum2").toString)
    val eng2 = new QueryEngine(spark, cat2)
    spark.range(0, 1000).select(
      expr("concat('g', id % 10)").as("k"),
      expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("topksum2_t")
    val sql2 = "SELECT k, sum(v) AS s FROM topksum2_t " +
      "GROUP BY k ORDER BY s DESC, k LIMIT 3"
    (1 to 3).foreach(_ => assert(!eng2.query(sql2).servedFromCatalog))
    val hit = eng2.adviseSketches(minMisses = 3).find(a =>
      a.candidate.sketchType == "topk_sum" && a.candidate.column == "v" &&
        a.candidate.groupBy.contains("k"))
    assert(hit.isDefined, eng2.adviseSketches(minMisses = 3).toString)
    assert(hit.get.build.contains("createTopKSum"), hit.get.build)
    graft.sketch.SketchOps.createTopKSum(spark, cat2, "topksum2_t",
      Seq("k"), "v", 40000.0)
    assert(eng2.adviseSketches(minMisses = 3)
      .forall(_.candidate.sketchType != "topk_sum"))
    val r2 = eng2.query(sql2)
    assert(r2.servedFromCatalog && r2.serveKind.contains("topk"), r2.reason)
  }

  test("top-k misses advise the heavy-hitters blob; a build retires and flips the serve") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-topkadv").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 3000).select(expr(
      "cast(case when id < 2500 then concat('h', id % 25) " +
        "else concat('t', id) end as string)").as("k"))
      .createOrReplaceTempView("topkadv_t")
    val sql = "SELECT k, count(*) AS c FROM topkadv_t " +
      "GROUP BY k ORDER BY c DESC, k LIMIT 5"
    (1 to 3).foreach(_ => assert(!eng.query(sql).servedFromCatalog))
    val advice = eng.adviseSketches(minMisses = 3)
    val hit = advice.find(a => a.candidate.sketchType == "topk" &&
      a.candidate.table == "topkadv_t" && a.candidate.column == "k")
    assert(hit.isDefined, advice.toString)
    assert(hit.get.build.contains("createTopK"), hit.get.build)
    graft.sketch.SketchOps.createTopK(spark, cat, "topkadv_t", Seq("k"), 50L)
    assert(eng.adviseSketches(minMisses = 3)
      .forall(_.candidate.sketchType != "topk"))
    val r = eng.query(sql)
    assert(r.servedFromCatalog && r.serveKind.contains("topk"), r.reason)
  }

  test("set-op count misses advise the KMV pair; builds retire it and flip the serve") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-kmvadv").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 2000).select(expr("concat('x', id)").as("v"))
      .createOrReplaceTempView("kmvadv_a")
    spark.range(500, 2500).select(expr("concat('x', id)").as("v"))
      .createOrReplaceTempView("kmvadv_b")
    val sql = "SELECT count(*) AS n FROM " +
      "(SELECT v FROM kmvadv_a INTERSECT SELECT v FROM kmvadv_b) t"
    (1 to 3).foreach(_ => assert(!eng.query(sql).servedFromCatalog))
    val advice = eng.adviseSketches(minMisses = 3)
    def kmvAdvice(t: String) = advice.find(a =>
      a.candidate.sketchType == "kmv" && a.candidate.table == t &&
        a.candidate.column == "v")
    assert(kmvAdvice("kmvadv_a").isDefined && kmvAdvice("kmvadv_b").isDefined,
      advice.toString)
    assert(kmvAdvice("kmvadv_a").get.build.contains("createKmv"),
      kmvAdvice("kmvadv_a").get.build)
    // running the recommended builds retires the advice and the same
    // query flips to the no-scan serve
    graft.sketch.SketchOps.createKmv(spark, cat, "kmvadv_a", "v")
    graft.sketch.SketchOps.createKmv(spark, cat, "kmvadv_b", "v")
    assert(eng.adviseSketches(minMisses = 3)
      .forall(_.candidate.sketchType != "kmv"))
    val r = eng.query(sql, eng.Options(maxRelError = 0.5))
    assert(r.servedFromCatalog && r.serveKind.contains("kmv_setop"), r.reason)
  }

  test("integral key-range dispatch prunes recorded groups across the serve family") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-keyrange").toString)
    val eng = new QueryEngine(spark, cat)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_linenumber"), "l_extendedprice", 64)
    graft.sketch.SketchOps.createGroupedHll(spark, cat,
      "lineitem", Seq("l_linenumber"), "l_orderkey", 12)

    // grouped stats under BETWEEN: the pruned group set equals exact
    // execution's and every per-group stat stays exact
    val r = eng.query("SELECT l_linenumber, sum(l_extendedprice) AS sm, " +
      "count(*) AS nr FROM lineitem WHERE l_linenumber BETWEEN 2 AND 4 " +
      "GROUP BY l_linenumber ORDER BY l_linenumber")
    assert(r.servedFromCatalog && r.serveKind.contains("grouped_stats"),
      s"${r.serveKind}: ${r.reason}")
    val ex = spark.sql(
      "SELECT l_linenumber, cast(sum(cast(l_extendedprice as " +
        "decimal(18,4))) as double), count(*) FROM lineitem " +
        "WHERE l_linenumber BETWEEN 2 AND 4 GROUP BY l_linenumber " +
        "ORDER BY l_linenumber").collect()
    val got = r.df.collect()
    assert(got.map(_.getInt(0)).toSeq == ex.map(_.getInt(0)).toSeq)
    got.zip(ex).foreach { case (g, e) =>
      assert(g.getDouble(1) == e.getDouble(1) && g.getLong(2) == e.getLong(2),
        s"${g.toSeq} vs ${e.toSeq}")
    }

    // strict one-sided bound on the grouped percentile (per-group
    // grids — a GROUP BY keeps groups separate, no merging needed)
    val rp = eng.query("SELECT l_linenumber, " +
      "percentile(l_extendedprice, 0.5) AS p50 FROM lineitem " +
      "WHERE l_linenumber > 4 GROUP BY l_linenumber")
    assert(rp.servedFromCatalog && rp.serveKind.contains("grouped_histogram"),
      s"${rp.serveKind}: ${rp.reason}")
    assert(rp.df.collect().map(_.getInt(0)).toSet == Set(5, 6, 7))

    // global aggregate under a one-sided range: pruned records merge
    // exactly (q88's IN-list arithmetic driven by a comparison)
    val rg = eng.query("SELECT sum(l_extendedprice) AS sm, " +
      "count(*) AS nr FROM lineitem WHERE l_linenumber >= 5")
    assert(rg.servedFromCatalog && rg.serveKind.contains("filtered_group"),
      s"${rg.serveKind}: ${rg.reason}")
    val exG = spark.sql(
      "SELECT cast(sum(cast(l_extendedprice as decimal(18,4))) as double), " +
        "count(*) FROM lineitem WHERE l_linenumber >= 5").collect().head
    val gotG = rg.df.collect().head
    assert(gotG.getDouble(0) == exG.getDouble(0) &&
      gotG.getLong(1) == exG.getLong(1), s"${gotG.toSeq} vs ${exG.toSeq}")

    // COUNT(DISTINCT) under a range: register-max union of the pruned
    // groups' HLLs — estimate within the merged sketch's error
    val rd = eng.query("SELECT count(DISTINCT l_orderkey) AS d " +
      "FROM lineitem WHERE l_linenumber <= 2")
    assert(rd.servedFromCatalog && rd.serveKind.contains("filtered_group"),
      s"${rd.serveKind}: ${rd.reason}")
    val dTrue = spark.sql("SELECT count(DISTINCT l_orderkey) FROM lineitem " +
      "WHERE l_linenumber <= 2").collect().head.getLong(0)
    val dEst = rd.df.collect().head.getLong(0)
    assert(math.abs(dEst - dTrue).toDouble / dTrue < 0.1, s"$dEst vs $dTrue")

    // DISTINCT keys under a range, exact
    val rk = eng.query("SELECT DISTINCT l_linenumber FROM lineitem " +
      "WHERE l_linenumber < 3 ORDER BY l_linenumber")
    assert(rk.servedFromCatalog && rk.serveKind.contains("distinct_keys"),
      s"${rk.serveKind}: ${rk.reason}")
    assert(rk.df.collect().map(_.getInt(0)).toSeq == Seq(1, 2))

    // an empty range serves the exact empty GROUP BY result
    val re = eng.query("SELECT l_linenumber, sum(l_extendedprice) AS sm, " +
      "count(*) AS nr FROM lineitem WHERE l_linenumber > 100 " +
      "GROUP BY l_linenumber")
    assert(re.servedFromCatalog, re.reason)
    assert(re.df.collect().isEmpty)

    // a STRING key column refuses a range (UTF8-byte order is not the
    // rendering comparison; only = / IN dispatch on string keys)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "orders", Seq("o_orderstatus"), "o_totalprice", 64)
    val rs = eng.query("SELECT o_orderstatus, sum(o_totalprice) AS sm " +
      "FROM orders WHERE o_orderstatus >= 'F' GROUP BY o_orderstatus")
    assert(!rs.servedFromCatalog, rs.reason)

    // a range on a NON-key column does not dispatch to the key blobs
    val rn = eng.query("SELECT l_linenumber, sum(l_extendedprice) AS sm " +
      "FROM lineitem WHERE l_orderkey <= 100 GROUP BY l_linenumber")
    assert(!rn.servedFromCatalog, rn.reason)

    // staleness retires the range serves like every other dispatch
    val n = spark.table("lineitem").count()
    cat.upsertTableStats("lineitem", n + 1000)
    val rst = eng.query("SELECT sum(l_extendedprice) AS sm, " +
      "count(*) AS nr FROM lineitem WHERE l_linenumber >= 5")
    assert(!rst.servedFromCatalog, rst.reason)
    cat.upsertTableStats("lineitem", n)
  }

  test("key-range misses advise the grouped blob; building it flips both shapes to the serve") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-keyrange-adv").toString)
    val eng = new QueryEngine(spark, cat)
    val sqlG = "SELECT l_linenumber, sum(l_extendedprice) AS sm " +
      "FROM lineitem WHERE l_linenumber BETWEEN 2 AND 4 GROUP BY l_linenumber"
    val sqlF = "SELECT sum(l_extendedprice) AS sm, " +
      "count(l_extendedprice) AS nv FROM lineitem WHERE l_linenumber >= 5"
    (1 to 3).foreach { _ =>
      assert(!eng.query(sqlG).servedFromCatalog)
      assert(!eng.query(sqlF).servedFromCatalog)
    }
    val advice = eng.adviseSketches(minMisses = 3)
    val hits = advice.filter(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.table == "lineitem" &&
        a.candidate.column.equalsIgnoreCase("l_extendedprice") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("l_linenumber")))
    assert(hits.nonEmpty, advice.toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "lineitem", Seq("l_linenumber"), "l_extendedprice", 64)
    assert(eng.adviseSketches(minMisses = 3).forall(a =>
      !(a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("l_linenumber")))))
    assert(eng.query(sqlG).servedFromCatalog)
    assert(eng.query(sqlF).servedFromCatalog)
  }

  test("star-aggregate serve: GROUP BY dim attrs over fact ⋈ dim from the fact's grouped blob, fact never scanned") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-star").toString)
    val eng = new QueryEngine(spark, cat)
    // fact: 20 join keys × 300 rows, plus key 99 matching NO dim row
    // (inner join must drop its rows on both paths)
    spark.range(0, 6100).select(
      expr("case when id < 6000 then id % 20 else 99 end").as("k"),
      expr("cast(id % 37 as double) / 4.0 + 1.0").as("v"))
      .createOrReplaceTempView("star_f")
    // dim: the 20 matched keys (one with a NULL attr, one DUPLICATED —
    // join fan-out), plus pks 50/51 matching no fact group
    spark.sql(
      """SELECT id AS pk,
           CASE WHEN id = 7 THEN CAST(NULL AS STRING)
                ELSE concat('r', id % 3) END AS region,
           CAST(id % 5 AS INT) AS sz
         FROM range(0, 20)
         UNION ALL SELECT 11L, 'r2', CAST(1 AS INT)
         UNION ALL SELECT 50L, 'r0', CAST(0 AS INT)
         UNION ALL SELECT 51L, 'r1', CAST(1 AS INT)""")
      .createOrReplaceTempView("star_d")
    val sqlStar = "SELECT region, count(*) AS cnt, count(v) AS nv, " +
      "sum(v) AS sv, min(v) AS mn, max(v) AS mx, avg(v) AS av " +
      "FROM star_f JOIN star_d ON star_f.k = star_d.pk GROUP BY region"
    // truth over the REAL views, with the repo's portable sum/avg
    // renderings (decimal sum cast to double; one double division)
    val truth = spark.sql(
      "SELECT region, count(*) AS cnt, count(v) AS nv, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS sv, " +
        "min(v) AS mn, max(v) AS mx, " +
        "cast(sum(cast(v as decimal(18,4))) as double) / " +
        "cast(count(v) as double) AS av " +
        "FROM star_f JOIN star_d ON star_f.k = star_d.pk GROUP BY region")
      .collect().map(r => Option(r.getString(0)) -> r).toMap
    // filtered-star truth (dim-side WHERE) with the portable renderings
    val truthW = spark.sql(
      "SELECT region, count(*) AS cnt, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS sv " +
        "FROM star_f JOIN star_d ON star_f.k = star_d.pk " +
        "WHERE sz >= 2 GROUP BY region").collect()
      .map(r => Option(r.getString(0)) -> r).toMap
    // exact distinct truth per region for the HLL variant (b=12 —
    // near-exact at this cardinality: v has 37 distinct values)
    val truthNd = spark.sql(
      "SELECT region, count(DISTINCT v) AS nd FROM star_f JOIN star_d " +
        "ON star_f.k = star_d.pk GROUP BY region").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "star_f", "k", "v", 32)
    graft.sketch.SketchOps.createGroupedHll(spark, cat, "star_f", "k", "v")
    // EMPTY the fact: a correct answer can only come from the blob
    // (the dim stays real — the serve is allowed to read it)
    spark.range(0).select(expr("id").as("k"),
      expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("star_f")
    val r = eng.query(sqlStar)
    assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
      s"${r.serveKind}: ${r.reason}")
    assert(r.estimatedError == 0.0)
    val served = r.df.collect().map(x => Option(x.getString(0)) -> x).toMap
    assert(served.keySet == truth.keySet,
      s"groups: ${served.keySet} vs ${truth.keySet}")
    served.foreach { case (g, row) =>
      val t = truth(g)
      assert(row.getLong(1) == t.getLong(1), s"$g cnt")
      assert(row.getLong(2) == t.getLong(2), s"$g nv")
      assert(row.getDouble(3) == t.getDouble(3), s"$g sum")
      assert(row.getDouble(4) == t.getDouble(4), s"$g min")
      assert(row.getDouble(5) == t.getDouble(5), s"$g max")
      assert(row.getDouble(6) == t.getDouble(6), s"$g avg")
    }
    // the NULL attr forms its own group; the duplicate pk 11 fans out
    // (its key's stats fold once per dim row — r2 carries it twice)
    assert(truth.contains(None) && served.contains(None))

    // count(*)-only anchors to any fresh blob over the key
    val rc = eng.query("SELECT region, count(*) AS cnt FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk GROUP BY region")
    assert(rc.servedFromCatalog && rc.serveKind.contains("star_group"),
      rc.reason)
    assert(rc.df.collect().map(x =>
      Option(x.getString(0)) -> x.getLong(1)).toMap ==
      truth.view.mapValues(_.getLong(1)).toMap)

    // count(DISTINCT fact col) per dim attr: the fks' HLLs merge by
    // register-max per cell (distinct-over-union — a value seen under
    // several suppliers of one nation counts once), mixed freely with
    // exact stats outputs; the serve reports the HLL error bound
    val rNd = eng.query("SELECT region, count(DISTINCT v) AS nd, " +
      "sum(v) AS sv FROM star_f JOIN star_d ON star_f.k = star_d.pk " +
      "GROUP BY region")
    assert(rNd.servedFromCatalog && rNd.serveKind.contains("star_group"),
      s"${rNd.serveKind}: ${rNd.reason}")
    assert(rNd.estimatedError > 0.0 && rNd.estimatedError <= 0.02,
      rNd.estimatedError.toString)
    rNd.df.collect().foreach { x =>
      val g = Option(x.getString(0))
      val est = x.getLong(1).toDouble
      val nd = truthNd(g).toDouble
      assert(math.abs(est - nd) / nd < 0.05, s"$g: est $est vs $nd")
      assert(x.getDouble(2) == truth(g).getDouble(3), s"$g sum")
    }

    // dim-side WHERE serves: the filter restricts which dim rows fold
    // (the dim is scanned anyway) — exact filtered-join aggregation
    val rWd = eng.query("SELECT region, count(*) AS cnt, sum(v) AS sv " +
      "FROM star_f JOIN star_d ON star_f.k = star_d.pk " +
      "WHERE sz >= 2 GROUP BY region")
    assert(rWd.servedFromCatalog && rWd.serveKind.contains("star_group"),
      s"${rWd.serveKind}: ${rWd.reason}")
    val servedW = rWd.df.collect().map(x => Option(x.getString(0)) -> x).toMap
    assert(servedW.keySet == truthW.keySet)
    servedW.foreach { case (g, row) =>
      assert(row.getLong(1) == truthW(g).getLong(1), s"$g cnt")
      assert(row.getDouble(2) == truthW(g).getDouble(2), s"$g sum")
    }

    // SNOWFLAKE: the dim SIDE is a join tree (star_d → star_d2),
    // executed as real joins while the fact stays a blob lookup; the
    // NULL-region rows drop (NULL joins nothing) and regions collapse
    // into zones with the exact merge
    spark.sql("SELECT 'r0' AS rg, 'z0' AS zone UNION ALL " +
      "SELECT 'r1', 'z0' UNION ALL SELECT 'r2', 'z1'")
      .createOrReplaceTempView("star_d2")
    val rSn = eng.query("SELECT zone, count(*) AS cnt, sum(v) AS sv " +
      "FROM star_f JOIN star_d ON star_f.k = star_d.pk " +
      "JOIN star_d2 ON star_d.region = star_d2.rg GROUP BY zone")
    assert(rSn.servedFromCatalog && rSn.serveKind.contains("star_group"),
      s"${rSn.serveKind}: ${rSn.reason}")
    val zoneOf = Map("r0" -> "z0", "r1" -> "z0", "r2" -> "z1")
    val expSn = truth.toSeq
      .collect { case (Some(rg), t) => (zoneOf(rg), t) }
      .groupBy(_._1).view.mapValues(ts =>
        (ts.map(_._2.getLong(1)).sum, ts.map(_._2.getDouble(3)).sum))
      .toMap
    assert(rSn.df.collect().map(x =>
      x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap == expSn)

    // dashboard peel: ORDER BY metric DESC + LIMIT and HAVING replay
    // driver-side over the served rows — exact because the served row
    // set is COMPLETE (every joined group present)
    val rPeel = eng.query("SELECT region, sum(v) AS sv FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk GROUP BY region " +
      "ORDER BY sv DESC, region LIMIT 2")
    assert(rPeel.servedFromCatalog && rPeel.serveKind.contains("star_group"),
      rPeel.reason)
    val expTop = truth.toSeq
      .sortBy { case (g, t) => (-t.getDouble(3), g.getOrElse("")) }
      .take(2).map { case (g, t) => (g, t.getDouble(3)) }
    assert(rPeel.df.collect().toSeq.map(x =>
      (Option(x.getString(0)), x.getDouble(1))) == expTop)
    val rHav = eng.query("SELECT region, sum(v) AS sv FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk GROUP BY region " +
      "HAVING sum(v) >= " + expTop.head._2 + " ORDER BY region")
    assert(rHav.servedFromCatalog && rHav.serveKind.contains("star_group"),
      rHav.reason)
    assert(rHav.df.collect().map(x => Option(x.getString(0))).toSet ==
      truth.filter(_._2.getDouble(3) >= expTop.head._2).keySet)

    // refusals LAST — each shape would need the fact itself:
    // a FACT-side EQUALITY changes what the blob's totals mean and is
    // not a band the histograms can model (a fact-side RANGE now
    // serves via the star-range path — its own test below)
    val rw = eng.query("SELECT region, count(*) AS cnt FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk WHERE v = 2 GROUP BY region")
    assert(!rw.servedFromCatalog, rw.reason)
    // outer joins keep unmatched rows the blob cannot name
    val ro = eng.query("SELECT region, count(*) AS cnt FROM star_f " +
      "LEFT JOIN star_d ON star_f.k = star_d.pk GROUP BY region")
    assert(!ro.servedFromCatalog, ro.reason)
    // an aggregate over a DIM column is not in the fact's blob
    val rd = eng.query("SELECT region, sum(sz) AS s FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk GROUP BY region")
    assert(!rd.servedFromCatalog, rd.reason)
    // grouping by a FACT column is the single-table serve's job
    val rg = eng.query("SELECT k, count(*) AS cnt FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk GROUP BY k")
    assert(!rg.servedFromCatalog, rg.reason)
    // staleness retires the serve
    cat.upsertTableStats("star_f", 999999L)
    assert(!eng.query(sqlStar).servedFromCatalog)

    // advisor loop: repeated star-shape misses advise the grouped
    // build on the FACT keyed by its join key (alongside the generic
    // AGMS pair); building it retires the advice and flips the query
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-star2").toString)
    val eng2 = new QueryEngine(spark, cat2)
    // v's range depends on k so the per-fk histogram grids DIFFER —
    // the percentile section below needs mismatched grids to refuse
    spark.range(0, 6000).select(
      expr("id % 20").as("k"),
      expr("cast(id % 37 as double) / 4.0 + cast(id % 20 as double)").as("v"))
      .createOrReplaceTempView("star_f")
    val sqlAdv = "SELECT region, sum(v) AS sv, count(*) AS cnt " +
      "FROM star_f JOIN star_d ON star_f.k = star_d.pk GROUP BY region"
    (1 to 3).foreach(_ => assert(!eng2.query(sqlAdv).servedFromCatalog))
    val advice = eng2.adviseSketches(minMisses = 3)
    assert(advice.exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.table.equalsIgnoreCase("star_f") &&
        a.candidate.column.equalsIgnoreCase("v") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("k"))),
      advice.toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat2,
      "star_f", "k", "v", 32)
    assert(eng2.adviseSketches(minMisses = 3).forall(a =>
      !(a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.table.equalsIgnoreCase("star_f"))))
    val rAdv = eng2.query(sqlAdv)
    assert(rAdv.servedFromCatalog && rAdv.serveKind.contains("star_group"),
      rAdv.reason)
    // the DISTINCT star shape advises the grouped HLL instead
    val sqlAdvD = "SELECT region, count(DISTINCT v) AS nd FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk GROUP BY region"
    (1 to 3).foreach(_ => assert(!eng2.query(sqlAdvD).servedFromCatalog))
    assert(eng2.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "hll_grouped" &&
        a.candidate.table.equalsIgnoreCase("star_f") &&
        a.candidate.column.equalsIgnoreCase("v") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("k"))))
    graft.sketch.SketchOps.createGroupedHll(spark, cat2, "star_f", "k", "v")
    val rAdvD = eng2.query(sqlAdvD)
    assert(rAdvD.servedFromCatalog && rAdvD.serveKind.contains("star_group"),
      rAdvD.reason)

    // star PERCENTILE: per-group grids refuse (one dim cell spans
    // several fk histograms whose grids differ); the misses advise the
    // SHARED-GRID build, which merges bucket counts per cell exactly
    // and serves to one bucket width of the global grid
    val sqlPct = "SELECT region, percentile(v, 0.5) AS p50 FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk GROUP BY region"
    (1 to 3).foreach(_ => assert(!eng2.query(sqlPct).servedFromCatalog))
    assert(eng2.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "histogram_grouped_shared" &&
        a.candidate.column.equalsIgnoreCase("v") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("k"))),
      eng2.adviseSketches(minMisses = 3).toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat2,
      "star_f", Seq("k"), "v", 32, sharedGrid = true)
    val rPct = eng2.query(sqlPct)
    assert(rPct.servedFromCatalog && rPct.serveKind.contains("star_group"),
      rPct.reason)
    assert(rPct.estimatedError == 1.0 / 32, rPct.estimatedError.toString)
    val truthP = spark.sql(
      "SELECT region, percentile(v, 0.5) AS p50 FROM star_f JOIN star_d " +
        "ON star_f.k = star_d.pk GROUP BY region").collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    val w = spark.sql("SELECT (max(v) - min(v)) / 32 AS w FROM star_f")
      .collect().head.getDouble(0)
    val pctRows = rPct.df.collect()
    assert(pctRows.map(x => Option(x.getString(0))).toSet == truthP.keySet)
    pctRows.foreach { x =>
      val g = Option(x.getString(0))
      assert(math.abs(x.getDouble(1) - truthP(g)) <= w + 1e-9,
        s"$g: ${x.getDouble(1)} vs ${truthP(g)} (w=$w)")
    }

    // SNOWFLAKE advice: the 3-table miss advises the same fact build,
    // and building it flips the chain query to the star serve
    val cat3 = new MetaCatalog(
      Files.createTempDirectory("graft-star3").toString)
    val eng3 = new QueryEngine(spark, cat3)
    val sqlSn2 = "SELECT zone, sum(v) AS sv FROM star_f " +
      "JOIN star_d ON star_f.k = star_d.pk " +
      "JOIN star_d2 ON star_d.region = star_d2.rg GROUP BY zone"
    (1 to 3).foreach(_ => assert(!eng3.query(sqlSn2).servedFromCatalog))
    assert(eng3.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.table.equalsIgnoreCase("star_f") &&
        a.candidate.column.equalsIgnoreCase("v") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("k"))),
      eng3.adviseSketches(minMisses = 3).toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat3,
      "star_f", "k", "v", 32)
    val rSn2 = eng3.query(sqlSn2)
    assert(rSn2.servedFromCatalog && rSn2.serveKind.contains("star_group"),
      rSn2.reason)
  }

  test("star-range serve: fact-side value band over fact ⋈ dim from the fk-keyed histogram + rider, fact never scanned") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-starrange").toString)
    val eng = new QueryEngine(spark, cat)
    // v ∈ {0..32} so the 32-bucket shared grid has width exactly 1.0
    // and band edges at integers sit ON bucket boundaries — the
    // estimates are then EXACT and comparable to truth bit-for-bit.
    // w is a second fact column the serve must refuse to aggregate.
    spark.range(0, 6000).select(
      expr("id % 20").as("k"),
      expr("cast(id % 33 as double)").as("v"),
      expr("cast(id % 5 as double)").as("w"))
      .createOrReplaceTempView("star_rf")
    spark.sql(
      """SELECT id AS pk,
           CASE WHEN id = 7 THEN CAST(NULL AS STRING)
                ELSE concat('r', id % 3) END AS region,
           CAST(id % 5 AS INT) AS sz
         FROM range(0, 20)""")
      .createOrReplaceTempView("star_rd")
    val sqlBand = "SELECT region, count(*) AS n_est, sum(v) AS s_est, " +
      "avg(v) AS a_est FROM star_rf JOIN star_rd " +
      "ON star_rf.k = star_rd.pk " +
      "WHERE v >= 8 AND v < 16 GROUP BY region"
    // truth with the portable renderings (band edges on bucket
    // boundaries → the serve's interpolation degenerates to the exact
    // clipped counts/sums)
    val truth = spark.sql(
      "SELECT region, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM star_rf JOIN star_rd ON star_rf.k = star_rd.pk " +
        "WHERE v >= 8 AND v < 16 GROUP BY region").collect()
      .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val truthW = spark.sql(
      "SELECT region, count(*) AS n FROM star_rf JOIN star_rd " +
        "ON star_rf.k = star_rd.pk " +
        "WHERE sz >= 2 AND v >= 8 AND v < 16 GROUP BY region").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val truthP = spark.sql(
      "SELECT region, percentile(v, 0.5) AS p50 FROM star_rf " +
        "JOIN star_rd ON star_rf.k = star_rd.pk " +
        "WHERE v >= 8 AND v < 16 GROUP BY region").collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "star_rf", Seq("k"), "v", 32, sharedGrid = true)
    // EMPTY the fact: a correct answer can only come from the blobs
    spark.range(0).select(expr("id").as("k"),
      expr("cast(id as double)").as("v"), expr("cast(id as double)").as("w"))
      .createOrReplaceTempView("star_rf")
    val r = eng.query(sqlBand, eng.Options(maxRelError = 0.9))
    assert(r.servedFromCatalog && r.serveKind.contains("star_range"),
      s"${r.serveKind}: ${r.reason}")
    val served = r.df.collect()
      .map(x => Option(x.getString(0)) ->
        ((x.getDouble(1), x.getDouble(2), x.getDouble(3)))).toMap
    assert(served.keySet == truth.keySet, s"$served vs $truth")
    served.foreach { case (g, (n, s, a)) =>
      val (tn, ts) = truth(g)
      assert(math.abs(n - tn.toDouble) < 1e-9, s"$g count: $n vs $tn")
      assert(math.abs(s - ts) < 1e-6, s"$g sum: $s vs $ts")
      assert(math.abs(a - ts / tn.toDouble) < 1e-9, s"$g avg")
    }
    // dim-side predicate composes: it restricts which dim rows fold
    val rw = eng.query("SELECT region, count(*) AS n_est FROM star_rf " +
      "JOIN star_rd ON star_rf.k = star_rd.pk " +
      "WHERE sz >= 2 AND v >= 8 AND v < 16 GROUP BY region",
      eng.Options(maxRelError = 0.9))
    assert(rw.servedFromCatalog && rw.serveKind.contains("star_range"),
      rw.reason)
    assert(rw.df.collect().map(x =>
      Option(x.getString(0)) -> x.getDouble(1).toLong).toMap == truthW)
    // in-band percentile serves by the range-segment walk, within one
    // bucket width of the exact in-band median
    val rp = eng.query("SELECT region, percentile(v, 0.5) AS p50 " +
      "FROM star_rf JOIN star_rd ON star_rf.k = star_rd.pk " +
      "WHERE v >= 8 AND v < 16 GROUP BY region",
      eng.Options(maxRelError = 0.9))
    assert(rp.servedFromCatalog && rp.serveKind.contains("star_range"),
      rp.reason)
    rp.df.collect().foreach { x =>
      val g = Option(x.getString(0))
      assert(math.abs(x.getDouble(1) - truthP(g)) <= 1.0 + 1e-9,
        s"$g: ${x.getDouble(1)} vs ${truthP(g)}")
    }
    // dashboard peel replays over the served rows
    val rPeel = eng.query("SELECT region, count(*) AS n_est FROM star_rf " +
      "JOIN star_rd ON star_rf.k = star_rd.pk " +
      "WHERE v >= 8 AND v < 16 GROUP BY region " +
      "ORDER BY n_est DESC, region LIMIT 2", eng.Options(maxRelError = 0.9))
    assert(rPeel.servedFromCatalog && rPeel.serveKind.contains("star_range"),
      rPeel.reason)
    assert(rPeel.df.count() == 2)
    // refusals: an aggregate over a DIFFERENT fact column (the
    // histogram models only the range column's distribution)
    val rOther = eng.query("SELECT region, sum(w) AS sw FROM star_rf " +
      "JOIN star_rd ON star_rf.k = star_rd.pk " +
      "WHERE v >= 8 AND v < 16 GROUP BY region",
      eng.Options(maxRelError = 0.9))
    assert(!rOther.servedFromCatalog, rOther.reason)
    // a fact-side EQUALITY conjunct alongside the band
    val rEq = eng.query("SELECT region, count(*) AS n_est FROM star_rf " +
      "JOIN star_rd ON star_rf.k = star_rd.pk " +
      "WHERE v >= 8 AND v < 16 AND k = 3 GROUP BY region",
      eng.Options(maxRelError = 0.9))
    assert(!rEq.servedFromCatalog, rEq.reason)
    // a band touching boundary mass refuses a near-zero budget
    val rTight = eng.query(sqlBand, eng.Options(maxRelError = 1e-9))
    assert(!rTight.servedFromCatalog, rTight.reason)
    // staleness retires the serve
    cat.upsertTableStats("star_rf", 999999L)
    assert(!eng.query(sqlBand,
      eng.Options(maxRelError = 0.9)).servedFromCatalog)

    // per-group grids refuse multi-fk cells: v's range depends on k,
    // so one region cell would merge histograms with differing grids
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-starrange2").toString)
    val eng2 = new QueryEngine(spark, cat2)
    spark.range(0, 6000).select(
      expr("id % 20").as("k"),
      expr("cast(id % 33 as double) * (1.0 + cast(id % 20 as double))").as("v"))
      .createOrReplaceTempView("star_rf2")
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat2,
      "star_rf2", Seq("k"), "v", 32)
    val rGrid = eng2.query("SELECT region, count(*) AS n_est " +
      "FROM star_rf2 JOIN star_rd ON star_rf2.k = star_rd.pk " +
      "WHERE v >= 8 AND v < 16 GROUP BY region",
      eng2.Options(maxRelError = 0.9))
    assert(!rGrid.servedFromCatalog, rGrid.reason)

    // advisor: star-range misses advise the SHARED-GRID build on the
    // range column (a count(*)-only band names its value column);
    // building it flips the query to the serve. The band is wide
    // enough that the boundary-mass bound clears the budget.
    val sqlBand2 = "SELECT region, count(*) AS n_est " +
      "FROM star_rf2 JOIN star_rd ON star_rf2.k = star_rd.pk " +
      "WHERE v >= 160 AND v < 480 GROUP BY region"
    (1 to 3).foreach(_ => assert(!eng2.query(sqlBand2,
      eng2.Options(maxRelError = 0.9)).servedFromCatalog))
    assert(eng2.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "histogram_grouped_shared" &&
        a.candidate.table.equalsIgnoreCase("star_rf2") &&
        a.candidate.column.equalsIgnoreCase("v") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("k"))),
      eng2.adviseSketches(minMisses = 3).toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat2,
      "star_rf2", Seq("k"), "v", 32, sharedGrid = true)
    assert(eng2.adviseSketches(minMisses = 3).forall(a =>
      !(a.candidate.sketchType == "histogram_grouped_shared" &&
        a.candidate.table.equalsIgnoreCase("star_rf2"))))
    val rFlip = eng2.query(sqlBand2, eng2.Options(maxRelError = 0.9))
    assert(rFlip.servedFromCatalog && rFlip.serveKind.contains("star_range"),
      rFlip.reason)
  }

  test("star serve with a fact-side equality/IN: the composite blob prunes and collapses, fact never scanned") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-stareq").toString)
    val eng = new QueryEngine(spark, cat)
    // 20, 3, 37 pairwise coprime: every (k, flag) cell sees the same v
    // value set, so per-cell histogram grids are identical and the
    // percentile section's cross-fk merges are legitimate
    spark.range(0, 6000).select(
      expr("id % 20").as("k"),
      expr("concat('f', id % 3)").as("flag"),
      expr("cast(id % 37 as double) / 4.0 + 1.0").as("v"))
      .createOrReplaceTempView("star_ef")
    spark.sql(
      """SELECT id AS pk, concat('r', id % 3) AS region,
           CAST(id % 5 AS INT) AS sz FROM range(0, 20)""")
      .createOrReplaceTempView("star_ed")
    def truthFor(where: String): Map[String, (Long, Double)] =
      spark.sql(
        "SELECT region, count(*) AS n, " +
          "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
          "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
          s"WHERE $where GROUP BY region").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val truthAll = spark.sql(
      "SELECT region, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
        "GROUP BY region").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val truthEq = truthFor("flag = 'f1'")
    val truthIn = truthFor("flag IN ('f0', 'f2')")
    val truthBoth = truthFor("sz >= 2 AND flag = 'f1'")
    val truthNd = spark.sql(
      "SELECT region, count(DISTINCT v) AS nd FROM star_ef " +
        "JOIN star_ed ON star_ef.k = star_ed.pk " +
        "WHERE flag = 'f1' GROUP BY region").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truthP = spark.sql(
      "SELECT region, percentile(v, 0.5) AS p50 FROM star_ef " +
        "JOIN star_ed ON star_ef.k = star_ed.pk " +
        "WHERE flag = 'f1' GROUP BY region").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w = spark.sql("SELECT (max(v) - min(v)) / 32 AS w FROM star_ef " +
      "WHERE flag = 'f1'").collect().head.getDouble(0)
    val truthMix = spark.sql(
      "SELECT region, flag, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
        "GROUP BY region, flag").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val truthFactOnly = spark.sql(
      "SELECT flag, count(*) AS n FROM star_ef JOIN star_ed " +
        "ON star_ef.k = star_ed.pk GROUP BY flag").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truthRB = spark.sql(
      "SELECT region, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
        "WHERE flag = 'f1' AND v >= 8.59375 GROUP BY region").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "star_ef", Seq("k", "flag"), "v", 32)
    graft.sketch.SketchOps.createGroupedHll(spark, cat,
      "star_ef", Seq("k", "flag"), "v", 12)
    // EMPTY the fact: a correct answer can only come from the blobs
    spark.range(0).select(expr("id").as("k"),
      expr("cast(id as string)").as("flag"),
      expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("star_ef")
    def check(r: graft.engine.QueryEngine#AqeResult,
        truth: Map[String, (Long, Double)]): Unit = {
      assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
        s"${r.serveKind}: ${r.reason}")
      assert(r.estimatedError == 0.0)
      val served = r.df.collect()
        .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
      assert(served == truth, s"$served vs $truth")
    }
    check(eng.query("SELECT region, count(*) AS n, sum(v) AS s " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE flag = 'f1' GROUP BY region"), truthEq)
    // IN-list: several residual values MERGE per fk before the fold
    check(eng.query("SELECT region, count(*) AS n, sum(v) AS s " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE flag IN ('f0', 'f2') GROUP BY region"), truthIn)
    // dim-side and fact-side predicates compose
    check(eng.query("SELECT region, count(*) AS n, sum(v) AS s " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE sz >= 2 AND flag = 'f1' GROUP BY region"), truthBoth)
    // MIXED GROUP BY (dim attr × fact column): the fact component of
    // the composite key becomes a served dimension — exact
    val rMix = eng.query("SELECT region, flag, count(*) AS n, " +
      "sum(v) AS s FROM star_ef JOIN star_ed " +
      "ON star_ef.k = star_ed.pk GROUP BY region, flag")
    assert(rMix.servedFromCatalog && rMix.serveKind.contains("star_group"),
      s"${rMix.serveKind}: ${rMix.reason}")
    assert(rMix.estimatedError == 0.0)
    val servedMix = rMix.df.collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getDouble(3)))).toMap
    assert(servedMix == truthMix, s"$servedMix vs $truthMix")
    // fact-only GROUP BY through the join (the dim just gates/fans
    // the fks) — count per flag, exact
    val rFo = eng.query("SELECT flag, count(*) AS n FROM star_ef " +
      "JOIN star_ed ON star_ef.k = star_ed.pk GROUP BY flag")
    assert(rFo.servedFromCatalog && rFo.serveKind.contains("star_group"),
      s"${rFo.serveKind}: ${rFo.reason}")
    assert(rFo.df.collect().map(x =>
      x.getString(0) -> x.getLong(1)).toMap == truthFactOnly)
    // the PLAIN star (no filter, no fact key) collapses the flag axis
    // of the same wide blob — the marginal through the join, exact
    val rPlain = eng.query("SELECT region, count(*) AS n, sum(v) AS s " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "GROUP BY region")
    assert(rPlain.servedFromCatalog &&
      rPlain.serveKind.contains("star_group"),
      s"${rPlain.serveKind}: ${rPlain.reason}")
    assert(rPlain.estimatedError == 0.0)
    assert(rPlain.df.collect().map(x =>
      x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap ==
      truthAll, rPlain.df.collect().mkString(","))
    // count(DISTINCT v) under the filter: collapsed HLLs stay
    // register-max unions — distinct over the filtered union
    val rNd = eng.query("SELECT region, count(DISTINCT v) AS nd " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE flag = 'f1' GROUP BY region")
    assert(rNd.servedFromCatalog && rNd.serveKind.contains("star_group"),
      rNd.reason)
    rNd.df.collect().foreach { x =>
      val t = truthNd(x.getString(0)).toDouble
      assert(math.abs(x.getLong(1) - t) / t < 0.15,
        s"${x.getString(0)}: ${x.getLong(1)} vs $t")
    }
    // percentile under the filter: identical per-cell grids merge
    val rP = eng.query("SELECT region, percentile(v, 0.5) AS p50 " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE flag = 'f1' GROUP BY region")
    assert(rP.servedFromCatalog && rP.serveKind.contains("star_group"),
      rP.reason)
    rP.df.collect().foreach { x =>
      assert(math.abs(x.getDouble(1) - truthP(x.getString(0))) <= w + 1e-9,
        s"${x.getString(0)}: ${x.getDouble(1)} vs ${truthP(x.getString(0))}")
    }
    // star-range UNDER the fact filter: the composite blob prunes on
    // the flag, collapses per fk (identical grids by the coprime
    // construction), and the band interpolates per region. The band's
    // lower edge 8.59375 = 1 + 27·(9/32) sits ON a bucket boundary
    // (9/32 is dyadic), so the estimates are exact against truth.
    val rRB = eng.query("SELECT region, count(*) AS n_est, " +
      "sum(v) AS s_est FROM star_ef JOIN star_ed " +
      "ON star_ef.k = star_ed.pk " +
      "WHERE flag = 'f1' AND v >= 8.59375 GROUP BY region",
      eng.Options(maxRelError = 0.9))
    assert(rRB.servedFromCatalog && rRB.serveKind.contains("star_range"),
      s"${rRB.serveKind}: ${rRB.reason}")
    rRB.df.collect().foreach { x =>
      val (tn, ts) = truthRB(x.getString(0))
      assert(math.abs(x.getDouble(1) - tn.toDouble) < 1e-9,
        s"${x.getString(0)} count: ${x.getDouble(1)} vs $tn")
      assert(math.abs(x.getDouble(2) - ts) < 1e-6,
        s"${x.getString(0)} sum: ${x.getDouble(2)} vs $ts")
    }
    // an unknown literal prunes everything: the served answer is the
    // exact EMPTY result, not a refusal
    val rNone = eng.query("SELECT region, count(*) AS n, sum(v) AS s " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE flag = 'zzz' GROUP BY region")
    assert(rNone.servedFromCatalog && rNone.df.count() == 0, rNone.reason)
    // refusals LAST: an equality on the JOIN KEY itself; a filter
    // column no composite blob covers
    val rFk = eng.query("SELECT region, count(*) AS n FROM star_ef " +
      "JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE k = 3 GROUP BY region")
    assert(!rFk.servedFromCatalog, rFk.reason)
    val rNoBlob = eng.query("SELECT region, count(*) AS n FROM star_ef " +
      "JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE v = 2 GROUP BY region")
    assert(!rNoBlob.servedFromCatalog, rNoBlob.reason)
    // filtering AND grouping the same fact column refuses (the
    // single-table key-filter serves own that shape)
    val rClash = eng.query("SELECT region, flag, count(*) AS n " +
      "FROM star_ef JOIN star_ed ON star_ef.k = star_ed.pk " +
      "WHERE flag = 'f1' GROUP BY region, flag")
    assert(!rClash.servedFromCatalog, rClash.reason)
  }

  test("timestamp group keys: grouped serves parse the canonical rendering back, fractional seconds included") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-tskey").toString)
    val eng = new QueryEngine(spark, cat)
    // 10 distinct stamps: 5 days × {midnight, +0.5s} — the fractional
    // rendering ("...00.5") exercises the non-integer-second parse
    spark.range(0, 3000).select(
      expr("timestamp_micros(1700000000000000L + (id % 5) * 86400000000L" +
        " + (id % 2) * 500000L)").as("day"),
      expr("cast(id % 23 as double)").as("v"))
      .createOrReplaceTempView("ts_t")
    val truth = spark.sql(
      "SELECT day, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM ts_t GROUP BY day").collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "ts_t", Seq("day"), "v", 32)
    spark.range(0).select(
      expr("timestamp_micros(id)").as("day"),
      expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("ts_t")
    val r = eng.query("SELECT day, count(*) AS n, sum(v) AS s " +
      "FROM ts_t GROUP BY day ORDER BY day")
    assert(r.servedFromCatalog, r.reason)
    assert(r.estimatedError == 0.0)
    val rows = r.df.collect()
    assert(rows.map(x => x.getTimestamp(0) ->
      ((x.getLong(1), x.getDouble(2)))).toMap == truth)
    // the ORDER BY replay sorts natively (chronological, not lexical)
    assert(rows.map(_.getTimestamp(0)).toSeq ==
      truth.keySet.toSeq.sortBy(_.getTime))
  }

  test("wide composite blobs serve narrower rollups: unused key components collapse exactly") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-wide").toString)
    val eng = new QueryEngine(spark, cat)
    // 40k rows: clears the chooser's small-table exact rule, which
    // gates the COUNT(DISTINCT) sketch strategy (the stats/histogram
    // serves dispatch before the chooser and do not need it)
    spark.range(0, 40000).select(
      expr("concat('a', id % 4)").as("a"),
      expr("concat('b', id % 5)").as("b"),
      expr("cast(id % 29 as double)").as("v"))
      .createOrReplaceTempView("wide_t")
    val truthA = spark.sql(
      "SELECT a, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM wide_t GROUP BY a").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val truthNd = spark.sql(
      "SELECT a, count(DISTINCT v) AS nd FROM wide_t GROUP BY a").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truthP = spark.sql(
      "SELECT a, percentile(v, 0.5) AS p50 FROM wide_t GROUP BY a").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w = spark.sql("SELECT (max(v) - min(v)) / 32 AS w FROM wide_t")
      .collect().head.getDouble(0)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "wide_t", Seq("a", "b"), "v", 32, sharedGrid = true)
    graft.sketch.SketchOps.createGroupedHll(spark, cat,
      "wide_t", Seq("a", "b"), "v", 12)
    // distinct counts BEFORE emptying (the COUNT DISTINCT route is
    // chooser-gated and live-counts the table — an empty view reads as
    // a small table and runs exact): register-max union over the
    // collapsed key is distinct-over-union; servedFromCatalog proves
    // the zero-scan path regardless
    val rNd = eng.query("SELECT a, count(DISTINCT v) AS nd FROM wide_t " +
      "GROUP BY a")
    assert(rNd.servedFromCatalog, rNd.reason)
    rNd.df.collect().foreach { x =>
      val t = truthNd(x.getString(0)).toDouble
      assert(math.abs(x.getLong(1) - t) / t < 0.15,
        s"${x.getString(0)}: ${x.getLong(1)} vs $t")
    }
    // EMPTY the backing view: answers must come from the collapse
    spark.range(0).select(expr("cast(id as string)").as("a"),
      expr("cast(id as string)").as("b"), expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("wide_t")
    val rA = eng.query("SELECT a, count(*) AS n, sum(v) AS s " +
      "FROM wide_t GROUP BY a")
    assert(rA.servedFromCatalog, rA.reason)
    assert(rA.estimatedError == 0.0)
    assert(rA.df.collect().map(x =>
      x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap == truthA)
    // the OTHER marginal serves from the same blob (count(*)-only
    // grouped shapes keep their sampling route — the value aggregate
    // anchors the stats path, as everywhere)
    val rB = eng.query("SELECT b, count(*) AS n, sum(v) AS s " +
      "FROM wide_t GROUP BY b")
    assert(rB.servedFromCatalog, rB.reason)
    assert(rB.df.count() == 5)
    // percentiles: shared-grid bucket counts add across the collapsed
    // key and interpolate within one bucket width
    val rP = eng.query("SELECT a, percentile(v, 0.5) AS p50 FROM wide_t " +
      "GROUP BY a")
    assert(rP.servedFromCatalog, rP.reason)
    rP.df.collect().foreach { x =>
      assert(math.abs(x.getDouble(1) - truthP(x.getString(0))) <= w + 1e-9,
        s"${x.getString(0)}: ${x.getDouble(1)} vs ${truthP(x.getString(0))}")
    }
    // keys-only DISTINCT serves the marginal key set
    val rD = eng.query("SELECT DISTINCT a FROM wide_t ORDER BY a")
    assert(rD.servedFromCatalog, rD.reason)
    assert(rD.df.collect().map(_.getString(0)).toSeq ==
      Seq("a0", "a1", "a2", "a3"))
    // a column outside the blob's key set refuses
    val rV = eng.query("SELECT v, count(*) AS n FROM wide_t GROUP BY v")
    assert(!rV.servedFromCatalog, rV.reason)
  }

  test("ungrouped star aggregates fold to one cell; zero joined rows serve the exact empty-aggregate row") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-starun").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 6000).select(
      expr("id % 20").as("k"),
      expr("cast(id % 33 as double)").as("v"))
      .createOrReplaceTempView("star_uf")
    spark.sql("SELECT id AS pk, CAST(id % 5 AS INT) AS sz FROM range(0, 20)")
      .createOrReplaceTempView("star_ud")
    val truth = spark.sql(
      "SELECT count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM star_uf JOIN star_ud ON star_uf.k = star_ud.pk " +
        "WHERE sz >= 2").collect().head
    val truthB = spark.sql(
      "SELECT count(*) AS n FROM star_uf JOIN star_ud " +
        "ON star_uf.k = star_ud.pk WHERE v >= 8 AND v < 16")
      .collect().head.getLong(0)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "star_uf", Seq("k"), "v", 32, sharedGrid = true)
    spark.range(0).select(expr("id").as("k"),
      expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("star_uf")
    val r = eng.query("SELECT count(*) AS n, sum(v) AS s FROM star_uf " +
      "JOIN star_ud ON star_uf.k = star_ud.pk WHERE sz >= 2")
    assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
      s"${r.serveKind}: ${r.reason}")
    val row = r.df.collect().head
    assert(row.getLong(0) == truth.getLong(0) &&
      math.abs(row.getDouble(1) - truth.getDouble(1)) < 1e-6,
      s"$row vs $truth")
    // a dim filter matching NO rows: exact execution's one-row answer
    val r0 = eng.query("SELECT count(*) AS n, sum(v) AS s FROM star_uf " +
      "JOIN star_ud ON star_uf.k = star_ud.pk WHERE sz >= 99")
    assert(r0.servedFromCatalog, r0.reason)
    val row0 = r0.df.collect().head
    assert(row0.getLong(0) == 0L && row0.isNullAt(1), row0.toString)
    // the ungrouped BAND folds all suppliers into one histogram
    // (bucket-edge bounds → exact)
    val rB = eng.query("SELECT count(*) AS n_est FROM star_uf " +
      "JOIN star_ud ON star_uf.k = star_ud.pk " +
      "WHERE v >= 8 AND v < 16", eng.Options(maxRelError = 0.9))
    assert(rB.servedFromCatalog && rB.serveKind.contains("star_range"),
      s"${rB.serveKind}: ${rB.reason}")
    assert(math.abs(rB.df.collect().head.getDouble(0) -
      truthB.toDouble) < 1e-9, rB.df.collect().head.toString)

    // advisor: repeated UNGROUPED star misses classify too — the KPI
    // shape advises the fk-keyed build, and running it flips the serve
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-starun2").toString)
    val eng2 = new QueryEngine(spark, cat2)
    spark.range(0, 6000).select(expr("id % 20").as("k"),
      expr("cast(id % 33 as double)").as("v"))
      .createOrReplaceTempView("star_uf")
    val sqlK = "SELECT count(*) AS n, sum(v) AS s FROM star_uf " +
      "JOIN star_ud ON star_uf.k = star_ud.pk WHERE sz >= 2"
    (1 to 3).foreach(_ => assert(!eng2.query(sqlK).servedFromCatalog))
    assert(eng2.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.table.equalsIgnoreCase("star_uf") &&
        a.candidate.column.equalsIgnoreCase("v") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("k"))),
      eng2.adviseSketches(minMisses = 3).toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat2,
      "star_uf", Seq("k"), "v", 32)
    assert(eng2.query(sqlK).servedFromCatalog)
  }

  test("composite-fk star: a two-column equi-join serves from the fk-tuple blob, fact never scanned") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-starcfk").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 6000).select(
      expr("id % 4").as("k1"),
      expr("concat('s', id % 5)").as("k2"),
      expr("cast(id % 29 as double)").as("v"))
      .createOrReplaceTempView("star_cf")
    spark.sql(
      """SELECT id % 4 AS pk1, concat('s', id % 5) AS pk2,
           concat('r', id % 3) AS region FROM range(0, 20)""")
      .createOrReplaceTempView("star_cd")
    val sqlC = "SELECT region, count(*) AS n, sum(v) AS s FROM star_cf " +
      "JOIN star_cd ON star_cf.k1 = star_cd.pk1 " +
      "AND star_cf.k2 = star_cd.pk2 GROUP BY region"
    val truth = spark.sql(
      "SELECT region, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s FROM star_cf " +
        "JOIN star_cd ON star_cf.k1 = star_cd.pk1 " +
        "AND star_cf.k2 = star_cd.pk2 GROUP BY region").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val truthU = spark.sql(
      "SELECT count(*) AS n FROM star_cf JOIN star_cd " +
        "ON star_cf.k1 = star_cd.pk1 AND star_cf.k2 = star_cd.pk2")
      .collect().head.getLong(0)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "star_cf", Seq("k1", "k2"), "v", 32, sharedGrid = true)
    spark.range(0).select(expr("id").as("k1"),
      expr("cast(id as string)").as("k2"), expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("star_cf")
    val r = eng.query(sqlC)
    assert(r.servedFromCatalog && r.serveKind.contains("star_group"),
      s"${r.serveKind}: ${r.reason}")
    assert(r.estimatedError == 0.0)
    assert(r.df.collect().map(x =>
      x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap == truth)
    // the ungrouped composite-key KPI folds the tuple blob too
    val rU = eng.query("SELECT count(*) AS n FROM star_cf JOIN star_cd " +
      "ON star_cf.k1 = star_cd.pk1 AND star_cf.k2 = star_cd.pk2")
    assert(rU.servedFromCatalog, rU.reason)
    assert(rU.df.collect().head.getLong(0) == truthU)
  }

  test("expression group keys: GROUP BY to_date(ts) serves from a blob keyed on the same rendering") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-exprkey").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 7000).select(
      expr("timestamp_micros(1700000000000000L + (id % 7) * 86400000000L" +
        " + id * 1000L)").as("ts"),
      expr("cast(id % 13 as double)").as("v"),
      expr("cast(id % 5 as double)").as("w"))
      .createOrReplaceTempView("evt_t")
    // advisor loop FIRST (needs the live view): repeated misses on an
    // expression-key shape advise a build keyed on the rendering (a
    // SECOND value column — a year(ts) build on v would overwrite the
    // to_date(ts) blob below, one blob per (table, valueCol, type))
    val sqlAdv = "SELECT year(ts) AS y, count(*) AS n, sum(w) AS sw " +
      "FROM evt_t GROUP BY year(ts)"
    (1 to 3).foreach(_ =>
      assert(!eng.query(sqlAdv).servedFromCatalog))
    assert(eng.adviseSketches(minMisses = 3).exists(a =>
      a.candidate.sketchType == "histogram_grouped" &&
        a.candidate.table.equalsIgnoreCase("evt_t") &&
        a.candidate.column.equalsIgnoreCase("w") &&
        a.candidate.groupBy.exists(_.equalsIgnoreCase("year(ts)"))),
      eng.adviseSketches(minMisses = 3).toString)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "evt_t", Seq("year(ts)"), "w", 32)
    val rAdv = eng.query(sqlAdv)
    assert(rAdv.servedFromCatalog, rAdv.reason)
    val truth = spark.sql(
      "SELECT to_date(ts) AS day, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM evt_t GROUP BY to_date(ts)").collect()
      .map(r => r.getDate(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "evt_t", Seq("to_date(ts)"), "v", 32)
    // EMPTY the backing view
    spark.range(0).select(expr("timestamp_micros(id)").as("ts"),
      expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("evt_t")
    val r = eng.query("SELECT to_date(ts) AS day, count(*) AS n, " +
      "sum(v) AS s FROM evt_t GROUP BY to_date(ts)")
    assert(r.servedFromCatalog, r.reason)
    assert(r.estimatedError == 0.0)
    assert(r.df.schema.head.dataType ==
      org.apache.spark.sql.types.DateType)
    assert(r.df.collect().map(x =>
      x.getDate(0) -> ((x.getLong(1), x.getDouble(2)))).toMap == truth)
    // a DIFFERENT expression over the same column refuses (no blob
    // keyed on its rendering)
    val rY = eng.query("SELECT year(ts) AS y, count(*) AS n, " +
      "sum(v) AS s FROM evt_t GROUP BY year(ts)")
    assert(!rY.servedFromCatalog, rY.reason)
    // a nondeterministic / unlisted expression refuses outright
    val rC = eng.query("SELECT concat(cast(ts as string), 'x') AS k, " +
      "count(*) AS n, sum(v) AS s FROM evt_t " +
      "GROUP BY concat(cast(ts as string), 'x')")
    assert(!rC.servedFromCatalog, rC.reason)
  }

  test("expression-key spelling variants dispatch to the same blob (one canonicalizer)") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-canon").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 3000).select(
      expr("timestamp_micros(1700000000000000L + (id % 6) * 86400000000L)")
        .as("ts"),
      expr("cast(id % 19 as double)").as("v"))
      .createOrReplaceTempView("canon_t")
    val truth = spark.sql(
      "SELECT to_date(ts) AS day, count(*) AS n, " +
        "cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM canon_t GROUP BY to_date(ts)").collect()
      .map(r => r.getDate(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // build with the ALIAS spelling: `date(ts)` is the same function as
    // `to_date(ts)` — the canonicalizer must fold both to one rendering
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "canon_t", Seq("date(ts)"), "v", 32)
    spark.range(0).select(expr("timestamp_micros(id)").as("ts"),
      expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("canon_t")
    // the canonical spelling serves from the alias-spelled blob
    val r1 = eng.query("SELECT to_date(ts) AS day, count(*) AS n, " +
      "sum(v) AS s FROM canon_t GROUP BY to_date(ts)")
    assert(r1.servedFromCatalog, r1.reason)
    assert(r1.estimatedError == 0.0)
    assert(r1.df.collect().map(x =>
      x.getDate(0) -> ((x.getLong(1), x.getDouble(2)))).toMap == truth)
    // ... and so does the alias spelling itself, case-insensitively
    val r2 = eng.query("SELECT DATE(ts) AS day, count(*) AS n, " +
      "sum(v) AS s FROM canon_t GROUP BY DATE(ts)")
    assert(r2.servedFromCatalog, r2.reason)
    assert(r2.df.collect().map(x =>
      x.getDate(0) -> ((x.getLong(1), x.getDouble(2)))).toMap == truth)
  }

  test("timestamp group keys gate on a fixed-offset session zone (DST ambiguity)") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-dst").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 2000).select(
      expr("timestamp_micros(1700000000000000L + (id % 4) * 86400000000L)")
        .as("tk"),
      expr("cast(id % 13 as double)").as("v"))
      .createOrReplaceTempView("dst_t")
    // UTC build serves (the baseline behavior)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "dst_t", Seq("tk"), "v", 32)
    val r0 = eng.query("SELECT tk, count(*) AS n, sum(v) AS s " +
      "FROM dst_t GROUP BY tk")
    assert(r0.servedFromCatalog, r0.reason)
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      // a DST-zone BUILD refuses outright: the zone-local rendering
      // would merge two distinct fall-back-hour instants silently
      val ex = intercept[IllegalArgumentException] {
        graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
          "dst_t", Seq("tk"), "v", 32)
      }
      assert(ex.getMessage.contains("fixed-offset"), ex.getMessage)
      // a DST-zone SERVE refuses to the scan (never a wrong merge with
      // estimatedError == 0): the UTC-built blob's renderings denote
      // different instants in this zone
      val r1 = eng.query("SELECT tk, count(*) AS n, sum(v) AS s " +
        "FROM dst_t GROUP BY tk")
      assert(!r1.servedFromCatalog, r1.reason)
      // key-RANGE dispatch on the timestamp key refuses too
      val r2 = eng.query("SELECT tk, count(*) AS n, sum(v) AS s " +
        "FROM dst_t WHERE tk >= TIMESTAMP '2023-11-14 00:00:00' " +
        "GROUP BY tk")
      assert(!r2.servedFromCatalog, r2.reason)
    } finally
      spark.conf.set("spark.sql.session.timeZone", prevZone)
    // back in the fixed-offset zone the same blob serves again
    val r3 = eng.query("SELECT tk, count(*) AS n, sum(v) AS s " +
      "FROM dst_t GROUP BY tk")
    assert(r3.servedFromCatalog, r3.reason)
  }

  test("log-linear HDR sketch serves percentiles with a relative bound; equi-width preempts") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-hdrserve").toString)
    val eng = new QueryEngine(spark, cat)
    // ~3.5 decades of magnitude: the heavy-tail shape equi-width grids
    // model badly and the log grid models at constant relative error
    spark.range(0, 4000)
      .selectExpr("exp(cast(id % 800 as double) / 100.0d) as v")
      .createOrReplaceTempView("hdrq_t")
    val exact = spark.sql("SELECT percentile(v, 0.5), percentile(v, 0.95) " +
      "FROM hdrq_t").collect().head
    graft.sketch.SketchOps.createHdr(spark, cat, "hdrq_t", "v")
    // EMPTY the backing view: the answer must come from the blob
    spark.range(0).selectExpr("cast(id as double) as v")
      .createOrReplaceTempView("hdrq_t")
    val r = eng.query(
      "SELECT percentile(v, 0.5) AS p50, percentile(v, 0.95) AS p95 " +
        "FROM hdrq_t")
    assert(r.servedFromCatalog && r.serveKind.contains("hdr"),
      s"${r.serveKind}: ${r.reason}")
    assert(r.estimatedError == 1.0 / 32)
    val row = r.df.collect().head
    Seq(0, 1).foreach { i =>
      val t = exact.getDouble(i)
      assert(math.abs(row.getDouble(i) - t) / t <= 2.0 / 32,
        s"output $i: ${row.getDouble(i)} vs $t")
    }
    // MEDIAN dispatches as p=0.5
    val rM = eng.query("SELECT median(v) AS md FROM hdrq_t")
    assert(rM.servedFromCatalog && rM.serveKind.contains("hdr"), rM.reason)
    assert(rM.df.collect().head.getDouble(0) == row.getDouble(0))
    // a budget tighter than 1/m refuses to the scan path
    val rT = eng.query("SELECT percentile(v, 0.5) AS p50 FROM hdrq_t",
      eng.Options(maxRelError = 0.01))
    assert(!rT.servedFromCatalog, rT.reason)
    // a fresh equi-width histogram on the column PREEMPTS (dispatch
    // order — its absolute-bound oracle family stays pinned)
    spark.range(0, 4000)
      .selectExpr("exp(cast(id % 800 as double) / 100.0d) as v")
      .createOrReplaceTempView("hdrq_t")
    graft.sketch.SketchOps.createHdr(spark, cat, "hdrq_t", "v")
    graft.sketch.SketchOps.createHistogram(spark, cat, "hdrq_t", "v")
    val rH = eng.query("SELECT percentile(v, 0.5) AS p50 FROM hdrq_t")
    assert(rH.servedFromCatalog && rH.serveKind.contains("histogram"),
      s"${rH.serveKind}: ${rH.reason}")
  }

  test("hdr range serve: band count/sum/avg from the sketch + hdrsum rider; bounds honored") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-hdrrange").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 4000)
      .selectExpr("exp(cast(id % 800 as double) / 100.0d) as v")
      .createOrReplaceTempView("hdrr_t")
    graft.sketch.SketchOps.createHdr(spark, cat, "hdrr_t", "v")
    assert(cat.getSketch("hdrr_t", "v", "hdrsum").isDefined,
      "createHdr must write the hdrsum rider")
    val truth = spark.sql(
      "SELECT count(*) AS n, cast(sum(cast(v as decimal(18,4))) as double) AS s " +
        "FROM hdrr_t WHERE v >= 10 AND v < 1000").collect().head
    // EMPTY the view: the answer must come from the blobs
    spark.range(0).selectExpr("cast(id as double) as v")
      .createOrReplaceTempView("hdrr_t")
    val r = eng.query(
      "SELECT count(*) AS n_est, sum(v) AS s_est, avg(v) AS a_est " +
        "FROM hdrr_t WHERE v >= 10 AND v < 1000")
    assert(r.servedFromCatalog && r.serveKind.contains("hdr_range"),
      s"${r.serveKind}: ${r.reason}")
    val row = r.df.collect().head
    val nT = truth.getLong(0).toDouble
    val sT = truth.getDouble(1)
    assert(math.abs(row.getDouble(0) - nT) / nT <= 2.0 / 32,
      s"count ${row.getDouble(0)} vs $nT")
    assert(math.abs(row.getDouble(1) - sT) / sT <= 2.0 / 32,
      s"sum ${row.getDouble(1)} vs $sT")
    assert(row.getDouble(2) == row.getDouble(1) / row.getDouble(0))
    // an EMPTY range sums no rows: NULL, as exact SQL and the
    // histogram range serve answer — never a served 0.0
    val rE = eng.query(
      "SELECT count(*) AS n_est, sum(v) AS s_est " +
        "FROM hdrr_t WHERE v >= 10 AND v < 5")
    assert(rE.servedFromCatalog && rE.serveKind.contains("hdr_range"),
      s"${rE.serveKind}: ${rE.reason}")
    val e = rE.df.collect().head
    assert(e.getDouble(0) == 0.0 && e.isNullAt(1), e)
  }

  test("a malformed timestamp blob key refuses the serve instead of failing the query") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-badkey").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 2000).select(
      expr("timestamp_micros(1700000000000000L + (id % 3) * 86400000000L)")
        .as("tk"),
      expr("cast(id % 11 as double)").as("v"))
      .createOrReplaceTempView("bad_t")
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat,
      "bad_t", Seq("tk"), "v", 32)
    // corrupt ONE stats-blob key into an unparseable string (a
    // DateTimeParseException, not an IAE subtype — the serve guards
    // must still treat it as a refusal, not a query failure)
    val s = cat.getSketch("bad_t", "v", "stats_grouped").get
    val groups = graft.sketch.GroupedHll.unpack(s.data)
    val corrupted = graft.sketch.GroupedHll.pack(
      groups.zipWithIndex.map {
        case ((_, b), 0) => (Some("not-a-timestamp"), b)
        case (kb, _)     => kb
      })
    cat.upsertSketch(cat.SketchInfo(s.tableName, s.columnName, s.sketchType,
      corrupted, s.parameters, s.createdAt))
    val r = eng.query("SELECT tk, count(*) AS n, sum(v) AS s " +
      "FROM bad_t GROUP BY tk")
    // the exact fallback answers; no exception escapes
    assert(!r.servedFromCatalog, r.reason)
    assert(r.df.count() == 3)
  }

  test("stratified percentiles: integer weights replay as frequency; fractional weights stay unweighted") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-stratpct").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 30000).selectExpr(
      "concat('s', cast(id % 3 as string)) as st",
      "concat('g', cast(id % 2 as string)) as g2",
      "cast((id * 37) % 5000 as long) as v",
      "cast(id as string) as k")
      .createOrReplaceTempView("strat_t")
    graft.sample.Samplers.createStratifiedDeterministic(
      spark, cat, "strat_t", "st", "k")
    val r = eng.query(
      "SELECT st, g2, percentile(v, 0.5) AS p50, count(*) AS n FROM strat_t " +
        "GROUP BY st, g2", eng.Options(ciColumns = false))
    assert(r.planType == "stratified", r.reason)
    // the served value IS the frequency-weighted percentile over the
    // sample (each row replayed graft_weight times)
    val sampleTable = r.sampleTable.get
    val want = spark.sql(
      s"SELECT st, g2, percentile(v, 0.5, cast(graft_weight as bigint)) " +
        s"AS p FROM $sampleTable GROUP BY st, g2").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    r.df.collect().foreach { x =>
      assert(x.getDouble(2) == want((x.getString(0), x.getString(1))),
        s"${x.getString(0)}/${x.getString(1)}")
    }
    // PROPORTIONAL (seeded) weights are fractional: the frequency
    // rewrite must refuse and the percentile stays the plain sample
    // quantile (truncating a fractional weight would bias the rank)
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-stratpct2").toString)
    val eng2 = new QueryEngine(spark, cat2)
    graft.sample.Samplers.createStratified(
      spark, cat2, "strat_t", "st", 0.3)
    val r2 = eng2.query(
      "SELECT st, g2, percentile(v, 0.5) AS p50, count(*) AS n FROM strat_t " +
        "GROUP BY st, g2", eng2.Options(ciColumns = false))
    assert(r2.planType == "stratified", r2.reason)
    val ws = cat2.strataFor(r2.sampleTable.get).map(f => 1.0 / f.fraction)
    assert(ws.exists(x => x != math.rint(x)),
      s"fixture must produce fractional HT weights, got $ws")
    val want2 = spark.sql(
      s"SELECT st, g2, percentile(v, 0.5) AS p " +
        s"FROM ${r2.sampleTable.get} GROUP BY st, g2").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    r2.df.collect().foreach { x =>
      assert(x.getDouble(2) == want2((x.getString(0), x.getString(1))),
        s"${x.getString(0)}/${x.getString(1)}")
    }
  }

  test("grouped HDR range: boundary-only zero mass refuses the serve instead of dropping the group") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-hdrz").toString)
    val eng = new QueryEngine(spark, cat)
    // group z is ALL zeros; group p is strictly positive
    spark.range(0, 2000).selectExpr(
      "case when id % 2 = 0 then 'z' else 'p' end as g",
      "case when id % 2 = 0 then 0.0d " +
        "else 1.0d + cast(id % 100 as double) end as v")
      .createOrReplaceTempView("hdrz_t")
    graft.sketch.SketchOps.createGroupedHdr(spark, cat, "hdrz_t",
      Seq("g"), "v")
    // v >= 0: group z's only in-range mass is the zero bucket sitting
    // AT the lower bound — boundary mass with estimate 0. Serving
    // would silently DROP the z row exact execution returns, so the
    // whole serve must refuse to the scan
    val r = eng.query(
      "SELECT g, count(*) AS n FROM hdrz_t " +
        "WHERE v >= 0 AND v < 200 GROUP BY g",
      eng.Options(maxRelError = 0.5))
    assert(!r.servedFromCatalog, r.reason)
    assert(r.df.count() == 2)
    // a range strictly containing zero serves: the zero mass is
    // interior and counts exactly
    val r2 = eng.query(
      "SELECT g, count(*) AS n FROM hdrz_t " +
        "WHERE v >= -1 AND v < 200 GROUP BY g",
      eng.Options(maxRelError = 0.5))
    assert(r2.servedFromCatalog && r2.serveKind.contains("grouped_hdr_range"),
      s"${r2.serveKind}: ${r2.reason}")
    assert(r2.df.count() == 2)
  }

  test("grouped HDR percentiles: composite serve, EXACT marginal collapse, NULL groups") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-hdrg").toString)
    val eng = new QueryEngine(spark, cat)
    def mkView(): Unit = spark.range(0, 6000).selectExpr(
      "concat('a', cast(id % 3 as string)) as a",
      "concat('b', cast(id % 2 as string)) as b",
      // heavy tail over ~3 decades; the a2 group is all-NULL
      "case when id % 3 = 2 then cast(null as double) " +
        "else exp(cast(id % 700 as double) / 100.0d) end as v")
      .createOrReplaceTempView("hdrg_t")
    mkView()
    val exact = spark.sql(
      "SELECT a, b, percentile(v, 0.5) AS t FROM hdrg_t " +
        "WHERE v IS NOT NULL GROUP BY a, b").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    graft.sketch.SketchOps.createGroupedHdr(spark, cat, "hdrg_t",
      Seq("a", "b"), "v")
    // EMPTY the backing view: every answer below comes from the blob
    spark.range(0).selectExpr("'' as a", "'' as b",
      "cast(id as double) as v").createOrReplaceTempView("hdrg_t")
    val r = eng.query(
      "SELECT a, b, percentile(v, 0.5) AS p50 FROM hdrg_t GROUP BY a, b")
    assert(r.servedFromCatalog && r.serveKind.contains("grouped_hdr"),
      s"${r.serveKind}: ${r.reason}")
    assert(r.estimatedError == 1.0 / 32)
    val rows = r.df.collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    assert(rows.keySet.sizeIs == 6)
    // all-NULL groups serve NULL percentiles (the exact row set)
    assert(rows(("a2", "b0")).isEmpty && rows(("a2", "b1")).isEmpty)
    exact.foreach { case (k, t) =>
      assert(math.abs(rows(k).get - t) / t <= 2.0 / 32,
        s"$k: ${rows(k)} vs $t")
    }
    // the MARGINAL (GROUP BY a over the "a,b" blob) serves by EXACT
    // merge — the shape per-group-grid histograms refuse
    val rm = eng.query(
      "SELECT a, percentile(v, 0.9) AS p90 FROM hdrg_t GROUP BY a")
    assert(rm.servedFromCatalog && rm.serveKind.contains("grouped_hdr"),
      s"${rm.serveKind}: ${rm.reason}")
    val mVals = rm.df.collect().map(x => x.getString(0) ->
      (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    // ...and is bit-identical to a DIRECT single-key build (the merged
    // bucket counts are the same integers)
    mkView()
    val cat2 = new MetaCatalog(
      Files.createTempDirectory("graft-hdrg2").toString)
    val eng2 = new QueryEngine(spark, cat2)
    graft.sketch.SketchOps.createGroupedHdr(spark, cat2, "hdrg_t",
      Seq("a"), "v")
    val r2 = eng2.query(
      "SELECT a, percentile(v, 0.9) AS p90 FROM hdrg_t GROUP BY a")
    assert(r2.servedFromCatalog && r2.serveKind.contains("grouped_hdr"),
      s"${r2.serveKind}: ${r2.reason}")
    val dVals = r2.df.collect().map(x => x.getString(0) ->
      (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(mVals == dVals, s"marginal $mVals vs direct $dVals")
    // residual filter on the other component prunes then serves
    val rr = eng.query("SELECT a, percentile(v, 0.5) AS p50 " +
      "FROM hdrg_t WHERE b = 'b1' GROUP BY a")
    assert(rr.servedFromCatalog && rr.serveKind.contains("grouped_hdr"),
      s"${rr.serveKind}: ${rr.reason}")
    assert(rr.df.count() == 3)
    // the IN-list GLOBAL percentile merges the named groups exactly —
    // through the composite blob collapsed over b first (both steps
    // per-group-grid histograms refuse)
    val rI = eng.query("SELECT percentile(v, 0.5) AS p50 FROM hdrg_t " +
      "WHERE a IN ('a0', 'a1')")
    assert(rI.servedFromCatalog && rI.serveKind.contains("filtered_group"),
      s"${rI.serveKind}: ${rI.reason}")
    assert(!rI.df.collect().head.isNullAt(0))
    // a budget tighter than 1/m refuses
    val rT = eng.query(
      "SELECT a, b, percentile(v, 0.5) AS p50 FROM hdrg_t GROUP BY a, b",
      eng.Options(maxRelError = 0.01))
    assert(!rT.servedFromCatalog, rT.reason)
    // a grouped equi-width histogram on the same key set PREEMPTS
    // (dispatch order — its absolute-bound oracle family stays pinned)
    graft.sketch.SketchOps.createGroupedHistogram(spark, cat2, "hdrg_t",
      Seq("a"), "v", 64)
    val rH = eng2.query(
      "SELECT a, percentile(v, 0.9) AS p90 FROM hdrg_t GROUP BY a")
    assert(rH.servedFromCatalog && rH.serveKind.contains("grouped_histogram"),
      s"${rH.serveKind}: ${rH.reason}")
  }

  test("durable catalog: sketches and samples built in session 1 serve zero-scan in session 2; an append after reload still retires them (round 15 restart law)") {
    val dir = Files.createTempDirectory("graft-engine-restart").toString
    // ---- session 1: build a sketch and a materialized sample ----
    val cat1 = new MetaCatalog(dir)
    val eng1 = new QueryEngine(spark, cat1)
    graft.sketch.SketchOps.createHll(spark, cat1, "orders", "o_custkey")
    val (bkName, _) = Samplers.createBottomK(spark, cat1, "supplier",
      "s_suppkey", k = 32)
    val hllSql = "SELECT count(DISTINCT o_custkey) AS nd FROM orders"
    val r1 = eng1.query(hllSql)
    assert(r1.servedFromCatalog, r1.reason)
    val truth = r1.df.collect().head.getLong(0)

    // ---- session 2: a FRESH catalog + engine over the same workDir.
    // The sample's temp view is dropped too: serving must re-register
    // it from the persisted parquet path, not lean on session leftovers.
    spark.catalog.dropTempView(bkName)
    val cat2 = new MetaCatalog(dir)
    val eng2 = new QueryEngine(spark, cat2)
    val r2 = eng2.query(hllSql)
    assert(r2.servedFromCatalog && r2.planType == "sketch",
      s"${r2.planType}: ${r2.reason}")
    assert(r2.df.collect().head.getLong(0) == truth)

    // the reloaded bottom-k sample serves a SUM (the ApiServerSpec
    // pattern: stats forced over the small-table rule, sample
    // re-stamped fresh, tolerance admits √(1/k))
    cat2.upsertTableStats("supplier", 20000L)
    cat2.refreshSampleBase("supplier")
    val r3 = eng2.query(
      "SELECT count(*) AS n, sum(s_acctbal) AS s FROM supplier",
      eng2.Options(maxRelError = 0.4))
    assert(r3.planType == "bottomk", s"${r3.planType}: ${r3.reason}")
    assert(r3.sampleTable.contains(bkName), r3.sampleTable)

    // an append AFTER the reload still retires the sketch serve — the
    // freshness guard reads reloaded state exactly like live state
    cat2.upsertTableStats("orders",
      cat2.statsFor("orders").get.rowCount + 1)
    val r4 = eng2.query(hllSql)
    assert(!r4.servedFromCatalog, r4.reason)
  }

  test("a corrupt blob of a once-unguarded family refuses to the scan and the trace names it") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-refuse-cms").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 5000).select(expr("concat('k', id % 7)").as("k"))
      .createOrReplaceTempView("refuse_cms_t")
    graft.sketch.SketchOps.createCms(spark, cat, "refuse_cms_t", "k")
    cat.upsertTableStats("refuse_cms_t", 5000L)
    // keep the parameters (the serve reaches the decode) but store a
    // 1x1 table header: Cms.deserialize's dimension check throws
    val good = cat.getSketch("refuse_cms_t", "k", "countmin").get
    val bad = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(1).putInt(1).putDouble(0.01).putDouble(0.01).array()
    cat.upsertSketch(good.copy(data = bad))
    val sql = "SELECT count(*) AS n FROM refuse_cms_t WHERE k = 'k3'"
    val r = eng.query(sql)
    assert(!r.servedFromCatalog, s"${r.planType}: ${r.reason}")
    val step = r.trace.find(_.family == "cms")
      .getOrElse(fail(s"no cms step in ${r.trace}"))
    assert(step.outcome == "refused", step.toString)
    assert(step.reason.contains("parameter/dimension mismatch"), step.toString)
    // the families before it were tried in order and did not match
    assert(r.trace.map(_.family).takeWhile(_ != "cms") ==
      Seq("stats", "filtered_group", "histogram", "hdr", "grouped_histogram",
        "grouped_hdr", "grouped_stats", "distinct_count", "distinct_keys"),
      r.trace.toString)
    assert(r.df.collect().head.get(0) != null)
  }

  test("a serve failure that is not a declared refusal fails the query") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-refuse-loud").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 1000).select(expr("cast(id as double)").as("v"))
      .createOrReplaceTempView("refuse_loud_t")
    graft.sketch.SketchOps.createHistogram(spark, cat, "refuse_loud_t", "v")
    // a truncated blob is a bug, not malformed metadata: the decode's
    // BufferUnderflowException must surface, never become a refusal
    val good = cat.getSketch("refuse_loud_t", "v", "histogram").get
    cat.upsertSketch(good.copy(data = good.data.take(6)))
    intercept[java.nio.BufferUnderflowException] {
      eng.query("SELECT percentile(v, 0.5) AS p FROM refuse_loud_t")
    }
  }

  test("explain's serve_trace lists the equi-width histogram as served ahead of the HDR sketch") {
    val cat = new MetaCatalog(
      Files.createTempDirectory("graft-trace-explain").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 4000)
      .selectExpr("exp(cast(id % 800 as double) / 100.0d) as v")
      .createOrReplaceTempView("trace_t")
    graft.sketch.SketchOps.createHistogram(spark, cat, "trace_t", "v", 64)
    graft.sketch.SketchOps.createHdr(spark, cat, "trace_t", "v")
    // both bounds (1/64 and 1/32) fit this budget: order decides
    val r = eng.query("SELECT percentile(v, 0.5) AS p50 FROM trace_t",
      eng.Options(maxRelError = 0.05))
    assert(r.serveKind.contains("histogram"), r.reason)
    val v = graft.api.Json.parse(graft.api.Response.renderExplain(r))
      .fold(m => fail(m), identity)
    val steps = v("serve_trace") match {
      case Some(graft.api.Json.A(items)) => items.map(i =>
        (i("family").flatMap(_.str).get, i("outcome").flatMap(_.str).get))
      case other => fail(s"no serve_trace: $other")
    }
    assert(steps == Seq("stats" -> "no match", "filtered_group" -> "no match",
      "histogram" -> "served"), steps.toString)
    // the HDR sketch does serve the shape once the histogram is gone
    cat.dropSketch("trace_t", "v", "histogram")
    val rH = eng.query("SELECT percentile(v, 0.5) AS p50 FROM trace_t",
      eng.Options(maxRelError = 0.05))
    assert(rH.serveKind.contains("hdr"), rH.reason)
    assert(rH.trace.map(s => s.family -> s.outcome).contains("histogram" -> "no match"))
  }

  test("catalog-served answers collect without a Spark job; star serves read only their dimension inside query") {
    import org.apache.spark.sql.functions.expr
    val cat = new MetaCatalog(Files.createTempDirectory("graft-zero-job").toString)
    val eng = new QueryEngine(spark, cat)
    spark.range(0, 4000).select(
      expr("concat('g', id % 4)").as("g"), expr("concat('h', id % 3)").as("h"),
      expr("cast(id % 100 as double)").as("v"),
      expr("cast(id % 200 + 1 as double)").as("w"),
      expr("id % 50").as("k"),
      expr("CASE WHEN id % 2 = 0 THEN id % 10 ELSE id END").as("p"),
      expr("id % 20").as("d"), expr("cast(id % 33 as double)").as("u"),
      expr("id"))
      .createOrReplaceTempView("zj_f")
    spark.sql("SELECT id AS dk, concat('r', id % 3) AS region FROM range(0, 20)")
      .createOrReplaceTempView("zj_d")
    import graft.sketch.SketchOps
    SketchOps.createHistogram(spark, cat, "zj_f", "v", 64)
    SketchOps.createHdr(spark, cat, "zj_f", "w")
    SketchOps.createGroupedHistogram(spark, cat, "zj_f", Seq("g"), "v", 64)
    SketchOps.createGroupedHdr(spark, cat, "zj_f", Seq("h"), "w")
    SketchOps.createCms(spark, cat, "zj_f", "k")
    SketchOps.createTopK(spark, cat, "zj_f", Seq("p"), 100)
    SketchOps.createHll(spark, cat, "zj_f", "id")
    SketchOps.createGroupedHll(spark, cat, "zj_f", "g", "id")
    SketchOps.createGroupedHistogram(spark, cat, "zj_f", Seq("d"), "u", 32,
      sharedGrid = true)
    SketchOps.createKmv(spark, cat, "zj_f", "k")
    SketchOps.createKmv(spark, cat, "zj_d", "dk")
    // the chooser-gated serves (hll, grouped_hll) read the table's row
    // count from the catalog; without it the first one counts the table
    cat.upsertTableStats("zj_f", 4000L)
    val loose = eng.Options(maxRelError = 0.9)
    val single = Seq(
      ("stats", "SELECT min(v) AS lo, max(v) AS hi, sum(v) AS s, avg(v) AS a, " +
        "count(v) AS n FROM zj_f", eng.Options()),
      ("filtered_group",
        "SELECT min(v) AS lo, count(*) AS n FROM zj_f WHERE g = 'g1'", eng.Options()),
      ("histogram", "SELECT percentile(v, 0.5) AS p50 FROM zj_f", eng.Options()),
      ("hdr", "SELECT percentile(w, 0.9) AS p90 FROM zj_f", eng.Options()),
      ("grouped_histogram",
        "SELECT g, percentile(v, 0.5) AS p50 FROM zj_f GROUP BY g", eng.Options()),
      ("grouped_hdr",
        "SELECT h, percentile(w, 0.5) AS p50 FROM zj_f GROUP BY h", eng.Options()),
      ("grouped_stats",
        "SELECT g, min(v) AS lo, sum(v) AS s, count(*) AS n FROM zj_f GROUP BY g",
        eng.Options()),
      ("distinct_count", "SELECT count(DISTINCT g) AS n FROM zj_f", eng.Options()),
      ("distinct_keys", "SELECT g FROM zj_f GROUP BY g ORDER BY g", eng.Options()),
      ("cms", "SELECT count(*) AS n FROM zj_f WHERE k = 7", eng.Options()),
      ("histogram_range",
        "SELECT count(*) AS n FROM zj_f WHERE v >= 10 AND v < 50", loose),
      ("hdr_range", "SELECT count(*) AS n FROM zj_f WHERE w >= 10 AND w < 50", loose),
      ("grouped_histogram_range",
        "SELECT g, count(*) AS n FROM zj_f WHERE v >= 10 AND v < 50 GROUP BY g", loose),
      ("grouped_hdr_range",
        "SELECT h, count(*) AS n FROM zj_f WHERE w >= 10 AND w < 50 GROUP BY h", loose),
      ("filtered_range", "SELECT count(*) AS n, sum(v) AS s FROM zj_f " +
        "WHERE g = 'g1' AND v >= 10 AND v < 50", loose),
      ("topk", "SELECT p, count(*) AS c FROM zj_f GROUP BY p ORDER BY c DESC, p LIMIT 3",
        eng.Options()),
      ("hll", "SELECT count(DISTINCT id) AS n FROM zj_f", eng.Options()),
      ("grouped_hll",
        "SELECT g, count(DISTINCT id) AS n FROM zj_f GROUP BY g", eng.Options()),
      // a peeled HAVING + ORDER BY replayed over the served rows
      ("grouped_stats", "SELECT g, count(*) AS n, sum(v) AS s FROM zj_f " +
        "GROUP BY g HAVING s > 0 ORDER BY s DESC", eng.Options()),
      ("kmv_setop", "SELECT count(*) AS n FROM (SELECT k FROM zj_f " +
        "INTERSECT SELECT dk FROM zj_d) t", loose))
    val star = Seq(
      ("star_group", "SELECT region, count(*) AS n, sum(u) AS s FROM zj_f " +
        "JOIN zj_d ON zj_f.d = zj_d.dk GROUP BY region ORDER BY region", eng.Options()),
      ("star_range", "SELECT region, count(*) AS n FROM zj_f " +
        "JOIN zj_d ON zj_f.d = zj_d.dk WHERE u >= 8 AND u < 16 GROUP BY region", loose))
    val sc = spark.sparkContext
    val problems = (single ++ star).flatMap { case (kind, sql, opts) =>
      val (r, queryJobs) = org.apache.spark.JobCounter(sc)(eng.query(sql, opts))
      val (json, renderJobs) = org.apache.spark.JobCounter(sc)(graft.api.Response.render(r))
      val rows = graft.api.Json.parse(json).toOption
        .flatMap(_("meta")).flatMap(_("rows")).flatMap(_.num).getOrElse(0.0)
      val isStar = kind.startsWith("star_")
      Seq(
        Option.when(!r.serveKind.contains(kind))(s"$sql: served by ${r.serveKind} (${r.reason})"),
        Option.when(rows < 1)(s"$sql: no rows"),
        Option.when(renderJobs != 0)(s"$sql: render started $renderJobs jobs"),
        Option.when(!isStar && queryJobs != 0)(s"$sql: query started $queryJobs jobs")
      ).flatten
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
