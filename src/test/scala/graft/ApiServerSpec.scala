package graft

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.api.{Json, Server}
import graft.catalog.MetaCatalog
import graft.engine.QueryEngine

/** Boots the REST server on an ephemeral loopback port and asserts each
  * route's JSON contract against the reference's response shapes
  * (/root/reference/app.py:33-324).
  */
class ApiServerSpec extends SparkSpec {

  private lazy val (server: Server, engine: QueryEngine) = {
    Tables.registerAll(spark, sfDir)
    val e = new QueryEngine(spark,
      new MetaCatalog(Files.createTempDirectory("graft-http").toString))
    val s = new Server(e)
    s.start()
    (s, e)
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private def http(method: String, path: String, body: Option[String] = None)
      : (Int, String) = httpAt(server.boundPort, method, path, body)

  private def httpAt(port: Int, method: String, path: String,
      body: Option[String] = None): (Int, String) = {
    val url = URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val is = try {
      if (code >= 400) conn.getErrorStream else conn.getInputStream
    } catch { case _: IOException => conn.getErrorStream }
    val out = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, out)
  }

  private def parsed(body: String): Json.V =
    Json.parse(body).fold(m => fail(s"unparseable response $m: $body"), identity)

  test("GET /health returns status ok") {
    val (code, body) = http("GET", "/health")
    assert(code == 200)
    assert(parsed(body)("status").flatMap(_.str).contains("ok"))
  }

  test("GET / serves the web console; other paths 404") {
    val (code, body) = http("GET", "/")
    assert(code == 200)
    assert(body.contains("<html") && body.contains("/query"))
    val (nf, nfBody) = http("GET", "/nope")
    assert(nf == 404)
    assert(parsed(nfBody)("error").flatMap(_.str).contains("Not found"))
  }

  test("GET /tables lists registered tables") {
    val (code, body) = http("GET", "/tables")
    assert(code == 200)
    val tables = parsed(body)("tables") match {
      case Some(Json.A(items)) => items.flatMap(_.str)
      case other               => fail(s"no tables array: $other")
    }
    Tables.all.foreach(t => assert(tables.contains(t), s"missing $t"))
  }

  test("POST /query runs the engine pipeline and carries the contract") {
    val (code, body) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n FROM nation", "use_ml_optimization": true}"""))
    assert(code == 200)
    val v = parsed(body)
    assert(v("status").flatMap(_.str).contains("success"))
    assert(v("plan").flatMap(_("type")).flatMap(_.str).nonEmpty)
    assert(v("ml_optimization").flatMap(_("strategy")).flatMap(_.str).nonEmpty)
    v("result") match {
      case Some(Json.A(row :: Nil)) =>
        assert(row("n").flatMap(_.num).contains(25.0))
      case other => fail(s"expected one result row: $other")
    }
  }

  test("POST /query explain returns the plan without executing") {
    val (code, body) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n FROM nation", "explain": true}"""))
    assert(code == 200)
    val v = parsed(body)
    assert(v("plan").nonEmpty && v("ml_optimization").nonEmpty)
    assert(v("result").isEmpty)
  }

  test("POST /query marks a result cut at the row cap instead of passing the cap off as the row count") {
    val sql = "SELECT to_date(l_shipdate) AS day, count(*) AS n FROM lineitem " +
      "GROUP BY to_date(l_shipdate)"
    val groups = spark.sql(sql).count()
    assert(groups > 1000, s"fixture has only $groups days")
    val (code, body) = http("POST", "/query", Some(
      s"""{"sql": "$sql", "prefer_exact": true}"""))
    assert(code == 200, body.take(400))
    val v = parsed(body)
    val meta = v("meta").getOrElse(fail(s"no meta: ${body.take(400)}"))
    assert(meta("rows").flatMap(_.num).contains(1000.0))
    assert(meta("truncated").flatMap(_.bool).contains(true))
    assert(meta("row_cap").flatMap(_.num).contains(1000.0))
    v("result") match {
      case Some(Json.A(rows)) => assert(rows.size == 1000)
      case other              => fail(s"expected result rows: $other")
    }
    // an answer under the cap keeps meta.rows as its true row count
    val (c2, b2) = http("POST", "/query", Some(
      """{"sql": "SELECT n_name FROM nation", "prefer_exact": true}"""))
    assert(c2 == 200, b2.take(400))
    val m2 = parsed(b2)("meta").getOrElse(fail(b2.take(400)))
    assert(m2("rows").flatMap(_.num).contains(25.0))
    assert(m2("truncated").flatMap(_.bool).contains(false))
  }

  test("POST /query without sql is a 400") {
    val (code, body) = http("POST", "/query", Some("""{"max_rel_error": 0.1}"""))
    assert(code == 400)
    assert(parsed(body)("error").nonEmpty)
  }

  test("POST /samples/create materializes and registers a uniform sample") {
    val (code, body) = http("POST", "/samples/create", Some(
      """{"table": "orders", "sample_fraction": 0.1}"""))
    assert(code == 200)
    val v = parsed(body)
    assert(v("status").flatMap(_.str).contains("ok"))
    val name = v("sample_table").flatMap(_.str).getOrElse(fail("no sample_table"))
    assert(name == "orders__sample_0_1")
    assert(spark.table(name).count() == v("rows").flatMap(_.num).get.toLong)
    // the sample now shows up in /samples and /tables
    val (_, samples) = http("GET", "/samples?table=orders")
    assert(samples.contains(name))
    val (_, tables) = http("GET", "/tables")
    assert(tables.contains(name))
  }

  test("POST /samples/universe materializes a join-key-lottery sample pair") {
    val (c1, b1) = http("POST", "/samples/universe", Some(
      """{"table": "orders", "key_column": "o_orderkey", "sample_fraction": 0.05}"""))
    assert(c1 == 200, b1)
    val name = parsed(b1)("sample_table").flatMap(_.str)
      .getOrElse(fail("no sample_table"))
    assert(name.contains("__uni_o_orderkey"), name)
    assert(parsed(b1)("rows").flatMap(_.num).exists(_ > 0), b1)
    val (c2, b2) = http("POST", "/samples/universe", Some(
      """{"table": "lineitem", "key_column": "l_orderkey", "sample_fraction": 0.05}"""))
    assert(c2 == 200, b2)
    // registered (visible in the listing and queryable as a view)
    val (c3, b3) = http("GET", "/samples?table=orders")
    assert(c3 == 200 && b3.contains(name), b3)
    assert(spark.table(name).count() > 0)
    // missing key / bad fraction is a 400
    assert(http("POST", "/samples/universe",
      Some("""{"table": "orders"}"""))._1 == 400)
  }

  test("POST /samples/stratified returns per-stratum allocations") {
    val (code, body) = http("POST", "/samples/stratified", Some(
      """{"table": "orders", "strata_column": "o_orderpriority", "total_fraction": 0.2}"""))
    assert(code == 200)
    val v = parsed(body)
    assert(v("allocation_type").flatMap(_.str).contains("proportional"))
    v("strata") match {
      case Some(Json.A(items)) =>
        assert(items.nonEmpty)
        assert(items.forall(s => s("weight").flatMap(_.num).exists(_ > 0)))
      case other => fail(s"no strata array: $other")
    }
  }

  test("POST /samples/stratified deterministic mode and POST /profile/skew") {
    val (code, body) = http("POST", "/samples/stratified", Some(
      """{"table": "orders", "strata_column": "o_orderstatus",
         "deterministic": true, "key_column": "o_orderkey",
         "target_per_stratum": 128}"""))
    assert(code == 200, body)
    val v = parsed(body)
    assert(v("allocation_type").flatMap(_.str).contains("deterministic"))
    v("strata") match {
      case Some(Json.A(items)) =>
        assert(items.nonEmpty)
        // integer power-of-two HT weights are the mode's contract
        assert(items.forall(s => s("weight").flatMap(_.num)
          .exists(w => w >= 1 && java.lang.Long.bitCount(w.toLong) == 1)))
      case other => fail(s"no strata array: $other")
    }
    val (code2, _) = http("POST", "/samples/stratified", Some(
      """{"table": "orders", "strata_column": "o_orderstatus", "deterministic": true}"""))
    assert(code2 == 400) // key_column required in deterministic mode

    val (code3, body3) = http("POST", "/profile/skew", Some(
      """{"table": "orders", "column": "o_orderstatus"}"""))
    assert(code3 == 200, body3)
    val p = parsed(body3)
    assert(p("n_rows").flatMap(_.num).exists(_ > 0))
    assert(p("n_keys").flatMap(_.num).exists(_ > 0))
    assert(p("salted_replan").isDefined)
  }

  test("POST /sketches/create + GET /sketches roundtrip") {
    val (code, body) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_custkey", "sketch_type": "hyperloglog"}"""))
    assert(code == 200)
    assert(parsed(body)("size_bytes").flatMap(_.num).exists(_ > 0))
    val (code2, body2) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_orderpriority", "sketch_type": "countmin",
         "parameters": {"epsilon": 0.01, "delta": 0.01}}"""))
    assert(code2 == 200)
    assert(parsed(body2)("sketch_type").flatMap(_.str).contains("countmin"))
    // beyond the reference: histogram sketch build over the same route;
    // percentile queries then answer from it with no scan
    val (code4, body4) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_totalprice", "sketch_type": "histogram",
         "parameters": {"buckets": 32}}"""))
    assert(code4 == 200, body4)
    assert(parsed(body4)("buckets").flatMap(_.num).contains(32.0))
    val (codeQ, bodyQ) = http("POST", "/query", Some(
      """{"sql": "SELECT percentile(o_totalprice, 0.5) AS p50 FROM orders"}"""))
    assert(codeQ == 200, bodyQ)
    assert(parsed(bodyQ)("plan").flatMap(_("type")).flatMap(_.str)
      .contains("sketch"), bodyQ)
    // grouped variant: parameters.group_by builds one histogram per
    // group; grouped percentile queries then answer with no scan
    val (codeG, bodyG) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_totalprice", "sketch_type": "histogram",
         "parameters": {"buckets": 32, "group_by": "o_orderstatus"}}"""))
    assert(codeG == 200, bodyG)
    assert(parsed(bodyG)("sketch_type").flatMap(_.str)
      .contains("histogram_grouped"), bodyG)
    assert(parsed(bodyG)("groups").flatMap(_.num).exists(_ > 0), bodyG)
    val (codeGQ, bodyGQ) = http("POST", "/query", Some(
      """{"sql": "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS p50 FROM orders GROUP BY o_orderstatus"}"""))
    assert(codeGQ == 200, bodyGQ)
    assert(parsed(bodyGQ)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("grouped histogram")), bodyGQ.take(400))
    // grouped HDR over the same route (parameters.group_by on the
    // "hdr" type; "a,b" = composite keys) — and the MARGINAL rollup
    // over one component serves by exact log-grid merge, the shape
    // the per-group-grid histogram family refuses
    val (codeH, bodyH) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_totalprice", "sketch_type": "hdr",
         "parameters": {"group_by": "o_orderstatus,o_orderpriority"}}"""))
    assert(codeH == 200, bodyH)
    assert(parsed(bodyH)("sketch_type").flatMap(_.str)
      .contains("hdr_grouped"), bodyH)
    assert(parsed(bodyH)("groups").flatMap(_.num).exists(_ > 0), bodyH)
    val (codeHQ, bodyHQ) = http("POST", "/query", Some(
      """{"sql": "SELECT o_orderpriority, percentile(o_totalprice, 0.9) AS p90 FROM orders GROUP BY o_orderpriority"}"""))
    assert(codeHQ == 200, bodyHQ)
    assert(parsed(bodyHQ)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("grouped log-linear")), bodyHQ.take(400))
    // beyond the reference: an AGMS pair over the join keys turns join
    // AQP into an automatic costed decision — no opt-in flag on /query
    val (codeA, bodyA) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_orderkey", "sketch_type": "agms"}"""))
    assert(codeA == 200, bodyA)
    assert(parsed(bodyA)("rows").flatMap(_.num).exists(_ > 0), bodyA)
    val (codeA2, bodyA2) = http("POST", "/sketches/create", Some(
      """{"table": "lineitem", "column": "l_orderkey", "sketch_type": "agms"}"""))
    assert(codeA2 == 200, bodyA2)
    val (codeJ, bodyJ) = http("POST", "/query", Some(
      """{"sql": "SELECT o_orderpriority, count(*) AS n FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderpriority"}"""))
    assert(codeJ == 200, bodyJ)
    assert(parsed(bodyJ)("plan").flatMap(_("type")).flatMap(_.str)
      .contains("sample"), bodyJ.take(400))
    assert(parsed(bodyJ)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("AGMS")), bodyJ.take(400))
    val (code3, body3) = http("GET", "/sketches?table=orders")
    assert(code3 == 200)
    assert(body3.contains("hyperloglog") && body3.contains("countmin")
      && body3.contains("histogram") && body3.contains("agms"))
    // missing table param is a 400, like the reference
    assert(http("GET", "/sketches")._1 == 400)
    // composite-key CMS over the same route (round 10): "a,b" keys ONE
    // sketch on the to_json tuple rendering; a conjunctive equality
    // frequency then serves from it with no scan
    val (codeC, bodyC) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_orderstatus,o_orderpriority",
         "sketch_type": "countmin",
         "parameters": {"epsilon": 0.01, "delta": 0.01}}"""))
    assert(codeC == 200, bodyC)
    assert(parsed(bodyC)("size_bytes").flatMap(_.num).exists(_ > 0), bodyC)
    val (codeCQ, bodyCQ) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'"}"""))
    assert(codeCQ == 200, bodyCQ)
    assert(parsed(bodyCQ)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("Count-Min")), bodyCQ.take(400))
  }

  test("composite group_by builds over the API and serves GROUP BY a, b") {
    // "a,b" in parameters.group_by builds one record per (a, b) tuple;
    // a composite GROUP BY then answers from the catalog with no scan
    val (c1, b1) = http("POST", "/sketches/create", Some(
      """{"table": "lineitem", "column": "l_quantity", "sketch_type": "histogram",
         "parameters": {"buckets": 32, "group_by": "l_returnflag,l_linestatus"}}"""))
    assert(c1 == 200, b1)
    assert(parsed(b1)("sketch_type").flatMap(_.str)
      .contains("histogram_grouped"), b1)
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sm, count(*) AS nr FROM lineitem GROUP BY l_returnflag, l_linestatus"}"""))
    assert(qc == 200, qb)
    assert(parsed(qb)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("grouped build statistics")), qb.take(400))
  }

  test("range-count and distinct-keys serve over HTTP (round 10)") {
    // plain histogram -> count(*) under range bounds interpolates it
    val (c1, b1) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_totalprice", "sketch_type": "histogram"}"""))
    assert(c1 == 200, b1)
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n FROM orders WHERE o_totalprice >= 50000 AND o_totalprice < 150000", "max_rel_error": 0.2}"""))
    assert(qc == 200, qb)
    assert(parsed(qb)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("histogram_range")), qb.take(400))
    // grouped blob -> keys-only GROUP BY serves the recorded group set
    val (c2, b2) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_totalprice", "sketch_type": "histogram",
         "parameters": {"group_by": "o_orderstatus"}}"""))
    assert(c2 == 200, b2)
    val (dc, db) = http("POST", "/query", Some(
      """{"sql": "SELECT o_orderstatus FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"}"""))
    assert(dc == 200, db)
    assert(parsed(db)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("distinct_keys")), db.take(400))
    // filtered-range (round 10 fifth pass): a group equality + value
    // band serves from the named group's histogram and sum rider
    val (fc, fb) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders WHERE o_orderstatus = 'O' AND o_totalprice >= 50000 AND o_totalprice < 150000", "max_rel_error": 0.5}"""))
    assert(fc == 200, fb)
    assert(parsed(fb)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("filtered_range")), fb.take(400))
  }

  test("topk blob over HTTP: build, then the top-k dashboard serves exactly (round 10)") {
    val (c1, b1) = http("POST", "/sketches/create", Some(
      """{"table": "lineitem", "column": "l_partkey", "sketch_type": "topk",
         "parameters": {"threshold": 35}}"""))
    assert(c1 == 200, b1)
    // truth AFTER the lazy server registered the tables (the build
    // does not change the table, so the exact answer is unchanged)
    val truth = spark.sql(
      "SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey " +
        "ORDER BY c DESC, l_partkey LIMIT 5").collect().toSeq
    assert(parsed(b1)("sketch_type").flatMap(_.str).contains("topk"), b1)
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey ORDER BY c DESC, l_partkey LIMIT 5"}"""))
    assert(qc == 200, qb)
    val v = parsed(qb)
    assert(v("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("heavy-hitters")), qb.take(400))
    val rows = v("result") match {
      case Some(Json.A(items)) => items.map(r =>
        (r("l_partkey").flatMap(_.num).get.toLong,
          r("c").flatMap(_.num).get.toLong))
      case other => fail(s"no result rows: $other")
    }
    assert(rows == truth.map(r => (r.getLong(0), r.getLong(1))),
      s"served=$rows truth=$truth")
  }

  test("star-aggregate serve over HTTP: fact ⋈ dim GROUP BY dim attr answers from the catalog (round 10)") {
    // grouped build on the fact's JOIN key — the star serve's input.
    // Keyed on o_custkey with o_orderkey as the value column: neither
    // the advise test's l_suppkey miss counter nor the o_orderstatus-
    // keyed o_totalprice blobs other tests serve from are disturbed
    // (a blob keyed l_suppkey would make count(DISTINCT l_suppkey)
    // SERVE, starving the advisor loop of its misses).
    val (c1, b1) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_orderkey", "sketch_type": "histogram",
         "parameters": {"group_by": "o_custkey"}}"""))
    assert(c1 == 200, b1)
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT c_mktsegment, count(*) AS cnt FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey GROUP BY c_mktsegment"}"""))
    assert(qc == 200, qb)
    val v = parsed(qb)
    assert(v("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("star_group")), qb.take(400))
    v("result") match {
      case Some(Json.A(rows)) => assert(rows.nonEmpty, qb.take(200))
      case other              => fail(s"expected result rows: $other")
    }
  }

  test("star-range serve over HTTP: fact-side band over fact ⋈ dim answers from the catalog (round 10)") {
    // SHARED-GRID grouped build keyed on the fact's JOIN key — multi-
    // fk dim cells merge only on one grid. Same (orders, o_orderkey)
    // blob slot the star test uses (keying on o_custkey disturbs no
    // other test's blobs or miss counters); this build overwrites it
    // compatibly.
    val (c1, b1) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_orderkey", "sketch_type": "histogram",
         "parameters": {"group_by": "o_custkey", "grid": "shared"}}"""))
    assert(c1 == 200, b1)
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT c_mktsegment, count(*) AS n_est FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey WHERE o_orderkey >= 100 AND o_orderkey < 3000 GROUP BY c_mktsegment", "max_rel_error": 0.9}"""))
    assert(qc == 200, qb)
    val v = parsed(qb)
    assert(v("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("star_range")), qb.take(400))
    v("result") match {
      case Some(Json.A(rows)) => assert(rows.nonEmpty, qb.take(200))
      case other              => fail(s"expected result rows: $other")
    }
  }

  test("ungrouped star KPI over HTTP: total count and sum under a dim filter serve from the catalog (round 10)") {
    // the star-range test above left a shared-grid blob on
    // (orders, o_orderkey) keyed o_custkey — the ungrouped fold reads
    // its stats rider; must run BEFORE the expression-key test, which
    // overwrites that blob slot
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n, sum(o_orderkey) AS sk FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey WHERE c_mktsegment = 'BUILDING'"}"""))
    assert(qc == 200, qb)
    val v = parsed(qb)
    assert(v("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("star_group")), qb.take(400))
    v("result") match {
      case Some(Json.A(Seq(row))) =>
        assert(row("n").flatMap(_.num).exists(_ > 0), qb.take(200))
      case other => fail(s"expected one KPI row: $other")
    }
  }

  test("KMV pair over HTTP: build both sides, INTERSECT count serves from the catalog (round 10)") {
    val (c1, b1) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_custkey", "sketch_type": "kmv"}"""))
    assert(c1 == 200, b1)
    assert(parsed(b1)("sketch_type").flatMap(_.str).contains("kmv"), b1)
    val (c2, b2) = http("POST", "/sketches/create", Some(
      """{"table": "customer", "column": "c_custkey", "sketch_type": "kmv",
         "parameters": {"k": 1024}}"""))
    assert(c2 == 200, b2)
    // at sf0.001 both sides hold fewer than k distinct keys — the
    // sketches are exhaustive and the serve is EXACT, so the HTTP
    // answer must equal the true overlap
    val truth = spark.sql(
      "SELECT count(*) FROM (SELECT o_custkey FROM orders " +
        "INTERSECT SELECT c_custkey FROM customer) t")
      .collect().head.getLong(0)
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n FROM (SELECT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer) t"}"""))
    assert(qc == 200, qb)
    val v = parsed(qb)
    assert(v("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("KMV")), qb.take(400))
    val served = v("result") match {
      case Some(Json.A(Seq(row))) => row("n").flatMap(_.num).get
      case other                  => fail(s"no result rows: $other")
    }
    assert(served == truth.toDouble, s"served=$served truth=$truth")
  }

  test("GET /sketches/advise closes the miss -> build -> serve loop") {
    // lineitem.l_suppkey is count-DISTINCTed by no other test in this
    // suite, so the advisor's miss counter for it is fully under our
    // control. use_ml_optimization engages the rule chooser (the
    // planner-only default never picks the sketch strategy), and
    // lineitem (~6k rows at sf0.001) clears the chooser's <=1000-row
    // small-table exact rule.
    val sql = """{"sql": "SELECT count(DISTINCT l_suppkey) AS nd FROM lineitem", "use_ml_optimization": true}"""
    (1 to 3).foreach { _ => assert(http("POST", "/query", Some(sql))._1 == 200) }
    val (code, body) = http("GET", "/sketches/advise")
    assert(code == 200, body)
    val advice = parsed(body)("advice") match {
      case Some(Json.A(items)) => items
      case other               => fail(s"no advice array: $other")
    }
    val hit = advice.find(a =>
      a("table").flatMap(_.str).contains("lineitem") &&
        a("column").flatMap(_.str).contains("l_suppkey") &&
        a("sketch_type").flatMap(_.str).contains("hll"))
      .getOrElse(fail(s"no hll advice for lineitem.l_suppkey: $body"))
    assert(hit("misses").flatMap(_.num).exists(_ >= 3), body)
    assert(hit("build").flatMap(_.str).exists(_.contains("createHll")), body)
    // min_misses above the observed count empties the recommendation
    val (_, none) = http("GET", "/sketches/advise?min_misses=99")
    assert(!none.contains("l_suppkey"), none)
    // running the recommended build retires the advice...
    val (bc, bb) = http("POST", "/sketches/create", Some(
      """{"table": "lineitem", "column": "l_suppkey", "sketch_type": "hyperloglog"}"""))
    assert(bc == 200, bb)
    val (_, after) = http("GET", "/sketches/advise")
    assert(!after.contains("\"column\":\"l_suppkey\",\"sketch_type\":\"hll\""), after)
    // ...and the same query now serves from the catalog with no scan
    val (qc, qb) = http("POST", "/query", Some(sql))
    assert(qc == 200, qb)
    assert(parsed(qb)("ml_optimization").flatMap(_("transformations"))
      .exists(_.toString.contains("stored HyperLogLog")), qb.take(400))
  }

  test("outlier sample over HTTP: measure profile, build, filtered sum serves (round 11)") {
    // detect: the profile route persists the top-k mass share
    val (cp, bp) = http("POST", "/profile/measure", Some(
      """{"table": "customer", "column": "c_acctbal", "top_k": 50}"""))
    assert(cp == 200, bp)
    assert(parsed(bp)("top_share_ppm").flatMap(_.num).exists(_ > 0), bp)
    assert(bp.contains("outlier_sample_recommended"), bp)
    // build the outlier-indexed sample on customer's balance measure
    val (cb, bb) = http("POST", "/samples/outlier", Some(
      """{"table": "customer", "value_column": "c_acctbal",
         "key_column": "c_custkey", "outlier_k": 20, "target_rest": 64}"""))
    assert(cb == 200, bb)
    assert(parsed(bb)("outlier_rows").flatMap(_.num).exists(_ > 0), bb)
    assert(parsed(bb)("sample_table").flatMap(_.str)
      .contains("customer__outlier_c_acctbal"), bb)
    // customer is tiny at test SF: force it over the chooser's small-
    // table rule and re-stamp the sample fresh (the detEngineFor
    // pattern), then a FILTERED balance sum serves from the sample
    engine.catalog.upsertTableStats("customer", 20000L)
    engine.catalog.refreshSampleBase("customer")
    val (cq, bq) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n, sum(c_acctbal) AS s FROM customer WHERE c_nationkey < 13"}"""))
    assert(cq == 200, bq)
    assert(parsed(bq)("plan").flatMap(_("type")).flatMap(_.str)
      .contains("outlier"), bq.take(1200))
    assert(parsed(bq)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("outlier-indexed sample")), bq.take(1200))
    // bad arguments are a 400
    assert(http("POST", "/samples/outlier",
      Some("""{"table": "customer"}"""))._1 == 400)
    assert(http("POST", "/profile/measure",
      Some("""{"table": "customer"}"""))._1 == 400)
  }

  test("two-sided outlier over HTTP: low_k builds both tails, MIN and MAX serve exactly (round 13)") {
    val (cb, bb) = http("POST", "/samples/outlier", Some(
      """{"table": "part", "value_column": "p_retailprice",
         "key_column": "p_partkey", "outlier_k": 20, "target_rest": 64,
         "low_k": 20}"""))
    assert(cb == 200, bb)
    assert(parsed(bb)("sample_table").flatMap(_.str)
      .contains("part__outlier2_p_retailprice"), bb)
    assert(parsed(bb)("low_k").flatMap(_.num).contains(20.0), bb)
    // round 14: the achieved low-tail size is reported alongside the
    // high tail's (the r13 ADVICE finding — the response used to drop
    // nLow entirely)
    assert(parsed(bb)("low_rows").flatMap(_.num).contains(20.0), bb)
    assert(parsed(bb)("outlier_rows").flatMap(_.num).contains(20.0), bb)
    // force part over the small-table rule, re-stamp the sample fresh
    engine.catalog.upsertTableStats("part", 20000L)
    engine.catalog.refreshSampleBase("part")
    val exact = spark.sql(
      "SELECT min(p_retailprice), max(p_retailprice) FROM part")
      .collect()(0)
    // min/max shapes are EXCLUDED from the planner-only candidate list
    // by design (the generic sample fallthrough cannot answer a max, so
    // plannerOnlyChoice must never see the sample for them — the
    // reference's non-ML path runs min/max exact too); the ML path's
    // typed outlier dispatch serves them exactly
    val (cq, bq) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n, min(p_retailprice) AS mn, max(p_retailprice) AS mx FROM part",
         "use_ml_optimization": true}"""))
    assert(cq == 200, bq)
    assert(parsed(bq)("plan").flatMap(_("type")).flatMap(_.str)
      .contains("outlier"), bq.take(1200))
    val row = parsed(bq)("result") match {
      case Some(graft.api.Json.A(items)) => items.headOption
      case _                             => None
    }
    assert(row.flatMap(_("mn")).flatMap(_.num).contains(exact.getDouble(0)),
      bq.take(1200))
    assert(row.flatMap(_("mx")).flatMap(_.num).contains(exact.getDouble(1)),
      bq.take(1200))
  }

  test("POST /samples/bottomk builds the fixed-size sample; a SUM query serves from it") {
    val (cb, bb) = http("POST", "/samples/bottomk", Some(
      """{"table": "supplier", "key_column": "s_suppkey", "k": 32}"""))
    assert(cb == 200, bb)
    // supplier holds only a handful of rows at test SF: achieved size
    // is min(k, N) — the whole table at weight N/k = 1 (exact)
    assert(parsed(bb)("rows").flatMap(_.num).exists(_ > 0), bb)
    assert(parsed(bb)("sample_table").flatMap(_.str)
      .contains("supplier__bottomk_s_suppkey"), bb)
    // force supplier over the chooser's small-table rule and re-stamp
    // the sample fresh (the outlier test's pattern); the tolerance must
    // admit the tiny fixed-size error bound √(1/achieved)
    engine.catalog.upsertTableStats("supplier", 20000L)
    engine.catalog.refreshSampleBase("supplier")
    val (cq, bq) = http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n, sum(s_acctbal) AS s FROM supplier",
         "max_rel_error": 0.4}"""))
    assert(cq == 200, bq)
    assert(parsed(bq)("plan").flatMap(_("type")).flatMap(_.str)
      .contains("bottomk"), bq.take(1200))
    assert(parsed(bq)("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("bottom-k sample")), bq.take(1200))
    // bad arguments are a 400
    assert(http("POST", "/samples/bottomk",
      Some("""{"table": "supplier"}"""))._1 == 400)
  }

  test("GET /ml/stats reflects measured queries") {
    // measure_exact appends a measured record to history
    http("POST", "/query", Some(
      """{"sql": "SELECT count(*) AS n FROM orders", "use_ml_optimization": true,
         "measure_exact": true}"""))
    val (code, body) = http("GET", "/ml/stats")
    assert(code == 200)
    val v = parsed(body)
    assert(v("strategies").nonEmpty)
    assert(v("total_queries").flatMap(_.num).exists(_ >= 0))
  }

  test("unknown route is a JSON 404; wrong method a 405") {
    val (code, body) = http("GET", "/nope")
    assert(code == 404)
    assert(parsed(body)("error").flatMap(_.str).contains("Not found"))
    assert(http("GET", "/query")._1 == 405)
  }

  test("explain of a servable query names the serve with the planner's cost") {
    val (bc, bb) = http("POST", "/sketches/create", Some(
      """{"table": "lineitem", "column": "l_quantity", "sketch_type": "histogram", "parameters": {"buckets": 64}}"""))
    assert(bc == 200, bb)
    val (code, body) = http("POST", "/query", Some(
      """{"sql": "SELECT sum(l_quantity) AS s FROM lineitem", "explain": true}"""))
    assert(code == 200, body)
    val v = parsed(body)
    val plan = v("plan").getOrElse(fail(s"no plan: $body"))
    assert(plan("type").flatMap(_.str).contains("sketch"), body.take(400))
    assert(plan("serve").flatMap(_.str).contains("stats"), body.take(400))
    assert(plan("estimated_cost").flatMap(_.num)
      .contains(graft.plan.Planner.CatalogServeCost), body.take(400))
    assert(plan("reason").flatMap(_.str)
      .exists(_.contains("catalog serve (stats)")), body.take(400))
    // the cost-model speedup is finite (no ∞-constant in the contract)
    assert(v("ml_optimization").flatMap(_("estimated_speedup"))
      .flatMap(_.num).exists(s => s > 1.0 && !s.isInfinite), body.take(400))
  }

  test("expression group keys over HTTP: to_date build serves the daily rollup (round 10)") {
    // LAST in the suite on purpose: this build takes the
    // (orders, o_orderkey, histogram_grouped) blob slot the star tests
    // used earlier (one blob per (table, valueCol, type))
    val (c1, b1) = http("POST", "/sketches/create", Some(
      """{"table": "orders", "column": "o_orderkey", "sketch_type": "histogram",
         "parameters": {"group_by": "to_date(o_orderdate)"}}"""))
    assert(c1 == 200, b1)
    val (qc, qb) = http("POST", "/query", Some(
      """{"sql": "SELECT to_date(o_orderdate) AS day, count(*) AS n, sum(o_orderkey) AS sk FROM orders GROUP BY to_date(o_orderdate)"}"""))
    assert(qc == 200, qb)
    val v = parsed(qb)
    assert(v("plan").flatMap(_("reason")).flatMap(_.str)
      .exists(_.contains("catalog serve")), qb.take(400))
    v("result") match {
      case Some(Json.A(rows)) => assert(rows.nonEmpty, qb.take(200))
      case other              => fail(s"expected result rows: $other")
    }
  }

  test("reboot-and-serve: a sketch built over HTTP serves after a server restart on the same workDir (round 15 restart law)") {
    val dir = Files.createTempDirectory("graft-http-reboot").toString
    // ---- server process 1: build, then stop ----
    val s1 = new Server(new QueryEngine(spark, new MetaCatalog(dir)))
    s1.start()
    try {
      val (c1, b1) = httpAt(s1.boundPort, "POST", "/sketches/create", Some(
        """{"table": "orders", "column": "o_custkey", "sketch_type": "hyperloglog"}"""))
      assert(c1 == 200, b1)
    } finally s1.stop()
    // ---- server process 2: a fresh engine + catalog over the same
    // workDir — the blob must come back from disk, not driver memory
    val s2 = new Server(new QueryEngine(spark, new MetaCatalog(dir)))
    s2.start()
    try {
      val (cl, bl) = httpAt(s2.boundPort, "GET", "/sketches?table=orders")
      assert(cl == 200, bl)
      assert(bl.contains("o_custkey") && bl.contains("hyperloglog"), bl)
      // use_ml_optimization engages the rule chooser, whose Sketch
      // strategy is where the stored-HLL serve dispatches (the
      // planner-only default runs 1.5k-row orders exact outright)
      val (cq, bq) = httpAt(s2.boundPort, "POST", "/query", Some(
        """{"sql": "SELECT count(DISTINCT o_custkey) AS nd FROM orders",
           "use_ml_optimization": true}"""))
      assert(cq == 200, bq)
      val plan = parsed(bq)("plan")
      assert(plan.flatMap(_("type")).flatMap(_.str).contains("sketch"),
        bq.take(800))
      assert(plan.flatMap(_("reason")).flatMap(_.str)
        .exists(_.contains("stored HyperLogLog")), bq.take(800))
    } finally s2.stop()
  }

  test("TTL loop over HTTP: stream registration, windowed maintainers, advise names the windowed recipe, live-window serve carries the TTL note (round 15)") {
    import org.apache.spark.sql.functions._
    // the WindowedSketchesSpec TTL-advisor-loop law, driven end-to-end
    // over the REST surface: file-source stream in, maintainers
    // attached and flushed over HTTP, the advise -> build -> serve
    // loop closing on live-window state
    val work = Files.createTempDirectory("graft-http-ttl").toString
    val srcDir = Files.createTempDirectory("graft-http-ttl-src").toString
    def shape(from: Long, to: Long) = spark.range(from, to)
      .select(expr("timestamp_micros(id * 1000000)").as("ts"),
        expr("concat('k', cast(id % 7 as string))").as("k"),
        col("id").as("other"))
    // batch 1 must exist BEFORE registration (schema inference source)
    shape(0, 2000).coalesce(1).write.mode("append").parquet(srcDir)
    val s2 = new Server(new QueryEngine(spark, new MetaCatalog(work)))
    s2.start()
    try {
      val (cr, br) = httpAt(s2.boundPort, "POST", "/streams/register",
        Some(s"""{"name": "s0", "path": "$srcDir"}"""))
      assert(cr == 200, br)
      assert(br.contains("\"ts\"") && br.contains("\"k\""), br)
      // windowed HLL maintainer on a SIDE column marks the table as
      // STREAMED (the advisor's evidence); window 2000 s, bucket 100 s
      val (cm, bm) = httpAt(s2.boundPort, "POST", "/sketches/maintain", Some(
        """{"stream": "s0", "table": "http_live", "column": "other",
           "sketch_type": "hyperloglog", "ts_column": "ts",
           "window_micros": 2000000000, "bucket_micros": 100000000}"""))
      assert(cm == 200, bm)
      // re-POST for the SAME maintainer id replaces it in place — the
      // round-16 fix: the old query is stopped BEFORE the new one
      // starts, because both share the durable checkpoint and Spark
      // refuses a checkpoint still owned by an active query
      val (cmr, bmr) = httpAt(s2.boundPort, "POST", "/sketches/maintain", Some(
        """{"stream": "s0", "table": "http_live", "column": "other",
           "sketch_type": "hyperloglog", "ts_column": "ts",
           "window_micros": 2000000000, "bucket_micros": 100000000}"""))
      assert(cmr == 200, bmr)
      // ingest batch 2 as a new file, then the deterministic flush
      shape(2000, 4000).coalesce(1).write.mode("append").parquet(srcDir)
      assert(httpAt(s2.boundPort, "POST", "/streams/flush",
        Some("""{"name": "s0"}"""))._1 == 200)
      // backing view holds exactly the LIVE rows (a compacted TTL table)
      spark.range(1900, 4000)
        .select(expr("concat('k', cast(id % 7 as string))").as("k"),
          col("id").as("other"))
        .createOrReplaceTempView("http_live")
      // repeated point-frequency misses -> the advisor must name the
      // WINDOWED CMS recipe (streaming evidence), not the batch build
      val missSql = """{"sql": "SELECT count(*) AS n FROM http_live WHERE k = 'k3'",
        "use_ml_optimization": true}"""
      (1 to 3).foreach(_ =>
        assert(httpAt(s2.boundPort, "POST", "/query", Some(missSql))._1 == 200))
      val (ca, ba) = httpAt(s2.boundPort, "GET", "/sketches/advise")
      assert(ca == 200, ba)
      assert(ba.contains("maintainCmsWindowed"), ba)
      // run the advised build over the same surface and flush
      val (cm2, bm2) = httpAt(s2.boundPort, "POST", "/sketches/maintain", Some(
        """{"stream": "s0", "table": "http_live", "column": "k",
           "sketch_type": "countmin", "ts_column": "ts",
           "window_micros": 2000000000, "bucket_micros": 100000000}"""))
      assert(cm2 == 200, bm2)
      assert(httpAt(s2.boundPort, "POST", "/streams/flush",
        Some("""{"name": "s0"}"""))._1 == 200)
      val (cl, bl) = httpAt(s2.boundPort, "GET", "/streams")
      assert(cl == 200 && bl.contains("http_live/k/countmin"), bl)
      // the build retired the advice ...
      val (_, ba2) = httpAt(s2.boundPort, "GET", "/sketches/advise")
      assert(!ba2.contains("maintainCmsWindowed"), ba2)
      // ... and the query now serves the LIVE WINDOW with the TTL note
      val (cq, bq) = httpAt(s2.boundPort, "POST", "/query", Some(
        """{"sql": "SELECT count(*) AS n FROM http_live WHERE k = 'k3'"}"""))
      assert(cq == 200, bq)
      val reason = parsed(bq)("plan").flatMap(_("reason")).flatMap(_.str)
        .getOrElse("")
      assert(reason.contains("Count-Min"), bq.take(800))
      assert(reason.contains("live window"), bq.take(800))
      val n = parsed(bq)("result") match {
        case Some(Json.A(Seq(row))) => row("n").flatMap(_.num).getOrElse(-1.0)
        case other                  => fail(s"no single result row: $other")
      }
      val exactK3 = (1900 until 4000).count(_ % 7 == 3)
      assert(n == exactK3.toDouble, s"n=$n exact=$exactK3")
      // stop tears the maintainers down
      assert(httpAt(s2.boundPort, "POST", "/streams/stop",
        Some("""{"name": "s0"}"""))._1 == 200)
      val (_, bl2) = httpAt(s2.boundPort, "GET", "/streams")
      assert(!bl2.contains("s0"), bl2)
    } finally s2.stop()
  }

  test("band-admission ingest over HTTP: register stream, maintain, flush — admission log and registry land under the workDir (round 15)") {
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft-http-adm").toString
    val srcDir = Files.createTempDirectory("graft-http-adm-src").toString
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val s4 = new Server(new QueryEngine(spark, new MetaCatalog(work)))
    s4.start()
    try {
      assert(httpAt(s4.boundPort, "POST", "/streams/register",
        Some(s"""{"name": "sd", "path": "$srcDir"}"""))._1 == 200)
      val (cm, bm) = httpAt(s4.boundPort, "POST", "/sketches/maintain", Some(
        """{"stream": "sd", "table": "docs_http", "sketch_type": "band_admission"}"""))
      assert(cm == 200, bm)
      assert(bm.contains("docs_http/text/band_admission"), bm)
      assert(httpAt(s4.boundPort, "POST", "/streams/flush",
        Some("""{"name": "sd"}"""))._1 == 200)
      // one batch == the q192 batch operator (the EventStreamsSpec law;
      // here we pin the HTTP wiring: output + registry under workDir,
      // rider rows == admitted count)
      val out = spark.read
        .parquet(s"$work/samples/docs_http__admitted/b*")
      val nAdm = out.filter(col("admitted") === 1).count()
      assert(out.count() == spark.read.parquet(srcDir).count())
      assert(nAdm > 0 && nAdm < out.count(), s"adm=$nAdm of ${out.count()}")
      val rider = new MetaCatalog(work)
        .getSketch("docs_http", "text", "bandreg_state").get
      assert(rider.parameters.contains(s""""rows":$nAdm"""), rider.parameters)
      assert(spark.read
        .parquet(s"$work/samples/docs_http__admitted__registry").count() > 0)
      // re-POST replaces the ingest maintainer in place (stop-old-first
      // on the shared durable checkpoint — the round-16 fix) and a
      // replacement flush doubles nothing (replay guard)
      val (crp, brp) = httpAt(s4.boundPort, "POST", "/sketches/maintain", Some(
        """{"stream": "sd", "table": "docs_http", "sketch_type": "band_admission"}"""))
      assert(crp == 200, brp)
      assert(httpAt(s4.boundPort, "POST", "/streams/flush",
        Some("""{"name": "sd"}"""))._1 == 200)
      assert(spark.read.parquet(s"$work/samples/docs_http__admitted/b*")
        .count() == out.count())
    } finally s4.stop()
  }

  test("band-admission restart-resume: a rebooted server over the same workDir folds only NEW files, nothing skipped or doubled (round 15)") {
    import org.apache.spark.sql.functions._
    // the durable last_batch rider + the HTTP route's durable
    // checkpoint must COMPOSE across restarts: without the checkpoint
    // a fresh attachment restarts batch ids at 0 and the guard would
    // silently skip the first folds
    val work = Files.createTempDirectory("graft-http-adm-rst").toString
    val srcDir = Files.createTempDirectory("graft-http-adm-rst-src").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val mid = 250L
    docs.filter(col("doc_id") <= mid)
      .coalesce(1).write.mode("append").parquet(srcDir)
    def boot(): Server = {
      val s = new Server(new QueryEngine(spark, new MetaCatalog(work)))
      s.start()
      assert(httpAt(s.boundPort, "POST", "/streams/register",
        Some(s"""{"name": "sr", "path": "$srcDir"}"""))._1 == 200)
      assert(httpAt(s.boundPort, "POST", "/sketches/maintain", Some(
        """{"stream": "sr", "table": "docs_rst", "sketch_type": "band_admission"}"""))._1 == 200)
      assert(httpAt(s.boundPort, "POST", "/streams/flush",
        Some("""{"name": "sr"}"""))._1 == 200)
      s
    }
    boot().stop() // session 1: files A folded, rider + checkpoint durable
    val afterA = spark.read.parquet(s"$work/samples/docs_rst__admitted/b*")
      .count()
    // new files land while the server is DOWN
    docs.filter(col("doc_id") > mid)
      .coalesce(1).write.mode("append").parquet(srcDir)
    boot().stop() // session 2: resume must fold ONLY files B
    val out = spark.read.parquet(s"$work/samples/docs_rst__admitted/b*")
    assert(afterA > 0 && afterA < docs.count())
    // every document admitted-or-suppressed exactly ONCE: nothing
    // skipped (the pre-fix silent loss) and nothing re-folded
    assert(out.count() == docs.count(), s"${out.count()} != ${docs.count()}")
    assert(out.select("doc_id").distinct().count() == docs.count())
  }

  test("catalog reload and vacuum over HTTP: another process's blobs appear after reload; stale artifacts reclaim (round 15)") {
    val dir = Files.createTempDirectory("graft-http-gc").toString
    val s3 = new Server(new QueryEngine(spark, new MetaCatalog(dir)))
    s3.start()
    try {
      val (cb, bb) = httpAt(s3.boundPort, "POST", "/sketches/create", Some(
        """{"table": "orders", "column": "o_custkey", "sketch_type": "hyperloglog"}"""))
      assert(cb == 200, bb)
      // a second catalog instance (stand-in for another PROCESS over
      // the shared workDir) writes a blob the server has never seen
      val other = new MetaCatalog(dir)
      other.upsertSketch(other.SketchInfo("orders", "o_orderkey", "kmv",
        Array[Byte](1, 2), """{"k":16}""", 1L))
      val (_, before) = httpAt(s3.boundPort, "GET", "/sketches?table=orders")
      assert(!before.contains("o_orderkey"), before)
      assert(httpAt(s3.boundPort, "POST", "/catalog/reload")._1 == 200)
      val (_, after) = httpAt(s3.boundPort, "GET", "/sketches?table=orders")
      assert(after.contains("o_orderkey"), after)
      // the other process appends to orders (stats now disagree with
      // the HLL's recorded build rows); after a reload, vacuum
      // reclaims the rows-mismatched HLL but keeps the kmv (no rows
      // evidence — never stale by that rule)
      other.upsertTableStats("orders", 999999L)
      assert(httpAt(s3.boundPort, "POST", "/catalog/reload")._1 == 200)
      val (cv, bv) = httpAt(s3.boundPort, "POST", "/catalog/vacuum",
        Some("""{"table": "orders"}"""))
      assert(cv == 200, bv)
      assert(bv.contains("orders/o_custkey/hyperloglog"), bv)
      val (_, last) = httpAt(s3.boundPort, "GET", "/sketches?table=orders")
      assert(!last.contains("hyperloglog") && last.contains("kmv"), last)
    } finally s3.stop()
  }

  test("Json parser handles strings, escapes, nesting and rejects garbage") {
    val v = parsed("""{"a": [1, 2.5, -3], "s": "q\"\\\nA", "b": true, "n": null, "o": {"k": "v"}}""")
    assert(v("s").flatMap(_.str).contains("q\"\\\nA"))
    assert(v("a") == Some(Json.A(List(Json.N(1), Json.N(2.5), Json.N(-3)))))
    assert(v("b").flatMap(_.bool).contains(true))
    assert(v("n").contains(Json.Null))
    assert(v("o").flatMap(_("k")).flatMap(_.str).contains("v"))
    assert(Json.parse("{bad}").isLeft)
    assert(Json.parse("""{"a": 1} trailing""").isLeft)
    assert(Json.parse("""{"a": }""").isLeft)
  }

  test("POST /query: use_ml_optimization alone measures nothing; measure_exact appends a history record") {
    val sql = "SELECT count(*) AS n FROM nation"
    val before = engine.history.all.size
    val (c1, b1) = http("POST", "/query", Some(
      s"""{"sql": "$sql", "use_ml_optimization": true}"""))
    assert(c1 == 200, b1)
    assert(engine.history.all.size == before, "use_ml_optimization ran an exact measurement")
    val (c2, b2) = http("POST", "/query", Some(
      s"""{"sql": "$sql", "use_ml_optimization": true, "measure_exact": true}"""))
    assert(c2 == 200, b2)
    assert(engine.history.all.size == before + 1)
  }

  test("concurrent POST /query over four connections answers as sequential requests do; stop() ends the pool") {
    import java.util.concurrent.{Callable, Executors}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.expr
    spark.range(0, 4000).select(
      expr("concat('g', id % 4)").as("g"), expr("cast(id % 100 as double)").as("v"),
      expr("CASE WHEN id % 2 = 0 THEN id % 10 ELSE id END").as("p"))
      .createOrReplaceTempView("cc_t")
    import graft.sketch.SketchOps
    SketchOps.createHistogram(spark, engine.catalog, "cc_t", "v", 64)
    SketchOps.createGroupedHistogram(spark, engine.catalog, "cc_t", Seq("g"), "v", 64)
    SketchOps.createTopK(spark, engine.catalog, "cc_t", Seq("p"), 100)
    val s = new Server(engine)
    s.start()
    var stopped = false
    def req(sql: String, exact: Boolean = false) =
      s"""{"sql": "$sql", "prefer_exact": $exact}"""
    val requests = Seq(
      req("SELECT min(v) AS lo, max(v) AS hi, sum(v) AS s, count(v) AS n FROM cc_t"),
      req("SELECT g, percentile(v, 0.5) AS p50 FROM cc_t GROUP BY g"),
      req("SELECT g FROM cc_t GROUP BY g ORDER BY g DESC"),
      req("SELECT p, count(*) AS c FROM cc_t GROUP BY p ORDER BY c DESC, p LIMIT 3"),
      req("SELECT g, count(*) AS n, sum(v) AS s FROM cc_t GROUP BY g ORDER BY s DESC LIMIT 2"),
      req("SELECT g, count(*) AS n FROM cc_t GROUP BY g ORDER BY g", exact = true),
      req("SELECT n_name FROM nation ORDER BY n_name LIMIT 5", exact = true),
      req("SELECT count(*) AS n FROM nation"))
    try {
      val sequential = requests.map(b => httpAt(s.boundPort, "POST", "/query", Some(b)))
      sequential.foreach { case (c, b) => assert(c == 200, b) }
      assert(sequential.take(5).forall { case (_, b) =>
        parsed(b)("plan").flatMap(_("serve")).flatMap(_.str).nonEmpty }, sequential)
      val clients = Executors.newFixedThreadPool(4)
      val burst = Seq.fill(3)(requests.indices).flatten
      val answers = try burst.map(i => clients.submit(new Callable[(Int, (Int, String))] {
        def call() = (i, httpAt(s.boundPort, "POST", "/query", Some(requests(i))))
      })).map(_.get()) finally clients.shutdown()
      assert(answers.size >= 16)
      answers.foreach { case (i, got) =>
        assert(got == sequential(i), s"request $i: ${requests(i)}")
      }
      val pool = Thread.getAllStackTraces.keySet.asScala.toSeq
        .filter(_.getName.startsWith(s"graft-http-${s.boundPort}-"))
      assert(pool.nonEmpty && pool.size <= spark.sparkContext.defaultParallelism,
        pool.map(_.getName))
      assert(pool.forall(_.isDaemon))
      s.stop()
      stopped = true
      pool.foreach(_.join(10000))
      assert(pool.forall(!_.isAlive), pool.filter(_.isAlive).map(_.getName))
    } finally if (!stopped) s.stop()
  }
}
