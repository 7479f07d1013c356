package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.engine.QueryEngine
import graft.learn.QueryHistory
import graft.sample.Samplers
import graft.sketch.SketchOps

/** The reference's HTTP serving surface (/root/reference/app.py:33-324)
  * over JDK com.sun.net.httpserver — no new dependencies. Routes and
  * response shapes:
  *
  *   GET  /health             {"status": "ok"}
  *   GET  /tables             {"tables": [...]}            (app.py:44-58)
  *   POST /query              engine pipeline              (app.py:61-163)
  *   POST /samples/create     uniform sample               (app.py:165-186)
  *   POST /samples/stratified stratified sample            (app.py:190-217)
  *   GET  /samples            registered-sample listing
  *   POST /sketches/create    HLL/CMS/histogram/AGMS build (app.py:221-290)
  *   GET  /sketches?table=t   sketch listing               (app.py:293-305)
  *   GET  /ml/stats           learning stats               (app.py:308-324)
  *
  * Errors follow the reference: 400 {"error": msg} for bad arguments,
  * 500 {"error": msg} on execution failure, 404 {"error": "Not found"}.
  *
  * Requests run on a fixed pool of daemon threads, one per core of the
  * session (`local[N]` gives N), so concurrent clients are served side
  * by side instead of queueing on the JDK's single dispatcher thread.
  * The engine is safe to call this way: its parse cache is a locked
  * LRU, its memos are TrieMaps, catalog writes are file-locked
  * read-merge-writes, and the history and advisor writers are
  * synchronized. Each request hands its query to the engine; a
  * catalog-served answer is built on the driver and collects without a
  * Spark job, anything else runs as Spark jobs, and only the final
  * (row-capped) result is collected, as the reference materializes
  * rows for Flask. `stop()` shuts the pool down.
  */
final class Server(val engine: QueryEngine, port: Int = 0) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  def boundPort: Int = server.getAddress.getPort

  // the request pool: daemon threads, so a server that is never
  // stopped cannot keep its JVM alive
  private val pool = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, engine.spark.sparkContext.defaultParallelism), (r: Runnable) => {
        val t = new Thread(r, s"graft-http-$boundPort-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }
  server.setExecutor(pool)
  def start(): Unit = server.start()
  def stop(): Unit = {
    // stop registered TTL maintainers with the server — a streaming
    // query outliving its control surface would keep folding unobserved
    maintainers.values.foreach { case (_, q) => if (q.isActive) q.stop() }
    maintainers.clear()
    streams.clear()
    // orderly shutdown flushes the advisor's throttled snapshot: a
    // clean exit loses nothing, the 1 s window only bounds crash loss
    engine.sketchAdvisor.flush()
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdownNow()
  }

  private def spark: SparkSession = engine.spark

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def err(msg: String): String =
    s"""{"error": ${jstr(msg)}}"""

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == key => v }

  private def handle(path: String, method: String)(
      body: HttpExchange => (Int, String)): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      try {
        // exact-path match: createContext is prefix-based, the reference
        // routes are exact
        if (ex.getRequestURI.getPath != path)
          reply(ex, 404, err("Not found"))
        else if (ex.getRequestMethod != method)
          reply(ex, 405, err("method not allowed"))
        else {
          val (code, out) = body(ex)
          reply(ex, code, out)
        }
      } catch {
        case t: Throwable => reply(ex, 500, err(String.valueOf(t.getMessage)))
      } finally ex.close()
    })

  handle("/health", "GET") { _ => (200, """{"status": "ok"}""") }

  handle("/tables", "GET") { _ =>
    val names = spark.catalog.listTables().collect().map(_.name).sorted
    (200, names.map(n => "\"" + n + "\"").mkString("""{"tables": [""", ", ", "]}"))
  }

  handle("/query", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val sql = req("sql").flatMap(_.str).getOrElse("").trim
        if (sql.isEmpty) (400, err("sql required"))
        else {
          val opts = engine.Options(
            maxRelError = req("max_rel_error").flatMap(_.num).getOrElse(0.05),
            preferExact = req("prefer_exact").flatMap(_.bool).getOrElse(false),
            useMl = req("use_ml_optimization").flatMap(_.bool).getOrElse(false),
            measureExact = req("measure_exact").flatMap(_.bool).getOrElse(false),
            approximateJoins = req("approximate_joins").flatMap(_.bool).getOrElse(false),
            autoCostedJoins = req("auto_costed_joins").flatMap(_.bool).getOrElse(true))
          val r = engine.query(sql, opts)
          if (req("explain").flatMap(_.bool).getOrElse(false))
            (200, Response.renderExplain(r))
          else (200, Response.render(r))
        }
    }
  }

  handle("/samples/create", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val f = req("sample_fraction").flatMap(_.num).getOrElse(0.0)
        if (table.isEmpty || f <= 0 || f >= 1)
          (400, err("table and 0<sample_fraction<1 required"))
        else {
          val (name, rows) = Samplers.createUniform(spark, engine.catalog, table, f)
          (200, s"""{"status": "ok", "sample_table": "$name", "rows": $rows}""")
        }
    }
  }

  handle("/samples/stratified", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val strataCol = req("strata_column").flatMap(_.str).getOrElse("")
        val f = req("total_fraction").flatMap(_.num).getOrElse(0.0)
        val varCol = req("variance_column").flatMap(_.str)
        // deterministic mode (beyond the reference): per-stratum
        // keyed-hash lottery with integer power-of-two HT weights —
        // reproducible membership, so estimates from the sample are
        // cross-run/cross-engine stable (the q76 capability)
        val det = req("deterministic").flatMap(_.bool).getOrElse(false)
        val keyCol = req("key_column").flatMap(_.str)
        if (table.isEmpty || strataCol.isEmpty)
          (400, err("table and strata_column required"))
        else if (det) keyCol match {
          case None => (400, err("key_column required for deterministic mode"))
          case Some(k) =>
            val target = req("target_per_stratum").flatMap(_.num)
              .map(_.toLong).getOrElse(512L)
            if (target < 1) (400, err("target_per_stratum must be >= 1"))
            else {
              val (name, strata) = Samplers.createStratifiedDeterministic(
                spark, engine.catalog, table, strataCol, k, target)
              (200, Response.renderStratified(name, strata, "deterministic"))
            }
        }
        else if (f <= 0 || f >= 1)
          (400, err("0<total_fraction<1 required"))
        else {
          val (name, strata) =
            Samplers.createStratified(spark, engine.catalog, table, strataCol, f, varCol)
          (200, Response.renderStratified(name, strata,
            if (varCol.isDefined) "neyman" else "proportional"))
        }
    }
  }

  // Beyond the reference: materialized UNIVERSE (join-key-lottery)
  // samples over the API — build one per join side at the SAME
  // fraction and subsequent big-big joins through POST /query answer
  // from the pair (QueryEngine's universe route), the lottery hash
  // paid once here instead of per query.
  handle("/samples/universe", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val key = req("key_column").flatMap(_.str).getOrElse("")
        val f = req("sample_fraction").flatMap(_.num).getOrElse(0.0)
        if (table.isEmpty || key.isEmpty || f <= 0 || f >= 1)
          (400, err("table, key_column and 0<sample_fraction<1 required"))
        else {
          // "k1,k2" builds a COMPOSITE-key universe sample (the tuple
          // lottery the engine's composite join route looks up)
          val (name, rows) = Samplers.createUniverse(spark, engine.catalog,
            table, key.split(",").map(_.trim).filter(_.nonEmpty).toSeq, f)
          (200, s"""{"status": "ok", "sample_table": "$name", "rows": $rows, "key_column": ${jstr(key)}}""")
        }
    }
  }

  // Beyond the reference: the OUTLIER-INDEXED sample (Chaudhuri et al.
  // ICDE'01) over the API — the heavy tail of a skewed measure
  // materializes exactly at weight 1, the rest through the
  // deterministic keyed-hash lottery; subsequent filtered SUM/AVG/
  // percentile queries over the measure answer from it (planType
  // "outlier"). POST /profile/measure reports whether a measure's tail
  // justifies the build.
  handle("/samples/outlier", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val valueCol = req("value_column").flatMap(_.str).getOrElse("")
        val keyCol = req("key_column").flatMap(_.str).getOrElse("")
        val k = req("outlier_k").flatMap(_.num).map(_.toInt).getOrElse(500)
        val target = req("target_rest").flatMap(_.num).map(_.toLong)
          .getOrElse(2048L)
        // low_k > 0 builds the TWO-SIDED form (round 13): both value
        // tails exact at weight 1, so MIN serves alongside MAX
        val lowK = req("low_k").flatMap(_.num).map(_.toInt).getOrElse(0)
        if (table.isEmpty || valueCol.isEmpty || keyCol.isEmpty)
          (400, err("table, value_column and key_column (unique) required"))
        else if (k < 1 || target < 1 || lowK < 0)
          (400, err("outlier_k and target_rest must be >= 1; low_k >= 0"))
        else {
          val (name, nOut, nLow, nRest) = Samplers.createOutlierSample(
            spark, engine.catalog, table, valueCol, keyCol, k, target,
            lowK)
          (200, s"""{"status": "ok", "sample_table": ${jstr(name)}, "outlier_rows": $nOut, "low_rows": $nLow, "rest_rows": $nRest, "low_k": $lowK, "value_column": ${jstr(valueCol)}}""")
        }
    }
  }

  // Bottom-k (fixed-size order-statistic) sample: the mergeable,
  // stream-maintainable sample form. Beyond-reference route, same
  // builder the engine's "bottomk" serve reads.
  handle("/samples/bottomk", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val keyCol = req("key_column").flatMap(_.str).getOrElse("")
        val k = req("k").flatMap(_.num).map(_.toInt).getOrElse(2048)
        val groupCol = req("group_column").flatMap(_.str)
        if (table.isEmpty || keyCol.isEmpty)
          (400, err("table and key_column (unique) required"))
        else if (k < 1)
          (400, err("k must be >= 1"))
        else {
          // with group_column: the grouped (per-group fixed-size) form
          val (name, achieved) = groupCol match {
            case Some(g) => Samplers.createBottomKGrouped(
              spark, engine.catalog, table, g, keyCol, k)
            case None => Samplers.createBottomK(
              spark, engine.catalog, table, keyCol, k)
          }
          (200, s"""{"status": "ok", "sample_table": ${jstr(name)}, "k": $k, "rows": $achieved, "key_column": ${jstr(keyCol)}}""")
        }
    }
  }

  // The measure-skew detector behind the outlier advisor: share of the
  // column's total absolute mass held by its top-k rows, persisted so
  // repeated filtered-sum misses over a flagged measure surface the
  // outlier-sample build via GET /sketches/advise.
  handle("/profile/measure", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val column = req("column").flatMap(_.str).getOrElse("")
        val k = req("top_k").flatMap(_.num).map(_.toInt).getOrElse(500)
        if (table.isEmpty || column.isEmpty)
          (400, err("table and column required"))
        else {
          val s = engine.profileMeasureSkew(table, column, k)
          val flagged = s.topSharePpm >= engine.OutlierSkewPpmThreshold
          (200, s"""{"status": "ok", "table": ${jstr(s.tableName)}, "column": ${jstr(s.columnName)}, "n_rows": ${s.nRows}, "top_k": ${s.topK}, "top_share_ppm": ${s.topSharePpm}, "outlier_sample_recommended": $flagged}""")
        }
    }
  }

  // Beyond the reference: the q65 skew-profile loop over the API —
  // profile a (table, column/expression), persist the stats in the
  // catalog, and report whether exact GROUP BYs on it will now re-plan
  // as the salted two-stage aggregate (SaltRewrite's threshold).
  handle("/profile/skew", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val column = req("column").flatMap(_.str).getOrElse("")
        if (table.isEmpty || column.isEmpty)
          (400, err("table and column required"))
        else {
          val s = engine.profileKeySkew(table, column)
          val salted = s.topSharePpm >= graft.plan.SaltRewrite.SkewPpmThreshold
          (200, s"""{"status": "ok", "table": ${jstr(s.tableName)}, "column": ${jstr(s.columnName)}, "n_rows": ${s.nRows}, "n_keys": ${s.nKeys}, "max_key_rows": ${s.maxKeyRows}, "top_share_ppm": ${s.topSharePpm}, "salted_replan": $salted}""")
        }
    }
  }

  handle("/sketches/create", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val table = req("table").flatMap(_.str).getOrElse("")
        val column = req("column").flatMap(_.str)
        val sketchType = req("sketch_type").flatMap(_.str).getOrElse("")
        val params = req("parameters").getOrElse(Json.O(Map.empty))
        if (table.isEmpty || sketchType.isEmpty)
          (400, err("table and sketch_type required"))
        else sketchType match {
          case "hyperloglog" =>
            column match {
              case None => (400, err("column required for HyperLogLog"))
              case Some(c) =>
                // optional group_by: one HLL PER GROUP in a single pass,
                // the input to the engine's no-scan grouped
                // COUNT(DISTINCT) answer (beyond the reference's
                // global-only sketch store)
                params("group_by").flatMap(_.str) match {
                  case Some(g) =>
                    // "a,b" builds a COMPOSITE-key grouped sketch
                    val (size, groups) = SketchOps.createGroupedHll(
                      spark, engine.catalog, table,
                      g.split(",").map(_.trim).filter(_.nonEmpty).toSeq, c, 12)
                    (200, s"""{"status": "ok", "sketch_type": "hll_grouped", "size_bytes": $size, "groups": $groups}""")
                  case None =>
                    val (size, _) = SketchOps.createHll(spark, engine.catalog, table, c)
                    (200, s"""{"status": "ok", "sketch_type": "hyperloglog", "size_bytes": $size}""")
                }
            }
          case "countmin" =>
            val eps = params("epsilon").flatMap(_.num).getOrElse(0.01)
            val delta = params("delta").flatMap(_.num).getOrElse(0.01)
            // "a,b" builds a COMPOSITE-key CMS (to_json tuple keys):
            // conjunctive equality frequencies serve as point lookups
            val cols = column.toSeq
              .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
            val size =
              if (cols.sizeIs > 1)
                SketchOps.createCms(spark, engine.catalog, table, cols,
                  eps, delta)
              else
                SketchOps.createCmsOpt(spark, engine.catalog, table,
                  cols.headOption, eps, delta)
            (200, s"""{"status": "ok", "sketch_type": "countmin", "size_bytes": $size}""")
          // beyond the reference: the engine's histogram strategy input
          // (percentile/median answered with no scan once this exists)
          case "histogram" =>
            column match {
              case None => (400, err("column required for histogram"))
              case Some(c) =>
                val buckets = params("buckets").flatMap(_.num)
                  .map(_.toInt).getOrElse(64)
                if (buckets < 1 || buckets > 1000000)
                  (400, err(s"buckets must be in [1, 1000000], got $buckets"))
                else params("group_by").flatMap(_.str) match {
                  // optional group_by: one histogram PER GROUP (its own
                  // [min,max] grid) — the engine then answers grouped
                  // percentile queries with no scan
                  case Some(g) =>
                    // "a,b" builds a COMPOSITE-key grouped sketch;
                    // "grid": "shared" buckets every group on one
                    // global grid so IN-list / partial-key percentile
                    // serves can merge groups exactly
                    val shared = params("grid").flatMap(_.str)
                      .contains("shared")
                    val (size, groups) = SketchOps.createGroupedHistogram(
                      spark, engine.catalog, table,
                      g.split(",").map(_.trim).filter(_.nonEmpty).toSeq, c,
                      buckets, sharedGrid = shared)
                    (200, s"""{"status": "ok", "sketch_type": "histogram_grouped", "size_bytes": $size, "groups": $groups, "buckets": $buckets}""")
                  case None =>
                    val h = SketchOps.createHistogram(spark, engine.catalog,
                      table, c, buckets)
                    (200, s"""{"status": "ok", "sketch_type": "histogram", "size_bytes": ${h.serialize.length}, "buckets": ${h.buckets}}""")
                }
            }
          // beyond the reference: the log-linear (HDR) quantile sketch
          // — RELATIVE-error percentiles for heavy-tailed columns where
          // the equi-width grid's absolute bound degenerates
          // (QueryEngine.storedPercentileAnswer(HdrSketch); error = 1/m)
          case "hdr" =>
            column match {
              case None => (400, err("column required for hdr"))
              case Some(c) =>
                val m = params("m").flatMap(_.num).map(_.toInt).getOrElse(32)
                if (m < 1 || m > 65536 || (m & (m - 1)) != 0)
                  (400, err(s"m must be a power of two in [1, 65536], got $m"))
                else params("group_by").flatMap(_.str) match {
                  // optional group_by: one log-linear sketch PER GROUP
                  // ("a,b" = composite keys) — grouped percentiles at
                  // 1/m RELATIVE error, and because the log grid is
                  // global, marginals and IN-lists merge EXACTLY (no
                  // "grid" knob needed, unlike the equi-width family)
                  case Some(g) =>
                    val (size, groups) = SketchOps.createGroupedHdr(
                      spark, engine.catalog, table,
                      g.split(",").map(_.trim).filter(_.nonEmpty).toSeq, c, m)
                    (200, s"""{"status": "ok", "sketch_type": "hdr_grouped", "size_bytes": $size, "groups": $groups, "m": $m}""")
                  case None =>
                    val size = SketchOps.createHdr(spark, engine.catalog,
                      table, c, m)
                    (200, s"""{"status": "ok", "sketch_type": "hdr", "size_bytes": $size, "m": $m}""")
                }
            }
          // beyond the reference: the join-cardinality primitive — a
          // stored AGMS pair over a join-key pair turns join AQP into
          // an automatic costed decision (QueryEngine.agmsJoinEstimate)
          case "agms" =>
            column match {
              case None => (400, err("column (join key) required for AGMS"))
              case Some(c) =>
                val buckets = params("buckets").flatMap(_.num)
                  .map(_.toInt).getOrElse(1024)
                if (buckets < 1 || buckets > 1000000)
                  (400, err(s"buckets must be in [1, 1000000], got $buckets"))
                else {
                  // "k1,k2" builds a COMPOSITE-key sketch (the tuple
                  // hashes as one value; QueryEngine.joinKeyPairs
                  // looks composite conditions up by this name)
                  val keyCols = c.split(",").map(_.trim)
                    .filter(_.nonEmpty).toSeq
                  val (size, rows) = SketchOps.createAgms(spark,
                    engine.catalog, table, keyCols, buckets)
                  (200, s"""{"status": "ok", "sketch_type": "agms", "size_bytes": $size, "rows": $rows}""")
                }
            }
          // beyond the reference: bottom-k distinct-value sketch — a
          // pair of these (same k) over two value-compatible columns
          // serves INTERSECT/UNION/EXCEPT cardinality with no scan
          // (QueryEngine.storedSetOpAnswer)
          case "kmv" =>
            column match {
              case None => (400, err("column required for KMV"))
              case Some(c) =>
                val k = params("k").flatMap(_.num).map(_.toInt).getOrElse(1024)
                if (k < 2 || k > 1000000)
                  (400, err(s"k must be in [2, 1000000], got $k"))
                else {
                  val (size, kept) = SketchOps.createKmv(spark,
                    engine.catalog, table, c, k)
                  (200, s"""{"status": "ok", "sketch_type": "kmv", "size_bytes": $size, "hashes": $kept}""")
                }
            }
          // beyond the reference: exact heavy-hitters summary — counts
          // of every group reaching the threshold; serves top-k /
          // iceberg GROUP BY shapes over high-cardinality keys with no
          // scan (QueryEngine.storedTopKAnswer)
          case "topk" =>
            column match {
              case None => (400, err("column (group keys) required for topk"))
              case Some(c) =>
                params("threshold").flatMap(_.num) match {
                  case None => (400, err("parameters.threshold required for topk"))
                  case Some(t) if t < 1 =>
                    (400, err(s"threshold must be >= 1, got $t"))
                  case Some(t) =>
                    val keyCols = c.split(",").map(_.trim)
                      .filter(_.nonEmpty).toSeq
                    // parameters.sum_col builds the SUM twin (revenue
                    // top-k; threshold then bounds the decimal sum)
                    val (size, entries) =
                      params("sum_col").flatMap(_.str) match {
                        case Some(v) => SketchOps.createTopKSum(spark,
                          engine.catalog, table, keyCols, v, t)
                        case None => SketchOps.createTopK(spark,
                          engine.catalog, table, keyCols, t.toLong)
                      }
                    (200, s"""{"status": "ok", "sketch_type": "topk", "size_bytes": $size, "entries": $entries}""")
                }
            }
          case _ => (400, err("unsupported sketch type"))
        }
    }
  }

  handle("/sketches", "GET") { ex =>
    queryParam(ex, "table") match {
      case None => (400, err("table parameter required"))
      case Some(t) => (200, Response.renderSketches(engine.catalog.listSketches(Some(t))))
    }
  }

  // Sketch advisor (beyond the reference): sketchable query shapes that
  // repeatedly paid a scan, with the build call that would flip each to
  // the no-scan catalog serve. ?min_misses= tunes the threshold.
  handle("/sketches/advise", "GET") { ex =>
    val min = queryParam(ex, "min_misses")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(3)
    val items = engine.adviseSketches(min).map { a =>
      s"""{"table":${jstr(a.candidate.table)},""" +
        s""""column":${jstr(a.candidate.column)},""" +
        s""""sketch_type":${jstr(a.candidate.sketchType)},""" +
        s""""group_by":${a.candidate.groupBy.map(jstr).getOrElse("null")},""" +
        s""""misses":${a.misses},"build":${jstr(a.build)}}"""
    }
    (200, s"""{"advice":[${items.mkString(",")}]}""")
  }

  handle("/samples", "GET") { ex =>
    val t = queryParam(ex, "table")
    val all = t.fold(graft.Tables.all.flatMap(engine.catalog.samplesFor))(
      x => engine.catalog.samplesFor(x))
    (200, Response.renderSamples(all))
  }

  // ---------------------------------------------------------------
  // Streams + windowed (TTL) maintainers over HTTP (round 15): batch
  // sketches build over POST /sketches/create, but the TTL maintainers
  // — what the advisor RECOMMENDS for streamed tables
  // (SketchAdvisor.windowedRecipe) — were library-only, so the
  // advise → build → serve loop could not close over HTTP for live-
  // window shapes. A caller registers a file-source stream, attaches
  // maintainers to it, flushes (processAllAvailable — the
  // deterministic "fold everything ingested so far" trigger), and the
  // live-window serves then answer over /query with the TTL explain
  // note. File sources are the deployment-neutral stream form here
  // (drop parquet into the directory = ingest); a Kafka-fed cluster
  // swaps the source, not the maintainers.
  // ---------------------------------------------------------------

  private val streams =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]
  private val maintainers = scala.collection.concurrent.TrieMap
    .empty[String, (String, org.apache.spark.sql.streaming.StreamingQuery)]

  handle("/streams/register", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        (req("name").flatMap(_.str), req("path").flatMap(_.str)) match {
          case (Some(n), Some(p)) =>
            val fmt = req("format").flatMap(_.str).getOrElse("parquet")
            // schema from the files already present (a stream source
            // needs a declared schema; the registration-time listing
            // is the natural authority)
            val schema = spark.read.format(fmt).load(p).schema
            streams.put(n,
              spark.readStream.schema(schema).format(fmt).load(p))
            (200, s"""{"status": "ok", "name": ${jstr(n)}, "columns": [""" +
              schema.fieldNames.map(jstr).mkString(", ") + "]}")
          case _ => (400, err("name and path required"))
        }
    }
  }

  handle("/sketches/maintain", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val streamName = req("stream").flatMap(_.str).getOrElse("")
        val table = req("table").flatMap(_.str).getOrElse("")
        val tpe = req("sketch_type").flatMap(_.str).getOrElse("")
        val ts = req("ts_column").flatMap(_.str).getOrElse("")
        val win = req("window_micros").flatMap(_.num).map(_.toLong)
        val bkt = req("bucket_micros").flatMap(_.num).map(_.toLong)
        val params = req("parameters").getOrElse(Json.O(Map.empty))
        (streams.get(streamName), win, bkt) match {
          case _ if table.isEmpty || tpe.isEmpty ||
              (ts.isEmpty && tpe != "band_admission") =>
            (400, err("table, sketch_type and ts_column required"))
          case (None, _, _) =>
            (400, err(s"unknown stream '$streamName' — POST /streams/register first"))
          // the INGEST maintainer: no event-time window — admission is
          // permanent (first presenter of every LSH band wins)
          case (Some(df), _, _) if tpe == "band_admission" =>
            val id = s"$table/text/band_admission"
            // stop-and-remove the old maintainer BEFORE starting the
            // replacement: both use the same durable checkpointLocation,
            // and Spark refuses to start a query whose checkpoint still
            // carries the id of an ACTIVE one — stopping after the start
            // made every re-POST for an existing maintainer error out.
            maintainers.remove(id)
              .foreach { case (_, old) => if (old.isActive) old.stop() }
            val q = graft.streaming.EventStreams.maintainBandAdmission(
              df, engine.catalog, table,
              checkpointLocation = Some(
                s"${engine.catalog.samplesDir}/ckpt/${table}_text_band_admission"))
            maintainers.put(id, (streamName, q))
            (200, s"""{"status": "ok", "maintainer": ${jstr(id)}, "stream": ${jstr(streamName)}}""")
          case (_, None, _) | (_, _, None) =>
            (400, err("window_micros and bucket_micros required"))
          case (Some(df), Some(w), Some(b)) =>
            import graft.streaming.{EventStreams, SampleMaintainers, WindowedSketches}
            val cat = engine.catalog
            val column = req("column").flatMap(_.str)
            def need(k: String) = params(k).flatMap(_.num)
            // every HTTP-attached maintainer gets a DURABLE checkpoint
            // under the workDir: batch ids then CONTINUE across server
            // restarts, composing with the durable last_batch guard
            // (a fresh temp checkpoint would restart ids at 0 and the
            // guard would silently skip the first folds)
            def ckpt(colKey: String): Option[String] = Some(
              s"${cat.samplesDir}/ckpt/" +
                s"${table}_${colKey.replaceAll("[^A-Za-z0-9_]", "_")}_$tpe")
            // thunks, not started queries: the replacement shares the
            // old maintainer's durable checkpointLocation, so the old
            // query must be stopped BEFORE the new one starts (Spark
            // refuses a checkpoint whose marker names an active query)
            val started: Either[String, (String, () => org.apache.spark.sql.streaming.StreamingQuery)] =
              (tpe, column) match {
                case ("hyperloglog", Some(c)) => Right(c -> (() =>
                  EventStreams.maintainHllWindowed(df, cat, table, c, ts, w, b,
                    need("b").map(_.toInt).getOrElse(12), ckpt(c))))
                case ("countmin", Some(c)) => Right(c -> (() =>
                  EventStreams.maintainCmsWindowed(df, cat, table, c, ts, w, b,
                    need("epsilon").getOrElse(0.01),
                    need("delta").getOrElse(0.01), ckpt(c))))
                case ("histogram", Some(c)) =>
                  (need("lo"), need("width"), need("buckets")) match {
                    case (Some(lo), Some(wd), Some(nb)) => Right(c -> (() =>
                      WindowedSketches.maintainHistogramWindowed(df, cat,
                        table, c, ts, w, b, lo, wd, nb.toInt, ckpt(c))))
                    case _ => Left("histogram needs parameters.lo/width/buckets")
                  }
                case ("kmv", Some(c)) => Right(c -> (() =>
                  WindowedSketches.maintainKmvWindowed(df, cat, table, c, ts, w, b,
                    need("k").map(_.toInt).getOrElse(1024), ckpt(c))))
                case ("hdr", Some(c)) => Right(c -> (() =>
                  WindowedSketches.maintainHdrWindowed(df, cat, table, c, ts, w, b,
                    need("m").map(_.toInt).getOrElse(32), ckpt(c))))
                case ("topk", _) =>
                  (req("group_by").flatMap(_.str), need("threshold")) match {
                    case (Some(g), Some(t)) =>
                      val cols = g.split(",").map(_.trim).filter(_.nonEmpty).toSeq
                      Right(g -> (() => WindowedSketches.maintainTopKWindowed(
                        df, cat, table, cols, ts, w, b, t.toLong,
                        checkpointLocation = ckpt(g))))
                    case _ => Left("topk needs group_by and parameters.threshold")
                  }
                case ("bottomk", _) =>
                  req("key_column").flatMap(_.str) match {
                    case Some(k) => Right(k -> (() =>
                      SampleMaintainers.maintainBottomKWindowed(df, cat,
                        table, k, ts, w, b,
                        need("k").map(_.toInt).getOrElse(2048), ckpt(k))))
                    case None => Left("bottomk needs key_column")
                  }
                case (t, None) => Left(s"sketch_type '$t' needs column")
                case (t, _)    => Left(s"unsupported windowed sketch type '$t'")
              }
            started match {
              case Left(msg) => (400, err(msg))
              case Right((colKey, start)) =>
                val id = s"$table/$colKey/$tpe"
                // replacing a maintainer stops the old query FIRST,
                // then starts the new one on the freed checkpoint
                maintainers.remove(id)
                  .foreach { case (_, old) => if (old.isActive) old.stop() }
                val q = start()
                maintainers.put(id, (streamName, q))
                (200, s"""{"status": "ok", "maintainer": ${jstr(id)}, "stream": ${jstr(streamName)}}""")
            }
        }
    }
  }

  handle("/streams/flush", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        val name = req("name").flatMap(_.str).getOrElse("")
        val qs = maintainers.values.filter(_._1 == name).map(_._2).toSeq
        if (qs.isEmpty) (400, err(s"no maintainers on stream '$name'"))
        else {
          // deterministic fold barrier: every file ingested so far is
          // processed before the response returns, so a subsequent
          // /query reads the folded live-window state
          qs.foreach(_.processAllAvailable())
          (200, s"""{"status": "ok", "flushed": ${qs.size}}""")
        }
    }
  }

  handle("/streams/stop", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        req("maintainer").flatMap(_.str) match {
          case Some(id) => maintainers.remove(id) match {
            case Some((_, q)) =>
              if (q.isActive) q.stop()
              (200, s"""{"status": "ok", "stopped": ${jstr(id)}}""")
            case None => (400, err(s"unknown maintainer '$id'"))
          }
          case None =>
            val name = req("name").flatMap(_.str).getOrElse("")
            val ids = maintainers.filter(_._2._1 == name).keys.toSeq
            ids.foreach { id =>
              maintainers.remove(id).foreach { case (_, q) =>
                if (q.isActive) q.stop()
              }
            }
            streams.remove(name)
            (200, s"""{"status": "ok", "stopped_maintainers": ${ids.size}}""")
        }
    }
  }

  handle("/streams", "GET") { _ =>
    val items = streams.keys.toSeq.sorted.map { n =>
      val ms = maintainers.toSeq.collect { case (id, (`n`, q)) =>
        s"""{"id": ${jstr(id)}, "active": ${q.isActive}}"""
      }
      s"""{"name": ${jstr(n)}, "maintainers": [${ms.mkString(", ")}]}"""
    }
    (200, s"""{"streams": [${items.mkString(", ")}]}""")
  }

  // Catalog operations for the DURABLE workDir (round 15): vacuum
  // reclaims the storage of entries the freshness guards already
  // refuse to serve (stale samples' parquet, rows-mismatched blobs);
  // reload picks up another process's writes wholesale (read
  // visibility is load-on-boot + own writes by design — the WRITE path
  // carries the cross-process no-lost-update guarantee).
  handle("/catalog/vacuum", "POST") { ex =>
    Json.parse(readBody(ex)) match {
      case Left(m) => (400, err(s"bad json: $m"))
      case Right(req) =>
        req("table").flatMap(_.str) match {
          case None => (400, err("table required"))
          case Some(t) =>
            val (samples, sketches) = engine.catalog.vacuum(t)
            (200, s"""{"status": "ok", "dropped_samples": [""" +
              samples.map(jstr).mkString(", ") +
              s"""], "dropped_sketches": [""" +
              sketches.map { case (tb, c, ty) => jstr(s"$tb/$c/$ty") }
                .mkString(", ") + "]}")
        }
    }
  }

  handle("/catalog/reload", "POST") { _ =>
    engine.catalog.reload()
    (200, s"""{"status": "ok", "sketches": ${engine.catalog.listSketches().size}}""")
  }

  handle("/ml/stats", "GET") { _ =>
    (200, Response.renderLearningStats(engine.history.learningStats()))
  }

  // GET / serves the minimal web console (the reference ships a Flask
  // UI at the same route, templates/index.html: an SQL box + error
  // tolerance posting to /query and panels for tables/samples/sketches/
  // learning stats — this page is an original re-expression of that
  // contract, not a copy). Anything else is the reference's catch-all
  // 404 (app.py:322-324).
  server.createContext("/", (ex: HttpExchange) => {
    try {
      if (ex.getRequestURI.getPath == "/" && ex.getRequestMethod == "GET") {
        val bytes = Server.indexHtml.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      } else reply(ex, 404, err("Not found"))
    } finally ex.close()
  })
}

object Server {
  /** The web console markup: one page, no assets, vanilla JS fetch()
    * against the JSON routes.
    */
  val indexHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft — approximate query engine</title>
      |<style>
      |body{font-family:system-ui,sans-serif;margin:2rem auto;max-width:60rem;padding:0 1rem}
      |textarea{width:100%;height:6rem;font-family:monospace}
      |pre{background:#f6f6f6;padding:1rem;overflow:auto;border-radius:4px}
      |button{margin:.25rem .5rem .25rem 0;padding:.4rem .8rem}
      |label{margin-right:1rem}
      |</style></head><body>
      |<h1>graft</h1>
      |<p>Spark-native approximate query engine — SQL goes to <code>POST /query</code>;
      |the planner picks exact / sample / sketch / stratified execution.</p>
      |<textarea id="sql">SELECT count(*) AS n FROM lineitem WHERE l_quantity &lt; 30</textarea>
      |<div>
      |<label>max_rel_error
      |<select id="err"><option>0.01</option><option selected>0.05</option><option>0.10</option></select>
      |</label>
      |<label><input type="checkbox" id="exact"> prefer exact</label>
      |</div>
      |<button onclick="runQuery()">Run query</button>
      |<button onclick="show('/tables')">Tables</button>
      |<button onclick="show('/samples')">Samples</button>
      |<button onclick="show('/sketches')">Sketches</button>
      |<button onclick="show('/ml/stats')">Learning stats</button>
      |<pre id="out">—</pre>
      |<script>
      |const out = document.getElementById('out');
      |function render(p){p.then(r=>r.json()).then(j=>{out.textContent=JSON.stringify(j,null,2)})
      |  .catch(e=>{out.textContent=String(e)})}
      |function runQuery(){render(fetch('/query',{method:'POST',
      |  headers:{'Content-Type':'application/json'},
      |  body:JSON.stringify({sql:document.getElementById('sql').value,
      |    max_rel_error:parseFloat(document.getElementById('err').value),
      |    prefer_exact:document.getElementById('exact').checked})}))}
      |function show(path){render(fetch(path))}
      |</script></body></html>
      |""".stripMargin
}

/** Standalone entry point: `runMain graft.api.Serve [sfDir] [port]
  * [workDir]` boots a local session over the driver testdata and
  * serves the REST contract. With a `workDir` (or `GRAFT_WORK_DIR`),
  * the catalog is DURABLE: sketches, samples, and learned history
  * built in one server process serve again after a restart over the
  * same directory — the reference's SQLite-backed restart behavior.
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val port = args.lift(1).map(_.toInt).getOrElse(8765)
    val workDir = args.lift(2)
      .orElse(sys.env.get("GRAFT_WORK_DIR"))
      .getOrElse(
        java.nio.file.Files.createTempDirectory("graft-serve").toString)
    val spark = graft.Tables.session()
    graft.Tables.registerAll(spark, sfDir)
    val catalog = new graft.catalog.MetaCatalog(workDir)
    val server = new Server(new QueryEngine(spark, catalog), port)
    server.start()
    println(s"graft engine serving on http://127.0.0.1:${server.boundPort}" +
      s" (workDir=$workDir)")
    Thread.currentThread().join()
  }
}
