package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.api.{Json, Response, Server}
import graft.catalog.MetaCatalog
import graft.engine.QueryEngine
import graft.sample.Samplers
import graft.sketch.SketchOps
import graft.streaming.EventStreams

/** What Spark did, counted from its listener bus: jobs, tasks and the
  * tasks' input, shuffle and CPU metrics.
  */
final class SparkCounts extends SparkListener {
  private val c = Array.fill(6)(new AtomicLong)
  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(1).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(2).addAndGet(m.inputMetrics.recordsRead)
      c(3).addAndGet(m.inputMetrics.bytesRead)
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(5).addAndGet(m.executorCpuTime)
    }
  }
  /** (jobs, tasks, scanRows, scanBytes, shuffleBytes, taskCpuNs) */
  def snap: Array[Long] = c.map(_.get)
}

/** One round of the schedule: the requests sent together (a dashboard
  * refresh, a pass over the analyst's request mix) and, on the dashboard,
  * the micro-batch appended to the live table before them.
  */
final case class Round(warm: Boolean, requests: Seq[(String, String)],
    batch: Seq[(String, Double, Long)])

/** In-memory spans (name, operation, parent, start, end) and per-layer
  * sums. Spans are written out when the run ends.
  */
final class Tracer {
  val spans = ArrayBuffer[(String, Long, String, Long, Long)]()
  val sums = LinkedHashMap[String, Double]()
  val counts = LinkedHashMap[String, Long]()
  def add(name: String, v: Double): Unit = {
    sums(name) = sums.getOrElse(name, 0.0) + v
    counts(name) = counts.getOrElse(name, 0L) + 1
  }
  def mean(name: String): Double =
    if (counts.getOrElse(name, 0L) == 0) 0.0 else sums(name) / counts(name)
  def span[T](name: String, op: Long, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      spans += ((name, op, parent, t0, t1))
      add(name, (t1 - t0) / 1e6)
    }
  }
}

object Harness {
  private val mx = ManagementFactory.getThreadMXBean
  private val liveCols = Seq("l_returnflag", "l_extendedprice", "l_partkey")
  /** The SparkEntry operator the sampled set-up runs once over the corpus;
    * its output is checked against its `oracleSql` entry in DuckDB. */
  private val operator = "q49_seq_packing"

  def main(args: Array[String]): Unit = {
    val Array(workload, schedulePath, secondsS, traceS, dataDir, workDir, outPath) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val phases = LinkedHashMap[String, Double]()
    def phase(name: String): Unit = phases(name) = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counts = new SparkCounts
    spark.sparkContext.addSparkListener(counts)
    val tracer = new Tracer
    val catalogDir = s"$workDir/catalog"
    val catalog = new MetaCatalog(catalogDir)
    val engine = new QueryEngine(spark, catalog)
    val server = new Server(engine, 0)
    server.start()
    val pool = Executors.newFixedThreadPool(cpus)
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val uri = URI.create(s"http://127.0.0.1:${server.boundPort}/query")
    phase("session")
    val (setupBatch, rounds) = readSchedule(schedulePath)
    val out = new Out
    out.str("workload", workload)
    var streams = Seq.empty[(String, MemoryStream[(String, Double, Long)], StreamingQuery)]
    try {
      def load(name: String, view: String): DataFrame = {
        val df = spark.read.parquet(s"$dataDir/$name.parquet")
        df.createOrReplaceTempView(view)
        df
      }
      def build[T](layer: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try tracer.span(layer, -1L, "setup")(body)
        finally tracer.add("artifact.build_ms", (System.nanoTime() - t0) / 1e6)
      }
      /** Runs independent set-up tasks: four at a time in a timed run, one
        * at a time in a traced run, where each is timed in its own span (a
        * timed run leaves the tracer alone: it is not thread-safe). */
      def setUp(tasks: Seq[(String, () => Any)]): Unit =
        if (trace) tasks.foreach { case (layer, t) =>
          if (layer.startsWith("sketch.") || layer.startsWith("sample.")) build(layer)(t())
          else tracer.span(layer, -1L, "setup")(t())
        }
        else tasks.map { case (_, t) =>
          pool.submit(new Callable[Any] { def call() = t() })
        }.foreach(_.get())

      /** One POST /query through the server, timed from send to the
        * last byte of the response. */
      def post(body: String): (Int, String, Double) = {
        val req = HttpRequest.newBuilder(uri)
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        val t0 = System.nanoTime()
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body(), (System.nanoTime() - t0) / 1e6)
      }

      /** The product path of `POST /query`, one public function at a
        * time, each in its own span, with Spark's counts per answer. */
      var opId = 0L
      val answers = ArrayBuffer[String]()
      def traced(id: String, body: String): (Int, String, Double) = {
        opId += 1
        val op = opId
        val t0 = System.nanoTime()
        PerfbenchBus.drain(spark.sparkContext)
        val c0 = counts.snap
        val req = tracer.span("api.parse_ms", op, "request")(Json.parse(body))
          .fold(m => sys.error(s"bad request json: $m"), identity)
        // the request-to-options mapping of the /query handler (api/Server.scala)
        val opts = engine.Options(
          maxRelError = req("max_rel_error").flatMap(_.num).getOrElse(0.05),
          preferExact = req("prefer_exact").flatMap(_.bool).getOrElse(false),
          useMl = req("use_ml_optimization").flatMap(_.bool).getOrElse(false),
          measureExact = req("use_ml_optimization").flatMap(_.bool).getOrElse(false),
          approximateJoins = req("approximate_joins").flatMap(_.bool).getOrElse(false),
          autoCostedJoins = req("auto_costed_joins").flatMap(_.bool).getOrElse(true))
        val sql = req("sql").flatMap(_.str).getOrElse("")
        val cpu0 = mx.getCurrentThreadCpuTime
        val d0 = System.nanoTime()
        val r = tracer.span("engine.dispatch_ms", op, "request")(engine.query(sql, opts))
        val dispatchMs = (System.nanoTime() - d0) / 1e6
        tracer.add("engine.dispatch_cpu_ms", (mx.getCurrentThreadCpuTime - cpu0) / 1e6)
        PerfbenchBus.drain(spark.sparkContext)
        tracer.add("engine.dispatch_jobs", (counts.snap(0) - c0(0)).toDouble)
        tracer.add("engine.catalog_served", if (r.servedFromCatalog) 1.0 else 0.0)
        val capped = r.df.limit(1000)
        tracer.span("spark.plan_ms", op, "request")(capped.queryExecution.executedPlan)
        val rows = tracer.span("spark.exec_ms", op, "request")(capped.collect())
        PerfbenchBus.drain(spark.sparkContext)
        val c1 = counts.snap
        Seq("spark.jobs", "spark.tasks", "spark.scan_rows", "spark.scan_bytes",
          "spark.shuffle_bytes").zipWithIndex.foreach { case (n, i) =>
          tracer.add(n, (c1(i) - c0(i)).toDouble) }
        tracer.add("spark.task_cpu_ms", (c1(5) - c0(5)) / 1e6)
        answers += s"""{"id": ${Out.q(id)}, "served": ${r.servedFromCatalog}, """ +
          s""""kind": ${Out.q(r.serveKind.getOrElse(r.planType))}, "dispatch_ms": $dispatchMs, """ +
          s""""scan_rows": ${c1(2) - c0(2)}, "files": ${capped.inputFiles
            .map(f => Out.q(f.substring(f.lastIndexOf('/') + 1))).distinct.sorted
            .mkString("[", ", ", "]")}}"""
        val local = r.copy(df = spark.createDataFrame(rows.toSeq.asJava, r.df.schema))
        val json = tracer.span("api.render_ms", op, "request")(Response.render(local))
        (200, json, (System.nanoTime() - t0) / 1e6)
      }
      def send(id: String, body: String): (Int, String, Double) =
        try { if (trace) traced(id, body) else post(body) }
        catch { case t: Throwable => (599, String.valueOf(t.getMessage), 0.0) }

      /** Sends a round's requests: all at once over at most `cpus`
        * connections when `concurrent`, else one after another. */
      def sendRound(reqs: Seq[(String, String)], concurrent: Boolean)
          : Seq[(String, Int, String, Double)] =
        if (concurrent && !trace) {
          val futures = reqs.map { case (id, body) =>
            pool.submit(new Callable[(String, Int, String, Double)] {
              def call() = { val (c, b, ms) = send(id, body); (id, c, b, ms) }
            })
          }
          futures.map(_.get())
        } else reqs.map { case (id, body) =>
          val (c, b, ms) = send(id, body); (id, c, b, ms)
        }

      // ---- workload setup: tables, artifacts, streams ----
      val liveRows = ArrayBuffer[(String, Double, Long)]()
      /** Appends one batch to every maintainer and waits until each has
        * folded it; then records the live table's new row count (without
        * it the engine's chooser scans the live view instead of serving). */
      def commit(batch: Seq[(String, Double, Long)]): Double = {
        val t0 = System.nanoTime()
        if (trace) streams.foreach { case (name, m, q) =>
          PerfbenchBus.drain(spark.sparkContext)
          val j0 = counts.snap(0)
          tracer.span(s"streaming.batch_ms.$name", -1L, "commit") {
            m.addData(batch); q.processAllAvailable()
          }
          PerfbenchBus.drain(spark.sparkContext)
          tracer.add("streaming.jobs_per_batch", (counts.snap(0) - j0).toDouble)
        } else {
          streams.foreach { case (_, m, _) => m.addData(batch) }
          streams.foreach { case (_, _, q) => q.processAllAvailable() }
        }
        liveRows ++= batch
        catalog.upsertTableStats("live", liveRows.size.toLong)
        (System.nanoTime() - t0) / 1e6
      }

      workload match {
        case "dashboard" =>
          val li = load("lineitem", "lineitem")
          li.createOrReplaceTempView("lineitem_r")
          load("orders", "orders")
          load("supplier", "supplier")
          // the live table: empty as a view, so an answer about it can only
          // come from the blobs its maintainers keep
          implicit val sqlc = spark.sqlContext
          import spark.implicits._
          Seq.empty[(String, Double, Long)].toDF(liveCols: _*).createOrReplaceTempView("live")
          def stream(name: String)(start: DataFrame => StreamingQuery) = {
            val m = MemoryStream[(String, Double, Long)]
            (name, m, start(m.toDF().toDF(liveCols: _*)))
          }
          setUp(Seq(
            // the maintainers start and fold the set-up batch
            "streaming.start_ms" -> (() => {
              streams = Seq(
                stream("hll")(EventStreams.maintainHllSketch(_, catalog, "live", "l_partkey")),
                stream("grouped_stats")(EventStreams.maintainGroupedStatsSketch(
                  _, catalog, "live", "l_returnflag", "l_extendedprice")))
              commit(setupBatch)
            }),
            "sketch.build_ms.histogram" -> (() =>
              SketchOps.createHistogram(spark, catalog, "lineitem", "l_extendedprice")),
            "sketch.build_ms.grouped_histogram" -> (() =>
              SketchOps.createGroupedHistogram(spark, catalog, "lineitem",
                "l_returnflag", "l_extendedprice")),
            "sketch.build_ms.grouped_histogram" -> (() =>
              SketchOps.createGroupedHistogram(spark, catalog, "lineitem",
                Seq("l_returnflag", "l_linestatus"), "l_quantity", 64)),
            "sketch.build_ms.grouped_histogram" -> (() =>
              SketchOps.createGroupedHistogram(spark, catalog, "lineitem_r",
                Seq("l_suppkey"), "l_extendedprice", 64, sharedGrid = true)),
            "sketch.build_ms.topk" -> (() =>
              SketchOps.createTopK(spark, catalog, "lineitem", Seq("l_partkey"), 40L)),
            "sketch.build_ms.kmv" -> (() =>
              SketchOps.createKmv(spark, catalog, "lineitem", "l_orderkey", 4096)),
            "sketch.build_ms.kmv" -> (() =>
              SketchOps.createKmv(spark, catalog, "orders", "o_orderkey", 4096)),
            "sketch.build_ms.hdr" -> (() =>
              SketchOps.createHdr(spark, catalog, "lineitem", "l_tax", 32))))
        case "sampled" =>
          load("lineitem", "lineitem")
          load("orders", "orders")
          // the repo's AQP protocol (graft.Bench): lineitem widened ten-fold
          // by UNION ALL, answered from a 1% uniform sample
          Seq.fill(10)(spark.table("lineitem")).reduce(_ unionAll _)
            .createOrReplaceTempView("lineitem_x10")
          // one pipeline operator of the queries layer over the corpus, at
          // the same time as the sample build
          val df = SparkEntry.queries(operator)(spark, dataDir)
          var rows = Array.empty[Row]
          var sampleRows = 0L
          setUp(Seq(
            "sample.build_ms.uniform" -> (() => sampleRows =
              Samplers.createUniform(spark, catalog, "lineitem_x10", 0.01)._2),
            s"queries.first_ms.$operator" -> (() => {
              if (trace) PerfbenchBus.drain(spark.sparkContext)
              val c0 = counts.snap
              rows = df.collect()
              if (trace) {
                PerfbenchBus.drain(spark.sparkContext)
                tracer.add("queries.jobs", (counts.snap(0) - c0(0)).toDouble)
                tracer.add("queries.shuffle_bytes", (counts.snap(4) - c0(4)).toDouble)
              }
            })))
          tracer.add("sample.rows", sampleRows.toDouble)
          out.raw("operator", s"""{"name": ${Out.q(operator)}, """ +
            s""""oracle": ${Out.q(SparkEntry.oracleSql(operator))}, """ +
            s""""columns": ${df.schema.fieldNames.map(Out.q).mkString("[", ", ", "]")}, """ +
            s""""rows": ${rows.map(r => r.toSeq.map(Out.value).mkString("[", ", ", "]"))
              .mkString("[", ",\n", "]")}}""")
      }

      val concurrent = workload == "dashboard"
      val roundsOut = ArrayBuffer[String]()
      def runRound(r: Round): Unit = {
        val t0 = System.nanoTime()
        val commitMs = if (r.batch.nonEmpty) commit(r.batch) else 0.0
        val res = sendRound(r.requests, concurrent)
        val ms = (System.nanoTime() - t0) / 1e6
        val reqs = res.map { case (id, code, body, lat) =>
          s"""{"id": ${Out.q(id)}, "code": $code, "ms": $lat, "body": ${Out.q(body)}}"""
        }
        roundsOut += s"""{"warm": ${r.warm}, "ms": $ms, "commit_ms": $commitMs, "rows": ${r.batch.size}, "requests": [${reqs.mkString(", ")}]}"""
      }

      phase("artifacts")
      rounds.filter(_.warm).foreach(runRound)
      phase("warm")
      // ---- timed phase: whole rounds until the time is spent ----
      val gc0 = gcMs; val jit0 = jitMs; val io0 = wchar
      tracer.sums.keys.filterNot(k => Seq("sketch.", "sample.", "artifact.", "queries.",
          "streaming.start")
          .exists(k.startsWith))
        .toSeq.foreach { k => tracer.sums.remove(k); tracer.counts.remove(k) }
      answers.clear()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      out.num("timed_start_ms", System.currentTimeMillis().toDouble)
      val tStart = System.nanoTime()
      val timed = rounds.filterNot(_.warm).iterator
      while (timed.hasNext && (System.nanoTime() - tStart) / 1e9 < seconds)
        runRound(timed.next())
      out.num("timed_s", (System.nanoTime() - tStart) / 1e9)
      out.num("jvm.gc_ms", gcMs - gc0)
      out.num("jvm.jit_ms", jitMs - jit0)
      out.num("io.write_bytes_timed", (wchar - io0).toDouble)
      out.num("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)
      phase("timed")
      out.raw("rounds", roundsOut.mkString("[", ",\n", "]"))

      // ---- end-of-run state: stream blobs against batch builds ----
      if (streams.nonEmpty) {
        streams.foreach(_._3.stop())
        import spark.implicits._
        liveRows.toSeq.toDF(liveCols: _*).createOrReplaceTempView("live")
        val batchCat = new MetaCatalog(s"$workDir/batch-catalog")
        Seq(() => SketchOps.createHll(spark, batchCat, "live", "l_partkey"),
          () => SketchOps.createGroupedHistogram(spark, batchCat, "live",
            "l_returnflag", "l_extendedprice"))
          .map(b => pool.submit(new Callable[Any] { def call() = b() })).foreach(_.get())
        def blob(c: MetaCatalog, col: String, tpe: String): String =
          c.getSketch("live", col, tpe).map(s => sha(s.data)).getOrElse("missing")
        out.raw("digests", Seq(
          "hll" -> (blob(catalog, "l_partkey", "hyperloglog"),
            blob(batchCat, "l_partkey", "hyperloglog")),
          "grouped_stats" -> (blob(catalog, "l_extendedprice", "stats_grouped"),
            blob(batchCat, "l_extendedprice", "stats_grouped"))
        ).map { case (k, (a, b)) => s"${Out.q(k)}: [${Out.q(a)}, ${Out.q(b)}]" }
          .mkString("{", ", ", "}"))
      }

      phase("end_checks")
      out.raw("phases_s", phases.map { case (k, v) => s"${Out.q(k)}: $v" }
        .mkString("{", ", ", "}"))
      // ---- catalog footprint and per-layer figures ----
      val files = walk(Paths.get(catalogDir))
      out.num("catalog.bytes", files.map(Files.size).sum.toDouble)
      out.num("catalog.files", files.size.toDouble)
      out.num("learn.bytes", files.filter { p =>
        val n = p.getFileName.toString
        n == "query_history.bin" || n == "advisor_misses.bin"
      }.map(Files.size).sum.toDouble)
      if (trace) {
        val layers = tracer.sums.keys.toSeq.map { k =>
          val v = if (k == "sample.rows") tracer.sums(k) else tracer.mean(k)
          s"${Out.q(k)}: $v"
        }
        out.raw("layers", layers.mkString("{", ", ", "}"))
        out.raw("answers", answers.mkString("[", ",\n", "]"))
        out.raw("spans", tracer.spans.map { case (n, op, p, a, b) =>
          s"""[${Out.q(n)}, $op, ${Out.q(p)}, $a, $b]"""
        }.mkString("[", ",\n", "]"))
      }
    } finally {
      Files.writeString(Paths.get(outPath), out.render)
      streams.foreach(s => if (s._3.isActive) s._3.stop())
      server.stop()
      pool.shutdownNow()
      spark.stop()
    }
  }

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  private def jitMs: Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime.toDouble)
      .getOrElse(0.0)
  /** Bytes this process has written, from /proc/self/io (0 where absent). */
  private def wchar: Long =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("wchar:")).map(_.split(":")(1).trim.toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** Schedule lines: `R <warm>` opens a round, `Q <id> <json>` is a
    * request of it, `D <flag> <price> <partkey>` a row of its micro-batch,
    * `S <flag> <price> <partkey>` a row of the batch the maintainers fold
    * at set-up (tab-separated). */
  def readSchedule(path: String): (Seq[(String, Double, Long)], Seq[Round]) = {
    val rounds = ArrayBuffer[Round]()
    var warm = false
    val reqs = ArrayBuffer[(String, String)]()
    val rows = ArrayBuffer[(String, Double, Long)]()
    val setup = ArrayBuffer[(String, Double, Long)]()
    def flush(): Unit = if (reqs.nonEmpty || rows.nonEmpty) {
      rounds += Round(warm, reqs.toList, rows.toList); reqs.clear(); rows.clear()
    }
    Files.readAllLines(Paths.get(path)).asScala.foreach { line =>
      val f = line.split("\t")
      f(0) match {
        case "R" => flush(); warm = f(1) == "1"
        case "Q" => reqs += ((f(1), f(2)))
        case "D" => rows += ((f(1), f(2).toDouble, f(3).toLong))
        case "S" => setup += ((f(1), f(2).toDouble, f(3).toLong))
        case _ =>
      }
    }
    flush()
    (setup.toList, rounds.toList)
  }
}

/** A flat JSON object written field by field. */
final class Out {
  private val fields = ArrayBuffer[String]()
  def str(k: String, v: String): Unit = fields += s"${Out.q(k)}: ${Out.q(v)}"
  def num(k: String, v: Double): Unit =
    fields += s"${Out.q(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
  def raw(k: String, json: String): Unit = fields += s"${Out.q(k)}: $json"
  def render: String = fields.mkString("{\n", ",\n", "\n}\n")
}
object Out {
  /** A cell of a collected row as JSON. */
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case d: Double if d.isNaN || d.isInfinite => q(d.toString)
    case x @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double | _: Boolean) =>
      x.toString
    case x => q(x.toString)
  }
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
