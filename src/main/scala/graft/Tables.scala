package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loads the driver-provided parquet tables (TESTDATA.md) and registers
  * them as temp views so both the DataFrame API and `spark.sql` paths see
  * the same catalog names the DuckDB oracle uses.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path starts here: make the engine's native SQL
    // functions (graft_h60, cosine_similarity, quantized_dot) resolvable
    // in the expr() fragments the queries build (idempotent map puts)
    graft.functions.GraftFunctions.register(spark)
    // events.ts is parquet TIMESTAMP(NANOS) which Spark's reader rejects;
    // read nanos as long and convert to a microsecond timestamp (same
    // truncation DuckDB applies when it casts ns -> its us timestamps).
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path(sfDir, name))
      import org.apache.spark.sql.functions._
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    } else spark.read.parquet(path(sfDir, name))
  }

  /** Observed scan parallelism of a table: how many partitions the
    * session's current file-split rules give its parquet scan. Memoized
    * per (session, dir, table, split inputs) — computing it plans a bare
    * scan once (no job runs). The split size is
    * min(maxPartitionBytes, max(openCostInBytes, bytes / cores)), where
    * minPartitionNum, else leafNodeDefaultParallelism, else the core
    * count stands for `cores`, so the key carries each of those.
    */
  private val scanParts = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, Seq[String]), Int]
  def scanParallelism(spark: SparkSession, sfDir: String, name: String): Int = {
    scanParts.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(scanParts.remove)
    val split = Seq(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"),
      spark.conf.get("spark.sql.files.openCostInBytes", "4m"),
      spark.conf.getOption("spark.sql.files.minPartitionNum").getOrElse(""),
      spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").getOrElse(""),
      spark.sparkContext.defaultParallelism.toString)
    scanParts.getOrElseUpdate((spark, sfDir, name, split),
      load(spark, sfDir, name).queryExecution.toRdd.getNumPartitions)
  }

  /** SCALE-GUARDED single-split spread (round 17, guide §2.5 "input
    * skew — one huge unsplittable file"). The round-16 unconditional
    * `repartition(defaultParallelism, key)` fixed the local testdata
    * pathology (single-row-group parquet ⇒ the whole scan is ONE
    * partition, so every downstream partial aggregate / per-row
    * expression runs on one core) but inserted a FULL shuffle of the
    * fact table even for well-split input — at 100 TB that is a new
    * full-table Exchange below every aggregate it guarded. This helper
    * spreads ONLY when the observed scan parallelism is below the
    * session's core count: the testdata pathology keeps its fix, a
    * properly split production scan takes no extra Exchange (verified by
    * the plans/r17 after-plans dumped under a forced small
    * maxPartitionBytes).
    */
  def spreadIfNarrow(spark: SparkSession, sfDir: String, name: String)(
      key: Column*): DataFrame = {
    val df = load(spark, sfDir, name)
    val p = spark.sparkContext.defaultParallelism
    if (scanParallelism(spark, sfDir, name) < p) df.repartition(p, key: _*)
    else df
  }

  /** Register every table under `sfDir` as a temp view (idempotent). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    all.foreach { t =>
      load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    registered(spark) = sfDir
  }

  /** Which dir this session's views currently point at. A multi-dir
    * session (graft.tools.Scaling interleaves sf0.01/sf0.1) flips the
    * GLOBAL view names when it switches dir; an engine memoized per
    * (session, dir) must re-register before querying or it silently
    * reads (and records stats for) the OTHER dir's data — the
    * cross-dir poisoning that made q77/q78's fact-side selection flip
    * in the scaling probe. Single-dir runs pay one map probe.
    */
  private val registered =
    scala.collection.concurrent.TrieMap[SparkSession, String]()
  def ensureRegistered(spark: SparkSession, sfDir: String): Unit = {
    registered.keysIterator.filter(_.sparkContext.isStopped)
      .foreach(registered.remove)
    if (!registered.get(spark).contains(sfDir)) registerAll(spark, sfDir)
  }

  /** A SparkSession tuned for this engine (local mode, AQE on,
    * shuffle partitions sized for the local core count, UTC).
    */
  def session(cores: String = "*", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-aqe")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
