package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Layout

/** Physical-layout behavior: bucketed joins must plan without a shuffle
  * on the bucketed sides, and partitioned reads must prune directories
  * at planning time. Both asserted on the actual plans.
  */
class LayoutSpec extends SparkSpec {

  test("bucketed co-located join plans without exchanging either side") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    Layout.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
      "b_orders", "o_orderkey", 8)
    Layout.writeBucketed(lineitem.select("l_orderkey", "l_quantity"),
      "b_lineitem", "l_orderkey", 8)
    // disable broadcast so the join genuinely tests co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // and the result is correct
      val n = joined.count()
      val expect = orders.join(lineitem,
        col("o_orderkey") === col("l_orderkey")).count()
      assert(n == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("bucketed aggregation on the bucket key avoids the shuffle") {
    val agg = spark.table("b_lineitem")
      .groupBy("l_orderkey").agg(sum("l_quantity"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed group-by must not shuffle:\n$plan")
  }

  test("partitioned reads prune directories via partition filters") {
    val events = Tables.load(spark, sfDir, "events")
      .withColumn("day", expr("cast(ts as date)"))
    val path = Files.createTempDirectory("graft-part").toString + "/events"
    Layout.writePartitioned(events, path, "day")
    val days = events.select("day").distinct().count()
    assert(days > 1)
    val firstDay = events.agg(min("day")).collect().head.getDate(0)
    val pruned = Layout.readPartitioned(spark, path)
      .filter(col("day") === lit(firstDay))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    val exactCount = events.filter(col("day") === lit(firstDay)).count()
    assert(pruned.count() == exactCount)
    // the scan must actually list fewer partition directories than the
    // full dataset (pruning happens at file-listing time)
    import org.apache.spark.sql.execution.FileSourceScanExec
    def partitionsListed(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f.selectedPartitions.partitionCount }
        .getOrElse(-1)
    val full = Layout.readPartitioned(spark, path)
    assert(partitionsListed(pruned) == 1 &&
      partitionsListed(full) == days.toInt,
      s"pruned=${partitionsListed(pruned)} full=${partitionsListed(full)} days=$days")
  }

  test("scanParallelism recomputes when openCostInBytes changes mid-session") {
    val dir = Files.createTempDirectory("graft-split").toString
    spark.range(0, 4000).repartition(8).write.parquet(s"$dir/t.parquet")
    def planned = Tables.load(spark, dir, "t").queryExecution.toRdd.getNumPartitions
    val before = Tables.scanParallelism(spark, dir, "t")
    assert(before == planned, s"before=$before planned=$planned")
    // an open cost above maxPartitionBytes gives every file its own split
    spark.conf.set("spark.sql.files.openCostInBytes", "256m")
    try {
      val after = Tables.scanParallelism(spark, dir, "t")
      assert(after == planned && after == 8 && after != before,
        s"before=$before after=$after planned=$planned")
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
    assert(Tables.scanParallelism(spark, dir, "t") == before)
  }
}
