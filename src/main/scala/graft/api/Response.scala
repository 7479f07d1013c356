package graft.api

import org.apache.spark.sql.Row

import graft.engine.QueryEngine

/** JSON response shaping — the reference's `POST /query` contract
  * (/root/reference/app.py:146-156):
  * {status, plan, result, meta{execution_time_ms, actual_speedup},
  *  ml_optimization}.
  *
  * Hand-rolled serializer (no JSON library in the dependency set);
  * result rows are the collected DataFrame limited by `maxRows` —
  * collection is the one deliberate driver-side step, exactly like the
  * reference materializes rows for Flask.
  */
object Response {

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def jval(v: Any): String = v match {
    case null                => "null"
    case s: String           => "\"" + esc(s) + "\""
    case b: Boolean          => b.toString
    // JSON has no Infinity/NaN tokens — a stored-sketch answer carries
    // estimated_speedup = +Inf (no scan at all) and must serialize as
    // null, not corrupt the whole /query response
    case d: java.lang.Double if d.isInfinite || d.isNaN => "null"
    case f: java.lang.Float if f.isInfinite || f.isNaN  => "null"
    case n: java.lang.Number => n.toString
    case t: java.sql.Timestamp => "\"" + t.toString + "\""
    case d: java.sql.Date    => "\"" + d.toString + "\""
    case other               => "\"" + esc(other.toString) + "\""
  }

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + esc(k) + "\": " + v }
      .mkString("{", ", ", "}")

  private def rowsJson(rows: Seq[Row]): String =
    rows.map { r =>
      obj(r.schema.fieldNames.toSeq.zipWithIndex.map { case (f, i) =>
        f -> jval(r.get(i))
      })
    }.mkString("[", ", ", "]")

  /** GET /ml/stats shape (/root/reference/app.py:309-324): per-strategy
    * query_count / avg_speedup / avg_error + total over the window.
    */
  def renderLearningStats(stats: Map[String, (Long, Double, Double)]): String = {
    val per = stats.toSeq.sortBy(_._1).map { case (strategy, (n, spd, err)) =>
      strategy -> obj(Seq(
        "query_count" -> n.toString,
        "avg_speedup" -> spd.toString,
        "avg_error" -> err.toString))
    }
    obj(Seq(
      "status" -> jval("success"),
      "strategies" -> obj(per),
      "total_queries" -> stats.values.map(_._1).sum.toString))
  }

  /** GET /samples shape (aqe_samples listing). */
  def renderSamples(samples: Seq[graft.catalog.MetaCatalog#SampleInfo]): String =
    obj(Seq(
      "status" -> jval("success"),
      "samples" -> samples.sortBy(_.sampleTable).map { s =>
        obj(Seq(
          "table_name" -> jval(s.tableName),
          "sample_table" -> jval(s.sampleTable),
          "sample_fraction" -> jval(s.fraction),
          "strata_column" -> s.strataColumn.map(jval).getOrElse("null"),
          "created_at" -> s.createdAt.toString))
      }.mkString("[", ", ", "]")))

  /** GET /sketches shape (aqe_sketches listing; bytes as size only). */
  def renderSketches(sketches: Seq[graft.catalog.MetaCatalog#SketchInfo]): String =
    obj(Seq(
      "status" -> jval("success"),
      "sketches" -> sketches.sortBy(s => (s.tableName, s.columnName)).map { s =>
        obj(Seq(
          "table_name" -> jval(s.tableName),
          "column_name" -> jval(s.columnName),
          "sketch_type" -> jval(s.sketchType),
          "parameters" -> s.parameters,
          "size_bytes" -> s.data.length.toString))
      }.mkString("[", ", ", "]")))

  private def planJson(r: QueryEngine#AqeResult): String = obj(Seq(
    "type" -> jval(r.planType),
    "reason" -> jval(r.reason),
    "sample_table" -> r.sampleTable.map(jval).getOrElse("null"),
    "sample_fraction" -> r.sampleFraction.map(jval).getOrElse("null"),
    // the planner-enumerated candidate's figures (the reference plan
    // dict's estimated_cost, planner.py:198/253); "serve" names the
    // no-scan catalog serve family when that candidate won
    "estimated_cost" -> r.estimatedCost.map(jval).getOrElse("null"),
    "serve" -> r.serveKind.map(jval).getOrElse("null")))

  private def mlJson(r: QueryEngine#AqeResult): String = obj(Seq(
    "strategy" -> jval(r.strategy),
    "confidence" -> jval(r.confidence),
    "estimated_speedup" -> jval(r.estimatedSpeedup),
    "estimated_error" -> jval(r.estimatedError),
    "reasoning" -> jval(r.reason),
    "transformations" -> r.transformations.map(jval).mkString("[", ", ", "]")))

  /** Render an engine result in the reference response shape. At most
    * `maxRows` rows are returned; one extra row is collected so a cut
    * answer says so (`meta.truncated`, with the cap in `meta.row_cap`)
    * instead of passing the cap off as the row count.
    */
  def render(r: QueryEngine#AqeResult, maxRows: Int = 1000): String = {
    val fetched = r.df.limit(maxRows + 1).collect().toSeq
    val truncated = fetched.sizeIs > maxRows
    val rows = if (truncated) fetched.take(maxRows) else fetched
    val meta = obj(Seq(
      "rows" -> rows.size.toString,
      "truncated" -> truncated.toString,
      "row_cap" -> maxRows.toString,
      "plan_type" -> jval(r.planType),
      "execution_time_ms" -> r.executionTimeMs.map(_.toString).getOrElse("null"),
      "actual_speedup" -> r.actualSpeedup.map(jval).getOrElse("null")))
    obj(Seq(
      "status" -> jval("success"),
      "plan" -> planJson(r),
      "result" -> rowsJson(rows),
      "meta" -> meta,
      "ml_optimization" -> mlJson(r)))
  }

  /** POST /query with explain=true: plan + ml decision, no execution
    * (/root/reference/app.py:107-112).
    */
  def renderExplain(r: QueryEngine#AqeResult): String = obj(Seq(
    "status" -> jval("success"),
    "plan" -> planJson(r),
    "ml_optimization" -> mlJson(r),
    "serve_trace" -> r.trace.map(t => obj(Seq(
      "family" -> jval(t.family),
      "outcome" -> jval(t.outcome),
      "reason" -> jval(t.reason),
      "ms" -> jval(t.nanos / 1e6)))).mkString("[", ", ", "]")))

  /** POST /samples/stratified response (/root/reference/app.py:205-210):
    * sample table + per-stratum allocation + allocation type.
    */
  def renderStratified(name: String,
      strata: Seq[graft.sample.Samplers.StratumAllocation],
      allocationType: String): String = obj(Seq(
    "status" -> jval("success"),
    "sample_table" -> jval(name),
    "strata" -> strata.sortBy(_.value).map { s =>
      obj(Seq(
        "value" -> jval(s.value),
        "pop_size" -> s.popSize.toString,
        "sample_size" -> s.sampleSize.toString,
        "fraction" -> jval(s.fraction),
        "weight" -> jval(s.weight)))
    }.mkString("[", ", ", "]"),
    "allocation_type" -> jval(allocationType)))
}
