package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{MetaCatalog, SampleNaming}
import graft.plan._

/** [[QueryEngine]]'s remaining catalog serves (distinct/keys-only,
  * top-k, filtered-group, CMS, KMV set ops, HLL) plus the advisor
  * candidate enumeration and planner-only strategy choice. Split out
  * mechanically in round 13 — pure code motion, behavior pinned by the
  * q73/q83/q89/q90/q97-q114 oracle families and the advisor specs.
  */
private[engine] trait QueryEngineServeSketch { self: QueryEngine =>
  import self._

  /** The star-aggregate SHAPE as advisor candidates: the same match as
    * [[storedStarAggAnswer]] minus the blob requirement. When a
    * fact ⋈ dim aggregate GROUPs BY dim attributes and aggregates fact
    * columns with servable functions, a grouped-histogram build on the
    * FACT keyed by its join key flips the query to the (exact) star
    * serve — strictly better advice than an AGMS pair for this shape.
    * Orientation comes from the shape itself: group keys live on one
    * side only, aggregated columns on the other. count(*)-only queries
    * advise nothing here (no canonical value column to build on); the
    * generic join-AQP advice still applies.
    */
  private[engine] def starAdviceCandidates(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      tables: Seq[String]): Seq[graft.learn.SketchAdvisor.Candidate] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, SubqueryAlias}
    import org.apache.spark.sql.types._
    import graft.learn.SketchAdvisor.Candidate
    if (tables.sizeIs < 2) return Nil
    // UNGROUPED aggregates parse as a bare Project (round 10): the
    // headline-KPI star misses advise too
    val (aggOuts, aggChild, grouping) = parsed match {
      case a: Aggregate =>
        (a.aggregateExpressions, a.child, a.groupingExpressions)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        (p.projectList, p.child,
          Seq.empty[org.apache.spark.sql.catalyst.expressions.Expression])
      case _ => return Nil
    }
    // optional WHERE: advisable only when dim-side (the serve's rule)
    val (whereCond, joinChild) = aggChild match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, ch) =>
        (Some(c), ch)
      case ch => (None, ch)
    }
    val extraneous = joinChild.collect {
      case n if !n.isInstanceOf[Join] && !n.isInstanceOf[SubqueryAlias] &&
        !n.isInstanceOf[UnresolvedRelation] => n
    }
    if (extraneous.nonEmpty) return Nil
    val joins = joinChild.collect { case j: Join => j }
    if (joins.sizeIs != tables.size - 1 ||
        !joins.forall(j => j.joinType == Inner && j.condition.isDefined))
      return Nil
    def colSet(t: String) = spark.table(t).columns.map(_.toLowerCase).toSet
    def keyKind(t: String, c: String): Char =
      spark.table(t).schema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
        case Some(StringType) => 's'
        case Some(ByteType | ShortType | IntegerType | LongType) => 'i'
        case _ => 'x'
      }
    val statsFns = Set("min", "max", "count", "sum", "avg", "mean")
    val colSets: Map[String, Set[String]] = tables.map(t => t -> colSet(t)).toMap
    def owner(col: String): Option[String] = {
      val os = tables.filter(t => colSets(t).contains(col.toLowerCase))
      if (os.sizeIs == 1) Some(os.head) else None
    }
    def orient(fact: String): Seq[Candidate] = {
      val edges = joinTreeEdges(parsed, tables, fact).getOrElse(return Nil)
      val (fk, dimRoot) = edges.filter(_._1 == fact) match {
        case Seq((_, fks, dr, _)) if fks.sizeIs == 1 => (fks.head, dr)
        case _                                       => return Nil
      }
      val pk = edges.find(_._1 == fact).get._4.head
      def dimOwned(col: String): Boolean = owner(col).exists(_ != fact)
      val fCols = colSet(fact)
      val kk = keyKind(fact, fk)
      if (kk == 'x' || kk != keyKind(dimRoot, pk)) return Nil
      // fact-side RANGE conjuncts on one numeric column make this the
      // star-RANGE shape: the advisable build is the SHARED-GRID
      // grouped histogram (its sum rider feeds the band's sums and
      // the shared grid lets multi-fk cells merge); every remaining
      // conjunct must be dim-side, as for the exact star
      import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
      def factCmpCol(e: Expression): Option[String] = e match {
        case GreaterThan(a: UnresolvedAttribute, _: Literal) => Some(a.nameParts.last)
        case GreaterThanOrEqual(a: UnresolvedAttribute, _: Literal) => Some(a.nameParts.last)
        case LessThan(a: UnresolvedAttribute, _: Literal) => Some(a.nameParts.last)
        case LessThanOrEqual(a: UnresolvedAttribute, _: Literal) => Some(a.nameParts.last)
        case GreaterThan(_: Literal, a: UnresolvedAttribute) => Some(a.nameParts.last)
        case GreaterThanOrEqual(_: Literal, a: UnresolvedAttribute) => Some(a.nameParts.last)
        case LessThan(_: Literal, a: UnresolvedAttribute) => Some(a.nameParts.last)
        case LessThanOrEqual(_: Literal, a: UnresolvedAttribute) => Some(a.nameParts.last)
        case _ => None
      }
      val conj = whereCond.map(conjunctsOf).getOrElse(Nil)
      val (cmps, rest) = conj.partition(e =>
        factCmpCol(e).exists(c0 => owner(c0).contains(fact)))
      val rangeCol: Option[String] =
        if (cmps.isEmpty) None
        else Some(rangeBounds(cmps.reduce(
          org.apache.spark.sql.catalyst.expressions.And))
          .map(_._1).filter(numericColumn(fact, _)).getOrElse(return Nil))
      val whereOk = rest.forall { c =>
        val attrs = c.collect {
          case a: UnresolvedAttribute => a.nameParts.last
        }
        attrs.nonEmpty && attrs.forall(dimOwned)
      }
      if (!whereOk) return Nil
      val gOk = grouping.forall {
        case a: UnresolvedAttribute => dimOwned(a.nameParts.last)
        case _                      => false
      }
      if (!gOk) return Nil
      val lower = grouping.collect {
        case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
      }
      // value col -> advised build type: stats fns need the grouped
      // histogram (its stats_grouped rider feeds the serve); distinct
      // counts need the grouped HLL
      val vcs = rangeCol match {
        // star-RANGE shape: only count(*) / sum / avg / percentile OF
        // THE RANGE COLUMN are servable (the histogram models exactly
        // that distribution), all from the shared-grid build on it —
        // count(*)-only queries DO advise here (the band itself names
        // the value column to build on)
        case Some(rc) => aggOuts.map {
          case a: UnresolvedAttribute
              if lower.contains(a.nameParts.last.toLowerCase) => Some(None)
          case Alias(e, _)
              if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
            Some(None)
          case Alias(f: UnresolvedFunction, _)
              if f.filter.isEmpty && !f.isDistinct =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", Seq(_: UnresolvedStar)) =>
                Some(Some((rc, "histogram_grouped_shared")))
              case ("count", Seq(Literal(v: Number, _))) if v.intValue == 1 =>
                Some(Some((rc, "histogram_grouped_shared")))
              case ("sum" | "avg" | "mean", Seq(a: UnresolvedAttribute))
                  if a.nameParts.last.equalsIgnoreCase(rc) =>
                Some(Some((rc, "histogram_grouped_shared")))
              case ("percentile" | "percentile_approx" | "approx_percentile",
                  Seq(a: UnresolvedAttribute, _: Literal))
                  if a.nameParts.last.equalsIgnoreCase(rc) =>
                Some(Some((rc, "histogram_grouped_shared")))
              case ("median", Seq(a: UnresolvedAttribute))
                  if a.nameParts.last.equalsIgnoreCase(rc) =>
                Some(Some((rc, "histogram_grouped_shared")))
              case _ => None
            }
          case _ => None
        }
        case None => aggOuts.map {
          case a: UnresolvedAttribute
              if lower.contains(a.nameParts.last.toLowerCase) => Some(None)
          case Alias(e, _)
              if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
            Some(None)
          case Alias(f: UnresolvedFunction, _) if f.filter.isEmpty =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", Seq(_: UnresolvedStar)) if !f.isDistinct =>
                Some(None)
              case ("count", Seq(Literal(v: Number, _)))
                  if !f.isDistinct && v.intValue == 1 =>
                Some(None)
              case ("count", Seq(a: UnresolvedAttribute))
                  if f.isDistinct &&
                    owner(a.nameParts.last).contains(fact) =>
                Some(Some((a.nameParts.last, "hll_grouped")))
              case (fn, Seq(a: UnresolvedAttribute))
                  if !f.isDistinct && statsFns(fn) &&
                    owner(a.nameParts.last).contains(fact) =>
                Some(Some((a.nameParts.last, "histogram_grouped")))
              // star percentiles merge fk histograms per dim cell, which
              // only a SHARED-GRID build supports
              case ("percentile" | "percentile_approx" | "approx_percentile",
                  Seq(a: UnresolvedAttribute, _: Literal))
                  if !f.isDistinct &&
                    owner(a.nameParts.last).contains(fact) =>
                Some(Some((a.nameParts.last, "histogram_grouped_shared")))
              case ("median", Seq(a: UnresolvedAttribute))
                  if !f.isDistinct &&
                    owner(a.nameParts.last).contains(fact) =>
                Some(Some((a.nameParts.last, "histogram_grouped_shared")))
              case _ => None
            }
          case _ => None
        }
      }
      if (vcs.exists(_.isEmpty)) return Nil
      vcs.flatten.flatten.distinct.map { case (vc, tpe) =>
        Candidate(fact, vc, tpe, Some(fk))
      }
    }
    tables.view.map(orient).find(_.nonEmpty).getOrElse(Nil)
  }

  /** If the query is `SELECT g... FROM table GROUP BY g...` or
    * `SELECT DISTINCT g... FROM table` with NO aggregate outputs, the
    * distinct key tuples are exactly the recorded group set of any
    * fresh grouped blob over the same column SET — zero scan, ZERO
    * error: the builders refuse to build past MaxHllGroups, so a
    * stored blob always holds the COMPLETE group list (incl. the NULL
    * group), and the freshness guard retires it when the table
    * changes size. Served keys are the builders' string renderings,
    * so every queried column must be string-typed in the base table
    * (a numeric column would change the result schema — refuse to the
    * scan). A key filter (`WHERE g = lit` / `g IN`) prunes to the
    * named keys; a residual filter on a composite blob's other
    * components prunes entries then projects (the partial-key
    * dispatch — payloads are irrelevant here, only keys survive).
    */
  private[engine] def storedDistinctAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, LogicalPlan, Project}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val shape: Option[(Seq[Expression], Seq[NamedExpression], LogicalPlan)] =
      parsed match {
        case Aggregate(gs, outs, child, _) if gs.nonEmpty =>
          Some((gs, outs, child))
        // SELECT DISTINCT over plain attributes == GROUP BY them
        case Distinct(Project(outs, child))
            if outs.nonEmpty && outs.forall(o =>
              attrName(o).isDefined || o.isInstanceOf[Alias]) =>
          Some((outs.map(identity[Expression]), outs, child))
        case _ => None
      }
    val (gs, outs, child) = shape.getOrElse(return None)
    val d = aggregateGroupKeys(gs, child, table).getOrElse(return None)
    val lower = d.gNames.map(_.toLowerCase)
    // every output must be a bare group key (attr or alias of one)
    val parts: Seq[(String, Int)] = outs.map {
      case a: UnresolvedAttribute
          if lower.contains(a.nameParts.last.toLowerCase) =>
        (a.nameParts.last, lower.indexOf(a.nameParts.last.toLowerCase))
      case Alias(e, name)
          if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
        (name, lower.indexOf(attrName(e).orElse(exprKeyName(e)).get.toLowerCase))
      case _ => return None
    }
    if (parts.map(_._2).toSet != d.gNames.indices.toSet) return None
    // key typing gate: string keys verbatim, integral keys parsed back
    // (bijective rendering); other types refuse
    val kTypes = keyFieldTypes(table, d.gNames).getOrElse(return None)
    // any fresh grouped blob over the right column set carries the
    // complete key list — search the catalog across value columns
    val groupedTypes =
      Set("stats_grouped", "hll_grouped", "histogram_grouped", "hdr_grouped")
    val keys: Seq[Seq[Option[String]]] = catalog.listSketches(Some(table))
      .iterator
      .filter(s => groupedTypes.contains(s.sketchType))
      .map { s =>
        if (d.residual.isEmpty)
          groupedBlobFor(table, s.columnName, s.sketchType, d.gNames)
            .orElse(partialGroupedBlobFor(table, s.columnName,
              s.sketchType, d.gNames, Nil, (_, b) => b))
        else
          partialGroupedBlobFor(table, s.columnName, s.sketchType, d.gNames,
            d.residual, (_, b) => b) // keys only: any payload stands in
      }
      .collectFirst { case Some(entries) =>
        entries.map(_._1)
          .filter(k => d.keyFilter.forall(_.matches(k.head)))
          .distinct
      }
      .getOrElse(return None)
    val rows = keys.map(k =>
      org.apache.spark.sql.Row.fromSeq(parts.map { case (_, i) =>
        typedKeyValue(kTypes(i), k(i))
      }))
    val schema = StructType(parts.map { case (n, i) =>
      StructField(n, kTypes(i), nullable = true)
    })
    import scala.jdk.CollectionConverters._
    Some(spark.createDataFrame(rows.asJava, schema))
  }

  /** If the query is a bare `SELECT count(DISTINCT g...) FROM table`
    * over the group column(s) of ANY fresh grouped blob, the answer is
    * EXACT with zero scan: the builders refuse to build past
    * MaxHllGroups, so the recorded group list is complete — the
    * distinct count is the number of keys whose components are all
    * non-NULL (COUNT DISTINCT skips rows with any NULL argument),
    * preempting the HLL estimate for exactly these columns. Multiple
    * count(DISTINCT) outputs serve together when each one's column set
    * has a covering blob.
    */
  private[engine] def storedDistinctCountAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.functions.lit
    val groupedTypes =
      Set("stats_grouped", "hll_grouped", "histogram_grouped", "hdr_grouped")
    def exactCountFor(cols: Seq[String]): Option[Long] =
      catalog.listSketches(Some(table)).iterator
        .filter(s => groupedTypes.contains(s.sketchType))
        .map(s => groupedBlobFor(table, s.columnName, s.sketchType, cols))
        .collectFirst { case Some(entries) =>
          entries.map(_._1).distinct.count(_.forall(_.isDefined)).toLong
        }
    parsed match {
      case Project(outs, r: UnresolvedRelation)
          if r.multipartIdentifier.last.equalsIgnoreCase(table) &&
            outs.nonEmpty =>
        val answered = outs.map {
          case Alias(f: UnresolvedFunction, name)
              if f.isDistinct && f.filter.isEmpty &&
                f.nameParts.last.equalsIgnoreCase("count") &&
                f.arguments.nonEmpty &&
                f.arguments.forall(_.isInstanceOf[UnresolvedAttribute]) =>
            exactCountFor(f.arguments
              .map(_.asInstanceOf[UnresolvedAttribute].nameParts.last))
              .map(n => (name, n))
          case _ => None
        }
        if (answered.nonEmpty && answered.forall(_.isDefined)) {
          val cols = answered.flatten.map { case (n, v) => lit(v).as(n) }
          Some(oneRow(cols: _*))
        } else None
      case _ => None
    }
  }

  /** The top-k / iceberg dashboard shape: optional LIMIT + optional
    * ORDER BY + optional HAVING around `SELECT keys..., count(*) AS c
    * FROM t GROUP BY keys` — every key projected exactly once, exactly
    * one plain count(*) output. Extracted WITHOUT a catalog probe so
    * the advisor classifies misses with the same matcher the serve
    * uses. `havingMin` is the inclusive count lower bound when the
    * HAVING is a single supported comparison (None = no HAVING;
    * unsupported forms refuse the whole shape); `sorts` are the
    * replayable sort keys (count output or key outputs only);
    * `topCountSort` marks a sort led by the count descending — the
    * condition under which a LIMIT keeps only heavy rows.
    */
  private[engine] def topKShape(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[TopKShape] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Descending, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NullsFirst, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, Sort}
    val (limit, afterLimit) = parsed match {
      case GlobalLimit(Literal(n: Int, _), LocalLimit(Literal(m: Int, _), c))
          if n == m && n >= 0 => (Some(n), c)
      case p => (None, p)
    }
    val (sortOrders, afterSort) = afterLimit match {
      case Sort(so, true, c, _) => (so, c)
      case p                    => (Seq.empty[SortOrder], p)
    }
    val (having, inner) = afterSort match {
      case UnresolvedHaving(cond, a: Aggregate) => (Some(cond), a)
      case a: Aggregate                         => (None, a)
      case _                                    => return None
    }
    val (gs, outsRaw) = inner match {
      case Aggregate(g, o, r: UnresolvedRelation, _)
          if r.multipartIdentifier.last.equalsIgnoreCase(table) => (g, o)
      case _ => return None
    }
    if (gs.isEmpty || !gs.forall(_.isInstanceOf[UnresolvedAttribute]))
      return None
    val gNames = gs.map(_.asInstanceOf[UnresolvedAttribute].nameParts.last)
    val lower = gNames.map(_.toLowerCase)
    def isCountStar(e: Expression): Boolean = e match {
      case f: UnresolvedFunction =>
        f.nameParts.last.equalsIgnoreCase("count") && !f.isDistinct &&
          f.filter.isEmpty && (f.arguments match {
            case Seq(l: Literal) => l.value != null
            case _               => false
          })
      case _ => false
    }
    // metric = a lone count(*) (count blobs) OR a lone sum(attr)
    // (sum blobs — the revenue-dashboard shape)
    def isSumOf(e: Expression): Option[String] = e match {
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("sum") && !f.isDistinct &&
            f.filter.isEmpty =>
        f.arguments match {
          case Seq(a: UnresolvedAttribute) => Some(a.nameParts.last)
          case _                           => None
        }
      case _ => None
    }
    var metricOut: Option[(String, String, Option[String])] = None
    val outs: Seq[(String, Option[Int])] = outsRaw.map {
      case a: UnresolvedAttribute
          if lower.contains(a.nameParts.last.toLowerCase) =>
        (a.nameParts.last, Some(lower.indexOf(a.nameParts.last.toLowerCase)))
      case Alias(a: UnresolvedAttribute, name)
          if lower.contains(a.nameParts.last.toLowerCase) =>
        (name, Some(lower.indexOf(a.nameParts.last.toLowerCase)))
      case Alias(f, name) if isCountStar(f) && metricOut.isEmpty =>
        metricOut = Some((name, f.sql, None)); (name, None)
      case Alias(f, name)
          if isSumOf(f).isDefined && metricOut.isEmpty &&
            !lower.contains(isSumOf(f).get.toLowerCase) =>
        metricOut = Some((name, f.sql, isSumOf(f))); (name, None)
      case _ => return None
    }
    val (metricName, metricSql, sumCol) = metricOut.getOrElse(return None)
    val keyIdxs = outs.flatMap(_._2)
    if (keyIdxs.toSet != gNames.indices.toSet ||
        keyIdxs.sizeIs != gNames.size) return None
    def isMetricRef(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute =>
        a.nameParts.last.equalsIgnoreCase(metricName)
      case other => other.sql == metricSql
    }
    def litD(v: Any): Option[Double] = v match {
      case n: java.lang.Integer => Some(n.doubleValue)
      case n: java.lang.Long    => Some(n.doubleValue)
      case n: java.lang.Short   => Some(n.doubleValue)
      case n: java.lang.Byte    => Some(n.doubleValue)
      case n: java.lang.Double  => Some(n.doubleValue)
      case n: java.lang.Float   => Some(n.doubleValue)
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _                    => None
    }
    // (bound, strict): the count/sum lower bound the HAVING applies —
    // either comparison form qualifies iff bound >= the blob threshold
    // (every unstored group totals strictly below the threshold)
    val havingMin: Option[Option[(Double, Boolean)]] = having.map {
      case GreaterThanOrEqual(l, Literal(v, _)) if isMetricRef(l) =>
        litD(v).map((_, false))
      case GreaterThan(l, Literal(v, _)) if isMetricRef(l) =>
        litD(v).map((_, true))
      case LessThanOrEqual(Literal(v, _), r) if isMetricRef(r) =>
        litD(v).map((_, false))
      case LessThan(Literal(v, _), r) if isMetricRef(r) =>
        litD(v).map((_, true))
      case _ => None
    }
    if (havingMin.exists(_.isEmpty)) return None
    val sorts = sortOrders.map { so =>
      val name =
        if (isMetricRef(so.child)) Some(metricName)
        else so.child match {
          case a: UnresolvedAttribute =>
            outs.find(o => o._2.isDefined &&
              o._1.equalsIgnoreCase(a.nameParts.last)).map(_._1)
          case _ => None
        }
      name.map(n =>
        (n, so.direction == Descending, so.nullOrdering == NullsFirst))
    }
    if (sorts.exists(_.isEmpty)) return None
    val ss = sorts.flatten
    val topCountSort = ss.headOption.exists(s => s._1 == metricName && s._2)
    Some(TopKShape(gNames, outs, metricName, sumCol, havingMin.flatten, ss,
      topCountSort, limit))
  }

  /** Heavy-hitters serve (round 10, beyond reference): a stored "topk"
    * blob holds the EXACT counts of every group reaching its build
    * threshold over a HIGH-cardinality key — the shape the
    * MaxHllGroups-bounded grouped blobs refuse. Completeness above the
    * threshold is the guarantee: every unstored group counts strictly
    * below it, so `ORDER BY count DESC LIMIT k` with k within the
    * stored list, and `HAVING count >= x` with x at or above the
    * threshold, answer EXACTLY (zero scan, zero error — the iceberg
    * query). A LIMIT past the stored list, a HAVING reaching below the
    * threshold, or the bare full GROUP BY refuse to the scan — the
    * blob cannot name the light groups. Sort/limit/having replay
    * driver-side over the served rows with typed keys. Stream-
    * maintained blobs (EventStreams.maintainTopKSketch) carry an
    * `unknown_bound` — the accumulated per-batch maximum mass any
    * UNSTORED group could have gained — and the serve honors the
    * inflated completeness bound threshold + unknown_bound: stored
    * counts stay exact (additive increments), HAVING bounds below the
    * inflated threshold refuse, and top-k serves only when the k-th
    * stored metric clears it.
    */
  private[engine] def storedTopKAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[(DataFrame, String)] = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val sh = topKShape(parsed, table).getOrElse(return None)
    val kTypes = keyFieldTypes(table, sh.gNames).getOrElse(return None)
    val q = sh.gNames.map(canonKey)
    val wantAgg = if (sh.sumCol.isDefined) "sum" else "count"
    val blob = catalog.listSketches(Some(table)).iterator
      .filter(s => s.sketchType == "topk" && sketchIsFresh(table, s))
      // metric match: count blobs (absent "agg" = legacy count) for
      // count(*) shapes; sum blobs whose value_col is the summed
      // column for sum(x) shapes
      .filter { s =>
        s.param("agg").getOrElse("count") == wantAgg &&
          sh.sumCol.forall(c => s.param("value_col").exists(_.equalsIgnoreCase(c)))
      }
      .flatMap { s =>
        s.param("group_by").map(_.split(",").map(canonKey).toSeq)
          .filter(scols => scols.sorted == q.sorted)
          .flatMap { scols =>
            s.paramDouble("threshold")
              .flatMap { t =>
                val perm = q.map(scols.indexOf)
                // metric values: count blobs hold LE longs, sum blobs
                // the unscaled scale-4 decimal (its double rendering
                // reproduces CAST(DECIMAL AS DOUBLE) in any engine)
                val es = graft.sketch.GroupedHll.unpack(s.data).map {
                  case (k, b) =>
                    decodeGroupKey(k, scols.size).map { c =>
                      val v: Either[Long, Double] =
                        if (wantAgg == "count")
                          Left(java.nio.ByteBuffer.wrap(b)
                            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)
                        else
                          Right(new java.math.BigDecimal(
                            new java.math.BigInteger(b), 4).doubleValue)
                      (perm.map(c), v)
                    }
                }
                if (es.exists(_.isEmpty)) None
                else {
                  // streaming maintenance inflates the completeness
                  // bound: any group the blob cannot name totals
                  // strictly below threshold + this accumulated
                  // unknown-group mass (EventStreams.maintainTopKSketch);
                  // absent on batch-built blobs = 0
                  val ub = s.paramDouble("unknown_bound").getOrElse(0.0)
                  Some((t, ub, es.map(_.get)))
                }
              }
          }
      }.nextOption().getOrElse(return None)
    val (threshold, unknownBound, entries) = blob
    // completeness holds only above the stream-inflated bound: a group
    // absent from the blob had < threshold before the build and gained
    // at most unknownBound through the maintained stream
    val effThreshold = threshold + unknownBound
    def cmp(v: Either[Long, Double]): Double =
      v.fold(_.toDouble, identity)
    val served: Seq[(Seq[Option[String]], Either[Long, Double])] =
      sh.havingMin match {
        case Some((min, strict)) =>
          // a bound below the (inflated) threshold needs groups the
          // blob cannot name (either comparison form: unstored totals
          // are strictly below effThreshold <= bound, so they fail the
          // predicate)
          if (min < effThreshold) return None
          entries.filter(e =>
            if (strict) cmp(e._2) > min else cmp(e._2) >= min)
        case None =>
          // top-k: only a metric-DESC-led sort with a limit inside the
          // stored list keeps heavy rows exclusively; under stream
          // inflation the k-th stored metric must also clear the
          // inflated bound, or an unstored group could belong in the
          // top k (unstored totals are strictly below effThreshold)
          if (!sh.topCountSort || !sh.limit.exists(_ <= entries.size))
            return None
          if (unknownBound > 0) {
            val desc = entries.map(e => cmp(e._2))
              .sorted(Ordering[Double].reverse)
            if (desc(sh.limit.get - 1) < effThreshold) return None
          }
          entries
      }
    val metricType = if (sh.sumCol.isDefined) DoubleType else LongType
    val fields = sh.outs.map {
      case (n, Some(i)) => StructField(n, kTypes(i), nullable = true)
      case (n, None)    => StructField(n, metricType, nullable = false)
    }
    val rows = served.map { case (k, v) =>
      org.apache.spark.sql.Row.fromSeq(sh.outs.map {
        case (_, Some(i)) => typedKeyValue(kTypes(i), k(i))
        case (_, None)    => v.fold(identity[Long], identity[Double])
      })
    }
    import scala.jdk.CollectionConverters._
    var df = spark.createDataFrame(rows.asJava, StructType(fields))
    if (sh.sorts.nonEmpty) {
      val cols = sh.sorts.map { case (n, desc, nullsFirst) =>
        val c = org.apache.spark.sql.functions
          .col("`" + n.replace("`", "``") + "`")
        (desc, nullsFirst) match {
          case (true, true)   => c.desc_nulls_first
          case (true, false)  => c.desc_nulls_last
          case (false, true)  => c.asc_nulls_first
          case (false, false) => c.asc_nulls_last
        }
      }
      df = PostAggregate.orderLocal(df, cols)
    }
    sh.limit.foreach(n => df = df.limit(n))
    val inflated =
      if (unknownBound > 0)
        s" + stream unknown-mass bound $unknownBound = $effThreshold"
      else ""
    Some((df,
      s"top-k/iceberg GROUP BY answered from the stored heavy-hitters " +
        s"summary (threshold $threshold$inflated, ${entries.size} stored " +
        "groups; no scan, exact)"))
  }

  /** If the query is `SELECT <aggs> FROM table WHERE g = lit` (or
    * `g IN (lits)`, or a CONJUNCTION `a = lit AND b = lit` over
    * distinct columns — a point lookup of one COMPOSITE group) whose
    * predicate column set is the group-by set of fresh stored GROUPED
    * sketches, dispatch to the group(s) the literals name —
    * catalog-level partition pruning.
    * Statistics (MIN/MAX/COUNT/SUM/AVG from the stats_grouped blob)
    * serve EXACTLY, and IN-lists merge the named groups' records
    * exactly (min/max monotone, counts and the unscaled decimal sum
    * additive); COUNT(DISTINCT c) serves from the hll_grouped blob,
    * IN-lists by register-max HLL union; PERCENTILE/MEDIAN (from the
    * histogram_grouped blob) serve within one bucket width —
    * single-group on any build, and IN-lists too when the named
    * groups' histograms share a grid (sharedGrid builds: bucket
    * counts add exactly; per-group grids refuse the multi-group
    * serve); COUNT(*) rides from the groups' recorded rowcounts
    * (≥1 column-anchored aggregate required — a lone filtered COUNT(*)
    * keeps its Count-Min / sampling semantics). Literals naming NO
    * recorded group serve the exact empty-group aggregate (counts 0,
    * everything else NULL). Returns the answer plus the worst
    * estimate error (0.0 when all outputs are statistics).
    */
  private[engine] def storedFilteredGroupAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[(DataFrame, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    // column-type-aware literal rendering (typedLitKey): a numeric-but-
    // not-integral group column or a type-mismatched literal refuses
    // rather than serving the wrong (usually empty) group
    def litKey(c: String, l: Literal): Option[String] =
      typedLitKey(table, c, l)
    sealed trait Part
    case class PctPart(name: String, value: Option[Double], err: Double) extends Part
    case class StatPart(name: String, fn: String,
        stat: graft.sketch.GroupedStats.Stat) extends Part
    case class DistinctPart(name: String, est: Long, err: Double) extends Part
    case class CountStarPart(name: String) extends Part
    parsed match {
      case Project(outs, Filter(cond, r: UnresolvedRelation))
          if r.multipartIdentifier.last.equalsIgnoreCase(table) && outs.nonEmpty =>
        // Served predicate shapes: ONE column under = / IN (several
        // named groups merge), or a CONJUNCTION of equalities on
        // DISTINCT columns — a point lookup of exactly one COMPOSITE
        // group (`WHERE a = 'x' AND b = 'y'` against a sketch built
        // with group_by "a,b"). Selection compares DECODED component
        // tuples against the typed literal renderings — never a
        // string-encoding round-trip, so to_json escaping can't drift.
        val colKeys: Option[(Seq[String], Seq[Seq[Option[String]]])] =
          cond match {
            case EqualTo(a: UnresolvedAttribute, l: Literal) =>
              litKey(a.nameParts.last, l)
                .map(k => (Seq(a.nameParts.last), Seq(Seq(Some(k)))))
            case EqualTo(l: Literal, a: UnresolvedAttribute) =>
              litKey(a.nameParts.last, l)
                .map(k => (Seq(a.nameParts.last), Seq(Seq(Some(k)))))
            case In(a: UnresolvedAttribute, lits) =>
              typedInListKeys(table, a.nameParts.last, lits)
                .map(ks => (Seq(a.nameParts.last),
                  ks.map(k => Seq(Some(k)))))
            case andExpr: org.apache.spark.sql.catalyst.expressions.And =>
              val eqs = conjunctsOf(andExpr).map {
                case EqualTo(a: UnresolvedAttribute, l: Literal) =>
                  litKey(a.nameParts.last, l).map((a.nameParts.last, _))
                case EqualTo(l: Literal, a: UnresolvedAttribute) =>
                  litKey(a.nameParts.last, l).map((a.nameParts.last, _))
                case _ => None
              }
              if (eqs.exists(_.isEmpty)) None
              else {
                val es = eqs.flatten
                val cols = es.map(_._1)
                if (cols.map(_.toLowerCase).distinct.sizeIs != cols.size)
                  None // a column equated twice: not a group lookup
                else Some((cols, Seq(es.map(e => Some(e._2)))))
              }
            case _ => None
          }
        // RANGE branch (round 10): every conjunct an integral
        // comparison on ONE column → prune recorded groups by the
        // parsed-key range. The group list is complete (MaxHllGroups
        // build refusal), so the pruned set is EXACTLY the groups
        // exact execution keeps, and the merges below stay exact/
        // estimate per part as for IN-lists.
        val rangeSel: Option[(String, KeyPred)] =
          if (colKeys.isDefined) None
          else {
            val conj = conjunctsOf(cond)
            val names = conj.flatMap(_.collect {
              case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
            }).distinct
            names match {
              case Seq(c) => keyRangePred(table, c, conj).map(p => (c, p))
              case _      => None
            }
          }
        // payloads of the selected group(s) from a fresh sketch whose
        // group-by column set equals the predicate's (groupedBlobFor:
        // components permuted into predicate order); None = no usable
        // sketch, empty = literals/range naming no recorded group
        val (predCols, select): (Seq[String],
            Seq[(Seq[Option[String]], Array[Byte])] => Seq[Array[Byte]]) =
          (colKeys, rangeSel) match {
            case (Some((cols, selKeys)), _) =>
              (cols, entries => {
                val m = entries.toMap
                selKeys.flatMap(m.get)
              })
            case (None, Some((c, p))) =>
              (Seq(c), entries => entries.collect {
                case (k, b) if p.matches(k.head) => b
              })
            case _ => return None
          }
        def matchedPayloads(c: String, tpe: String)
            : Option[Seq[Array[Byte]]] =
          groupedBlobFor(table, c, tpe, predCols).map(select)
        val emptyStat =
          graft.sketch.GroupedStats.Stat(None, None, 0L, 0L, BigInt(0))
        // exact merge of the named groups' stat records (missing
        // groups contribute the empty record); None = no usable sketch
        def statFor(c: String): Option[graft.sketch.GroupedStats.Stat] =
          matchedPayloads(c, "stats_grouped").map {
            _.map(graft.sketch.GroupedStats.decode)
              .foldLeft(emptyStat)(graft.sketch.GroupedStats.merge)
          }
        // named groups' histograms: empty payloads (all-NULL groups)
        // drop — percentile ignores NULLs; none left = NULL percentile
        // (inner None), the exact empty/all-NULL answer. 2+ histograms
        // merge by adding bucket counts ONLY when they share a grid
        // (sharedGrid builds) — differing grids refuse the serve
        // (outer None) and the scan answers, as before round 10.
        def mergedHistogram(ps: Seq[Array[Byte]])
            : Option[Option[graft.sketch.Histogram]] = {
          val hs = ps.filter(_.nonEmpty).map(graft.sketch.Histogram.deserialize)
          if (hs.isEmpty) Some(None)
          else if (hs.forall(h => h.lo == hs.head.lo &&
              h.width == hs.head.width && h.buckets == hs.head.buckets))
            Some(Some(hs.reduce(_ merge _)))
          else None
        }
        // the HDR fallback for the same shape: the log grid is GLOBAL,
        // so ANY set of named groups merges exactly — including from a
        // COMPOSITE blob collapsed over its unfiltered components
        // (partialGroupedBlobFor), the two cases the per-group-grid
        // equi-width family refuses. None = no usable sketch; inner
        // None = no non-empty group named (NULL percentile).
        def matchedHdrPayloads(c: String): Option[Seq[Array[Byte]]] =
          groupedBlobFor(table, c, "hdr_grouped", predCols)
            .orElse(partialGroupedBlobFor(table, c, "hdr_grouped",
              predCols, Nil, graft.sketch.HdrSketch.mergeBytes))
            .map(select)
        def mergedHdr(ps: Seq[Array[Byte]])
            : Option[graft.sketch.HdrSketch] = {
          val hs = ps.filter(_.nonEmpty)
            .map(graft.sketch.HdrSketch.deserialize)
          if (hs.isEmpty) None else Some(hs.reduce(_ merge _))
        }
        var statsRows: Option[Long] = None // rows of the named group(s)
        val classified: Seq[Option[Part]] = outs.map {
          case Alias(f: UnresolvedFunction, name)
              if f.isDistinct && f.filter.isEmpty &&
                f.nameParts.last.equalsIgnoreCase("count") &&
                f.arguments.sizeIs == 1 &&
                f.arguments.head.isInstanceOf[UnresolvedAttribute] =>
            val c = f.arguments.head
              .asInstanceOf[UnresolvedAttribute].nameParts.last
            matchedPayloads(c, "hll_grouped").map { ps =>
              val matched = ps.map(graft.sketch.Hll.deserialize)
              if (matched.isEmpty) DistinctPart(name, 0L, 0.0)
              else {
                val merged = matched.reduce(_ merge _)
                DistinctPart(name, merged.count, merged.standardError)
              }
            }
          case Alias(f: UnresolvedFunction, name)
              if !f.isDistinct && f.filter.isEmpty =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", Seq(l: Literal)) if l.value != null =>
                Some(CountStarPart(name)) // count(*) parses as count(1)
              case (fn, Seq(a: UnresolvedAttribute))
                  if Set("min", "max", "count", "sum", "avg", "mean")(fn) =>
                // the merged record (IN-lists add group records) must
                // still serve exactly per function — type-aware gate
                // (statFnServesExactly) before it carries the exact
                // label
                statFor(a.nameParts.last)
                  .filter(st =>
                    statFnServesExactly(table, a.nameParts.last, fn, Seq(st)))
                  .map { st =>
                    if (statsRows.isEmpty) statsRows = Some(st.nrows)
                    StatPart(name, fn, st)
                  }
              case ("percentile" | "percentile_approx" | "approx_percentile",
                  Seq(a: UnresolvedAttribute, l: Literal)) =>
                litDouble(l).flatMap { p =>
                  (for {
                    ps <- matchedPayloads(a.nameParts.last, "histogram_grouped")
                    h <- mergedHistogram(ps)
                  } yield PctPart(name, h.map(_.percentile(p)),
                    h.map(x => 1.0 / x.buckets).getOrElse(0.0)))
                    .orElse(matchedHdrPayloads(a.nameParts.last).map { ps =>
                      val h = mergedHdr(ps)
                      PctPart(name, h.flatMap(_.percentile(p)),
                        h.map(_.relErrBound).getOrElse(0.0))
                    })
                }
              case ("median", Seq(a: UnresolvedAttribute)) =>
                (for {
                  ps <- matchedPayloads(a.nameParts.last, "histogram_grouped")
                  h <- mergedHistogram(ps)
                } yield PctPart(name, h.map(_.percentile(0.5)),
                  h.map(x => 1.0 / x.buckets).getOrElse(0.0)))
                  .orElse(matchedHdrPayloads(a.nameParts.last).map { ps =>
                    val h = mergedHdr(ps)
                    PctPart(name, h.flatMap(_.percentile(0.5)),
                      h.map(_.relErrBound).getOrElse(0.0))
                  })
              case _ => None
            }
          case _ => None
        }
        if (classified.exists(_.isEmpty)) return None
        val parts = classified.flatten
        val anchored = parts.count(!_.isInstanceOf[CountStarPart])
        if (anchored == 0) return None
        // count(*) needs the groups' recorded rowcounts: from a stats
        // blob consulted above, else from the percentile column's own
        // stats blob (createGroupedHistogram writes both together)
        val rideRows: Option[Long] =
          if (!parts.exists(_.isInstanceOf[CountStarPart])) Some(0L)
          else statsRows match {
            case Some(n) => Some(n)
            case None =>
              val pctCol = outs.collectFirst {
                case Alias(f: UnresolvedFunction, _)
                    if f.arguments.headOption.exists(_.isInstanceOf[UnresolvedAttribute]) =>
                  f.arguments.head.asInstanceOf[UnresolvedAttribute].nameParts.last
              }
              pctCol.flatMap(statFor).map(_.nrows)
          }
        if (parts.exists(_.isInstanceOf[CountStarPart]) && rideRows.isEmpty)
          return None
        val row = org.apache.spark.sql.Row.fromSeq(parts.map {
          case CountStarPart(_)       => rideRows.get
          case PctPart(_, value, _)   => value.map(Double.box).orNull
          case DistinctPart(_, e, _)  => e
          case StatPart(_, fn, st)    => fn match {
            case "min"          => st.min.map(Double.box).orNull
            case "max"          => st.max.map(Double.box).orNull
            case "count"        => st.nnull
            case "sum"          => st.sumDouble.map(Double.box).orNull
            case "avg" | "mean" => st.avgDouble.map(Double.box).orNull
          }
        })
        val schema = StructType(parts.map {
          case CountStarPart(n)      => StructField(n, LongType, nullable = false)
          case PctPart(n, _, _)      => StructField(n, DoubleType, nullable = true)
          case DistinctPart(n, _, _) => StructField(n, LongType, nullable = false)
          case StatPart(n, fn, _) =>
            if (fn == "count") StructField(n, LongType, nullable = false)
            else StructField(n, DoubleType, nullable = true)
        })
        import scala.jdk.CollectionConverters._
        Some((spark.createDataFrame(java.util.List.of(row), schema),
          parts.collect {
            case PctPart(_, _, e)      => e
            case DistinctPart(_, _, e) => e
          }.foldLeft(0.0)(math.max)))
      case _ => None
    }
  }

  /** If the query is `SELECT count(*) ... FROM table WHERE col = lit`
    * or `col IN (lits)` (any number of count(*) outputs, one
    * single-column literal predicate) and the catalog holds a fresh
    * Count-Min sketch for `col`, answer the point frequency from the
    * sketch — zero table scan; IN-lists serve the sum of per-literal
    * estimates over the distinct keys (overestimate-only survives
    * addition). Returns the answer plus the error bound: eps for an
    * equality, |list|*eps for an IN (additive, as a fraction of the
    * table size). The literal is rendered exactly as
    * the sketch builder keyed it (`cast(col as string)`), so only
    * string-on-string and integral-on-integral (column, literal) pairs
    * are answerable (typedLitKey) — anything else falls through to the
    * scan path.
    */
  private[engine] def storedCmsAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[(DataFrame, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.functions.lit
    def isCountStar(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = e match {
      case f: UnresolvedFunction =>
        f.nameParts.last.equalsIgnoreCase("count") && !f.isDistinct &&
          f.filter.isEmpty && (f.arguments match {
            case Seq(l: Literal) => l.value != null // count(*) parses as count(1)
            case _               => false
          })
      case _ => false
    }
    parsed match {
      case Project(outs, Filter(cond, r: UnresolvedRelation))
          if r.multipartIdentifier.last.equalsIgnoreCase(table) &&
            outs.nonEmpty && outs.forall {
              case Alias(f, _) => isCountStar(f)
              case _           => false
            } =>
        // typedLitKey: only (string column, string literal) and
        // (integral column, integral literal) render the same string
        // the CMS builder keyed; other pairings fall through to a scan.
        // An all-literal IN-list is the SUM of per-literal estimates
        // over the distinct keys: each term is overestimate-only, and
        // addition preserves that (truth of the IN is the sum of the
        // disjoint per-key truths), under a widened |list|*eps bound.
        def litKeys(c: org.apache.spark.sql.catalyst.expressions.Expression)
            : Option[(String, Seq[String])] = c match {
          case EqualTo(a: UnresolvedAttribute, l: Literal) =>
            typedLitKey(table, a.nameParts.last, l)
              .map(k => (a.nameParts.last, Seq(k)))
          case EqualTo(l: Literal, a: UnresolvedAttribute) =>
            typedLitKey(table, a.nameParts.last, l)
              .map(k => (a.nameParts.last, Seq(k)))
          case In(a: UnresolvedAttribute, lits) =>
            typedInListKeys(table, a.nameParts.last, lits)
              .map(ks => (a.nameParts.last, ks))
          case _ => None
        }
        // a conjunction of equality/IN predicates over DISTINCT columns
        // is a COMPOSITE point/IN frequency: served from a composite
        // CMS keyed on the to_json tuple rendering, estimates summed
        // over the cross-product of per-column key lists (overestimate-
        // only survives the sum — the per-tuple truths are disjoint)
        val parts: Option[Seq[(String, Seq[String])]] = cond match {
          case a: org.apache.spark.sql.catalyst.expressions.And =>
            val cs = conjunctsOf(a).map(litKeys)
            if (cs.exists(_.isEmpty)) None
            else {
              val v = cs.flatten
              if (v.map(_._1.toLowerCase).distinct.sizeIs != v.size) None
              else Some(v)
            }
          case other => litKeys(other).map(Seq(_))
        }
        parts.flatMap {
          case Seq((c, keys)) =>
            catalog.getSketch(table, c, "countmin")
              .filter(sketchIsFresh(table, _))
              .flatMap { s =>
                s.paramDouble("epsilon")
                  .map { eps =>
                    val cms = graft.sketch.Cms.deserialize(s.data)
                    val est = keys.map(cms.estimateString).sum
                    val cols = outs.map(o => lit(est).as(o.name))
                    (oneRow(cols: _*), keys.size * eps)
                  }
              }
          case many =>
            val want = many.map(_._1.toLowerCase).toSet
            catalog.listSketches(Some(table))
              .find { s =>
                s.sketchType == "countmin" &&
                  s.param("enc").contains("j1") && {
                    val cols = s.columnName.split(",").map(_.trim)
                    cols.length == many.size &&
                      cols.map(_.toLowerCase).toSet == want
                  }
              }
              .filter(sketchIsFresh(table, _))
              .flatMap { s =>
                s.paramDouble("epsilon")
                  .map { eps =>
                    // render each literal tuple in the SKETCH's stored
                    // column order — the order the builder hashed
                    val order = s.columnName.split(",").map(_.trim)
                    val byCol = many
                      .map { case (c2, ks) => c2.toLowerCase -> ks }.toMap
                    val tuples = order.map(o => byCol(o.toLowerCase))
                      .foldLeft(Seq(Seq.empty[String])) { (acc, ks) =>
                        acc.flatMap(t => ks.map(k => t :+ k))
                      }
                    val cms = graft.sketch.Cms.deserialize(s.data)
                    val est = tuples.map(t => cms.estimateString(
                      graft.sketch.SketchOps.jsonTupleKey(t))).sum
                    val cols = outs.map(o => lit(est).as(o.name))
                    (oneRow(cols: _*),
                      math.max(1, tuples.size) * eps)
                  }
              }
        }
      case _ => None
    }
  }

  /** Set-operation cardinality from stored KMV sketches (round 10,
    * beyond reference — the Theta-sketch use case): `SELECT count(*)
    * FROM (SELECT a FROM t1 INTERSECT|UNION|EXCEPT SELECT b FROM t2) x`
    * answers from the two sides' bottom-k hash sketches with NO scan.
    * The estimates are deterministic given the data (the portable h60
    * hash), so the q107/q108 oracles re-derive them bit-for-bit — an
    * approximate multi-table operator with an exact cross-engine gate.
    * Sketches must share k and pass the freshness guard on BOTH sides;
    * an unsaturated union means both hash lists were exhaustive and
    * the answer is EXACT (error 0). INTERSECT/EXCEPT bounds add the
    * matched-proportion binomial term (Kmv.proportionError) — a tiny
    * overlap reports a wide bound and falls through to exact execution
    * instead of serving noise. Returns (df, error, op label, the
    * larger side's table for the cost model's rows hint).
    */
  /** The set-op count shape: `SELECT count(*) AS c FROM (SELECT a FROM
    * t1 <INTERSECT|UNION|EXCEPT> SELECT b FROM t2) x`. Returns (count
    * alias, op label, (left table, left column), (right table, right
    * column)) — the input to both the KMV serve and the advisor's miss
    * classification.
    */
  private[engine] def setOpCountShape(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, String, (String, String), (String, String))] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Except, Intersect, Project, SubqueryAlias, Union}
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case other               => other
    }
    def side(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[(String, String)] = strip(p) match {
      case Project(Seq(a: UnresolvedAttribute), r: UnresolvedRelation) =>
        Some((r.multipartIdentifier.last, a.nameParts.last))
      case _ => None
    }
    def isCountStar(f: UnresolvedFunction): Boolean =
      f.nameParts.last.equalsIgnoreCase("count") && !f.isDistinct &&
        f.filter.isEmpty && (f.arguments match {
          case Seq(l: Literal) => l.value != null
          case _               => false
        })
    def countDistinctArg(f: UnresolvedFunction): Option[String] =
      if (f.nameParts.last.equalsIgnoreCase("count") && f.isDistinct &&
          f.filter.isEmpty)
        f.arguments match {
          case Seq(a: UnresolvedAttribute) => Some(a.nameParts.last)
          case _                           => None
        }
      else None
    parsed match {
      case Project(Seq(Alias(f: UnresolvedFunction, name)), child)
          if isCountStar(f) =>
        val setOp = strip(child) match {
          case Intersect(l, r, false)                   => Some(("intersect", l, r))
          case Except(l, r, false)                      => Some(("except", l, r))
          case Distinct(Union(Seq(l, r), false, false)) => Some(("union", l, r))
          case _                                        => None
        }
        for {
          (op, l, r) <- setOp
          ls <- side(l)
          rs <- side(r)
        } yield (name, op, ls, rs)
      // `count(DISTINCT x) FROM (a UNION ALL b)` is the same union
      // cardinality — the DISTINCT collapses the bag, so UNION ALL and
      // UNION children serve alike; x must be the combined column
      // (the first branch's projected name)
      case Project(Seq(Alias(f: UnresolvedFunction, name)), child)
          if countDistinctArg(f).isDefined =>
        val arg = countDistinctArg(f).get
        val pair = strip(child) match {
          case Union(Seq(l, r), false, false)           => Some((l, r))
          case Distinct(Union(Seq(l, r), false, false)) => Some((l, r))
          case _                                        => None
        }
        for {
          (l, r) <- pair
          ls <- side(l)
          rs <- side(r)
          if ls._2.equalsIgnoreCase(arg)
        } yield (name, "union", ls, rs)
      case _ => None
    }
  }

  private[engine] def storedSetOpAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(DataFrame, Double, String, String, String)] = {
    import org.apache.spark.sql.functions.lit
    for {
      (name, op, (lt, lc), (rt, rc)) <- setOpCountShape(parsed)
      ls <- catalog.getSketch(lt, lc, "kmv").filter(sketchIsFresh(lt, _))
      rs <- catalog.getSketch(rt, rc, "kmv").filter(sketchIsFresh(rt, _))
      lk <- ls.paramLong("k").map(_.toInt)
      rk <- rs.paramLong("k").map(_.toInt)
      if lk == rk
    } yield {
      val se = graft.sketch.Kmv.setEstimate(
        graft.sketch.Kmv.deserialize(ls.data),
        graft.sketch.Kmv.deserialize(rs.data))
      val (est, err) = op match {
        case "intersect" =>
          (se.intersectEst,
            if (se.exact) 0.0 else graft.sketch.Kmv.proportionError(lk, se.matched))
        case "except" =>
          (se.exceptEst,
            if (se.exact) 0.0 else graft.sketch.Kmv.proportionError(lk, se.aOnly))
        case _ =>
          (se.unionEst,
            if (se.exact) 0.0 else graft.sketch.Kmv.unionError(lk))
      }
      val hint = Seq(lt, rt)
        .maxBy(t => tableRowsHint(t).getOrElse(0L))
      // the live-window tag is column-matched per SIDE: either side's
      // KMV being TTL-maintained makes the estimate window-scoped
      val note = Seq(liveWindowNoteFor(lt, lc, "kmv_windowed"),
        liveWindowNoteFor(rt, rc, "kmv_windowed"))
        .find(_.nonEmpty).getOrElse("")
      (oneRow(lit(est).as(name)), err, op, hint, note)
    }
  }

  /** If the query is a bare global aggregate over `table` whose every
    * output is COUNT(DISTINCT attr) with a stored HyperLogLog sketch in
    * the catalog, answer all of them from the catalog — zero table scan.
    */
  private[engine] def storedSketchAnswer(parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.functions.lit
    parsed match {
      case Project(outs, r: UnresolvedRelation)
          if r.multipartIdentifier.last.equalsIgnoreCase(table) =>
        val answered = outs.map {
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.last.equalsIgnoreCase("count") && f.isDistinct &&
                f.arguments.sizeIs == 1 =>
            f.arguments.head match {
              case a: UnresolvedAttribute =>
                catalog.getSketch(table, a.nameParts.last, "hyperloglog")
                  .filter(sketchIsFresh(table, _))
                  .map(s => name -> graft.sketch.Hll.deserialize(s.data).count)
              case _ => None
            }
          case _ => None
        }
        if (answered.nonEmpty && answered.forall(_.isDefined)) {
          val cols = answered.flatten.map { case (n, v) => lit(v).as(n) }
          Some(oneRow(cols: _*))
        } else None
      case _ => None
    }
  }

  /** If the query is `SELECT g, count(DISTINCT attr)... FROM table
    * GROUP BY g` with a fresh stored GROUPED HyperLogLog (built by
    * SketchOps.createGroupedHll with group_by == g) covering every
    * distinct-counted column, answer all groups from the catalog —
    * zero table scan. Group keys are served as the string rendering
    * recorded at build time (the Count-Min string-key contract), and
    * every consulted sketch must carry the same group-key set (they
    * were built from the same table state or not at all).
    */
  private[engine] def storedGroupedSketchAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    parsed match {
      case Aggregate(gs, outs, child, _) =>
        val d = aggregateGroupKeys(gs, child, table).getOrElse(return None)
        val (gNames, keyFilter) = (d.gNames, d.keyFilter)
        // partial-key dispatch: WHERE a = 'x' GROUP BY b over an "a,b"
        // blob collapses the a dimension by register-max HLL union
        // (distinct-over-union — exactly the filtered query's ask)
        def hllBlobFor(c: String) =
          if (d.residual.isEmpty)
            groupedBlobFor(table, c, "hll_grouped", gNames)
              .orElse(partialGroupedBlobFor(table, c, "hll_grouped",
                gNames, Nil, (x, y) => graft.sketch.Hll.deserialize(x)
                  .merge(graft.sketch.Hll.deserialize(y)).serialize))
          else partialGroupedBlobFor(table, c, "hll_grouped", gNames,
            d.residual, (x, y) => graft.sketch.Hll.deserialize(x)
              .merge(graft.sketch.Hll.deserialize(y)).serialize)
        val lower = gNames.map(_.toLowerCase)
        def countDistinctCol(e: Expression): Option[String] = e match {
          case f: UnresolvedFunction
              if f.nameParts.last.equalsIgnoreCase("count") && f.isDistinct &&
                f.filter.isEmpty && f.arguments.sizeIs == 1 =>
            attrName(f.arguments.head)
          case _ => None
        }
        // classify outputs: Left((outName, group idx)) = a group key,
        // Right((outName, per-group estimates)) = an answered
        // count-distinct
        val classified = outs.map {
          case a: UnresolvedAttribute
              if lower.contains(a.nameParts.last.toLowerCase) =>
            Some(Left((a.nameParts.last,
              lower.indexOf(a.nameParts.last.toLowerCase))))
          case Alias(e, name)
              if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
            Some(Left((name, lower.indexOf(attrName(e).orElse(exprKeyName(e)).get.toLowerCase))))
          case Alias(e, name) =>
            countDistinctCol(e).flatMap { c =>
              hllBlobFor(c).map { entries =>
                val est = entries
                  .filter { case (k, _) =>
                    keyFilter.forall(_.matches(k.head)) }
                  .map { case (k, b) =>
                    k -> graft.sketch.Hll.deserialize(b).count }
                Right((name, est))
              }
            }
          case _ => None
        }
        if (classified.exists(_.isEmpty)) return None
        val parts = classified.flatten
        val keyIdx = parts.collect { case Left((_, i)) => i }
        val estCols = parts.collect { case Right(v) => v }
        if (keyIdx.toSet != gNames.indices.toSet || estCols.isEmpty)
          return None
        // all sketches must agree on the group-key set
        val keys = estCols.head._2.map(_._1)
        if (!estCols.forall(_._2.map(_._1).toSet == keys.toSet)) return None
        val kTypes = keyFieldTypes(table, gNames).getOrElse(return None)
        val byName = estCols.map { case (n, est) => n -> est.toMap }.toMap
        // rows in the parsed output order (key and counts interleave as
        // the select list wrote them)
        val rows = keys.map { k =>
          org.apache.spark.sql.Row.fromSeq(parts.map {
            case Left((_, i))  => typedKeyValue(kTypes(i), k(i))
            case Right((n, _)) => byName(n)(k)
          })
        }
        val schema = StructType(parts.map {
          case Left((n, i))  => StructField(n, kTypes(i), nullable = true)
          case Right((n, _)) => StructField(n, LongType, nullable = false)
        })
        import scala.jdk.CollectionConverters._
        Some(spark.createDataFrame(rows.asJava, schema))
      case _ => None
    }
  }

  /** Non-ML mode: the reference's cost-model-only planner path
    * (use_ml_optimization=false): exact vs pre-created sample by cost.
    */
  private[engine] def plannerOnlyChoice(f: QueryFeatures, tableSize: Long,
      maxRelError: Double,
      measureCols: Set[String] = Set.empty): StrategyChooser.Choice = {
    val p = Planner.plan(f, catalog, tableSize, maxRelError,
      preferExact = false, measureCols = measureCols)
    p.decision match {
      case _: Planner.ReadSampleTable =>
        StrategyChooser.Choice(StrategyChooser.Sample, 0.85, p.reason)
      case _ =>
        StrategyChooser.Choice(StrategyChooser.Exact, 0.95, p.reason)
    }
  }

  /** Realized error for multi-row (grouped) results: identify the
    * grouping-key output columns from the parsed select list (outputs
    * whose expression contains no aggregate call), join approx rows to
    * exact rows on those keys, and average |rel error| over the numeric
    * measure cells. CI companion columns (absent on the exact side) are
    * excluded by intersecting schemas; an exact group the sample missed
    * entirely counts as a full miss (rel error 1.0 per measure) so
    * sampled-out small groups are not silently flattering. Returns 0.0
    * when no key columns can be identified (no evidence — matches the
    * reference's measure-nothing behavior rather than inventing a
    * pairing).
    */
  private[engine] val aggCallNames = Set("count", "sum", "avg", "mean", "min",
    "max", "stddev", "stddev_samp", "var_samp", "variance", "percentile",
    "percentile_approx", "approx_percentile", "median",
    "approx_count_distinct")
  /** Grouping-key OUTPUT column names of a parsed select list (outputs
    * whose expression contains no aggregate call) — the join keys the
    * realized-error measurement pairs approx/exact rows on, and the
    * keyed-hash sample columns `finish`'s capped dual-run collection
    * orders by. Empty for scalar shapes or when no plan is available.
    */
  private[engine] def groupKeyNamesOf(sql: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, UnaryNode}
    def selectList(p: LogicalPlan): Seq[NamedExpression] = p match {
      case a: Aggregate => a.aggregateExpressions
      case pr: Project  => pr.projectList
      case u: UnaryNode => selectList(u.child)
      case _            => Nil
    }
    def hasAggCall(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.collectFirst {
        case f: UnresolvedFunction
            if aggCallNames.contains(f.nameParts.last.toLowerCase) => f
      }.isDefined
    val outs = parsedCached(sql).map(p => selectList(p._1)).getOrElse(Nil)
    outs.collect {
      case a @ Alias(child, _) if !hasAggCall(child) => a.name
      case ne if !hasAggCall(ne)                     => ne.name
    }
  }

  private[engine] def groupedError(sql: String,
      approxNames: Array[String], approxRows: Array[org.apache.spark.sql.Row],
      exactNames: Array[String], exactRows: Array[org.apache.spark.sql.Row]): Double = {
    val keyNames = groupKeyNamesOf(sql)
    val exactIdx = exactNames.zipWithIndex.toMap
    val approxIdx = approxNames.zipWithIndex.toMap
    if (keyNames.isEmpty ||
        !keyNames.forall(k => exactIdx.contains(k) && approxIdx.contains(k)))
      return 0.0
    val measureNames = exactNames.filter(n =>
      !keyNames.contains(n) && approxIdx.contains(n))
    if (measureNames.isEmpty) return 0.0

    def key(row: org.apache.spark.sql.Row, idx: Map[String, Int]): Seq[String] =
      keyNames.map(k => String.valueOf(row.get(idx(k)))).toSeq
    val approxByKey = approxRows.map(r => key(r, approxIdx) -> r).toMap
    val pairs = exactRows.iterator.flatMap { e =>
      val a = approxByKey.get(key(e, exactIdx))
      measureNames.iterator.flatMap { m =>
        e.get(exactIdx(m)) match {
          case v: Number if v.doubleValue() != 0 =>
            a.flatMap(ar => Option(ar.get(approxIdx(m)))) match {
              case Some(x: Number) => Some(
                math.abs(x.doubleValue() - v.doubleValue()) / math.abs(v.doubleValue()))
              case Some(_) => None
              case None    => Some(1.0) // group absent from the sample
            }
          case _ => None
        }
      }
    }.toSeq
    if (pairs.nonEmpty) pairs.sum / pairs.size else 0.0
  }

  /** Sketchable shapes in a parsed single-table query: which stored
    * sketch WOULD have answered each output had it existed. Mirrors the
    * serve paths' classifications (HLL count-distinct, histogram
    * percentiles + build stats, grouped twins, filtered-group dispatch,
    * CMS point frequency) WITHOUT consulting the catalog — the advisor
    * counts misses; freshness/coverage filtering happens at advise
    * time.
    */
  private[engine] def sketchCandidates(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      features: QueryFeatures): Seq[graft.learn.SketchAdvisor.Candidate] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Project}
    import graft.learn.SketchAdvisor.Candidate
    if (!features.isSingleTable) {
      // set-op cardinality misses: a COUNT(*) over INTERSECT / UNION /
      // EXCEPT that ran exact advises the KMV pair that would serve it
      // from the catalog (storedSetOpAnswer's shape, verbatim)
      setOpCountShape(parsed) match {
        case Some((_, _, (lt, lc), (rt, rc))) =>
          return Seq(Candidate(lt, lc, "kmv", None),
            Candidate(rt, rc, "kmv", None)).distinct
        case None =>
      }
      // join-AQP misses: an aggregate join that ran WITHOUT the
      // sampled path (the finish gate skips sample_join/universe
      // serves) becomes automatically costed once fresh AGMS pairs
      // exist over its equi-keys — so each EDGE endpoint's (table,
      // key) is a sketchable candidate. Stars and snowflake chains
      // alike: joinTreeEdges succeeds from any root, and the canonical
      // edge key order is root-independent, so the advised names match
      // what execution will look up.
      // star-aggregate misses advise the grouped build that flips the
      // query to the EXACT star serve (fact never scanned) — strictly
      // better than an AGMS pair for this shape, advised alongside it
      // (the generic advice still helps if the fact's key cardinality
      // makes the grouped build refuse past MaxHllGroups). Computed
      // BEFORE the approximable-agg gate: a percentile-only star query
      // has no sampler-approximable aggregate but the shared-grid
      // build still serves it.
      val star = try starAdviceCandidates(parsed, features.tables)
        catch { case scala.util.control.NonFatal(_) => Nil }
      if (features.tables.sizeIs < 2 ||
          !(features.hasApproximableAgg || features.hasDistinct))
        return star
      return try {
        val ts = features.tables
        (star ++ ts.iterator
          .map(f => joinTreeEdges(parsed, ts, f))
          .collectFirst { case Some(v) => v }
          .map { edges =>
            // metadata-only size evidence: catalog stats, never a scan
            def bigByStats(t: String): Boolean =
              catalog.statsFor(t).exists(_.rowCount >= UniverseMinRows)
            val agms = edges.map { case (p, pks, _, _) =>
              Candidate(p, agmsKeyName(pks), "agms", None)
            } ++ edges.map { case (_, _, c, cks) =>
              Candidate(c, agmsKeyName(cks), "agms", None)
            }
            // two-big edges additionally advise a MATERIALIZED
            // universe-sample pair: the per-query inline lottery is
            // itself a full scan of both big sides, which the pair
            // amortizes to one build
            val universe = edges.collect {
              case (p, pks, c, cks) if bigByStats(p) && bigByStats(c) =>
                Seq(Candidate(p, agmsKeyName(pks), "universe", None),
                  Candidate(c, agmsKeyName(cks), "universe", None))
            }.flatten
            // distinct aggregates: the universe key lottery is the ONLY
            // strategy that can serve them (count over a full edge-key
            // tuple), so advise exactly when that shape holds on a
            // two-big edge — anything else has no build that would
            // flip it, so advise nothing rather than dead recipes
            val distinctFns = parsed.collect { case n => n.expressions }
              .flatten.flatMap(_.collect {
                case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
                    if f.isDistinct => f
              })
            val keySets = edges
              .flatMap { case (_, pks, _, cks) => Seq(pks, cks) }
              .map(_.map(_.toLowerCase).toSet)
            val distinctOk = distinctFns.forall { f =>
              f.nameParts.last.equalsIgnoreCase("count") &&
                f.filter.isEmpty &&
                f.arguments.forall(_.isInstanceOf[UnresolvedAttribute]) && {
                  val cols = f.arguments.map(
                    _.asInstanceOf[UnresolvedAttribute]
                      .nameParts.last.toLowerCase).toSet
                  keySets.contains(cols)
                }
            }
            if (distinctFns.isEmpty) (agms ++ universe).distinct
            else if (distinctOk && universe.nonEmpty)
              (agms ++ universe).distinct
            else Nil
          }
          .getOrElse(Nil)).distinct
      } catch { case scala.util.control.NonFatal(_) => star }
    }
    val table = features.tableName.getOrElse(return Nil)
    def rel(r: UnresolvedRelation): Boolean =
      r.multipartIdentifier.last.equalsIgnoreCase(table)
    val statsFns = Set("min", "max", "count", "sum", "avg", "mean")
    val pctFns = Set("percentile", "percentile_approx", "approx_percentile",
      "median")
    def classify(e: NamedExpression, g: Option[String]): Seq[Candidate] =
      e match {
        case Alias(f: UnresolvedFunction, _) if f.filter.isEmpty =>
          val fn = f.nameParts.last.toLowerCase
          (f.isDistinct, f.arguments) match {
            case (true, Seq(a: UnresolvedAttribute)) if fn == "count" =>
              Seq(Candidate(table, a.nameParts.last,
                if (g.isDefined) "hll_grouped" else "hll", g))
            case (false, Seq(a: UnresolvedAttribute))
                if statsFns(fn) || pctFns(fn) =>
              Seq(Candidate(table, a.nameParts.last,
                if (g.isDefined) "histogram_grouped" else "histogram", g))
            case (false, Seq(a: UnresolvedAttribute, _: Literal))
                if pctFns(fn) =>
              Seq(Candidate(table, a.nameParts.last,
                if (g.isDefined) "histogram_grouped" else "histogram", g))
            case _ => Nil
          }
        case _ => Nil
      }
    def countStarOnly(outs: Seq[NamedExpression]): Boolean =
      outs.nonEmpty && outs.forall {
        case Alias(f: UnresolvedFunction, _) =>
          f.nameParts.last.equalsIgnoreCase("count") && !f.isDistinct &&
            f.arguments.forall(_.isInstanceOf[Literal])
        case _ => false
      }
    // top-k / iceberg misses: keys + a lone count(*) under ORDER BY
    // count DESC LIMIT k or HAVING count >= x — the shape only the
    // heavy-hitters blob serves (grouped blobs refuse a lone grouped
    // COUNT(*), and high-cardinality keys refuse the build outright)
    topKShape(parsed, table) match {
      case Some(sh)
          if sh.havingMin.isDefined ||
            (sh.limit.isDefined && sh.topCountSort) =>
        val g = sh.gNames.mkString(",")
        return sh.sumCol match {
          case Some(v) => Seq(Candidate(table, v, "topk_sum", Some(g)))
          case None    => Seq(Candidate(table, g, "topk", Some(g)))
        }
      case _ =>
    }
    // the ORDER BY / LIMIT / HAVING wrappers don't change which blob
    // would serve the inner aggregate — classify the peeled shape so
    // sorted/limited dashboards record the same misses (sortability is
    // irrelevant to WHAT to build, so the permissive peel is fine here)
    val shapeCands = graft.plan.PostAggregate.peel(parsed, _ => true)._1 match {
      // composite GROUP BYs advise composite-key grouped sketches (the
      // comma-joined column list is the build recipe's group_by)
      case Aggregate(gs, outs, r: UnresolvedRelation, _)
          if rel(r) && gs.nonEmpty &&
            gs.forall(e => e.isInstanceOf[UnresolvedAttribute] ||
              exprKeyName(e).isDefined) =>
        // expression keys advise builds keyed on their canonical
        // rendering — the builder parses the text back (round 10)
        val g = gs.map {
          case a: UnresolvedAttribute => a.nameParts.last
          case e                      => exprKeyName(e).get
        }.mkString(",")
        outs.flatMap(classify(_, Some(g))).distinct
      // partial-key shape: WHERE a = lit ... GROUP BY b advises the
      // COMPOSITE "a,b" blob (the engine's residual dispatch serves
      // stats/HLL from it by pruning + exact collapse)
      case Aggregate(gs, outs, Filter(cond, r: UnresolvedRelation), _)
          if rel(r) && gs.nonEmpty &&
            gs.forall(_.isInstanceOf[UnresolvedAttribute]) =>
        val gcols = gs.map(_.asInstanceOf[UnresolvedAttribute].nameParts.last)
        residualEqualityFilter(cond, table, gcols) match {
          case Some(res) =>
            val g = (gcols ++ res.map(_._1)).mkString(",")
            // a PERCENTILE residual collapse adds bucket counts, which
            // only a SHARED-GRID build reliably serves (per-group
            // grids refuse multi-entry merges) — advise that variant;
            // stats-only shapes serve from any build
            val hasPct = outs.exists {
              case Alias(f: UnresolvedFunction, _) =>
                pctFns(f.nameParts.last.toLowerCase)
              case _ => false
            }
            outs.flatMap(classify(_, Some(g))).distinct
              .map(c =>
                if (hasPct && c.sketchType == "histogram_grouped")
                  c.copy(sketchType = "histogram_grouped_shared")
                else c)
          case None =>
            // GROUP BY keys + count(*)/percentile outputs under a
            // RANGE on one numeric non-key column: the grouped range
            // serve's miss — advise the grouped histogram over
            // (keys → range column). Percentile outputs must target
            // the range column itself (the serve's own gate).
            val lowerG = gcols.map(_.toLowerCase).toSet
            def aggFor(range: String): PartialFunction[
                org.apache.spark.sql.catalyst.expressions.Expression, Boolean] = {
              case f: UnresolvedFunction
                  if !f.isDistinct && f.filter.isEmpty =>
                (f.nameParts.last.toLowerCase, f.arguments) match {
                  case ("count", Seq(_: Literal)) => true
                  case ("sum" | "avg" | "mean",
                      Seq(a: UnresolvedAttribute)) =>
                    a.nameParts.last.equalsIgnoreCase(range)
                  case ("median", Seq(a: UnresolvedAttribute)) =>
                    a.nameParts.last.equalsIgnoreCase(range)
                  case ("percentile" | "percentile_approx" |
                      "approx_percentile",
                      Seq(a: UnresolvedAttribute, _: Literal)) =>
                    a.nameParts.last.equalsIgnoreCase(range)
                  case _ => false
                }
            }
            rangeBounds(cond) match {
              case Some((c, _, _))
                  if !lowerG.contains(c.toLowerCase) &&
                    numericColumn(table, c) && {
                      val af = aggFor(c)
                      val aggOuts = outs.count {
                        case Alias(f: UnresolvedFunction, _)
                            if af.isDefinedAt(f) => af(f)
                        case _ => false
                      }
                      aggOuts >= 1 && outs.forall {
                        case a: UnresolvedAttribute =>
                          lowerG.contains(a.nameParts.last.toLowerCase)
                        case Alias(a: UnresolvedAttribute, _) =>
                          lowerG.contains(a.nameParts.last.toLowerCase)
                        case Alias(f: UnresolvedFunction, _)
                            if af.isDefinedAt(f) => af(f)
                        case _ => false
                      }
                    } =>
                Seq(Candidate(table, c, "histogram_grouped",
                  Some(gcols.mkString(","))))
              case _ =>
                // RANGE on the (single) GROUP column itself (round
                // 10): the grouped serves prune recorded keys by the
                // parsed integral comparison, so the miss advises the
                // same grouped blob a filterless GROUP BY would
                if (gcols.sizeIs == 1 &&
                    keyRangePred(table, gcols.head,
                      conjunctsOf(cond)).isDefined)
                  outs.flatMap(classify(_, Some(gcols.mkString(","))))
                    .distinct
                else {
                  // RESIDUAL equality + range (round 10 fifth pass):
                  // `WHERE a = lit AND <range on v> GROUP BY b` —
                  // the partial-key grouped range serve's miss:
                  // advise the COMPOSITE "b,a" grouped histogram
                  // over the range column
                  val conj2 = conjunctsOf(cond)
                  val (cmps2, eqs2) = conj2.partition {
                    case _: GreaterThan | _: GreaterThanOrEqual |
                         _: LessThan | _: LessThanOrEqual => true
                    case _ => false
                  }
                  val eqCols = eqs2.map {
                    case EqualTo(a: UnresolvedAttribute, _: Literal) =>
                      Some(a.nameParts.last)
                    case EqualTo(_: Literal, a: UnresolvedAttribute) =>
                      Some(a.nameParts.last)
                    case _ => None
                  }
                  if (cmps2.isEmpty || eqs2.isEmpty ||
                      eqCols.exists(_.isEmpty)) Nil
                  else {
                    val ec = eqCols.flatten
                    rangeBounds(cmps2.reduce(
                      org.apache.spark.sql.catalyst.expressions.And)) match {
                      case Some((c, _, _))
                          if numericColumn(table, c) &&
                            !lowerG.contains(c.toLowerCase) &&
                            !ec.exists(e => e.equalsIgnoreCase(c) ||
                              lowerG.contains(e.toLowerCase)) &&
                            ec.map(_.toLowerCase).distinct.sizeIs ==
                              ec.size && {
                              val af = aggFor(c)
                              outs.exists {
                                case Alias(f: UnresolvedFunction, _)
                                    if af.isDefinedAt(f) => af(f)
                                case _ => false
                              } && outs.forall {
                                case a: UnresolvedAttribute =>
                                  lowerG.contains(
                                    a.nameParts.last.toLowerCase)
                                case Alias(a: UnresolvedAttribute, _) =>
                                  lowerG.contains(
                                    a.nameParts.last.toLowerCase)
                                case Alias(f: UnresolvedFunction, _)
                                    if af.isDefinedAt(f) => af(f)
                                case _ => false
                              }
                            } =>
                        Seq(Candidate(table, c, "histogram_grouped",
                          Some((gcols ++ ec).mkString(","))))
                      case _ => Nil
                    }
                  }
                }
            }
        }
      case Project(outs, r: UnresolvedRelation) if rel(r) =>
        outs.flatMap(classify(_, None)).distinct
      case Project(outs, Filter(cond, r: UnresolvedRelation)) if rel(r) =>
        val gcol = cond match {
          case EqualTo(a: UnresolvedAttribute, _: Literal) =>
            Some(a.nameParts.last)
          case EqualTo(_: Literal, a: UnresolvedAttribute) =>
            Some(a.nameParts.last)
          case In(a: UnresolvedAttribute, ls)
              if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
            Some(a.nameParts.last)
          // a conjunction of equalities over distinct columns is the
          // composite point-lookup shape
          case andExpr: org.apache.spark.sql.catalyst.expressions.And =>
            val cols = conjunctsOf(andExpr).map {
              case EqualTo(a: UnresolvedAttribute, _: Literal) =>
                Some(a.nameParts.last)
              case EqualTo(_: Literal, a: UnresolvedAttribute) =>
                Some(a.nameParts.last)
              case _ => None
            }
            if (cols.exists(_.isEmpty) ||
                cols.flatten.map(_.toLowerCase).distinct.sizeIs != cols.size)
              None
            else Some(cols.flatten.mkString(","))
          case _ => None
        }
        gcol match {
          // a lone filtered COUNT(*) is the CMS point-frequency shape;
          // a conjunction over distinct columns advises the COMPOSITE
          // tuple-key CMS, name canonicalized to sorted order so `a AND
          // b` and `b AND a` accumulate (and retire) as one miss —
          // serve dispatch is set-based, so the build order is free
          case Some(g) if countStarOnly(outs) =>
            val name =
              if (g.contains(",")) g.split(",").map(_.trim).sorted.mkString(",")
              else g
            Seq(Candidate(table, name, "cms", None))
          // anchored aggregates under the filter = the filtered-group
          // dispatch shape (grouped blobs keyed by the filter columns).
          // A multi-literal IN percentile serves only by MERGING the
          // named groups' histograms, which needs a shared grid —
          // advise that variant so the advice can actually retire.
          case Some(g) if !countStarOnly(outs) =>
            val multiLit = cond match {
              case In(_, ls) => ls.sizeIs > 1
              case _         => false
            }
            val hasPct = outs.exists {
              case Alias(f: UnresolvedFunction, _) =>
                pctFns(f.nameParts.last.toLowerCase)
              case _ => false
            }
            outs.flatMap(classify(_, Some(g))).distinct
              .map(c =>
                if (multiLit && hasPct && c.sketchType == "histogram_grouped")
                  c.copy(sketchType = "histogram_grouped_shared")
                else c)
          // a lone COUNT(*) under RANGE bounds on one numeric column
          // is the histogram range-count serve's miss — the plain
          // histogram build covers it
          case None if countStarOnly(outs) =>
            rangeBounds(cond) match {
              case Some((c, _, _)) if numericColumn(table, c) =>
                Seq(Candidate(table, c, "histogram", None))
              case _ => Nil
            }
          // count/sum/avg/percentile outputs anchored on the RANGE
          // column itself are the range serve's other miss shapes —
          // the same plain histogram (plus its histsum rider) covers
          // them all
          case None =>
            rangeBounds(cond) match {
              case Some((c, _, _))
                  if numericColumn(table, c) && outs.nonEmpty &&
                    outs.forall {
                      case Alias(f: UnresolvedFunction, _)
                          if !f.isDistinct && f.filter.isEmpty =>
                        (f.nameParts.last.toLowerCase, f.arguments) match {
                          case ("count", Seq(_: Literal)) => true
                          case ("sum" | "avg" | "mean",
                              Seq(a: UnresolvedAttribute)) =>
                            a.nameParts.last.equalsIgnoreCase(c)
                          case ("percentile" | "percentile_approx" |
                              "approx_percentile",
                              Seq(a: UnresolvedAttribute, _: Literal)) =>
                            a.nameParts.last.equalsIgnoreCase(c)
                          case ("median", Seq(a: UnresolvedAttribute)) =>
                            a.nameParts.last.equalsIgnoreCase(c)
                          case _ => false
                        }
                      case _ => false
                    } =>
                Seq(Candidate(table, c, "histogram", None))
              case _ =>
                // integral RANGE on one column with aggregates
                // anchored on OTHER columns = the filtered-group
                // range dispatch's miss (round 10) — advise grouped
                // blobs KEYED by the range column over each
                // aggregate's own column
                val conj = conjunctsOf(cond)
                val names = conj.flatMap(_.collect {
                  case a: UnresolvedAttribute =>
                    a.nameParts.last.toLowerCase
                }).distinct
                names match {
                  case Seq(c) if keyRangePred(table, c, conj).isDefined =>
                    outs.flatMap(classify(_, Some(c))).distinct
                  case _ =>
                    // equality/IN group filter + range on the value
                    // column = the FILTERED-range serve's miss: advise
                    // the grouped histogram keyed by the filter columns
                    // over the range column (shared grid when an
                    // IN-list would have to MERGE groups)
                    def isCmp(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
                      e match {
                        case _: org.apache.spark.sql.catalyst.expressions.GreaterThan |
                             _: org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual |
                             _: org.apache.spark.sql.catalyst.expressions.LessThan |
                             _: org.apache.spark.sql.catalyst.expressions.LessThanOrEqual => true
                        case _ => false
                      }
                    val (cmps, eqs) = conj.partition(isCmp)
                    def vAnchored(v: String): Boolean = outs.forall {
                      case Alias(f: UnresolvedFunction, _)
                          if !f.isDistinct && f.filter.isEmpty =>
                        (f.nameParts.last.toLowerCase, f.arguments) match {
                          case ("count", Seq(_: Literal)) => true
                          case ("sum" | "avg" | "mean",
                              Seq(a: UnresolvedAttribute)) =>
                            a.nameParts.last.equalsIgnoreCase(v)
                          case ("percentile" | "percentile_approx" |
                              "approx_percentile",
                              Seq(a: UnresolvedAttribute, _: Literal)) =>
                            a.nameParts.last.equalsIgnoreCase(v)
                          case ("median", Seq(a: UnresolvedAttribute)) =>
                            a.nameParts.last.equalsIgnoreCase(v)
                          case _ => false
                        }
                      case _ => false
                    }
                    if (cmps.isEmpty || eqs.isEmpty) Nil
                    else rangeBounds(cmps.reduce(
                      org.apache.spark.sql.catalyst.expressions.And)) match {
                      case Some((v, _, _))
                          if numericColumn(table, v) && vAnchored(v) =>
                        val gm: Option[(Seq[String], Boolean)] = eqs match {
                          case Seq(In(a: UnresolvedAttribute, ls))
                              if ls.nonEmpty &&
                                ls.forall(_.isInstanceOf[Literal]) =>
                            Some((Seq(a.nameParts.last), ls.sizeIs > 1))
                          case es =>
                            val cols = es.map {
                              case EqualTo(a: UnresolvedAttribute, _: Literal) =>
                                Some(a.nameParts.last)
                              case EqualTo(_: Literal, a: UnresolvedAttribute) =>
                                Some(a.nameParts.last)
                              case _ => None
                            }
                            if (cols.exists(_.isEmpty) ||
                                cols.flatten.map(_.toLowerCase)
                                  .distinct.sizeIs != cols.size) None
                            else Some((cols.flatten, false))
                        }
                        gm match {
                          case Some((gcols, multiLit))
                              if !gcols.exists(_.equalsIgnoreCase(v)) =>
                            Seq(Candidate(table, v,
                              if (multiLit) "histogram_grouped_shared"
                              else "histogram_grouped",
                              Some(gcols.mkString(","))))
                          case _ => Nil
                        }
                      case _ => Nil
                    }
                }
            }
          case _ => Nil
        }
      case _ => Nil
    }
    // OUTLIER-sample advice (round 11): a FILTERED SUM/AVG/percentile
    // over a measure the catalog's skew profile flags heavy-tailed is
    // the outlier-indexed sample's miss — no blob family serves an
    // arbitrary WHERE, but the sample does (predicates evaluate per-row
    // on it; membership is predicate-independent, so HT stays
    // unbiased). Unfiltered bare aggregates are deliberately excluded:
    // the histogram build's exact stats serve is strictly better there,
    // and is already advised above.
    val outlierCands =
      if (features.hasDistinct || features.hasMinMax ||
          parsed.collectFirst { case f: Filter => f }.isEmpty) Nil
      else sumAvgArgColumns(parsed).toSeq.sorted
        .filter(c => catalog.measureSkewFor(table, c)
          .exists(_.topSharePpm >= OutlierSkewPpmThreshold))
        .map(c => Candidate(table, c, "outlier", None))
    (shapeCands ++ outlierCands).distinct
  }

  /** Build recommendations from accumulated misses: sketchable shapes
    * that did not serve from a sketch at least `minMisses` times and
    * are not already covered by a FRESH stored sketch of the right
    * type (and group-by). Most-missed first. Running the recommended
    * build flips those query shapes to the no-scan catalog path.
    */
  def adviseSketches(minMisses: Int = 3): Seq[graft.learn.SketchAdvisor.Advice] = {
    import graft.learn.SketchAdvisor
    sketchAdvisor.snapshot.toSeq
      .filter(_._2 >= minMisses)
      .filterNot { case (c, _) =>
        // "universe" candidates are SAMPLES, not sketches: covered by
        // a fresh materialized universe sample over the same key
        if (c.sketchType == "universe")
          catalog.universeSampleFor(c.table, c.column).isDefined
        else if (c.sketchType == "outlier")
          // samples, not sketches: covered by a fresh outlier-indexed
          // sample over the same measure column
          catalog.outlierSampleFor(c.table, c.column).isDefined
        else if (c.sketchType == "bottomk")
          // covered by any fresh fixed-size sample on the table
          catalog.bottomKSampleFor(c.table).isDefined
        else if (c.sketchType == "bottomk_grouped")
          catalog.bottomKGroupedSampleFor(c.table).exists(s =>
            catalog.bottomKGroupColumn(s) == c.groupBy)
        else if (c.sketchType == "topk" || c.sketchType == "topk_sum")
          // topk blobs key themselves by BUILD order; coverage is
          // group-by SET equality plus, for the sum variant, the
          // summed value column (the serve dispatches by params)
          catalog.listSketches(Some(c.table)).exists { s =>
            val keySet =
              if (c.sketchType == "topk") c.column else c.groupBy.getOrElse("")
            s.sketchType == "topk" && sketchIsFresh(c.table, s) &&
              s.param("agg").getOrElse("count") ==
                (if (c.sketchType == "topk") "count" else "sum") &&
              (c.sketchType == "topk" ||
                s.param("value_col").exists(_.equalsIgnoreCase(c.column))) &&
              s.param("group_by").exists(g =>
                g.split(",").map(canonKey).toSet ==
                  keySet.split(",").map(canonKey).toSet)
          }
        else {
          // candidate types use the advisor's vocabulary; the catalog
          // stores the builders' names ("hll" -> "hyperloglog",
          // "cms" -> "countmin"; the grouped types match verbatim)
          val catalogType = c.sketchType match {
            case "hll" => "hyperloglog"
            case "cms" => "countmin"
            case "histogram_grouped_shared" => "histogram_grouped"
            case other => other
          }
          catalog.getSketch(c.table, c.column, catalogType)
            .filter(sketchIsFresh(c.table, _))
            // a shared-grid miss is covered only by a shared-grid
            // build — a per-group-grid blob of the same shape cannot
            // serve the merge, so it must not retire the advice
            .filter(s => c.sketchType != "histogram_grouped_shared" ||
              s.param("grid").contains("shared"))
            .exists(s => c.groupBy.forall(g =>
              // SET comparison: a sketch built as "a,b" covers a miss
              // recorded from a GROUP BY b, a (dispatch is set-equality)
              s.param("group_by").exists(sg =>
                sg.split(",").map(canonKey).toSet ==
                  g.split(",").map(canonKey).toSet)))
        }
      }
      .map { case (c, n) =>
        // TTL-aware recipes (round 14): a table with ANY windowed
        // state rider or last_batch-guarded sketch is stream-
        // maintained — a one-shot batch build would go stale on the
        // next fold, so the advice names the WINDOWED maintainer for
        // the family when one exists
        val streamed = catalog.listSketches(Some(c.table)).exists(s =>
          s.sketchType.endsWith("_windowed") ||
            s.sketchType == "bottomkw_state" ||
            s.param("last_batch").isDefined)
        val build =
          if (streamed)
            SketchAdvisor.windowedRecipe(c)
              .getOrElse(SketchAdvisor.buildRecipe(c))
          else SketchAdvisor.buildRecipe(c)
        SketchAdvisor.Advice(c, n, build)
      }
      .sortBy(a => (-a.misses, a.candidate.toString))
  }

}
