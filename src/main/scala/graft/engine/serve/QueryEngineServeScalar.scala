package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{MetaCatalog, SampleNaming}
import graft.plan._

/** [[QueryEngine]]'s single-table STORED-SKETCH serves over scalar and
  * range shapes (histogram/HDR percentiles, range counts/sums, stats,
  * filtered-range), plus the key-decode/freshness helpers the whole
  * serve family shares. Split out mechanically in round 13 — pure code
  * motion, behavior pinned by the q74/q85/q87/q103-q123/q144-q152
  * oracle families.
  */
private[engine] trait QueryEngineServeScalar { self: QueryEngine =>
  import self._

  /** Staleness guard for catalog-served answers: a sketch that recorded
    * the base-table rowcount at build time ("rows" in its params JSON)
    * is served only while the catalog's table stats agree — an appended
    * or rewritten table falls through to the scan path instead of being
    * answered from stale state. With no recorded rowcount or no table
    * stats there is no evidence of staleness and the sketch serves
    * (the reference's ignore-staleness policy, SURVEY §7.4 — kept as
    * the default, tightened where the evidence exists).
    *
    * ROWCOUNT EQUALITY IS THE STALENESS CONTRACT: an in-place rewrite
    * that preserves the rowcount is NOT detected — the engine reads
    * registered views whose backing storage it cannot fingerprint
    * generically (temp views have no files). Operators who rewrite in
    * place must rebuild the affected sketches (or bump table stats) as
    * part of the rewrite.
    */
  private[engine] def sketchIsFresh(table: String, s: catalog.SketchInfo): Boolean =
    (s.paramLong("rows"), catalog.statsFor(table)) match {
      case (Some(recorded), Some(ts)) => recorded == ts.rowCount
      case _                          => true
    }

  /** Rowcount evidence with NO scan: the catalog's table stats, else
    * the largest build-time rowcount any stored sketch for the table
    * recorded in its params. Feeds the serve-path cost model; with no
    * evidence at all it defaults to 1 row, where the planner breaks
    * the resulting cost tie toward the serve by enumeration order.
    */
  private[engine] def tableRowsHint(table: String): Option[Long] =
    catalog.statsFor(table).map(_.rowCount).orElse(
      catalog.listSketches(Some(table))
        .flatMap(_.paramLong("rows"))
        .maxOption)

  /** Explain-contract tag for serves backed by a WINDOWED/TTL
    * maintainer (round 14): when the per-bucket state rider exists on
    * the COLUMN the serve answered from, the serving blob covers the
    * LIVE WINDOW, not all-time — `/query?explain=true` must say so the
    * way it names every other serve property. Appended to the serve's
    * detail string at the dispatch site, so the planner's
    * `catalog serve (kind): ...` reason carries it verbatim.
    *
    * Column discipline (round 15): a state rider on column A must not
    * tag a serve answered from a batch-built all-time blob on column B
    * of the same table — the dispatch sites don't surface which column
    * each stored-answer matched, so the tag applies iff EVERY fresh
    * serving blob of the paired `serveTypes` sits on a rider-maintained
    * column (maintainers key rider and serving blob on the same
    * (table, column), and their upsertTableStats retires the other
    * columns' all-time blobs, so the fresh set is exactly the served
    * set in every non-degenerate state). The one ambiguous state — a
    * maintained blob and a batch blob simultaneously fresh on different
    * columns — refuses the tag rather than risk a false claim.
    */
  private[engine] val LiveWindowTag: String =
    " [live window (TTL): serving state re-merged from live " +
      "event-time buckets at the stream watermark; expired rows " +
      "excluded, table stats track the live-row count]"

  private[engine] def liveWindowNote(table: String, serveTypes: Seq[String],
      stateTypes: String*): String = {
    val sketches = catalog.listSketches(Some(table))
    val riderCols = sketches.iterator
      .filter(s => stateTypes.contains(s.sketchType))
      .map(_.columnName.toLowerCase).toSet
    if (riderCols.isEmpty) ""
    else {
      val freshServing = sketches.filter(s =>
        serveTypes.contains(s.sketchType) && sketchIsFresh(table, s))
      if (freshServing.nonEmpty && freshServing.forall(s =>
          riderCols.contains(s.columnName.toLowerCase)))
        LiveWindowTag
      else ""
    }
  }

  /** Exact-column variant for dispatch sites that DO know the serving
    * column (the bottom-k sample serve decodes it from the sample
    * marker; the KMV set-op serve matched each side's column).
    */
  private[engine] def liveWindowNoteFor(table: String, column: String,
      stateTypes: String*): String =
    if (catalog.listSketches(Some(table)).exists(s =>
        stateTypes.contains(s.sketchType) &&
          s.columnName.equalsIgnoreCase(column))) LiveWindowTag
    else ""

  /** Wrap a VERIFIED no-scan catalog serve in the planner's candidate
    * enumeration (the reference explain contract, planner.py:21-78 /
    * app.py:106-111): confidence, speedup, and cost come from the
    * enumerated candidates, not per-path constants, so explain-mode
    * output names the serve the engine actually runs with the cost
    * model's own figures. The dispatch loop (serveFirst) has already
    * gated `err <= opts.maxRelError`, so the serve candidate is valid and —
    * costed at CatalogServeCost, below any scan — wins the
    * enumeration. Confidence derives from the serve's reported bound
    * (0.95 at zero error, the exact path's own confidence, shrinking
    * with the bound); the speedup is the exact candidate's cost over
    * the serve's — finite and honest, unlike the old ∞ constant.
    */
  private[engine] def serveResult(df: DataFrame, features: QueryFeatures,
      table: String, kind: String, err: Double, detail: String,
      transforms: Seq[String], opts: Options): AqeResult = {
    val rows = tableRowsHint(table).getOrElse(1L)
    val plan = Planner.plan(features, catalog, rows, opts.maxRelError,
      preferExact = false,
      serves = Seq(Planner.ServeCandidate(kind, err, detail)))
    AqeResult(df, "sketch", "sketch", plan.reason,
      confidence = math.max(0.5, 0.95 - err),
      estimatedSpeedup = math.max(1.0,
        Planner.estimateExactCost(features, rows) / plan.estimatedCost),
      estimatedError = err, sampleFraction = None, sampleTable = None,
      transformations = transforms, servedFromCatalog = true,
      estimatedCost = Some(plan.estimatedCost), serveKind = Some(kind))
  }

  /** Whether serving aggregate `fn` of `column` from the given
    * per-group stat records keeps the "exact, 0.0 error" label honest.
    * COUNT always qualifies (nnull is an exact long regardless of the
    * column type). Float/double columns always qualify: their stored
    * min/max ARE the column's values and the stored sum is the repo's
    * canonical decimal-portable sum (the only deterministic
    * cross-engine rendering of a float sum) — what exact execution
    * through this engine's oracle protocol returns too. Integral
    * columns: min/max serve only while |value| < 2^53 (2^53+1 rounds
    * to 2^53, so a stored double at or beyond the limit may have
    * rounded), and the unscaled sum must round-trip through its double
    * rendering (GroupedStats.Stat.sumExactDouble). Decimal columns:
    * min/max refuse (a .05-style fraction has no exact double) and
    * sums additionally require scale <= 4 (a wider scale was rounded
    * per row by the builder's cast). Anything else refuses.
    */
  private[engine] def statFnServesExactly(table: String, column: String, fn: String,
      stats: Seq[graft.sketch.GroupedStats.Stat]): Boolean = {
    import org.apache.spark.sql.types._
    val dt = scala.util.Try(spark.table(table).schema
      .find(_.name.equalsIgnoreCase(column)).map(_.dataType)).toOption.flatten
    fn match {
      case "count" => true
      case "min" | "max" => dt match {
        case Some(FloatType | DoubleType) => true
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          val lim = 9007199254740992.0 // 2^53
          stats.forall(st => (st.min ++ st.max).forall(v => math.abs(v) < lim))
        case _ => false
      }
      case "sum" | "avg" | "mean" => dt match {
        case Some(FloatType | DoubleType) => true
        case Some(d: DecimalType) =>
          d.scale <= 4 && stats.forall(_.sumExactDouble)
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          stats.forall(_.sumExactDouble)
        case _ => false
      }
      case _ => false
    }
  }

  /** Flatten a conjunction into its conjuncts (shared by the join-key
    * extractor, the filtered-group predicate parser, and the advisor's
    * shape classifier).
    */
  private[engine] def conjunctsOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    // Spark 4 parses `x BETWEEN a AND b` as the unresolved function
    // 'between (resolved later to the RuntimeReplaceable Between
    // node), not the two comparisons it lowers to at analysis time —
    // expand both spellings here so every conjunct consumer (range
    // serves, key-range dispatch, the advisor's shape classifier)
    // sees the comparison form. Non-literal bounds simply fail the
    // downstream pattern matches, exactly as before.
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.last.equalsIgnoreCase("between") &&
          f.arguments.sizeIs == 3 && !f.isDistinct && f.filter.isEmpty =>
      Seq(org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
        f.arguments(0), f.arguments(1)),
        org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
          f.arguments(0), f.arguments(2)))
    case b: org.apache.spark.sql.catalyst.expressions.Between =>
      Seq(org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
        b.input, b.lower),
        org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
          b.input, b.upper))
    case x => Seq(x)
  }

  /** Literal → sketch-key rendering, gated on the filter column's
    * ACTUAL data type. Sketch keys are built as `cast(col as string)`,
    * and a literal's toString equals that rendering only for string
    * literals on string columns and integral literals on integral
    * columns: `WHERE g = 5` on a double column renders "5" while the
    * blob keys "5.0" (the serve would silently return the exact-empty-
    * group answer), and an integral literal against a string column
    * holding "05" misses the same way. Any other (column, literal)
    * pairing returns None so the query falls through to the scan path.
    * Schema resolution is a catalog lookup (no scan); an unresolvable
    * table refuses.
    */
  private[engine] def typedLitKey(table: String, column: String,
      l: org.apache.spark.sql.catalyst.expressions.Literal): Option[String] = {
    import org.apache.spark.sql.types._
    val dt = scala.util.Try(spark.table(table).schema
      .find(_.name.equalsIgnoreCase(column)).map(_.dataType)).toOption.flatten
    (dt, l.value) match {
      case (Some(StringType), u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(u.toString)
      case (Some(ByteType | ShortType | IntegerType | LongType),
            n @ (_: java.lang.Integer | _: java.lang.Long |
                 _: java.lang.Short | _: java.lang.Byte)) =>
        Some(n.toString)
      case _ => None
    }
  }

  /** IN-list literals → sketch keys. A NULL literal can never match a
    * row (three-valued IN: `col = NULL` is UNKNOWN, and UNKNOWN never
    * turns a non-matching row true), so NULLs are DROPPED rather than
    * refusing the whole serve; any NON-null literal that fails the
    * typed rendering still refuses (it could match rows the sketch
    * keys differently). Some(Nil) = every literal was NULL: the serve
    * answers the empty-match aggregate, exactly like exact execution.
    */
  private[engine] def typedInListKeys(table: String, column: String,
      lits: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    if (lits.isEmpty || !lits.forall(_.isInstanceOf[Literal])) return None
    val rendered: Seq[Option[Option[String]]] =
      lits.map(_.asInstanceOf[Literal]).map { l =>
        if (l.value == null) Some(None)
        else typedLitKey(table, column, l).map(k => Some(k))
      }
    if (rendered.exists(_.isEmpty)) None
    else Some(rendered.flatten.flatten.distinct)
  }

  /** A numeric literal's value (DECIMAL literals included). */
  private[engine] def litDouble(
      l: org.apache.spark.sql.catalyst.expressions.Literal): Option[Double] =
    l.value match {
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case n: Number                             => Some(n.doubleValue())
      case _                                     => None
    }

  /** A bare column reference's name. */
  private[engine] def attrName(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] =
    e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.last)
      case _ => None
    }

  /** (column, p) of `percentile(col, p)` — or its approx spellings — or
    * `median(col)`; None for any other call.
    */
  private[engine] def percentileArg(
      f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction)
      : Option[(String, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    (f.nameParts.last.toLowerCase, f.arguments) match {
      case ("percentile" | "percentile_approx" | "approx_percentile",
          Seq(a: UnresolvedAttribute, l: Literal)) =>
        litDouble(l).map(p => (a.nameParts.last, p))
      case ("median", Seq(a: UnresolvedAttribute)) =>
        Some((a.nameParts.last, 0.5))
      case _ => None
    }
  }

  /** If the query is a bare global aggregate over `table` whose every
    * output is PERCENTILE(attr, p) / MEDIAN(attr) with a fresh stored
    * `grid` sketch for attr ("histogram" or "hdr"), answer all of them
    * by interpolation from the catalog — zero table scan. The reported
    * error is the grid's value error: one bucket width as a fraction
    * of the equi-width grid, or the log grid's 1/m RELATIVE bound (the
    * heavy-tailed-column case, where one equi-width bucket can swallow
    * 99% of the mass and the absolute bound degenerates). An EMPTY
    * column serves NULL exactly like exact execution over zero rows.
    */
  private[engine] def storedPercentileAnswer[K, G <: graft.sketch.BucketGrid[K]](
      grid: graft.sketch.BucketGrid.Kind[K, G])(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[(DataFrame, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.functions.lit
    parsed match {
      case Project(outs, r: UnresolvedRelation)
          if r.multipartIdentifier.last.equalsIgnoreCase(table) =>
        val answered = outs.map {
          case Alias(f: UnresolvedFunction, name)
              if !f.isDistinct && f.filter.isEmpty =>
            percentileArg(f).flatMap { case (c, p) =>
              catalog.getSketch(table, c, grid.sketchType)
                .filter(sketchIsFresh(table, _)).map { s =>
                val h = grid.deserialize(s.data)
                (name, h.quantile(p), h.valueErr)
              }
            }
          case _ => None
        }
        if (answered.nonEmpty && answered.forall(_.isDefined)) {
          val vals = answered.flatten
          val cols = vals.map { case (n, v, _) =>
            v.map(lit(_)).getOrElse(lit(null)
              .cast(org.apache.spark.sql.types.DoubleType)).as(n)
          }
          Some((oneRow(cols: _*), vals.map(_._3).max))
        } else None
      case _ => None
    }
  }

  /** If the query is `SELECT count(*)/sum(x)/avg(x)/percentile(x,p)...
    * FROM table WHERE <range on x>` — one NUMERIC column under
    * >=/>/<=/< literal bounds (BETWEEN parses to the same conjunction;
    * one- or two-sided) — and a fresh stored `grid` sketch covers x,
    * answer by interpolation over the bucket grid with NO scan: fully
    * covered buckets exact, the boundary buckets fractional
    * (`rangeCount`; on the log grid the zero bucket's point mass is
    * charged whenever a range bound sits AT 0). SUM/AVG additionally
    * need the grid's sum rider ("histsum" / "hdrsum": per-bucket exact
    * decimal sums): interior sums add exactly (unscaled decimal
    * addition, one cast to double), boundary buckets contribute their
    * covered fraction, and AVG is one division of the two estimates.
    * The honest error bound is the boundary buckets' mass (count or
    * |sum|) over the estimate — the truth can differ by at most the
    * buckets the range edges cut through (strict vs inclusive bounds
    * differ only by point mass at the edge, inside those same
    * buckets); AVG reports the first-order combination of both,
    * percentiles the grid's value error plus the boundary mass's
    * rank-shift fraction. The serve engages only when the worst
    * output's ratio fits the caller's budget. Rows with NULL x fail
    * the predicate and are outside the sketch alike.
    */
  private[engine] def storedRangeAnswer[K, G <: graft.sketch.BucketGrid[K]](
      grid: graft.sketch.BucketGrid.Kind[K, G])(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[(DataFrame, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.functions.lit
    sealed trait ROut { def name: String }
    case class CntOut(name: String) extends ROut
    case class SumOut(name: String, col: String) extends ROut
    case class AvgOut(name: String, col: String) extends ROut
    case class PctOut(name: String, col: String, p: Double) extends ROut
    parsed match {
      case Project(outs, Filter(cond, r: UnresolvedRelation))
          if r.multipartIdentifier.last.equalsIgnoreCase(table) &&
            outs.nonEmpty =>
        val classified = outs.map {
          case Alias(f: UnresolvedFunction, name)
              if !f.isDistinct && f.filter.isEmpty =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", Seq(Literal(v: Number, _))) if v.intValue == 1 =>
                Some(CntOut(name))
              case ("count", Seq(_: UnresolvedStar)) => Some(CntOut(name))
              case ("sum", Seq(a: UnresolvedAttribute)) =>
                Some(SumOut(name, a.nameParts.last))
              case ("avg" | "mean", Seq(a: UnresolvedAttribute)) =>
                Some(AvgOut(name, a.nameParts.last))
              // percentile RESTRICTED to the range: the clipped bucket
              // masses bracket the rank (rangePercentile)
              case _ => percentileArg(f).map { case (c, p) => PctOut(name, c, p) }
            }
          case _ => None
        }
        if (classified.exists(_.isEmpty)) return None
        val parts = classified.flatten
        val (c, lowerB, upperB) = rangeBounds(cond).getOrElse(return None)
        // SUM/AVG/PERCENTILE serve only over the RANGE column itself
        // (the sketch and its sum rider model exactly that column)
        if (parts.exists {
          case SumOut(_, cc)    => !cc.equalsIgnoreCase(c)
          case AvgOut(_, cc)    => !cc.equalsIgnoreCase(c)
          case PctOut(_, cc, _) => !cc.equalsIgnoreCase(c)
          case _                => false
        }) return None
        if (!numericColumn(table, c)) return None
        val h = catalog.getSketch(table, c, grid.sketchType)
          .filter(sketchIsFresh(table, _))
          .map(s => grid.deserialize(s.data))
          .getOrElse(return None)
        val (cntEst, cntBoundary) = h.rangeCount(lowerB, upperB)
        val cntRel = cntBoundary.toDouble / math.max(1.0, cntEst)
        val needSums = parts.exists {
          case _: SumOut | _: AvgOut => true
          case _                     => false
        }
        val (sumEst, sumRel): (Option[Double], Double) =
          if (!needSums) (None, 0.0)
          else if (!riderInSync(table, c, grid.sketchType, grid.sumType))
            return None // rider a batch behind the counts: refuse sums
          else {
            val sums = catalog.getSketch(table, c, grid.sumType)
              .filter(sketchIsFresh(table, _))
              .flatMap(s => grid.riderSums(s.data))
              .filter(h.riderCovers)
              .getOrElse(return None)
            h.rangeSum(lowerB, upperB, k => sums.getOrElse(k, BigInt(0)))
          }
        val avgEst: Option[Double] =
          if (cntEst > 0.0) sumEst.map(_ / cntEst) else None
        val cols = parts.map {
          case CntOut(n) => lit(cntEst).as(n)
          case SumOut(n, _) =>
            sumEst.map(lit(_)).getOrElse(lit(null).cast("double")).as(n)
          case AvgOut(n, _) =>
            avgEst.map(lit(_)).getOrElse(lit(null).cast("double")).as(n)
          case PctOut(n, _, p) =>
            h.rangePercentile(lowerB, upperB, p)
              .map(lit(_)).getOrElse(lit(null).cast("double")).as(n)
        }
        val err = parts.map {
          case _: CntOut => cntRel
          case _: SumOut => sumRel
          case _: AvgOut => cntRel + sumRel
          case _: PctOut => h.valueErr + cntRel
        }.foldLeft(0.0)(math.max)
        Some((oneRow(cols: _*), err))
      case _ => None
    }
  }

  /** Parse `cond` as a conjunction of literal comparisons (>=/>/<=/<,
    * both operand orders) on a SINGLE column — the range-predicate
    * shape behind the histogram range serves and their advisor misses.
    * Some((column, lower, upper)) with at most one bound per side and
    * at least one bound; None on any other conjunct, a second column,
    * or stacked bounds.
    */
  private[engine] def rangeBounds(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, Option[Double], Option[Double])] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
    val sides = conjunctsOf(cond).map {
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        litDouble(l).map(v => (a.nameParts.last, true, v))
      case GreaterThan(a: UnresolvedAttribute, l: Literal) =>
        litDouble(l).map(v => (a.nameParts.last, true, v))
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        litDouble(l).map(v => (a.nameParts.last, false, v))
      case LessThan(a: UnresolvedAttribute, l: Literal) =>
        litDouble(l).map(v => (a.nameParts.last, false, v))
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        litDouble(l).map(v => (a.nameParts.last, false, v))
      case GreaterThan(l: Literal, a: UnresolvedAttribute) =>
        litDouble(l).map(v => (a.nameParts.last, false, v))
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        litDouble(l).map(v => (a.nameParts.last, true, v))
      case LessThan(l: Literal, a: UnresolvedAttribute) =>
        litDouble(l).map(v => (a.nameParts.last, true, v))
      case _ => None
    }
    if (sides.isEmpty || sides.exists(_.isEmpty)) return None
    val bs = sides.flatten
    if (bs.map(_._1.toLowerCase).distinct.sizeIs != 1) return None
    val lowers = bs.filter(_._2).map(_._3)
    val uppers = bs.filterNot(_._2).map(_._3)
    if (lowers.sizeIs > 1 || uppers.sizeIs > 1) return None
    Some((bs.head._1, lowers.headOption, uppers.headOption))
  }

  /** Whether `c` is a numeric column of `table` — the gate the range
    * serves apply before trusting a histogram over it. */
  private[engine] def numericColumn(table: String, c: String): Boolean =
    spark.table(table).schema.fields.exists(fld =>
      fld.name.equalsIgnoreCase(c) &&
        fld.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])

  /** Grouped twin of [[storedRangeAnswer]]: `SELECT g..., count(*) [,
    * sum(x)/avg(x)/percentile(x, p)...] FROM table WHERE <range on x>
    * GROUP BY g...` answers each RECORDED group's estimate from its own
    * sketch in a fresh grouped `grid` blob ("histogram_grouped" /
    * "hdr_grouped") whose value column is x and group set is the
    * query's — per-group interpolation, zero scan. Percentile outputs
    * run the grid's range-percentile segment rule per group over that
    * group's clipped bucket masses; they must target the range column
    * itself. SUM/AVG outputs additionally need the grid's grouped sum
    * rider (per-(group, bucket) exact decimal sums — the q106/q148
    * arithmetic per group): interior buckets add exactly (unscaled
    * decimal addition, one cast to double), boundary buckets
    * contribute their covered fraction, AVG is one division of the two
    * per-group estimates. RESIDUAL equality/IN conjuncts on non-group
    * columns dispatch to the COMPOSITE blob keyed by group ∪ residual
    * columns and PRUNE on the residual components — `WHERE a = 'x' AND
    * <range> GROUP BY b` serves from an "a,b" blob; surviving cells of
    * one output group merge (on the equi-width grid only when they
    * share one grid; the global log grid always merges exactly, and
    * there a SUPERSET blob's marginal serves counts/percentiles too).
    * Rider cells pair with sketch cells: a missing rider cell or the
    * grid's overflow poison under a massy cell refuses the serve
    * rather than serve a silent zero, and all-NULL cells (empty
    * payloads) are never consulted. Contract: one row per recorded
    * group with estimated in-range mass > 0 (a group with true matches
    * always has mass > 0 — its rows' buckets overlap the range — so no
    * group exact execution returns is dropped; extra near-range groups
    * may appear, the approximate-count contract like the global case).
    * The reported error is the WORST group's boundary-mass ratio per
    * output kind (AVG the first-order combination of count and sum),
    * plus the grid's value error when percentiles are served. Keys
    * serve typed (keyFieldTypes).
    */
  private[engine] def storedGroupedRangeAnswer[K, G <: graft.sketch.BucketGrid[K]](
      grid: graft.sketch.BucketGrid.Kind[K, G])(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[(DataFrame, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    parsed match {
      case Aggregate(gs, outs, Filter(cond, r: UnresolvedRelation), _)
          if r.multipartIdentifier.last.equalsIgnoreCase(table) &&
            gs.nonEmpty && gs.forall(_.isInstanceOf[UnresolvedAttribute]) =>
        val gNames = gs.map(_.asInstanceOf[UnresolvedAttribute].nameParts.last)
        val lower = gNames.map(_.toLowerCase)
        // outputs: the group keys plus any mix of count(*), sum(x),
        // avg(x), and percentile(x, p)/median(x) over the RANGE column
        sealed trait AggOut
        case object CntA extends AggOut
        case object SumA extends AggOut
        case object AvgA extends AggOut
        case class PctA(p: Double) extends AggOut
        var sawAgg = false
        // every value-anchored aggregate (sum/avg/percentile) must
        // target ONE column — checked against the range column below
        var valCol: Option[String] = None
        def anchor(cc: String): Boolean =
          if (valCol.forall(_.equalsIgnoreCase(cc))) { valCol = Some(cc); true }
          else false
        val parts: Seq[Either[(String, Int), (String, AggOut)]] =
          outs.map {
            case a: UnresolvedAttribute
                if lower.contains(a.nameParts.last.toLowerCase) =>
              Left((a.nameParts.last,
                lower.indexOf(a.nameParts.last.toLowerCase)))
            case Alias(e, name)
                if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
              Left((name, lower.indexOf(attrName(e).orElse(exprKeyName(e)).get.toLowerCase)))
            case Alias(f: UnresolvedFunction, name)
                if f.nameParts.last.equalsIgnoreCase("count") &&
                  !f.isDistinct && f.filter.isEmpty && (f.arguments match {
                    case Seq(Literal(v: Number, _)) => v.intValue == 1
                    case Seq(_: UnresolvedStar)     => true
                    case _                          => false
                  }) =>
              sawAgg = true; Right((name, CntA))
            case Alias(f: UnresolvedFunction, name)
                if !f.isDistinct && f.filter.isEmpty &&
                  Set("sum", "avg", "mean").contains(
                    f.nameParts.last.toLowerCase) =>
              f.arguments match {
                case Seq(a: UnresolvedAttribute)
                    if anchor(a.nameParts.last) =>
                  sawAgg = true
                  Right((name,
                    if (f.nameParts.last.equalsIgnoreCase("sum")) SumA
                    else AvgA))
                case _ => return None
              }
            case Alias(f: UnresolvedFunction, name)
                if !f.isDistinct && f.filter.isEmpty =>
              percentileArg(f) match {
                case Some((cc, p)) if anchor(cc) =>
                  sawAgg = true; Right((name, PctA(p)))
                case _ => return None
              }
            case _ => return None
          }
        if (!sawAgg ||
            parts.collect { case Left((_, i)) => i }.toSet !=
              gNames.indices.toSet) return None
        // the one-column numeric range parse, tolerating RESIDUAL
        // equality/IN conjuncts on NON-group columns: each contributes
        // a VALUE LIST (a singleton for an equality, several for an
        // all-literal IN) and the entries matching any combination
        // merge per output group below
        val (cmps, eqsRaw) = conjunctsOf(cond).partition {
          case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
               _: LessThanOrEqual => true
          case _ => false
        }
        if (cmps.isEmpty) return None
        val (c, lowerB, upperB) = rangeBounds(cmps.reduce(
          org.apache.spark.sql.catalyst.expressions.And))
          .getOrElse(return None)
        if (lower.contains(c.toLowerCase)) return None // that's a WHERE on the key
        if (!numericColumn(table, c)) return None
        // sums/averages/percentiles serve only over the range column
        if (valCol.exists(!_.equalsIgnoreCase(c))) return None
        val resid: Seq[(String, Seq[String])] =
          if (eqsRaw.isEmpty) Nil
          else residualEqualityFilter(eqsRaw.reduce(
            org.apache.spark.sql.catalyst.expressions.And), table, gNames)
            .getOrElse(return None)
        if (resid.exists(_._1.equalsIgnoreCase(c))) return None
        val lookupCols = gNames ++ resid.map(_._1)
        val kTypes = keyFieldTypes(table, gNames).getOrElse(return None)
        val needSums = parts.exists {
          case Right((_, SumA | AvgA)) => true
          case _                       => false
        }
        // SUM/AVG need the rider's cells PAIRED with sketch cells (to
        // tell overflow poison from all-NULL), so they require the
        // exact key-set blob
        val exactBlob = groupedBlobFor(table, c, grid.groupedType, lookupCols)
        val blob =
          if (needSums || !grid.rangeMarginals) exactBlob
          else exactBlob.orElse(partialGroupedBlobFor(table, c,
            grid.groupedType, lookupCols, Nil, grid.mergeBytes))
        blob.map { full =>
          // per-cell rider sums (None = the grid's overflow poison); a
          // missing or batch-behind rider with SUM/AVG outputs refuses
          val sumsByKey: Map[Seq[Option[String]], Option[Map[K, BigInt]]] =
            if (!needSums) Map.empty
            else if (!riderInSync(table, c, grid.groupedType,
                grid.groupedSumType))
              return None // rider a batch behind the counts
            else groupedBlobFor(table, c, grid.groupedSumType, lookupCols) match {
              case Some(se) => se.map { case (k, inner) =>
                  k -> grid.riderSums(inner) }.toMap
              case None => return None
            }
          // prune on the residual components (typed literal match — any
          // value in each conjunct's list); the serve emits gs-prefix
          // keys, several residual combinations MERGE per output group,
          // and sum lookups use the FULL tuple
          val entries: Seq[(Seq[Option[String]], Array[Byte])] =
            full.collect {
              case (k, b) if resid.zipWithIndex.forall { case ((_, vs), i) =>
                  k(gNames.size + i).exists(vs.contains) } =>
                (k, b)
            }
          val byPrefix = entries.groupBy(_._1.take(gNames.size)).toSeq
            .sortBy(_._1.map(_.getOrElse("")).mkString("\u0000"))
          val served = byPrefix.flatMap { case (pk, es) =>
            val merged = es.map(_._2).reduce(grid.mergeBytes)
            if (merged.isEmpty) None // all-NULL cell(s): no row passes
            else {
              val h = grid.deserialize(merged)
              val (est, bnd) = h.rangeCount(lowerB, upperB)
              if (est <= 0.0) {
                // boundary-ONLY mass (e.g. the zero bucket sitting AT a
                // range bound): the truth may include this group — on
                // the log grid dropping the row would silently
                // understate the result AND its error, so it refuses
                if (bnd > 0L && grid.boundaryOnlyRefuses) return None
                None
              } else {
                // riders of the merged cells add EXACTLY (BigInt)
                val (sumEst, sumRel): (Option[Double], Double) =
                  if (!needSums) (None, 0.0)
                  else {
                    var bs = Map.empty[K, BigInt]
                    es.foreach { case (k, b) =>
                      if (b.nonEmpty) sumsByKey.get(k) match {
                        case None       => return None // rider lacks the cell
                        case Some(None) => return None // overflow poison
                        case Some(Some(m0)) => m0.foreach { case (kk, v0) =>
                          bs = bs.updated(kk,
                            bs.getOrElse(kk, BigInt(0)) + v0)
                        }
                      }
                    }
                    h.rangeSum(lowerB, upperB,
                      kk => bs.getOrElse(kk, BigInt(0)))
                  }
                Some((pk, h, est, bnd.toDouble / math.max(1.0, est),
                  sumEst, sumRel))
              }
            }
          }
          val rows = served.map { case (k, h, est, _, sumEst, _) =>
            org.apache.spark.sql.Row.fromSeq(parts.map {
              case Left((_, i))        => typedKeyValue(kTypes(i), k(i))
              case Right((_, CntA))    => Double.box(est)
              case Right((_, SumA))    => sumEst.map(Double.box).orNull
              case Right((_, AvgA))    =>
                sumEst.map(s0 => Double.box(s0 / est)).orNull
              case Right((_, PctA(p))) =>
                h.rangePercentile(lowerB, upperB, p)
                  .map(Double.box).orNull
            })
          }
          val schema = StructType(parts.map {
            case Left((n, i)) => StructField(n, kTypes(i), nullable = true)
            case Right((n, a)) =>
              StructField(n, DoubleType, nullable = a != CntA)
          })
          import scala.jdk.CollectionConverters._
          val maxCnt = served.map(_._4).foldLeft(0.0)(math.max)
          val maxSum = served.map(_._6).foldLeft(0.0)(math.max)
          val valueErr = served.map(_._2.valueErr).foldLeft(0.0)(math.max)
          val err = parts.map {
            case Right((_, CntA))    => maxCnt
            case Right((_, SumA))    => maxSum
            case Right((_, AvgA))    => maxCnt + maxSum
            case Right((_, PctA(_))) => valueErr + maxCnt
            case Left(_)             => 0.0
          }.foldLeft(0.0)(math.max)
          (spark.createDataFrame(rows.asJava, schema), err)
        }
      case _ => None
    }
  }

  /** FILTERED-range serve (round 10 fifth pass): `SELECT count(*) /
    * sum(v) / avg(v) / percentile(v, p) FROM t WHERE g = 'x' [AND h =
    * 'y' ...] AND <range on v>` — the dashboard shape that mixes a
    * group filter with a numeric band. The predicate splits into
    * equality conjuncts on distinct group columns (or ONE all-literal
    * IN list on a single column) plus the usual one-column range; the
    * named group(s)' histograms in the `histogram_grouped` blob keyed
    * by exactly those columns answer by the global range arithmetic —
    * counts from clipped bucket masses, sums from the histsum_grouped
    * rider (interior exact decimal addition, boundary fractional),
    * percentiles by the q111 segment rule. IN-lists merge several
    * groups first: bucket counts add and rider sums add EXACTLY, but
    * only on a shared grid (differing per-group grids refuse, like
    * every other cross-group merge). Literals naming no recorded
    * group contribute zero rows — the same empty answer exact
    * execution returns (count 0, SUM/AVG/percentile NULL). Error =
    * the merged boundary-mass ratios per output kind, plus one bucket
    * width for percentiles.
    */
  private[engine] def storedFilteredRangeAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[(DataFrame, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.functions.lit
    sealed trait ROut { def name: String }
    case class CntOut(name: String) extends ROut
    case class SumOut(name: String, col: String) extends ROut
    case class AvgOut(name: String, col: String) extends ROut
    case class PctOut(name: String, col: String, p: Double) extends ROut
    parsed match {
      case Project(outs, Filter(cond, r: UnresolvedRelation))
          if r.multipartIdentifier.last.equalsIgnoreCase(table) &&
            outs.nonEmpty =>
        val classified = outs.map {
          case Alias(f: UnresolvedFunction, name)
              if !f.isDistinct && f.filter.isEmpty =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", Seq(Literal(v: Number, _))) if v.intValue == 1 =>
                Some(CntOut(name))
              case ("count", Seq(_: UnresolvedStar)) => Some(CntOut(name))
              case ("sum", Seq(a: UnresolvedAttribute)) =>
                Some(SumOut(name, a.nameParts.last))
              case ("avg" | "mean", Seq(a: UnresolvedAttribute)) =>
                Some(AvgOut(name, a.nameParts.last))
              case _ => percentileArg(f).map { case (c, p) => PctOut(name, c, p) }
            }
          case _ => None
        }
        if (classified.exists(_.isEmpty)) return None
        val parts = classified.flatten
        // split the conjunction: comparisons (the range) vs equality /
        // IN conjuncts (the group filter); anything else refuses
        val conj = conjunctsOf(cond)
        def isCmp(e: Expression): Boolean = e match {
          case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
               _: LessThanOrEqual => true
          case _ => false
        }
        val (cmps, eqsRaw) = conj.partition(isCmp)
        if (cmps.isEmpty || eqsRaw.isEmpty) return None
        val (c, lowerB, upperB) = rangeBounds(
          cmps.reduce(org.apache.spark.sql.catalyst.expressions.And))
          .getOrElse(return None)
        if (!numericColumn(table, c)) return None
        // value-anchored outputs must target the range column
        val vCols = parts.collect {
          case SumOut(_, cc) => cc
          case AvgOut(_, cc) => cc
          case PctOut(_, cc, _) => cc
        }
        if (vCols.exists(!_.equalsIgnoreCase(c))) return None
        // group filter: distinct-column equalities (one composite key)
        // or ONE IN list (several single-column keys)
        val colKeys: (Seq[String], Seq[Seq[Option[String]]]) = eqsRaw match {
          case Seq(In(a: UnresolvedAttribute, lits)) =>
            typedInListKeys(table, a.nameParts.last, lits)
              .map(ks => (Seq(a.nameParts.last), ks.map(k => Seq(Some(k)))))
              .getOrElse(return None)
          case es =>
            val parsedEqs = es.map {
              case EqualTo(a: UnresolvedAttribute, l: Literal) =>
                typedLitKey(table, a.nameParts.last, l)
                  .map((a.nameParts.last, _))
              case EqualTo(l: Literal, a: UnresolvedAttribute) =>
                typedLitKey(table, a.nameParts.last, l)
                  .map((a.nameParts.last, _))
              case _ => None
            }
            if (parsedEqs.exists(_.isEmpty)) return None
            val flat = parsedEqs.flatten
            val cols = flat.map(_._1)
            if (cols.map(_.toLowerCase).distinct.sizeIs != cols.size)
              return None // a column equated twice
            if (cols.exists(_.equalsIgnoreCase(c))) return None
            (cols, Seq(flat.map(e => Some(e._2))))
        }
        val (gCols, selKeys) = colKeys
        if (gCols.exists(_.equalsIgnoreCase(c))) return None
        val needSums = parts.exists {
          case _: SumOut | _: AvgOut => true
          case _                     => false
        }
        groupedBlobFor(table, c, "histogram_grouped", gCols).flatMap { entries =>
          val m = entries.toMap
          val selected = selKeys.flatMap(k => m.get(k).map(k -> _))
          val hs = selected.collect { case (_, b) if b.nonEmpty =>
            graft.sketch.Histogram.deserialize(b) }
          // 2+ groups merge only on a shared grid (counts add; the
          // rider's sums add on the same buckets)
          if (hs.sizeIs > 1 && !hs.forall(h => h.lo == hs.head.lo &&
              h.width == hs.head.width && h.buckets == hs.head.buckets))
            return None
          val sums: Map[Int, BigInt] =
            if (!needSums || hs.isEmpty) Map.empty
            else if (!riderInSync(table, c, "histogram_grouped",
                "histsum_grouped"))
              return None // rider a batch behind the counts
            else groupedBlobFor(table, c, "histsum_grouped", gCols) match {
              case None => return None
              case Some(se) =>
                val sm = se.toMap
                var acc = Map.empty[Int, BigInt]
                selected.foreach { case (k, b) =>
                  if (b.nonEmpty) sm.get(k) match {
                    case None => return None // rider lacks the group
                    case Some(inner) =>
                      graft.sketch.Histogram.riderSums(inner)
                        .getOrElse(return None) // overflow poison
                        .foreach { case (i, v0) =>
                          acc = acc.updated(i, acc.getOrElse(i, BigInt(0)) + v0)
                        }
                  }
                }
                acc
            }
          val hOpt = hs.reduceOption(_ merge _)
          val (cntEst, cntRel) = hOpt match {
            case None => (0.0, 0.0) // no recorded group: zero rows
            case Some(h) =>
              val (est, bnd) = h.rangeCount(lowerB, upperB)
              (est, bnd / math.max(1.0, est))
          }
          val (sumEst, sumRel): (Option[Double], Double) = hOpt match {
            case Some(h) if needSums =>
              h.rangeSum(lowerB, upperB, i => sums.getOrElse(i, BigInt(0)))
            case _ => (None, 0.0)
          }
          val avgEst: Option[Double] =
            if (cntEst > 0.0) sumEst.map(_ / cntEst) else None
          val cols = parts.map {
            case CntOut(n) => lit(cntEst).as(n)
            case SumOut(n, _) =>
              sumEst.map(lit(_)).getOrElse(lit(null).cast("double")).as(n)
            case AvgOut(n, _) =>
              avgEst.map(lit(_)).getOrElse(lit(null).cast("double")).as(n)
            case PctOut(n, _, p) =>
              hOpt.flatMap(_.rangePercentile(lowerB, upperB, p))
                .map(lit(_)).getOrElse(lit(null).cast("double")).as(n)
          }
          val bucketTerm =
            if (parts.exists(_.isInstanceOf[PctOut]))
              hOpt.map(h => 1.0 / h.buckets).getOrElse(0.0)
            else 0.0
          val err = parts.map {
            case _: CntOut => cntRel
            case _: SumOut => sumRel
            case _: AvgOut => cntRel + sumRel
            case _: PctOut => bucketTerm + cntRel
          }.foldLeft(0.0)(math.max)
          Some((oneRow(cols: _*), err))
        }
      case _ => None
    }
  }

  /** If the query is a bare global aggregate over `table` whose every
    * output is MIN/MAX/COUNT/SUM/AVG of a column carrying a fresh
    * stored histogram with recorded build statistics (min/max/nnull/
    * sum4 in params — SketchOps.createHistogram since round 8), answer
    * ALL of them from the catalog — zero scan, zero error (exact as of
    * sketch build; the freshness guard retires stale stats). COUNT(*)
    * is answered from the recorded table rowcount but only RIDES ALONG
    * with at least one column-anchored statistic: a lone `SELECT
    * count(*)` keeps its sampling semantics (and its bench window).
    * AVG is served as sum4/nnull — one double division of two recorded
    * exacts, the same bit-portable form the oracle derives.
    */
  private[engine] def storedStatsAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.functions.lit
    // sx: build-time proof the recorded doubles round-trip the column's
    // exact values (SketchOps.createHistogram) — without it the "no
    // scan, exact" label would be a lie for bigints beyond 2^53 or wide
    // decimals. sx gates MIN/MAX/SUM/AVG; COUNT serves regardless (the
    // recorded nnull/rows are exact longs whatever the column type).
    case class Stats(min: Double, max: Double, nnull: Long,
        sum4: Option[Double], rows: Long, sx: Boolean)
    def statsFor(c: String): Option[Stats] =
      catalog.getSketch(table, c, "histogram")
        .filter(sketchIsFresh(table, _))
        .flatMap { s =>
          for {
            mn <- s.param("min")
            mx <- s.param("max")
            nn <- s.paramLong("nnull")
            rw <- s.paramLong("rows")
          } yield Stats(java.lang.Double.parseDouble(mn),
            java.lang.Double.parseDouble(mx), nn,
            s.param("sum4").map(java.lang.Double.parseDouble), rw,
            s.param("sx").contains("true"))
        }
    def isCountStar(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      args match {
        case Seq(_: UnresolvedStar) => true
        case Seq(Literal(v: Number, _)) => v.intValue == 1
        case _ => false
      }
    parsed match {
      case Project(outs, r: UnresolvedRelation)
          if r.multipartIdentifier.last.equalsIgnoreCase(table) =>
        // Left(name -> column answer), rides = count(*) outputs
        var anchored = 0
        var countStars = List.empty[String]
        val answered = outs.map {
          case Alias(f: UnresolvedFunction, name)
              if !f.isDistinct && f.filter.isEmpty =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", args) if isCountStar(args) =>
                countStars ::= name
                Some(None) // resolved later from any anchored sketch
              case (fn, Seq(a: UnresolvedAttribute))
                  if Set("min", "max", "count", "sum", "avg", "mean")(fn) =>
                statsFor(a.nameParts.last)
                  // COUNT needs no exactness proof; everything else
                  // serves only under the build-time sx flag (and a
                  // recorded sum, which an overflowed build omits)
                  .filter(st => fn == "count" ||
                    (st.sx && (Set("min", "max")(fn) || st.sum4.isDefined)))
                  .map { st =>
                    anchored += 1
                    Some(name -> (fn match {
                      case "min"          => lit(st.min)
                      case "max"          => lit(st.max)
                      case "count"        => lit(st.nnull)
                      case "sum"          => lit(st.sum4.get)
                      case "avg" | "mean" => lit(st.sum4.get / st.nnull.toDouble)
                    }))
                  }
              case _ => None
            }
          case _ => None
        }
        if (answered.exists(_.isEmpty) || anchored == 0) return None
        // count(*) rides from the rows recorded by any consulted fresh
        // sketch (freshness pins them all to the same base rowcount)
        val rows = outs.collectFirst {
          case Alias(f: UnresolvedFunction, _)
              if !f.isDistinct && f.filter.isEmpty &&
                !isCountStar(f.arguments) =>
            f.arguments.collectFirst { case a: UnresolvedAttribute =>
              statsFor(a.nameParts.last).map(_.rows)
            }.flatten
        }.flatten
        if (countStars.nonEmpty && rows.isEmpty) return None
        val cols = outs.zip(answered).map {
          case (_, Some(Some((n, c)))) => c.as(n)
          case (o, Some(None)) =>
            lit(rows.get).as(o.asInstanceOf[Alias].name)
          case _ => return None
        }
        Some(oneRow(cols: _*))
      case _ => None
    }
  }

  /** A dispatchable predicate on a grouped blob's (single) group-key
    * component. `KeyIn` holds the typed literal renderings of an
    * equality / IN-list filter; `KeyLongRange` a comparison range over
    * an INTEGRAL group column, evaluated on the key parsed back
    * through the bijective cast-to-string (the typed-key contract) —
    * so pruning recorded keys by the predicate selects EXACTLY the
    * groups exact execution would keep. A NULL key component never
    * matches either form (SQL comparison semantics: `g = lit`,
    * `g IN (...)`, and `g >= lit` are all UNKNOWN on NULL).
    */
  private[engine] sealed trait KeyPred {
    def matches(k: Option[String]): Boolean
  }
  private[engine] case class KeyIn(keys: Seq[String]) extends KeyPred {
    override def matches(k: Option[String]): Boolean = k.exists(keys.contains)
  }
  private[engine] case class KeyLongRange(
      lo: Option[(Long, Boolean)], hi: Option[(Long, Boolean)],
      decode: String => Option[Long])
      extends KeyPred {
    override def matches(k: Option[String]): Boolean =
      k.flatMap(decode).exists { v =>
        lo.forall { case (b, inc) => if (inc) v >= b else v > b } &&
        hi.forall { case (b, inc) => if (inc) v <= b else v < b }
      }
  }

  /** A comparison literal against a group-key column, widened to the
    * column's Long ORDINAL — the pairings where comparing the
    * parsed-back key against the literal is exactly the column
    * comparison: integral-on-integral (the value itself); a TIMESTAMP
    * literal (Catalyst stores epoch micros) or an ISO date / datetime
    * STRING literal against a timestamp column (micros in the session
    * zone — exactly the cast ANSI comparison applies); a DATE literal
    * (epoch days) or ISO date string against a date column. Free-form
    * strings, floats, and cross-type pairings refuse.
    */
  /** Data type of a group-key spec — a schema column, or (round 10)
    * an EXPRESSION key resolved by analysis (to_date(ts) -> DATE), so
    * key-range dispatch covers the time-bucket keys too.
    */
  private[engine] def keyColumnType(table: String, column: String)
      : Option[org.apache.spark.sql.types.DataType] =
    scala.util.Try(spark.table(table).schema
      .find(_.name.equalsIgnoreCase(column)).map(_.dataType)).toOption
      .flatten
      .orElse(scala.util.Try(
        spark.table(table).selectExpr(column).schema.head.dataType).toOption)

  private[engine] def keyOrdinalLit(table: String, column: String,
      l: org.apache.spark.sql.catalyst.expressions.Literal): Option[Long] = {
    import org.apache.spark.sql.types._
    val dt = keyColumnType(table, column)
    def sessionMicros(s: String): Option[Long] = scala.util.Try {
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      val ldt =
        if (s.contains(" ") || s.contains("T"))
          java.time.LocalDateTime.parse(s.replaceFirst(" ", "T"))
        else java.time.LocalDate.parse(s).atStartOfDay()
      val i = ldt.atZone(zone).toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }.toOption
    (dt, l.value) match {
      case (Some(ByteType | ShortType | IntegerType | LongType),
            n @ (_: java.lang.Integer | _: java.lang.Long |
                 _: java.lang.Short | _: java.lang.Byte)) =>
        Some(n.asInstanceOf[Number].longValue())
      case (Some(TimestampType), micros: java.lang.Long)
          if l.dataType == TimestampType =>
        Some(micros)
      case (Some(TimestampType), s: org.apache.spark.unsafe.types.UTF8String)
          if l.dataType == StringType =>
        sessionMicros(s.toString)
      case (Some(DateType), days: java.lang.Integer)
          if l.dataType == DateType =>
        Some(days.toLong)
      case (Some(DateType), s: org.apache.spark.unsafe.types.UTF8String)
          if l.dataType == StringType =>
        scala.util.Try(
          java.time.LocalDate.parse(s.toString).toEpochDay).toOption
      case _ => None
    }
  }

  /** The key-string decoder matching [[keyOrdinalLit]]'s ordinal space
    * for a group-key column: parsed-back integral value; epoch days
    * for dates; session-zone epoch micros for timestamps. None for
    * types key ranges don't dispatch on.
    */
  private[engine] def keyOrdinalDecoder(table: String, column: String)
      : Option[String => Option[Long]] = {
    import org.apache.spark.sql.types._
    val dt = keyColumnType(table, column)
    dt.collect {
      case ByteType | ShortType | IntegerType | LongType =>
        (s: String) => scala.util.Try(s.toLong).toOption
      case DateType =>
        (s: String) => scala.util.Try(
          java.sql.Date.valueOf(s).toLocalDate.toEpochDay).toOption
      // timestamp ordinals share the serve gate: in a DST zone the
      // local rendering is ambiguous, so range pruning on parsed-back
      // micros could keep/drop the wrong instant — no decoder, the
      // whole key-range dispatch refuses to the scan
      case TimestampType if sessionZoneFixedOffset =>
        (s: String) => scala.util.Try {
          val zone = java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone)
          val i = java.time.LocalDateTime.parse(s.replaceFirst(" ", "T"))
            .atZone(zone).toInstant
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }.toOption
    }
  }

  /** Parse a conjunction of >=/>/<=/< comparisons between the single
    * group column and integral / date / timestamp literals (widened
    * to the column's Long ordinal) into a [[KeyLongRange]] —
    * `WHERE g BETWEEN a AND b` (which the parser lowers to two
    * comparisons), one-sided bounds, and redundant same-direction
    * bounds (folded to the tightest, exactly as exact execution ANDs
    * them). Any conjunct that is not such a comparison — another
    * column, a non-literal side, a type-mismatched literal — refuses.
    */
  private[engine] def keyRangePred(table: String, gName: String,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[KeyLongRange] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    // the key side may be a bare attribute OR an expression key
    // (round 10 — `to_date(ts) >= DATE '...'`): both render to the
    // canonical name the blobs are keyed on
    def isKey(e: Expression): Boolean = (e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case other                  => exprKeyName(other)
    }).exists(_.equalsIgnoreCase(gName))
    // (bound, inclusive, isLower) per conjunct, key side first
    val parts: Seq[Option[(Long, Boolean, Boolean)]] = conjuncts.map {
      case GreaterThanOrEqual(e, l: Literal) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, true, true))
      case GreaterThan(e, l: Literal) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, false, true))
      case LessThanOrEqual(e, l: Literal) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, true, false))
      case LessThan(e, l: Literal) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, false, false))
      // literal-first spellings mirror with the comparison flipped
      case GreaterThanOrEqual(l: Literal, e) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, true, false))
      case GreaterThan(l: Literal, e) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, false, false))
      case LessThanOrEqual(l: Literal, e) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, true, true))
      case LessThan(l: Literal, e) if isKey(e) =>
        keyOrdinalLit(table, gName, l).map((_, false, true))
      case _ => None
    }
    if (parts.isEmpty || parts.exists(_.isEmpty)) return None
    val ps = parts.flatten
    // fold to the tightest bound per direction: ANDed bounds keep the
    // max lower / min upper; on a tie the strict bound wins
    def tight(bs: Seq[(Long, Boolean)], lower: Boolean)
        : Option[(Long, Boolean)] =
      bs.sortBy { case (b, inc) =>
        (if (lower) -b else b, if (inc) 1 else 0)
      }.headOption
    keyOrdinalDecoder(table, gName).map(dec => KeyLongRange(
      tight(ps.collect { case (b, inc, true) => (b, inc) }, lower = true),
      tight(ps.collect { case (b, inc, false) => (b, inc) }, lower = false),
      dec))
  }

  /** For a `GROUP BY g` over `table`, optionally under `WHERE g = lit`
    * / `g IN (lits)` / an integral comparison range on g: Some(None) =
    * no filter (serve every recorded group), Some(Some(pred)) = serve
    * only the matching groups (equality/IN literals rendered
    * type-safely via typedLitKey; range bounds compared on the parsed
    * integral key — per-group grids don't merge, but a GROUP BY keeps
    * the groups separate, so a multi-group filter is just a union of
    * single-group serves). None = any other child shape (filters on
    * non-group columns, non-literal predicates, type-mismatched
    * literals): refuse, fall through to the scan path. Groups the
    * filter names but the blob doesn't record serve as no row —
    * exactly what exact GROUP BY returns for a key with no rows.
    */
  private[engine] def groupKeyFilter(
      child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String, gName: String): Option[Option[KeyPred]] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def isTable(r: UnresolvedRelation): Boolean =
      r.multipartIdentifier.last.equalsIgnoreCase(table)
    child match {
      case r: UnresolvedRelation if isTable(r) => Some(None)
      case Filter(cond, r: UnresolvedRelation) if isTable(r) =>
        val keys: Option[KeyPred] = cond match {
          case EqualTo(a: UnresolvedAttribute, l: Literal)
              if a.nameParts.last.equalsIgnoreCase(gName) =>
            typedLitKey(table, gName, l).map(k => KeyIn(Seq(k)))
          case EqualTo(l: Literal, a: UnresolvedAttribute)
              if a.nameParts.last.equalsIgnoreCase(gName) =>
            typedLitKey(table, gName, l).map(k => KeyIn(Seq(k)))
          case In(a: UnresolvedAttribute, lits)
              if a.nameParts.last.equalsIgnoreCase(gName) =>
            typedInListKeys(table, gName, lits).map(KeyIn)
          case other =>
            keyRangePred(table, gName, conjunctsOf(other))
        }
        keys.map(k => Some(k))
      case _ => None
    }
  }

  /** Decode a blob group key into its per-column components. Single-
    * column sketches key groups as the raw `cast(g as string)`
    * rendering; composite sketches key them as Spark's
    * `to_json(array(cast(g1 as string), ...))` rendering (a JSON array
    * of strings/nulls — escaping handled by to_json at build time, by
    * the JSON parser here). None = malformed key (wrong arity,
    * non-string element): the caller refuses the sketch.
    */
  private[engine] def decodeGroupKey(k: Option[String],
      n: Int): Option[Seq[Option[String]]] =
    if (n == 1) Some(Seq(k))
    else k.flatMap { s =>
      graft.api.Json.parse(s) match {
        case Right(graft.api.Json.A(items)) if items.sizeIs == n =>
          val comps = items.map {
            case graft.api.Json.S(v) => Some(Some(v))
            case graft.api.Json.Null => Some(None)
            case _                   => None
          }
          if (comps.exists(_.isEmpty)) None else Some(comps.map(_.get))
        case _ => None
      }
    }

  /** A fresh grouped sketch of `tpe` over `column` whose recorded
    * group-by column SET equals the query's, its blob entries re-keyed
    * as component tuples permuted into the QUERY's group-by order —
    * what lets `GROUP BY a, b` serve from a sketch built with
    * group_by "b,a". None: no matching fresh sketch, or a malformed
    * key.
    */
  private[engine] def groupedBlobFor(table: String, column: String, tpe: String,
      queryCols: Seq[String]): Option[Seq[(Seq[Option[String]], Array[Byte])]] = {
    val q = queryCols.map(canonKey)
    catalog.getSketch(table, column, tpe)
      .filter(sketchIsFresh(table, _))
      .flatMap { s =>
        s.param("group_by").map(_.split(",").map(canonKey).toSeq)
          .filter(scols => scols.sorted == q.sorted)
          .flatMap { scols =>
            val perm = q.map(scols.indexOf)
            val entries = graft.sketch.GroupedHll.unpack(s.data).map {
              case (k, b) =>
                decodeGroupKey(k, scols.size).map(c => (perm.map(c), b))
            }
            if (entries.exists(_.isEmpty)) None else Some(entries.map(_.get))
          }
      }
  }

  /** How a grouped-serve Aggregate dispatches against grouped blobs:
    * the query-order group columns, an optional key filter ON the
    * (single) group column (`WHERE g = lit` / `g IN`), and an optional
    * RESIDUAL equality/IN filter on NON-group columns — the
    * partial-key shape (`WHERE a = 'x' GROUP BY b` served from an
    * "a,b" composite blob by pruning on the a component and collapsing
    * the a dimension with an exact merge).
    */
  private[engine] case class GroupDispatch(
      gNames: Seq[String],
      keyFilter: Option[KeyPred],
      residual: Seq[(String, Seq[String])])

  /** Parse `cond` as a conjunction of `col = lit` / `col IN (lits)`
    * predicates over columns DISJOINT from the group-by set, each
    * literal rendered type-safely (typedLitKey). None on any other
    * predicate shape, a repeated column, or overlap with the group-by
    * columns (those shapes belong to groupKeyFilter / the scan path).
    */
  private[engine] def residualEqualityFilter(
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      table: String, gNames: Seq[String])
      : Option[Seq[(String, Seq[String])]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal}
    val lower = gNames.map(_.toLowerCase).toSet
    val parts = conjunctsOf(cond).map {
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
    if (parts.isEmpty || parts.exists(_.isEmpty)) return None
    val ps = parts.flatten
    val cols = ps.map(_._1.toLowerCase)
    if (cols.distinct.sizeIs != cols.size) None
    else if (cols.exists(lower.contains)) None
    else Some(ps)
  }

  /** The query-order group-by column names of an Aggregate whose every
    * grouping expression is a bare column, plus the dispatchable
    * filter: on the (single) group column itself (keyFilter), or on
    * non-group columns covered by a composite blob (residual —
    * partial-key dispatch). None = not servable from grouped sketches.
    */
  /** Canonical name for an EXPRESSION group key (round 10): a
    * deterministic single-argument function of one base column — the
    * time-bucket shapes (`to_date(ts)`, `year(ts)`, ...) — or a CAST
    * of a column, rendered by Catalyst's own `.sql`. The rendering is
    * comma-free by construction, so the catalog's comma-joined
    * group_by param round-trips; the builder records the caller's
    * spelling and dispatch compares the two case-insensitively (build
    * with the parser's spelling: lowercase function names,
    * `CAST(c AS TYPE)`). Nondeterministic or multi-argument
    * expressions refuse.
    */
  private[engine] def exprKeyName(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[String] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.Cast
    val deterministicFns = Set("to_date", "year", "month", "quarter",
      "day", "dayofmonth", "dayofweek", "weekofyear", "hour", "minute",
      "date", "lower", "upper")
    // alias-fold to ONE canonical spelling per function so spelling
    // variants of the same key (`date(ts)` vs `to_date(ts)`,
    // `dayofmonth(ts)` vs `day(ts)`) render identically and dispatch
    // to the same blob (both sides of every comparison go through
    // canonKey, which routes parsed expressions here)
    val fnAlias = Map("date" -> "to_date", "dayofmonth" -> "day")
    e match {
      case f: UnresolvedFunction
          if !f.isDistinct && f.filter.isEmpty &&
            deterministicFns(f.nameParts.last.toLowerCase) &&
            f.arguments.sizeIs == 1 &&
            f.arguments.head.isInstanceOf[UnresolvedAttribute] =>
        val fn = f.nameParts.last.toLowerCase
        scala.util.Try(
          s"${fnAlias.getOrElse(fn, fn)}(${f.arguments.head.sql})")
          .toOption.filterNot(_.contains(","))
      case c: Cast if c.child.isInstanceOf[UnresolvedAttribute] =>
        scala.util.Try(e.sql).toOption.filterNot(_.contains(","))
      case _ => None
    }
  }

  /** THE canonicalizer for group-key specs: a recorded catalog
    * `group_by` component and a query's grouping-expression rendering
    * both normalize through here before ANY comparison, so equivalent
    * spellings (`date(ts)` vs `to_date(ts)`, CAST spacing variants,
    * case differences) dispatch to the same blob instead of the
    * contract living in a comment. Plain identifiers lowercase;
    * anything else parses with Spark's own SQL parser and re-renders
    * via [[exprKeyName]] (alias-folded); unparseable or non-key
    * expressions fall back to the lowercased raw text — exactly the
    * old behavior, so exotic literal column names keep matching
    * themselves.
    */
  private[graft] def canonKey(spec: String): String = {
    val t = spec.trim
    if (t.matches("[A-Za-z_][A-Za-z0-9_]*")) t.toLowerCase
    else scala.util.Try(spark.sessionState.sqlParser.parseExpression(t))
      .toOption.flatMap(exprKeyName).getOrElse(t).toLowerCase
  }

  private[engine] def aggregateGroupKeys(
      gs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[GroupDispatch] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val names = gs.map {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      // EXPRESSION group keys (round 10): deterministic comma-free
      // renderings (to_date(ts), year(ts)) match builds keyed on the
      // same text — the time-bucket dashboard shapes
      case e                      => exprKeyName(e)
    }
    if (names.isEmpty || names.exists(_.isEmpty)) return None
    val gNames = names.map(_.get)
    def isTable(r: UnresolvedRelation): Boolean =
      r.multipartIdentifier.last.equalsIgnoreCase(table)
    child match {
      case r: UnresolvedRelation if isTable(r) =>
        Some(GroupDispatch(gNames, None, Nil))
      case Filter(cond, r: UnresolvedRelation) if isTable(r) =>
        val onGroupCol =
          if (gNames.sizeIs == 1)
            groupKeyFilter(child, table, gNames.head)
              .map(f => GroupDispatch(gNames, f, Nil))
          else None
        onGroupCol.orElse(
          residualEqualityFilter(cond, table, gNames)
            .map(res => GroupDispatch(gNames, None, res)))
      case _ => None
    }
  }

  /** [[groupedBlobFor]], partial-key variant: a fresh sketch whose
    * group-by column SET equals queryCols ∪ the residual filter's
    * columns; entries pruned to those whose filter components match an
    * allowed literal rendering (NULL components never match — SQL
    * equality), re-keyed by their projection onto queryCols (query
    * order), payloads collapsed across the filtered-out dimension with
    * `merge` — exact for stats records (min/max monotone, counts and
    * the unscaled decimal sum additive), register-max union for HLLs,
    * bucket-count addition for histograms (shared-grid builds only —
    * the histogram merge throws on differing grids and the caller
    * falls through).
    */
  private[engine] def partialGroupedBlobFor(table: String, column: String,
      tpe: String, queryCols: Seq[String],
      residual: Seq[(String, Seq[String])],
      merge: (Array[Byte], Array[Byte]) => Array[Byte])
      : Option[Seq[(Seq[Option[String]], Array[Byte])]] = {
    val q = queryCols.map(canonKey)
    val fcols = residual.map(r => canonKey(r._1))
    val all = q ++ fcols
    // the blob's key set may be a SUPERSET of the referenced columns
    // (round 10): components neither grouped nor filtered collapse
    // unconditionally — summing a complete partition over the unused
    // dimension IS the exact marginal, so one wide composite blob
    // serves every narrower rollup its components span
    catalog.getSketch(table, column, tpe)
      .filter(sketchIsFresh(table, _))
      .flatMap { s =>
        s.param("group_by").map(_.split(",").map(canonKey).toSeq)
          .filter(scols => all.distinct.sizeIs == all.size &&
            all.forall(scols.contains))
          .flatMap { scols =>
            val qIdx = q.map(scols.indexOf)
            val fIdx = fcols.map(scols.indexOf)
            val allowed = residual.map(_._2.toSet)
            val entries = graft.sketch.GroupedHll.unpack(s.data).map {
              case (k, b) =>
                decodeGroupKey(k, scols.size)
                  .map(c => (qIdx.map(c), fIdx.map(c), b))
            }
            if (entries.exists(_.isEmpty)) None
            else {
              val kept = entries.map(_.get).filter { case (_, fk, _) =>
                fk.zip(allowed).forall { case (comp, set) =>
                  comp.exists(set.contains) }
              }
              // collapse the filtered dimension; first-seen order keeps
              // the result deterministic for a given blob
              val acc = scala.collection.mutable.LinkedHashMap
                .empty[Seq[Option[String]], Array[Byte]]
              kept.foreach { case (qk, _, b) =>
                acc.updateWith(qk) {
                  case Some(prev) => Some(merge(prev, b))
                  case None       => Some(b)
                }
              }
              Some(acc.toSeq)
            }
          }
      }
  }

  /** Exact collapse of two per-group stat records (partial-key
    * dispatch): min/max monotone, counts and the unscaled decimal sum
    * additive — the same arithmetic the IN-list merge uses.
    */
  private[engine] def statsMergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    graft.sketch.GroupedStats.encode(graft.sketch.GroupedStats.merge(
      graft.sketch.GroupedStats.decode(a),
      graft.sketch.GroupedStats.decode(b)))

  /** Served-key typing: the grouped blobs key groups by the builders'
    * cast-to-string rendering. STRING group columns serve the
    * rendering verbatim; INTEGRAL columns parse it back (the cast is
    * bijective there); DATE and TIMESTAMP columns parse their
    * canonical renderings back too (ISO date; the session-zone
    * timestamp string, full microsecond precision — round 10, the
    * time-series dashboard keys), so the served schema matches exact
    * execution — and typed keys make the ORDER BY replay sort
    * natively. Any other group-column type refuses the serve (None):
    * a float/decimal rendering must not silently change the result
    * schema.
    */
  private[engine] def keyFieldTypes(table: String, gNames: Seq[String])
      : Option[Seq[org.apache.spark.sql.types.DataType]] = {
    import org.apache.spark.sql.types._
    val fields = spark.table(table).schema.fields
    val ts = gNames.map(c =>
      fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        // EXPRESSION keys resolve their output type by analysis (no
        // scan): to_date(ts) -> DateType, year(ts) -> IntegerType, ...
        .orElse(scala.util.Try(
          spark.table(table).selectExpr(c).schema.head.dataType).toOption))
    if (ts.exists(_.isEmpty)) return None
    val all = ts.flatten
    val ok = all.forall {
      case StringType | ByteType | ShortType | IntegerType | LongType |
          DateType => true
      // timestamp keys only under a FIXED-OFFSET session zone: the
      // zone-local rendering is not bijective through a DST fall-back
      // hour, so a DST-zone serve could merge two distinct instants
      // while reporting zero error — refuse to the exact scan instead
      case TimestampType => sessionZoneFixedOffset
      case _ => false
    }
    if (ok) Some(all) else None
  }

  /** Whether the session time zone has one fixed offset (UTC, +02:00,
    * ...). Timestamp group keys are gated on this at build AND serve:
    * the blobs key groups by the zone-LOCAL cast-to-string rendering,
    * and in a DST zone that rendering is ambiguous during the
    * fall-back hour (two instants, one string) and gapped during
    * spring-forward — a build would silently merge distinct groups and
    * the parse back would pick an arbitrary offset. Fixed-offset zones
    * round-trip bijectively at full precision.
    */
  private[engine] def sessionZoneFixedOffset: Boolean =
    scala.util.Try(java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
      .getRules.isFixedOffset).getOrElse(false)

  private[engine] def typedKeyValue(dt: org.apache.spark.sql.types.DataType,
      k: Option[String]): Any = {
    import org.apache.spark.sql.types._
    k.map { s =>
      dt match {
        case ByteType    => java.lang.Byte.valueOf(s)
        case ShortType   => java.lang.Short.valueOf(s)
        case IntegerType => java.lang.Integer.valueOf(s)
        case LongType    => java.lang.Long.valueOf(s)
        case DateType    => java.sql.Date.valueOf(s)
        case TimestampType =>
          // the rendering is Spark's canonical session-zone timestamp
          // string; parse it back IN that zone (never the JVM default).
          // A malformed key string must REFUSE the serve, not fail the
          // query: the call sites' guards catch IllegalArgumentException
          // (every integral/date branch throws IAE subtypes), so the
          // DateTimeParseException this parse raises is rewrapped.
          try
            java.sql.Timestamp.from(
              java.time.LocalDateTime.parse(s.replaceFirst(" ", "T"))
                .atZone(java.time.ZoneId.of(
                  spark.sessionState.conf.sessionLocalTimeZone)).toInstant)
          catch {
            case e: java.time.DateTimeException =>
              throw new IllegalArgumentException(
                s"unparseable timestamp group key '$s'", e)
          }
        case _ => s
      }
    }.orNull
  }

  /** Streaming maintainers fold sum riders AFTER their counts blob, so
    * a crash between the two upserts leaves the rider one batch
    * behind. Sum serves must therefore REFUSE whenever the two blobs
    * disagree on the last folded batch — serving would silently
    * understate sums while counts stay right. Batch builds carry no
    * last_batch on either blob (None == None passes).
    */
  private[engine] def riderInSync(table: String, column: String,
      countsType: String, riderType: String): Boolean = {
    def lb(t: String): Option[Long] =
      catalog.getSketch(table, column, t).flatMap(_.paramLong("last_batch"))
    lb(countsType) == lb(riderType)
  }

}
