package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{MetaCatalog, SampleNaming}
import graft.plan._

/** [[QueryEngine]]'s GROUPED and STAR serves: grouped histogram/HDR/
  * stats blobs (incl. marginal collapse) and the star-aggregate /
  * star-range dispatches that answer fact-join-dims queries with the
  * fact never scanned. Split out mechanically in round 13 — pure code
  * motion, behavior pinned by the q84/q86/q91/q92/q126-q143 oracle
  * families.
  */
private[engine] trait QueryEngineServeGrouped { self: QueryEngine =>
  import self._

  /** If the query is `SELECT g..., PERCENTILE(attr, p)... FROM table
    * GROUP BY g...` — optionally under `WHERE g = lit` / `g IN (lits)`
    * (groupKeyFilter: a GROUP BY keeps per-group grids separate, so a
    * multi-literal filter is a union of single-group serves, one row
    * each) — with a fresh stored grouped `grid` blob (built by
    * SketchOps.createGroupedHistogram / createGroupedHdr, group-by
    * column set equal to the query's — composite keys welcome, in any
    * column order) covering every percentile output, answer all
    * (named) groups by interpolation from the catalog — zero scan. The
    * reported error is the grid's value error per group (one bucket
    * width of the serving equi-width grid; 1/m RELATIVE on the log
    * grid, heavy-tail safe). A residual filter on the blob's OTHER key
    * components (`WHERE a = lit GROUP BY b` over an "a,b" blob) and a
    * marginal (GROUP BY a over an "a,b" blob) collapse the unreferenced
    * dimension with the grid's merge: exact on the global log grid,
    * and on the equi-width grid only for sharedGrid builds — per-group
    * grids refuse at Histogram.merge and the scan answers. Group keys
    * are served as the string rendering recorded at build time; groups
    * whose value column was all NULL are recorded with an empty payload
    * and served with a NULL percentile — the exact GROUP BY row set,
    * nothing dropped.
    *
    * With `ciColumns` on a grid that records each group's exact mass
    * n_g (the log grid), every percentile output gains
    * {name}_ci_low/_ci_high companions: the SAME sketch percentile
    * evaluated at the rank-shifted quantiles p ∓ 1.96·√(p(1−p)/n_g)
    * clamped to [0,1] — q168's distribution-free binomial
    * order-statistic bound, computable PER GROUP here (the plan-time
    * unknowable that makes the sampled paths refuse grouped CIs).
    */
  private[engine] def storedGroupedPercentileAnswer[K, G <: graft.sketch.BucketGrid[K]](
      grid: graft.sketch.BucketGrid.Kind[K, G])(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String, ciColumns: Boolean): Option[(DataFrame, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val pctCi = ciColumns && grid.percentileCi
    parsed match {
      case Aggregate(gs, outs, child, _) =>
        val d = aggregateGroupKeys(gs, child, table).getOrElse(return None)
        val (gNames, keyFilter) = (d.gNames, d.keyFilter)
        // memoized per value column: a multi-percentile dashboard
        // (p50/p95/p99 over one column) unpacks and collapses the blob
        // ONCE, not once per output
        val blobCache = scala.collection.mutable.Map
          .empty[String, Option[Seq[(Seq[Option[String]], Array[Byte])]]]
        def blobFor(c: String)
            : Option[Seq[(Seq[Option[String]], Array[Byte])]] =
          blobCache.getOrElseUpdate(c.toLowerCase,
            if (d.residual.isEmpty)
              groupedBlobFor(table, c, grid.groupedType, gNames)
                .orElse(partialGroupedBlobFor(table, c, grid.groupedType,
                  gNames, Nil, grid.mergeBytes))
            else
              partialGroupedBlobFor(table, c, grid.groupedType,
                gNames, d.residual, grid.mergeBytes))
        val lower = gNames.map(_.toLowerCase)
        val classified = outs.map {
          case a: UnresolvedAttribute
              if lower.contains(a.nameParts.last.toLowerCase) =>
            Some(Left((a.nameParts.last,
              lower.indexOf(a.nameParts.last.toLowerCase))))
          case Alias(e, name)
              if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
            Some(Left((name, lower.indexOf(attrName(e).orElse(exprKeyName(e)).get.toLowerCase))))
          case Alias(f: UnresolvedFunction, name)
              if !f.isDistinct && f.filter.isEmpty =>
            percentileArg(f).flatMap { case (c, p) =>
              blobFor(c)
                .map { entries =>
                  // empty payload = all-NULL group: NULL percentile,
                  // matching exact GROUP BY output. A key filter
                  // prunes to the named groups (NULL keys never match
                  // a literal — SQL IN semantics).
                  val hs = entries
                    .filter { case (k, _) =>
                      keyFilter.forall(_.matches(k.head)) }
                    .map {
                      case (k, b) =>
                        k -> (if (b.isEmpty) None else Some(grid.deserialize(b)))
                    }
                  def vals(h: Option[G]): Seq[Option[Double]] = {
                    val est = h.flatMap(_.quantile(p))
                    if (!pctCi) Seq(est)
                    else {
                      def shifted(sign: Double): Option[Double] =
                        h.flatMap { s =>
                          val n = s.n.toDouble
                          if (n <= 0) None
                          else s.quantile(math.max(0.0, math.min(1.0,
                            p + sign *
                              (1.96 * math.sqrt((p * (1.0 - p)) / n)))))
                        }
                      Seq(est, shifted(-1.0), shifted(1.0))
                    }
                  }
                  Right((name,
                    hs.map { case (k, h) => k -> vals(h) },
                    hs.flatMap { case (_, h) => h.map(_.valueErr) }
                      .foldLeft(0.0)(math.max)))
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
        val keys = estCols.head._2.map(_._1)
        if (!estCols.forall(_._2.map(_._1).toSet == keys.toSet)) return None
        val kTypes = keyFieldTypes(table, gNames).getOrElse(return None)
        val byName = estCols.map { case (n, est, _) => n -> est.toMap }.toMap
        def outNames(n: String): Seq[String] =
          if (pctCi) Seq(n, s"${n}_ci_low", s"${n}_ci_high") else Seq(n)
        val rows = keys.map { k =>
          org.apache.spark.sql.Row.fromSeq(parts.flatMap {
            case Left((_, i)) => Seq(typedKeyValue(kTypes(i), k(i)))
            case Right((n, _, _)) =>
              byName(n)(k).map(_.map(Double.box).orNull)
          })
        }
        val schema = StructType(parts.flatMap {
          case Left((n, i)) => Seq(StructField(n, kTypes(i), nullable = true))
          case Right((n, _, _)) =>
            outNames(n).map(StructField(_, DoubleType, nullable = true))
        })
        import scala.jdk.CollectionConverters._
        Some((spark.createDataFrame(rows.asJava, schema),
          estCols.map(_._3).max))
      case _ => None
    }
  }

  /** If the query is `SELECT g, MIN/MAX/COUNT/SUM/AVG(attr)... FROM
    * table GROUP BY g` — optionally under `WHERE g = lit` / `g IN
    * (lits)` (groupKeyFilter prunes to the named groups) — with a
    * fresh stored `stats_grouped` blob (the
    * per-group exact statistics `SketchOps.createGroupedHistogram`
    * records in its stats pass, group_by == g) covering every
    * aggregate output, answer all groups from the catalog — zero scan,
    * ZERO error. COUNT(*) per group serves from the recorded group
    * rowcounts but only rides along with ≥1 column-anchored statistic
    * (the same lone-count refusal as the global stats strategy, so
    * bare grouped counts keep their sampling semantics). All-NULL
    * groups serve NULL min/max/sum/avg and exact counts. AVG is
    * sum4/nnull — one double division of two recorded exacts.
    */
  private[engine] def storedGroupedStatsAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      table: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    def isCountStar(args: Seq[Expression]): Boolean = args match {
      case Seq(_: UnresolvedStar)     => true
      case Seq(Literal(v: Number, _)) => v.intValue == 1
      case _                          => false
    }
    parsed match {
      case Aggregate(gs, outs, child, _) =>
        val d = aggregateGroupKeys(gs, child, table).getOrElse(return None)
        val (gNames, keyFilter) = (d.gNames, d.keyFilter)
        // blob lookup: exact-set match, or the partial-key collapse
        // when a residual filter names the blob's other components
        // (WHERE a = 'x' GROUP BY b over an "a,b" blob) — the collapse
        // merge is exact (min/max monotone, counts/sums additive)
        def statsBlobFor(c: String) =
          if (d.residual.isEmpty)
            groupedBlobFor(table, c, "stats_grouped", gNames)
              .orElse(partialGroupedBlobFor(table, c, "stats_grouped",
                gNames, Nil, statsMergeBytes))
          else partialGroupedBlobFor(table, c, "stats_grouped", gNames,
            d.residual, statsMergeBytes)
        val lower = gNames.map(_.toLowerCase)
        // Left((key output name, group idx)) | Right((name, fn, stats))
        val classified = outs.map {
          case a: UnresolvedAttribute
              if lower.contains(a.nameParts.last.toLowerCase) =>
            Some(Left((a.nameParts.last,
              lower.indexOf(a.nameParts.last.toLowerCase))))
          case Alias(e, name)
              if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
            Some(Left((name, lower.indexOf(attrName(e).orElse(exprKeyName(e)).get.toLowerCase))))
          case Alias(f: UnresolvedFunction, name)
              if !f.isDistinct && f.filter.isEmpty =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", args) if isCountStar(args) =>
                Some(Right((name, "count_star", None)))
              case (fn, Seq(a: UnresolvedAttribute))
                  if Set("min", "max", "count", "sum", "avg", "mean")(fn) =>
                // "zero error" must be true: a group sum whose double
                // rendering loses precision (type-aware check) refuses
                // rather than labeling a rounded SUM/AVG exact
                statsBlobFor(a.nameParts.last)
                  .map(_.map { case (k, b) =>
                    k -> graft.sketch.GroupedStats.decode(b) })
                  // a key filter prunes to the named groups before any
                  // exactness check or serve (NULL keys never match a
                  // literal — SQL IN semantics)
                  .map(_.filter { case (k, _) =>
                    keyFilter.forall(_.matches(k.head)) })
                  .filter(stats => statFnServesExactly(table,
                    a.nameParts.last, fn, stats.map(_._2)))
                  .map(stats => Right((name, fn, Some(stats))))
              case _ => None
            }
          case _ => None
        }
        if (classified.exists(_.isEmpty)) return None
        val parts = classified.flatten
        val keyIdx = parts.collect { case Left((_, i)) => i }
        val aggCols = parts.collect { case Right(v) => v }
        val anchored = aggCols.collect { case (_, _, Some(s)) => s }
        if (keyIdx.toSet != gNames.indices.toSet || anchored.isEmpty)
          return None
        val keys = anchored.head.map(_._1)
        if (!anchored.forall(_.map(_._1).toSet == keys.toSet)) return None
        val kTypes = keyFieldTypes(table, gNames).getOrElse(return None)
        val rideRows = anchored.head.toMap.map { case (k, s) => k -> s.nrows }
        // index each aggregate's stats ONCE (closure per output): the
        // value lookup below runs per (group, output) — an inline
        // .toMap there is O(n²) in the group count (the 2.4k-day
        // per-day rollup paid ~2 s of driver time rebuilding maps)
        val getters: Seq[Seq[Option[String]] => Any] = parts.map {
          case Left((_, i)) =>
            (k: Seq[Option[String]]) => typedKeyValue(kTypes(i), k(i))
          case Right((_, "count_star", _)) =>
            (k: Seq[Option[String]]) => rideRows(k)
          case Right((_, fn, Some(stats))) =>
            val byKey = stats.toMap
            (k: Seq[Option[String]]) => {
              val st = byKey(k)
              fn match {
                case "min"          => st.min.map(Double.box).orNull
                case "max"          => st.max.map(Double.box).orNull
                case "count"        => st.nnull
                case "sum"          => st.sumDouble.map(Double.box).orNull
                case "avg" | "mean" => st.avgDouble.map(Double.box).orNull
              }
            }
          case Right((_, _, None)) => return None // unreachable
        }
        val rows = keys.map(k =>
          org.apache.spark.sql.Row.fromSeq(getters.map(_(k))))
        val schema = StructType(parts.map {
          case Left((n, i)) => StructField(n, kTypes(i), nullable = true)
          case Right((n, fn, _)) =>
            if (fn == "count" || fn == "count_star")
              StructField(n, LongType, nullable = false)
            else StructField(n, DoubleType, nullable = true)
        })
        import scala.jdk.CollectionConverters._
        Some(spark.createDataFrame(rows.asJava, schema))
      case _ => None
    }
  }

  /** Star-aggregate serve: `SELECT d.attr..., <aggs over fact cols>
    * FROM fact JOIN dim ON fact.fk = dim.pk GROUP BY d.attr...`
    * answered WITHOUT scanning the fact. The fact side's fresh
    * grouped-stats blob keyed on the join key supplies exact per-key
    * aggregates (COMPLETE: builders refuse past MaxHllGroups), and
    * only the DIM is read — restricted to the blob's bounded key set
    * by a broadcast semi-join and collected under a hard cap. Each
    * collected dim row folds its key's stats into its GROUP BY cell
    * with the partial-key collapse arithmetic (min/max monotone,
    * counts and unscaled decimal sums additive) — which IS inner-join
    * aggregation semantics: a dim row with key k contributes every
    * fact row of group k exactly once, duplicate dim keys contribute
    * once per row (join fan-out), and dim keys matching no fact group
    * never appear (the blob's key list is the fact's complete group
    * set). NULL fact keys never join and drop with the blob's NULL
    * entry; NULL dim keys fail the equi-join the same way. Refusals
    * keep the exact path honest: any WHERE clause (it would change
    * the blob's recorded totals), outer/non-equi joins, composite
    * join keys, expression group keys, mixed join-key types (both
    * must be integral, or both string, so the cast-to-string
    * renderings of equal values agree), non-atomic dim attr types,
    * dim fan-out past 4x the key count, and any merged stat failing
    * the same per-function exactness proof as the single-table serve
    * (statFnServesExactly over the MERGED records). At 100 TB this
    * turns the most common star-schema dashboard (revenue by dim
    * attribute) from a fact scan + shuffle into a dim-only scan: the
    * expensive side is a catalog lookup.
    */
  private[engine] def storedStarAggAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      tables: Seq[String]): Option[(DataFrame, String, String, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, SubqueryAlias}
    import org.apache.spark.sql.types._
    if (tables.sizeIs < 2) return None
    // GROUP BY shapes parse as Aggregate; UNGROUPED aggregates parse
    // as a bare Project over the join (the analyzer's GlobalAggregates
    // rule runs later) — both fold here, the ungrouped form into ONE
    // cell (round 10). Plain projections refuse at classification.
    val (aggOuts, aggChild, grouping) = parsed match {
      case a: Aggregate =>
        (a.aggregateExpressions, a.child, a.groupingExpressions)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        (p.projectList, p.child,
          Seq.empty[org.apache.spark.sql.catalyst.expressions.Expression])
      case _ => return None
    }
    // the aggregate's child must be inner equi-joins of the relations
    // (aliases allowed), optionally under ONE WHERE clause. DIM-side
    // predicates are safe — the dims are scanned anyway, so they just
    // restrict which dim rows fold, which IS the filtered inner join's
    // aggregation semantics. FACT-side equality/IN conjuncts serve by
    // pruning a COMPOSITE (fk, residCols...) blob and collapsing to
    // per-fk records (round 10); any other fact-side predicate refuses
    // below (a numeric band is storedStarRangeAnswer's job).
    val (whereCond, joinChild) = aggChild match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, ch) =>
        (Some(c), ch)
      case ch => (None, ch)
    }
    val extraneous = joinChild.collect {
      case n if !n.isInstanceOf[Join] && !n.isInstanceOf[SubqueryAlias] &&
        !n.isInstanceOf[UnresolvedRelation] => n
    }
    if (extraneous.nonEmpty) return None
    val joins = joinChild.collect { case j: Join => j }
    if (joins.sizeIs != tables.size - 1 ||
        !joins.forall(j => j.joinType == Inner && j.condition.isDefined))
      return None
    def colSet(t: String) = spark.table(t).columns.map(_.toLowerCase).toSet
    def keyKind(t: String, c: String): Char =
      spark.table(t).schema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
        case Some(StringType) => 's'
        case Some(ByteType | ShortType | IntegerType | LongType) => 'i'
        case _ => 'x'
      }
    def isCountStar(args: Seq[Expression]): Boolean = args match {
      case Seq(_: UnresolvedStar)     => true
      case Seq(Literal(v: Number, _)) => v.intValue == 1
      case _                          => false
    }
    import graft.sketch.GroupedStats
    // column ownership across ALL of the query's tables: the serve
    // only handles shapes whose referenced columns resolve to exactly
    // one table (the same rule joinTreeEdges applies to join keys)
    val colSets: Map[String, Set[String]] = tables.map(t => t -> colSet(t)).toMap
    def owner(col: String): Option[String] = {
      val os = tables.filter(t => colSets(t).contains(col.toLowerCase))
      if (os.sizeIs == 1) Some(os.head) else None
    }
    def tryOrient(fact: String): Option[(DataFrame, String, String, Double)] = {
      // the join tree oriented from the candidate fact: exactly ONE
      // single-key edge may leave the fact (a second would need a
      // composite blob key); everything else is the DIM TREE — the
      // snowflake shape, executed as real (small) dim joins below
      val edges = joinTreeEdges(parsed, tables, fact).getOrElse(return None)
      val factEdges = edges.filter(_._1 == fact)
      // one edge may leave the fact — single- OR multi-column (round
      // 10: a composite equi-join serves from a blob keyed on the fk
      // TUPLE); everything else is the dim tree
      val (fkCols, dimRoot, pkCols) = factEdges match {
        case Seq((_, fks, dr, pks))
            if fks.nonEmpty && fks.size == pks.size =>
          (fks, dr, pks)
        case _ => return None
      }
      val dimEdges = edges.filterNot(_._1 == fact)
      val dims = tables.filterNot(_ == fact)
      val fCols = colSet(fact)
      def dimOwned(col: String): Boolean = owner(col).exists(_ != fact)
      val kindsOk = fkCols.zip(pkCols).forall { case (fk0, pk0) =>
        val kk = keyKind(fact, fk0)
        kk != 'x' && kk == keyKind(dimRoot, pk0)
      }
      if (!kindsOk) return None
      // the WHERE splits: FACT-side equality/IN conjuncts on non-key
      // columns serve from a COMPOSITE blob keyed (fk, residCols...) —
      // entries prune on the typed literals and collapse to per-fk
      // records with the exact partial-key merge, so `WHERE fact.flag
      // = 'A' GROUP BY dim.attr` stays a catalog lookup (round 10);
      // every remaining conjunct must be unambiguously a DIM's (it is
      // applied to the dim-side scan below) with no subquery. Any
      // other fact-touching predicate refuses — a numeric band is
      // storedStarRangeAnswer's job.
      import org.apache.spark.sql.catalyst.expressions.{EqualTo, In}
      def factEq(e: Expression): Option[(String, Seq[String])] = e match {
        case EqualTo(a: UnresolvedAttribute, l: Literal) =>
          typedLitKey(fact, a.nameParts.last, l)
            .map(v => (a.nameParts.last, Seq(v)))
        case EqualTo(l: Literal, a: UnresolvedAttribute) =>
          typedLitKey(fact, a.nameParts.last, l)
            .map(v => (a.nameParts.last, Seq(v)))
        case In(a: UnresolvedAttribute, lits)
            if lits.nonEmpty && lits.forall(_.isInstanceOf[Literal]) =>
          typedInListKeys(fact, a.nameParts.last, lits)
            .map(vs => (a.nameParts.last, vs))
        case _ => None
      }
      def touchesFact(e: Expression): Boolean =
        e.collect { case a: UnresolvedAttribute => a.nameParts.last }
          .exists(c => owner(c).contains(fact))
      val conj = whereCond.map(conjunctsOf).getOrElse(Nil)
      val (factConj, rest) = conj.partition(touchesFact)
      val residOpt = factConj.map(factEq)
      if (residOpt.exists(_.isEmpty)) return None
      val resid: Seq[(String, Seq[String])] = residOpt.flatten
      val residCols = resid.map(_._1)
      if (residCols.map(_.toLowerCase).distinct.sizeIs != residCols.size)
        return None
      if (residCols.exists(rc =>
          fkCols.exists(_.equalsIgnoreCase(rc)))) return None
      val whereOk = rest.forall { c =>
        val attrs = c.collect {
          case a: UnresolvedAttribute => a.nameParts.last
        }
        attrs.nonEmpty && attrs.forall(dimOwned) &&
          c.find {
            case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
            case _: UnresolvedStar => true
            case _ => false
          }.isEmpty
      }
      if (!whereOk) return None
      // group keys: bare unambiguous attributes — DIM keys of any
      // atomic type (the dim is actually read), and, round 10, FACT
      // keys too: a fact-owned group column rides the COMPOSITE blob
      // key (`GROUP BY dim.attr, fact.flag` — the crossed rollup),
      // gated to string/integral types whose cast-to-string rendering
      // parses back bijectively. The join key itself refuses (its
      // groups are the blob's key axis, not a served dimension).
      val gOpt: Seq[Option[(String, Boolean)]] =
        grouping.map {
          case a: UnresolvedAttribute if dimOwned(a.nameParts.last) =>
            Some((a.nameParts.last, false))
          case a: UnresolvedAttribute
              if owner(a.nameParts.last).contains(fact) &&
                !fkCols.exists(_.equalsIgnoreCase(a.nameParts.last)) =>
            Some((a.nameParts.last, true))
          case _ => None
        }
      if (gOpt.exists(_.isEmpty)) return None
      val gKeys: Seq[(String, Boolean)] = gOpt.flatten
      val gNames = gKeys.map(_._1)
      val dimGroupNames = gKeys.collect { case (n, false) => n }
      val factGroupCols = gKeys.collect { case (n, true) => n }
      if (factGroupCols.exists(fg =>
          residCols.exists(_.equalsIgnoreCase(fg))) ||
          factGroupCols.map(_.toLowerCase).distinct.sizeIs !=
            factGroupCols.size) return None
      val lower = gNames.map(_.toLowerCase)
      val attrFields = gKeys.map {
        case (n, false) =>
          dims.iterator
            .flatMap(t => spark.table(t).schema.fields
              .find(_.name.equalsIgnoreCase(n)))
            .nextOption().getOrElse(return None)
        case (n, true) =>
          spark.table(fact).schema.fields
            .find(_.name.equalsIgnoreCase(n)).getOrElse(return None)
      }
      val atomicOk = gKeys.zip(attrFields).forall {
        // fact-side keys serve from the blob's string renderings, so a
        // timestamp key needs the bijective fixed-offset-zone rendering
        // (same gate as keyFieldTypes); dim-side keys are live typed
        // values from the dim scan and never round-trip through strings
        case ((_, true), f) => f.dataType match {
          case StringType | ByteType | ShortType | IntegerType |
              LongType | DateType => true
          case TimestampType => sessionZoneFixedOffset
          case _ => false
        }
        case ((_, false), f) => f.dataType match {
          case StringType | BooleanType | ByteType | ShortType |
              IntegerType | LongType | FloatType | DoubleType | DateType |
              TimestampType => true
          case _: DecimalType => true
          case _              => false
        }
      }
      if (!atomicOk) return None

      // classify outputs: group keys through; count(*); fn(factCol)
      val classified: Seq[Option[Either[(String, Int), (String, String, Option[String])]]] =
        aggOuts.map {
          case a: UnresolvedAttribute
              if lower.contains(a.nameParts.last.toLowerCase) =>
            Some(Left((a.nameParts.last,
              lower.indexOf(a.nameParts.last.toLowerCase))))
          case Alias(e, name)
              if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
            Some(Left((name, lower.indexOf(attrName(e).orElse(exprKeyName(e)).get.toLowerCase))))
          case Alias(f: UnresolvedFunction, name) if f.filter.isEmpty =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", args) if !f.isDistinct && isCountStar(args) =>
                Some(Right((name, "count_star", None)))
              case ("count", Seq(a: UnresolvedAttribute))
                  if f.isDistinct &&
                    owner(a.nameParts.last).contains(fact) =>
                Some(Right((name, "count_distinct", Some(a.nameParts.last))))
              case (fn, Seq(a: UnresolvedAttribute))
                  if !f.isDistinct &&
                    Set("min", "max", "count", "sum", "avg", "mean")(fn) &&
                    owner(a.nameParts.last).contains(fact) =>
                Some(Right((name, fn, Some(a.nameParts.last))))
              // percentiles serve from the fk-keyed grouped histograms:
              // per-cell the fks' bucket counts ADD — exact only when
              // the grids agree (sharedGrid builds; mismatched grids
              // throw at merge time and the serve refuses)
              case ("percentile" | "percentile_approx" | "approx_percentile",
                  Seq(a: UnresolvedAttribute, l: Literal))
                  if !f.isDistinct &&
                    owner(a.nameParts.last).contains(fact) =>
                litDouble(l).map(p =>
                  Right((name, s"percentile:$p", Some(a.nameParts.last))))
              case ("median", Seq(a: UnresolvedAttribute))
                  if !f.isDistinct &&
                    owner(a.nameParts.last).contains(fact) =>
                Some(Right((name, "percentile:0.5", Some(a.nameParts.last))))
              case _ => None
            }
          case _ => None
        }
      if (classified.exists(_.isEmpty)) return None
      val parts = classified.flatten
      val keyIdx = parts.collect { case Left((_, i)) => i }
      val aggParts = parts.collect { case Right(p) => p }
      if (keyIdx.toSet != gNames.indices.toSet || aggParts.isEmpty)
        return None

      // one fresh blob per aggregated fact column, keyed (fk) — or,
      // under a residual fact filter, the COMPOSITE (fk, residCols...)
      // blob: entries whose residual components match the typed
      // literals collapse to per-fk payloads (stats by the exact
      // partial-key merge, HLLs by register-max union == distinct over
      // the filtered union, histograms by bucket addition — one grid
      // required, mismatches throw and the serve refuses). A fk whose
      // every entry is pruned contributes nothing — exactly the rows
      // the filter drops. A count(*)-only query anchors to any fresh
      // stats blob over the same key set.
      // blob key layout: (fk, factGroupCols...) are the QUERY columns
      // (the collapsed key — fact group components become served
      // GROUP BY dimensions), the residual literals prune, and any
      // FURTHER blob components collapse unconditionally (the wide-
      // blob marginal rule: a complete partition summed over an
      // unused dimension is the exact marginal) — all via the same
      // partial-key machinery the single-table serves use
      val nf = fkCols.size
      def collapsed(vc: String, tpe: String,
          merge: (Array[Byte], Array[Byte]) => Array[Byte])
          : Option[Map[(Seq[String], Seq[Option[String]]), Array[Byte]]] =
        partialGroupedBlobFor(fact, vc, tpe, fkCols ++ factGroupCols,
          resid, merge).map(_.collect {
            // NULL fk components never survive the equi-join
            case (k, b) if k.take(nf).forall(_.isDefined) =>
              ((k.take(nf).map(_.get), k.drop(nf)), b)
          }.toMap)
      def hllMergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
        graft.sketch.Hll.deserialize(a)
          .merge(graft.sketch.Hll.deserialize(b)).serialize
      val statsCols = aggParts.collect {
        case (_, fn, Some(c))
            if fn != "count_distinct" && !fn.startsWith("percentile:") =>
          c.toLowerCase
      }.distinct
      val distinctCols = aggParts.collect {
        case (_, "count_distinct", Some(c)) => c.toLowerCase
      }.distinct
      val pctCols = aggParts.collect {
        case (_, fn, Some(c)) if fn.startsWith("percentile:") =>
          c.toLowerCase
      }.distinct
      type CellKey = (Seq[String], Seq[Option[String]])
      val blobs: Map[String, Map[CellKey, GroupedStats.Stat]] =
        statsCols.map { vc =>
          collapsed(vc, "stats_grouped", statsMergeBytes) match {
            case Some(m) =>
              vc -> m.view.mapValues(GroupedStats.decode).toMap
            case None => return None
          }
        }.toMap
      val hllBlobs: Map[String, Map[CellKey, Array[Byte]]] =
        distinctCols.map { vc =>
          collapsed(vc, "hll_grouped", hllMergeBytes) match {
            case Some(m) => vc -> m
            case None    => return None
          }
        }.toMap
      val pctBlobs: Map[String, Map[CellKey, Array[Byte]]] =
        pctCols.map { vc =>
          (try collapsed(vc, "histogram_grouped", graft.sketch.Histogram.mergeBytes)
          catch { case _: IllegalArgumentException => return None }) match {
            case Some(m) => vc -> m
            case None    => return None
          }
        }.toMap
      val hasCountStar = aggParts.exists(_._2 == "count_star")
      val anchorOpt: Option[Map[CellKey, GroupedStats.Stat]] =
        blobs.headOption.map(_._2).orElse {
          if (!hasCountStar) None
          else catalog.listSketches(Some(fact)).iterator
            .filter(_.sketchType == "stats_grouped")
            .map(s => collapsed(s.columnName, "stats_grouped",
              statsMergeBytes))
            .collectFirst { case Some(m) =>
              m.view.mapValues(GroupedStats.decode).toMap
            }
        }
      if (hasCountStar && anchorOpt.isEmpty) return None
      // complete group lists over the same (fact, fk) must agree — a
      // disagreement means a blob is mid-rebuild; refuse
      val keySet: Set[CellKey] =
        (anchorOpt.map(_.keySet) ++ blobs.values.map(_.keySet) ++
          hllBlobs.values.map(_.keySet) ++ pctBlobs.values.map(_.keySet))
          .headOption.getOrElse(return None)
      if (!(blobs.values.map(_.keySet) ++ hllBlobs.values.map(_.keySet) ++
          pctBlobs.values.map(_.keySet) ++
          anchorOpt.map(_.keySet)).forall(_ == keySet)) return None
      // fact group components per join key (the crossed-rollup axis)
      val factKeysByFk: Map[Seq[String], Seq[Seq[Option[String]]]] =
        keySet.toSeq.groupMap(_._1)(_._2)

      // dim scan restricted to the blob's keys (broadcast semi-join on
      // the fk TUPLE components), collected under a hard cap — the
      // fact is never read
      val keys = factKeysByFk.keySet.toSeq
      val dimRows: Seq[org.apache.spark.sql.Row] =
        if (keys.isEmpty) Nil
        else {
          import org.apache.spark.sql.functions.{broadcast, col}
          val keysDf = {
            val schema = StructType(pkCols.indices.map(i =>
              StructField(s"__k$i", StringType, nullable = false)))
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(
              keys.map(t => org.apache.spark.sql.Row.fromSeq(t)).asJava,
              schema)
          }
          val cap = keys.size * 4 + 1
          // the DIM SIDE executes as real Spark joins (dims are the
          // small side — the fact is still never read): the oriented
          // dim-tree edges join parent-first, the dim-side WHERE
          // applies through its SQL rendering, and a shape the dims
          // cannot analyze refuses to the exact path
          val scan = try {
            var dimDf = spark.table(dimRoot)
            dimEdges.foreach { case (p, pks2, c2, cks2) =>
              val cond = pks2.zip(cks2)
                .map { case (a, b) => s"$a = $b" }.mkString(" AND ")
              dimDf = dimDf.join(spark.table(c2),
                org.apache.spark.sql.functions.expr(cond))
            }
            rest.reduceOption(
              org.apache.spark.sql.catalyst.expressions.And)
              .foreach(r => dimDf = dimDf.where(r.sql))
            val kCols = pkCols.indices.map(i => s"__k$i")
            dimDf
              .select(pkCols.zipWithIndex.map { case (p0, i) =>
                col(p0).cast("string").as(s"__k$i")
              } ++ dimGroupNames.map(col): _*)
              .join(broadcast(keysDf), kCols)
              .select(kCols.map(org.apache.spark.sql.functions.col) ++
                dimGroupNames.map(col): _*)
              .limit(cap).collect()
          } catch { case scala.util.control.NonFatal(_) => return None }
          if (scan.length >= cap) return None
          scan.toSeq
        }

      // fold each dim row's key stats (and HLL registers) into its
      // GROUP BY cell — stats merge exactly; HLLs by register-max
      // union, which is EXACTLY distinct-over-union: a value seen
      // under several fks of one cell counts once. Fact group keys
      // expand each dim row into one cell per recorded fact-component
      // tuple under its fk (the crossed rollup); their served values
      // parse back through the bijective key rendering.
      val statsOf: String => Map[CellKey, GroupedStats.Stat] = ck =>
        if (ck == "__anchor") anchorOpt.get else blobs(ck)
      val colKeys = anchorOpt.map(_ => "__anchor").toSeq ++ statsCols
      val cells = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], (scala.collection.mutable.Map[String, GroupedStats.Stat],
          scala.collection.mutable.Map[String, graft.sketch.Hll],
          scala.collection.mutable.Map[String, Array[Byte]])]
      // per-group-grid histogram blobs make the bucket-count addition
      // throw on the first multi-fk cell — refuse to the exact path
      // (shared-grid builds merge; a single-fk cell merges trivially)
      try dimRows.foreach { r =>
        val k: Seq[String] = pkCols.indices.map(r.getString)
        factKeysByFk.get(k).toSeq.flatten.foreach { fkt =>
          val ck0: CellKey = (k, fkt)
          var di = nf - 1
          var fi = 0
          val cell: Seq[Any] = gKeys.zipWithIndex.map {
            case ((_, false), _) => di += 1; r.get(di)
            case ((_, true), gi) =>
              val v = typedKeyValue(attrFields(gi).dataType, fkt(fi))
              fi += 1; v
          }
          val (m, h, hg) = cells.getOrElseUpdate(cell,
            (scala.collection.mutable.Map.empty,
              scala.collection.mutable.Map.empty,
              scala.collection.mutable.Map.empty))
          colKeys.foreach { ck =>
            val st = statsOf(ck)(ck0)
            m(ck) = m.get(ck).fold(st)(GroupedStats.merge(_, st))
          }
          distinctCols.foreach { dc =>
            val hll = graft.sketch.Hll.deserialize(hllBlobs(dc)(ck0))
            h(dc) = h.get(dc).fold(hll)(_.merge(hll))
          }
          pctCols.foreach { pc =>
            val b = pctBlobs(pc)(ck0)
            hg(pc) = hg.get(pc).fold(b)(graft.sketch.Histogram.mergeBytes(_, b))
          }
        }
      } catch { case _: IllegalArgumentException => return None }

      // the merged records must pass the same exactness proof as the
      // single-table grouped serve, per served function
      val mergedByCol: Map[String, Seq[GroupedStats.Stat]] =
        colKeys.map(ck => ck -> cells.values.map(_._1(ck)).toSeq).toMap
      val fnOk = aggParts.forall {
        case (_, "count_star", _)     => true
        case (_, "count_distinct", _) => true
        case (_, fn, _) if fn.startsWith("percentile:") => true
        case (_, fn, Some(vc)) =>
          statFnServesExactly(fact, vc, fn, mergedByCol(vc.toLowerCase))
        case _ => false
      }
      if (!fnOk) return None

      // the UNGROUPED star of zero joined rows is exact execution's
      // one-row answer: COUNTs are 0, everything else NULL
      val emptyUngrouped: Seq[org.apache.spark.sql.Row] =
        if (gKeys.isEmpty && cells.isEmpty)
          Seq(org.apache.spark.sql.Row.fromSeq(parts.map {
            case Right((_, "count_star" | "count" | "count_distinct", _)) =>
              0L
            case _ => null
          }))
        else Nil
      val rows = emptyUngrouped ++ cells.toSeq.map { case (cell, (m, h, hg)) =>
        org.apache.spark.sql.Row.fromSeq(parts.map {
          case Left((_, i))                => cell(i)
          case Right((_, "count_star", _)) => m("__anchor").nrows
          case Right((_, "count_distinct", Some(vc))) =>
            h(vc.toLowerCase).count
          case Right((_, fn, Some(vc))) if fn.startsWith("percentile:") =>
            val p = fn.stripPrefix("percentile:").toDouble
            val b = hg(vc.toLowerCase)
            // empty payload = every contributing fk group was all-NULL:
            // the exact percentile is NULL too
            if (b.isEmpty) null
            else Double.box(graft.sketch.Histogram.deserialize(b)
              .percentile(p))
          case Right((_, fn, Some(vc))) =>
            val st = m(vc.toLowerCase)
            fn match {
              case "min"          => st.min.map(Double.box).orNull
              case "max"          => st.max.map(Double.box).orNull
              case "count"        => st.nnull
              case "sum"          => st.sumDouble.map(Double.box).orNull
              case "avg" | "mean" => st.avgDouble.map(Double.box).orNull
            }
          case Right((_, _, None)) => return None // unreachable
        })
      }
      val schema = StructType(parts.map {
        case Left((n, i)) =>
          StructField(n, attrFields(i).dataType, nullable = true)
        case Right((n, fn, _)) =>
          if (fn == "count" || fn == "count_star" || fn == "count_distinct")
            StructField(n, LongType, nullable = false)
          else StructField(n, DoubleType, nullable = true)
      })
      // distinct estimates carry the grouped HLL's standard error
      // (register-max merges don't change m); merged percentiles one
      // bucket width of the merged grid; everything else is exact
      val hllErr =
        if (distinctCols.isEmpty) 0.0
        else {
          val m0 = hllBlobs.values.headOption.flatMap(_.values.headOption)
            .map(b => graft.sketch.Hll.deserialize(b).m.toDouble)
            .getOrElse(4096.0)
          1.04 / math.sqrt(m0)
        }
      val pctErr = cells.values.iterator
        .flatMap(_._3.values)
        .filter(_.nonEmpty)
        .map(b => 1.0 / graft.sketch.Histogram.deserialize(b).buckets)
        .foldLeft(0.0)(math.max)
      val err = math.max(hllErr, pctErr)
      import scala.jdk.CollectionConverters._
      Some((spark.createDataFrame(rows.asJava, schema), fact,
        s"star aggregate over $fact ⋈ ${dims.mkString(" ⋈ ")} served " +
          s"from the fact's grouped blobs on ${fkCols.mkString(",")} " +
          s"(${keys.size} fact " +
          "groups merged; stats exact, distinct counts by register-max " +
          "HLL union; dim-side-only scan, fact never read)", err))
    }
    tables.view.flatMap(t => tryOrient(t)).headOption
  }

  /** STAR-RANGE serve: `SELECT dim_attr..., count(*) / sum(v) / avg(v)
    * / percentile(v, p) FROM fact ⋈ dim [⋈ subdim...] WHERE <range on
    * fact.v> [AND dim-side predicates] GROUP BY dim_attrs` — the
    * drill-down form of the star dashboard (a value band on the fact
    * measure, grouped by dim attributes) with the FACT never scanned.
    *
    * Mechanism: the fact's fk-keyed `histogram_grouped` blob on the
    * range column supplies per-join-key bucket counts; the dim side
    * executes exactly like [[storedStarAggAnswer]] (real small-table
    * joins restricted to the blob's bounded key set, dim-side WHERE
    * applied there); each GROUP BY cell MERGES its contributing fks'
    * histograms (bucket counts add — one grid required, so per-group-
    * grid builds refuse on multi-fk cells exactly like the star
    * percentile) and the single-table range arithmetic runs once per
    * cell: counts from clipped bucket masses
    * ([[graft.sketch.Histogram.rangeCount]]), sums from the
    * `histsum_grouped` rider (per-cell exact BigInt addition of the
    * per-(fk, bucket) scale-4 decimal sums, boundary buckets
    * fractional), AVG one division, percentiles by the range-segment
    * walk. Error = the merged boundary-mass ratios per output kind
    * (plus one bucket width for percentiles), max over cells — the
    * same bound the grouped-range serve reports.
    *
    * The exact star path ([[storedStarAggAnswer]]) refuses any
    * fact-side predicate because it changes what the blob's totals
    * mean; this path is its approximate complement for the one
    * predicate family histograms model. Cells with no estimated
    * in-range mass emit no row (the grouped-range contract: a
    * superset-of-exact row set is possible near bucket boundaries).
    * At 100 TB the exact side pays the filtered fact scan + join
    * shuffle; the serve stays dim-sized.
    */
  private[engine] def storedStarRangeAnswer(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      tables: Seq[String]): Option[(DataFrame, String, String, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, SubqueryAlias}
    import org.apache.spark.sql.types._
    if (tables.sizeIs < 2) return None
    // GROUP BY shapes parse as Aggregate; UNGROUPED aggregates parse
    // as a bare Project over the join (the analyzer's GlobalAggregates
    // rule runs later) — both fold here, the ungrouped form into ONE
    // cell (round 10). Plain projections refuse at classification.
    val (aggOuts, aggChild, grouping) = parsed match {
      case a: Aggregate =>
        (a.aggregateExpressions, a.child, a.groupingExpressions)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        (p.projectList, p.child,
          Seq.empty[org.apache.spark.sql.catalyst.expressions.Expression])
      case _ => return None
    }
    val (whereCond, joinChild) = aggChild match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, ch) =>
        (Some(c), ch)
      case ch => (None, ch)
    }
    // without a WHERE there is no range — that shape belongs to the
    // exact star serve
    if (whereCond.isEmpty) return None
    val extraneous = joinChild.collect {
      case n if !n.isInstanceOf[Join] && !n.isInstanceOf[SubqueryAlias] &&
        !n.isInstanceOf[UnresolvedRelation] => n
    }
    if (extraneous.nonEmpty) return None
    val joins = joinChild.collect { case j: Join => j }
    if (joins.sizeIs != tables.size - 1 ||
        !joins.forall(j => j.joinType == Inner && j.condition.isDefined))
      return None
    def colSet(t: String) = spark.table(t).columns.map(_.toLowerCase).toSet
    def keyKind(t: String, c: String): Char =
      spark.table(t).schema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
        case Some(StringType) => 's'
        case Some(ByteType | ShortType | IntegerType | LongType) => 'i'
        case _ => 'x'
      }
    val colSets: Map[String, Set[String]] = tables.map(t => t -> colSet(t)).toMap
    def owner(col: String): Option[String] = {
      val os = tables.filter(t => colSets(t).contains(col.toLowerCase))
      if (os.sizeIs == 1) Some(os.head) else None
    }
    def tryOrient(fact: String): Option[(DataFrame, String, String, Double)] = {
      val edges = joinTreeEdges(parsed, tables, fact).getOrElse(return None)
      val factEdges = edges.filter(_._1 == fact)
      val (fk, dimRoot, pk) = factEdges match {
        case Seq((_, fks, dr, pks)) if fks.sizeIs == 1 =>
          (fks.head, dr, pks.head)
        case _ => return None
      }
      val dimEdges = edges.filterNot(_._1 == fact)
      val dims = tables.filterNot(_ == fact)
      def dimOwned(col: String): Boolean = owner(col).exists(_ != fact)
      val kk = keyKind(fact, fk)
      if (kk == 'x' || kk != keyKind(dimRoot, pk)) return None
      // split the WHERE: range comparisons on ONE fact-owned numeric
      // column feed the histogram arithmetic; every remaining conjunct
      // must reference only dim columns (it applies to the dim scan,
      // restricting which dim rows fold — inner-join semantics) with
      // no subqueries. Anything else refuses to the exact path.
      val conj = conjunctsOf(whereCond.get)
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
      val (cmps, rest0) = conj.partition(e =>
        factCmpCol(e).exists(c0 => owner(c0).contains(fact)))
      if (cmps.isEmpty) return None
      val (c, lowerB, upperB) = rangeBounds(cmps.reduce(
        org.apache.spark.sql.catalyst.expressions.And))
        .getOrElse(return None)
      if (!numericColumn(fact, c)) return None
      // remaining fact-side conjuncts must be equality/IN on other
      // columns — they prune the COMPOSITE (fk, residCols...) blob
      // and collapse to per-fk histograms + riders (round 10), the
      // `WHERE flag = 'A' AND price band GROUP BY nation` drill-down
      import org.apache.spark.sql.catalyst.expressions.{EqualTo, In}
      def factEq(e: Expression): Option[(String, Seq[String])] = e match {
        case EqualTo(a: UnresolvedAttribute, l: Literal) =>
          typedLitKey(fact, a.nameParts.last, l)
            .map(v => (a.nameParts.last, Seq(v)))
        case EqualTo(l: Literal, a: UnresolvedAttribute) =>
          typedLitKey(fact, a.nameParts.last, l)
            .map(v => (a.nameParts.last, Seq(v)))
        case In(a: UnresolvedAttribute, lits)
            if lits.nonEmpty && lits.forall(_.isInstanceOf[Literal]) =>
          typedInListKeys(fact, a.nameParts.last, lits)
            .map(vs => (a.nameParts.last, vs))
        case _ => None
      }
      val (factRest, rest) = rest0.partition(e =>
        e.collect { case a: UnresolvedAttribute => a.nameParts.last }
          .exists(c0 => owner(c0).contains(fact)))
      val residOpt = factRest.map(factEq)
      if (residOpt.exists(_.isEmpty)) return None
      val resid: Seq[(String, Seq[String])] = residOpt.flatten
      val residCols = resid.map(_._1)
      if (residCols.map(_.toLowerCase).distinct.sizeIs != residCols.size ||
          residCols.exists(rc => rc.equalsIgnoreCase(fk) ||
            rc.equalsIgnoreCase(c))) return None
      val restOk = rest.forall { r =>
        val attrs = r.collect { case a: UnresolvedAttribute => a.nameParts.last }
        attrs.nonEmpty && attrs.forall(dimOwned) &&
          r.find {
            case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
            case _: UnresolvedStar => true
            case _ => false
          }.isEmpty
      }
      if (!restOk) return None
      // group keys: bare, unambiguous dim attributes of atomic type
      val gOpt = grouping.map {
        case a: UnresolvedAttribute if dimOwned(a.nameParts.last) =>
          Some(a.nameParts.last)
        case _ => None
      }
      if (gOpt.exists(_.isEmpty)) return None
      val gNames = gOpt.flatten
      val lower = gNames.map(_.toLowerCase)
      val attrFields = gNames.map { n =>
        dims.iterator
          .flatMap(t => spark.table(t).schema.fields
            .find(_.name.equalsIgnoreCase(n)))
          .nextOption().getOrElse(return None)
      }
      val atomicOk = attrFields.forall(_.dataType match {
        case StringType | BooleanType | ByteType | ShortType |
            IntegerType | LongType | FloatType | DoubleType | DateType |
            TimestampType => true
        case _: DecimalType => true
        case _              => false
      })
      if (!atomicOk) return None

      // outputs: group keys through; count(*); sum/avg/percentile of
      // the RANGE column itself (the histogram models exactly that
      // distribution — any other value column refuses)
      sealed trait AggOut
      case object CntA extends AggOut
      case object SumA extends AggOut
      case object AvgA extends AggOut
      case class PctA(p: Double) extends AggOut
      var sawAgg = false
      val classified: Seq[Option[Either[(String, Int), (String, AggOut)]]] =
        aggOuts.map {
          case a: UnresolvedAttribute
              if lower.contains(a.nameParts.last.toLowerCase) =>
            Some(Left((a.nameParts.last,
              lower.indexOf(a.nameParts.last.toLowerCase))))
          case Alias(e, name)
              if attrName(e).orElse(exprKeyName(e)).exists(n => lower.contains(n.toLowerCase)) =>
            Some(Left((name, lower.indexOf(attrName(e).orElse(exprKeyName(e)).get.toLowerCase))))
          case Alias(f: UnresolvedFunction, name)
              if f.filter.isEmpty && !f.isDistinct =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("count", Seq(_: UnresolvedStar)) =>
                sawAgg = true; Some(Right((name, CntA)))
              case ("count", Seq(Literal(v: Number, _))) if v.intValue == 1 =>
                sawAgg = true; Some(Right((name, CntA)))
              case ("sum", Seq(a: UnresolvedAttribute))
                  if a.nameParts.last.equalsIgnoreCase(c) =>
                sawAgg = true; Some(Right((name, SumA)))
              case ("avg" | "mean", Seq(a: UnresolvedAttribute))
                  if a.nameParts.last.equalsIgnoreCase(c) =>
                sawAgg = true; Some(Right((name, AvgA)))
              case ("percentile" | "percentile_approx" | "approx_percentile",
                  Seq(a: UnresolvedAttribute, l: Literal))
                  if a.nameParts.last.equalsIgnoreCase(c) =>
                litDouble(l).map { p => sawAgg = true; Right((name, PctA(p))) }
              case ("median", Seq(a: UnresolvedAttribute))
                  if a.nameParts.last.equalsIgnoreCase(c) =>
                sawAgg = true; Some(Right((name, PctA(0.5))))
              case _ => None
            }
          case _ => None
        }
      if (classified.exists(_.isEmpty) || !sawAgg) return None
      val parts = classified.flatten
      val keyIdx = parts.collect { case Left((_, i)) => i }
      if (keyIdx.toSet != gNames.indices.toSet) return None
      val needSums = parts.exists {
        case Right((_, SumA | AvgA)) => true
        case _                       => false
      }

      // the fact's histogram blob on the range column, keyed (fk) —
      // or, under a residual fact filter, the COMPOSITE (fk,
      // residCols...) blob: matching entries collapse per fk (bucket
      // counts add — one grid required, mismatches refuse; an entry
      // whose rider is missing or overflow-poisoned refuses rather
      // than inventing zeros). A fk whose every entry prunes
      // contributes nothing — the rows the filter drops.
      val lookupCols = fk +: residCols
      def residMatch(k: Seq[Option[String]]): Boolean =
        k.head.isDefined && resid.zipWithIndex.forall {
          case ((_, vs), i) => k(i + 1).exists(vs.contains)
        }
      val prunedHist: Seq[(Seq[Option[String]], Array[Byte])] =
        groupedBlobFor(fact, c, "histogram_grouped", lookupCols) match {
          case Some(entries) => entries.filter(e => residMatch(e._1))
          case None          => return None
        }
      val histMap: Map[String, Array[Byte]] =
        try prunedHist.groupBy(_._1.head.get).view
          .mapValues(es => es.map(_._2).reduce(graft.sketch.Histogram.mergeBytes)).toMap
        catch { case _: IllegalArgumentException => return None }
      val sumsByKey: Map[String, Map[Int, BigInt]] =
        if (!needSums) Map.empty
        else if (!riderInSync(fact, c, "histogram_grouped",
            "histsum_grouped"))
          return None // rider a batch behind the counts
        else groupedBlobFor(fact, c, "histsum_grouped", lookupCols) match {
          case Some(se) =>
            val byTuple = se.toMap
            prunedHist.filter(_._2.nonEmpty).groupBy(_._1.head.get)
              .view.mapValues { es =>
                var bs = Map.empty[Int, BigInt]
                es.foreach { case (k, _) =>
                  byTuple.get(k) match {
                    case None => return None // rider lacks the cell
                    case Some(inner) =>
                      val m = graft.sketch.GroupedHll.unpack(inner)
                        .collect { case (Some(bk), bb) =>
                          bk.toInt -> BigInt(bb)
                        }
                      // empty sums under positive mass = the streaming
                      // overflow poison — refuse, never a silent zero
                      if (m.isEmpty) return None
                      m.foreach { case (i, v0) =>
                        bs = bs.updated(i, bs.getOrElse(i, BigInt(0)) + v0)
                      }
                  }
                }
                bs
              }.toMap
          case None => return None
        }
      val keySet = histMap.keySet

      // dim scan restricted to the blob's keys, exactly like the star
      // serve: real dim-tree joins, dim-side WHERE, broadcast
      // semi-join on the key set, hard collect cap
      val keys = keySet.toSeq
      val dimRows: Seq[org.apache.spark.sql.Row] =
        if (keys.isEmpty) Nil
        else {
          import org.apache.spark.sql.functions.{broadcast, col}
          val keysDf = {
            import spark.implicits._
            keys.toDF("__k")
          }
          val cap = keys.size * 4 + 1
          val scan = try {
            var dimDf = spark.table(dimRoot)
            dimEdges.foreach { case (p, pks2, c2, cks2) =>
              val cond2 = pks2.zip(cks2)
                .map { case (a, b) => s"$a = $b" }.mkString(" AND ")
              dimDf = dimDf.join(spark.table(c2),
                org.apache.spark.sql.functions.expr(cond2))
            }
            rest.reduceOption(
              org.apache.spark.sql.catalyst.expressions.And)
              .foreach(r => dimDf = dimDf.where(r.sql))
            dimDf
              .select(col(pk).cast("string").as("__k") +:
                gNames.map(col): _*)
              .join(broadcast(keysDf), "__k")
              .select(org.apache.spark.sql.functions.col("__k") +:
                gNames.map(col): _*)
              .limit(cap).collect()
          } catch { case scala.util.control.NonFatal(_) => return None }
          if (scan.length >= cap) return None
          scan.toSeq
        }

      // fold each dim row's fk histogram (and rider) into its cell:
      // bucket counts add on ONE grid (Histogram.merge throws on a
      // grid mismatch — per-group-grid builds refuse multi-fk cells),
      // rider sums add exactly (BigInt). An all-NULL fk (empty
      // payload) contributes nothing; a poisoned rider (empty sum map
      // under positive mass) refuses the serve.
      val cells = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], (Array[Byte], Map[Int, BigInt])]
      try dimRows.foreach { r =>
        val k = r.getString(0)
        if (keySet.contains(k)) {
          val cell: Seq[Any] = (1 to gNames.size).map(r.get)
          val (hb, sb) = cells.getOrElse(cell, (Array.emptyByteArray,
            Map.empty[Int, BigInt]))
          val b = histMap(k)
          val merged = graft.sketch.Histogram.mergeBytes(hb, b)
          val sums =
            if (!needSums || b.isEmpty) sb
            else sumsByKey.get(k) match {
              case None                     => return None
              case Some(m) if m.isEmpty     => return None
              case Some(m) =>
                m.foldLeft(sb) { case (acc, (i, v0)) =>
                  acc.updated(i, acc.getOrElse(i, BigInt(0)) + v0)
                }
            }
          cells(cell) = (merged, sums)
        }
      } catch { case _: IllegalArgumentException => return None }

      // one range-arithmetic pass per cell — the single-table
      // grouped-range serve's estimates over the merged masses
      val served = cells.toSeq.flatMap { case (cell, (hb, bs)) =>
        if (hb.isEmpty) None
        else {
          val h = graft.sketch.Histogram.deserialize(hb)
          val (est, bnd) = h.rangeCount(lowerB, upperB)
          if (est <= 0.0) None
          else {
            val cntRel = bnd / math.max(1.0, est)
            val (sumEst, sumBnd): (Option[Double], Double) =
              if (!needSums) (None, 0.0)
              else {
                def d(i: Int): Double = new java.math.BigDecimal(
                  bs.getOrElse(i, BigInt(0)).bigInteger, 4).doubleValue
                h.rangePositions(lowerB, upperB) match {
                  case None => (None, 0.0)
                  case Some((pa, pb, ia, ib)) if ia == ib =>
                    (Some(d(ia) * (pb - pa)), math.abs(d(ia)))
                  case Some((pa, pb, ia, ib)) =>
                    var interior = BigInt(0)
                    var j = ia + 1
                    while (j < ib) {
                      interior += bs.getOrElse(j, BigInt(0)); j += 1
                    }
                    val interiorD = new java.math.BigDecimal(
                      interior.bigInteger, 4).doubleValue
                    (Some((interiorD +
                      d(ia) * ((ia + 1).toDouble - pa)) +
                      d(ib) * (pb - ib.toDouble)),
                      math.abs(d(ia)) + math.abs(d(ib)))
                }
              }
            val sumRel = sumEst match {
              case Some(s0) if s0 != 0.0   => sumBnd / math.abs(s0)
              case Some(_) if sumBnd > 0.0 => Double.PositiveInfinity
              case _                       => 0.0
            }
            Some((cell, h, est, cntRel, sumEst, sumRel))
          }
        }
      }
      // ungrouped band with no estimated in-range mass: exact
      // execution still returns one row (count 0, sums NULL)
      val emptyUngrouped: Seq[org.apache.spark.sql.Row] =
        if (gNames.isEmpty && served.isEmpty)
          Seq(org.apache.spark.sql.Row.fromSeq(parts.map {
            case Right((_, CntA)) => Double.box(0.0)
            case _                => null
          }))
        else Nil
      val rows = emptyUngrouped ++ served.map { case (cell, h, est, _, sumEst, _) =>
        org.apache.spark.sql.Row.fromSeq(parts.map {
          case Left((_, i))        => cell(i)
          case Right((_, CntA))    => Double.box(est)
          case Right((_, SumA))    => sumEst.map(Double.box).orNull
          case Right((_, AvgA))    =>
            sumEst.map(s0 => Double.box(s0 / est)).orNull
          case Right((_, PctA(p))) =>
            h.rangePercentile(lowerB, upperB, p).map(Double.box).orNull
        })
      }
      val schema = StructType(parts.map {
        case Left((n, i)) =>
          StructField(n, attrFields(i).dataType, nullable = true)
        case Right((n, a)) =>
          StructField(n, DoubleType, nullable = a != CntA)
      })
      val maxCnt = served.map(_._4).foldLeft(0.0)(math.max)
      val maxSum = served.map(_._6).foldLeft(0.0)(math.max)
      val bucketTerm = parts.collectFirst {
        case Right((_, PctA(_))) => served.map { case (_, h, _, _, _, _) =>
          1.0 / h.buckets }.foldLeft(0.0)(math.max)
      }.getOrElse(0.0)
      val err = parts.map {
        case Right((_, CntA))    => maxCnt
        case Right((_, SumA))    => maxSum
        case Right((_, AvgA))    => maxCnt + maxSum
        case Right((_, PctA(_))) => bucketTerm + maxCnt
        case Left(_)             => 0.0
      }.foldLeft(0.0)(math.max)
      import scala.jdk.CollectionConverters._
      Some((spark.createDataFrame(rows.asJava, schema), fact,
        s"star range aggregate over $fact ⋈ ${dims.mkString(" ⋈ ")}: " +
          s"$c band interpolated from the fact's fk-keyed histogram" +
          (if (needSums) " + sum rider" else "") +
          s" blobs on $fk (${keys.size} fact groups; bucket counts and " +
          "decimal sums merged per cell; dim-side-only scan, fact " +
          "never read)", err))
    }
    tables.view.flatMap(t => tryOrient(t)).headOption
  }

}
