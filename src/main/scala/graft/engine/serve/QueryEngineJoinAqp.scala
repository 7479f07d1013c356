package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{MetaCatalog, SampleNaming}
import graft.plan._

/** [[QueryEngine]]'s JOIN-AQP family, split out mechanically in round 13
  * (the flagship file had grown to 7,300 lines): fact-side sampled joins,
  * universe (join-key lottery) sampling, AGMS join-size estimation, and
  * the salted-exact skew route. Pure code motion — behavior is pinned by
  * the q68/q77-q80/q82/q93/q95/q96 oracles and the engine specs.
  */
private[engine] trait QueryEngineJoinAqp { self: QueryEngine =>
  import self._

  /** Opt-in AQP over a join (beyond the reference's single-table
    * planner): pick the largest table by rowcount as the fact side,
    * sample it inline (systematic keyed-hash when a key is given, else
    * seeded Bernoulli), and HT-weight the aggregates. Dims join at
    * full fidelity, so the join runs on ~f of the fact rows — the
    * shuffle/CPU saving join AQP exists for (q68's semantics through
    * the full engine path). Returns None when the error model says the
    * achievable fraction cannot meet the tolerance — or when the plan
    * shape is one fact-side sampling cannot treat soundly: CTEs (the
    * WITH name parses as a relation, and the fact table may also occur
    * inside the CTE body where a second substitution would
    * double-sample), names that do not resolve in the session catalog,
    * and self-joins of the fact table (both occurrences would be
    * substituted at fraction f under a single 1/f weight). Any of
    * those — and any unexpected analysis failure — falls back to the
    * exact path instead of throwing out of engine.query.
    */
  private[engine] def sampledJoin(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      features: QueryFeatures, opts: Options,
      auto: Boolean = false): Option[AqeResult] = try {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    import scala.util.control.NonFatal
    // Automatic mode pre-gate, BEFORE anything that could cost a scan:
    // without a stored AGMS sketch on at least two of the query's
    // tables there is no cardinality evidence, and a plain multi-table
    // query must not pay plan-time count() scans for a decision that
    // cannot be made anyway.
    if (auto && features.tables.count(t =>
        catalog.listSketches(Some(t)).exists(_.sketchType == "agms")) < 2)
      return None
    if (parsed.collectFirst { case w: UnresolvedWith => w }.isDefined)
      return None
    // DISTINCT aggregates: row sampling cannot serve them (rows of one
    // key sample independently), but the UNIVERSE key-lottery can serve
    // COUNT(DISTINCT key) over the full lottery-key tuple — each
    // distinct key survives with probability exactly p, so the count
    // scales unbiased by 1/p. Collect them here; the universe branch
    // validates the counted columns against the join keys, and every
    // non-universe path refuses when any distinct aggregate exists.
    val distinctFns = parsed.collect { case n => n.expressions }.flatten
      .flatMap(_.collect {
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.isDistinct => f
      })
    // resolve-before-count: an unresolvable name must not cost an
    // AnalysisException (or a scan) at plan time
    val resolvable = features.tables.filter { t =>
      try spark.catalog.tableExists(t) catch { case NonFatal(_) => false }
    }
    if (resolvable.sizeIs < 2) return None
    val sizes = resolvable.map { t =>
      t -> catalog.statsFor(t).map(_.rowCount).getOrElse {
        val n = spark.table(t).count()
        catalog.upsertTableStats(t, n)
        n
      }
    }
    val (fact, factSize) = sizes.maxBy(_._2)
    // Automatic mode: consult the stored AGMS pair for the join-key
    // columns. The decision is costed on the ESTIMATED JOIN OUTPUT J,
    // not the fact size: fact-side sampling at fraction f yields ~f*J
    // join rows, so the HT error model is sqrt(1/(f*J)) — accept only
    // when J is large enough that approximation pays (>= MinAutoJoinRows)
    // and the achievable fraction meets the tolerance; refuse otherwise.
    val agmsJoinRows: Option[Long] =
      if (!auto) None
      else agmsJoinEstimate(parsed, sizes, fact) match {
        case some @ Some(j) if j >= MinAutoJoinRows => some
        case _                                      => return None
      }
    // The relation substitution matches on the LAST name part
    // (SampleRewrite.rewriteRelation); require a plain unqualified fact
    // name with exactly one occurrence so exactly one scan is sampled.
    if (fact.contains(".")) return None
    if (parsed.collect {
      case r: UnresolvedRelation
          if r.multipartIdentifier.last.equalsIgnoreCase(fact) => r
    }.sizeIs != 1) return None
    // Error-model base: the estimated join output when AGMS evidence
    // exists (auto), else the fact size (opt-in — the q77 contract).
    val nEff = agmsJoinRows.getOrElse(factSize)
    val tierF = StrategyChooser.sampleFraction(
      StrategyChooser.Sample, factSize, opts.maxRelError).getOrElse(return None)
    val fNeeded = 1.0 /
      (opts.maxRelError * opts.maxRelError * math.max(1L, nEff))
    val inlineFrac = math.min(0.5, math.max(tierF, fNeeded))
    // Universe (both-side) sampling — the two-big-tables case fact-side
    // sampling cannot help (the other big side would still scan in
    // full): when exactly TWO tables exceed UniverseMinRows (the fact
    // and one partner) and the equi-join pairs are identifiable, put
    // the SAME keyed-hash lottery on both big sides' shared join keys.
    // Equal keys hash identically, so a join row survives iff its key
    // does — the join output is a p-sample of itself under ONE 1/p HT
    // scale, and both big scans shrink to ~p. Any remaining SMALL dims
    // join the fact exact at full fidelity (they broadcast cheaply;
    // every full-join row with a winning key still survives, so the
    // single scale stays unbiased). Deterministic membership keeps it
    // oracle-checkable (q79 two-table, q95 two-big + dim).
    val bigSides = sizes.filter(_._2 >= UniverseMinRows)
    if (bigSides.sizeIs == 2 && bigSides.exists(_._1 == fact)) {
      val partner = bigSides.collectFirst {
        case (t, _) if t != fact => t }.get
      // composite equi-keys hash as one tuple on both sides — the
      // lottery stays join-compatible (joinTreeEdges aligns the pair).
      // The partner must join the fact DIRECTLY (the lottery key is
      // their shared equi-key); small dims may hang off either big
      // side — they join exact, so survival stays key-determined.
      joinTreeEdges(parsed, sizes.map(_._1), fact)
        .flatMap(_.collectFirst {
          case (p, pks, c, cks) if p == fact && c == partner =>
            (pks, cks, c)
        }) match {
        case Some((factKey, partnerKey, _))
            if !partner.contains(".") && parsed.collect {
              case r: UnresolvedRelation
                  if r.multipartIdentifier.last.equalsIgnoreCase(partner) => r
            }.sizeIs == 1 &&
            // every distinct aggregate must be COUNT(DISTINCT <full
            // lottery-key tuple of one side>) — a single component of a
            // composite key (or any non-key column) does NOT scale by
            // 1/p and refuses the whole join AQP attempt below
            {
              val keySets = Seq(factKey, partnerKey)
                .map(_.map(_.toLowerCase).toSet)
              distinctFns.forall { f =>
                f.nameParts.last.equalsIgnoreCase("count") &&
                  f.filter.isEmpty &&
                  f.arguments.forall(_.isInstanceOf[
                    org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]) && {
                    val cols = f.arguments.map(
                      _.asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]
                        .nameParts.last.toLowerCase).toSet
                    keySets.contains(cols)
                  }
              }
            } =>
          val scaleDistinct = distinctFns.nonEmpty
          // Prefer MATERIALIZED universe samples on both sides (same
          // fraction -> join-compatible membership): the lottery hash
          // is a full-scan cost paid once at sample creation, not per
          // query — the serving shape at 100 TB. Falls back to the
          // inline both-sides filter when no matching pair exists.
          val matPair = universePairFor(fact, factKey, partner, partnerKey)
            .filter { case (a, b) => a.fraction == b.fraction }
            .filter { case (a, _) =>
              math.sqrt(1.0 / math.max(1.0, a.fraction * nEff)) <=
                opts.maxRelError * (1 + 1e-9)
            }
          matPair match {
            case Some((a, b)) =>
              val p = a.fraction
              val plan2 = SampleRewrite.rewriteUniverseMaterialized(parsed,
                Map(fact -> a.sampleTable, partner -> b.sampleTable), p,
                opts.ciColumns, scaleKeyDistinct = scaleDistinct)
              val df = org.apache.spark.sql.GraftPlanExec.ofRows(spark, plan2)
              val (spd, _) = StrategyChooser.predict(
                StrategyChooser.Sample, factSize, Some(p))
              return Some(AqeResult(df, "sample", "sample_universe",
                f"universe join sampling: both big tables exceed $UniverseMinRows%d rows, " +
                  f"answered from materialized universe samples ${a.sampleTable} ⋈ ${b.sampleTable} (p=$p%.4f, single 1/p HT scale" +
                  (if (sizes.sizeIs > 2) "; small dims joined exact)" else ")"),
                0.8, spd, math.sqrt(1.0 / math.max(1.0, p * nEff)), Some(p),
                Some(a.sampleTable),
                Seq(s"both big relations substituted by materialized universe samples (no scan of either base table)",
                  "aggregates rewritten to Horvitz-Thompson weighted form (single 1/p scale)") ++
                  (if (scaleDistinct)
                    Seq("COUNT(DISTINCT join-key) scaled by 1/p (key-lottery membership: each distinct key survives with probability exactly p)")
                  else Nil)))
            case None =>
          }
          val threshold = math.max(1, math.round(inlineFrac * 10000).toInt)
          val p = threshold / 10000.0
          val estErrU = math.sqrt(1.0 / math.max(1.0, p * nEff))
          if (estErrU <= opts.maxRelError * (1 + 1e-9)) {
            val plan2 = SampleRewrite.rewriteUniverse(parsed,
              Map(fact -> factKey, partner -> partnerKey), p, opts.ciColumns,
              scaleKeyDistinct = scaleDistinct)
            val df = org.apache.spark.sql.GraftPlanExec.ofRows(spark, plan2)
            val (spd, _) = StrategyChooser.predict(
              StrategyChooser.Sample, factSize, Some(p))
            return Some(AqeResult(df, "sample", "sample_universe",
              f"universe join sampling: both big tables exceed $UniverseMinRows%d rows, " +
                f"shared join-key lottery p=$p%.4f on both sides (single 1/p HT scale" +
                (if (sizes.sizeIs > 2) "; small dims joined exact)" else ")"),
              0.8, spd, estErrU, Some(p), None,
              Seq(s"both big relations filtered by the shared key lottery " +
                s"graft_h60('uv:'||key) % 10000 < $threshold",
                "aggregates rewritten to Horvitz-Thompson weighted form (single 1/p scale)") ++
                (if (scaleDistinct)
                  Seq("COUNT(DISTINCT join-key) scaled by 1/p (key-lottery membership: each distinct key survives with probability exactly p)")
                else Nil)))
          }
        case _ =>
      }
    }
    // Row sampling cannot serve distinct aggregates — only the universe
    // key lottery above can, and it either served or refused by now.
    if (distinctFns.nonEmpty) return None
    // Prefer a materialized sample of the fact (no fact scan at all —
    // the 100 TB path) when one meets the tolerance; an explicit
    // systematicKey requests deterministic inline membership instead.
    val decision: Planner.SamplingDecision = catalog
      .bestUniformSample(fact)
      .filter(_ => opts.systematicKey.isEmpty)
      .filter(s => math.sqrt(1.0 / math.max(1.0, s.fraction * nEff))
        <= opts.maxRelError * (1 + 1e-9))
      .map(s => Planner.ReadSampleTable(s.sampleTable, s.fraction))
      .getOrElse(opts.systematicKey
        .map(k => Planner.ReadInlineSystematic(inlineFrac, k))
        .getOrElse(Planner.ReadInlineSample(inlineFrac, seed)))
    val frac = decision.fraction.get
    val estErr = math.sqrt(1.0 / math.max(1.0, frac * nEff))
    if (estErr > opts.maxRelError * (1 + 1e-9)) return None
    val d = SampleRewrite.Directive(fact, decision,
      weight = Some(SampleRewrite.ConstWeight(frac)),
      rewriteDistinctToHll = false, hllRsd = None,
      addCiColumns = opts.ciColumns)
    val df = SampleRewrite.rewrite(spark, parsed, d)
    val (spd, err) = StrategyChooser.predict(
      StrategyChooser.Sample, factSize, Some(frac))
    val (tbl, desc) = decision match {
      case Planner.ReadSampleTable(n, _) =>
        (Some(n), s"fact side $fact answered from materialized sample $n")
      case Planner.ReadInlineSystematic(_, k) =>
        (None, f"fact side $fact sampled systematically (keyed-hash on $k) at fraction=$frac%.4f")
      case _ =>
        (None, f"fact side $fact sampled (Bernoulli, seed=$seed) at fraction=$frac%.4f")
    }
    val reason = agmsJoinRows match {
      case Some(j) =>
        f"join AQP (automatic, costed): stored AGMS sketches estimate " +
          f"join size $j%d >= $MinAutoJoinRows%d and error $estErr%.3f fits " +
          f"tolerance ${opts.maxRelError}%.3f; largest table $fact sampled, dims at full fidelity"
      case None =>
        s"join AQP (beyond reference): largest table $fact sampled, dims at full fidelity"
    }
    Some(AqeResult(df, "sample", "sample_join", reason,
      0.8, spd, err, Some(frac), tbl,
      Seq(desc, "aggregates rewritten to Horvitz-Thompson weighted form")))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Smallest AGMS-estimated join output worth approximating — below
    * this, exact is already trivially cheap (the same spirit as the
    * chooser's tableSize<=1000 exact rule).
    */
  private[engine] val MinAutoJoinRows = 1000L

  /** Both-sides-big threshold for universe sampling: below this a dim
    * side scans/broadcasts cheaply and fact-side sampling is the better
    * plan (it keeps the dim exact).
    */
  private[engine] val UniverseMinRows = 1000000L

  /** The parsed query's equi-join EDGES oriented into a tree rooted at
    * `fact`, attributed via the session catalog's column lists
    * (metadata only, no scan): one (parent, parentKeys, child,
    * childKeys) entry per join, parent = the endpoint nearer the fact,
    * keys ALIGNED pairwise — a composite `ON a.k1 = b.k1 AND
    * a.k2 = b.k2` condition yields multi-element key seqs. Covers the
    * star (every edge touches the fact) AND the snowflake chain
    * (fact → dim → subdim). None on any shape the join-sampling
    * decisions are not sound for: a join count that isn't tables-1, a
    * non-equi conjunct, a key column resolvable on zero or several of
    * the query's tables, a join mixing table pairs, a disconnected or
    * cyclic shape, or a pair joined twice.
    *
    * CANONICAL pair order: aligned pairs are sorted by the key names
    * of the edge's alphabetically-FIRST table — a rule independent of
    * conjunct order, join direction, and which endpoint is the fact,
    * so builders, advisor recipes, and every lookup agree on the same
    * composite sketch/sample name. (For every fact-adjacent edge whose
    * fact sorts first — e.g. lineitem ⋈ orders — this equals the
    * previous fact-keys-sorted rule.)
    */
  private[engine] def joinTreeEdges(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      tables: Seq[String], fact: String)
      : Option[Seq[(String, Seq[String], String, Seq[String])]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = parsed.collect { case j: Join => j }
    if (tables.sizeIs < 2 || joins.sizeIs != tables.size - 1) return None
    def cols(t: String) = spark.table(t).columns.map(_.toLowerCase).toSet
    val colsBy = tables.map(t => t -> cols(t)).toMap
    val perJoin = joins.map { j =>
      j.condition.flatMap { cond =>
        // every conjunct must be attr = attr between exactly one
        // UNAMBIGUOUS pair of the query's tables (the same pair across
        // the join's conjuncts)
        val pairs = conjunctsOf(cond).map {
          case EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute) =>
            val (a, b) = (x.nameParts.last, y.nameParts.last)
            val aT = tables.filter(t => colsBy(t).contains(a.toLowerCase))
            val bT = tables.filter(t => colsBy(t).contains(b.toLowerCase))
            (aT, bT) match {
              case (Seq(ta), Seq(tb)) if ta != tb => Some((ta, a, tb, b))
              case _                              => None
            }
          case _ => None
        }
        if (pairs.isEmpty || pairs.exists(_.isEmpty)) None
        else {
          val ps = pairs.flatten
          if (ps.map(p => Set(p._1, p._3)).distinct.sizeIs != 1) None
          else {
            // orient each conjunct onto the same (ta, tb) axis, then
            // canonicalize pair order by the alphabetically-first
            // table's key names
            val (ta, tb) = (ps.head._1, ps.head._3)
            val aligned = ps.map { case (x1, k1, _, k2) =>
              if (x1 == ta) (k1, k2) else (k2, k1)
            }
            val (first, firstKeys, other, otherKeys) =
              if (ta.toLowerCase <= tb.toLowerCase)
                (ta, aligned.map(_._1), tb, aligned.map(_._2))
              else (tb, aligned.map(_._2), ta, aligned.map(_._1))
            val sorted = firstKeys.zip(otherKeys).sortBy(_._1.toLowerCase)
            Some((first, sorted.map(_._1), other, sorted.map(_._2)))
          }
        }
      }
    }
    if (perJoin.exists(_.isEmpty)) return None
    val edges = perJoin.flatten
    // BFS from the fact: the edges must form a spanning tree (every
    // table reached exactly once); orientation = parent nearer fact
    val adj = edges
      .flatMap(e => Seq(e._1 -> e, e._3 -> e))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val visited = scala.collection.mutable.Set(fact)
    var frontier = List(fact)
    val oriented = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[String], String, Seq[String])]
    while (frontier.nonEmpty) {
      val t = frontier.head
      frontier = frontier.tail
      adj.getOrElse(t, Nil).foreach { case (a, ak, b, bk) =>
        val (child, parentKeys, childKeys) =
          if (a == t) (b, ak, bk) else (a, bk, ak)
        if (!visited.contains(child)) {
          visited += child
          frontier ::= child
          oriented += ((t, parentKeys, child, childKeys))
        }
      }
    }
    if (visited.size != tables.size || oriented.size != edges.size)
      return None
    Some(oriented.toSeq)
  }

  /** The STAR restriction of [[joinTreeEdges]] — every join touches
    * the fact: one (factKeys, dimKeys, dim) entry per dim. The shape
    * the universe-lottery partner lookup and the q93 composite join
    * contract are defined on.
    */
  private[engine] def joinKeyPairs(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      tables: Seq[String], fact: String)
      : Option[Seq[(Seq[String], Seq[String], String)]] =
    joinTreeEdges(parsed, tables, fact)
      .filter(_.forall(_._1 == fact))
      .map(_.map { case (_, fks, child, cks) => (fks, cks, child) })

  /** The catalog name an AGMS sketch over a (possibly composite) key
    * is stored under — single keys keep the bare column name,
    * composites the comma-joined list (SketchOps.createAgms).
    */
  private[engine] def agmsKeyName(keys: Seq[String]): String = keys.mkString(",")

  /** A fresh stored AGMS pair over the ALIGNED key pair, under ANY
    * shared component order: builders (the HTTP route included) may
    * store composite keys in whatever order the caller listed them, as
    * long as BOTH sides used the SAME aligned order — the tuple hash
    * is order-sensitive, but consistently-permuted pairs hash
    * compatibly. The canonical order is probed first (one lookup, the
    * common case); otherwise each stored fact-side order induces the
    * partner order through the ON-clause alignment and the partner is
    * looked up under it, so an HTTP-built natural-order pair can never
    * become permanently unservable.
    */
  private[engine] def agmsPairFor(tableA: String, keysA: Seq[String],
      tableB: String, keysB: Seq[String])
      : Option[(catalog.SketchInfo, catalog.SketchInfo)] = {
    def fresh(t: String, key: String): Option[catalog.SketchInfo] =
      catalog.getSketch(t, key, "agms").filter(sketchIsFresh(t, _))
    val canonical = for {
      sa <- fresh(tableA, agmsKeyName(keysA))
      sb <- fresh(tableB, agmsKeyName(keysB))
    } yield (sa, sb)
    canonical.orElse {
      val pairs = keysA.zip(keysB)
      catalog.listSketches(Some(tableA)).iterator
        .filter(_.sketchType == "agms")
        .filter(sketchIsFresh(tableA, _))
        .flatMap { sa =>
          val order = sa.columnName.split(",").map(_.trim).toSeq
          if (order.map(_.toLowerCase).sorted !=
              keysA.map(_.toLowerCase).sorted) None
          else {
            val alignedB = order.map(k =>
              pairs.find(_._1.equalsIgnoreCase(k)).map(_._2))
            if (alignedB.exists(_.isEmpty)) None
            else fresh(tableB, alignedB.flatten.mkString(","))
              .map(sb => (sa, sb))
          }
        }
        .nextOption()
    }
  }

  /** The universe-sample twin of [[agmsPairFor]]: a fresh materialized
    * pair over the aligned join key under any shared component order
    * (canonical first). Fraction equality is the caller's check.
    */
  private[engine] def universePairFor(fact: String, factKeys: Seq[String],
      partner: String, partnerKeys: Seq[String])
      : Option[(catalog.SampleInfo, catalog.SampleInfo)] = {
    val canonical = for {
      a <- catalog.universeSampleFor(fact, agmsKeyName(factKeys))
      b <- catalog.universeSampleFor(partner, agmsKeyName(partnerKeys))
    } yield (a, b)
    canonical.orElse {
      val pairs = factKeys.zip(partnerKeys)
      catalog.samplesFor(fact).iterator
        .filter(_.strataColumn.exists(_.startsWith("__universe__")))
        .filter(catalog.sampleIsFresh)
        .flatMap { a =>
          val order = a.strataColumn.get.stripPrefix("__universe__")
            .split(",").map(_.trim).toSeq
          if (order.map(_.toLowerCase).sorted !=
              factKeys.map(_.toLowerCase).sorted) None
          else {
            val alignedB = order.map(k =>
              pairs.find(_._1.equalsIgnoreCase(k)).map(_._2))
            if (alignedB.exists(_.isEmpty)) None
            else catalog
              .universeSampleFor(partner, alignedB.flatten.mkString(","))
              .map(b => (a, b))
          }
        }
        .nextOption()
    }
  }

  /** Estimate the join output from stored AGMS sketches, with NO scan.
    * Two tables: the classic AGMS dot-product estimate of |F ⋈ D| over
    * the (possibly composite) key pair. A TREE of joins (star,
    * snowflake chain, or both): |F| · Π over oriented edges of
    * (J_edge / |parent(edge)|) — each pairwise size from its own AGMS
    * pair, composed under the independence assumption. For a star
    * every parent is the fact (the standard star-join cardinality
    * model); a fact → dim → subdim chain multiplies the subdim edge's
    * fan-out relative to ITS parent dim. Requires a fresh AGMS sketch
    * per edge endpoint with matching bucket counts and tuple encoding;
    * any missing piece returns None and the decision falls back to
    * reference-parity exact.
    */
  private[engine] def agmsJoinEstimate(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      sizes: Seq[(String, Long)], fact: String): Option[Long] = {
    val sizeMap = sizes.toMap
    // both sides must have hashed their key tuples under the SAME
    // rendering (composite sketches record "enc"; absent = the
    // single-key raw-cast contract) or the dot product is meaningless
    def enc(s: catalog.SketchInfo): Option[String] =
      s.param("enc")
    joinTreeEdges(parsed, sizes.map(_._1), fact).flatMap { edges =>
      val ests = edges.map { case (parent, pks, child, cks) =>
        for {
          (sp, sc) <- agmsPairFor(parent, pks, child, cks)
          if enc(sp) == enc(sc)
          est <- graft.sketch.Agms.dotEstimate(sp.data, sc.data)
        } yield (parent, est)
      }
      if (ests.exists(_.isEmpty)) None
      else {
        val j = ests.flatten.foldLeft(
          sizeMap(fact).toDouble) { case (acc, (parent, je)) =>
          acc * (je.toDouble / math.max(1.0, sizeMap(parent).toDouble))
        }
        Some(math.round(j))
      }
    }
  }

  /** The salted-plan gate: a single-table GROUP BY whose grouping
    * column has catalog skew stats above the threshold re-plans via
    * SaltRewrite (exact semantics; see its scaladoc for the supported
    * shape — None falls back to the plain plan).
    */
  private[engine] def saltedExact(
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      features: QueryFeatures): Option[DataFrame] =
    for {
      table <- features.tableName.filter(_ => features.isSingleTable)
      // a grouping entry matches skew stats either as a bare column
      // (strip any table qualifier/backticks) or as the full normalized
      // expression SQL (profileKeySkew stores expression keys that way)
      if features.groupByColumns
        .flatMap(g => Seq(g,
          g.split("\\.").last.stripPrefix("`").stripSuffix("`")).distinct)
        .exists(c => catalog.keySkewFor(table, c)
          .exists(_.topSharePpm >= SaltRewrite.SkewPpmThreshold))
      plan <- SaltRewrite(parsed)
    } yield org.apache.spark.sql.GraftPlanExec.ofRows(spark, plan)

}
