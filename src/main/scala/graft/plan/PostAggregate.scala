package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedHaving}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit}

/** ORDER BY / LIMIT / HAVING peel for the catalog-serve paths.
  *
  * The no-scan serves (`QueryEngine.stored*Answer`) match a bare parsed
  * `Aggregate`; the dashboard form of the same query wraps it —
  * `SELECT g, count(*) AS c FROM t GROUP BY g HAVING c >= n ORDER BY c
  * DESC LIMIT k` parses as GlobalLimit(LocalLimit(Sort(UnresolvedHaving(
  * Aggregate)))). Those wrappers don't change WHAT the aggregate
  * computes, only which of its (bounded, blob-resident) rows are kept
  * and in what order — so the serve answers the inner aggregate from
  * the catalog and the peeled clauses replay driver-side over the
  * served rows, in SQL's own evaluation order (HAVING → ORDER BY →
  * LIMIT). Top-k heavy-hitter dashboards (`ORDER BY cnt DESC LIMIT k`)
  * become zero-scan.
  *
  * Replayability gates (anything else refuses the peel, so the query
  * falls through to the exact/sampling paths unchanged):
  *  - every HAVING reference and sort key must name an OUTPUT of the
  *    aggregate — by alias, by ordinal (`ORDER BY 2`), or by the
  *    aggregate expression's own rendering (`ORDER BY count(*)` when
  *    `count(*) AS c` is selected);
  *  - HAVING predicates may only touch NON-group-key outputs (group-key
  *    restriction is a WHERE, which the serves already dispatch; served
  *    keys are the builders' STRING rendering, so comparing them as the
  *    underlying type could diverge);
  *  - sort keys on a group-key output are allowed only when the caller
  *    proves the source column's served representation sorts in the
  *    source type's own order (`keySortable` — string and integral
  *    columns, whose keys the serves emit TYPED; anything else could
  *    sort lexicographically and change which rows a LIMIT keeps);
  *  - HAVING supports literal comparisons (=, <=>, <, <=, >, >=, both
  *    operand orders), IN over literals, IS [NOT] NULL, AND/OR/NOT.
  */
object PostAggregate {

  final case class Post(having: Option[Column], order: Seq[Column],
      limit: Option[Int]) {
    def apply(df: DataFrame): DataFrame = {
      var out = df
      having.foreach(h => out = out.where(h))
      if (order.nonEmpty) out = orderLocal(out, order)
      limit.foreach(n => out = out.limit(n))
      out
    }
  }

  /** `df.orderBy(order)` for an answer whose rows already sit on the
    * driver. The sort is resolved by the DataFrame's own analyzer and
    * its rows are ordered with Catalyst's `InterpretedOrdering` (a
    * stable sort), so the result is again a `LocalRelation` and
    * collects without a Spark job; a planned global sort would start
    * one even over a handful of rows. A `df` that does not optimize to
    * a `LocalRelation` keeps the planned sort.
    */
  def orderLocal(df: DataFrame, order: Seq[Column]): DataFrame = {
    val sorted = df.orderBy(order: _*)
    (sorted.queryExecution.analyzed, df.queryExecution.optimizedPlan) match {
      case (Sort(so, true, child, _), LocalRelation(out, rows, false, _))
          if out.map(_.dataType) == child.output.map(_.dataType) =>
        val ordering = new InterpretedOrdering(
          so.map(BindReferences.bindReference(_, child.output)))
        org.apache.spark.sql.GraftPlanExec.ofRows(df.sparkSession,
          LocalRelation(child.output, rows.sorted(ordering)))
      case _ => sorted
    }
  }

  /** One aggregate output: its name, whether it projects a group key,
    * and the SQL rendering of its source expression (for matching
    * `ORDER BY count(*)` against `count(*) AS c`).
    */
  private final case class Out(name: String, isKey: Boolean,
      srcSql: Option[String], keySource: Option[String])

  def peel(parsed: LogicalPlan, keySortable: String => Boolean)
      : (LogicalPlan, Option[Post]) = {
    val noPost = (parsed, None)
    val (limit, afterLimit) = parsed match {
      case GlobalLimit(Literal(n: Int, _), LocalLimit(Literal(m: Int, _), c))
          if n == m && n >= 0 => (Some(n), c)
      case p => (None, p)
    }
    val (order, afterSort) = afterLimit match {
      case Sort(so, true, c, _) => (so, c)
      case p                    => (Seq.empty[SortOrder], p)
    }
    val (having, inner) = afterSort match {
      case UnresolvedHaving(cond, agg: Aggregate) => (Some(cond), agg)
      case p                                      => (None, p)
    }
    if (limit.isEmpty && order.isEmpty && having.isEmpty) return noPost
    def translate(inner0: LogicalPlan, outs: Seq[Out])
        : (LogicalPlan, Option[Post]) = {
      val havingCol = having.map(translateCond(_, outs))
      val orderCols = order.map(translateSort(_, outs, keySortable))
      if (havingCol.exists(_.isEmpty) || orderCols.exists(_.isEmpty)) noPost
      else (inner0, Some(Post(havingCol.flatten, orderCols.flatten, limit)))
    }
    inner match {
      case agg: Aggregate =>
        outputsOf(agg) match {
          case Some(outs) => translate(agg, outs)
          case None       => noPost
        }
      // SELECT DISTINCT over plain attributes is the keys-only GROUP
      // BY (the distinct-keys serve's other spelling): every output is
      // a group key, so sort keys gate on keySortable and HAVING
      // always refuses (aggRef rejects key outputs)
      case d @ Distinct(Project(projOuts, _)) =>
        val outs = projOuts.map {
          case a: UnresolvedAttribute =>
            val n = a.nameParts.last
            Some(Out(n, isKey = true, None, Some(n)))
          case Alias(a: UnresolvedAttribute, name) =>
            Some(Out(name, isKey = true, None, Some(a.nameParts.last)))
          case _ => None
        }
        if (outs.exists(_.isEmpty)) noPost
        else translate(d, outs.flatten)
      case _ => noPost
    }
  }

  /** Output list of the aggregate, or None when any output's name can't
    * be known without analysis (star, unaliased expression).
    */
  private def outputsOf(agg: Aggregate): Option[Seq[Out]] = {
    // non-attribute grouping expressions would make the key/aggregate
    // split below unreliable — refuse the peel (serves refuse them too)
    if (!agg.groupingExpressions.forall(_.isInstanceOf[UnresolvedAttribute]))
      return None
    val keyNames = agg.groupingExpressions.collect {
      case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
    }.toSet
    val outs = agg.aggregateExpressions.map {
      case a: UnresolvedAttribute =>
        val n = a.nameParts.last
        Some(Out(n, keyNames.contains(n.toLowerCase), None, Some(n)))
      case Alias(a: UnresolvedAttribute, name) =>
        val n = a.nameParts.last
        Some(Out(name, keyNames.contains(n.toLowerCase), None, Some(n)))
      case Alias(e, name) =>
        Some(Out(name, isKey = false, srcSql = Some(e.sql), keySource = None))
      case _ => None
    }
    if (outs.exists(_.isEmpty)) None else Some(outs.flatten)
  }

  /** Resolve an expression to an output column: by alias/ordinal first,
    * then by the rendering of the aggregate expression itself.
    */
  private def outFor(e: Expression, outs: Seq[Out]): Option[Out] = e match {
    case a: UnresolvedAttribute =>
      outs.find(_.name.equalsIgnoreCase(a.nameParts.last))
    case org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal(i)
        if i >= 1 && i <= outs.size =>
      Some(outs(i - 1))
    case Literal(i: Int, _) if i >= 1 && i <= outs.size =>
      Some(outs(i - 1))
    case other =>
      val s = other.sql
      outs.find(_.srcSql.contains(s))
  }

  private def quoted(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def translateSort(so: SortOrder, outs: Seq[Out],
      keySortable: String => Boolean): Option[Column] =
    outFor(so.child, outs).flatMap { o =>
      if (o.isKey && !o.keySource.exists(keySortable)) None
      else {
        val c = quoted(o.name)
        Some((so.direction, so.nullOrdering) match {
          case (Ascending, NullsFirst)  => c.asc_nulls_first
          case (Ascending, NullsLast)   => c.asc_nulls_last
          case (Descending, NullsFirst) => c.desc_nulls_first
          case (Descending, NullsLast)  => c.desc_nulls_last
        })
      }
    }

  private def litCol(l: Literal): Option[Column] =
    scala.util.Try(
      lit(CatalystTypeConverters.convertToScala(l.value, l.dataType))
    ).toOption

  /** Non-key output reference for HAVING (group-key predicates refuse —
    * they belong in WHERE, where the serves dispatch them typed).
    */
  private def aggRef(e: Expression, outs: Seq[Out]): Option[Column] =
    outFor(e, outs).filterNot(_.isKey).map(o => quoted(o.name))

  private def translateCond(e: Expression, outs: Seq[Out]): Option[Column] = {
    def bin(l: Expression, r: Expression, fwd: (Column, Column) => Column,
        rev: (Column, Column) => Column): Option[Column] = (l, r) match {
      case (a, rl: Literal) =>
        for (c <- aggRef(a, outs); v <- litCol(rl)) yield fwd(c, v)
      case (ll: Literal, a) =>
        for (c <- aggRef(a, outs); v <- litCol(ll)) yield rev(c, v)
      case _ => None
    }
    e match {
      case And(a, b) =>
        for (x <- translateCond(a, outs); y <- translateCond(b, outs))
          yield x && y
      case Or(a, b) =>
        for (x <- translateCond(a, outs); y <- translateCond(b, outs))
          yield x || y
      case Not(a) => translateCond(a, outs).map(c => !c)
      case EqualTo(l, r)       => bin(l, r, _ === _, _ === _)
      case EqualNullSafe(l, r) => bin(l, r, _ <=> _, _ <=> _)
      case GreaterThan(l, r)   => bin(l, r, _ > _, _ < _)
      case GreaterThanOrEqual(l, r) => bin(l, r, _ >= _, _ <= _)
      case LessThan(l, r)      => bin(l, r, _ < _, _ > _)
      case LessThanOrEqual(l, r)    => bin(l, r, _ <= _, _ >= _)
      case In(a, ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        val vals = ls.map { l0 =>
          val l = l0.asInstanceOf[Literal]
          scala.util.Try(
            CatalystTypeConverters.convertToScala(l.value, l.dataType)
          ).toOption
        }
        if (vals.exists(_.isEmpty)) None
        else aggRef(a, outs).map(_.isin(vals.flatten: _*))
      case IsNull(a)    => aggRef(a, outs).map(_.isNull)
      case IsNotNull(a) => aggRef(a, outs).map(_.isNotNull)
      case _ => None
    }
  }
}
