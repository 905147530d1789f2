package graft.plans

import graft.sources.Store
import graft.sources.v2.GraftTable

import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal, NamedExpression, PredicateHelper, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampType}

/** Footer-exact aggregates: the ONE place that answers an aggregate
  * over a graft relation from parquet footer statistics instead of a
  * scan. Three shapes, all count(*) / count(col) / min/max(<trusted-type
  * col>):
  *
  * {{{
  *   SELECT count(*), min(TS), max(TS) FROM graft.EVENTS            -- unfiltered
  *   SELECT count(*) FROM graft.EVENTS WHERE TS >= a AND TS < b     -- ranged
  *   SELECT date_trunc('DAY', TS), count(*) FROM graft.EVENTS GROUP BY 1
  * }}}
  *
  *  - UNFILTERED (no WHERE, no GROUP BY): every row of every item file
  *    counts, null-index rows included, and every column stays
  *    answerable — nothing is classified against a bound, so no file
  *    needs index stats ([[Store.footerFiles]]).
  *  - RANGED: each bucket-pruned file classifies by its footer min/max
  *    of the index as fully-inside / fully-outside / straddling; exact
  *    iff NO file straddles a bound (bucket-aligned ranges, the common
  *    report shape — [[Store.footerFilesInRange]]). Strict vs inclusive
  *    bounds are honored; rows with a NULL index never satisfy a range
  *    predicate and are excluded via footer null counts; min/max/count
  *    of NON-index columns additionally require zero null-index rows in
  *    the slice (their values could otherwise belong to excluded rows).
  *  - GROUPED by `date_trunc(idx)` (optionally with one more key, a
  *    range WHERE allowed): see [[answerGrouped]].
  *
  * All three sweep the files the table's scan would read
  * ([[GraftTable.files]]) and fold them through [[Store.foldFooters]]. Anything
  * unprovable — including a file that vanished since the listing —
  * leaves the plan untouched: the ordinary (bucket-pruned) scan
  * answers, so exactness never depends on this rule. It needs
  * [[GraftExtensions]]; a session without it always scans.
  *
  * Injected as a PRE-CBO rule (runs ONCE, after the operator batches
  * and the V2 pushdown): the filter tree is constant-folded by then
  * (timestamp literals are epoch-µs longs), and a once-batch keeps the
  * footer sweep from re-running on every fixed-point iteration. At
  * 100 TB this turns a `count(*)` or a month-aligned report into
  * O(pruned files) metadata reads instead of a cluster-wide scan — the
  * footer-stat posture of the reference (oakstore store.py:255-264).
  */
object FooterRangeAggregates extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(groupless, aggExprs, child, _) if groupless.isEmpty =>
      try answer(aggExprs, child).getOrElse(agg)
      catch { case scala.util.control.NonFatal(_) => agg } // never fail a plan
    case agg @ Aggregate(Seq(gref: AttributeReference), aggExprs, child, _) =>
      try answerGrouped(gref, None, aggExprs, child).getOrElse(agg)
      catch { case scala.util.control.NonFatal(_) => agg }
    // GROUP BY (<column>, date_trunc(idx)) — answerable when every
    // swept file is additionally HOMOGENEOUS in the extra column
    // (footer min == max proves one group value per file); either
    // grouping position may carry the trunc
    case agg @ Aggregate(
        Seq(g1: AttributeReference, g2: AttributeReference), aggExprs, child, _) =>
      try {
        answerGrouped(g1, Some(g2), aggExprs, child)
          .orElse(answerGrouped(g2, Some(g1), aggExprs, child))
          .getOrElse(agg)
      } catch { case scala.util.control.NonFatal(_) => agg }
  }

  /** The graft table read by `plan`, a (pushed-down or not) V2 relation. */
  private def graftTable(plan: LogicalPlan): Option[GraftTable] =
    (plan match {
      case r: DataSourceV2ScanRelation => Some(r.relation.table)
      case r: DataSourceV2Relation => Some(r.table)
      case _ => None
    }).collect { case g: GraftTable => g }

  /** The graft relation + optional filter condition under an optional
    * column-pruning Project (plain attributes only — an expression
    * Project could re-bind the names the matchers below rely on).
    */
  private def unwrap(child: LogicalPlan): Option[(Option[Expression], GraftTable)] = {
    val below = child match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => c
      case c => c
    }
    below match {
      case Filter(cond, r) => graftTable(r).map(g => (Some(cond), g))
      case r => graftTable(r).map(g => (None, g))
    }
  }

  private def isIndex(e: Expression, idx: String): Boolean = e match {
    case a: AttributeReference =>
      a.name.equalsIgnoreCase(idx) && a.dataType == TimestampType
    case _ => false
  }

  /** Timestamp literal → epoch-µs (catalyst's internal representation
    * IS micros, so this is a cast-free read).
    */
  private def micros(e: Expression): Option[Long] = e match {
    case Literal(v: Long, TimestampType) => Some(v)
    case _ => None
  }

  /** Absorb every conjunct into exact (µs, inclusive?) index bounds;
    * None if ANY conjunct is something else. `IsNotNull(idx)` is a
    * no-op (range predicates exclude null-index rows by construction,
    * and so does the ranged footer sweep).
    */
  private def exactBounds(cond: Expression, idx: String)
      : Option[(Option[(Long, Boolean)], Option[(Long, Boolean)])] = {
    var lo: Option[(Long, Boolean)] = None
    var hi: Option[(Long, Boolean)] = None
    def tightenLo(b: (Long, Boolean)): Unit = lo = lo match {
      case Some(cur) if b._1 < cur._1 => Some(cur)
      case Some(cur) if b._1 > cur._1 => Some(b)
      case Some(cur) => Some((b._1, b._2 && cur._2)) // tie: exclusive wins
      case None => Some(b)
    }
    def tightenHi(b: (Long, Boolean)): Unit = hi = hi match {
      case Some(cur) if b._1 > cur._1 => Some(cur)
      case Some(cur) if b._1 < cur._1 => Some(b)
      case Some(cur) => Some((b._1, b._2 && cur._2))
      case None => Some(b)
    }
    val ok = splitConjunctivePredicates(cond).forall {
      case IsNotNull(a) if isIndex(a, idx) => true
      case GreaterThan(a, l) if isIndex(a, idx) =>
        micros(l).exists { m => tightenLo((m, false)); true }
      case GreaterThan(l, a) if isIndex(a, idx) =>
        micros(l).exists { m => tightenHi((m, false)); true }
      case GreaterThanOrEqual(a, l) if isIndex(a, idx) =>
        micros(l).exists { m => tightenLo((m, true)); true }
      case GreaterThanOrEqual(l, a) if isIndex(a, idx) =>
        micros(l).exists { m => tightenHi((m, true)); true }
      case LessThan(a, l) if isIndex(a, idx) =>
        micros(l).exists { m => tightenHi((m, false)); true }
      case LessThan(l, a) if isIndex(a, idx) =>
        micros(l).exists { m => tightenLo((m, false)); true }
      case LessThanOrEqual(a, l) if isIndex(a, idx) =>
        micros(l).exists { m => tightenHi((m, true)); true }
      case LessThanOrEqual(l, a) if isIndex(a, idx) =>
        micros(l).exists { m => tightenLo((m, true)); true }
      case EqualTo(a, l) if isIndex(a, idx) =>
        micros(l).exists { m => tightenLo((m, true)); tightenHi((m, true)); true }
      case EqualTo(l, a) if isIndex(a, idx) =>
        micros(l).exists { m => tightenLo((m, true)); tightenHi((m, true)); true }
      case _ => false
    }
    if (ok) Some((lo, hi)) else None
  }

  private sealed trait P
  private case object CntStar extends P
  private case class CntCol(a: AttributeReference) extends P
  private case class MinCol(a: AttributeReference) extends P
  private case class MaxCol(a: AttributeReference) extends P

  /** The ONE shared trusted-footer-min/max type predicate
    * ([[graft.sources.Store.footerMinMaxTrusted]] — integer exactness,
    * the per-file NaN proof for float/double, string refusal).
    */
  private def mmSupported(a: AttributeReference): Boolean =
    graft.sources.Store.footerMinMaxTrusted(a.dataType)

  /** A GROUP BY key must stay integer-family: the key-homogeneity
    * proof and the rendered group values interpret the stat as a raw
    * Long — a float key would surface its sortable-bits encoding.
    */
  private def groupKeySupported(a: AttributeReference): Boolean = a.dataType match {
    case TimestampType | DateType | LongType | IntegerType => true
    case _ => false
  }

  /** The answerable aggregate shapes: count(*) / count(col) /
    * min/max(<integer-family col>), Complete, non-distinct, unfiltered
    * (no `FILTER (WHERE ...)` clause). Anything else refuses the whole
    * aggregation.
    */
  private def shapes(aggExprs: Seq[NamedExpression]): Option[Seq[P]] = {
    val ps = aggExprs.map {
      case Alias(AggregateExpression(fn, Complete, false, None, _), _) => fn match {
        case Count(Seq(l: Literal)) if l.value != null => Some(CntStar)
        case Count(Seq(a: AttributeReference)) => Some(CntCol(a))
        case Min(a: AttributeReference) if mmSupported(a) => Some(MinCol(a))
        case Max(a: AttributeReference) if mmSupported(a) => Some(MaxCol(a))
        case _ => None
      }
      case _ => None
    }
    if (ps.forall(_.isDefined)) Some(ps.map(_.get)) else None
  }

  private def answer(
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LocalRelation] =
    for {
      (cond, table) <- unwrap(child)
      ps <- shapes(aggExprs)
      stats <- cond match {
        case None => Some(unfiltered(table))
        case Some(c) => exactBounds(c, table.store.indexName)
          .flatMap { case (lo, hi) => ranged(table, lo, hi) }
      }
      values <- render(ps, stats)
    } yield LocalRelation(
      aggExprs.map(_.toAttribute), Seq(new GenericInternalRow(values)),
      isStreaming = false)

  /** No WHERE: every row counts, every column stays answerable. */
  private def unfiltered(table: GraftTable): Store.FooterAgg =
    Store.foldFooters(table.store.footerFiles(table.files()),
      table.store.schema.fieldNames.toSeq, _.rows)

  /** The table's files under µs bounds, taken inclusive: a superset of any strictness. */
  private def filesIn(table: GraftTable, lo: Option[(Long, Boolean)], hi: Option[(Long, Boolean)]) =
    table.files(lo.map(b => Store.microsToTimestamp(b._1)), hi.map(b => Store.microsToTimestamp(b._1)))

  /** Under index bounds: `count(*)` is the non-null-index rows of the
    * fully-inside files. The index column stays exact; the others only
    * when no included file holds null-index rows (their values/nulls
    * could belong to rows the range excludes).
    */
  private def ranged(
      table: GraftTable,
      lo: Option[(Long, Boolean)],
      hi: Option[(Long, Boolean)]): Option[Store.FooterAgg] = {
    val idx = table.store.indexName
    table.store.footerFilesInRange(filesIn(table, lo, hi), lo, hi).map { case (inc, _) =>
      val idxClean = inc.forall(t => t.nonNullByCol(idx) == t.rows)
      val cols = table.store.schema.fieldNames.toSeq
        .filter(c => idxClean || c.equalsIgnoreCase(idx))
      Store.foldFooters(inc, cols, _.nonNullByCol(idx))
    }
  }

  // ---- GROUP BY date_trunc(<level>, idx): the time-series profile ----
  //
  // "rows per day over the month" on a day-bucketed 100 TB item is a
  // footer sweep: every file lives entirely inside one truncation
  // interval (date_trunc is monotone non-decreasing in ts, so
  // trunc(fmin) == trunc(fmax) proves the whole file shares one group
  // key — under the EXPRESSION'S OWN timezone, because the group key is
  // computed by evaluating the plan's actual TruncTimestamp against the
  // footer min/max, never by re-deriving bucket labels). Any file
  // straddling a truncation boundary, any null-index row (it would form
  // its own NULL group whose per-column stats footers cannot split
  // out), or any unprovable stat refuses the whole aggregation.

  /** The grouping shape: an optional Filter below a Project that binds
    * `gref` to `date_trunc(<literal level>, idx)`; all other project
    * entries must be plain attributes (pass-throughs for the agg
    * columns).
    */
  private def unwrapGrouped(gref: AttributeReference, child: LogicalPlan)
      : Option[(TruncTimestamp, Option[Expression], GraftTable)] = {
    val (projList, below) = child match {
      case Project(pl, f: Filter) => (pl, f.child)
      case Project(pl, other) => (pl, other)
      case _ => return None
    }
    val cond = child match {
      case Project(_, f: Filter) => Some(f.condition)
      case _ => None
    }
    val graft = graftTable(below).getOrElse(return None)
    val idx = graft.store.indexName
    var trunc: Option[TruncTimestamp] = None
    val clean = projList.forall {
      case _: AttributeReference => true // pass-through for agg columns
      case al @ Alias(t @ TruncTimestamp(_: Literal, a, _), _)
          if al.exprId == gref.exprId && isIndex(a, idx) =>
        trunc = Some(t); true
      case _ => false // any other computed projection → refuse
    }
    if (!clean) None else trunc.map(t => (t, cond, graft))
  }

  /** Group key of a timestamp value under the plan's own truncation
    * expression (evaluated with the value substituted for the index
    * attribute — timezone semantics are the expression's, not ours).
    */
  private def truncOf(t: TruncTimestamp, idx: String, micros: Long): Option[Long] =
    t.transform {
      case a: AttributeReference if isIndex(a, idx) =>
        Literal(micros, TimestampType)
    }.eval(null) match {
      case l: java.lang.Long => Some(l.longValue)
      case _ => None
    }

  private def answerGrouped(
      gref: AttributeReference,
      extra: Option[AttributeReference],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LocalRelation] = {
    val (trunc, cond, table) = unwrapGrouped(gref, child) match {
      case Some(x) => x
      case None => return None
    }
    val idx = table.store.indexName
    // the extra grouping column must be integer-family: the
    // key-homogeneity proof reads the stat as a raw Long group value
    // (float/double min/max are admitted for AGGREGATES under the
    // NaN-proof discipline, but not as group keys; string stays
    // refused on truncation/comparator hazards)
    extra.foreach { e => if (!groupKeySupported(e)) return None }
    val extraCol = extra.map(_.name.toUpperCase)
    // each output is either a group key or an answerable aggregate
    sealed trait G
    case object Key extends G
    case object Key2 extends G
    case class Agg(p: P) extends G
    def keyOf(a: AttributeReference): Option[G] =
      if (a.exprId == gref.exprId) Some(Key)
      else if (extra.exists(_.exprId == a.exprId)) Some(Key2)
      else None
    val outs: Seq[G] = aggExprs.map {
      case a: AttributeReference if keyOf(a).isDefined => keyOf(a).get
      case Alias(a: AttributeReference, _) if keyOf(a).isDefined => keyOf(a).get
      case other => shapes(Seq(other)) match {
        case Some(Seq(p)) => Agg(p)
        case _ => return None
      }
    }
    val (lo, hi) = cond match {
      case Some(c) => exactBounds(c, idx) match {
        case Some(b) => b
        case None => return None
      }
      case None => (None, None)
    }
    val (files, nullFiles) =
      table.store.footerFilesInRange(filesIn(table, lo, hi), lo, hi) match {
        case Some(fs) => fs
        case None => return None
      }
    // a file's single extra-key group value: footer-exact stats with
    // min == max prove key-homogeneity (Some(value)); a provably
    // all-null key is the NULL key group (None); anything mixed or
    // unprovable refuses the whole aggregation
    def extraKeyOf(t: Store.FileFooterStats): Option[Option[Long]] = {
      val c = extraCol.get
      if (!t.nullCountOkCols.contains(c) || !t.minMaxOkCols.contains(c))
        return None // unprovable
      val nonNull = t.nonNullByCol(c)
      if (nonNull == 0L) Some(None) // whole file in the NULL key group
      else if (nonNull != t.rows) None // mixed null/value → refuse
      else t.minMaxByCol.get(c) match {
        case Some((lo, hi)) if lo == hi => Some(Some(lo))
        case _ => None // heterogeneous (or stats absent) → refuse
      }
    }
    // group files by (truncated index, extra key); veto any file MIXING
    // null- and non-null-index rows (footers cannot split its
    // per-column stats between its own group and the NULL group) and
    // any file straddling a truncation boundary. A truncKey of None is
    // the NULL-index group; an extra key of None is the NULL-valued
    // extra-key group (both legal SQL groups, both footer-exact here
    // because only WHOLE-file-null columns reach them).
    val groups = scala.collection.mutable.LinkedHashMap.empty[
      (Option[Long], Option[Long]),
      scala.collection.mutable.ArrayBuffer[Store.FileFooterStats]]
    def add(t: Store.FileFooterStats, truncKey: Option[Long]): Option[Unit] = {
      val k2: Option[Long] = extra match {
        case None => None
        case Some(_) => extraKeyOf(t) match {
          case None => return None // not key-homogeneous → refuse all
          case Some(v) => v
        }
      }
      groups.getOrElseUpdate((truncKey, k2),
        scala.collection.mutable.ArrayBuffer.empty) += t
      Some(())
    }
    files.foreach { t =>
      if (t.nonNullByCol(idx) != t.rows) return None // mixed null/non-null index
      val (fmin, fmax) = t.minMaxByCol(idx)
      (truncOf(trunc, idx, fmin), truncOf(trunc, idx, fmax)) match {
        case (Some(g1), Some(g2)) if g1 == g2 =>
          if (add(t, Some(g1)).isEmpty) return None
        case _ => return None // straddles a boundary (or eval failed)
      }
    }
    // null-index rows satisfy no absorbed conjunct (ranges and
    // IsNotNull alike), so under ANY WHERE they are correctly absent.
    // UNFILTERED, they are real table rows whose date_trunc key is
    // NULL — SQL's NULL group. The sweep returns them only as files
    // that are provably ALL-null-index (mixed files refused above), so
    // the group is footer-exact: emit it rather than silently dropping
    // it (round-13 ADVICE high). With an extra key, those files still
    // split by the same homogeneity rule.
    if (cond.isEmpty && nullFiles.nonEmpty)
      nullFiles.foreach { t => if (add(t, None).isEmpty) return None }
    def rowOf(
        key: Option[Long],
        key2: Option[Long],
        fs: Seq[Store.FileFooterStats])
        : Option[org.apache.spark.sql.catalyst.InternalRow] = {
      // every file of a group is whole: either all of its rows carry an
      // index inside the group, or all are in the NULL group
      val stats = Store.foldFooters(fs, table.store.schema.fieldNames.toSeq, _.rows)
      val vals = outs.map {
        case Key => Some(key.map(java.lang.Long.valueOf).orNull: Any)
        case Key2 => Some(key2.map { v =>
          extra.get.dataType match {
            case IntegerType | DateType => java.lang.Integer.valueOf(v.toInt): Any
            case _ => java.lang.Long.valueOf(v): Any
          }
        }.orNull: Any)
        case Agg(p) => render(Seq(p), stats).map(_.head)
      }
      if (vals.exists(_.isEmpty)) None
      else Some(new GenericInternalRow(vals.map(_.get).toArray))
    }
    val rows = groups.toSeq.map { case ((k, k2), fs) =>
      rowOf(k, k2, fs.toSeq).getOrElse(return None)
    }
    Some(LocalRelation(aggExprs.map(_.toAttribute), rows, isStreaming = false))
  }

  /** InternalRow values in aggregate order; None when any statistic is
    * not footer-provable for the slice.
    */
  private def render(ps: Seq[P], stats: Store.FooterAgg): Option[Array[Any]] = {
    def mm(a: AttributeReference, pick: ((Long, Long)) => Long): Option[Any] =
      if (!stats.minMaxExactCols.contains(a.name.toUpperCase)) None
      else Some(stats.colMinMax.get(a.name.toUpperCase).map { v =>
        a.dataType match {
          case IntegerType | DateType => java.lang.Integer.valueOf(pick(v).toInt)
          case org.apache.spark.sql.types.DoubleType =>
            java.lang.Double.valueOf(
              graft.sources.Store.sortableBitsToDouble(pick(v)))
          case org.apache.spark.sql.types.FloatType =>
            java.lang.Float.valueOf(
              graft.sources.Store.sortableBitsToDouble(pick(v)).toFloat)
          case _ => java.lang.Long.valueOf(pick(v))
        }
      }.orNull) // exact-but-absent: all-null in slice → SQL NULL
    val vals = ps.map {
      case CntStar => Some(java.lang.Long.valueOf(stats.rows): Any)
      case CntCol(a) =>
        stats.nonNullCounts.get(a.name.toUpperCase)
          .map(n => java.lang.Long.valueOf(n): Any)
      case MinCol(a) => mm(a, _._1).map(_.asInstanceOf[Any])
      case MaxCol(a) => mm(a, _._2).map(_.asInstanceOf[Any])
    }
    if (vals.forall(_.isDefined)) Some(vals.map(_.get).toArray) else None
  }
}
