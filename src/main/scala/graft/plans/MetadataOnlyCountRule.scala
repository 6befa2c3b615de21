package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, If, IsNotNull, LessThan, LessThanOrEqual, Literal, Multiply, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, CentralMomentAgg, Complete, Count, DeclarativeAggregate, HyperLogLogPlusPlus, Max, Min, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, IntegerType, LongType, ShortType, StringType}

import graft.ops.Snapshot
import graft.sources.GraftRelation

/** Optimizer rule: METADATA-ONLY aggregates over graft snapshot reads —
  * Delta's metadata-only query optimization
  * (`OptimizeMetadataOnlyQuery` / numRecords), re-expressed as a
  * Catalyst `Rule[LogicalPlan]` injected through
  * [[graft.GraftExtensions]]. Every rewrite fires ONLY when it is
  * provably the same answer; anything unprovable refuses (the plain
  * scan answers) or degrades the file into a restricted scan. The
  * rewrite families, in dispatch order:
  *
  * '''1. Global unfiltered COUNT(*)''' ([[countRows]], round 16).
  * `spark.read.format("graft").load(dir).count()` on a 100 TB table
  * becomes one `LocalRelation` row built from Σ per-file row stamps −
  * Σ deletion-vector positions: zero tasks, zero bytes of data I/O.
  * Guards: the aggregate is global (no grouping) and every output is a
  * non-distinct, unfiltered `count(<non-null literal>)` — the
  * `count(*)` / `count(1)` family (`count(col)` is null-sensitive and
  * belongs to #6); the child is the relation under Project nodes only
  * (projections cannot change cardinality); every file carries a row
  * stamp ([[GraftRelation.metaRowCount]] is Some) — unknown is never
  * zero, pre-stamp and adopted tables keep scanning.
  *
  * '''2. Clustering-range-filtered COUNT(*)'''
  * ([[filteredCountRewrite]], round 17).
  * `count(*) WHERE key BETWEEN lo AND hi` on the CLUSTERING column
  * splits the manifest's files by [[Snapshot.metaRangeSplit]]: files
  * WHOLLY inside [lo,hi] sum from stamps (row count − DV positions;
  * exact only under a stamped ZERO clustering-key null count — the
  * [min,max] stamps ignore NULLs, which fail the predicate), files
  * merely OVERLAPPING the range become a boundary relation restricted
  * to exactly those files and scan with the predicate, and files
  * wholly outside contribute nothing. On a range-clustered 100 TB
  * table that is one or two boundary files per bound instead of the
  * range's interior. Guards: every filter conjunct is a comparison of
  * the clustering attribute against an integral literal (or
  * `IsNotNull(key)`); anything else — other columns, casts of other
  * shapes, disjunctions, non-literal bounds — refuses. Unknown rows,
  * unknown null counts, DVs and adopted entries never refuse: they
  * just degrade the file into the boundary SCAN set, which is always
  * exact. A contradictory range (`lo > hi`) answers 0 — proven by the
  * predicate itself, independent of any stamp.
  *
  * '''3. Global unfiltered MIN/MAX, and full-metadata SUM'''
  * ([[minMaxRewrite]], rounds 17–18). `min(key)` / `max(key)` (mixed
  * freely with count-star outputs) answer from pure manifest
  * arithmetic — min of file mins / max of file maxes — when [[Snapshot.clusteringMinMaxMeta]] can
  * prove the stamps exact: no deletion vectors anywhere (a DV may
  * have masked the extreme row), every file's row count stamped
  * positive (an adopted empty file would stamp phantom extremes), no
  * degraded full-open stamp. NULL keys are harmless: SQL MIN/MAX and
  * the stamps both ignore them. Widening integral casts of the key
  * commute with MIN/MAX and are accepted. Other columns answer from
  * their sidecar stamps when the stamp kind is exact (integral, DATE,
  * STRING); `sum(c)` answers when EVERY file is stamped or witnessed
  * all-NULL.
  *
  * '''4. GROUP BY one column, counting''' ([[groupedCountRewrite]],
  * round 17). `SELECT g, count(*) GROUP BY g` sums per-group stamps of
  * single-valued files ([[Snapshot.metaGroupSplit]] /
  * [[Snapshot.metaGroupSplitCol]]); everything else scans restricted
  * and merges. A clustering-range window composes when `g` IS the
  * clustering column.
  *
  * '''5. Global count(c) / count(DISTINCT c)'''
  * ([[distinctCountRewrite]], round 17) — the same grouped split,
  * merged into global outputs.
  *
  * '''6. SUM / MIN / MAX / AVG / count(c) / variance, global or
  * grouped''' ([[aggRewrite]], rounds 18–20). One rewrite for both
  * arities: a global aggregate is a GROUP BY over the empty grouping
  * set (Gray et al., Data Cube, ICDE 1996), so zero keys is the
  * one-group case. Stamped partials ride a LocalRelation, files the
  * fold cannot prove scan restricted, and an outer aggregate of each
  * output's own kind merges the two. Range windows, literals and
  * single-aggregate scalar wrappers compose.
  *
  * '''7. Opt-in approx_count_distinct, global or grouped'''
  * ([[approxDistinctRewrite]], round 19), behind
  * [[MetadataOnlyCountRule.ApproxDistinctSketchKey]]: the HLL register
  * sidecars answer when at least as tight as the requested relativeSD.
  *
  * The count-only families (1, 2, 4) keep their own folds
  * ([[Snapshot.metaCount]], [[Snapshot.metaRangeSplit]],
  * [[Snapshot.metaGroupSplit]]): those answer DV'd files from stamps
  * (rows − masked positions), where the aggregate folds behind #6 send
  * them to the scan set.
  *
  * All rewrites reuse the Aggregate's own output attributes (or alias
  * onto its exprIds), so downstream references resolve unchanged; time
  * travel is free — the relation pins its version's manifest. Boundary
  * relations are marked restricted and are never themselves rewritten
  * (convergence + soundness). Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.MetadataOnlyCountRule`
  * switches the whole rule off for a session. */
case class MetadataOnlyCountRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  /** A non-distinct, unfiltered count of a non-null literal — the
    * shapes whose value is exactly the child's row count. */
  private def isCountStar(e: NamedExpression): Boolean = e match {
    case Alias(ae: AggregateExpression, _) =>
      ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty &&
        (ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) => v != null
          case _ => false
        })
    case _ => false
  }

  /** A constant output (`SELECT 'x' AS phase, count(*) …`):
    * CollapseProject folds the phase/label projections every real
    * report wraps around an aggregate INTO the Aggregate itself, so
    * the rewrites must carry literal outputs through or they refuse
    * exactly the queries they were built for (round 19 — found when
    * the variance serve exposed that the registered metadata queries
    * were scanning). ConstantFolding has already run, so any foldable
    * constant arrives as a plain Literal. */
  private def litOf(e: NamedExpression): Option[Literal] = e match {
    case Alias(l: Literal, _) => Some(l)
    case _ => None
  }

  /** The graft relation under cardinality-preserving Project nodes
    * only — restricted (boundary) relations excluded. */
  private def relationOf(plan: LogicalPlan)
      : Option[(LogicalRelation, GraftRelation)] = plan match {
    case Project(_, child) => relationOf(child)
    case lr: LogicalRelation => lr.relation match {
      case g: GraftRelation if !g.isRestricted => Some((lr, g))
      case _ => None
    }
    case _ => None
  }

  private def metaCountOf(plan: LogicalPlan): Option[Long] =
    relationOf(plan).flatMap(_._2.metaRowCount)

  /** The key expression shapes MIN/MAX/compare may wrap the clustering
    * attribute in: bare, or a WIDENING integral cast (order-preserving
    * and exactly representable, so it commutes with min/max and with
    * range bounds). */
  private def keyAttrOf(e: Expression): Option[AttributeReference] = {
    def width(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => 0
    }
    e match {
      case a: AttributeReference => Some(a)
      case Cast(a: AttributeReference, dt, _, _)
          if width(dt) > 0 && width(a.dataType) > 0 &&
            width(dt) >= width(a.dataType) => Some(a)
      case _ => None
    }
  }

  /** Name equality under the SESSION's case-sensitivity setting — the
    * same resolver Spark's analyzer used to bind these attributes. An
    * unconditional equalsIgnoreCase would, under
    * `spark.sql.caseSensitive=true`, route a column differing from the
    * clustering column only in case (`K` vs `k`) to the WRONG column's
    * stamps — wrong, not degraded, answers. */
  private def sameName(x: String, y: String): Boolean =
    session.sessionState.conf.resolver(x, y)

  /** Does `a` name the relation's clustering column (logical name —
    * column mapping translates) AND come from this relation? */
  private def isClusteringAttr(a: AttributeReference,
      lr: LogicalRelation, g: GraftRelation): Boolean = {
    val m = g.pinnedManifest
    lr.output.exists(_.exprId == a.exprId) &&
      sameName(a.name, Snapshot.logicalName(m, m.statsCol))
  }

  private def asLongLit(e: Expression): Option[Long] = e match {
    case Literal(v, dt) if v != null => dt match {
      case ByteType    => Some(v.asInstanceOf[Byte].toLong)
      case ShortType   => Some(v.asInstanceOf[Short].toLong)
      case IntegerType => Some(v.asInstanceOf[Int].toLong)
      case LongType    => Some(v.asInstanceOf[Long])
      case _ => None
    }
    case _ => None
  }

  /** Fold the filter's conjuncts into one inclusive [lo, hi] window on
    * the clustering attribute. None = a conjunct we cannot prove
    * (wrong column, non-literal, disjunction, …) → no rewrite. A
    * returned lo > hi is a CONTRADICTION: zero rows satisfy. Strict
    * bounds saturate instead of wrapping (`key > Long.MaxValue`
    * becomes the contradiction, which is the correct answer). */
  private def boundsOf(conjuncts: Seq[Expression],
      lr: LogicalRelation, g: GraftRelation): Option[(Long, Long)] = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    def key(e: Expression): Boolean =
      keyAttrOf(e).exists(isClusteringAttr(_, lr, g))
    def tighten(nLo: Option[Long], nHi: Option[Long]): Boolean = {
      nLo.foreach(v => lo = math.max(lo, v))
      nHi.foreach(v => hi = math.min(hi, v))
      true
    }
    val ok = conjuncts.forall {
      case IsNotNull(a) if key(a) => true // counted rows are non-null anyway
      case EqualTo(a, l) if key(a) =>
        asLongLit(l).exists(v => tighten(Some(v), Some(v)))
      case EqualTo(l, a) if key(a) =>
        asLongLit(l).exists(v => tighten(Some(v), Some(v)))
      case GreaterThanOrEqual(a, l) if key(a) =>
        asLongLit(l).exists(v => tighten(Some(v), None))
      case LessThanOrEqual(a, l) if key(a) =>
        asLongLit(l).exists(v => tighten(None, Some(v)))
      case GreaterThan(a, l) if key(a) =>
        asLongLit(l).exists(v => tighten(
          Some(if (v == Long.MaxValue) { hi = Long.MinValue; v }
          else v + 1), None))
      case LessThan(a, l) if key(a) =>
        asLongLit(l).exists(v => tighten(None,
          Some(if (v == Long.MinValue) { lo = Long.MaxValue; v }
          else v - 1)))
      // literal-first spellings mirror to the attribute-first ones
      case GreaterThanOrEqual(l, a) if key(a) =>
        asLongLit(l).exists(v => tighten(None, Some(v)))
      case LessThanOrEqual(l, a) if key(a) =>
        asLongLit(l).exists(v => tighten(Some(v), None))
      case GreaterThan(l, a) if key(a) => // lit > key ≡ key < lit
        asLongLit(l).exists(v => tighten(None,
          Some(if (v == Long.MinValue) { lo = Long.MaxValue; v }
          else v - 1)))
      case LessThan(l, a) if key(a) => // lit < key ≡ key > lit
        asLongLit(l).exists(v => tighten(
          Some(if (v == Long.MaxValue) { hi = Long.MinValue; v }
          else v + 1), None))
      case _ => false
    }
    if (ok) Some((lo, hi)) else None
  }

  /** The Filter directly under cardinality-preserving Projects, with
    * the relation under attribute-only Projects below it (so the
    * filter's attributes ARE relation outputs, not derived aliases). */
  private def filteredRelationOf(plan: LogicalPlan)
      : Option[(Filter, LogicalRelation, GraftRelation)] = plan match {
    case Project(_, child) => filteredRelationOf(child)
    case f @ Filter(_, fchild) =>
      def under(p: LogicalPlan): Option[(LogicalRelation, GraftRelation)] =
        p match {
          case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
            under(c)
          case lr: LogicalRelation => lr.relation match {
            case g: GraftRelation if !g.isRestricted => Some((lr, g))
            case _ => None
          }
          case _ => None
        }
      under(fchild).map { case (lr, g) => (f, lr, g) }
    case _ => None
  }

  /** The relation under `plan` with its clustering-range window: the
    * unfiltered relation (None), or a Filter whose conjuncts all fold
    * into one [lo, hi] window ([[boundsOf]]). */
  private def windowedRelationOf(plan: LogicalPlan)
      : Option[(LogicalRelation, GraftRelation, Option[(Long, Long)])] =
    relationOf(plan).map { case (lr, g) => (lr, g, None) }.orElse(
      filteredRelationOf(plan).flatMap { case (f, lr, g) =>
        boundsOf(splitConjunctivePredicates(f.condition), lr, g)
          .map(b => (lr, g, Some(b)))
      })

  /** `plan` with `lr` restricted to `files` — the boundary scan a
    * hybrid rewrite merges with its stamped partials. */
  private def restrictedTo(plan: LogicalPlan, lr: LogicalRelation,
      g: GraftRelation, files: Seq[Snapshot.FileEntry]): LogicalPlan =
    plan.transformUp {
      case l: LogicalRelation if l eq lr =>
        l.copy(relation = g.restrictedTo(files.map(_.path).toSet))
    }

  /** Stamped groups as a LocalRelation UNIONed with one restricted
    * scan over `scan`, both laid out as (key?, rows, partials…): the
    * scan side aggregates `partials` grouped by `keys` (empty = one
    * global row); the local side declares the partial columns as
    * `partialOut` and carries `rows`, one per stamped group. An outer
    * aggregate over the union merges them. */
  private def hybridUnion(child: LogicalPlan, lr: LogicalRelation,
      g: GraftRelation, scan: Seq[Snapshot.FileEntry],
      keys: Seq[AttributeReference], partials: Seq[NamedExpression],
      partialOut: Seq[AttributeReference], rows: Seq[Seq[Any]]): Union = {
    val cnt = Alias(AggregateExpression(Count(Seq(Literal(1L))), Complete,
      isDistinct = false), "gm_part_cnt")()
    val scanAgg = Aggregate(keys, keys ++ (cnt +: partials),
      restrictedTo(child, lr, g, scan))
    val out = keys.map(k => AttributeReference("gm_k", k.dataType)()) ++
      (AttributeReference("gm_c", LongType, nullable = false)() +: partialOut)
    Union(Seq(scanAgg, LocalRelation(out, rows.map(InternalRow.fromSeq))))
  }

  /** A stamped Long as the internal value of `dt`: integral columns
    * stamp raw longs, DATE columns epoch days. None for any other
    * dtype (timestamp/decimal stamps are truncated/saturated). */
  private def typedLong(v: Long, dt: DataType): Option[Any] = dt match {
    case LongType    => Some(v)
    case IntegerType => Some(v.toInt)
    case ShortType   => Some(v.toShort)
    case ByteType    => Some(v.toByte)
    case DateType    => Some(v.toInt)
    case _           => None
  }

  private def countRows(exprs: Seq[NamedExpression],
      output: Seq[Attribute], n: Long): LocalRelation =
    LocalRelation(output,
      Seq(InternalRow.fromSeq(exprs.map(e =>
        litOf(e).map(_.value).getOrElse(n: Any)))))

  /** Range-filtered count rewrite: stamps for wholly-inside files, a
    * boundary-restricted scan for the rest. None = shape/guards refuse. */
  private def filteredCountRewrite(agg: Aggregate): Option[LogicalPlan] =
    filteredRelationOf(agg.child).flatMap { case (f, lr, g) =>
      boundsOf(splitConjunctivePredicates(f.condition), lr, g).flatMap {
        case (lo, hi) if lo > hi =>
          // contradiction: zero rows satisfy, by the predicate alone
          Some(countRows(agg.aggregateExpressions, agg.output, 0L))
        case (lo, hi) =>
          val m = g.pinnedManifest
          val (inside, boundary) = Snapshot.metaRangeSplit(m, lo, hi)
          if (boundary.isEmpty)
            Some(countRows(agg.aggregateExpressions, agg.output, inside))
          else if (inside == 0 && boundary.size == m.files.size)
            None // nothing answered from metadata: keep the plain scan
          else {
            val cnt = Alias(AggregateExpression(
              Count(Seq(Literal(1L))), Complete, isDistinct = false),
              "gm_boundary_cnt")()
            val inner = Aggregate(Nil, Seq(cnt),
              restrictedTo(agg.child, lr, g, boundary))
            val outs = agg.aggregateExpressions.zip(agg.output).map {
              case (e, a) => litOf(e) match {
                case Some(l) => Alias(l, a.name)(exprId = a.exprId)
                case None => Alias(Add(cnt.toAttribute, Literal(inside)),
                  a.name)(exprId = a.exprId)
              }
            }
            Some(Project(outs, inner))
          }
      }
    }

  /** min/max/count-star mix over the unfiltered relation → one
    * LocalRelation row from manifest arithmetic. The clustering column
    * answers from the FileEntry stamps; any OTHER stamped column
    * answers from its sidecar stamps when (and only when) the stamp
    * kind is an exact value — integral (raw longs), DATE (epoch days)
    * and STRING (full values under UTF-8 byte order, Spark's own);
    * timestamp and decimal/double stamps are truncated/saturated and
    * refuse by dtype. None = guards refuse (scan answers). */
  private def minMaxRewrite(agg: Aggregate): Option[LogicalPlan] =
    relationOf(agg.child).flatMap { case (lr, g) =>
      val m = g.pinnedManifest
      val clusterName = Snapshot.logicalName(m, m.statsCol)
      lazy val clusterMeta = Snapshot.clusteringMinMaxMeta(m)
      val longMeta =
        scala.collection.mutable.Map.empty[String, Option[(Long, Long)]]
      val strMeta =
        scala.collection.mutable.Map.empty[String,
          Option[(String, String)]]
      def boundOf(c: Expression, outDt: DataType,
                  isMin: Boolean): Option[Any] =
        keyAttrOf(c).flatMap { a =>
          if (!lr.output.exists(_.exprId == a.exprId)) None
          else if (sameName(a.name, clusterName))
            clusterMeta.flatMap(p =>
              typedLong(if (isMin) p._1 else p._2, outDt))
          else {
            val phys = Snapshot.physicalName(m, a.name)
            a.dataType match {
              case ByteType | ShortType | IntegerType | LongType |
                  DateType =>
                longMeta.getOrElseUpdate(phys,
                  Snapshot.sidecarMinMaxMeta(m, phys))
                  .flatMap(p =>
                    typedLong(if (isMin) p._1 else p._2, outDt))
              case StringType if outDt == StringType =>
                strMeta.getOrElseUpdate(phys,
                  Snapshot.sidecarStrMinMaxMeta(m, phys))
                  .map(p =>
                    org.apache.spark.unsafe.types.UTF8String
                      .fromString(if (isMin) p._1 else p._2))
              case _ => None
            }
          }
        }
      def minMaxValueOf(e: NamedExpression): Option[Any] = e match {
        case al @ Alias(ae: AggregateExpression, _)
            if ae.mode == Complete && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Min(c) => boundOf(c, al.dataType, isMin = true)
            case Max(c) => boundOf(c, al.dataType, isMin = false)
            // Global SUM from per-file sum stamps (round 18) —
            // full-metadata arm only (every file stamped or provably
            // all-NULL; the partial/hybrid arm is #6, [[aggRewrite]]).
            // Some(null) is the honest SQL answer for an all-NULL
            // column, distinct from None = refuse.
            case Sum(c, _) if !ae.isDistinct =>
              sumAttrOf(c, lr, g).flatMap { a =>
                sumCodecOf(a).filter(_._1 == al.dataType)
                  .flatMap { case (_, dec) =>
                    Snapshot.metaAggSplitCols(m, Seq(Snapshot.SumSpec(
                      Snapshot.physicalName(m, a.name)))) match {
                      case (_, _, Seq(Snapshot.SumAcc(total, any)), Seq()) =>
                        if (!any) Some(null: Any) else dec(total)
                      case _ => None
                    }
                  }
              }
            case _      => None
          }
        case _ => None
      }
      val exprs = agg.aggregateExpressions
      val isCnt = exprs.map(isCountStar)
      if (!exprs.indices.exists(i => !isCnt(i))) None // pure counts: above
      else {
        lazy val nOpt = g.metaRowCount
        val vals = exprs.indices.map { i =>
          if (isCnt(i)) nOpt.map(n => n: Any)
          else litOf(exprs(i)).map(l => Some(l.value))
            .getOrElse(minMaxValueOf(exprs(i)))
        }
        if (vals.exists(_.isEmpty)) None
        else Some(LocalRelation(agg.output,
          Seq(InternalRow.fromSeq(vals.map(_.get)))))
      }
    }

  /** Is `e` the grouped key column itself (bare or trivially
    * aliased) — the output shapes whose per-group value IS the group. */
  private def isKeyOutput(e: NamedExpression,
                          g: AttributeReference): Boolean = e match {
    case a: AttributeReference      => a.exprId == g.exprId
    case Alias(a: AttributeReference, _) => a.exprId == g.exprId
    case _ => false
  }

  /** Eligible grouping dtype: integral always; DATE for NON-clustering
    * columns (epoch-day `colStats` stamps are exact and its internal
    * representation is the stamped Int — the clustering column is
    * integral by the stats contract). Timestamp/decimal stamps are
    * truncated/saturated and never single-value-exact. */
  private def groupableDtype(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }

  /** A stamped group key as the grouping column's value (None = the
    * NULL group). */
  private def keyValue(k: Option[Long], dt: DataType): Any =
    k.flatMap(typedLong(_, dt)).orNull

  /** The grouped stamp split for `a` — the clustering column reads the
    * `FileEntry` stamps ([[Snapshot.metaGroupSplit]]), any other
    * exactly-stamped column its `colStats` + null-witness sidecars
    * ([[Snapshot.metaGroupSplitCol]], round 17). */
  private def groupSplitOf(gr: GraftRelation, a: AttributeReference)
      : (Map[Option[Long], Long], Seq[Snapshot.FileEntry]) = {
    val m = gr.pinnedManifest
    if (sameName(a.name, Snapshot.logicalName(m, m.statsCol)))
      Snapshot.metaGroupSplit(m)
    else
      Snapshot.metaGroupSplitCol(m, Snapshot.physicalName(m, a.name))
  }

  /** Stamped per-group row counts UNIONed with one restricted scan
    * grouped by `g` — rows (g, count) on both sides. */
  private def countUnion(child: LogicalPlan, lr: LogicalRelation,
      gr: GraftRelation, g: AttributeReference,
      sums: Map[Option[Long], Long], scan: Seq[Snapshot.FileEntry]): Union =
    hybridUnion(child, lr, gr, scan, Seq(g), Nil, Nil,
      sums.toSeq.map { case (k, n) => Seq(keyValue(k, g.dataType), n) })

  /** '''4. GROUP BY one column, counting''' (round 17 — Delta's
    * `OptimizeMetadataOnlyQuery` partition-value analog on range
    * stamps). `SELECT g[, count(*)…] GROUP BY g` answers per-group sums
    * from [[groupSplitOf]]'s stamp arithmetic for SINGLE-VALUED files
    * (min == max: a partition-value-clustered table — ingest-date
    * bands, tenant shards, status codes — is all such files), while
    * mixed-value, DV-ambiguous or unstamped files degrade into one
    * boundary-restricted grouped scan merged by a final aggregate. A
    * clustering-range FILTER below the grouping ("rows per day for the
    * last week") composes when `g` is the clustering column:
    * wholly-outside files drop by stamps alone, NULL keys are excluded
    * (they fail any range predicate), a contradictory range answers
    * zero groups, and the scan branch keeps the predicate. None =
    * guards refuse (non-groupable key, unprovable filter conjuncts,
    * every file degraded). */
  private def groupedCountRewrite(agg: Aggregate,
      g: AttributeReference): Option[LogicalPlan] =
    windowedRelationOf(agg.child).flatMap { case (lr, gr, bounds) =>
      if (!groupableDtype(g.dataType) ||
          !lr.output.exists(_.exprId == g.exprId) ||
          // a range FILTER composes only when the grouped column IS the
          // clustering column (the bounds and the grouping must speak
          // about the same stamps)
          (bounds.isDefined && !isClusteringAttr(g, lr, gr))) None
      else if (bounds.exists(b => b._1 > b._2))
        // contradictory range: zero rows, hence zero groups
        Some(LocalRelation(agg.output, Nil))
      else {
        val m = gr.pinnedManifest
        val (sums, scan) = bounds match {
          case Some((lo, hi)) =>
            Snapshot.metaGroupSplit(m, lo, hi, nullsPass = false)
          case None => groupSplitOf(gr, g)
        }
        if (scan.size == m.files.size) None // nothing proven: plain scan
        else if (scan.isEmpty) {
          // every file single-valued and fully accounted: one local row
          // per group, in the aggregate's own output shape
          val rows = sums.toSeq.map { case (k, n) =>
            val kv = keyValue(k, g.dataType)
            InternalRow.fromSeq(agg.aggregateExpressions.map(e =>
              if (isKeyOutput(e, g)) kv
              else litOf(e).map(_.value).getOrElse(n: Any)))
          }
          Some(LocalRelation(agg.output, rows))
        } else {
          // stamped groups + degraded files' grouped scan, merged by a
          // summing aggregate that reuses the original output exprIds
          val un = countUnion(agg.child, lr, gr, g, sums, scan)
          val uk = un.output.head
          val sumCnt = Coalesce(Seq(AggregateExpression(
            Sum(un.output(1)), Complete, isDistinct = false), Literal(0L)))
          val outs = agg.aggregateExpressions.map { e =>
            if (isKeyOutput(e, g)) Alias(uk, e.name)(exprId = e.exprId)
            else litOf(e) match {
              case Some(l) => Alias(l, e.name)(exprId = e.exprId)
              case None    => Alias(sumCnt, e.name)(exprId = e.exprId)
            }
          }
          Some(Aggregate(Seq(uk), outs, un))
        }
      }
    }

  /** The stamp decoding for a summable column dtype: Spark's SUM
    * result dtype for it, and the internal result value from the
    * folded stamp total — the raw Long for integral columns, exact
    * micro-units reconstructed to the result scale for DECIMAL ones
    * (refusing — None — if a corrupted/legacy stamp is not divisible
    * down to the column scale, or precision+10 would hit the 38 cap
    * where Spark's own overflow semantics take over). Doubles never
    * stamp (order-dependent sums). */
  private def sumCodecOf(a: AttributeReference)
      : Option[(DataType, Long => Option[Any])] = a.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some((LongType, l => Some(l)))
    case dt: org.apache.spark.sql.types.DecimalType
        if dt.scale >= 0 && dt.scale <= 6 && dt.precision + 10 <= 38 =>
      val rt = org.apache.spark.sql.types.DecimalType(
        dt.precision + 10, dt.scale)
      Some((rt, l => try {
        val bd = new java.math.BigDecimal(
          java.math.BigInteger.valueOf(l), 6)
          .setScale(dt.scale) // exact by stamp construction; throws on
                              // a corrupted/legacy stamp → refuse
        Some(org.apache.spark.sql.types.Decimal(
          scala.math.BigDecimal(bd), rt.precision, rt.scale))
      } catch { case _: ArithmeticException => None }))
    case dt: org.apache.spark.sql.types.DecimalType =>
      // eligible-looking decimal that the stamp contract can't carry:
      // scale > 6 exceeds micro-units, precision + 10 > 38 hits the
      // cap where Spark's own overflow contract must decide — say WHY
      // the scan happened instead of refusing silently
      logDebug(s"metadata SUM/AVG refused for ${a.name}: " +
        s"decimal(${dt.precision},${dt.scale}) is outside the stamp " +
        "contract (needs scale <= 6 and precision + 10 <= 38); the " +
        "plain scan answers")
      None
    case _ => None
  }

  /** The summable relation attribute under a sum child — bare or
    * widening-integral-cast (summing widened values is the same sum;
    * the stamp is the native per-file arithmetic either way). */
  private def sumAttrOf(c: Expression, lr: LogicalRelation,
      g: GraftRelation): Option[AttributeReference] =
    keyAttrOf(c).filter(a => lr.output.exists(_.exprId == a.exprId) &&
      sumCodecOf(a).isDefined)

  /** Is `e` a non-distinct unfiltered `sum(col)` whose answer the
    * per-file sum stamps can speak about? Returns the attribute. */
  private def sumKeyOf(e: NamedExpression, lr: LogicalRelation,
      g: GraftRelation): Option[AttributeReference] = e match {
    case al @ Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && ae.filter.isEmpty && !ae.isDistinct =>
      ae.aggregateFunction match {
        case Sum(c, _) => sumAttrOf(c, lr, g)
            .filter(a => sumCodecOf(a).exists(_._1 == al.dataType))
        case _         => None
      }
    case _ => None
  }

  /** Is `e` a non-distinct unfiltered `avg(col)` the per-file sum +
    * NULL-witness stamps can answer? Returns the attribute and a
    * re-rooted [[Average]] (the bare attribute as child, the ORIGINAL
    * evalMode kept), whose own `evaluateExpression` later turns
    * stamped (sum, count) partials into the final value — so division
    * typing, rounding, and overflow semantics are Spark's own code,
    * not a re-implementation (avg(cast(int as bigint)) re-roots to
    * avg(int): both run the same Double sum buffer, so the value is
    * unchanged). Eligibility is exactly the sum stamp's
    * ([[sumCodecOf]]): integral (Double result) or decimal with
    * scale ≤ 6 and precision + 10 ≤ 38. */
  private def avgKeyOf(e: NamedExpression, lr: LogicalRelation,
      g: GraftRelation): Option[(AttributeReference, Average)] = e match {
    case al @ Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && ae.filter.isEmpty && !ae.isDistinct =>
      ae.aggregateFunction match {
        case av: Average =>
          keyAttrOf(av.child).flatMap { a =>
            if (!lr.output.exists(_.exprId == a.exprId) ||
                sumCodecOf(a).isEmpty) None
            else {
              val fn = Average(a, av.evalMode)
              if (fn.dataType == al.dataType) Some((a, fn)) else None
            }
          }
        case _ => None
      }
    case _ => None
  }

  /** Evaluate `fn`'s own final-value expression over stamped partials:
    * substitute the (sum, count) aggregation-buffer attributes with
    * literals and fold the tree on the driver — byte-identical to what
    * Spark's final aggregation would compute over the same buffer.
    * None = the evaluation refused (ANSI overflow, …) — the plain scan
    * then raises the same error with proper query context. */
  private def metaAvgEval(fn: Average, sumV: Any, cnt: Long)
      : Option[Any] = {
    val buf = fn.aggBufferAttributes
    val ev = (fn: DeclarativeAggregate).evaluateExpression.transform {
      case r: AttributeReference if r.exprId == buf(0).exprId =>
        Literal.create(sumV, buf(0).dataType)
      case r: AttributeReference if r.exprId == buf(1).exprId =>
        Literal(cnt, LongType)
    }
    try Some(ev.eval(InternalRow.empty))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The stamped avg partial decoded to `fn`'s SUM BUFFER dtype —
    * Double for integral children (the exact stamped Long converted
    * once: equal to Spark's own running double sum whenever that sum
    * is exactly representable, i.e. everywhere short of |sum| > 2⁵³,
    * where Spark's answer is already partitioning-dependent), exact
    * micro-units reconstructed for decimal children (inner None =
    * corrupted stamp → refuse). A zero count is the empty-input state:
    * `fn`'s own evaluation answers NULL from it. */
  private[graft] def avgSumBuffer(fn: Average, a: AttributeReference,
      total: Long, any: Boolean): Option[Any] =
    if (!any) Some(null)
    else fn.aggBufferAttributes.head.dataType match {
      case org.apache.spark.sql.types.DoubleType => Some(total.toDouble)
      case bt: org.apache.spark.sql.types.DecimalType =>
        val scale = a.dataType
          .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale
        try {
          val bd = new java.math.BigDecimal(
            java.math.BigInteger.valueOf(total), 6).setScale(scale)
          // bound to the buffer dtype Decimal(p+10, s): a total that
          // does not fit must REFUSE (the scan raises the overflow
          // error with query context), not flow into Literal.create
          // whose converter would null it silently under ANSI
          Some(org.apache.spark.sql.types.Decimal(
            scala.math.BigDecimal(bd), bt.precision, bt.scale))
        } catch { case _: ArithmeticException => None }
      case _ => None
    }

  /** Is `e` a non-distinct unfiltered variance/stddev whose moments
    * the per-file stamps carry? Matches the four central-moment
    * shapes (`var_samp`/`var_pop`/`stddev_samp`/`stddev_pop`) over an
    * INTEGRAL attribute under the analyzer's double cast. The `sq:`
    * stamp's own per-row try_multiply gate is the exactness proof: a
    * present stamp means every |x| ≤ ~3.04e9 < 2⁵³, so the
    * value-by-value double cast Spark aggregates over is exact and
    * the raw-integer moments ARE the cast values' moments. Returns
    * the attribute and the ORIGINAL aggregate (kept for its own
    * final-value evaluation — n==0/n==1/nullOnDivideByZero semantics
    * included). */
  private def momentKeyOf(e: NamedExpression, lr: LogicalRelation,
      g: GraftRelation)
      : Option[(AttributeReference, CentralMomentAgg)] = e match {
    case Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && ae.filter.isEmpty && !ae.isDistinct =>
      ae.aggregateFunction match {
        case cm @ (_: VarianceSamp | _: VariancePop | _: StddevSamp |
            _: StddevPop) =>
          val fn = cm.asInstanceOf[CentralMomentAgg]
          (fn.child match {
            case Cast(a: AttributeReference, dt, _, _)
                if dt == org.apache.spark.sql.types.DoubleType => Some(a)
            case _ => None
          }).filter { a =>
            lr.output.exists(_.exprId == a.exprId) &&
              (a.dataType match {
                case ByteType | ShortType | IntegerType | LongType => true
                case _ => false
              })
          }.map(a => (a, fn))
        case _ => None
      }
    case _ => None
  }

  /** Evaluate a central-moment aggregate's own final-value expression
    * over exactly-stamped moments: n (the non-null count), avg (only
    * substituted for completeness — the variance/stddev evaluations
    * never read it), and m2 = Σ(x − μ)² computed EXACTLY as the
    * integer (n·Σx² − (Σx)²) and converted with the ONE deterministic
    * rounding sequence `dbl(D) / dbl(n)` an oracle can reproduce in
    * SQL (`CAST(n*sxx - sx*sx AS DOUBLE) / n`). Spark's own running
    * m2 is partition-order-dependent in the last ulps — like AVG,
    * there is no single scan answer to betray, and this one is
    * deterministic and exact-to-one-rounding. None = the evaluation
    * refused. */
  private def metaMomentEval(fn: CentralMomentAgg, cnt: Long, sx: Long,
      sq: Long): Option[Any] = {
    val d = BigInt(cnt) * BigInt(sq) - BigInt(sx) * BigInt(sx)
    val n = cnt.toDouble
    val m2 = if (cnt == 0) 0.0 else d.toDouble / n
    val avg = if (cnt == 0) 0.0 else sx.toDouble / n
    val buf = fn.aggBufferAttributes
    val ev = (fn: DeclarativeAggregate).evaluateExpression.transform {
      case r: AttributeReference if r.exprId == buf(0).exprId =>
        Literal(n, org.apache.spark.sql.types.DoubleType)
      case r: AttributeReference if r.exprId == buf(1).exprId =>
        Literal(avg, org.apache.spark.sql.types.DoubleType)
      case r: AttributeReference if r.exprId == buf(2).exprId =>
        Literal(m2, org.apache.spark.sql.types.DoubleType)
    }
    try Some(ev.eval(InternalRow.empty))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Is `e` a non-distinct unfiltered `count(col)` of a bare (or
    * widening-cast) relation attribute? ANY dtype qualifies — the
    * answer needs only the NULL witness (`rows − nulls` per file),
    * which every auto-stamped column carries. */
  private def countColKeyOf(e: NamedExpression, lr: LogicalRelation,
      g: GraftRelation): Option[AttributeReference] = e match {
    case Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && ae.filter.isEmpty && !ae.isDistinct =>
      ae.aggregateFunction match {
        case Count(Seq(c)) => keyAttrOf(c)
          .filter(a => lr.output.exists(_.exprId == a.exprId))
        case _ => None
      }
    case _ => None
  }

  /** Is `e` a non-distinct unfiltered `min(col)`/`max(col)` whose
    * answer per-file [min,max] stamps can speak about — integral and
    * DATE columns, decoded by [[typedLong]] to the OUTPUT dtype (bare
    * attr, or the widening integral cast `keyAttrOf` admits)?
    * String/timestamp/decimal hybrids refuse here (the full-metadata
    * rewrite #3 already serves full-stamp strings). Returns (attr,
    * isMin, output dtype). */
  private def rangeKeyOf(e: NamedExpression, lr: LogicalRelation,
      g: GraftRelation)
      : Option[(AttributeReference, Boolean, DataType)] = e match {
    case al @ Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && ae.filter.isEmpty && !ae.isDistinct =>
      def attr(c: Expression): Option[AttributeReference] =
        keyAttrOf(c).filter(a => lr.output.exists(_.exprId == a.exprId) &&
          typedLong(0L, al.dataType).isDefined &&
          groupableDtype(a.dataType))
      ae.aggregateFunction match {
        case Min(c) => attr(c).map(a => (a, true, al.dataType))
        case Max(c) => attr(c).map(a => (a, false, al.dataType))
        case _ => None
      }
    case _ => None
  }

  /** '''6. SUM / MIN / MAX / AVG / count(c) / variance from stamps —
    * global (`key` None) or GROUP BY one column''' (rounds 18–20).
    * A global aggregate is the grouped one over the empty grouping
    * set, so one body serves both arities; they differ only in the
    * fold ([[Snapshot.metaAggSplitCols]]'s `(rows, accs)` is the single
    * group; [[Snapshot.metaGroupAggSplitCols]] yields one entry per
    * group), the global-only rows-known guard for count-star outputs
    * (the grouped fold already routes rows-unknown files to the scan),
    * the key column (in the local rows, the scan's grouping and the
    * outer merge), and an EMPTY input — a contradictory window answers
    * one row of empty accumulators at n = 0 with zero keys, and no
    * rows with one key.
    *
    * A file feeds the stamped partials only when EVERY requested
    * measure is provable there (stamp present, or the NULL witness
    * proves the column all-NULL — contributing nothing with the
    * NULL-ness flag down, so an all-NULL column or group answers NULL)
    * and, grouped, the grouping column is provably single-valued. DVs,
    * missing stamps and (windowed) straddlers degrade into ONE
    * restricted scan — WITH the predicate — whose aggregate is UNIONed
    * with the stamped partials and merged by an outer aggregate of each
    * output's own kind (SQL SUM/MIN/MAX ignore NULLs, so a NULL partial
    * merges correctly). Several measured columns compose in one
    * rewrite, each with its own stamp spec, all sharing ONE
    * all-in-or-all-scan file set. `avg(c)` rides the union UNDIVIDED as Average's
    * own (sum, count) buffer and divides once through its own
    * [[Average.evaluateExpression]]; variance rides as exact
    * (Σx, Σx², n) integers ([[metaMomentEval]] /
    * [[graft.expressions.MomentM2]]). A clustering-range FILTER
    * composes (`sum(amount) WHERE key BETWEEN lo AND hi`; grouped only
    * when the key IS the clustering column): wholly-inside files with
    * zero key-nulls and no DV answer from stamps, straddlers scan,
    * wholly-outside files vanish. Literal outputs pass through, and an
    * output wrapping ONE served aggregate in deterministic scalar code
    * (`F.od(sum(x))`, `avg(p) * 1e6`, `count(*) * 2`) is evaluated over
    * the served value or the merged tree. None = guards refuse. */
  private def aggRewrite(agg: Aggregate,
      key: Option[AttributeReference]): Option[LogicalPlan] =
    windowedRelationOf(agg.child).flatMap { case (lr, gr, bounds) =>
      val m = gr.pinnedManifest
      // per-output shape: kind 4 = the key, 3 = count-star, 8 = a
      // literal; 0 = sum, 1 = min, 2 = max, 5 = avg, 6 = count(col),
      // 7 = variance, each with its attribute and OUTPUT dtype; avg and
      // variance also record their aggregate (by output position) for
      // the final-value evaluation
      val avgFns = scala.collection.mutable.Map.empty[Int, Average]
      val momFns = scala.collection.mutable.Map.empty[Int, CentralMomentAgg]
      val litVals = scala.collection.mutable.Map.empty[Int, Literal]
      // outputs of the form f(one-served-aggregate) — the shape
      // CollapseProject leaves when a report wraps an aggregate in a
      // cast/round/unit-scale projection: the WRAPPER body and its
      // single inner AggregateExpression, substituted with the served
      // value (full arm) or the merged aggregate tree (hybrid arm)
      val wrappers =
        scala.collection.mutable.Map.empty[Int, (Expression,
          AggregateExpression)]
      def shapeOf(e: NamedExpression, ei: Int)
          : Option[(Int, AttributeReference, DataType)] =
        if (isCountStar(e))
          Some((3, null: AttributeReference, LongType))
        else sumKeyOf(e, lr, gr)
          .map(a => (0, a, sumCodecOf(a).get._1))
          .orElse(rangeKeyOf(e, lr, gr).map { case (a, isMin, dt) =>
            (if (isMin) 1 else 2, a, dt)
          })
          .orElse(countColKeyOf(e, lr, gr).map(a => (6, a, LongType)))
          .orElse(avgKeyOf(e, lr, gr).map { case (a, fn) =>
            avgFns(ei) = fn; (5, a, fn.dataType)
          })
          .orElse(momentKeyOf(e, lr, gr).map { case (a, fn) =>
            momFns(ei) = fn; (7, a, DoubleType)
          })
      val shapes: Seq[Option[(Int, AttributeReference, DataType)]] =
        agg.aggregateExpressions.zipWithIndex.map { case (e, ei) =>
          if (key.exists(isKeyOutput(e, _)))
            Some((4, null: AttributeReference, e.dataType))
          else shapeOf(e, ei)
            .orElse(litOf(e).map { l =>
              litVals(ei) = l; (8, null: AttributeReference, l.dataType)
            })
            .orElse(e match {
              case Alias(body, _)
                  if !body.isInstanceOf[AggregateExpression] &&
                    body.deterministic =>
                body.collect { case ae: AggregateExpression => ae } match {
                  case Seq(ae)
                      // the wrapper itself may reference NOTHING
                      // beyond its aggregate (a grouping-attribute
                      // reference could neither fold on the driver
                      // nor resolve against the hybrid merge). The
                      // subset check alone is NOT enough: in
                      // `sum(g) + g GROUP BY g` the references
                      // coincide, yet substituting the merged Sum
                      // tree leaves a bare `g` the hybrid Aggregate
                      // cannot resolve — so additionally require the
                      // body reference-free once the aggregate is
                      // removed
                      if body.references.subsetOf(ae.references) &&
                        body.transform {
                          case x: AggregateExpression if x eq ae =>
                            Literal(null, ae.dataType)
                        }.references.isEmpty =>
                    shapeOf(Alias(ae, "gm_w")(), ei).map { sh =>
                      wrappers(ei) = (body, ae); sh
                    }
                  case _ => None
                }
              case _ => None
            })
        }
      // the served value pushed through an output's wrapper (identity
      // when none) — None = the wrapper refused to fold (never wrong)
      def finish(ei: Int, v: Any): Option[Any] = wrappers.get(ei) match {
        case Some((body, ae)) =>
          try Some(body.transform {
            case x: AggregateExpression if x eq ae =>
              Literal(v, ae.dataType)
          }.eval(InternalRow.empty))
          catch { case scala.util.control.NonFatal(_) => None }
        case None => Some(v)
      }
      // the merged aggregate tree substituted into the wrapper
      def finishExpr(ei: Int, m2e: Expression): Expression =
        wrappers.get(ei) match {
          case Some((body, ae)) => body.transform {
            case x: AggregateExpression if x eq ae => m2e
          }
          case None => m2e
        }
      val keyed = shapes.flatten.filter(k => k._1 != 3 && k._1 != 4 &&
        k._1 != 8)
      // pure count/literal mixes belong to the count rewrites — EXCEPT
      // when a wrapper is involved (`count(*) * 2`), which only this
      // rewrite's machinery can fold
      if (shapes.exists(_.isEmpty) ||
          (keyed.isEmpty && wrappers.isEmpty) ||
          key.exists(g => !groupableDtype(g.dataType) ||
            !lr.output.exists(_.exprId == g.exprId) ||
            // a range FILTER composes only when the grouped column IS
            // the clustering column (bounds and grouping must speak
            // about the same stamps — the q171 discipline)
            (bounds.isDefined && !isClusteringAttr(g, lr, gr)))) None
      else {
        def dedup(as: Seq[AttributeReference]) =
          as.foldLeft(Seq.empty[AttributeReference])((acc, a) =>
            if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a)
        // one fold spec per distinct (attr, sum-vs-range-vs-count) —
        // an avg contributes a sum and a non-null-count spec, a
        // variance additionally a sum-of-squares spec
        val sumAttrs = dedup(keyed
          .filter(k => k._1 == 0 || k._1 == 5 || k._1 == 7).map(_._2))
        val rngAttrs = dedup(keyed.filter(k => k._1 == 1 || k._1 == 2)
          .map(_._2))
        val cntAttrs = dedup(keyed
          .filter(k => k._1 == 6 || k._1 == 5 || k._1 == 7).map(_._2))
        val sqAttrs = dedup(keyed.filter(_._1 == 7).map(_._2))
        val specs: Seq[Snapshot.StampSpec] =
          sumAttrs.map(a => Snapshot.SumSpec(
            Snapshot.physicalName(m, a.name))) ++
            rngAttrs.map(a => Snapshot.RangeSpec(
              Snapshot.physicalName(m, a.name),
              cluster = isClusteringAttr(a, lr, gr))) ++
            cntAttrs.map(a => Snapshot.CountSpec(
              Snapshot.physicalName(m, a.name),
              cluster = isClusteringAttr(a, lr, gr))) ++
            sqAttrs.map(a => Snapshot.SumSpec(
              Snapshot.physicalName(m, a.name), Snapshot.SqPfx))
        def sumIdxOf(a: AttributeReference): Int =
          sumAttrs.indexWhere(_.exprId == a.exprId)
        def cntIdxOf(a: AttributeReference): Int =
          sumAttrs.length + rngAttrs.length +
            cntAttrs.indexWhere(_.exprId == a.exprId)
        def sqIdxOf(a: AttributeReference): Int =
          sumAttrs.length + rngAttrs.length + cntAttrs.length +
            sqAttrs.indexWhere(_.exprId == a.exprId)
        def specIdx(kind: Int, a: AttributeReference): Int =
          if (kind == 0) sumIdxOf(a)
          else if (kind == 6) cntIdxOf(a)
          else sumAttrs.length + rngAttrs.indexWhere(_.exprId == a.exprId)
        val contradiction = bounds.exists(b => b._1 > b._2)
        // (group, (rows, per-spec accs)) per stamped group, the scan
        // set, and whether every stamped file's row count is known
        val (groups, scan, rowsOk): (Seq[(Option[Long],
            (Long, Seq[Snapshot.StampAcc]))], Seq[Snapshot.FileEntry],
            Boolean) =
          if (contradiction) {
            // zero rows satisfy, by the predicate alone: zero keys
            // still answer one row — empty accumulators at n = 0
            val empty = specs.map {
              case _: Snapshot.RangeSpec =>
                Snapshot.RangeAcc(0L, 0L, any = false)
              case _ => Snapshot.SumAcc(0L, any = false)
            }
            (if (key.isEmpty) Seq((None, (0L, empty))) else Nil,
              Nil, true)
          } else key match {
            case None =>
              val (rows, ok, accs, sc) =
                Snapshot.metaAggSplitCols(m, specs, bounds)
              (Seq((None, (rows, accs))), sc, ok)
            case Some(g) =>
              val (sums, sc) = Snapshot.metaGroupAggSplitCols(m,
                Snapshot.physicalName(m, g.name),
                isClusteringAttr(g, lr, gr), specs, bounds)
              (sums.toSeq, sc, true)
          }
        def keyOf(k: Option[Long]): Any =
          keyValue(k, key.map(_.dataType).getOrElse(LongType))
        // the raw stamped (sum-buffer, non-null count) pair for an avg
        // OUTPUT within one group's accumulators — the hybrid arm
        // merges these undivided
        def avgPartOf(cs: Seq[Snapshot.StampAcc], a: AttributeReference,
            ei: Int): Option[(Any, Long)] =
          (cs(sumIdxOf(a)), cs(cntIdxOf(a))) match {
            case (Snapshot.SumAcc(st, any), Snapshot.SumAcc(cnt, _)) =>
              avgSumBuffer(avgFns(ei), a, st, any).map(sv => (sv, cnt))
            case _ => None
          }
        // the raw stamped (Σx, Σx², n) triple for a variance OUTPUT —
        // exact integers the hybrid arm merges undivided (all-NULL
        // stamped sides carry NULL sums the union Sum ignores)
        def momPartOf(cs: Seq[Snapshot.StampAcc], a: AttributeReference)
            : Option[(Any, Any, Long)] =
          (cs(sumIdxOf(a)), cs(cntIdxOf(a)), cs(sqIdxOf(a))) match {
            case (Snapshot.SumAcc(sx, anyX), Snapshot.SumAcc(cnt, _),
                Snapshot.SumAcc(sq, anyQ)) =>
              Some((if (anyX) org.apache.spark.sql.types.Decimal(
                  scala.math.BigDecimal(sx), 38, 0) else null,
                if (anyQ) org.apache.spark.sql.types.Decimal(
                  scala.math.BigDecimal(sq), 38, 0) else null,
                cnt))
            case _ => None
          }
        // one group's stamped value for an output — RAW (wrappers apply
        // at the serving arms); None = corrupted stamp
        def decode(k: Option[Long], n: Long, cs: Seq[Snapshot.StampAcc],
            shape: (Int, AttributeReference, DataType),
            ei: Int): Option[Any] = shape match {
          case (4, _, _) => Some(keyOf(k))
          case (3, _, _) => Some(n)
          case (8, _, _) => Some(litVals(ei).value)
          case (5, a, _) => avgPartOf(cs, a, ei).flatMap { case (sv, c) =>
            metaAvgEval(avgFns(ei), sv, c)
          }
          case (7, a, _) =>
            (cs(sumIdxOf(a)), cs(cntIdxOf(a)), cs(sqIdxOf(a))) match {
              case (Snapshot.SumAcc(sx, _), Snapshot.SumAcc(cnt, _),
                  Snapshot.SumAcc(sq, _)) =>
                metaMomentEval(momFns(ei), cnt, sx, sq)
              case _ => None
            }
          case (kind, a, dt) => cs(specIdx(kind, a)) match {
            case Snapshot.SumAcc(t, _) if kind == 6 =>
              Some(t) // count(c): 0 is the answer, never NULL
            case Snapshot.SumAcc(t, any) =>
              if (any) sumCodecOf(a).get._2(t) else Some(null)
            case Snapshot.RangeAcc(mn, mx, any) =>
              if (!any) Some(null)
              else typedLong(if (kind == 1) mn else mx, dt)
          }
        }
        // decode every group up front — one corrupted stamp refuses
        // the whole rewrite
        val decoded = groups.map { case (k, (n, cs)) =>
          (k, n, cs, shapes.zipWithIndex.map { case (sh, ei) =>
            decode(k, n, cs, sh.get, ei)
          })
        }
        val hasCount = shapes.exists(_.exists(_._1 == 3))
        if (!contradiction && scan.size == m.files.size) None
        else if (hasCount && !rowsOk) None
        else if (decoded.exists(_._4.exists(_.isEmpty))) None
        else if (scan.isEmpty) {
          // every file answered from stamps: one local row per group
          val rows = decoded.map { case (_, _, _, vs) =>
            InternalRow.fromSeq(shapes.zip(vs).zipWithIndex.map {
              case ((Some((4 | 8, _, _)), Some(v)), _) => v
              case ((_, Some(v)), ei) =>
                finish(ei, v).getOrElse(return None) // wrapper refused
              case _ => return None // unreachable by the guard
            })
          }
          Some(LocalRelation(agg.output, rows))
        } else {
          // hybrid: one scan aggregate + one local partial per
          // NON-count output (an avg occupies TWO partial slots —
          // buffer sum + non-null count; a variance THREE — exact Σx,
          // Σx², n), merged by an outer aggregate of each shape's own
          // kind. Variance moments (round 20) merge EXACTLY: the scan
          // side aggregates Σx and Σx² as DECIMAL(38,0) integers —
          // never a float partial that would re-introduce the
          // order-dependence the stamps eliminate — but ONLY when every
          // degraded file still CARRIES its sq: stamp (present but
          // unusable: DV'd files, windowed straddlers). The stamp's
          // per-row try_multiply gate proves every scanned |x| ≤
          // ~3.04e9, so each x² ≤ 9.3e18 and the Decimal(38,0)
          // partials stay exact short of 10¹⁹ scanned rows. A file
          // MISSING the stamp proves nothing and refuses whole.
          locally {
            val momAttrs = shapes.collect { case Some((7, a, _)) => a }
            if (momAttrs.nonEmpty && scan.exists(f => momAttrs.exists(
                a => !m.colStats.contains((f.path,
                  Snapshot.SqPfx + Snapshot.physicalName(m, a.name))))))
              return None
          }
          // avg hybrids (round 20): DOUBLE buffers merge as running
          // double sums; DECIMAL buffers merge as exact decimal sums
          // whose widened union total is bound back to the buffer
          // dtype by Spark's OWN CheckOverflowInSum (mode-matched at
          // the output arm below: legacy null / ANSI raise — the same
          // contract the scan's final sum evaluation applies). Any
          // other buffer dtype refuses.
          if (avgFns.valuesIterator.exists { fn =>
                val bt = fn.aggBufferAttributes.head.dataType
                bt != DoubleType && !bt.isInstanceOf[DecimalType]
              }) return None
          val perShape = shapes.zipWithIndex.collect {
            case (Some((k, a, dt)), i) if k != 3 && k != 4 && k != 8 =>
              (k, a, dt, i)
          }
          // slot layout over the partial columns
          val slotOf: Map[Int, Int] = {
            var off = 0
            perShape.map { case (k, _, _, i) =>
              val s = i -> off
              off += (if (k == 5) 2 else if (k == 7) 3 else 1); s
            }.toMap
          }
          val scanAggs = perShape.flatMap { case (k, a, dt, i) =>
            if (k == 5) {
              // mirror Average's own buffer: a running DOUBLE sum for
              // integral children (never a Long that could raise
              // where avg would not), the exact DECIMAL(p+10, s) sum
              // for decimal children (Sum's own resultType IS the
              // buffer dtype), plus the non-null count
              val sumChild: Expression =
                if (avgFns(i).aggBufferAttributes.head.dataType ==
                    DoubleType) Cast(a, DoubleType)
                else a
              Seq(
                Alias(AggregateExpression(Sum(sumChild), Complete,
                  isDistinct = false), "gm_part")(),
                Alias(AggregateExpression(Count(Seq(a)), Complete,
                  isDistinct = false), "gm_partc")())
            } else if (k == 7) {
              // exact integer moments: Σx and Σx² as DECIMAL(38,0)
              // plus the non-null count — never a float partial
              val dx = Cast(a, DecimalType(38, 0))
              Seq(
                Alias(AggregateExpression(Sum(dx), Complete,
                  isDistinct = false), "gm_part")(),
                Alias(AggregateExpression(Sum(Multiply(dx, dx)),
                  Complete, isDistinct = false), "gm_partq")(),
                Alias(AggregateExpression(Count(Seq(a)), Complete,
                  isDistinct = false), "gm_partc")())
            } else {
              // min/max of a widened output must aggregate the widened
              // child so the union sides agree on dtype (sum result
              // dtypes already match the codec's; counts are Longs)
              val child: Expression =
                if ((k == 1 || k == 2) && a.dataType != dt) Cast(a, dt)
                else a
              val fn = k match {
                case 0 => Sum(child); case 1 => Min(child)
                case 2 => Max(child); case _ => Count(Seq(child))
              }
              Seq(Alias(AggregateExpression(fn, Complete,
                isDistinct = false), "gm_part")())
            }
          }
          val partialOut = perShape.flatMap { case (k, _, dt, i) =>
            if (k == 5)
              Seq(AttributeReference(s"gm_p$i",
                  avgFns(i).aggBufferAttributes.head.dataType)(),
                AttributeReference(s"gm_p${i}c", LongType,
                  nullable = false)())
            else if (k == 7)
              Seq(AttributeReference(s"gm_p$i", DecimalType(38, 0))(),
                AttributeReference(s"gm_p${i}q", DecimalType(38, 0))(),
                AttributeReference(s"gm_p${i}c", LongType,
                  nullable = false)())
            else Seq(AttributeReference(s"gm_p$i", dt)())
          }
          val keys = key.toSeq
          val un = hybridUnion(agg.child, lr, gr, scan, keys, scanAggs,
            partialOut, decoded.map { case (k, n, cs, vs) =>
              keys.map(_ => keyOf(k)) ++ ((n: Any) +:
                perShape.flatMap { case (kk, a, _, i) =>
                  // clean by the guard: a decoded avg/variance proves
                  // its raw partials decode too
                  if (kk == 5) {
                    val (sv, c) = avgPartOf(cs, a, i).get
                    Seq(sv, c: Any)
                  } else if (kk == 7) {
                    val (sx, sq, c) = momPartOf(cs, a).get
                    Seq(sx, sq, c: Any)
                  } else Seq(vs(i).get)
                })
            })
          // union columns: [key], rows, then each output's slots
          val uk = un.output.head
          val uc = un.output(keys.size)
          def colOf(i: Int, j: Int = 0): Attribute =
            un.output(keys.size + 1 + slotOf(i) + j)
          def merged(fn: AggregateFunction): Expression =
            AggregateExpression(fn, Complete, isDistinct = false)
          val outs = agg.aggregateExpressions.zip(shapes).zipWithIndex
            .map {
              case ((e, Some((4, _, _))), _) =>
                Alias(uk, e.name)(exprId = e.exprId)
              case ((e, Some((8, _, _))), i) =>
                Alias(litVals(i), e.name)(exprId = e.exprId)
              case ((e, Some((k, _, dt))), i) =>
                val m2e: Expression = k match {
                  case 3 => // count-star cells add up
                    Coalesce(Seq(merged(Sum(uc)), Literal(0L)))
                  case 6 => // count partials add like count-star cells
                    Coalesce(Seq(merged(Sum(colOf(i))), Literal(0L)))
                  case 0 =>
                    // the union-merge Sum widens (decimal +10
                    // precision); cast back — exact unless the original
                    // sum itself would have overflowed, where the
                    // session's own overflow contract takes over
                    Cast(merged(Sum(colOf(i))), dt)
                  case 1 => merged(Min(colOf(i)))
                  case 2 => merged(Max(colOf(i)))
                  case 5 =>
                    // Average's OWN final-value tree over the merged
                    // (sum, count) — division typing and rounding are
                    // Spark's code, not a re-implementation
                    val fn = avgFns(i)
                    val buf = fn.aggBufferAttributes
                    val rawSum = merged(Sum(colOf(i)))
                    val sumAgg: Expression = buf(0).dataType match {
                      case bt: DecimalType =>
                        // bind the widened union total back to the
                        // buffer dtype with the scan's own overflow
                        // contract — Spark's CheckOverflowInSum
                        org.apache.spark.sql.catalyst.expressions
                          .CheckOverflowInSum(rawSum, bt,
                            !session.sessionState.conf.ansiEnabled, null)
                      case _ => rawSum
                    }
                    val cntAgg = Coalesce(Seq(merged(Sum(colOf(i, 1))),
                      Literal(0L)))
                    (fn: DeclarativeAggregate).evaluateExpression
                      .transform {
                        case r: AttributeReference
                            if r.exprId == buf(0).exprId => sumAgg
                        case r: AttributeReference
                            if r.exprId == buf(1).exprId => cntAgg
                      }
                  case _ =>
                    // the merged exact moments run the SAME
                    // deterministic chain as the full-metadata driver
                    // fold: BigInt difference, ONE double conversion,
                    // and the aggregate's OWN evaluation divides once
                    // ([[graft.expressions.MomentM2]] — byte-identical
                    // to metaMomentEval by construction)
                    val fn = momFns(i)
                    val buf = fn.aggBufferAttributes
                    val zeroD = Literal.create(
                      org.apache.spark.sql.types.Decimal(0L, 38, 0),
                      DecimalType(38, 0))
                    val sxAgg = Coalesce(Seq(merged(Sum(colOf(i))), zeroD))
                    val sqAgg = Coalesce(Seq(merged(Sum(colOf(i, 1))),
                      zeroD))
                    val cntAgg = Coalesce(Seq(merged(Sum(colOf(i, 2))),
                      Literal(0L)))
                    val nD = Cast(cntAgg, DoubleType)
                    val avgE = If(EqualTo(cntAgg, Literal(0L)),
                      Literal(0.0), Divide(Cast(sxAgg, DoubleType), nD))
                    val m2E = graft.expressions.MomentM2(cntAgg, sxAgg,
                      sqAgg)
                    (fn: DeclarativeAggregate).evaluateExpression
                      .transform {
                        case r: AttributeReference
                            if r.exprId == buf(0).exprId => nD
                        case r: AttributeReference
                            if r.exprId == buf(1).exprId => avgE
                        case r: AttributeReference
                            if r.exprId == buf(2).exprId => m2E
                      }
                }
                Alias(finishExpr(i, m2e), e.name)(exprId = e.exprId)
              case ((_, None), _) => return None // unreachable
            }
          Some(Aggregate(keys.map(_ => uk), outs, un))
        }
      }
    }

  /** Is `e` an unfiltered `approx_count_distinct(col)` of a bare
    * relation attribute? Returns the attribute and the query's
    * requested relativeSD. */
  private def approxHllOf(e: NamedExpression, lr: LogicalRelation)
      : Option[(AttributeReference, Double)] = e match {
    case Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && ae.filter.isEmpty && !ae.isDistinct =>
      ae.aggregateFunction match {
        case h: HyperLogLogPlusPlus => h.child match {
          case a: AttributeReference
              if lr.output.exists(_.exprId == a.exprId) =>
            Some((a, h.relativeSD))
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  /** '''7. Opt-in approx_count_distinct, global or GROUP BY one
    * column''': `approx_count_distinct(col)` answered from the HLL
    * register sidecars — [[Snapshot.metaDistinctMeta]] with zero keys,
    * [[Snapshot.metaGroupDistinctMeta]]'s per-group register merge
    * with one — behind [[MetadataOnlyCountRule.ApproxDistinctSketchKey]]
    * (default OFF, because swapping Spark's HLL++ estimate for the
    * sidecar sketch's CHANGES answers: an explicit dashboard opt-in,
    * never a silent rewrite; the q178 verb + fold remain the conf-free
    * spelling). Serves only when the sidecar sketch is at least as
    * TIGHT as the query's requested relativeSD (p=12 ≈ 0.016 vs the
    * 0.05 default) and every file is provably accounted — the q178
    * refusal ladder: DVs, unsketched/rewritten or (grouped)
    * mixed-valued files, corrupt or mixed-precision payloads refuse
    * whole (a sketch cannot be split across groups). Key and literal
    * outputs mix, the NULL-key group is first-class; count-star
    * (exact, from the metadata count) mixes with zero keys only — the
    * register merge carries no per-group row counts. */
  private def approxDistinctRewrite(agg: Aggregate,
      key: Option[AttributeReference]): Option[LogicalPlan] = {
    if (!session.conf.get(MetadataOnlyCountRule.ApproxDistinctSketchKey,
        "false").toBoolean) return None
    relationOf(agg.child).flatMap { case (lr, gr) =>
      val m = gr.pinnedManifest
      if (key.exists(g => !groupableDtype(g.dataType) ||
          !lr.output.exists(_.exprId == g.exprId))) return None
      // per output: Left = (sketched attr, requested relativeSD);
      // Right(0) count-star, Right(1) literal, Right(2) the key
      type Shape = Either[(AttributeReference, Double), Int]
      val lits = scala.collection.mutable.Map.empty[Int, Literal]
      val shapes: Seq[Option[Shape]] =
        agg.aggregateExpressions.zipWithIndex.map { case (e, i) =>
          if (key.exists(isKeyOutput(e, _))) Some(Right(2))
          else approxHllOf(e, lr).map(Left(_): Shape)
            .orElse(if (key.isEmpty && isCountStar(e)) Some(Right(0))
              else None)
            .orElse(litOf(e).map { l => lits(i) = l; Right(1) })
        }
      if (shapes.exists(_.isEmpty) || !shapes.exists(_.exists(_.isLeft)))
        return None
      val rowsOpt = metaCountOf(agg.child)
      if (shapes.contains(Some(Right(0))) && rowsOpt.isEmpty) return None
      // one register merge per sketched column, at its tightest request
      val perCol: Map[Long, Map[Option[Long], Long]] =
        shapes.flatten.collect { case Left(ar) => ar }
          .groupBy(_._1.exprId.id).map { case (id, as) =>
            val phys = Snapshot.physicalName(m, as.head._1.name)
            (key match {
              case None => Snapshot.metaDistinctMeta(m, phys)
                .map { case (est, rsd) => (Map((None: Option[Long]) -> est), rsd) }
              case Some(g) => Snapshot.metaGroupDistinctMeta(m,
                Snapshot.physicalName(m, g.name),
                isClusteringAttr(g, lr, gr), phys)
            }) match {
              case Some((ests, rsd)) if rsd <= as.map(_._2).min => id -> ests
              case _ => return None
            }
          }
      // every per-column merge derives its groups from the SAME file
      // verdicts — differing keysets mean an inconsistency: refuse
      val groups = perCol.values.head.keySet
      if (!perCol.values.forall(_.keySet == groups)) return None
      val rows = groups.toSeq.map { grp =>
        InternalRow.fromSeq(agg.aggregateExpressions.indices.map { i =>
          shapes(i).get match {
            case Left((a, _)) => perCol(a.exprId.id)(grp): Any
            case Right(0) => rowsOpt.get: Any
            case Right(1) => lits(i).value
            case Right(_) => keyValue(grp, key.get.dataType)
          }
        })
      }
      Some(LocalRelation(agg.output, rows))
    }
  }

  /** Is `e` a `count(col)` / `count(DISTINCT col)` of a bare (or
    * widening-cast) relation attribute of a groupable dtype? Returns
    * the attribute and the distinctness. */
  private def countKeyOf(e: NamedExpression, lr: LogicalRelation,
      g: GraftRelation): Option[(AttributeReference, Boolean)] = e match {
    case Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(c)) =>
          keyAttrOf(c)
            .filter(a => lr.output.exists(_.exprId == a.exprId) &&
              groupableDtype(a.dataType))
            .map(a => (a, ae.isDistinct))
        case _ => None
      }
    case _ => None
  }

  /** '''5. Global count(key) / count(DISTINCT key) of the clustering
    * column''' (round 17) — "how many non-null keys" and "how many
    * tenants/days/codes", answered from the same
    * [[Snapshot.metaGroupSplit]] arithmetic as the grouped shape:
    * stamped single-valued files contribute their group sums (NULLs
    * and DV masks accounted exactly as there), degraded files scan
    * restricted and merge — `count(key)` sums the non-NULL-group
    * contributions, `count(DISTINCT key)` counts the merged distinct
    * keys (a value seen in both stamps and the scan collapses).
    * Count-star outputs mix freely. None = guards refuse. */
  private def distinctCountRewrite(agg: Aggregate): Option[LogicalPlan] =
    relationOf(agg.child).flatMap { case (lr, gr) =>
      // per-output shape: Some(None) = count(*) (a Literal rides the
      // same slot as a pass-through constant — stored separately),
      // Some(Some((a, d))) = count([DISTINCT] a) with distinctness d,
      // None = unsupported
      val lits = scala.collection.mutable.Map.empty[Int, Literal]
      val shapes: Seq[Option[Option[(AttributeReference, Boolean)]]] =
        agg.aggregateExpressions.zipWithIndex.map { case (e, ei) =>
          if (isCountStar(e)) Some(None)
          else litOf(e) match {
            case Some(l) => lits(ei) = l; Some(None)
            case None    => countKeyOf(e, lr, gr).map(ad => Some(ad))
          }
        }
      // every keyed count must speak about ONE column — its split is
      // the arithmetic they all share
      val keyed = shapes.flatten.flatten
      if (shapes.exists(_.isEmpty) || keyed.isEmpty ||
          keyed.map(_._1.exprId).distinct.size != 1) None
      else {
        val g = keyed.head._1
        val m = gr.pinnedManifest
        val (sums, scan) = groupSplitOf(gr, g)
        if (scan.nonEmpty) {
          if (scan.size == m.files.size) return None
          // stamped groups + one restricted grouped scan, merged by a
          // global aggregate over the union (the grouped count's
          // scaffold, global outputs instead of per-group)
          val un = countUnion(agg.child, lr, gr, g, sums, scan)
          val uk = un.output.head
          val uc = un.output(1)
          def sumOf(term: Expression) = Coalesce(Seq(AggregateExpression(
            Sum(term), Complete, isDistinct = false), Literal(0L)))
          val outs = agg.aggregateExpressions.zip(shapes).zipWithIndex
            .map {
            case ((e, Some(None)), ei) if lits.contains(ei) =>
              Alias(lits(ei), e.name)(exprId = e.exprId)
            case ((e, Some(None)), _) => // count(*): every underlying row
              Alias(sumOf(uc), e.name)(exprId = e.exprId)
            case ((e, Some(Some((_, false)))), _) => // count(col)
              Alias(sumOf(If(IsNotNull(uk), uc, Literal(0L))),
                e.name)(exprId = e.exprId)
            case ((e, Some(Some((_, true)))), _) => // count(DISTINCT)
              Alias(AggregateExpression(Count(Seq(uk)), Complete,
                isDistinct = true), e.name)(exprId = e.exprId)
            case ((e, None), _) => return None // unreachable
          }
          Some(Aggregate(Nil, outs, un))
        } else {
          // every file accounted: one local row of pure arithmetic
          lazy val total = sums.valuesIterator.sum
          lazy val nonNull = sums.iterator
            .collect { case (Some(_), n) => n }.sum
          lazy val distinct = sums.keysIterator.count(_.isDefined).toLong
          val vals = shapes.zipWithIndex.map {
            case (Some(None), ei) if lits.contains(ei) => lits(ei).value
            case (Some(None), _)             => total
            case (Some(Some((_, false))), _) => nonNull
            case (Some(Some((_, true))), _)  => distinct
            case (None, _)                   => return None // unreachable
          }
          Some(LocalRelation(agg.output,
            Seq(InternalRow.fromSeq(vals))))
        }
      }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, exprs, child, _) if exprs.nonEmpty &&
        exprs.forall(e => isCountStar(e) || litOf(e).isDefined) &&
        exprs.exists(isCountStar) =>
      metaCountOf(child) match {
        case Some(n) => countRows(agg.aggregateExpressions, agg.output, n)
        case None    => filteredCountRewrite(agg).getOrElse(agg)
      }
    case agg @ Aggregate(Nil, exprs, _, _) if exprs.nonEmpty =>
      minMaxRewrite(agg).orElse(distinctCountRewrite(agg))
        .orElse(approxDistinctRewrite(agg, None))
        .orElse(aggRewrite(agg, None)).getOrElse(agg)
    case agg @ Aggregate(Seq(g: AttributeReference), exprs, _, _)
        if exprs.nonEmpty &&
          exprs.forall(e => isKeyOutput(e, g) || isCountStar(e) ||
            litOf(e).isDefined) =>
      groupedCountRewrite(agg, g).getOrElse(agg)
    case agg @ Aggregate(Seq(g: AttributeReference), exprs, _, _)
        if exprs.nonEmpty =>
      approxDistinctRewrite(agg, Some(g))
        .orElse(aggRewrite(agg, Some(g))).getOrElse(agg)
  }
}

object MetadataOnlyCountRule {
  /** Opt-in gate for the approx-distinct sidecar rewrite: serve
    * `approx_count_distinct(col)` over a fully-sketched graft
    * relation from the HLL sidecar merge. DEFAULT OFF — the sidecar
    * estimate differs from Spark's HLL++ estimate, so the swap must
    * be an explicit per-session choice, never silent. */
  val ApproxDistinctSketchKey = "spark.graft.rewrite.approxDistinctSketch"
}
