package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSubquery, LessThan, LessThanOrEqual, ListQuery, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Project, Sample, Sort, SubqueryAlias, UnaryNode, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftshim.ExprColumn
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Snapshot
import graft.sources.GraftRelation

/** Optimizer rule: AUTOMATIC sideways information passing for
  * equi-joins over graft snapshot reads — the front-door spelling of
  * [[graft.ops.SipJoin]] (q169), firing with ZERO planning-time jobs.
  *
  * `SELECT … FROM fact f JOIN dim d ON f.k = d.k` over graft tables
  * scans every fact file under plain Spark: the keys that could prune
  * live in the dim's ROWS, invisible to static pushdown, and Spark's
  * own runtime filters (`InjectRuntimeFilter`) prune rows after the
  * scan, never files (its DPP fires only on partitioned catalog
  * tables). This rule closes the gap for the cases where the dim
  * side's key ENVELOPE is already known on the driver without running
  * anything:
  *
  *  - the dim subtree bottoms out in a [[LocalRelation]] (VALUES,
  *    `Seq(...).toDF`, a collected lookup): its rows are IN the plan,
  *    so up to [[SipJoinRule.InListMax]] distinct keys inject verbatim
  *    as `k IN (…)` (range + Bloom file candidacy), more inject as
  *    their [min,max] envelope, and an EMPTY dim injects `false` —
  *    Catalyst folds the join away;
  *  - the dim subtree bottoms out in another GRAFT relation whose key
  *    column carries EXACT value stamps (integral/date `colStats`,
  *    string `strStats`, or the clustering column's own file stamps —
  *    the q168 eligibility machinery, guards included): the manifest's
  *    min/max is a sound envelope for the dim's keys. Filters,
  *    projections, aggregates, limits etc. above the dim leaf only
  *    SHRINK its key set, so the leaf envelope stays a sound
  *    over-approximation — conservative when the dim is filtered hard
  *    (the verb, which summarizes actual rows, prunes tighter; use it
  *    when the dim is a 0.1% slice of its table).
  *
  * The summary becomes a REDUNDANT conjunct on the join-side key
  * expression, injected as a Filter that the existing pushdown moves
  * into the graft scan, where file candidacy acts on it at planning
  * time. Soundness by join type: the predicate only drops rows whose
  * key is provably absent from the other side, which inner joins drop
  * anyway; for one-sided joins only the NON-preserved side is pruned
  * (LeftOuter prunes right, RightOuter left, LeftSemi both — a
  * keyless left row has no match and is dropped by the semi itself,
  * LeftAnti right only — removing never-matching right rows preserves
  * every left row's match set). NULL keys never equi-match, so
  * dropping them is sound everywhere this fires; null-safe equality
  * (`<=>`) CAN match NULLs and is excluded. FullOuter prunes nothing.
  *
  * Injection targets only fact keys that reach an UNRESTRICTED graft
  * relation's own output (through attribute-preserving nodes) AND name
  * a column the manifest has something on (clustering stamps, sidecar
  * stats, or a Bloom sketch) — anywhere else the conjunct would be a
  * per-row tax with no file-skip payoff. Convergence: before
  * injecting, the rule checks the join side's existing Filter
  * conjuncts for a semantically equal predicate and skips it — the
  * fixed-point batch settles in one extra pass. Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.SipJoinRule` turns
  * the rule off for a session (SipRuleSpec A/Bs both settings to
  * identical answers).
  *
  * DYNAMIC mode additionally lets the rule run the verb's bounded dim
  * job ([[graft.ops.SipJoin.dimKeys]] — `InListMax + 1` distinct
  * collect, min/max only on overflow) when a FILTER above the dim
  * leaf has made the static envelope useless (`dim WHERE region =
  * 'EU'` keeping 0.1% of the keys — the daily star-join shape;
  * Delta's dynamic file pruning runs the same planning-time
  * subquery). Armed two ways (default off — the static rule stays
  * zero-job): PLAN-SCOPED, the fact read loaded with
  * `option("sipDynamic", "true")` — only joins over that relation may
  * pay the job, concurrent queries in the same session are untouched
  * (round 19) — or session-wide via `spark.graft.sipRule.dynamic=true`
  * (the blanket opt-in for an ETL session that wants it everywhere).
  * See [[dynamicSummary]] for the guard ladder and [[DynTag]] for the
  * one-job-per-query convergence discipline.
  */
case class SipJoinRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  import SipJoinRule._

  /** Name equality under the session's case-sensitivity setting (the
    * analyzer's own resolver) — see MetadataOnlyCountRule.sameName:
    * under `spark.sql.caseSensitive=true` an unconditional
    * equalsIgnoreCase would route `K` to `k`'s stamps. */
  private def sameName(x: String, y: String): Boolean =
    session.sessionState.conf.resolver(x, y)

  /** (left prunable?, right prunable?) per join type — prune only the
    * side whose non-matching rows the join itself would drop. */
  private def prunable(jt: JoinType): (Boolean, Boolean) = jt match {
    case Inner      => (true, true)
    case LeftSemi   => (true, true)
    case LeftAnti   => (false, true)
    case LeftOuter  => (false, true)
    case RightOuter => (true, false)
    case _          => (false, false)
  }

  /** Bare attribute, or a widening integral cast of one (the shape
    * analyzer-coerced equi-keys take; order-preserving, so an envelope
    * on the cast value is an envelope on the attribute). */
  private def attrOf(e: Expression): Option[AttributeReference] = {
    def w(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => 0
    }
    e match {
      case a: AttributeReference => Some(a)
      case Cast(a: AttributeReference, dt, _, _)
          if w(dt) > 0 && w(a.dataType) > 0 && w(dt) >= w(a.dataType) =>
        Some(a)
      case _ => None
    }
  }

  /** Nodes whose output rows' `a` values are a subset of their child's
    * (∪ NULL, which never equi-matches): safe to descend through when
    * tracing where a key attribute's VALUES can come from. */
  private def descends(p: LogicalPlan, a: Attribute): Option[LogicalPlan] =
    p match {
      case _: Project | _: Filter | _: Aggregate | _: Sort |
          _: GlobalLimit | _: LocalLimit | _: SubqueryAlias |
          _: Window | _: Sample | _: Generate =>
        val c = p.asInstanceOf[UnaryNode].child
        if (c.outputSet.contains(a)) Some(c) else None
      case j: Join =>
        if (j.left.outputSet.contains(a)) Some(j.left)
        else if (j.right.outputSet.contains(a)) Some(j.right)
        else None
      case _ => None
    }

  private def leafOf(plan: LogicalPlan, a: Attribute): Option[LogicalPlan] =
    plan match {
      case lr: LogicalRelation if lr.output.exists(_.exprId == a.exprId) =>
        Some(lr)
      case loc: LocalRelation if loc.output.exists(_.exprId == a.exprId) =>
        Some(loc)
      case p => descends(p, a).flatMap(leafOf(_, a))
    }

  // ------------------------------------------------------- dim side

  /** Internal-value ordering for the supported key dtypes (UTF8String
    * is binary order — the same order `strStats` stamps use). */
  private def lt(dt: DataType)(x: Any, y: Any): Boolean = dt match {
    case ByteType    => x.asInstanceOf[Byte] < y.asInstanceOf[Byte]
    case ShortType   => x.asInstanceOf[Short] < y.asInstanceOf[Short]
    case IntegerType | DateType =>
      x.asInstanceOf[Int] < y.asInstanceOf[Int]
    case LongType    => x.asInstanceOf[Long] < y.asInstanceOf[Long]
    case StringType  =>
      x.asInstanceOf[UTF8String].compareTo(y.asInstanceOf[UTF8String]) < 0
    case _ => throw new IllegalStateException(s"unordered dtype $dt")
  }

  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        StringType => true
    case _ => false
  }

  // --------------------------------------------------- dynamic (job)

  private def dynamicEnabled: Boolean =
    session.conf.get(DynamicKey, "false") == "true"

  /** Is the dynamic arm armed for THIS join? Either the session-wide
    * conf (the blanket opt-in), or — plan-scoped, round 19 — the FACT
    * side reads through a graft relation loaded with
    * `option("sipDynamic", "true")`: the query that asked pays the
    * planning-time dim job; a concurrent query optimizing in the same
    * session never does (no global state to toggle around a
    * materialization). */
  private def dynamicArmed(factSide: LogicalPlan): Boolean =
    dynamicEnabled || factSide.exists {
      case lr: LogicalRelation => lr.relation match {
        case g: GraftRelation => g.sipDynamicOptIn
        case _ => false
      }
      case _ => false
    }

  private def dynamicMaxBytes: Long =
    session.conf.get(DynamicMaxBytesKey, DynamicMaxBytesDefault.toString)
      .toLong

  /** The dim key's summary from ONE bounded planning-time job — the
    * [[graft.ops.SipJoin.dimKeys]] primitive the q169 verb runs, fired
    * automatically (opt-in: `spark.graft.sipRule.dynamic=true`) when
    * the static path would keep only the LEAF envelope a hard filter
    * has made useless (`dim WHERE region = 'EU'` keeps 0.1% of the
    * dim's keys; the leaf stamps still span all of them — the daily
    * star-join shape). Guards, in refusal order:
    *
    *  - a conjunct this path already injected for the fact attr is
    *    still on the join side (the [[SipJoinRule.DynTag]] convergence
    *    check — the caller tests it BEFORE calling, so the fixed-point
    *    batch's later passes cost zero jobs);
    *  - re-entrancy: the dim job's own optimization must not fire
    *    nested jobs ([[SipJoinRule.inDynamicJob]]);
    *  - no Filter conjunct on a NON-key attribute in the subtree →
    *    the static envelope plus Catalyst's own constraint propagation
    *    already say everything a job could; stay zero-job;
    *  - streaming, non-deterministic expressions, or Sample anywhere
    *    in the subtree → executing it twice may not see the same rows,
    *    so a summary from run 1 could wrongly prune run 2's matches;
    *  - the subtree's LEAF scan estimate above
    *    `spark.graft.sipRule.dynamicMaxBytes` (default 1 GiB) → the
    *    planning job would cost a dim-sized scan the envelope's win
    *    may not repay; the verb remains the explicit spelling.
    *
    * Cost when it fires: one job bounded exactly like the verb's —
    * a `maxKeys + 1` distinct collect, plus one min/max aggregate only
    * on overflow. The result prunes fact FILES at planning time from
    * the dim's ACTUAL keys (Bloom + range candidacy), which is the
    * part Spark's own runtime filters never reach. */
  private def dynamicSummary(plan: LogicalPlan, a: AttributeReference)
      : Option[Summary] = {
    // armed-ness (conf or the fact side's read option) is the
    // CALLER's allowDynamic — here only the re-entrancy latch guards
    if (inDynamicJob.get()) return None
    // a Filter conjunct referencing a NON-key attribute is what makes
    // the job worth paying: a key-only filter (`dk >= 500`, the
    // injected SIP conjuncts themselves, pushed isnotnulls) is already
    // visible to static stamps + Catalyst's own
    // InferFiltersFromConstraints across the join equality — and
    // requiring it keeps the fixed point quiet (the conjuncts THIS
    // rule injects are all key-only, so an injection never makes the
    // other direction look freshly "filtered")
    // conjuncts THIS RULE injected (static or dynamic, any axis) are
    // ignored: in a multi-dim star, an injected key-only conjunct for
    // one axis is "non-key" relative to another axis and would unlock
    // reverse-direction jobs forever (the [[InjTag]] marker survives
    // pushdown and the OptimizeIn rewrite — expression transforms copy
    // tags onto replacement nodes)
    val nonKeyFiltered = plan.exists {
      case f: Filter => splitConjunctivePredicates(f.condition)
        .exists(c => c.getTagValue(InjTag).isEmpty &&
          !c.references.subsetOf(
            org.apache.spark.sql.catalyst.expressions.AttributeSet(a)))
      case _ => false
    }
    if (!nonKeyFiltered) return None
    // a subtree containing a JOIN normally never runs as a planning
    // job: the summary would EXECUTE that join at planning time (in a
    // multi-dim star the "dim side" of the outer join is fact ⋈ dim1
    // — its filtered sibling also makes the fact side look freshly
    // non-key-filtered in the reverse direction, so without this
    // guard a two-dim star pays four join-sized jobs instead of two
    // bounded dim scans). SNOWFLAKE exception (round 20 — the r19
    // verdict's 7(b)): under PLAN-SCOPED arming, a join-containing
    // dim side whose subtree does NOT contain the armed fact relation
    // is a dim-of-dim tree (`dim1 ⋈ subdim WHERE subdim.region = …` —
    // the subquery spelling of the snowflake edge), every leaf of
    // which still passes the byte bound below: the bounded job runs
    // the dim-side join and prunes fact files by the SLICE's keys,
    // which neither edge's static envelope can see. The star shape
    // stays refused (the armed fact lives inside its outer dim side),
    // and session-wide arming keeps the r19 refusal (no marker to
    // tell the shapes apart).
    if (plan.exists(_.isInstanceOf[Join])) {
      val armedInside = plan.exists {
        case lr: LogicalRelation => lr.relation match {
          case g: GraftRelation => g.sipDynamicOptIn
          case _ => false
        }
        case _ => false
      }
      if (dynamicEnabled || armedInside) return None
    }
    if (plan.isStreaming) return None
    if (plan.exists(p => p.isInstanceOf[Sample] ||
        p.expressions.exists(e => !e.deterministic))) return None
    val scanBytes = plan.collectLeaves().map(_.stats.sizeInBytes).sum
    if (scanBytes > BigInt(dynamicMaxBytes)) return None
    inDynamicJob.set(true)
    try {
      dynamicJobs.incrementAndGet()
      val frame = ExprColumn.frameOf(session,
        Project(Seq(Alias(a, "k")()), plan))
      val conv = CatalystTypeConverters.createToCatalystConverter(a.dataType)
      graft.ops.SipJoin.dimKeys(frame, "k", a.dataType, InListMax) match {
        case graft.ops.SipJoin.EmptyDim => Some(EmptyKeys)
        case graft.ops.SipJoin.KeyList(ks) => Some(Keys(ks.map(conv)))
        case graft.ops.SipJoin.KeyRange(lo, hi, _) =>
          Some(Envelope(conv(lo), conv(hi)))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"dynamic SIP dim job failed (falling back to the " +
          s"static envelope): $e")
        None
    } finally inDynamicJob.set(false)
  }

  /** Like [[leafOf]], additionally collecting the Filter conjuncts on
    * the path — each applies to (a superset of) the leaf rows whose
    * `a` values can reach the join, so translating them into FILE
    * candidacy over-approximates the surviving key set (conjuncts
    * referencing non-leaf attributes are simply ignored later, which
    * only widens further — always sound). */
  private def leafWithFilters(plan: LogicalPlan, a: Attribute,
      acc: Seq[Expression])
      : Option[(LogicalPlan, Seq[Expression])] = plan match {
    case lr: LogicalRelation if lr.output.exists(_.exprId == a.exprId) =>
      Some((lr, acc))
    case loc: LocalRelation if loc.output.exists(_.exprId == a.exprId) =>
      Some((loc, acc))
    case f: Filter =>
      descends(f, a).flatMap(leafWithFilters(_, a,
        acc ++ splitConjunctivePredicates(f.condition)))
    case p => descends(p, a).flatMap(leafWithFilters(_, a, acc))
  }

  /** The (integral/date ranges, string ranges) a conjunct set pins on
    * LEAF columns — only the comparison shapes
    * [[Snapshot.candidateFilesCols]] can act on; every other conjunct
    * is ignored (it can only shrink the true set further). Values are
    * widened to the Long/String stamp encodings. */
  private def fileConstraints(conds: Seq[Expression],
      lr: LogicalRelation, m: Snapshot.Manifest)
      : (Seq[(String, Long, Long)],
        Seq[(String, Option[String], Option[String])],
        Seq[(String, Seq[Long])]) = {
    val rb = Seq.newBuilder[(String, Long, Long)]
    val sb = Seq.newBuilder[(String, Option[String], Option[String])]
    // point constraints additionally consult per-file BLOOM sketches
    // (LOGICAL names — mayContain translates); a file is kept when ANY
    // key of the constraint may be present
    val pb = Seq.newBuilder[(String, Seq[Long])]
    def leafAttr(e: Expression): Option[AttributeReference] =
      attrOf(e).filter(x => lr.output.exists(_.exprId == x.exprId))
    def longOf(l: Literal): Option[Long] =
      if (l.value == null) None
      else l.dataType match {
        case ByteType    => Some(l.value.asInstanceOf[Byte].toLong)
        case ShortType   => Some(l.value.asInstanceOf[Short].toLong)
        case IntegerType | DateType =>
          Some(l.value.asInstanceOf[Int].toLong)
        case LongType    => Some(l.value.asInstanceOf[Long])
        case _ => None
      }
    def strOf(l: Literal): Option[String] =
      if (l.value == null) None
      else l.dataType match {
        case StringType => Some(l.value.toString)
        case _          => None
      }
    def emit(x: Expression, l: Literal, lo: Boolean, hi: Boolean): Unit =
      leafAttr(x).foreach { at =>
        val phys = Snapshot.physicalName(m, at.name)
        longOf(l) match {
          case Some(v) =>
            rb += ((phys, if (lo) v else Long.MinValue,
              if (hi) v else Long.MaxValue))
            if (lo && hi) pb += ((at.name, Seq(v)))
          case None => strOf(l).foreach { s =>
            sb += ((phys, if (lo) Some(s) else None,
              if (hi) Some(s) else None))
          }
        }
      }
    conds.foreach {
      // strict bounds served as their inclusive widening (candidacy
      // needs only an over-approximation)
      case EqualTo(x, l: Literal)             => emit(x, l, lo = true, hi = true)
      case EqualTo(l: Literal, x)             => emit(x, l, lo = true, hi = true)
      case GreaterThan(x, l: Literal)         => emit(x, l, lo = true, hi = false)
      case GreaterThanOrEqual(x, l: Literal)  => emit(x, l, lo = true, hi = false)
      case LessThan(x, l: Literal)            => emit(x, l, lo = false, hi = true)
      case LessThanOrEqual(x, l: Literal)     => emit(x, l, lo = false, hi = true)
      case GreaterThan(l: Literal, x)         => emit(x, l, lo = false, hi = true)
      case GreaterThanOrEqual(l: Literal, x)  => emit(x, l, lo = false, hi = true)
      case LessThan(l: Literal, x)            => emit(x, l, lo = true, hi = false)
      case LessThanOrEqual(l: Literal, x)     => emit(x, l, lo = true, hi = false)
      case In(x, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        leafAttr(x).foreach { at =>
          val phys = Snapshot.physicalName(m, at.name)
          val ls = vs.map(_.asInstanceOf[Literal])
          val longs = ls.flatMap(longOf)
          if (longs.size == ls.size) {
            rb += ((phys, longs.min, longs.max))
            pb += ((at.name, longs))
          } else {
            val ss = ls.flatMap(strOf)
            if (ss.size == ls.size) {
              val sorted = ss.sortWith((x, y) => Snapshot.utf8Cmp(x, y) < 0)
              sb += ((phys, Some(sorted.head), Some(sorted.last)))
            }
          }
        }
      case _ => ()
    }
    (rb.result(), sb.result(), pb.result())
  }

  /** Round 20 — zero-job dim-of-dim transitivity: the envelope of `a`
    * over ONLY the files a translated filter's CANDIDACY keeps. Pure
    * manifest arithmetic: `dim WHERE region BETWEEN 10 AND 12` prunes
    * dim FILES by the region stamps, and the surviving files' key
    * stamps give a far tighter key envelope than the whole-table one
    * — the static half of what the dynamic job sees, free. Sound
    * because file candidacy over-approximates the surviving rows —
    * and for the same reason DVs are SOUND here (round 20, lifting
    * the earlier refusal): a deletion vector only SHRINKS the dim's
    * key set, so the stamped envelope stays an over-approximation
    * (the exact-metadata MIN/MAX rewrites must still refuse DVs — a
    * mask may hide the extreme — but an envelope has no exactness
    * contract). A candidate file missing the value stamp passes only
    * when its NULL witness proves it value-free (contributing
    * nothing); all candidates value-free → EmptyKeys (NULL keys
    * never equi-match); no candidates at all → EmptyKeys (the dim is
    * provably empty under the filter). None = fall back to the
    * whole-manifest exact-metadata envelope. */
  private def subsetEnvelope(m: Snapshot.Manifest,
      files: Seq[Snapshot.FileEntry], a: AttributeReference)
      : Option[Summary] = {
    if (files.isEmpty) return Some(EmptyKeys)
    val phys = Snapshot.physicalName(m, a.name)
    if (Snapshot.isPseudoCol(phys)) return None
    val cluster = sameName(a.name, Snapshot.logicalName(m, m.statsCol))
    // None = refuse; Some(None) = every candidate value-free
    // (EmptyKeys); Some(Some((lo, hi))) = the raw Long envelope
    def foldLong(get: Snapshot.FileEntry => Option[(Long, Long)])
        : Option[Option[(Long, Long)]] = {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var anyV = false
      val ok = files.forall { f =>
        get(f) match {
          case Some((mn, mx)) =>
            if (mn == Long.MinValue && mx == Long.MaxValue)
              // degraded full-open: all-NULL keys contribute nothing,
              // anything else is unknown
              f.rows >= 0 && f.kNulls == f.rows
            else {
              lo = math.min(lo, mn); hi = math.max(hi, mx)
              anyV = true; true
            }
          case None =>
            f.rows == 0 || (f.rows > 0 &&
              m.colStats.get((f.path, Snapshot.NullsPfx + phys))
                .exists(_._1 == f.rows))
        }
      }
      if (!ok) None
      else if (!anyV) Some(None)
      else Some(Some((lo, hi)))
    }
    a.dataType match {
      case ByteType | ShortType | IntegerType | LongType if cluster =>
        foldLong(f => Some((f.min, f.max))).map {
          case None => EmptyKeys
          case Some((lo, hi)) =>
            Envelope(narrow(lo, a.dataType), narrow(hi, a.dataType))
        }
      case ByteType | ShortType | IntegerType | LongType =>
        foldLong(f => m.colStats.get((f.path, phys))).map {
          case None => EmptyKeys
          case Some((lo, hi)) =>
            Envelope(narrow(lo, a.dataType), narrow(hi, a.dataType))
        }
      case DateType =>
        foldLong(f => m.colStats.get((f.path, phys))).map {
          case None => EmptyKeys
          case Some((lo, hi)) => Envelope(lo.toInt, hi.toInt)
        }
      case StringType =>
        var lo: String = null
        var hi: String = null
        var anyV = false
        val ok = files.forall { f =>
          m.strStats.get((f.path, phys)) match {
            case Some((mn, mx)) =>
              if (lo == null || Snapshot.utf8Cmp(mn, lo) < 0) lo = mn
              if (hi == null || Snapshot.utf8Cmp(mx, hi) > 0) hi = mx
              anyV = true; true
            case None =>
              f.rows == 0 || (f.rows > 0 &&
                m.colStats.get((f.path, Snapshot.NullsPfx + phys))
                  .exists(_._1 == f.rows))
          }
        }
        if (!ok) None
        else if (!anyV) Some(EmptyKeys)
        else Some(Envelope(UTF8String.fromString(lo),
          UTF8String.fromString(hi)))
      case _ => None
    }
  }

  /** The dim key's summary from plan-time knowledge alone: exact rows
    * of a LocalRelation leaf, or the manifest's exact-value stamps of
    * a graft leaf (values in the ATTRIBUTE's dtype; the caller lifts
    * them through the key expression's widening cast if any) —
    * narrowed to the files surviving any translatable pushed filter's
    * candidacy ([[subsetEnvelope]], round 20). */
  private def staticSummary(plan: LogicalPlan, a: AttributeReference)
      : Option[Summary] =
      leafWithFilters(plan, a, Nil).flatMap {
        case (loc: LocalRelation, _) =>
          val ord = loc.output.indexWhere(_.exprId == a.exprId)
          val vs = loc.data.iterator
            .map(_.get(ord, a.dataType)).filter(_ != null)
            .toSeq.distinct
          if (vs.isEmpty) Some(EmptyKeys)
          else if (vs.size <= InListMax) Some(Keys(vs))
          else {
            val o = lt(a.dataType) _
            Some(Envelope(vs.reduce((x, y) => if (o(x, y)) x else y),
              vs.reduce((x, y) => if (o(x, y)) y else x)))
          }
        case (lr: LogicalRelation, conds) => lr.relation match {
          case g: GraftRelation if !g.isRestricted =>
            val m = g.pinnedManifest
            val phys = Snapshot.physicalName(m, a.name)
            val cluster =
              sameName(a.name, Snapshot.logicalName(m, m.statsCol))
            val narrowed = {
              val (ranges, strs, points) = fileConstraints(conds, lr, m)
              // with no translatable constraint this is the per-file
              // envelope fold over ALL files — same result as the
              // exact-metadata fallback on clean tables, but it also
              // serves DV'd dims (sound: masks only shrink)
              subsetEnvelope(m,
                Snapshot.candidateFilesCols(m, ranges, strs).filter(f =>
                  points.forall { case (c, ks) =>
                    ks.exists(k => Snapshot.mayContain(m, f, c, k))
                  }), a)
            }
            narrowed.orElse(a.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                val mm =
                  if (cluster) Snapshot.clusteringMinMaxMeta(m)
                  else Snapshot.sidecarMinMaxMeta(m, phys)
                mm.map { case (lo, hi) =>
                  Envelope(narrow(lo, a.dataType), narrow(hi, a.dataType))
                }
              case DateType =>
                Snapshot.sidecarMinMaxMeta(m, phys).map { case (lo, hi) =>
                  Envelope(lo.toInt, hi.toInt)
                }
              case StringType =>
                Snapshot.sidecarStrMinMaxMeta(m, phys).map {
                  case (lo, hi) =>
                    Envelope(UTF8String.fromString(lo),
                      UTF8String.fromString(hi))
                }
              case _ => None
            })
          case _ => None
        }
        case _ => None
      }

  /** The dim summary, static-first with the dynamic tightener: the
    * bounded job runs only when the static answer is the (possibly
    * filter-invalidated) leaf ENVELOPE or nothing at all — a static
    * key LIST is already exact-ish (a LocalRelation's own rows) and
    * not worth a planning job. `allowDynamic=false` when a tagged
    * conjunct from an earlier pass is already on the join side. */
  private def summaryFor(plan: LogicalPlan, key: Expression,
                         allowDynamic: => Boolean)
      : Option[(AttributeReference, Summary, Boolean)] =
    attrOf(key).filter(a => supported(a.dataType)).flatMap { a =>
      val static = staticSummary(plan, a)
      // static verdict first: the armed-ness check (which may walk
      // the fact side for the plan-scoped read option) runs only when
      // a job could actually improve on the static answer
      val wantDyn = (static match {
        case None | Some(Envelope(_, _)) => true
        case _                           => false
      }) && allowDynamic
      val dyn = if (wantDyn) dynamicSummary(plan, a) else None
      dyn.map(s => (a, s, true))
        .orElse(static.map(s => (a, s, false)))
    }

  private def narrow(v: Long, dt: DataType): Any = dt match {
    case ByteType    => v.toByte
    case ShortType   => v.toShort
    case IntegerType => v.toInt
    case _           => v
  }

  private def widen(v: Any, dt: DataType): Long = dt match {
    case ByteType    => v.asInstanceOf[Byte].toLong
    case ShortType   => v.asInstanceOf[Short].toLong
    case IntegerType => v.asInstanceOf[Int].toLong
    case LongType    => v.asInstanceOf[Long]
    case _ => throw new IllegalStateException(s"not integral: $dt")
  }

  private def rangeOf(dt: DataType): (Long, Long) = dt match {
    case ByteType    => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
    case ShortType   => (Short.MinValue.toLong, Short.MaxValue.toLong)
    case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
    case _           => (Long.MinValue, Long.MaxValue)
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  // ------------------------------------------------------ fact side

  /** Does this key reach an unrestricted graft relation's own output,
    * naming a column the manifest can act on (clustering stamps,
    * sidecar stats, or a Bloom sketch)? Anything else would make the
    * injected conjunct a pure per-row tax. */
  private def factActionable(plan: LogicalPlan, key: Expression): Boolean =
    attrOf(key).exists { a =>
      leafOf(plan, a).exists {
        case lr: LogicalRelation => lr.relation match {
          case g: GraftRelation if !g.isRestricted =>
            val m = g.pinnedManifest
            val phys = Snapshot.physicalName(m, a.name)
            sameName(a.name,
              Snapshot.logicalName(m, m.statsCol)) ||
              m.colStats.keysIterator.exists(_._2 == phys) ||
              m.strStats.keysIterator.exists(_._2 == phys) ||
              m.blooms.keysIterator.exists(_._2 == phys)
          case _ => false
        }
        case _ => false
      }
    }

  // ------------------------------------------------------ injection

  /** The redundant conjunct(s) for one equi-pair, injected on the BARE
    * fact attribute with literals in ITS dtype (never on the coercion
    * cast — `UnwrapCastInBinaryComparison` would rewrite a cast-side
    * predicate and defeat the convergence guard). Dim values convert
    * across integral widths with bound-sound handling: an
    * unrepresentable IN value can match no fact row and drops; an
    * envelope bound clamps inward when trivial and contradicts when it
    * excludes the whole fact dtype. */
  private def predicatesFor(factAttr: AttributeReference,
                            dimAttr: AttributeReference,
                            s: Summary): Seq[Expression] = {
    val fdt = factAttr.dataType
    val ddt = dimAttr.dataType
    if (fdt != ddt && (!integral(fdt) || !integral(ddt))) return Nil
    val (fLo, fHi) = if (integral(fdt)) rangeOf(fdt) else (0L, 0L)
    // a single key injects as EqualTo directly — OptimizeIn rewrites a
    // 1-element IN to exactly that, which would defeat the convergence
    // guard's semantic-equality check
    def inList(lits: Seq[Literal]): Expression =
      if (lits.size == 1) EqualTo(factAttr, lits.head)
      else In(factAttr, lits)
    // FRESH false literals, never the shared Literal.FalseLiteral
    // singleton — the dynamic path tags injected conjuncts, and a tag
    // on a shared instance would leak across plans
    def no: Expression = Literal(false, BooleanType)
    s match {
      case EmptyKeys => Seq(no)
      case Keys(vs) =>
        if (fdt == ddt)
          Seq(inList(vs.map(Literal(_, fdt))))
        else { // integral↔integral only (the analyzer coerces the rest)
          val fit = vs.map(widen(_, ddt)).filter(l => l >= fLo && l <= fHi)
          if (fit.isEmpty) Seq(no)
          else Seq(inList(fit.map(l => Literal(narrow(l, fdt), fdt))))
        }
      case Envelope(lo, hi) =>
        if (fdt == ddt)
          Seq(GreaterThanOrEqual(factAttr, Literal(lo, fdt)),
            LessThanOrEqual(factAttr, Literal(hi, fdt)))
        else {
          val (l, h) = (widen(lo, ddt), widen(hi, ddt))
          if (l > fHi || h < fLo) Seq(no)
          else Seq(
            GreaterThanOrEqual(factAttr,
              Literal(narrow(math.max(l, fLo), fdt), fdt)),
            LessThanOrEqual(factAttr,
              Literal(narrow(math.min(h, fHi), fdt), fdt)))
        }
    }
  }

  /** All Filter conjuncts already on the side (the convergence guard —
    * the fixed-point batch re-runs this rule after pushdown moves the
    * injected Filter, and a second copy must not land). */
  private def existingConjuncts(plan: LogicalPlan): Seq[Expression] =
    plan.collect { case Filter(c, _) => splitConjunctivePredicates(c) }
      .flatten

  /** Is `p` already present — verbatim, or as the `InSet` that
    * `OptimizeIn` rewrites a large injected IN-list into? */
  private def covered(existing: Seq[Expression], p: Expression): Boolean =
    existing.exists { e =>
      e.semanticEquals(p) || ((e, p) match {
        case (is: org.apache.spark.sql.catalyst.expressions.InSet,
            In(k, lits)) =>
          is.child.semanticEquals(k) &&
            lits.forall(_.isInstanceOf[Literal]) &&
            is.hset == lits.map(_.asInstanceOf[Literal].value).toSet
        case _ => false
      })
    }

  /** Has a DYNAMIC pass already injected for this fact attribute on
    * this side? The tag survives pushdown ([[TreeNodeTag]]s ride
    * `withNewChildren`/`copyTagsFrom`), so later fixed-point passes
    * see it wherever the conjunct landed and skip the planning job
    * entirely — the dynamic twin of [[covered]], needed because
    * recomputing the dynamic summary (unlike the static one) costs a
    * job. */
  private def taggedFor(side: LogicalPlan, factAttr: AttributeReference)
      : Boolean =
    existingConjuncts(side).exists(c =>
      c.getTagValue(DynTag).isDefined && c.references.contains(factAttr))

  private def injectInto(side: LogicalPlan, other: LogicalPlan,
                         pairs: Seq[(Expression, Expression)])
      : Option[LogicalPlan] = {
    lazy val existing = existingConjuncts(side)
    val fresh0 = pairs.flatMap { case (sideKey, otherKey) =>
      attrOf(sideKey).toSeq.flatMap { factAttr =>
        if (!factActionable(side, sideKey)) Nil
        else summaryFor(other, otherKey,
            allowDynamic = dynamicArmed(side) &&
              !taggedFor(side, factAttr)).toSeq.flatMap {
          case (dimAttr, s, dyn) =>
            val ps = predicatesFor(factAttr, dimAttr, s)
            ps.foreach(_.setTagValue(InjTag, true))
            if (dyn) ps.foreach(_.setTagValue(DynTag, true))
            ps
        }
      }
    }.filterNot(covered(existing, _))
    // dedup within one injection (two pairs can derive the same bound)
    val fresh = fresh0.foldLeft(Seq.empty[Expression])((acc, p) =>
      if (acc.exists(_.semanticEquals(p))) acc else acc :+ p)
    if (fresh.isEmpty) None
    else Some(Filter(fresh.reduce(And), side))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      // `key IN (SELECT dk FROM dim)` BEFORE its semi-join rewrite —
      // RewritePredicateSubquery runs in a later batch than injected
      // operator rules, so the join case below never sees it. Same
      // soundness: a row whose key is outside the subquery's envelope
      // fails the IN (false or NULL — the filter drops both), so the
      // envelope conjunct drops exactly rows the filter already drops.
      // Positive top-level conjuncts only: `NOT IN` keeps non-matching
      // rows and must never prune.
      case f @ Filter(cond, child)
          if cond.exists(_.isInstanceOf[InSubquery]) =>
        val conjs = splitConjunctivePredicates(cond)
        lazy val existing = conjs ++ existingConjuncts(child)
        val fresh0 = conjs.collect {
          case InSubquery(Seq(k), lq: ListQuery)
              if lq.plan.output.size == 1 && factActionable(child, k) =>
            attrOf(k).toSeq.flatMap { factAttr =>
              summaryFor(lq.plan, lq.plan.output.head,
                  allowDynamic = dynamicArmed(child) &&
                    !conjs.exists(c =>
                      c.getTagValue(DynTag).isDefined &&
                        c.references.contains(factAttr)) &&
                    !taggedFor(child, factAttr)).toSeq.flatMap {
                case (dimAttr, s, dyn) =>
                  val ps = predicatesFor(factAttr, dimAttr, s)
                  ps.foreach(_.setTagValue(InjTag, true))
                  if (dyn) ps.foreach(_.setTagValue(DynTag, true))
                  ps
              }
            }
        }.flatten.filterNot(covered(existing, _))
        val fresh = fresh0.foldLeft(Seq.empty[Expression])((acc, p) =>
          if (acc.exists(_.semanticEquals(p))) acc else acc :+ p)
        if (fresh.isEmpty) f
        else f.copy(condition = (fresh :+ cond).reduce(And))
      case j @ Join(left, right, jt, Some(cond), _) =>
        val (pl, pr) = prunable(jt)
        if (!pl && !pr) j
        else {
          // equi-pairs: strict equality only (<=> can match NULLs the
          // envelope ignores), each side referencing one input exactly
          val pairs = splitConjunctivePredicates(cond).collect {
            case EqualTo(l, r)
                if l.references.subsetOf(left.outputSet) &&
                  r.references.subsetOf(right.outputSet) => (l, r)
            case EqualTo(l, r)
                if r.references.subsetOf(left.outputSet) &&
                  l.references.subsetOf(right.outputSet) => (r, l)
          }
          if (pairs.isEmpty) j
          else {
            val newLeft =
              if (pl) injectInto(left, right, pairs) else None
            val newRight =
              if (pr) injectInto(right, left, pairs.map(_.swap)) else None
            if (newLeft.isEmpty && newRight.isEmpty) j
            else j.copy(left = newLeft.getOrElse(left),
              right = newRight.getOrElse(right))
          }
        }
    }
  }
}

object SipJoinRule {
  /** Above this many distinct LocalRelation keys the verbatim IN-list
    * gives way to the [min,max] envelope — bounds plan size and the
    * driver's per-file Bloom-probe work. */
  val InListMax = 256

  /** Opt-in switch for the DYNAMIC dim job (default off — the static
    * rule stays zero-job). */
  private[graft] val DynamicKey = "spark.graft.sipRule.dynamic"

  /** Leaf-scan byte ceiling above which the dynamic path refuses to
    * run the dim subtree at planning time. Default 1 GiB: a dim scan
    * that size is noise next to the fact scan its keys can prune, and
    * a genuinely large dim should use the explicit q169 verb where
    * the caller owns the trade. */
  private[graft] val DynamicMaxBytesKey =
    "spark.graft.sipRule.dynamicMaxBytes"
  private[graft] val DynamicMaxBytesDefault: Long = 1L << 30

  /** Marks a conjunct the DYNAMIC path injected — the convergence
    * guard later fixed-point passes test before paying another
    * planning job. Survives pushdown: tags ride `withNewChildren` and
    * rule rewrites (`copyTagsFrom`). */
  private[graft] val DynTag = TreeNodeTag[Boolean]("graft.sip.dynamic")

  /** Marks EVERY conjunct this rule injected (static or dynamic) —
    * the non-key-filter trigger ignores them so one axis's injection
    * never makes another axis look freshly filtered in a multi-dim
    * star (round 19). */
  private[graft] val InjTag = TreeNodeTag[Boolean]("graft.sip.injected")

  /** Planning-time dim jobs actually run (test/probe observability —
    * specs pin "one job per query" and "zero jobs when gated"). */
  private[graft] val dynamicJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Re-entrancy latch: optimizing the dim subtree's own frame runs
    * this rule again on the same thread; a nested planning job must
    * not fire (the static path still may). */
  private[plans] val inDynamicJob: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private[plans] sealed trait Summary
  private[plans] case object EmptyKeys extends Summary
  private[plans] final case class Keys(vs: Seq[Any]) extends Summary
  private[plans] final case class Envelope(lo: Any, hi: Any) extends Summary
}
