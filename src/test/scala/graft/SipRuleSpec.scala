package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, In, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.{Snapshot, Warehouse}

/** The automatic SIP optimizer rule ([[graft.plans.SipJoinRule]]):
  * equi-joins over graft reads gain dim-derived fact-scan predicates
  * from plan-time knowledge alone — LocalRelation rows or another
  * graft table's manifest stamps — answers unchanged. */
class SipRuleSpec extends SparkSpec with PredicateHelper {

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  private def fresh(tag: String): String =
    spark.conf.get("spark.sql.warehouse.dir") + s"/sip_rule_${tag}_" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Injected bound conjuncts on `name` in the optimized plan. */
  private def bounds(df: DataFrame, name: String): Seq[(String, Long)] =
    df.queryExecution.optimizedPlan.collect {
      case f: LFilter => splitConjunctivePredicates(f.condition)
    }.flatten.collect {
      case GreaterThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
          if a.name == name => (">=", v)
      case LessThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
          if a.name == name => ("<=", v)
    }

  private def inLists(df: DataFrame, name: String): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case f: LFilter => splitConjunctivePredicates(f.condition)
    }.flatten.collect {
      case In(a: AttributeReference, vs) if a.name == name => vs.size
      case is: org.apache.spark.sql.catalyst.expressions.InSet
          if is.child.isInstanceOf[AttributeReference] &&
            is.child.asInstanceOf[AttributeReference].name == name =>
        is.hset.size // OptimizeIn rewrites lists past its threshold
      case EqualTo(a: AttributeReference, _: Literal)
          if a.name == name => 1
    }

  private def withRuleOff[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.SipJoinRule")
    try body
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** A small graft dim: dk = 300..324, clustering stamps exact. */
  private lazy val graftDim: String = {
    import spark.implicits._
    val dir = fresh("dim")
    (300L to 324L).map(k => (k, s"n$k")).toDF("dk", "dname")
      .write.format("graft").option("statsCol", "dk").save(dir)
    dir
  }

  test("a graft dim's manifest envelope injects onto the fact scan, answer unchanged") {
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    val dim = spark.read.format("graft").load(graftDim)
    val j = fact.join(dim, col("key2") === col("dk"))
    // the dim's [300,324] stamps land on key2 exactly once each (extra
    // conjuncts are legitimate: the symmetric fact-envelope injection
    // on dk plus InferFiltersFromConstraints' propagation through the
    // equality); duplication would mean the convergence guard failed
    val bs = bounds(j, "key2")
    assert(bs.count(_ == (">=", 300L)) == 1 &&
      bs.count(_ == ("<=", 324L)) == 1,
      s"expected the dim's [300,324] stamps once each on key2, got $bs")
    val off = withRuleOff {
      val o = fact.join(dim, col("key2") === col("dk"))
      assert(bounds(o, "key2").isEmpty, "kill switch must suppress")
      sorted(o)
    }
    assert(sorted(j) == off)
  }

  test("a filter above the dim leaf narrows the envelope to the " +
    "SURVIVING files' stamps (zero-job candidacy, round 20)") {
    // round 20: the dim-side filter's translatable conjuncts prune
    // dim FILES on the driver (the scan's own candidacy arithmetic)
    // and the surviving files' key stamps give a tighter envelope
    // than the whole-table one — still zero planning jobs, still a
    // sound over-approximation (candidacy over-approximates rows)
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    val dim = spark.read.format("graft").load(graftDim)
      .filter(col("dk") >= 320L)
    val m = Snapshot.manifest(spark, graftDim,
      Snapshot.currentVersion(spark, graftDim))
    val keep = m.files.filter(_.max >= 320L)
    val (lo, hi) = (keep.map(_.min).min, keep.map(_.max).max)
    assert(lo > 300L && hi == 324L,
      s"fixture: expected a mid-table file cut, got [$lo,$hi]")
    val j = fact.join(dim, col("key2") === col("dk"))
    val bs = bounds(j, "key2")
    assert(bs.contains((">=", lo)) && bs.contains(("<=", hi)),
      s"expected the surviving files' [$lo,$hi], got $bs")
    val off = withRuleOff {
      sorted(fact.join(dim, col("key2") === col("dk")))
    }
    assert(sorted(j) == off)
  }

  test("constraint translation edges: strict bounds widen inclusively, " +
    "reversed operands translate, untranslatable conjuncts fall back, " +
    "string INs narrow via strStats") {
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    def dimJ(d: DataFrame) = fact.join(d, col("key2") === col("dk"))
    val m = Snapshot.manifest(spark, graftDim,
      Snapshot.currentVersion(spark, graftDim))
    val keep = m.files.filter(_.max >= 320L)
    val (lo, hi) = (keep.map(_.min).min, keep.map(_.max).max)
    // STRICT > is served as its inclusive widening (sound — candidacy
    // needs only an over-approximation): same surviving files as >=
    val strict = dimJ(spark.read.format("graft").load(graftDim)
      .filter(col("dk") > 320L))
    val bs1 = bounds(strict, "key2")
    assert(bs1.contains((">=", lo)) && bs1.contains(("<=", hi)),
      s"strict bound must widen to [$lo,$hi], got $bs1")
    assert(sorted(strict) == withRuleOff {
      sorted(dimJ(spark.read.format("graft").load(graftDim)
        .filter(col("dk") > 320L)))
    })
    // REVERSED operand order (literal on the left) translates too
    val rev = dimJ(spark.read.format("graft").load(graftDim)
      .filter(lit(320L) <= col("dk")))
    val bs2 = bounds(rev, "key2")
    assert(bs2.contains((">=", lo)) && bs2.contains(("<=", hi)),
      s"reversed operands must translate to [$lo,$hi], got $bs2")
    // an UNTRANSLATABLE conjunct is ignored — the whole-leaf envelope
    // survives (sound: the real filter only shrinks further)
    val noTr = dimJ(spark.read.format("graft").load(graftDim)
      .filter(length(col("dname")) > 2))
    val bs3 = bounds(noTr, "key2")
    assert(bs3.contains((">=", 300L)) && bs3.contains(("<=", 324L)),
      s"untranslatable filter keeps the leaf [300,324], got $bs3")
    assert(sorted(noTr) == withRuleOff {
      sorted(dimJ(spark.read.format("graft").load(graftDim)
        .filter(length(col("dname")) > 2)))
    })
    // a STRING IN narrows via the strStats [min,max] of its values
    val first = m.files.filter(f =>
      m.strStats.get((f.path, "dname")).forall { case (mn, mx) =>
        Snapshot.utf8Cmp(mn, "n301") <= 0 &&
          Snapshot.utf8Cmp("n300", mx) <= 0 })
    val (flo, fhi) = (first.map(_.min).min, first.map(_.max).max)
    assert(fhi < 324L, s"fixture: the IN must prune some file, [$flo,$fhi]")
    val sIn = dimJ(spark.read.format("graft").load(graftDim)
      .filter(col("dname").isin("n300", "n301")))
    val bs4 = bounds(sIn, "key2")
    assert(bs4.contains((">=", flo)) && bs4.contains(("<=", fhi)),
      s"string IN must narrow to [$flo,$fhi], got $bs4")
    assert(sorted(sIn).map(_.getLong(0)).toSet == Set(300L, 301L))
  }

  test("a point filter on a BLOOM-indexed dim column narrows the " +
    "envelope to the bloom-hit files (zero-job, round 20)") {
    import spark.implicits._
    // u interleaves across dk files (per-file u RANGES all overlap, so
    // range candidacy keeps every file) while each exact u value lives
    // in one file — only the Bloom sidecars can discriminate
    val dir = fresh("bloomdim")
    (1L to 800L).map(k => (k, (k % 100) * 8 + k / 100)).toDF("dk", "u")
      .write.format("graft").option("statsCol", "dk")
      .option("nFiles", "8").save(dir)
    Snapshot.optimizeBloom(spark, dir, "u")
    val fdir = fresh("bloomfact")
    (1L to 800L).map(k => (k, k % 7)).toDF("k", "v")
      .write.format("graft").option("statsCol", "k")
      .option("nFiles", "8").save(fdir)
    val fact = spark.read.format("graft").load(fdir)
    // u = 403 ↔ dk = 350, in exactly one dim file
    val dim = spark.read.format("graft").load(dir)
      .filter(col("u") === 403L)
    val j0 = jobs()
    val j = fact.join(dim, col("k") === col("dk"))
    val bs = bounds(j, "k")
    val m = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    val hit = m.files.filter(f => Snapshot.mayContain(m, f, "u", 403L))
    val (lo, hi) = (hit.map(_.min).min, hit.map(_.max).max)
    assert(hi - lo < 400L,
      s"bloom candidacy must narrow well past the table span, [$lo,$hi]")
    assert(lo <= 350L && 350L <= hi, s"must cover the true key, [$lo,$hi]")
    assert(bs.contains((">=", lo)) && bs.contains(("<=", hi)),
      s"expected the bloom-hit files' [$lo,$hi], got $bs")
    assert(jobs() == j0, "bloom candidacy must stay zero-job")
    assert(sorted(j) == withRuleOff {
      sorted(fact.join(dim, col("k") === col("dk")))
    })
    assert(sorted(j).map(_.getLong(0)) == Seq(350L))
  }

  test("a dim with deletion vectors still injects the envelope " +
    "(round 20 — a mask only SHRINKS the key set, so the stamped " +
    "envelope stays a sound over-approximation)") {
    import spark.implicits._
    val ddir = fresh("dvdim")
    (300L to 324L).map(k => (k, s"n$k")).toDF("dk", "dname")
      .write.format("graft").option("statsCol", "dk").save(ddir)
    Snapshot.deleteWhereDV(spark, ddir, 324L, 324L)
    val fact = spark.read.format("graft")
      .load(Warehouse.rangeOrders(spark, sf))
    val dim = spark.read.format("graft").load(ddir)
    val j = fact.join(dim, col("key2") === col("dk"))
    val bs = bounds(j, "key2")
    assert(bs.contains((">=", 300L)) && bs.contains(("<=", 324L)),
      s"DV'd dim stamps must still inject the envelope, got $bs")
    // the mask is applied by the dim scan itself: 324 matches nothing
    assert(j.count() ==
      fact.filter(col("key2").between(300L, 323L)).count())
    assert(sorted(j) == withRuleOff {
      sorted(fact.join(dim, col("key2") === col("dk")))
    })
  }

  test("LocalRelation dim injects its rows verbatim; the pruning is load-bearing") {
    import spark.implicits._
    val dir = fresh("prune")
    (1L to 800L).map(k => (k, k % 7)).toDF("k", "v")
      .write.format("graft").option("statsCol", "k")
      .option("nFiles", "8").save(dir)
    val m = Snapshot.manifest(spark, dir, Snapshot.currentVersion(spark, dir))
    val keep = m.files.filter(f => f.min <= 20L && f.max >= 10L)
      .map(_.path).toSet
    assert(keep.size == 1, s"fixture: expected one covering file, $keep")
    val fact = spark.read.format("graft").load(dir)
    val dim = Seq(10L, 20L).toDF("dk")
    val j = fact.join(dim, col("k") === col("dk"))
    assert(inLists(j, "k") == Seq(2), "expected the 2-key IN on the scan")
    // physically remove every file OUTSIDE the dim's keys: the pruned
    // scan must never open them — a scan without the injection throws
    m.files.filterNot(f => keep(f.path)).foreach { f =>
      val p = java.nio.file.Paths.get(
        s"${dir.stripPrefix("file:")}/${f.path}")
      assert(java.nio.file.Files.deleteIfExists(p), s"fixture: $p missing")
    }
    assert(j.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L))
    withRuleOff {
      intercept[Exception] {
        fact.join(dim, col("k") === col("dk")).collect()
      }
    }
  }

  test("single-key and oversized LocalRelation dims: EqualTo and envelope forms") {
    import spark.implicits._
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    // one key → EqualTo (OptimizeIn's own 1-element rewrite, pre-empted)
    val one = fact.join(Seq(137L).toDF("dk"), col("key2") === col("dk"))
    assert(inLists(one, "key2") == Seq(1))
    assert(one.collect().forall(_.getLong(0) == 137L))
    // past InListMax distinct keys → the [min,max] envelope instead
    val wide = fact.join((0L to 299L).toDF("dk"), col("key2") === col("dk"))
    assert(inLists(wide, "key2").isEmpty, "oversized list must not inject IN")
    assert(bounds(wide, "key2").toSet == Set((">=", 0L), ("<=", 299L)))
    val off = withRuleOff {
      sorted(fact.join((0L to 299L).toDF("dk"), col("key2") === col("dk")))
    }
    assert(sorted(wide) == off)
  }

  test("join types: preserved sides stay unpruned, prunable sides match the kill switch") {
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    val dim = spark.read.format("graft").load(graftDim)
    // LEFT OUTER: fact is preserved — no injection on key2, count intact
    val left = fact.join(dim, col("key2") === col("dk"), "left")
    assert(bounds(left, "key2").isEmpty, "preserved side must not prune")
    assert(left.count() == fact.count())
    // RIGHT OUTER: fact side is prunable, dim rows all survive
    val right = fact.join(dim, col("key2") === col("dk"), "right")
    assert(bounds(right, "key2").nonEmpty)
    val rOff = withRuleOff {
      sorted(fact.join(dim, col("key2") === col("dk"), "right"))
    }
    assert(sorted(right) == rOff)
    // SEMI and ANTI
    val semi = fact.join(dim, col("key2") === col("dk"), "left_semi")
    assert(bounds(semi, "key2").nonEmpty)
    val sOff = withRuleOff {
      sorted(fact.join(dim, col("key2") === col("dk"), "left_semi"))
    }
    assert(sorted(semi) == sOff)
    val anti = fact.join(dim, col("key2") === col("dk"), "left_anti")
    assert(bounds(anti, "key2").isEmpty, "anti preserves the left side")
    val aOff = withRuleOff {
      sorted(fact.join(dim, col("key2") === col("dk"), "left_anti"))
    }
    assert(sorted(anti) == aOff)
    // FULL OUTER: nothing prunable
    val full = fact.join(dim, col("key2") === col("dk"), "full")
    assert(bounds(full, "key2").isEmpty && bounds(full, "dk").isEmpty)
  }

  test("null-safe equality is excluded (<=> can match the NULLs an envelope ignores)") {
    import spark.implicits._
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    val dim = Seq(Some(300L), None).toDF("dk")
    val j = fact.join(dim, col("key2") <=> col("dk"))
    assert(bounds(j, "key2").isEmpty && inLists(j, "key2").isEmpty)
    val off = withRuleOff { sorted(fact.join(dim, col("key2") <=> col("dk"))) }
    assert(sorted(j) == off)
  }

  test("pure SQL spellings fire too: catalog-table join and IN (SELECT …)") {
    // the CATALOG front door (`USING graft`) resolves to the graft
    // relation whose manifest the rule reads; `registerSqlTable` names
    // deliberately resolve to a direct parquet scan and are out of
    // scope (no manifest on the plan's leaf)
    val fdir = Warehouse.rangeOrders(spark, sf)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE sip_fact_$tag USING graft LOCATION '$fdir'")
    spark.sql(s"CREATE TABLE sip_dim_$tag USING graft LOCATION '$graftDim'")
    try {
      // plain SQL join over two catalog names
      val j = spark.sql(
        s"""SELECT f.key2, d.dname FROM sip_fact_$tag f
           |JOIN sip_dim_$tag d ON f.key2 = d.dk""".stripMargin)
      val bs = bounds(j, "key2")
      assert(bs.contains((">=", 300L)) && bs.contains(("<=", 324L)),
        s"SQL join must inject the dim stamps, got $bs\n" +
          j.queryExecution.optimizedPlan.treeString)
      // IN (SELECT …) rewrites to the LeftSemi join the rule covers
      val semi = spark.sql(
        s"""SELECT key2, status FROM sip_fact_$tag
           |WHERE key2 IN (SELECT dk FROM sip_dim_$tag)""".stripMargin)
      val sb = bounds(semi, "key2")
      assert(sb.contains((">=", 300L)) && sb.contains(("<=", 324L)),
        s"IN-subquery must inject through its semi-join rewrite, got $sb")
      val off = withRuleOff {
        sorted(spark.sql(
          s"""SELECT key2, status FROM sip_fact_$tag
             |WHERE key2 IN (SELECT dk FROM sip_dim_$tag)""".stripMargin))
      }
      assert(sorted(semi) == off)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS sip_fact_$tag")
      spark.sql(s"DROP TABLE IF EXISTS sip_dim_$tag")
    }
  }

  private def withDynamic[A](body: => A): A = {
    spark.conf.set("spark.graft.sipRule.dynamic", "true")
    try body
    finally spark.conf.unset("spark.graft.sipRule.dynamic")
  }

  private def jobs(): Long = graft.plans.SipJoinRule.dynamicJobs.get()

  /** A graft dim with two planted non-key filters: tag = "hit"
    * exactly for dk in [310, 320] (the 1.4% slice whose key set no
    * leaf envelope can see) and band = "wide" for dk in [500, 800]
    * (301 keys — past InListMax, the envelope overflow arm). */
  private lazy val taggedDim: String = {
    import spark.implicits._
    val dir = fresh("dyndim")
    (1L to 800L).map(k =>
      (k, if (k >= 310L && k <= 320L) "hit" else "miss",
        if (k >= 500L) "wide" else "narrow"))
      .toDF("dk", "tag", "band")
      .write.format("graft").option("statsCol", "dk").save(dir)
    dir
  }

  test("dynamic SIP: a hard-filtered dim prunes fact files the leaf envelope cannot") {
    import spark.implicits._
    val fdir = fresh("dynfact")
    (1L to 800L).map(k => (k, k % 7)).toDF("k", "v")
      .write.format("graft").option("statsCol", "k")
      .option("nFiles", "8").save(fdir)
    val fact = spark.read.format("graft").load(fdir)
    def dim = spark.read.format("graft").load(taggedDim)
      .filter(col("tag") === "hit")
    def join = fact.join(dim, col("k") === col("dk"))
    // static rule alone (round 20): the tag strStats prune dim FILES
    // and the surviving files' dk stamps give a zero-job envelope —
    // tighter than the [1,800] leaf, still file-granular (the 11
    // ACTUAL keys need the dynamic job below)
    val j0 = jobs()
    val static = join
    val tm = Snapshot.manifest(spark, taggedDim,
      Snapshot.currentVersion(spark, taggedDim))
    val hitF = tm.files.filter(f =>
      tm.strStats.get((f.path, "tag")).forall { case (mn, mx) =>
        Snapshot.utf8Cmp(mn, "hit") <= 0 &&
          Snapshot.utf8Cmp("hit", mx) <= 0 })
    val (sLo, sHi) = (hitF.map(_.min).min, hitF.map(_.max).max)
    assert(sLo > 1L && sHi < 800L,
      s"fixture: a proper mid-table hit band expected, got [$sLo,$sHi]")
    val sbs = bounds(static, "k").toSet
    assert(sbs.contains((">=", sLo)) && sbs.contains(("<=", sHi)),
      s"static candidacy envelope [$sLo,$sHi] expected, got $sbs")
    val staticRows = sorted(static)
    assert(jobs() == j0, "the static path must never run a job")
    // dynamic: the filtered dim's ACTUAL 11 keys inject as the IN-list
    val dynRows = withDynamic {
      val j1 = jobs()
      val d = join
      d.queryExecution.optimizedPlan // materialize one optimization
      assert(jobs() - j1 == 1,
        s"exactly one bounded dim job per optimization, got ${jobs() - j1}")
      assert(inLists(d, "k").contains(11),
        s"expected the filtered dim's 11-key IN on the fact scan:\n" +
          d.queryExecution.optimizedPlan.treeString)
      sorted(d)
    }
    assert(dynRows == staticRows, "A/B answers must be identical")
    assert(dynRows.map(_.getLong(0)).toSet == (310L to 320L).toSet)
    // the pruning is load-bearing: remove every fact file outside the
    // dim's keys — the dynamic plan must never open them
    val m = Snapshot.manifest(spark, fdir,
      Snapshot.currentVersion(spark, fdir))
    val keep = m.files.filter(f => f.min <= 320L && f.max >= 310L)
      .map(_.path).toSet
    assert(keep.size == 1, s"fixture: expected one covering file, $keep")
    m.files.filterNot(f => keep(f.path)).foreach { f =>
      val p = java.nio.file.Paths.get(
        s"${fdir.stripPrefix("file:")}/${f.path}")
      assert(java.nio.file.Files.deleteIfExists(p), s"fixture: $p missing")
    }
    withDynamic {
      assert(sorted(join).map(_.getLong(0)).toSet ==
        (310L to 320L).toSet, "the pruned scan serves from one file")
    }
    // round 20: the zero-job static candidacy envelope [301,400] now
    // ALSO opens only the surviving fact file — where the old leaf
    // envelope scanned (and threw on) the deleted ones
    assert(sorted(join).map(_.getLong(0)).toSet == (310L to 320L).toSet,
      "the static candidacy envelope serves from the remaining file")
  }

  test("dynamic SIP: overflow past InListMax injects the filtered min/max envelope") {
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    // 301 distinct keys behind the non-key band filter (> InListMax =
    // 256) → the bounded job overflows into the [500, 800] envelope —
    // far tighter than the [1, 800] leaf stamps, and invisible to both
    // static stamps and constraint propagation (the filter never
    // mentions dk)
    def dim = spark.read.format("graft").load(taggedDim)
      .filter(col("band") === "wide")
    withDynamic {
      val j = fact.join(dim, col("key2") === col("dk"))
      val bs = bounds(j, "key2")
      assert(bs.contains((">=", 500L)) && bs.contains(("<=", 800L)),
        s"expected the filtered [500,800] envelope, got $bs")
      assert(!inLists(j, "key2").contains(301),
        "an overflowed list must not inject IN")
      val off = withRuleOff {
        sorted(fact.join(dim, col("key2") === col("dk")))
      }
      assert(sorted(j) == off)
    }
  }

  test("dynamic SIP: an empty filtered dim folds the join away") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val fact = spark.read.format("graft")
      .load(Warehouse.rangeOrders(spark, sf))
    def dim = spark.read.format("graft").load(taggedDim)
      .filter(col("tag") === "neither")
    withDynamic {
      val j = fact.join(dim, col("key2") === col("dk"))
      assert(j.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[LocalRelation]),
        "EmptyKeys must fold the join to a LocalRelation-only plan")
      assert(j.count() == 0)
    }
  }

  test("dynamic SIP guard ladder: non-determinism, byte ceiling, and unfiltered dims stay zero-job") {
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    withDynamic {
      // a non-deterministic dim must not execute at planning time —
      // two runs may disagree and run 1's summary would prune run 2's
      // matches; the static leaf envelope serves instead
      val j0 = jobs()
      // round 20: the candidacy-narrowed STATIC envelope serves even
      // where the job refuses — the guard being pinned is ZERO JOBS,
      // plus soundness: the injected bounds must still cover the true
      // surviving keys [310, 320]
      def zeroJobSoundEnvelope(df: DataFrame): Unit = {
        val bs = bounds(df, "key2")
        assert(bs.exists { case (">=", v) => v >= 1L && v <= 310L
                           case _ => false } &&
          bs.exists { case ("<=", v) => v >= 320L && v <= 800L
                      case _ => false },
          s"a sound dim-derived envelope covering [310,320] expected, got $bs")
        assert(!bs.exists { case (">=", v) => v > 310L; case _ => false },
          s"an UNSOUND lower bound appeared, got $bs")
      }
      def leafEnvelopeOnly(df: DataFrame): Unit = zeroJobSoundEnvelope(df)
      // NOTE rand(7) >= 0.0 would be folded away (always true) — the
      // comparison must be genuinely undecidable to survive to the
      // rule's batch
      val nd = fact.join(
        spark.read.format("graft").load(taggedDim)
          .filter(col("tag") === "hit" && rand(7) < 0.9999),
        col("key2") === col("dk"))
      leafEnvelopeOnly(nd)
      assert(jobs() == j0, "non-deterministic dim must not run a job")
      // under a tiny byte ceiling the job refuses (the dim scan could
      // cost more than the pruning repays); static envelope again
      spark.conf.set("spark.graft.sipRule.dynamicMaxBytes", "1")
      try {
        val big = fact.join(
          spark.read.format("graft").load(taggedDim)
            .filter(col("tag") === "hit"),
          col("key2") === col("dk"))
        leafEnvelopeOnly(big)
        assert(jobs() == j0, "over-ceiling dim must not run a job")
      } finally spark.conf.unset("spark.graft.sipRule.dynamicMaxBytes")
      // an UNFILTERED dim leaf has nothing a job could tighten — the
      // static envelope already is the leaf's exact key span
      val plain = fact.join(spark.read.format("graft").load(taggedDim),
        col("key2") === col("dk"))
      leafEnvelopeOnly(plain)
      assert(jobs() == j0, "an unfiltered dim must stay zero-job")
    }
  }

  test("dynamic SIP fires through the IN (SELECT …) spelling") {
    val fdir = Warehouse.rangeOrders(spark, sf)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE dyn_fact_$tag USING graft LOCATION '$fdir'")
    spark.sql(s"CREATE TABLE dyn_dim_$tag USING graft LOCATION '$taggedDim'")
    try withDynamic {
      val j1 = jobs()
      val semi = spark.sql(
        s"""SELECT key2, status FROM dyn_fact_$tag
           |WHERE key2 IN (SELECT dk FROM dyn_dim_$tag WHERE tag = 'hit')
           |""".stripMargin)
      assert(inLists(semi, "key2").contains(11),
        s"the subquery's filtered 11 keys must inject:\n" +
          semi.queryExecution.optimizedPlan.treeString)
      assert(jobs() - j1 == 1,
        s"one job for the IN-subquery spelling, got ${jobs() - j1}")
      val got = sorted(semi)
      val off = withRuleOff {
        sorted(spark.sql(
          s"""SELECT key2, status FROM dyn_fact_$tag
             |WHERE key2 IN (SELECT dk FROM dyn_dim_$tag WHERE tag = 'hit')
             |""".stripMargin))
      }
      assert(got == off)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS dyn_fact_$tag")
      spark.sql(s"DROP TABLE IF EXISTS dyn_dim_$tag")
    }
  }

  test("an empty LocalRelation dim folds the inner join away") {
    import spark.implicits._
    val fdir = Warehouse.rangeOrders(spark, sf)
    val fact = spark.read.format("graft").load(fdir)
    val dim = Seq.empty[Long].toDF("dk")
    val j = fact.join(dim, col("key2") === col("dk"))
    assert(j.count() == 0)
    assert(j.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "expected the folded plan")
  }

  test("dynamic SIP is plan-scoped: the fact read option arms one " +
    "query; a concurrent plain query stays zero-job") {
    import spark.implicits._
    val fdir = fresh("optfact")
    (1L to 800L).map(k => (k, k % 7)).toDF("k", "v")
      .write.format("graft").option("statsCol", "k")
      .option("nFiles", "8").save(fdir)
    def dim = spark.read.format("graft").load(taggedDim)
      .filter(col("tag") === "hit")
    // NO conf toggle anywhere in this test — the round-19 contract is
    // that q174's registration shape needs no global state
    assert(spark.conf.getOption("spark.graft.sipRule.dynamic").isEmpty,
      "fixture: the session-wide dynamic conf must be unset here")
    val plainFact = spark.read.format("graft").load(fdir)
    val optFact = spark.read.format("graft")
      .option("sipDynamic", "true").load(fdir)
    // the opted-in frame pays exactly one bounded job and gets the
    // filtered dim's 11-key IN on its fact scan
    val j0 = jobs()
    val d = optFact.join(dim, col("k") === col("dk"))
    d.queryExecution.optimizedPlan
    assert(jobs() - j0 == 1,
      s"one job for the opted-in query, got ${jobs() - j0}")
    assert(inLists(d, "k").contains(11),
      s"expected the 11-key IN:\n${d.queryExecution.optimizedPlan.treeString}")
    // a PLAIN query over the same tables in the same session — the
    // exact window the conf toggle used to leak into — never fires a
    // job and keeps the static leaf envelope
    val j1 = jobs()
    val pq = plainFact.join(dim, col("k") === col("dk"))
    pq.queryExecution.optimizedPlan
    assert(jobs() == j1, "a concurrent plain query must stay zero-job")
    // round 20: zero-job, but the static CANDIDACY envelope (the tag
    // stamps prune dim files) — file-granular, never the 11-key list
    val tm = Snapshot.manifest(spark, taggedDim,
      Snapshot.currentVersion(spark, taggedDim))
    val hitF = tm.files.filter(f =>
      tm.strStats.get((f.path, "tag")).forall { case (mn, mx) =>
        Snapshot.utf8Cmp(mn, "hit") <= 0 &&
          Snapshot.utf8Cmp("hit", mx) <= 0 })
    val (sLo, sHi) = (hitF.map(_.min).min, hitF.map(_.max).max)
    val pbs = bounds(pq, "k").toSet
    assert(pbs.contains((">=", sLo)) && pbs.contains(("<=", sHi)),
      s"plain query keeps the zero-job candidacy envelope, got $pbs")
    assert(inLists(pq, "k").isEmpty,
      "the plain query must never get the job's key list")
    // A/B answers identical
    assert(sorted(d) == sorted(pq))
    assert(sorted(d).map(_.getLong(0)).toSet == (310L to 320L).toSet)
  }

  test("dynamic SIP through a SNOWFLAKE dim (plan-scoped): the " +
    "dim-of-dim join runs as ONE bounded job; session-wide arming " +
    "keeps the r19 join refusal") {
    import spark.implicits._
    val fdir = fresh("snowfact")
    (1L to 800L).map(k => (k, k % 7)).toDF("k", "v")
      .write.format("graft").option("statsCol", "k")
      .option("nFiles", "8").save(fdir)
    // dim1 carries the fact key dk and a snow key sx = dk/10; the
    // subdim selects ONE sx (31 → dk 310..319) via a non-key tag —
    // a slice invisible to dim1's own stamps AND to any filter ON
    // dim1: only running the dim-of-dim join can see it
    val d1 = fresh("snowdim1")
    (1L to 800L).map(k => (k, k / 10)).toDF("dk", "sx")
      .write.format("graft").option("statsCol", "dk").save(d1)
    val sd = fresh("snowsub")
    (0L to 80L).map(x => (x, if (x == 31L) "hit" else "miss"))
      .toDF("sx2", "t")
      .write.format("graft").option("statsCol", "sx2").save(sd)
    def dimTree = spark.read.format("graft").load(d1)
      .join(spark.read.format("graft").load(sd)
        .filter(col("t") === "hit"), col("sx") === col("sx2"))
    assert(spark.conf.getOption("spark.graft.sipRule.dynamic").isEmpty,
      "fixture: the session-wide dynamic conf must be unset here")
    val optFact = spark.read.format("graft")
      .option("sipDynamic", "true").load(fdir)
    val j0 = jobs()
    val q = optFact.join(dimTree, col("k") === col("dk"))
    q.queryExecution.optimizedPlan
    // exactly ONE bounded planning job — the dim-of-dim tree itself —
    // and the slice's 10 actual keys land as the IN on the fact scan
    assert(jobs() - j0 == 1,
      s"one snowflake job expected, got ${jobs() - j0}")
    assert(inLists(q, "k").contains(10),
      s"expected the slice's 10-key IN on the fact scan:\n" +
        q.queryExecution.optimizedPlan.treeString)
    val qRows = sorted(q)
    assert(qRows.map(_.getLong(0)).toSet == (310L to 319L).toSet)
    // A/B: rule off answers identically
    assert(withRuleOff {
      sorted(spark.read.format("graft").load(fdir)
        .join(dimTree, col("k") === col("dk")))
    } == qRows)
    // SESSION-WIDE arming keeps the r19 refusal for join-containing
    // dim sides (no marker to tell snowflake from star): the fact's k
    // never gets the slice's KEY LIST from a join-subtree job. It DOES
    // get the round-20 static transitivity: the inner edge injects
    // subdim's sx summary onto dim1's scan, and the fact edge's
    // candidacy then narrows dim1's dk envelope to the files
    // surviving that sx conjunct — left-deep snowflake pruning at
    // FILE granularity with no join-sized planning job
    withDynamic {
      val pq = spark.read.format("graft").load(fdir)
        .join(dimTree, col("k") === col("dk"))
      pq.queryExecution.optimizedPlan
      assert(inLists(pq, "k").isEmpty,
        s"session-wide must not run the join-subtree job:\n" +
          pq.queryExecution.optimizedPlan.treeString)
      val dm = Snapshot.manifest(spark, d1,
        Snapshot.currentVersion(spark, d1))
      val sxF = dm.files.filter(f =>
        dm.colStats.get((f.path, "sx")).forall { case (mn, mx) =>
          mn <= 31L && 31L <= mx })
      val (sLo, sHi) = (sxF.map(_.min).min, sxF.map(_.max).max)
      val bs = bounds(pq, "k").toSet
      assert(bs.contains((">=", sLo)) && bs.contains(("<=", sHi)),
        s"static snowflake transitivity [$sLo,$sHi] expected, got $bs")
    }
  }

  test("dynamic SIP across a TWO-DIM star join: one job per dim edge, " +
    "both injections land") {
    import spark.implicits._
    // fact with two independent join keys, each axis stamped
    val fdir = fresh("star2")
    (1L to 800L).map(k => (k, k, k % 7)).toDF("k1", "k2", "v")
      .write.format("graft").option("statsCol", "k1")
      .option("nFiles", "8").save(fdir)
    Snapshot.optimizeStats(spark, fdir, Seq("k2"))
    val fact = spark.read.format("graft").load(fdir)
    // two hard-filtered dims with DISJOINT surviving key slices
    val d1 = fresh("stardim1")
    (1L to 800L).map(k =>
      (k, if (k >= 100L && k <= 110L) "a" else "z")).toDF("dk1", "t1")
      .write.format("graft").option("statsCol", "dk1").save(d1)
    val d2 = fresh("stardim2")
    (1L to 800L).map(k =>
      (k, if (k >= 105L && k <= 120L) "b" else "z")).toDF("dk2", "t2")
      .write.format("graft").option("statsCol", "dk2").save(d2)
    def dim1 = spark.read.format("graft").load(d1)
      .filter(col("t1") === "a")
    def dim2 = spark.read.format("graft").load(d2)
      .filter(col("t2") === "b")
    def star = fact
      .join(dim1, col("k1") === col("dk1"))
      .join(dim2, col("k2") === col("dk2"))
    withDynamic {
      val j0 = jobs()
      val q = star
      q.queryExecution.optimizedPlan
      // exactly one bounded job per dim EDGE across the whole
      // fixed-point optimization — the DynTag convergence guard must
      // hold with two tagged attrs in one plan
      assert(jobs() - j0 == 2,
        s"two dims, two jobs (one each), got ${jobs() - j0}")
      // both dims' actual keys landed on their own fact attribute
      assert(inLists(q, "k1").contains(11),
        s"dim1's 11 keys on k1:\n${q.queryExecution.optimizedPlan}")
      assert(inLists(q, "k2").contains(16),
        s"dim2's 16 keys on k2:\n${q.queryExecution.optimizedPlan}")
      // the star answer is the intersection of the two slices
      assert(sorted(q).map(_.getLong(0)).toSet == (105L to 110L).toSet)
      // re-optimizing a FRESH identical frame pays its own two jobs,
      // never more (per-query, not per-session, convergence)
      val j1 = jobs()
      star.queryExecution.optimizedPlan
      assert(jobs() - j1 == 2)
    }
  }
}
