package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks (SURVEY §5.2): operator algebra that must hold for
  * ALL inputs, not just the fixtures. Kept small (few cases, tiny data) —
  * each case runs real Spark jobs. */
class PropertySpec extends SparkSpec {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val texts: Gen[List[String]] =
    Gen.listOfN(20, Gen.oneOf("a", "b", "c", "a b", "b c", "a b c"))

  test("mergeCow == full-table merge for ANY base/batch/file-count shape") {
    // q124's upsert must be LOSSLESS: for every base key set, change
    // batch (updates/deletes/inserts, in- and out-of-range keys,
    // including keys absent from the base), file layout and table
    // history (a prior deletion vector, an added or a renamed column),
    // the merge must equal the full-table merge of the same inputs. This
    // is the snapshot family's analog of the prefix-filter lossless-∀
    // property: the file-range selection may only skip files the merge
    // could not change. Both branches are drawn — narrow batches mask
    // the matched rows merge-on-read, wide ones match more than half of
    // the touched rows and rewrite copy-on-write — and the branch that
    // ran must be the one the inputs predict.
    import spark.implicits._
    import graft.ops.Snapshot
    val bases = Gen.nonEmptyListOf(Gen.choose(1L, 60L)).map(_.distinct)
    // a one-key batch matches at most one row of a file, which is at most
    // half of its live rows once the table holds 20+ keys in 1..3 files
    val narrowBases = Gen.choose(20, 60).flatMap(n => Gen.pick(n, 1L to 60L))
      .map(_.toList)
    val op = Gen.oneOf("U", "D", "I")
    val narrow = for { k <- Gen.choose(1L, 80L); o <- op } yield List((k, o))
    val wide = Gen.listOfN(80, op).map((1L to 80L).toList.zip(_))
    val any = Gen.nonEmptyListOf(for {
      k <- Gen.choose(1L, 80L) // beyond the base range: inserts + misses
      o <- op
    } yield (k, o)).map(_.distinctBy(_._1))
    val histories = Gen.oneOf("plain", "dv", "added", "renamed")
    val layouts = Gen.choose(1, 5)
    val seen = scala.collection.mutable.Set.empty[String]
    var n = 0
    for ((kind, tables, batches, files) <- Seq(
        ("narrow", narrowBases, narrow, Gen.choose(1, 3)),
        ("wide", bases, wide, layouts), ("any", bases, any, layouts)))
      check(Prop.forAll(tables, batches, histories, files, Gen.choose(1L, 58L)) {
        (ks, ch, history, nf, dvLo) =>
          n += 1
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft_cowprop_$n").toString + "/t"
          Snapshot.commit(ks.map(k => (k, s"v$k", "K")).toDF("k", "v", "verdict"),
            dir, 0, "k", nFiles = nf)
          history match {
            case "dv" => Snapshot.deleteWhereDV(spark, dir, dvLo, dvLo + 2)
            case "added" => Snapshot.addColumn(spark, dir, "score", "BIGINT")
            case "renamed" => Snapshot.renameColumn(spark, dir, "v", "label")
            case _ => ()
          }
          val vCol = if (history == "renamed") "label" else "v"
          val extra = if (history == "added") Seq("score") else Nil
          val apply = (base: org.apache.spark.sql.DataFrame,
                       changes: org.apache.spark.sql.DataFrame) =>
            base.join(changes, base("k") === changes("k"), "full_outer")
              .filter(coalesce(col("op"), lit("K")) =!= "D")
              .select(Seq(coalesce(changes("k"), base("k")).as("k"),
                coalesce(concat(lit("c"), col("op")), col(vCol)).as(vCol),
                coalesce(col("op"), col("verdict")).as("verdict")) ++
                extra.map(base(_)): _*)
          val v0 = Snapshot.currentVersion(spark, dir)
          val m0 = Snapshot.manifest(spark, dir, v0)
          val changes = ch.toDF("k", "op")
          val v1 = Snapshot.mergeCow(spark, dir, changes, "k", apply, nFiles = nf)
          val m1 = Snapshot.manifest(spark, dir, v1)
          def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
          val merged = rows(Snapshot.read(spark, dir, v1))
          val full = rows(apply(Snapshot.read(spark, dir, v0), changes))
          // the branch the inputs predict: matched positions past half of
          // the touched files' live rows rewrite
          val keys = ch.map(_._1).toSet
          val live = Snapshot.read(spark, dir, v0).select("k").as[Long].collect()
          val matched = live.count(keys.contains)
          val touched = m0.files.filter(f => keys.exists(k => f.min <= k && k <= f.max))
          val liveTouched = touched.map(f =>
            f.rows - m0.dvs.get(f.path).fold(0)(_.length)).sum
          val masked = m1.dvs.values.map(_.length).sum -
            m0.dvs.values.map(_.length).sum
          val carriedAll = m0.files.forall(f => m1.files.exists(_.path == f.path))
          val mor = 2L * matched <= liveTouched
          val branchOk =
            if (mor) carriedAll && masked == matched
            else !carriedAll && m1.dvs.forall { case (p, v) =>
              m0.dvs.get(p).exists(_.length == v.length) }
          // a batch that matches no live row has nothing to mask or
          // rewrite on either branch
          if (matched > 0) seen += s"$kind:${if (mor) "mor" else "cow"}"
          merged == full && branchOk
      })
    assert(seen.filterNot(_.startsWith("any")) == Set("narrow:mor", "wide:cow"),
      s"matching narrow batches must mask and wide ones rewrite, saw $seen")
  }

  test("grouped metadata counts == plain GROUP BY for ANY " +
    "keys/nulls/layout/DV shape") {
    // the q171/q172 split must be LOSSLESS for every mix of
    // single-valued and mixed files, NULL keys, write layouts and
    // deletion vectors: stamped sums + the degraded scan must
    // reproduce the plain scan's per-group counts exactly — never a
    // phantom group, never a lost one — through the verb AND through
    // the front door's optimizer rewrite.
    import spark.implicits._
    import graft.ops.Snapshot
    val keyGen: Gen[Option[Long]] =
      Gen.oneOf(Gen.const(Option.empty[Long]), Gen.choose(1L, 4L).map(Some(_)))
    val rowsGen = Gen.nonEmptyListOf(keyGen)
    val delGen: Gen[Option[(Long, Long)]] = Gen.option(for {
      lo <- Gen.choose(1L, 4L); hi <- Gen.choose(lo, 4L)
    } yield (lo, hi))
    var n = 0
    check(Prop.forAll(rowsGen, Gen.choose(1, 4), Gen.oneOf(true, false),
      delGen) { (ks0, nf, byValue, del) =>
      n += 1
      // all-NULL key lists stay in: such files stamp the degraded
      // full-open sentinel and route wholly to the NULL group
      val ks = ks0
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_grpprop_$n").toString + "/t"
      val df = ks.zipWithIndex
        .map { case (k, i) => (k, s"v$i") }.toDF("k", "v")
      if (byValue) Snapshot.commitByValue(df, dir, 0, "k")
      else Snapshot.commit(df, dir, 0, "k", nFiles = nf)
      del.foreach { case (lo, hi) =>
        Snapshot.deleteWhereDV(spark, dir, lo, hi) }
      def groups(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r =>
          (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toMap
      val want = groups(Snapshot.read(spark, dir).groupBy("k").count())
      val verb = groups(Snapshot.groupCount(spark, dir))
      val front = groups(spark.read.format("graft").load(dir)
        .groupBy("k").count())
      val wantD = Snapshot.read(spark, dir)
        .agg(countDistinct(col("k"))).collect().head.getLong(0)
      val frontD = spark.read.format("graft").load(dir)
        .agg(countDistinct(col("k")).as("d"), count(col("k")).as("ck"),
          count(lit(1)).as("n")).collect().head
      val wantCk = want.filterNot(_._1 == -1L).values.sum
      val wantN = want.values.sum
      verb == want && front == want && frontD.getLong(0) == wantD &&
        frontD.getLong(1) == wantCk && frontD.getLong(2) == wantN
    })
  }

  test("metadata SUMs == plain aggregation for ANY values/nulls/layout/DV shape") {
    // the q175 splits must be LOSSLESS for every mix of negative
    // values, NULL measures, NULL group keys, write layouts and
    // deletion vectors: whatever combination of stamped files, hybrid
    // scans and outright refusals the rule picks, the front door's
    // answer must equal the plain aggregation bit-for-bit — global and
    // grouped, integral and decimal.
    import spark.implicits._
    import graft.ops.Snapshot
    val rowGen: Gen[(Option[Long], Option[Long], Option[Long])] = for {
      k <- Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.choose(1L, 4L).map(Some(_)))
      v <- Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.choose(-1000L, 1000L).map(Some(_)))
      p <- Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.choose(-99999L, 99999L).map(Some(_))) // cents
    } yield (k, v, p)
    val delGen: Gen[Option[(Long, Long)]] = Gen.option(for {
      lo <- Gen.choose(1L, 4L); hi <- Gen.choose(lo, 4L)
    } yield (lo, hi))
    var n = 0
    check(Prop.forAll(Gen.nonEmptyListOf(rowGen), Gen.choose(1, 4),
      Gen.oneOf(true, false), delGen) { (rows, nf, byValue, del) =>
      n += 1
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_sumprop_$n").toString + "/t"
      val df = rows.toDF("k", "v", "c")
        .withColumn("p", expr("CAST(c AS DECIMAL(9,2)) / 100"))
        .withColumn("p", expr("CAST(p AS DECIMAL(9,2))")).drop("c")
      if (byValue) Snapshot.commitByValue(df, dir, 0, "k")
      else Snapshot.commit(df, dir, 0, "k", nFiles = nf)
      del.foreach { case (lo, hi) =>
        Snapshot.deleteWhereDV(spark, dir, lo, hi) }
      def cell(r: org.apache.spark.sql.Row, i: Int): String =
        if (r.isNullAt(i)) "null"
        else r.get(i) match {
          case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
          case x => x.toString
        }
      def snap(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
        d.collect().toSeq.map(r => r.schema.indices.map(cell(r, _)))
          .sortBy(_.mkString("|"))
      def shapes(d: org.apache.spark.sql.DataFrame)
          : Seq[org.apache.spark.sql.DataFrame] = Seq(
        d.agg(sum(col("v")).as("sv"), sum(col("p")).as("sp"),
          count(lit(1)).as("n")),
        d.agg(sum(col("v")).as("sv")),
        d.agg(sum(col("p")).as("sp")),
        d.groupBy(col("k")).agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv")),
        d.groupBy(col("k")).agg(count(lit(1)).as("n"),
          sum(col("p")).as("sp")),
        d.groupBy(col("k")).agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"), sum(col("p")).as("sp")),
        d.filter(col("k") >= 2L && col("k") <= 3L)
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("p")).as("sp")),
        d.groupBy(col("k")).agg(count(lit(1)).as("n"),
          min(col("v")).as("mn"), max(col("v")).as("mx"),
          sum(col("v")).as("sv")),
        d.filter(col("k") >= 2L && col("k") <= 3L)
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
            min(col("k")).as("mnk"), count(lit(1)).as("n")),
        d.groupBy(col("k")).agg(count(col("v")).as("nv"),
          count(col("p")).as("np"), sum(col("v")).as("sv")),
        d.filter(col("k") >= 2L && col("k") <= 3L)
          .agg(count(col("v")).as("nv"), count(lit(1)).as("n")),
        // round 19: AVG joins the bit-for-bit matrix — at these value
        // magnitudes every double accumulation order is exact, so the
        // stamped exact-sum division equals the scan's running sum
        // (and the decimal avg is Spark's own evaluation either way)
        d.agg(avg(col("v")).as("av"), avg(col("p")).as("ap"),
          count(lit(1)).as("n")),
        d.groupBy(col("k")).agg(avg(col("v")).as("av"),
          count(lit(1)).as("n")),
        d.filter(col("k") >= 2L && col("k") <= 3L)
          .agg(avg(col("v")).as("av"), count(lit(1)).as("n")),
        // a phase-literal select that CollapseProject folds into the
        // aggregate (the kind-8 shape every registered report takes)
        d.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          avg(col("v")).as("av")).select(lit("x").as("phase"),
          col("n"), col("sv"), col("av"), lit(0L).as("n_scan")))
      val want = shapes(Snapshot.read(spark, dir)).map(snap)
      val got = shapes(spark.read.format("graft").load(dir)).map(snap)
      got == want
    })
  }

  test("metadata VARIANCE tracks the plain scan within float noise " +
    "for ANY values/nulls/layout shape") {
    // variance cannot join the bit-for-bit matrix BY DESIGN: the
    // scan's Welford m2 is partition-order-dependent in the last
    // ulps, which is exactly why the stamped answer (deterministic,
    // exact-to-one-rounding) exists. The property pins the two within
    // relative 1e-9 and the NULL patterns identical, across random
    // values, NULL mixes, layouts, and (round 20) random DELETION
    // VECTORS — which route the moment rewrites through the exact
    // HYBRID merge arm (or, when every file degrades, the plain
    // scan; both must keep the contract).
    import spark.implicits._
    import graft.ops.Snapshot
    val rowGen: Gen[(Option[Long], Option[Long])] = for {
      k <- Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.choose(1L, 4L).map(Some(_)))
      v <- Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.choose(-1000L, 1000L).map(Some(_)))
    } yield (k, v)
    var n = 0
    check(Prop.forAll(Gen.nonEmptyListOf(rowGen), Gen.choose(1, 4),
      Gen.oneOf(true, false),
      Gen.option(Gen.choose(1L, 4L))) { (rows, nf, byValue, dvKey) =>
      n += 1
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_varprop_$n").toString + "/t"
      val df = rows.toDF("k", "v")
      if (byValue) Snapshot.commitByValue(df, dir, 0, "k")
      else Snapshot.commit(df, dir, 0, "k", nFiles = nf)
      dvKey.foreach(dk => Snapshot.deleteWhereDV(spark, dir, dk, dk))
      def shapes(d: org.apache.spark.sql.DataFrame) = Seq(
        d.agg(var_samp(col("v")).as("vs"), var_pop(col("v")).as("vp"),
          stddev_samp(col("v")).as("ss")),
        d.groupBy(col("k")).agg(count(lit(1)).as("n"),
          var_samp(col("v")).as("vs")),
        d.filter(col("k") >= 2L && col("k") <= 3L)
          .agg(var_samp(col("v")).as("vs"), count(lit(1)).as("n")))
      def rowsOf(d: org.apache.spark.sql.DataFrame)
          : Seq[Seq[Option[Any]]] =
        d.collect().toSeq.map(r => r.schema.indices.map(i =>
          if (r.isNullAt(i)) None else Some(r.get(i))))
          .sortBy(_.toString)
      def close(a: Option[Any], b: Option[Any]): Boolean = (a, b) match {
        case (None, None) => true
        case (Some(x: Double), Some(y: Double)) =>
          (x.isNaN && y.isNaN) ||
            math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (Some(x), Some(y)) => x == y
        case _ => false
      }
      val want = shapes(Snapshot.read(spark, dir)).map(rowsOf)
      val got = shapes(spark.read.format("graft").load(dir)).map(rowsOf)
      want.length == got.length && want.zip(got).forall {
        case (w, g) => w.length == g.length && w.zip(g).forall {
          case (wr, gr) => wr.length == gr.length &&
            wr.zip(gr).forall { case (x, y) => close(y, x) }
        }
      }
    })
  }

  test("bulkJdbcUrl: append-only, PG-flag-once, idempotent — any URL shape") {
    // the pure half of the COPY-grade sink (the PG server itself is
    // unreachable here): for EVERY dialect/path/query-string shape the
    // rewrite must (a) only ever append — existing base + params survive
    // byte-for-byte; (b) leave non-PG URLs untouched; (c) end with the
    // flag present EXACTLY once on PG URLs; (d) be idempotent, so the A5
    // re-publish discipline can re-derive the URL per attempt safely.
    val dialect = Gen.oneOf("jdbc:postgresql:", "jdbc:derby:", "jdbc:mysql:",
      "jdbc:sqlserver:")
    val body = Gen.oneOf("//h/db", "//host:5432/prod", "memory:x;create=true",
      "//h/db_reWriteBatchedInserts")  // flag text in the PATH must not count
    val param = Gen.oneOf("ssl=false", "user=u", "currentSchema=s",
      "reWriteBatchedInserts=false", "reWriteBatchedInserts=true")
    val urls = for {
      dl <- dialect; b <- body; ps <- Gen.listOf(param)
    } yield dl + b + (if (ps.isEmpty) "" else "?" + ps.mkString("&"))
    def qs(u: String): Array[String] = u.indexOf('?') match {
      case -1 => Array.empty
      case i  => u.substring(i + 1).split('&')
    }
    check(Prop.forAll(urls) { url =>
      val out = graft.ops.Ingest.bulkJdbcUrl(url)
      val appendOnly = out.startsWith(url)
      val untouchedNonPg =
        url.startsWith("jdbc:postgresql:") || out == url
      // PG: the flag ends up in the QUERY STRING exactly max(1, existing)
      // times — path text never counts, existing settings never duplicate
      val flagOnPg = !url.startsWith("jdbc:postgresql:") || {
        val have = qs(url).count(_.startsWith("reWriteBatchedInserts"))
        qs(out).count(_.startsWith("reWriteBatchedInserts")) ==
          math.max(1, have)
      }
      val idempotent = graft.ops.Ingest.bulkJdbcUrl(out) == out
      appendOnly && untouchedNonPg && flagOnPg && idempotent
    })
  }

  test("versionAtTimestamp agrees with history's commit clock for any cutoff") {
    // the two surfaces share one monotone clock by construction; this
    // pins the RESOLUTION algebra for arbitrary cutoffs: for any epoch e,
    // versionAtTimestamp(e) == max{version | commit_ms <= e}, and every
    // e below the first commit raises. Three commits, adversarial mtimes.
    import graft.ops.Snapshot
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_clock_prop").toString + "/t"
    Snapshot.commit((1 to 8).map(k => (k.toLong, s"v$k", "K"))
      .toDF("k", "v", "verdict"), dir, 0, "k")
    Thread.sleep(12)
    Snapshot.commit(Seq((1L, "u1", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    Thread.sleep(12)
    Snapshot.commit(Seq((1L, "u2", "U")).toDF("k", "v", "verdict"),
      dir, 2, "k", nFiles = 1)
    // scramble manifest mtimes so only the embedded clock can be right
    (1 to 3).foreach { v =>
      new java.io.File(s"$dir/_manifests", f"v$v%05d")
        .setLastModified(1000000000L * v)
    }
    val clock = Snapshot.history(spark, dir).orderBy(col("version"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val eGen = Gen.choose(clock.head._2 - 50L, clock.last._2 + 50L)
    check(Prop.forAll(eGen) { e =>
      val want = clock.filter(_._2 <= e).lastOption.map(_._1)
      val got =
        try Some(Snapshot.versionAtTimestamp(spark, dir, e))
        catch { case _: IllegalArgumentException => None }
      got == want
    })
  }

  test("DV codec round-trips ANY ascending position set; never expands 9x") {
    import graft.ops.Snapshot
    // arbitrary sorted-distinct long sets, dense and sparse mixes —
    // decode(encode(x)) == x for all of them, and the delta-varint
    // never does worse than ~9 bytes/position (raw longs are 8)
    val posGen: Gen[Array[Long]] = Gen.listOf(Gen.chooseNum(0L, 1L << 42))
      .map(_.distinct.sorted.toArray)
    check(Prop.forAll(posGen) { ps =>
      val enc = Snapshot.encodeDv(ps)
      Snapshot.decodeDv(enc).sameElements(ps) &&
        enc.length <= (ps.length * 9 + 8) * 4 / 3 + 4
    })
  }

  test("dedup is idempotent: f(f(x)) == f(x)") {
    import spark.implicits._
    check(Prop.forAll(texts) { xs =>
      val df = xs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def f(d: org.apache.spark.sql.DataFrame) =
        d.groupBy("text").agg(min("doc_id").as("doc_id"))
          .select("doc_id", "text")
      val once = f(df).collect().toSet
      val twice = f(f(df)).collect().toSet
      once == twice
    })
  }

  test("left join preserves left cardinality for unique right keys") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(15, Gen.chooseNum(0L, 5L)),
                      Gen.someOf(0L to 5L)) { (lks, rks) =>
      val l = lks.toDF("k")
      val r = rks.toList.distinct.map(k => (k, s"v$k")).toDF("k", "v")
      l.join(r, Seq("k"), "left").count() == lks.length
    })
  }

  test("graft_srp_sign: interpreted eval == codegen == Scala reference") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.expressions.SrpSign
    val vecs: Gen[List[Double]] =
      Gen.listOfN(8, Gen.chooseNum(-4.0, 4.0).map(x => math.rint(x * 64) / 64))
    check(Prop.forAll(vecs) { v =>
      // Scala reference: bit r = sign of the plane-row dot product
      var ref = 0L
      for (r <- 0 until 64) {
        var dot = 0.0
        for (k <- v.indices) dot += SrpSign.planes(r * SrpSign.MaxDim + k) * v(k)
        if (dot >= 0.0) ref |= (1L << r)
      }
      // interpreted path (nullSafeEval — the codegen-fallback mode)
      val interp = SrpSign(Literal(ArrayData.toArrayData(v.toArray),
        ArrayType(DoubleType))).eval().asInstanceOf[Long]
      // codegen path through a real plan
      import spark.implicits._
      val viaPlan = Seq(v.toArray).toDF("emb")
        .selectExpr("graft_srp_sign(emb)").head().getLong(0)
      interp == ref && viaPlan == ref
    })
  }

  test("q99 span dedup matches a sequential reference on random corpora") {
    import spark.implicits._
    // tiny token alphabet forces natural cross- and within-doc span
    // repeats; the reference walks docs in (doc_id, span_idx) order
    // keeping the first occurrence of each span value — exactly the
    // distributed query's min-(doc_id, span_idx) survivor rule
    val corpus: Gen[List[String]] =
      Gen.listOfN(8, Gen.chooseNum(1, 20).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString(" "))))
    check(Prop.forAll(corpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // sequential reference
      val seen = scala.collection.mutable.HashSet.empty[String]
      val want = docs.map { case (id, t) =>
        val toks = t.split(" ")
        val spans = toks.grouped(8).map(_.mkString(" ")).toSeq
        val kept = spans.filter(sp => seen.add(sp))
        (id, spans.length.toLong, (spans.length - kept.length).toLong,
         kept.map(_.split(" ").length.toLong).sum)
      }.toSet
      // distributed query over the same rows (no planted copies: the
      // planting is a fixture-corpus concern, the operator under test is
      // the survivor rule itself)
      val sh = docs.toDF("doc_id", "text")
        .withColumn("tk", split(col("text"), " "))
        .select(col("doc_id"), org.apache.spark.sql.functions.posexplode(expr(
          """transform(
            |  sequence(0, greatest(cast(ceil(size(tk)/8.0) as int), 1) - 1),
            |  i -> array_join(slice(tk, i*8+1, 8), ' '))""".stripMargin)))
        .toDF("doc_id", "span_idx", "span")
        .withColumn("pos", col("doc_id") * 1048576L + col("span_idx"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(org.apache.spark.sql.functions.md5(col("span")))
      val got = sh
        .withColumn("kept",
          col("pos") === org.apache.spark.sql.functions.min(col("pos")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("d"),
          sum(when(col("kept"), size(split(col("span"), " ")).cast("long"))
            .otherwise(0L)).as("ct"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      got == want
    })
  }

  test("q99 salted span-winner path equals the window anchor under 30% skew") {
    import spark.implicits._
    import graft.ops.Dedup
    // One boilerplate span planted in 30% of documents — the hot-key shape
    // spanDedupSalted exists for (every occurrence of that span lands in
    // ONE window partition under the anchor spelling). Remaining tokens
    // are unique per document so the rest of the span space is cold.
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = (0L until 200L).map { id =>
      val own = (0 until 16).map(t => s"t${id}_$t").mkString(" ")
      (id, if (id % 10 < 3) s"$boiler $own" else own)
    }.toDF("doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val anchor = Dedup.spanVerdict(Dedup.spanFrame(docs).withColumn("kept",
        struct(col("doc_id"), col("span_idx")) ===
          min(struct(col("doc_id"), col("span_idx"))).over(w)))
      .collect().map(_.toSeq).toSet
    val salted = Dedup.spanDedupSalted(docs, salt = 8)
      .collect().map(_.toSeq).toSet
    assert(anchor.nonEmpty && salted == anchor,
      "salted aggregate path must reproduce the window anchor verdict")
    // sanity: the planted span is cut from every carrier but the first
    val cuts = Dedup.spanDedupSalted(docs, salt = 8)
      .filter(col("n_dup") > 0).count()
    assert(cuts == 59, s"60 planted carriers -> 59 docs with a cut, got $cuts")
  }

  test("q38 incremental view fold == recompute for random bases and batches") {
    import spark.implicits._
    // exact Long-cent prices, random (key → op) change batches; the
    // invariant is the general one behind q38's fixture derivation:
    // view + delta == recompute over the merged state, for ANY batch
    val baseGen: Gen[List[(Long, String, Long)]] =
      Gen.listOfN(20, for {
        k <- Gen.chooseNum(0L, 30L)
        p <- Gen.oneOf("hi", "lo")
        c <- Gen.chooseNum(100L, 99999L)
      } yield (k, p, c)).map(_.distinctBy(_._1))
    val opsGen: Gen[List[(Long, String, Long)]] =
      Gen.listOfN(12, for {
        k <- Gen.chooseNum(0L, 40L)
        op <- Gen.oneOf("U", "D", "I")
        c <- Gen.chooseNum(100L, 99999L)
      } yield (k, op, c)).map(_.distinctBy(_._1))
    check(Prop.forAll(baseGen, opsGen, Gen.oneOf("hi", "lo")) {
      (base, rawOps, insPrio) =>
        val baseMap = base.map(r => r._1 -> r).toMap
        // U/D need an existing key; I needs a fresh one — filter to the
        // applicable ops (a real CDC batch is constructed this way too)
        val batch = rawOps.flatMap {
          case (k, "U", c) => baseMap.get(k).map(b => (k, "U", b._2, c))
          case (k, "D", _) => baseMap.get(k).map(b => (k, "D", b._2, 0L))
          case (k, "I", c) if !baseMap.contains(k) =>
            Some(k + 1000L, "I", insPrio, c)
          case _ => None
        }
        // recompute over merged state
        val deleted = batch.collect { case (k, "D", _, _) => k }.toSet
        val updated = batch.collect { case (k, "U", _, c) => k -> c }.toMap
        val merged =
          base.filterNot(r => deleted(r._1))
            .map(r => (r._2, updated.getOrElse(r._1, r._3))) ++
          batch.collect { case (_, "I", p, c) => (p, c) }
        val want = merged.groupBy(_._1)
          .map { case (p, rs) => (p, rs.size.toLong, rs.map(_._2).sum) }
          .filter(_._2 > 0).toSet
        // incremental fold: view(base) + per-group deltas
        val view = base.groupBy(_._2)
          .map { case (p, rs) => p -> (rs.size.toLong, rs.map(_._3).sum) }
        val deltas = batch.map {
          case (k, "U", p, c) => (p, 0L, c - baseMap(k)._3)
          case (k, "D", p, _) => (p, -1L, -baseMap(k)._3)
          case (_, "I", p, c) => (p, 1L, c)
        }.groupBy(_._1)
          .map { case (p, ds) => p -> (ds.map(_._2).sum, ds.map(_._3).sum) }
        val got = (view.keySet ++ deltas.keySet).map { p =>
          val (n0, s0) = view.getOrElse(p, (0L, 0L))
          val (dn, ds) = deltas.getOrElse(p, (0L, 0L))
          (p, n0 + dn, s0 + ds)
        }.filter(_._2 > 0)
        got == want
    })
  }

  test("q106 prefix-filtered Jaccard pairs == naive exact pairs, any corpus/tau") {
    import spark.implicits._
    // random shingle sets over a SMALL universe (forces overlaps) and a
    // random threshold — the prefix-filter theorem must hold for all of
    // them, not just the fixture's 0.5
    val corpus: Gen[List[(Long, List[String])]] =
      Gen.listOfN(10, Gen.nonEmptyListOf(
        Gen.oneOf("u", "v", "w", "x", "y", "z", "p", "q")).map(_.distinct))
        .map(_.zipWithIndex.map { case (s, i) => (i.toLong, s) })
    val taus = Gen.oneOf(0.3, 0.5, 0.7, 0.9)
    check(Prop.forAll(corpus, taus) { (docs, tau) =>
      val sh = docs.flatMap { case (id, ss) => ss.map(s => (id, s)) }
        .toDF("doc_id", "sh")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      canon(ops.Dedup.jaccardPairsPrefix(sh, tau)) ==
        canon(ops.Dedup.jaccardPairs(sh, tau))
    })
  }

  test("q113/q120 cross-corpus prefix Jaccard == naive batch-vs-base join, any corpus/tau") {
    import spark.implicits._
    // random batch and base shingle sets over a SMALL universe (forces
    // overlaps, including batch-only shingles that rank df=0 under the
    // frozen order) and a random threshold — asymmetric prefix filtering
    // must be lossless for all of them, like q106's symmetric variant
    val side: Gen[List[List[String]]] =
      Gen.listOfN(6, Gen.nonEmptyListOf(
        Gen.oneOf("u", "v", "w", "x", "y", "z", "p", "q")).map(_.distinct))
    val taus = Gen.oneOf(0.3, 0.5, 0.7, 0.9)
    check(Prop.forAll(side, side, taus) { (bdocs, cdocs, tau) =>
      val shB = bdocs.zipWithIndex
        .flatMap { case (ss, i) => ss.map(s => (i.toLong, s)) }
        .toDF("doc_id", "sh")
      val shC = cdocs.zipWithIndex
        .flatMap { case (ss, i) => ss.map(s => (100L + i, s)) }
        .toDF("doc_id", "sh")
      // index built from the BASE side alone via the PRODUCTION
      // construction (fp unused by the near path — empty frame keeps the
      // test honest about what the near stage needs)
      val (dfT, prefix, sets) = ops.Dedup.shingleIndexOf(shC, tau)
      val ix = ops.Dedup.IncIndex(
        fp = shC.limit(0).select(col("sh").as("fp"),
          col("doc_id").as("exact_witness")),
        df = dfT, prefix = prefix, sets = sets)
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      canon(ops.Dedup.crossJaccardPrefix(shB, ix, tau)) ==
        canon(DedupOracles.crossJaccardNaive(shB, shC, tau))
    })
  }

  test("q111 prefix-filtered containment pairs == naive directed pairs, any corpus/tau") {
    import spark.implicits._
    // the asymmetric prefix-filter variant must be lossless for all
    // corpora and thresholds, like q106's symmetric one — including the
    // short-doc-inside-long-doc case Jaccard dilutes away
    val corpus: Gen[List[(Long, List[String])]] =
      Gen.listOfN(8, Gen.nonEmptyListOf(
        Gen.oneOf("u", "v", "w", "x", "y", "z", "p", "q")).map(_.distinct))
        .map(_.zipWithIndex.map { case (s, i) => (i.toLong, s) })
    val taus = Gen.oneOf(0.3, 0.5, 0.8, 1.0)
    check(Prop.forAll(corpus, taus) { (docs, tau) =>
      val sh = docs.flatMap { case (id, ss) => ss.map(s => (id, s)) }
        .toDF("doc_id", "sh")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      canon(ops.Dedup.containmentPairs(sh, tau)) ==
        canon(DedupOracles.containmentPairsNaive(sh, tau))
    })
  }

  test("q113 incremental gate matches a sequential reference, any corpus") {
    import spark.implicits._
    // random corpora over a tiny token universe (forces shingle overlap
    // AND occasional verbatim-equal texts, so all three verdict arms and
    // both witness rules get exercised beyond the fixture's planted split)
    val corpus: Gen[List[(Long, String)]] =
      Gen.listOfN(14, Gen.chooseNum(3, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("u", "v", "w", "x")).map(_.mkString(" "))))
        .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    def sh3(t: String): Set[String] = {
      val tk = t.split(" ")
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    check(Prop.forAll(corpus) { docs =>
      val df = docs.toDF("doc_id", "text")
        .withColumn("lang", lit("xx")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val got = ops.Dedup.incrementalDedup(df).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      // sequential reference: same split + donor substitution, exact =
      // text equality against the base, near = 3-shingle Jaccard >= 0.5
      val byId = docs.toMap
      val base = docs.filter(_._1 % 10 != 0)
      val want = docs.filter(_._1 % 10 == 0).map { case (id, own) =>
        val text =
          if (id % 30 == 0) byId.getOrElse(id + 1, own) else own
        val exact = base.filter(_._2 == text).map(_._1).sorted.headOption
        lazy val near = {
          val a = sh3(text)
          base.filter { case (_, bt) =>
            val b = sh3(bt); val in = (a & b).size
            val un = (a | b).size
            un > 0 && in.toDouble / un.toDouble >= 0.5
          }.map(_._1).sorted.headOption
        }
        (exact, near) match {
          case (Some(w), _) => (id, "exact_dup", w)
          case (None, Some(w)) => (id, "near_dup", w)
          case _ => (id, "new", -1L)
        }
      }.toSet
      got == want
    })
  }

  test("graft_sorted_inter_count == size(array_intersect) on sorted arrays") {
    import spark.implicits._
    // random MULTISETS (duplicates deliberate — equal runs must count
    // once), sorted as sort_array would, over strings and longs; empty
    // arrays included. array_intersect is the semantics oracle.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    val arr: Gen[List[String]] =
      Gen.listOf(Gen.oneOf("a", "b", "bb", "c", "d", "", "é")).map(_.sorted)
    check(Prop.forAll(arr, arr) { (x, y) =>
      val row = Seq((x, y)).toDF("x", "y")
        .select(
          expr("graft_sorted_inter_count(x, y)").as("walk"),
          size(array_intersect(col("x"), col("y"))).cast("long").as("ref"))
        .head()
      // the INTERPRETED path too (direct eval on literals): the DataFrame
      // route compiles the codegen body, and a fallback to nullSafeEval
      // must agree with it — a divergence here is a silent wrong answer
      val interp = graft.expressions.SortedIntersectCount(
        Literal.create(x, ArrayType(StringType)),
        Literal.create(y, ArrayType(StringType))).eval(null)
      row.getLong(0) == row.getLong(1) && interp == row.getLong(0)
    })
    val larr: Gen[List[Long]] =
      Gen.listOf(Gen.chooseNum(-5L, 5L)).map(_.sorted)
    check(Prop.forAll(larr, larr) { (x, y) =>
      val row = Seq((x, y)).toDF("x", "y")
        .select(
          expr("graft_sorted_inter_count(x, y)").as("walk"),
          size(array_intersect(col("x"), col("y"))).cast("long").as("ref"))
        .head()
      val interp = graft.expressions.SortedIntersectCount(
        Literal.create(x, ArrayType(LongType)),
        Literal.create(y, ArrayType(LongType))).eval(null)
      row.getLong(0) == row.getLong(1) && interp == row.getLong(0)
    })
  }

  test("q79 components match a union-find reference on random graphs") {
    import spark.implicits._
    import graft.ops.Dedup
    // random edge lists over a small node universe: every component shape
    // (chains that need multiple propagation rounds, cliques, singleton
    // joins) shows up across cases
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(12, for {
        a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
      } yield (math.min(a, b), math.max(a, b)))
    check(Prop.forAll(edgeGen) { raw =>
      // duplicates and self-loops stay IN: q66's band join emits distinct
      // canonical pairs today, but resolution must not silently depend on
      // that — a dup edge or (n, n) loop is semantically a no-op
      val es = raw
      es.isEmpty || {
        // BOTH resolution paths must match the reference: smallLimit=0
        // forces the iterative pointer-jumping loop, the default takes the
        // single-task union-find base case on these small graphs
        val viaLoop = Dedup.resolveComponents(es.toDF("i", "j"), smallLimit = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val viaUf = Dedup.resolveComponents(es.toDF("i", "j"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        // driver-side union-find reference; union-by-min makes every root
        // the component minimum, which is exactly q79's survivor contract
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // totality first: a node-dropping regression must not pass just
        // because the surviving keys still agree with the reference
        val nodes = es.flatMap(p => Seq(p._1, p._2)).toSet
        val ref = nodes.map(n => n -> find(n)).toMap
        viaLoop.keySet == nodes && viaLoop == ref &&
          viaUf.keySet == nodes && viaUf == ref
      }
    })
  }

  test("q79 min-label propagation converges past diameter-1: a 10-node chain") {
    import spark.implicits._
    import graft.ops.Dedup
    // 1-2-3-...-10 needs ~log/diameter rounds, not one — the fixpoint loop
    // itself is under test, not just a star graph's single hop
    val chain = (1L until 10L).map(k => (k, k + 1)).toDF("i", "j")
    // smallLimit = 0 forces the ITERATIVE path — this test pins the loop's
    // convergence, which the union-find base case would otherwise bypass
    val labels = Dedup.resolveComponents(chain, smallLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == (1L to 10L).map(_ -> 1L).toMap,
      s"every chain node must resolve to 1, got $labels")
  }

  test("q79 loop releases superseded checkpoints and restores session conf") {
    import spark.implicits._
    import graft.ops.Dedup
    // releaseCheckpoint must actually free a localCheckpoint's blocks —
    // were the LogicalRDD match to silently stop applying on a Spark
    // upgrade, the loop would regress to GC-paced storage growth
    val cp = Seq((1L, 2L), (3L, 4L)).toDF("node", "lbl").localCheckpoint(true)
    val rdds = cp.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    assert(rdds.nonEmpty && rdds.forall(_.getStorageLevel.useMemory),
      "a materialized localCheckpoint must be backed by a persisted LogicalRDD")
    Dedup.releaseCheckpoint(cp)
    assert(rdds.forall(_.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "releaseCheckpoint must unpersist the checkpoint's RDD")
    // and the iterative path must put the session conf back exactly as it
    // found it (it pins AQE + shuffle width for the duration of the loop)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    Dedup.resolveComponents(
      (1L until 6L).map(k => (k, k + 1)).toDF("i", "j"), smallLimit = 0L)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe &&
      spark.conf.get("spark.sql.shuffle.partitions") == parts,
      "resolveComponents must restore the session conf it pinned")
  }

  test("q82 merge fold is exact BPE against a piece-list reference") {
    import spark.implicits._
    import graft.ops.TextOps
    // Scala reference: the textbook apply step — per rank, one greedy
    // left-to-right scan over the PIECE LIST (not the raw string)
    def bpeRef(word: String): Seq[String] = {
      var pieces: Seq[String] = word.map(_.toString)
      for ((k, v) <- TextOps.BpeMerges) {
        val Array(a, b) = k.split(' ')
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < pieces.length) {
          if (i + 1 < pieces.length && pieces(i) == a && pieces(i + 1) == b) {
            out += v; i += 2
          } else { out += pieces(i); i += 1 }
        }
        pieces = out.toSeq
      }
      pieces
    }
    // 'here'/'there' are the boundary counterexamples: a space-delimited
    // replace fold merges 'r e' ACROSS the er|e piece boundary and
    // undercounts; the '~' piece-marker spelling must not
    val words = Seq("here", "there", "the", "ther", "thth", "and",
      "rere", "onion", "rather", "interest", "a", "es")
    val got = words.map(w => (0L, w)).toDF("doc_id", "t")
      .selectExpr("t",
        s"${TextOps.bpePieceCount(TextOps.bpeMergedSpark)} AS n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(got(w) == bpeRef(w).length,
        s"'$w': fold gave ${got(w)} pieces, reference ${bpeRef(w).mkString("|")}")
    }
    assert(bpeRef("here") == Seq("h", "er", "e"), "sanity: the counterexample splits h|er|e")
  }

  test("q79 iterative loop converges a diameter-1024 chain in O(log d) rounds") {
    import spark.implicits._
    // The adversarial shape for label propagation — one long path, the
    // graph Kiveris et al.'s star operations exist for. The pointer jump
    // (label-of-label edges folded into the propagation join) must give
    // logarithmic convergence WITHOUT the star rewrite: plain
    // neighbor-min propagation needs ~d rounds on a d-chain; doubling
    // needs ~log2(d). Bound 2·log2(d) + 2 leaves room for the final
    // no-change detection round while failing hard if propagation ever
    // degrades to linear. smallLimit = 0 forces the iterative path (the
    // 1023-pair graph would otherwise take the union-find base case).
    val d = 1024
    val edges = (0L until (d - 1).toLong).map(i => (i, i + 1)).toDF("i", "j")
    val (labels, rounds) =
      graft.ops.Dedup.resolveComponentsWithRounds(edges, smallLimit = 0L)
    val rows = labels.collect()
    assert(rows.length == d, s"every chain node labeled, got ${rows.length}")
    assert(rows.forall(_.getLong(1) == 0L),
      "every node's label must be the chain minimum (0)")
    val bound = 2 * (math.log(d.toDouble) / math.log(2.0)).ceil.toInt + 2
    assert(rounds <= bound,
      s"diameter-$d chain took $rounds rounds; O(log d) bound is $bound")
  }

  test("graft_bpe_encode == replace fold on fixed, learned and empty tables") {
    import spark.implicits._
    import graft.ops.TextOps
    // The equivalence contract the native apply ships under: for every
    // VALID merge table (fixed q82 table, trainer output, empty), the
    // greedy lowest-rank-first algorithm produces exactly the fold's
    // piece list. Direct projection — not a HOF lambda — so the
    // comparison runs graft_bpe_encode's whole-stage-codegen path.
    // Inputs: every distinct corpus token plus the fold's boundary
    // counterexamples ('here' must split h|er|e, never h|e|re).
    val words = Seq("here", "there", "the", "ther", "thth", "and", "rere",
      "onion", "rather", "interest", "a", "es", "")
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t")).distinct()
      .unionAll(words.toDF("t"))
    val learned = TextOps.learnBpeMerges(
      Tables.documents(spark, sf).select("text"), 6)
    assert(learned.size == 6, s"trainer must fill 6 ranks: $learned")
    for (merges <- Seq(TextOps.BpeMerges, learned, Seq.empty)) {
      val fold =
        s"filter(split(${TextOps.bpeMergedExpr(merges)}, '~'), p -> p != '')"
      val diff = toks
        .selectExpr("t", s"$fold AS f", s"${TextOps.bpeNativePieces(merges)} AS n")
        .filter("NOT (f <=> n)")
      val bad = diff.take(3)
      assert(bad.isEmpty,
        s"fold and native disagree under table $merges: ${bad.mkString("; ")}")
    }
  }

  test("BPE learning: deterministic ranks that compress, consistent with apply") {
    import graft.ops.TextOps
    import org.apache.spark.sql.functions.{col, explode, split}
    val docs = Tables.documents(spark, sf).select("text")
    val m1 = TextOps.learnBpeMerges(docs, 4)
    val m2 = TextOps.learnBpeMerges(docs, 4)
    assert(m1.length == 4 && m1 == m2,
      s"training must be deterministic and fill every rank: $m1 vs $m2")
    assert(m1.forall { case (k, v) =>
      val ab = k.split(' '); ab.length == 2 && ab.mkString == v
    }, s"each rank merges exactly its two pieces: $m1")
    // applying the learned table through the SAME fold compresses the corpus
    val sums = docs.select(explode(split(col("text"), " ")).as("t"))
      .selectExpr(
        s"${TextOps.bpePieceCount(TextOps.bpeMergedExpr(m1))} AS n",
        "CAST(length(t) AS BIGINT) AS c")
      .selectExpr("sum(n) AS n", "sum(c) AS c").head()
    assert(sums.getLong(0) < sums.getLong(1),
      s"learned merges must reduce pieces: ${sums.getLong(0)} vs ${sums.getLong(1)} chars")
  }

  test("q93 redaction removes every match and counts exactly the plants") {
    import graft.ops.TextOps
    val out = SparkEntry.queries("q93_text_redact")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // fixture text is PII-free, so counts are exactly the planted ones
      assert(r.getAs[Long]("n_emails") == (if (id % 3 == 0) 1L else 0L), s"$r")
      assert(r.getAs[Long]("n_longnums") == (if (id % 5 == 0) 1L else 0L), s"$r")
      // every redaction replaces a longer span with a fixed tag, so the
      // length delta is positive iff something was redacted
      assert((r.getAs[Long]("len_delta") > 0) == (id % 3 == 0 || id % 5 == 0), s"$r")
    }
    // end-state check on the actual redacted strings (the query ships only
    // their md5): re-run the same replace chain and scan for residuals
    import org.apache.spark.sql.functions._
    val residual = graft.Tables.documents(spark, sf)
      .select(concat(col("text"),
        lit(" contact a_b%c@mail.example.org or 99887766554433 now")).as("base"))
      .select(regexp_replace(regexp_replace(col("base"),
        TextOps.EmailPat, "<EMAIL>"), TextOps.LongNumPat, "<NUM>").as("red"))
      .filter(regexp_count(col("red"), lit(TextOps.EmailPat)) > 0 ||
              regexp_count(col("red"), lit(TextOps.LongNumPat)) > 0)
      .count()
    assert(residual == 0, "redacted text must contain no residual matches")
  }

  test("q91 packing matches a sequential reference for random corpora/params") {
    import spark.implicits._
    // reference: per (lang, shard) stream docs in id order, assign each to
    // the bin where its cumulative offset starts
    def refPack(rows: Seq[(Long, String, Int)], bin: Int, shardDocs: Int)
        : Map[(String, Long, Long), (Long, Long, Long, Long)] =
      rows.groupBy { case (id, lang, _) => (lang, id / shardDocs) }.toSeq
        .flatMap { case ((lang, shard), grp) =>
          var cum = 0L
          grp.sortBy(_._1).map { case (id, _, n) =>
            val packNo = cum / bin; cum += n
            (lang, shard, packNo, id, n.toLong)
          }
        }
        .groupBy(t => (t._1, t._2, t._3))
        .map { case (k, g) =>
          k -> (g.size.toLong, g.map(_._5).sum, g.map(_._4).min, g.map(_._4).max)
        }
    val corpus: Gen[List[(Long, String, Int)]] = for {
      n <- Gen.chooseNum(1, 40)
      ids <- Gen.pick(n, 0L until 100L)
      rows <- Gen.sequence[List[(Long, String, Int)], (Long, String, Int)](
        ids.toList.map(id => for {
          lang <- Gen.oneOf("en", "de")
          toks <- Gen.chooseNum(1, 20)
        } yield (id, lang, toks)))
    } yield rows
    check(Prop.forAll(corpus, Gen.chooseNum(3, 17), Gen.chooseNum(2, 9)) {
      (rows, bin, shardDocs) =>
        val df = rows.map { case (id, lang, n) =>
          (id, ("w " * n).trim, lang, "src", n.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
        val got = graft.ops.Corpus.packSequences(df, bin, shardDocs).collect()
          .map(r => (r.getAs[String]("lang"), r.getAs[Long]("shard"),
            r.getAs[Long]("pack_no")) ->
            (r.getAs[Long]("n_docs"), r.getAs[Long]("tok_count"),
             r.getAs[Long]("doc_lo"), r.getAs[Long]("doc_hi"))).toMap
        got == refPack(rows, bin, shardDocs)
    })
  }

  test("q98 rebalance matches an exact md5-arithmetic reference") {
    import spark.implicits._
    def hk16(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    val corpus: Gen[List[(Long, String, Int)]] = for {
      n <- Gen.chooseNum(2, 40)
      ids <- Gen.pick(n, 0L until 100L)
      rows <- Gen.sequence[List[(Long, String, Int)], (Long, String, Int)](
        ids.toList.map(id => for {
          src <- Gen.oneOf("s0", "s1", "s2")
          toks <- Gen.chooseNum(1, 30)
        } yield (id, src, toks)))
    } yield rows
    check(Prop.forAll(corpus) { rows =>
      val df = rows.map { case (id, src, n) =>
        (id, ("w " * n).trim, "en", src, n.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val got = graft.ops.Corpus.rebalanceMix(df).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("accept_micro"), r.getAs[Long]("n_kept"),
           r.getAs[Long]("kept_toks"))).toMap
      // reference: same floor-division micro arithmetic, sequentially
      val cells = rows.groupBy(_._2)
      val tokTotal = rows.map(_._3.toLong).sum
      val nSources = cells.size.toLong
      cells.forall { case (src, grp) =>
        val tokSum = grp.map(_._3.toLong).sum
        val share = tokSum * 1000000L / tokTotal
        val accept =
          if (share == 0) 1000000L
          else math.min(1000000L, 1000000000000L / (nSources * share))
        val t16 = accept * 65536L / 1000000L
        val kept = grp.filter(g => hk16(g._1) < t16)
        got(src) == ((accept, kept.size.toLong, kept.map(_._3.toLong).sum))
      }
    })
  }

  test("q86 decontamination matches a reference incl. sub-5-token documents") {
    import spark.implicits._
    // fixture docs all have >= 5 tokens, so the gram-free branch (short
    // docs -> empty typed array -> survive with n_grams = 0) only gets
    // exercised here
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val corpus: Gen[List[(Long, String)]] = for {
      n <- Gen.chooseNum(2, 25)
      ids <- Gen.pick(n, 0L until 60L)
      rows <- Gen.sequence[List[(Long, String)], (Long, String)](
        ids.toList.map(id => for {
          len <- Gen.chooseNum(1, 9) // 1-4 = below the gram width
          ws <- Gen.listOfN(len, word)
        } yield (id, ws.mkString(" "))))
    } yield rows
    def grams(text: String): Set[String] = {
      val t = text.split(" ")
      if (t.length < 5) Set.empty
      else t.sliding(5).map(_.mkString(" ")).toSet
    }
    check(Prop.forAll(corpus) { rows =>
      val (evalRows, trainRows) = rows.partition(_._1 % 3 == 0)
      if (trainRows.isEmpty) true
      else {
        val toDf = (rs: List[(Long, String)]) => rs.map { case (id, t) =>
          (id, t, "en", "src", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
        val got = graft.ops.Corpus
          .decontaminate(toDf(trainRows), toDf(evalRows), gramN = 5)
          .collect()
          .map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
             r.getAs[Boolean]("contaminated"))).toMap
        val evalGrams = evalRows.flatMap(r => grams(r._2)).toSet
        trainRows.forall { case (id, text) =>
          val g = grams(text)
          val hit = g.count(evalGrams.contains).toLong
          got(id) == ((g.size.toLong, hit, hit * 2 >= g.size && g.nonEmpty))
        }
      }
    })
  }

  test("manifest delta: apply∘diff ≡ identity whenever the publish gate passes") {
    // publish verifies delta eligibility with the TARGETED deltaReproduces
    // gate (O(files) set passes) instead of the full applyDelta rebuild —
    // this property pins the equivalence it rests on: for ANY base and any
    // normalized-shaped successor whose common paths carry identical
    // entries, applying the computed delta reproduces the successor
    // EXACTLY. The negative twin: a changed-in-place entry must fail the
    // gate (the version then publishes full, honestly).
    import graft.ops.Snapshot
    import Snapshot.{FileEntry, Manifest}
    def entry(i: Int): FileEntry =
      FileEntry(f"data/p$i%02d.parquet", i * 10L, i * 10L + 9)
    def sidecars(files: Seq[FileEntry], salt: Long)
        : Map[(String, String), (Long, Long)] =
      files.zipWithIndex.collect {
        case (f, j) if (j + salt) % 3 != 0 =>
          (f.path, if ((j + salt) % 2 == 0) "a" else "b") ->
            (salt + j, salt + j + 5)
      }.toMap
    val cases = for {
      baseIdx <- Gen.nonEmptyListOf(Gen.choose(0, 39)).map(_.distinct)
      keepIdx <- Gen.someOf(baseIdx)
      addIdx  <- Gen.someOf(40 until 52)
      baseSalt <- Gen.choose(0L, 5L)
      mmSalt   <- Gen.choose(0L, 5L)
      dvOn     <- Gen.oneOf(true, false)
    } yield {
      val baseFiles = baseIdx.sorted.map(entry)
      val mmFiles = (keepIdx ++ addIdx).toSeq.sorted.map(entry)
      val base = Manifest(7, "k", baseFiles, note = "base", ts = 1000L,
        colStats = sidecars(baseFiles, baseSalt),
        strStats = baseFiles.headOption.map(f =>
          (f.path, "s") -> ("lo", "hi")).toMap,
        dvs = if (dvOn) baseFiles.headOption.map(f =>
          f.path -> Array(2L, 9L)).toMap else Map.empty,
        checks = Seq(("c1", "k >= 0")), schemaJson = "{}")
      val mm = Manifest(8, "k", mmFiles, note = "next", ts = 1010L,
        colStats = sidecars(mmFiles, mmSalt),
        strStats = mmFiles.lastOption.map(f =>
          (f.path, "s") -> ("aa", "zz")).toMap,
        dvs = if (dvOn) mmFiles.lastOption.map(f =>
          f.path -> Array(1L, 4L)).toMap else Map.empty,
        checks = Seq(("c1", "k >= 0"), ("c2", "k < 99")),
        schemaJson = "{}")
      (base, mm)
    }
    check(Prop.forAll(cases) { case (base, mm) =>
      Snapshot.deltaReproduces(base, mm) &&
        Snapshot.sameState(
          Snapshot.applyDelta(base, Snapshot.diffDelta(base, mm)), mm)
    })
    // negative: an entry changed IN PLACE (same path, new stats — the
    // repartitionAdopted re-derive shape) is not delta-representable
    val b0 = Manifest(1, "k", Vector(entry(3), entry(5)), ts = 1L)
    val m0 = Manifest(2, "k",
      Vector(entry(3), entry(5).copy(max = 999L)), ts = 2L)
    assert(!Snapshot.deltaReproduces(b0, m0),
      "changed-in-place entry must fail the delta gate")
  }

  test("set algebra: (A except B) disjoint from B, subset of A") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(12, Gen.chooseNum(0L, 8L)),
                      Gen.listOfN(12, Gen.chooseNum(0L, 8L))) { (as, bs) =>
      val a = as.toDF("k")
      val b = bs.toDF("k")
      val ex = a.except(b).collect().map(_.getLong(0)).toSet
      ex.intersect(bs.toSet).isEmpty && ex.subsetOf(as.toSet)
    })
  }

  test("Misra-Gries sketch: bounds, heavy-hitter recall, merge invariants") {
    // q29's oracle only sees the exact regime (31-token vocabulary never
    // evicts); this pins the EVICTION regime the sketch exists for:
    // est <= true <= est + dec for every survivor, any item with
    // true > dec is guaranteed present, and a split-stream merge obeys
    // the same bounds (mergeable-summaries contract).
    import graft.expressions.TopK
    val cap = 16
    check(Prop.forAll(Gen.listOfN(3000, Gen.chooseNum(0, 999))) { xs0 =>
      // plant one genuine heavy hitter (~1/3 of the stream) among noise
      val xs = xs0.zipWithIndex
        .map { case (x, i) => if (i % 3 == 0) 7 else x }.map(_.toString)
      val truth = xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      def holds(s: TopK.Summary): Boolean =
        s.counts.forall { case (k, est) =>
          est <= truth(k) && truth(k) <= est + s.dec } &&
        truth.forall { case (k, t) => t <= s.dec || s.counts.contains(k) } &&
        s.counts.size <= cap
      val one = TopK.create(cap)
      xs.foreach(TopK.add(one, _))
      val (l, r) = xs.splitAt(xs.length / 2)
      val sl = TopK.create(cap); l.foreach(TopK.add(sl, _))
      val sr = TopK.create(cap); r.foreach(TopK.add(sr, _))
      val merged = TopK.mergeInto(sl, sr)
      // serialization round-trips the summary exactly
      val rt = TopK.deserialize(TopK.serialize(one))
      holds(one) && holds(merged) &&
        rt.dec == one.dec && rt.counts == one.counts
    })
  }

  test("intervalJoin == naive range join for arbitrary window geometry") {
    // q19's registered query only exercises windows of exactly one bucket
    // width; the reusable operator must hold for windows spanning ZERO to
    // MANY buckets (and drop degenerate hi <= lo windows) — the bucketed
    // rewrite is only an optimization if it's invisible semantically
    import spark.implicits._
    val windows: Gen[List[(Long, Long)]] =
      Gen.listOfN(8, for {
        lo <- Gen.chooseNum(0L, 200L)
        len <- Gen.chooseNum(-5L, 120L) // includes degenerate and 12-bucket spans
      } yield (lo, lo + len))
    val instants: Gen[List[Long]] = Gen.listOfN(30, Gen.chooseNum(0L, 330L))
    check(Prop.forAll(windows, instants) { (ws, ts) =>
      val w = ws.zipWithIndex.map { case ((l, h), i) => (i.toLong, l, h) }
        .toDF("wid", "lo", "hi")
      val p = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("pid", "t")
      val bucketed = graft.ops.Relational.intervalJoin(p, "t", w, "lo", "hi", 10L)
        .select("pid", "wid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val naive = p.join(w, col("t") >= col("lo") && col("t") < col("hi"))
        .select("pid", "wid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      bucketed == naive
    })
  }

  test("BloomSketch: no false negatives for any keys, size, or hash count") {
    // The point-index soundness half: a key ADDED to a sketch must always
    // hit mightContain — for every bit-array size, hash count, and key
    // set (including adversarial near-collisions like consecutive and
    // sign-boundary longs). False POSITIVES are allowed by contract (the
    // residual filter absorbs them); a false negative would silently drop
    // rows from a point lookup. Pure driver-side arithmetic, no jobs.
    import graft.ops.Snapshot.BloomSketch
    val keys = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(-3L, 3L),
      Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)))
    val sizes = Gen.oneOf(64, 128, 1024, 1 << 16)
    val ks = Gen.choose(1, 16)
    check(Prop.forAll(keys, sizes, ks) { (kl, mBits, k) =>
      val bits = new Array[Long](mBits / 64)
      kl.foreach(key => BloomSketch.add(bits, mBits, k, key))
      val sk = BloomSketch(mBits, k, bits)
      kl.forall(sk.mightContain)
    })
    // and an empty sketch contains nothing (absent-key pruning floor)
    val empty = BloomSketch(1 << 10, 6, new Array[Long](16))
    assert(Seq(0L, 1L, -1L, Long.MaxValue, 42L).forall(!empty.mightContain(_)))
  }
}
