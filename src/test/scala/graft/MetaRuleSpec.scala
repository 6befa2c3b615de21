package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.ops.Snapshot

/** The metadata-aggregate rule ([[graft.plans.MetadataOnlyCountRule]])
  * against the plain plan: every shape it serves must give the rows the
  * same query gives with the rule excluded through Spark's own
  * `spark.sql.optimizer.excludedRules`. */
class MetaRuleSpec extends SparkSpec {

  private val Rule = "graft.plans.MetadataOnlyCountRule"

  private def withRuleOff[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", Rule)
    try body
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def fresh(tag: String): String =
    spark.conf.get("spark.sql.warehouse.dir") + s"/meta_rule_${tag}_" +
      java.util.UUID.randomUUID().toString.take(8)

  private def hasLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .collectFirst { case l: LocalRelation => l }.nonEmpty

  /** Rows in a canonical order, doubles kept for a tolerant compare. */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        // the scan's running variance is order-dependent in the last
        // ulp; the stamped answer is exact to one rounding
        case (p: Double, q: Double) =>
          p == q || math.abs(p - q) <= 1e-12 * math.max(math.abs(p),
            math.abs(q))
        case (p, q) => p == q
      }
    }

  test("a contradictory window answers count(col) as 0, not NULL") {
    import spark.implicits._
    val dir = fresh("contra")
    // four files clustered on k, v nullable (the last file all-NULL)
    Seq((1 to 10, (k: Int) => Some(k.toLong)),
      (11 to 20, (k: Int) => if (k % 2 == 0) None else Some(k.toLong)),
      (21 to 30, (k: Int) => Some(2L * k)),
      (31 to 40, (_: Int) => Option.empty[Long])).zipWithIndex.foreach {
      case ((ks, v), i) =>
        val carried =
          if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
        Snapshot.commit(ks.map(k => (k.toLong, v(k))).toDF("k", "v"),
          dir, i, "k", carried, nFiles = 1)
    }
    val q = spark.read.format("graft").load(dir)
      .filter(col("k") > 30 && col("k") < 10)
      .agg(count(col("v")).as("c"), expr("count(v) + 1").as("c1"),
        expr("count(v) = 0").as("z"),
        expr("concat('c=', cast(count(v) AS string))").as("s"))
    assert(hasLocal(q),
      s"contradiction must answer from the predicate alone:\n" +
        q.queryExecution.optimizedPlan)
    assert(q.collect().toSeq == Seq(Row(0L, 1L, true, "c=0")))
    assert(withRuleOff(q.collect().toSeq) == Seq(Row(0L, 1L, true, "c=0")))
  }

  test("differential: metadata aggregates equal the plain plan across " +
    "groupings, windows and outputs") {
    import spark.implicits._
    val dir = fresh("diff")
    // clustered on k; g a sidecar column, single-valued per file.
    // f1..f3 single-valued k (f3 all-NULL v), f4 single-valued k with
    // NULL keys, f5 a k range that takes a deletion vector below
    val files: Seq[Seq[(Option[Long], Long, Option[Long])]] = Seq(
      (1 to 10).map(i => (Some(1L), 1L, Some(3L * i))),
      (1 to 10).map(i => (Some(2L), 2L,
        if (i % 4 == 0) None else Some(i.toLong - 3))),
      (1 to 10).map(_ => (Some(3L), 3L, None)),
      (1 to 10).map(i => (if (i % 3 == 0) None else Some(4L), 4L,
        Some(100L + i))),
      (5 to 9).flatMap(k => Seq(1, 2).map(j =>
        (Some(k.toLong), 5L, Some(k * 7L - j)))))
    files.zipWithIndex.foreach { case (rows, i) =>
      val carried =
        if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(rows.toDF("k", "g", "v"), dir, i, "k", carried,
        nFiles = 1)
    }
    Snapshot.deleteWhereDV(spark, dir, 7L, 7L)
    val m = Snapshot.manifest(spark, dir, Snapshot.currentVersion(spark, dir))
    assert(m.files.size == 5 && m.dvs.size == 1,
      s"fixture: 5 files, one DV'd: ${m.files.map(_.path)} ${m.dvs.keySet}")

    val windows: Seq[(String, Option[Column])] = Seq(
      "unfiltered" -> None,
      "inside" -> Some(col("k") >= 1 && col("k") <= 3),
      "straddling" -> Some(col("k") >= 2 && col("k") <= 6),
      "contradictory" -> Some(col("k") > 30 && col("k") < 10))
    val outputs: Seq[(String, Column)] = Seq(
      "count(*)" -> count(lit(1)).as("o"),
      "count(v)" -> count(col("v")).as("o"),
      "sum" -> sum(col("v")).as("o"),
      "min" -> min(col("v")).as("o"),
      "max" -> max(col("v")).as("o"),
      "avg" -> avg(col("v")).as("o"),
      "var_samp" -> var_samp(col("v")).as("o"),
      "literal" -> lit("x").as("o"),
      "sum(v) * 2" -> (sum(col("v")) * 2).as("o"))
    val all = "all" -> outputs.zipWithIndex.map { case ((_, c), i) =>
      c.as(s"o$i") }
    val sets = outputs.map { case (n, c) => n -> Seq(c) } :+ all
    def front = spark.read.format("graft").load(dir)
    def query(key: Option[String], w: Option[Column],
        outs: Seq[Column]): DataFrame = {
      val base = w.fold(front)(front.filter)
      key match {
        case None => base.agg(outs.head, outs.tail: _*)
        case Some(k) => base.groupBy(col(k)).agg(outs.head, outs.tail: _*)
      }
    }
    val failures = Seq.newBuilder[String]
    var compared = 0
    def check(label: String, expectLocal: Boolean)(q: => DataFrame): Unit = {
      val on = q
      val off = withRuleOff(rowsOf(q))
      compared += 1
      if (!sameRows(rowsOf(on), off))
        failures += s"$label: rule on ${rowsOf(on)} != rule off $off"
      if (expectLocal && !hasLocal(on))
        failures += s"$label: no LocalRelation in\n" +
          on.queryExecution.optimizedPlan
    }
    for ((wName, w) <- windows; (sName, outs) <- sets) {
      // a straddling count(*) alone is rewrite #2: a restricted
      // boundary scan plus a stamped constant, with no LocalRelation;
      // a windowed global literal alone has no aggregate to serve
      check(s"global/$wName/$sName",
        expectLocal = !(sName == "count(*)" && wName == "straddling") &&
          !(sName == "literal" && w.nonEmpty))(
        query(None, w, outs))
      check(s"by k/$wName/$sName", expectLocal = true)(
        query(Some("k"), w, outs))
      // a window composes only with the clustering key: grouped by the
      // sidecar g the rule declines, and the answers still agree
      check(s"by g/$wName/$sName", expectLocal = w.isEmpty)(
        query(Some("g"), w, outs))
    }
    for ((wName, w) <- windows)
      check(s"by k/$wName/count(*) * 2", expectLocal = true)(
        query(Some("k"), w, Seq((count(lit(1)) * 2).as("o"))))
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size} of $compared shapes:\n" +
      fs.mkString("\n"))
  }
}
