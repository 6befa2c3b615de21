package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Snapshot

/** The injected SQL parser's maintenance/DDL verbs
  * ([[graft.plans.GraftSqlParser]] → [[graft.plans
  * .GraftMaintenanceCommands]]): OPTIMIZE [ZORDER BY], VACUUM [RETAIN],
  * DESCRIBE HISTORY, RESTORE TABLE … TO VERSION AS OF, ALTER TABLE
  * ADD COLUMN / ADD CONSTRAINT CHECK / DROP CONSTRAINT — each pinned
  * per verb, plus the delegation contract (unregistered names fall
  * through to Spark's own grammar untouched). */
class SqlLifecycleSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  /** Fresh registered table: `appends` extra single-file commits on top
    * of the initial 10-row load (fragmentation for OPTIMIZE). */
  private def freshRegistered(appends: Int = 0): (String, String) = {
    import spark.implicits._
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val dir = spark.conf.get("spark.sql.warehouse.dir") + s"/graft_sqlv_$sfx"
    val name = s"sqlv_$sfx"
    Snapshot.commit((1L to 10L).map(k => (k, k * 10)).toDF("k", "v"),
      dir, 0, "k", nFiles = 2)
    (1 to appends).foreach { i =>
      val cur = Snapshot.currentVersion(spark, dir)
      val m = Snapshot.manifest(spark, dir, cur)
      Snapshot.commit(Seq((10L + i, (10L + i) * 10)).toDF("k", "v"),
        dir, cur, "k", m.files, nFiles = 1)
    }
    Snapshot.registerSqlTable(spark, name, dir)
    (dir, name)
  }

  test("catalog front door: CREATE TABLE USING graft lifecycle needs " +
    "zero Scala calls, fresh sessions included") {
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val dir = spark.conf.get("spark.sql.warehouse.dir") + s"/graft_cat_$sfx"
    val name = s"cat_$sfx"
    spark.sql(s"CREATE TABLE $name (k BIGINT, v BIGINT) USING graft " +
      s"LOCATION '$dir' OPTIONS (statsCol 'k')")
    try {
      // a zero-version table is legal and EMPTY under its declared schema
      val empty = spark.sql(s"SELECT * FROM $name")
      assert(empty.columns.toSeq == Seq("k", "v"))
      assert(empty.collect().isEmpty)
      // first INSERT lands v1 through the commit protocol, clustered on
      // the declared statsCol
      spark.sql(
        s"INSERT INTO $name SELECT id AS k, id * 10 AS v FROM range(1, 11)")
      assert(Snapshot.currentVersion(spark, dir) == 1)
      assert(Snapshot.manifest(spark, dir, 1).statsCol == "k")
      assert(spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) == 10)
      // second INSERT appends (the table now exists; ordinary landInsert)
      spark.sql(s"INSERT INTO $name VALUES (11, 110)")
      assert(spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) == 11)
      // TIME TRAVEL on the catalog name — no registration anywhere
      assert(spark.sql(s"SELECT count(*) FROM $name VERSION AS OF 1")
        .head.getLong(0) == 10)
      // DML lands through the COW verbs (resolution produced the graft
      // relation from catalog metadata alone)
      spark.sql(s"DELETE FROM $name WHERE k = 11")
      assert(spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) == 10)
      spark.sql(s"UPDATE $name SET v = 0 WHERE k = 1")
      assert(spark.sql(s"SELECT v FROM $name WHERE k = 1")
        .head.getLong(0) == 0L)
      // maintenance verbs resolve the catalog name too
      val hist = spark.sql(s"DESCRIBE HISTORY $name").collect()
      assert(hist.length == Snapshot.currentVersion(spark, dir))
      // a FRESH SESSION sees everything with zero Scala calls — the
      // catalog carries the binding, not the session registry
      val s2 = spark.newSession()
      assert(s2.sql(s"SELECT count(*) FROM $name").head.getLong(0) == 10)
      assert(s2.sql(s"SELECT count(*) FROM $name VERSION AS OF 1")
        .head.getLong(0) == 10)
      s2.sql(s"INSERT INTO $name VALUES (12, 120)")
      assert(s2.sql(s"SELECT count(*) FROM $name").head.getLong(0) == 11)
      // a temp view with the same name shadows the table for reads and
      // is never mistaken for a snapshot by the verb/travel resolvers
      spark.range(3).createOrReplaceTempView(name)
      assert(spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) == 3)
      spark.catalog.dropTempView(name)
      // CTAS: CREATE TABLE ... USING graft AS SELECT lands v1 through
      // the writer front door (CreatableRelationProvider)
      val ctas = s"${name}_ctas"
      try {
        spark.sql(s"CREATE TABLE $ctas USING graft " +
          s"LOCATION '${dir}_ctas' OPTIONS (statsCol 'k') AS " +
          s"SELECT k, v FROM $name WHERE k <= 5")
        assert(spark.sql(s"SELECT count(*) FROM $ctas").head.getLong(0) == 5)
        assert(Snapshot.currentVersion(spark, s"${dir}_ctas") == 1)
      } finally spark.sql(s"DROP TABLE IF EXISTS $ctas")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("SQL OPTIMIZE compacts to a maintenance commit, content intact") {
    val (dir, name) = freshRegistered(appends = 4)
    val before = sorted(Snapshot.read(spark, dir))
    val nBefore = Snapshot.manifest(spark, dir, 5).files.size
    val out = spark.sql(s"OPTIMIZE $name").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(6L), "returns the version")
    val m = Snapshot.manifest(spark, dir, 6)
    assert(m.note == "optimize:compact")
    assert(m.files.size < nBefore, s"${m.files.size} !< $nBefore")
    assert(sorted(Snapshot.read(spark, dir)) == before)
  }

  test("SQL OPTIMIZE ZORDER BY rewrites to the z-clustered layout") {
    val (dir, name) = freshRegistered()
    spark.sql(s"OPTIMIZE $name ZORDER BY (k, v)")
    val m = Snapshot.manifest(spark, dir, 2)
    assert(m.note.startsWith("zorder"), s"note '${m.note}'")
    assert(Snapshot.read(spark, dir).count() == 10)
  }

  test("SQL OPTIMIZE ZORDER BY refuses 1 or 4 columns, version unchanged") {
    val (dir, name) = freshRegistered()
    for (cols <- Seq("k", "k, v, k2, v2")) {
      val e = intercept[IllegalArgumentException](
        spark.sql(s"OPTIMIZE $name ZORDER BY ($cols)").collect())
      assert(e.getMessage.endsWith("ZORDER BY takes 2 or 3 columns, got " +
        s"${cols.split(", ").length}: ($cols)"), e.getMessage)
      assert(Snapshot.currentVersion(spark, dir) == 1)
    }
  }

  test("SQL OPTIMIZE BY VALUE re-clusters to single-valued files; " +
    "GROUP BY over the catalog table goes metadata-only") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val (dir, name) = freshRegistered()
    val before = sorted(Snapshot.read(spark, dir))
    // k % 3 as the clustering value: recluster onto a derived frame via
    // a plain overwrite first, then OPTIMIZE BY VALUE retrofits layout
    val cur = Snapshot.currentVersion(spark, dir)
    Snapshot.commit(Snapshot.read(spark, dir)
        .withColumn("k", col("k") % 3), dir, cur, "k", nFiles = 2)
    val out = spark.sql(s"OPTIMIZE $name BY VALUE").collect()
    val m = Snapshot.manifest(spark, dir, out.head.getLong(0).toInt)
    assert(m.note == "optimize:byvalue")
    assert(m.files.size == 3 && m.files.forall(f => f.min == f.max),
      s"one file per value expected: ${m.files}")
    assert(Snapshot.read(spark, dir).count() == 10)
    // the grouped metadata rewrite through PURE SQL over a catalog
    // table (USING graft names resolve to the relation the rule reads)
    val cat = s"cat_$name"
    spark.sql(s"CREATE TABLE $cat (k BIGINT, v BIGINT) USING graft " +
      s"LOCATION '$dir' OPTIONS (statsCol 'k')")
    try {
      val gq = spark.sql(s"SELECT k, count(*) AS n FROM $cat GROUP BY k")
      val plan = gq.queryExecution.optimizedPlan
      assert(plan.collectFirst { case l: LocalRelation => l }.nonEmpty &&
        plan.collectFirst { case lr: LogicalRelation => lr }.isEmpty,
        s"expected LocalRelation only, got:\n$plan")
      assert(gq.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        Map(0L -> 3L, 1L -> 4L, 2L -> 3L))
      // the round-18 matrix through PURE SQL: grouped count/sum/min/
      // max and a range-windowed mix, all LocalRelation-only on the
      // by-value layout (ground truth from the non-rewriting verb read)
      def localOnly(df: org.apache.spark.sql.DataFrame): Unit = {
        val p = df.queryExecution.optimizedPlan
        assert(p.collectFirst { case l: LocalRelation => l }.nonEmpty &&
          p.collectFirst { case lr: LogicalRelation => lr }.isEmpty,
          s"expected LocalRelation only, got:\n$p")
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      val mq = spark.sql(s"SELECT k, count(*) AS n, count(v) AS nv, " +
        s"sum(v) AS sv, min(v) AS mn, max(v) AS mx FROM $cat GROUP BY k")
      localOnly(mq)
      assert(rows(mq) == rows(Snapshot.read(spark, dir).groupBy("k")
        .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
          sum(col("v")).as("sv"), min(col("v")).as("mn"),
          max(col("v")).as("mx"))))
      val wq = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv, " +
        s"max(v) AS mx FROM $cat WHERE k BETWEEN 1 AND 2")
      localOnly(wq)
      assert(rows(wq) == rows(Snapshot.read(spark, dir)
        .filter(col("k").between(1L, 2L))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          max(col("v")).as("mx"))))
    } finally spark.sql(s"DROP TABLE IF EXISTS $cat")
    // a z-ordered layout refuses the re-cluster
    val (dirZ, nameZ) = freshRegistered()
    spark.sql(s"OPTIMIZE $nameZ ZORDER BY (k, v)")
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE $nameZ BY VALUE").collect()
    }
    assert(e.getMessage.contains("z-ordered"))
    assert(before.size == 10) // the original content was never lost
  }

  test("SQL VACUUM: RETAIN 0 reclaims debris the default grace protects") {
    val (dir, name) = freshRegistered()
    // orphan data dir: crash debris no manifest references
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "data/v99_debris"))
    val kept = spark.sql(s"VACUUM $name").collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(0L),
      "young debris survives the default grace age")
    // DRY RUN: the report names what a grace-free vacuum WOULD take —
    // and takes nothing (q162's verb as a statement)
    val report = spark.sql(s"VACUUM $name RETAIN 0 HOURS DRY RUN").collect()
    val debris = report.filter(_.getString(0) == "v99_debris")
    assert(debris.length == 1 && debris.head.getBoolean(5) &&
      !debris.head.getBoolean(4),
      s"orphan must report reclaimable+not-live: ${report.toSeq}")
    assert(report.filter(_.getBoolean(4)).forall(!_.getBoolean(5)),
      "live dirs are never reclaimable")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "data/v99_debris")),
      "DRY RUN must not reclaim")
    val gone = spark.sql(s"VACUUM $name RETAIN 0 HOURS;").collect()
    assert(gone.map(_.getLong(0)).toSeq == Seq(1L),
      "grace-free vacuum reclaims the orphan")
    assert(Snapshot.read(spark, dir).count() == 10, "live data untouched")
  }

  test("SQL DESCRIBE HISTORY equals Snapshot.history; unregistered delegates") {
    val (dir, name) = freshRegistered(appends = 1)
    val viaSql = spark.sql(s"describe history $name")
    assert(viaSql.schema == Snapshot.history(spark, dir).schema)
    assert(sorted(viaSql) == sorted(Snapshot.history(spark, dir)))
    // unregistered name → Spark's own DESCRIBE path (fails its way,
    // not ours: no IllegalArgumentException about registration)
    val e = intercept[Exception](
      spark.sql("DESCRIBE HISTORY no_such_graft_table").collect())
    assert(!e.getMessage.contains("registerSqlTable"), e.getMessage)
  }

  test("SQL RESTORE TABLE rolls back by metadata, history monotone") {
    val (dir, name) = freshRegistered()
    spark.sql(s"DELETE FROM $name WHERE k >= 6")
    assert(Snapshot.read(spark, dir).count() == 5)
    val out = spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 1").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L))
    assert(Snapshot.read(spark, dir).count() == 10, "restore undid the delete")
    assert(Snapshot.read(spark, dir, 2).count() == 5, "v2 still travelable")
  }

  test("SQL ALTER TABLE ADD COLUMN evolves registered; catalog tables delegate") {
    val (dir, name) = freshRegistered()
    spark.sql(s"ALTER TABLE $name ADD COLUMN tag STRING")
    val df = Snapshot.read(spark, dir)
    assert(df.columns.toSeq == Seq("k", "v", "tag"))
    assert(df.filter(col("tag").isNotNull).count() == 0,
      "pre-evolution rows read as typed NULLs")
    // a real catalog table's ALTER TABLE must reach Spark's own command
    spark.sql("CREATE TABLE graft_alter_probe (a INT) USING parquet")
    try {
      spark.sql("ALTER TABLE graft_alter_probe ADD COLUMNS (b INT)")
      assert(spark.table("graft_alter_probe").columns.toSeq == Seq("a", "b"))
    } finally spark.sql("DROP TABLE graft_alter_probe")
  }

  test("ADD COLUMN accepts parenthesized DDL types; multi-column refuses") {
    // round-14 ADVICE: the lazy [^)]+? type group truncated
    // DECIMAL(10,2) to 'DECIMAL(10,2' and died in fromDDL — the spec
    // drives the fixed split end to end and at the unit seam
    val (dir, name) = freshRegistered()
    spark.sql(s"ALTER TABLE $name ADD COLUMN amt DECIMAL(10,2)")
    val df = Snapshot.read(spark, dir)
    assert(df.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    // wrapped form with a generic type
    spark.sql(s"ALTER TABLE $name ADD COLUMNS (tags ARRAY<STRING>)")
    assert(Snapshot.read(spark, dir).schema("tags").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    // multi-column shape: refused with the clear message, not a
    // mis-captured type error
    val e = intercept[IllegalArgumentException](
      spark.sql(s"ALTER TABLE $name ADD COLUMNS (x INT, y STRING)"))
    assert(e.getMessage.contains("one column per statement"))
    // unit seam: the split itself
    import graft.plans.GraftSqlParser.parseAddColumnSpec
    assert(parseAddColumnSpec("c DECIMAL(10,2)") == ("c", "DECIMAL(10,2)"))
    assert(parseAddColumnSpec("( c  STRUCT<a: INT, b: STRING> )") ==
      ("c", "STRUCT<a: INT, b: STRING>"))
    assert(intercept[IllegalArgumentException](
      parseAddColumnSpec("a INT, b STRING")).getMessage
      .contains("one column per statement"))
    // unbalanced wrapper strip: '(x INT), (y STRING)' strips to
    // 'x INT), (y STRING' whose comma hides at depth -1 — still refused
    assert(intercept[IllegalArgumentException](
      parseAddColumnSpec("(x INT), (y STRING)")).getMessage
      .contains("one column per statement"))
  }

  test("SQL ADD/DROP CONSTRAINT gate commits through the writer") {
    import spark.implicits._
    val (dir, name) = freshRegistered()
    spark.sql(s"ALTER TABLE $name ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert(Snapshot.manifest(spark, dir, 2).checks ==
      Seq("v_pos" -> "v > 0"))
    val bad = Seq((99L, -1L)).toDF("k", "v")
    val e = intercept[Snapshot.CheckViolation](
      bad.write.format("graft").mode("append").save(dir))
    assert(e.counts == Map("v_pos" -> 1L))
    assert(Snapshot.currentVersion(spark, dir) == 2, "rejection atomic")
    spark.sql(s"ALTER TABLE $name DROP CONSTRAINT v_pos")
    bad.write.format("graft").mode("append").save(dir)
    assert(Snapshot.read(spark, dir).count() == 11)
  }

  test("SQL DESCRIBE DETAIL reports the manifest's shape") {
    import spark.implicits._
    val (dir, name) = freshRegistered(appends = 1)
    spark.sql(s"ALTER TABLE $name ADD CONSTRAINT v_pos CHECK (v > 0)")
    val row = spark.sql(s"DESCRIBE DETAIL $name").head()
    assert(row.getLong(0) == 3L, "version")
    assert(row.getString(1) == "k", "stats_col")
    val m = Snapshot.manifest(spark, dir, 3)
    assert(row.getLong(2) == m.files.size.toLong, "n_files")
    assert(row.getLong(3) == m.files.map(f =>
      Snapshot.entryLen(spark, dir, f.path)).sum, "bytes")
    assert(row.getLong(4) == 1L && row.getLong(5) == 0L)
    assert(row.getString(6) == "constraint:add:v_pos")
    // unregistered names delegate to Spark's own DESCRIBE machinery
    val e = intercept[Exception](
      spark.sql("DESCRIBE DETAIL no_such_graft_table").collect())
    assert(!e.getMessage.contains("registerSqlTable"), e.getMessage)
  }

  test("writer option rebase=true appends by commit-retry") {
    import spark.implicits._
    val (dir, _) = freshRegistered()
    // racing rebase appends: all land, one version each, union content
    val threads = Seq((21L, 25L), (31L, 35L), (41L, 45L)).map {
      case (lo, hi) =>
        new Thread(() =>
          (lo to hi).map(k => (k, k * 10)).toDF("k", "v")
            .write.format("graft").option("rebase", "true")
            .mode("append").save(dir))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshot.currentVersion(spark, dir) == 4)
    assert(Snapshot.read(spark, dir).count() == 25)
  }

  test("non-maintenance SQL is untouched by the parser") {
    val (_, name) = freshRegistered()
    // ordinary statements still parse and run through the delegate
    assert(spark.sql(s"SELECT count(*) AS n FROM $name")
      .head().getLong(0) == 10L)
    assert(spark.sql("SELECT 'OPTIMIZE' AS w").head().getString(0) ==
      "OPTIMIZE", "keyword inside a query is not a statement")
  }
}
