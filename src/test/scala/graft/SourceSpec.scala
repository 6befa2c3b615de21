package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{Snapshot, Warehouse}
import graft.sources.SourcePruning

/** The registered data sources: `format("graft")` batch reads (time
  * travel options, pushed-filter file pruning, column pruning) and
  * `format("graft-cdf")` streaming (version offsets, maintenance
  * skipping, checkpoint restart). */
class SourceSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  // ------------------------------------------------------------- batch

  test("format(graft) latest read equals Snapshot.read") {
    val dir = Warehouse.snapOrders(spark, sf)
    val viaSource = spark.read.format("graft").load(dir)
    assert(sorted(viaSource) == sorted(Snapshot.read(spark, dir)))
  }

  test("format(graft) versionAsOf reads each version's own state") {
    val dir = Warehouse.snapOrders(spark, sf)
    (1 to 2).foreach { v =>
      val viaSource = spark.read.format("graft")
        .option("versionAsOf", v.toString).load(dir)
      assert(sorted(viaSource) == sorted(Snapshot.read(spark, dir, v)),
        s"v$v mismatch")
    }
    // v1 has no verdict churn yet: every row is the initial 'K'
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(v1.filter(col("verdict") =!= "K").count() == 0)
  }

  test("format(graft) timestampAsOf resolves through the commit clock") {
    val dir = Warehouse.snapOrders(spark, sf)
    val cur = Snapshot.currentVersion(spark, dir)
    // any instant at/after the last commit resolves to the latest version
    val now = spark.read.format("graft")
      .option("timestampAsOf", System.currentTimeMillis().toString).load(dir)
    assert(sorted(now) == sorted(Snapshot.read(spark, dir, cur)))
    // the JDBC-timestamp spelling parses too (far future → latest)
    val far = spark.read.format("graft")
      .option("timestampAsOf", "2999-01-01 00:00:00").load(dir)
    assert(far.count() == Snapshot.read(spark, dir, cur).count())
  }

  test("pushed range filter prunes files at planning, answer unchanged") {
    val dir = Warehouse.snapOrders(spark, sf)
    val m = Snapshot.manifest(spark, dir, 2)
    // key range on the clustering column: candidacy is manifest
    // arithmetic — strictly fewer files than the table holds
    val fs = Seq(GreaterThanOrEqual("order_key", 200L),
      LessThanOrEqual("order_key", 399L))
    val cand = SourcePruning.candidates(m, fs)
    assert(cand.nonEmpty && cand.size < m.files.size,
      s"expected a proper subset, got ${cand.size}/${m.files.size}")
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("order_key").between(200L, 399L))
    val direct = Snapshot.read(spark, dir)
      .filter(col("order_key").between(200L, 399L))
    assert(sorted(viaSource) == sorted(direct))
  }

  test("front door resolves column mapping; pushed filters prune through it") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_srcspec_map_" + java.util.UUID.randomUUID().toString.take(8)
    (1L to 100L).map(k => (k, k * 2, if (k % 2 == 0) "e" else "o"))
      .toDF("k", "v", "par").write.format("graft")
      .option("statsCol", "k").option("nFiles", "4").save(dir)
    Snapshot.renameColumn(spark, dir, "k", "id")
    Snapshot.dropColumn(spark, dir, "par")
    // the relation speaks logical names
    val rel = spark.read.format("graft").load(dir)
    assert(rel.columns.toSeq == Seq("id", "v"))
    // a pushed range on the RENAMED clustering column still prunes: the
    // candidacy gate translates id → k before consulting file stats
    val m = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    val cand = SourcePruning.candidates(m,
      Seq(GreaterThanOrEqual("id", 10L), LessThanOrEqual("id", 20L)))
    assert(cand.size < m.files.size,
      s"renamed-key range must prune: ${cand.size}/${m.files.size}")
    assert(rel.filter(col("id").between(10L, 20L)).count() == 11)
    // SQL through a registered name sees the mapped schema too
    Snapshot.registerSqlTable(spark, "srcspec_map", dir)
    assert(spark.sql("SELECT sum(v) FROM srcspec_map WHERE id <= 3")
      .head.getLong(0) == 2L + 4 + 6)
  }

  test("pushed point filter consults bloom sidecars; absent key plans zero files") {
    val dir = Warehouse.bloomOrders(spark, sf)
    val m = Snapshot.manifest(spark, dir, Snapshot.currentVersion(spark, dir))
    // the table is clustered on cust_key, so order_key ranges prune
    // nothing — only the bloom sidecars can narrow a point probe
    val present = SourcePruning.candidates(m, Seq(EqualTo("order_key", 137L)))
    assert(present.nonEmpty && present.size < m.files.size,
      s"bloom should narrow the probe, got ${present.size}/${m.files.size}")
    val absent = SourcePruning.candidates(m,
      Seq(EqualTo("order_key", 2000000L)))
    assert(absent.isEmpty, "absent key must plan zero files")
    // end to end: the empty-candidates path still answers (zero rows)
    assert(spark.read.format("graft").load(dir)
      .filter(col("order_key") === 2000000L).count() == 0)
    // IN probes: same keys as q132, same answer as the direct route
    val keys = Warehouse.bloomProbeKeys
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("order_key").isin(keys: _*))
    val direct = Snapshot.readPoints(spark, dir, "order_key", keys)
    assert(sorted(viaSource) == sorted(direct))
  }

  test("contradictory conjunction plans zero files without scanning") {
    val dir = Warehouse.snapOrders(spark, sf)
    val m = Snapshot.manifest(spark, dir, 2)
    val cand = SourcePruning.candidates(m,
      Seq(GreaterThanOrEqual("order_key", 500L),
        LessThanOrEqual("order_key", 100L)))
    assert(cand.isEmpty)
  }

  test("unrecognized filter shapes prune nothing (conservative)") {
    val dir = Warehouse.snapOrders(spark, sf)
    val m = Snapshot.manifest(spark, dir, 2)
    // string equality and a mixed-type IN are not integral constraints
    val cand = SourcePruning.candidates(m,
      Seq(EqualTo("status", "F"), In("order_key", Array[Any](1L, "x"))))
    assert(cand.size == m.files.size)
  }

  test("column pruning and count(*) honor the requiredColumns contract") {
    val dir = Warehouse.snapOrders(spark, sf)
    val one = spark.read.format("graft").load(dir).select(col("status"))
    assert(one.columns.toSeq == Seq("status"))
    assert(one.distinct().count() > 0)
    assert(spark.read.format("graft").load(dir).count() ==
      Snapshot.read(spark, dir).count())
  }

  test("format(graft) write: modes are transactional verbs") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_srcspec_w_" + java.util.UUID.randomUUID().toString.take(8)
    val v1df = (1L to 10L).map(k => (k, k * 2)).toDF("k", "v")
    // default ErrorIfExists creates v1 (statsCol names the clustering)
    v1df.write.format("graft").option("statsCol", "k")
      .option("nFiles", "2").save(dir)
    val m1 = Snapshot.manifest(spark, dir, 1)
    assert(m1.statsCol == "k" && m1.files.size == 2)
    // ... and refuses a second create
    intercept[IllegalStateException] {
      v1df.write.format("graft").save(dir)
    }
    // Ignore is a no-op on an existing table
    v1df.write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Ignore).save(dir)
    assert(Snapshot.currentVersion(spark, dir) == 1)
    // Append commits a version CARRYING v1's files by reference
    Seq((11L, 22L)).toDF("k", "v").write.format("graft")
      .mode("append").save(dir)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m1.files.map(_.path).toSet.subsetOf(m2.files.map(_.path).toSet))
    assert(spark.read.format("graft").load(dir).count() == 11)
    // Overwrite is a new FULL state, not an erasure: v2 stays travelable
    Seq((1L, 5L)).toDF("k", "v").write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 1)
    assert(spark.read.format("graft").option("versionAsOf", "2")
      .load(dir).count() == 11)
  }

  test("SQL INSERT INTO / OVERWRITE land as transactional commits") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_srcspec_i_" + java.util.UUID.randomUUID().toString.take(8)
    (1L to 5L).map(k => (k, k * 2)).toDF("k", "v").write.format("graft")
      .option("statsCol", "k").save(dir)
    Snapshot.registerSqlTable(spark, "srcspec_ins", dir)
    // positional VALUES append → v2 carries v1's files
    spark.sql("INSERT INTO srcspec_ins VALUES (6, 12), (7, 14)")
    assert(Snapshot.currentVersion(spark, dir) == 2)
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m1.files.map(_.path).toSet.subsetOf(m2.files.map(_.path).toSet))
    assert(spark.sql("SELECT count(*) FROM srcspec_ins").head.getLong(0) == 7)
    // explicit column list reorders; INSERT ... SELECT works
    spark.sql("INSERT INTO srcspec_ins (v, k) SELECT 16L, 8L")
    assert(spark.sql("SELECT v FROM srcspec_ins WHERE k = 8")
      .head.getLong(0) == 16L)
    // a partial column list is refused (no default-filling half a row)
    val e = intercept[IllegalArgumentException] {
      spark.sql("INSERT INTO srcspec_ins (k) SELECT 9L")
    }
    assert(e.getMessage.contains("every"))
    // INSERT OVERWRITE is a new full state; history stays travelable
    spark.sql("INSERT OVERWRITE srcspec_ins VALUES (100, 200)")
    assert(spark.sql("SELECT count(*) FROM srcspec_ins").head.getLong(0) == 1)
    assert(spark.sql(
      "SELECT count(*) FROM srcspec_ins VERSION AS OF 3")
      .head.getLong(0) == 8)
    // EXPLAIN must stay side-effect free (insert runs at execution only)
    val before = Snapshot.currentVersion(spark, dir)
    spark.sql("EXPLAIN INSERT INTO srcspec_ins VALUES (101, 202)").collect()
    assert(Snapshot.currentVersion(spark, dir) == before)
  }

  test("graft-cdf maxVersionsPerTrigger bounds each batch's commit span") {
    import spark.implicits._
    val dir = freshTable()
    // three more full-state commits → versions 2, 3, 4
    (2 to 4).foreach { v =>
      Snapshot.commit((1L to 10L).map(k => (k, k * 10 + v)).toDF("k", "v"),
        dir, v - 1, "k")
    }
    var batchVersions = List.empty[Seq[Long]]
    val q = spark.readStream.format("graft-cdf")
      .option("keyCol", "k").option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        batchVersions ::= b.collect().toSeq
          .map(_.getLong(3)).distinct.sorted
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the drain still completes, but as three bounded batches, each
    // spanning exactly one commit
    assert(batchVersions.reverse == List(Seq(2L), Seq(3L), Seq(4L)))
  }

  test("SQL DELETE and UPDATE land as narrow COW commits") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_srcspec_d_" + java.util.UUID.randomUUID().toString.take(8)
    (1L to 100L).map(k => (k, k * 2, if (k % 2 == 0) "e" else "o"))
      .toDF("k", "v", "par").write.format("graft")
      .option("statsCol", "k").option("nFiles", "4").save(dir)
    Snapshot.registerSqlTable(spark, "srcspec_dml", dir)
    // EXPLAIN is side-effect free for both verbs
    spark.sql("EXPLAIN DELETE FROM srcspec_dml WHERE k = 1").collect()
    spark.sql("EXPLAIN UPDATE srcspec_dml SET v = 0 WHERE k = 1").collect()
    assert(Snapshot.currentVersion(spark, dir) == 1)
    // keyed DELETE: bounds extracted from the WHERE clause → only the
    // stats-overlapping file rewrites, the other three carry by path
    val del = spark.sql(
      "DELETE FROM srcspec_dml WHERE k >= 10 AND k <= 20 AND par = 'e'")
    assert(del.columns.toSeq == Seq("version") && del.head.getLong(0) == 2L)
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m1.files.map(_.path).toSet.intersect(
      m2.files.map(_.path).toSet).size == 3,
      "exactly one of four files should rewrite for a narrow key range")
    assert(spark.sql("SELECT count(*) FROM srcspec_dml").head.getLong(0)
      == 100 - 6) // even keys in [10,20]: 10,12,14,16,18,20
    // NULL-predicate rows are kept (SQL DELETE three-valued logic)
    spark.sql("INSERT INTO srcspec_dml VALUES (200, 1, NULL)")
    spark.sql("DELETE FROM srcspec_dml WHERE k >= 200 AND par = 'x'")
    assert(spark.sql("SELECT count(*) FROM srcspec_dml WHERE k = 200")
      .head.getLong(0) == 1)
    // UPDATE: SET expressions see the OLD row; condition bounds narrow
    // the rewrite; history stays travelable across every verb
    spark.sql("UPDATE srcspec_dml SET v = v + 1000 WHERE k >= 30 AND k < 33")
    assert(spark.sql(
      "SELECT sum(v) FROM srcspec_dml WHERE k BETWEEN 30 AND 32")
      .head.getLong(0) == (60L + 62 + 64) + 3000)
    assert(spark.sql(
      "SELECT count(*) FROM srcspec_dml VERSION AS OF 1").head.getLong(0)
      == 100)
  }

  test("spark.graft.deletionVectors routes SQL DML through merge-on-read") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_srcspec_dv_" + java.util.UUID.randomUUID().toString.take(8)
    (1L to 100L).map(k => (k, k * 2, if (k % 2 == 0) "e" else "o"))
      .toDF("k", "v", "par").write.format("graft")
      .option("statsCol", "k").option("nFiles", "4").save(dir)
    Snapshot.registerSqlTable(spark, "srcspec_dv", dir)
    spark.conf.set("spark.graft.deletionVectors", "true")
    try {
      // DELETE: zero data movement — identical file set, vector only
      spark.sql("DELETE FROM srcspec_dv WHERE k >= 10 AND k <= 20 AND par = 'e'")
      val m1 = Snapshot.manifest(spark, dir, 1)
      val m2 = Snapshot.manifest(spark, dir, 2)
      assert(m2.files.map(_.path) == m1.files.map(_.path),
        "a DV-routed SQL DELETE must not write or drop any data file")
      assert(m2.dvs.values.map(_.length).sum == 6)
      assert(spark.sql("SELECT count(*) FROM srcspec_dv").head.getLong(0)
        == 94)
      // UPDATE: masked + appended, answer identical to the COW verb
      spark.sql("UPDATE srcspec_dv SET v = v + 1000 WHERE k >= 30 AND k < 33")
      val m3 = Snapshot.manifest(spark, dir, 3)
      assert(m3.files.size == m2.files.size + 1 &&
        m3.dvs.values.map(_.length).sum == 6 + 3)
      assert(spark.sql(
        "SELECT sum(v) FROM srcspec_dv WHERE k BETWEEN 30 AND 32")
        .head.getLong(0) == (60L + 62 + 64) + 3000)
      // the switch is per statement: off → the same verb goes COW
      spark.conf.set("spark.graft.deletionVectors", "false")
      spark.sql("DELETE FROM srcspec_dv WHERE k >= 40 AND k <= 45")
      val m4 = Snapshot.manifest(spark, dir, 4)
      assert(m4.files.map(_.path).toSet != m3.files.map(_.path).toSet,
        "with the conf off the delete must rewrite files again")
      assert(spark.sql("SELECT count(*) FROM srcspec_dv").head.getLong(0)
        == 94 - 6)
    } finally spark.conf.unset("spark.graft.deletionVectors")
  }

  test("SQL MERGE INTO runs all three clause classes as one COW commit") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_srcspec_m_" + java.util.UUID.randomUUID().toString.take(8)
    (1L to 8L).map(k => (k, k * 10, "K")).toDF("k", "v", "tag")
      .write.format("graft").option("statsCol", "k")
      .option("nFiles", "4").save(dir)
    Snapshot.registerSqlTable(spark, "srcspec_mrg", dir)
    // source: k=2 update, k=3 delete, k=20 insert; k (same name both
    // sides) exercises the attribute-identity disambiguation
    Seq((2L, 999L, "U"), (3L, 0L, "D"), (20L, 200L, "I"))
      .toDF("k", "nv", "op").createOrReplaceTempView("mrg_src")
    spark.sql("EXPLAIN MERGE INTO srcspec_mrg t USING mrg_src s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE").collect()
    assert(Snapshot.currentVersion(spark, dir) == 1, "EXPLAIN must not merge")
    val res = spark.sql("""
      MERGE INTO srcspec_mrg t USING mrg_src s ON t.k = s.k
      WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.nv, tag = 'U'
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN NOT MATCHED AND s.op = 'I' THEN
        INSERT (k, v, tag) VALUES (s.k, s.nv, 'I')""")
    assert(res.head.getLong(0) == 2L)
    val after = Snapshot.read(spark, dir).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(after == Seq((1L, 10L, "K"), (2L, 999L, "U"), (4L, 40L, "K"),
      (5L, 50L, "K"), (6L, 60L, "K"), (7L, 70L, "K"), (8L, 80L, "K"),
      (20L, 200L, "I")))
    // COW: the key range {2,3,20} touches a strict subset of the 4 files
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    val carried = m1.files.map(_.path).toSet
      .intersect(m2.files.map(_.path).toSet)
    assert(carried.nonEmpty && carried.size < m1.files.size)
    // NOT MATCHED BY SOURCE: tag rows the source never mentioned
    spark.sql("""
      MERGE INTO srcspec_mrg t USING mrg_src s ON t.k = s.k
      WHEN NOT MATCHED BY SOURCE AND t.k >= 7 THEN UPDATE SET tag = 'X'""")
    // k=20 was inserted by the first merge, so the source row k=20 now
    // MATCHES it — only 7 and 8 are target-only rows past the condition
    assert(Snapshot.read(spark, dir).filter(col("tag") === "X")
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(7L, 8L))
    // history from before each merge stays travelable
    assert(spark.sql("SELECT count(*) FROM srcspec_mrg VERSION AS OF 1")
      .head.getLong(0) == 8)
  }

  test("format(graft) write refuses a z-ordered current version") {
    import spark.implicits._
    val dir = Warehouse.zOrders(spark, sf)
    val e = intercept[IllegalArgumentException] {
      Seq((1L, 2L)).toDF("o_custkey", "dday").write.format("graft")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("z-ordered"))
  }

  // --------------------------------------------------------- streaming

  /** A tiny controlled table: v1 = keys 1..10, then full-state commits
    * that update key 3, insert 11, delete 7. */
  private def freshTable(): String = {
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_srcspec_" + java.util.UUID.randomUUID().toString.take(8)
    import spark.implicits._
    val v1 = (1L to 10L).map(k => (k, k * 10)).toDF("k", "v")
    Snapshot.commit(v1, dir, 0, "k")
    dir
  }

  private def stateAfter(dir: String): DataFrame = {
    import spark.implicits._
    ((1L to 10L).filterNot(_ == 7L).map(k => (k, if (k == 3) 999L else k * 10))
      :+ (11L, 110L)).toDF("k", "v")
  }

  private def drain(dir: String, ckpt: String,
                    sink: scala.collection.mutable.Buffer[Row]): Unit = {
    val q = spark.readStream.format("graft-cdf")
      .option("keyCol", "k").option("startingVersion", "1").load(dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        sink ++= b.collect(); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("graft-cdf streams a DV-only delete as exactly its masked D rows") {
    val dir = freshTable()
    // merge-on-read delete: no file changes hands — only the vector.
    // Without the DV-aware shared-file key the diff would be EMPTY.
    Snapshot.deleteWhereDV(spark, dir, 3L, 5L)
    val ckpt = dir + "_ckpt_dv"
    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    drain(dir, ckpt, got)
    assert(got.size == 3 && got.forall(_.getString(1) == "D"))
    assert(got.map(_.getLong(0)).toSet == Set(3L, 4L, 5L))
    assert(got.forall(_.getLong(3) == 2L), "attribution to the DV commit")
  }

  test("graft-cdf streams per-commit diffs with version attribution") {
    val dir = freshTable()
    Snapshot.commit(stateAfter(dir), dir, 1, "k")
    val ckpt = dir + "_ckpt"
    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    drain(dir, ckpt, got)
    val byKey = got.map(r => r.getLong(0) -> (r.getString(1), r.getLong(3)))
      .toMap
    assert(got.forall(_.getLong(3) == 2L), "all changes attribute to v2")
    assert(byKey(3L)._1 == "U" && byKey(11L)._1 == "I" &&
      byKey(7L)._1 == "D")
    assert(got.size == 3)
  }

  test("readChangeFeed serves the change feed as a batch read") {
    val dir = freshTable()
    Thread.sleep(5) // distinct commit clocks for the timestamp spelling
    Snapshot.commit(stateAfter(dir), dir, 1, "k")
    // maintenance inside the span: skipped by arithmetic, feeds nothing
    Snapshot.compactVersion(spark, dir, Long.MaxValue)
    def changes(opts: (String, String)*): Seq[Row] = {
      val r = spark.read.format("graft").option("readChangeFeed", "true")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }
        .load(dir).collect().toSeq
    }
    // startingVersion is INCLUSIVE (Delta's contract): =2 feeds
    // exactly v2's own changes
    val got = changes("startingVersion" -> "2")
    assert(got.forall(_.getLong(3) == 2L),
      "startingVersion=2 feeds v2's changes and nothing else")
    val byKey = got.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey == Map(3L -> "U", 7L -> "D", 11L -> "I"))
    // an explicit span re-serves byte-identical rows (immutable
    // manifests)
    assert(changes("startingVersion" -> "2", "endingVersion" -> "2")
      .map(_.getLong(0)).sorted == got.map(_.getLong(0)).sorted)
    // the full history is an EXPLICIT ask (startingVersion=1 — v1's
    // loads feed as inserts); an unbounded read refuses loudly rather
    // than defaulting to a table-scale replay (Delta's contract)
    val full = changes("startingVersion" -> "1")
    assert(full.count(_.getLong(3) == 1L) == 10, "v1 feeds its loads")
    val noStart = intercept[IllegalArgumentException] { changes() }
    assert(noStart.getMessage.contains("startingVersion"))
    // a start past the head is a legal empty frame with the feed schema
    val empty = changes("startingVersion" -> "3")
    assert(empty.isEmpty)
    // startingTimestamp feeds commits AT or AFTER the instant: v1's
    // own commit instant includes v1 (inclusive, Delta's contract),
    // an instant strictly between v1 and v2 feeds v2 only
    val t1 = Snapshot.manifest(spark, dir, 1).ts
    assert(changes("startingTimestamp" -> t1.toString)
      .map(_.getLong(0)).sorted == full.map(_.getLong(0)).sorted,
      "startingTimestamp at v1's instant must include v1")
    assert(changes("startingTimestamp" -> (t1 + 1).toString)
      .map(_.getLong(0)).sorted == got.map(_.getLong(0)).sorted,
      "an instant after v1's commit must feed v2 only")
    // time travel does not compose — loud refusal
    val e = intercept[IllegalArgumentException] {
      changes("versionAsOf" -> "1", "startingVersion" -> "1")
    }
    assert(e.getMessage.contains("startingVersion"))
  }

  test("graft-cdf skips maintenance commits and recovers from checkpoint") {
    val dir = freshTable()
    Snapshot.commit(stateAfter(dir), dir, 1, "k")
    val ckpt = dir + "_ckpt"
    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    drain(dir, ckpt, got)
    assert(got.size == 3)
    // a maintenance rewrite advances the offset with NO feed rows
    Snapshot.compactVersion(spark, dir, 128L << 20)
    got.clear()
    drain(dir, ckpt, got)
    assert(got.isEmpty, "maintenance commit must not feed")
    // a real change after restart feeds exactly its own diff, stamped
    // with its version (v4) — the checkpointed offset carried across
    // three separate query incarnations
    val next = stateAfter(dir).withColumn("v",
      when(col("k") === 11L, 111L).otherwise(col("v")))
    Snapshot.commit(next, dir, 3, "k")
    got.clear()
    drain(dir, ckpt, got)
    assert(got.size == 1 && got.head.getLong(0) == 11L &&
      got.head.getString(1) == "U" && got.head.getLong(3) == 4L)
  }

  test("relation reports honest sizeInBytes so small tables broadcast") {
    val dir = Warehouse.snapOrders(spark, sf)
    val m = Snapshot.manifest(spark, dir, 2)
    val expected = m.files.map(f =>
      Snapshot.entryLen(spark, dir, f.path)).sum
    val stats = spark.read.format("graft").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(stats == BigInt(expected),
      s"stats $stats != manifest bytes $expected")
    // well under the 10 MB broadcast threshold at this fixture scale —
    // the join side a default-sized relation would never broadcast
    assert(expected > 0 && expected < (10L << 20))
  }

  test("graft-cdf startingTimestamp resolves the base via the commit clock") {
    val dir = freshTable()
    Thread.sleep(5) // distinct commit clocks (epoch-ms granularity)
    Snapshot.commit(stateAfter(dir), dir, 1, "k")
    // v1's commit instant → base v1 → the v2 diff feeds (3 changes)
    val t1 = Snapshot.manifest(spark, dir, 1).ts
    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = spark.readStream.format("graft-cdf")
      .option("keyCol", "k").option("startingTimestamp", t1.toString)
      .load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        got ++= b.collect(); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(got.size == 3 && got.forall(_.getLong(3) == 2L))
  }

  test("graft-cdf startingVersion replays history from the chosen base") {
    val dir = freshTable()
    Snapshot.commit(stateAfter(dir), dir, 1, "k")
    // no checkpoint, fresh consumer: everything after v1 arrives in one
    // batch even though the commits predate the stream
    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    drain(dir, dir + "_ckpt2", got)
    assert(got.size == 3)
  }

  // ---------------------------------------------------- streaming sink

  /** Drain `stage` into the graft table at `dir` through the registered
    * sink, one file per micro-batch. */
  private def drainSink(stage: String, dir: String, ckpt: String): Unit = {
    val sch = spark.read.parquet(stage).schema
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("statsCol", "k")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start(dir)
    q.awaitTermination()
  }

  test("format(graft) sink: one committed version per batch, tokened, replay-safe") {
    import spark.implicits._
    val base = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_sinkspec_" + java.util.UUID.randomUUID().toString.take(8)
    val (stage, dir, ckpt) = (base + "_stage", base + "_tbl", base + "_ckpt")
    (1L to 40L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(4, col("k")).write.parquet(stage)
    drainSink(stage, dir, ckpt)
    // 4 source files × maxFilesPerTrigger=1 → 4 batches → 4 versions,
    // each manifest carrying its txn:<queryId>:<batchId> token in order
    assert(Snapshot.currentVersion(spark, dir) == 4)
    (1 to 4).foreach { v =>
      val note = Snapshot.manifest(spark, dir, v).note
      assert(note.matches(s"txn:[0-9a-f-]+:${v - 1}"),
        s"v$v note '$note' is not its batch token")
    }
    assert(sorted(Snapshot.read(spark, dir)) ==
      sorted(spark.read.parquet(stage)))
    // same checkpoint, no new data: a second incarnation lands NOTHING
    drainSink(stage, dir, ckpt)
    assert(Snapshot.currentVersion(spark, dir) == 4, "idle restart committed")
    // new data: exactly the one new batch lands, history extends by one
    Seq((41L, 410L)).toDF("k", "v").write.mode("append").parquet(stage)
    drainSink(stage, dir, ckpt)
    assert(Snapshot.currentVersion(spark, dir) == 5)
    assert(Snapshot.read(spark, dir).count() == 41)
    // v4 is still the pre-restart state — the drain left real history
    assert(Snapshot.read(spark, dir, 4).count() == 40)
  }

  test("format(graft) sink: a replayed batch id is a commitOnce no-op") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_sinkreplay_" + java.util.UUID.randomUUID().toString.take(8)
    val sink = new graft.sources.GraftSink(spark, dir, Some("k"), 8,
      org.apache.spark.sql.streaming.OutputMode.Append())
    val b0 = (1L to 10L).map(k => (k, k)).toDF("k", "v")
    // no stream execution thread here → both calls share the queryId
    // fallback, i.e. the same producer identity — the replay scenario
    sink.addBatch(0L, b0)
    sink.addBatch(0L, b0) // crash-after-commit redelivery
    assert(Snapshot.currentVersion(spark, dir) == 1,
      "replayed batch must find its token and no-op")
    sink.addBatch(1L, Seq((11L, 11L)).toDF("k", "v"))
    assert(Snapshot.currentVersion(spark, dir) == 2)
    assert(Snapshot.read(spark, dir).count() == 11)
  }

  test("format(graft) sink: complete mode republishes full state with history") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_sinkcomplete_" + java.util.UUID.randomUUID().toString.take(8)
    val sink = new graft.sources.GraftSink(spark, dir, Some("k"), 8,
      org.apache.spark.sql.streaming.OutputMode.Complete())
    sink.addBatch(0L, (1L to 10L).map(k => (k, k)).toDF("k", "v"))
    sink.addBatch(1L, (1L to 3L).map(k => (k, k * 2)).toDF("k", "v"))
    assert(Snapshot.currentVersion(spark, dir) == 2)
    assert(Snapshot.read(spark, dir).count() == 3, "complete = new full state")
    assert(Snapshot.read(spark, dir, 1).count() == 10, "v1 time-travelable")
  }

  test("string stats prune pushed string predicates at planning") {
    val dir = Warehouse.channelOrders(spark, sf)
    val cur = Snapshot.currentVersion(spark, dir)
    val m = Snapshot.manifest(spark, dir, cur)
    assert(m.files.size == 6 &&
        m.strStats.keys.count(_._2 == "chan") == 6,
      "3 channel commits x 2 files, every file chan-stamped")
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      SourcePruning.candidates(m, fs).size
    assert(planned(EqualTo("chan", "organic")) == 2, "equality → 1 commit")
    assert(planned(GreaterThanOrEqual("chan", "partner")) == 2,
      "range → the last channel alphabetically")
    assert(planned(EqualTo("chan", "zzz")) == 0, "absent value → no files")
    assert(planned(EqualTo("chan", "ads"), EqualTo("chan", "organic")) == 0,
      "contradictory string conjunction → no files")
    // round 15: the version BEFORE the explicit optimizeStats already
    // prunes — the write path auto-stamped chan at every commit
    val preOptimize = Snapshot.manifest(spark, dir, cur - 1)
    assert(SourcePruning.candidates(preOptimize,
      Seq(EqualTo("chan", "organic"))).size == 2,
      "write-path auto-stats prune before any optimizeStats")
    // pruning is pure optimization: the answer matches the direct read
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("chan") === "organic")
    val direct = Snapshot.read(spark, dir).filter(col("chan") === "organic")
    assert(sorted(viaSource) == sorted(direct))
  }

  test("string bloom sidecars narrow pushed string point probes") {
    val dir = Warehouse.strBloomOrders(spark, sf)
    val m = Snapshot.manifest(spark, dir, Snapshot.currentVersion(spark, dir))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // ref is uncorrelated with the cust_key layout: only the hashed
    // sketches can narrow the probe
    val present = SourcePruning.candidates(m,
      Seq(EqualTo("ref", md5hex("137"))))
    assert(present.nonEmpty && present.size < m.files.size,
      s"bloom should narrow the probe, got ${present.size}/${m.files.size}")
    val absent = SourcePruning.candidates(m,
      Seq(EqualTo("ref", md5hex("99999999"))))
    assert(absent.size < m.files.size / 2,
      s"an absent ref should prune most files, got ${absent.size}")
    // answer identity: planning is a pure optimization
    val probe = md5hex("137")
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("ref") === probe)
    assert(viaSource.collect().map(_.getAs[Long]("order_key")).toSeq ==
      Seq(137L))
  }

  test("date stats prune pushed date ranges at planning") {
    val dir = Warehouse.dateOrders(spark, sf)
    val cur = Snapshot.currentVersion(spark, dir)
    val m = Snapshot.manifest(spark, dir, cur)
    def d(s: String) = java.sql.Date.valueOf(s)
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      SourcePruning.candidates(m, fs).size
    // per-year files (fixture span 1995–2001): a one-year range plans
    // exactly its file, a two-year range two, a PRE-HISTORY range zero
    assert(planned(GreaterThanOrEqual("o_date", d("1997-01-01")),
      LessThanOrEqual("o_date", d("1997-12-31"))) == 1)
    assert(planned(GreaterThanOrEqual("o_date", d("1997-06-01")),
      LessThanOrEqual("o_date", d("1998-06-01"))) == 2)
    assert(planned(LessThanOrEqual("o_date", d("1994-12-31"))) == 0)
    // the java8API LocalDate spelling translates identically
    assert(planned(EqualTo("o_date",
      java.time.LocalDate.parse("1997-07-01"))) <= 1)
    // pruning is a pure optimization: the answer matches the direct read
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("o_date").between(lit(d("1997-01-01")),
        lit(d("1997-12-31"))))
    val direct = Snapshot.read(spark, dir)
      .filter(col("o_date").between(lit(d("1997-01-01")),
        lit(d("1997-12-31"))))
    assert(sorted(viaSource.drop("dday")) == sorted(direct.drop("dday")))
  }

  test("timestamp stats prune conservatively under second truncation") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_tsstats_" + java.util.UUID.randomUUID().toString.take(8)
    // two commits an hour apart, sub-second event times inside each —
    // auto-stats stamp floored epoch-seconds at write
    def rows(base: String, off: Int) = (0 until 50).map { i =>
      (off + i.toLong,
        java.sql.Timestamp.valueOf(s"$base:00.${100 + i * 7}"))
    }.toDF("k", "ts")
    Snapshot.commit(rows("2024-01-01 10:00", 0), dir, 0, "k", nFiles = 1)
    Snapshot.commit(rows("2024-01-01 11:00", 100), dir, 1, "k",
      carried = Snapshot.manifest(spark, dir, 1).files, nFiles = 1)
    val m = Snapshot.manifest(spark, dir, 2)
    assert(m.colStats.keys.count(_._2 == "ts") == 2,
      "both files carry auto-stamped timestamp stats")
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      SourcePruning.candidates(m, fs).size
    // an hour-range predicate plans one file; a pre-history one zero
    assert(planned(GreaterThanOrEqual("ts",
      java.sql.Timestamp.valueOf("2024-01-01 11:00:00")),
      LessThanOrEqual("ts",
        java.sql.Timestamp.valueOf("2024-01-01 11:59:59"))) == 1)
    assert(planned(LessThanOrEqual("ts",
      java.sql.Timestamp.valueOf("2024-01-01 09:00:00"))) == 0)
    // SUB-SECOND strict bound: every row of file 1 lives inside second
    // 10:00:00, so `ts > 10:00:00.9` must KEEP that file (truncation
    // widens strict to inclusive — dropping it would lose the .9xx rows)
    assert(planned(org.apache.spark.sql.sources.GreaterThan("ts",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00.9"))) == 2)
    // java8API Instant spelling translates identically
    assert(planned(LessThanOrEqual("ts",
      java.time.Instant.parse("2024-01-01T09:00:00Z"))) == 0)
    // answer identity through the front door
    val cut = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.4")
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("ts") > lit(cut))
    val direct = Snapshot.read(spark, dir).filter(col("ts") > lit(cut))
    assert(sorted(viaSource) == sorted(direct))
  }

  test("count(*) through the front door is metadata-only; guards hold") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metacount_" + java.util.UUID.randomUUID().toString.take(8)
    Snapshot.commit((1 to 90).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      dir, 0, "k", nFiles = 3)
    Snapshot.deleteWhereDV(spark, dir, 1L, 9L)
    def front = spark.read.format("graft").load(dir)
    // the optimized plan of a global count is ONE LocalRelation row —
    // no scan node survives (the MetadataOnlyCountRule rewrite)
    val q = front.groupBy().count()
    assert(q.queryExecution.optimizedPlan.collectFirst {
      case l: LocalRelation => l }.nonEmpty,
      s"expected LocalRelation, got:\n${q.queryExecution.optimizedPlan}")
    assert(q.collect().head.getLong(0) == 81L, "DV-aware metadata count")
    assert(front.count() == 81L)
    // a clustering-range-filtered count serves interior stamps + a
    // boundary scan (round 17 — shape pinned in its own test below);
    // a null-sensitive count(col) keeps scanning; both stay right
    assert(front.filter(col("k") > 50L).count() == 40L)
    assert(front.select(count(col("v"))).collect().head.getLong(0) == 81L)
    // time travel counts its own version's stamps
    assert(spark.read.format("graft").option("versionAsOf", "1")
      .load(dir).count() == 90L)
    // (the zero-data-access proof — counting after the data files are
    // physically deleted — is pinned at the verb level in SnapshotSpec;
    // the front-door relation legitimately path-checks its files at
    // construction, so HERE the LocalRelation plan shape is the proof)
    // unknown row stamps (adopted shell) honestly fall back to the scan
    val dir2 = dir + "_adopt"
    val lake = dir + "_lake"
    (1 to 40).map(i => (i.toLong, (i % 4).toLong)).toDF("id", "band")
      .write.partitionBy("band").parquet(lake)
    Snapshot.convertParquetHive(spark, dir2, lake, "band")
    val q2 = spark.read.format("graft").load(dir2).groupBy().count()
    assert(q2.queryExecution.optimizedPlan.collectFirst {
      case l: LocalRelation => l }.isEmpty,
      "unknown rows must NOT rewrite")
    assert(q2.collect().head.getLong(0) == 40L)
  }

  test("range count + min/max through the front door are metadata-only; " +
    "guards hold") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metarange_" + java.util.UUID.randomUUID().toString.take(8)
    // 3 range-clustered files: [1,30] [31,60] [61,90]
    Snapshot.commit((1 to 90).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      dir, 0, "k", nFiles = 3)
    val m = Snapshot.manifest(spark, dir, 1)
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    // MIN/MAX (+ count) = ONE LocalRelation row, zero scan nodes
    val mmq = front.agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
      count(lit(1)).as("n"))
    assert(planOf(mmq).collectFirst { case l: LocalRelation => l }.nonEmpty,
      s"expected LocalRelation, got:\n${planOf(mmq)}")
    assert(mmq.collect().toSeq == Seq(Row(1L, 90L, 90L)))
    // range count: interior file [31,60] answers from stamps, the
    // straddled file [61,90] is the ONLY one planned for scanning
    val rq = front.filter(col("k") >= 31L && col("k") <= 75L)
      .groupBy().count()
    val boundaryFile = m.files.find(_.min == 61L).map(_.path)
    assert(restrictedOf(rq) == boundaryFile.map(Set(_)),
      s"boundary-only planned set expected, got:\n${planOf(rq)}")
    assert(rq.collect().head.getLong(0) == 45L)
    // a range covering whole files only needs NO scan at all
    val fq = front.filter(col("k") >= 31L && col("k") <= 60L)
      .groupBy().count()
    assert(planOf(fq).collectFirst { case l: LocalRelation => l }.nonEmpty)
    assert(fq.collect().head.getLong(0) == 30L)
    // a contradictory range answers 0 from the predicate alone
    val cq = front.filter(col("k") > 80L && col("k") < 20L)
      .groupBy().count()
    assert(planOf(cq).collectFirst { case l: LocalRelation => l }.nonEmpty)
    assert(cq.collect().head.getLong(0) == 0L)
    // guard: a NON-clustering-column filter refuses the rewrite
    val vq = front.filter(col("v") === "v5").groupBy().count()
    assert(restrictedOf(vq).isEmpty &&
      planOf(vq).collectFirst { case l: LocalRelation => l }.isEmpty,
      "non-clustering filters must not rewrite")
    assert(vq.collect().head.getLong(0) == 1L)
    // DV-awareness: masked rows subtract from interior stamps (file 1
    // is wholly inside [1,30], its 9 masked rows all counted before)
    Snapshot.deleteWhereDV(spark, dir, 1L, 9L)
    val dq = front.filter(col("k") <= 30L).groupBy().count()
    assert(planOf(dq).collectFirst { case l: LocalRelation => l }.nonEmpty)
    assert(dq.collect().head.getLong(0) == 21L)
    // ... and a DV degrades its file out of metadata MIN/MAX (the
    // extreme row may be masked — here it IS: true min moved 1 → 10).
    // Round 18's hybrid arm scans ONLY the masked file and merges it
    // with the clean files' stamps, where round 17 refused the whole
    // table — the answer must still see through the mask
    val mmq2 = front.agg(min(col("k")).as("mn"))
    val dvFiles = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir)).dvs.keySet
    assert(restrictedOf(mmq2) == Some(dvFiles),
      s"hybrid min must scan exactly the DV'd file:\n${planOf(mmq2)}")
    assert(mmq2.collect().head.getLong(0) == 10L)
    // time travel answers from ITS version's stamps (pre-DV)
    val tt = spark.read.format("graft").option("versionAsOf", "1")
      .load(dir).filter(col("k") <= 30L).groupBy().count()
    assert(tt.collect().head.getLong(0) == 30L)
    // NULL clustering keys: stamps ignore them, so a file with a
    // nonzero null count can never answer from stamps — it lands in
    // the scan set and the split stays exact (unit-level pin; the
    // single-file table would gain nothing from a rewrite)
    val dir2 = dir + "_nulls"
    // nFiles = 1 keeps the null-keyed row co-located with stamped rows
    // (an all-null-key FILE stamps the degraded full-open sentinel
    // instead — exercised by the grouped-counts property test)
    Seq[(Option[Long], String)](Some(1L) -> "a", Some(2L) -> "b",
      None -> "n")
      .toDF("k", "v").write.format("graft").option("statscol", "k")
      .option("nfiles", "1").save(dir2)
    val m2 = Snapshot.manifest(spark, dir2, 1)
    assert(m2.files.forall(f => f.rows == 3L && f.kNulls == 1L),
      s"write path must stamp the null count: ${m2.files}")
    val (inside, boundary) = Snapshot.metaRangeSplit(m2, 1L, 2L)
    assert(inside == 0L && boundary.size == 1,
      "a null-carrying file must scan, never answer from stamps")
    assert(spark.read.format("graft").load(dir2)
      .filter(col("k").between(1L, 2L)).count() == 2L)
    assert(Snapshot.rangeCount(spark, dir2, 1L, 2L) == 2L)
    // unknown rows (hand-built entry) likewise degrade to the scan set
    val legacy = m2.copy(files = m2.files.map(_.copy(rows = -1L)))
    assert(Snapshot.metaRangeSplit(legacy, Long.MinValue,
      Long.MaxValue)._2.size == 1)
    // verb-level equivalence on the clustered table (boundary scan path)
    assert(Snapshot.rangeCount(spark, dir, 31L, 75L) == 45L)
  }

  test("grouped count through the front door is metadata-only; " +
    "guards hold") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metagroup_" + java.util.UUID.randomUUID().toString.take(8)
    // 3 SINGLE-VALUED band files: k=1×10, k=2×20, k=3×30 rows
    def band(v: Long, n: Int) =
      (1 to n).map(i => (v, s"r${v}_$i")).toDF("k", "v")
    Snapshot.commit(band(1L, 10), dir, 0, "k", nFiles = 1)
    Snapshot.commit(band(2L, 20), dir, 1, "k",
      carried = Snapshot.manifest(spark, dir, 1).files, nFiles = 1)
    Snapshot.commit(band(3L, 30), dir, 2, "k",
      carried = Snapshot.manifest(spark, dir, 2).files, nFiles = 1)
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst {
          case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    def groups(df: DataFrame): Map[Option[Long], Long] =
      df.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(1))).toMap
    // all files single-valued: the whole GROUP BY is one LocalRelation
    val gq = front.groupBy("k").count()
    assert(isLocal(gq), s"expected LocalRelation only, got:\n${planOf(gq)}")
    assert(groups(gq) == Map(Some(1L) -> 10L, Some(2L) -> 20L,
      Some(3L) -> 30L))
    // key-only grouping (DISTINCT) answers from the same stamps
    val dq = front.select("k").distinct()
    assert(isLocal(dq), s"expected LocalRelation only, got:\n${planOf(dq)}")
    assert(dq.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // a MIXED file (k 2 and 3) degrades exactly itself into the scan
    val mixed = Seq((2L, "m1"), (3L, "m2"), (3L, "m3")).toDF("k", "v")
    Snapshot.commit(mixed, dir, 3, "k",
      carried = Snapshot.manifest(spark, dir, 3).files, nFiles = 1)
    val m4 = Snapshot.manifest(spark, dir, 4)
    val mixedFile = m4.files.find(f => f.min == 2L && f.max == 3L).map(_.path)
    assert(mixedFile.nonEmpty, s"planted mixed file missing: ${m4.files}")
    val gq2 = front.groupBy("k").count()
    assert(restrictedOf(gq2) == mixedFile.map(Set(_)),
      s"mixed-file-only scan set expected, got:\n${planOf(gq2)}")
    assert(groups(gq2) == Map(Some(1L) -> 10L, Some(2L) -> 21L,
      Some(3L) -> 32L))
    // a DV on a single-valued file subtracts from ITS group's stamps
    // (kNulls = 0: every masked row provably carried the value)
    Snapshot.deleteWhereDV(spark, dir, 1L, 1L) // kills 10 of band 1
    val gq3 = front.groupBy("k").count()
    assert(restrictedOf(gq3) == mixedFile.map(Set(_)))
    assert(groups(gq3) == Map(Some(2L) -> 21L, Some(3L) -> 32L),
      "a fully-masked group must not appear")
    // time travel groups ITS version's stamps (pre-mixed, pre-DV)
    val tt = spark.read.format("graft").option("versionAsOf", "3")
      .load(dir).groupBy("k").count()
    assert(isLocal(tt))
    assert(groups(tt) == Map(Some(1L) -> 10L, Some(2L) -> 20L,
      Some(3L) -> 30L))
    // verb-level equivalence on the degraded table
    assert(groups(Snapshot.groupCount(spark, dir)) == groups(gq3))
    // guard: grouping on a NON-clustering column keeps scanning
    val vq = front.groupBy("v").count()
    assert(planOf(vq).collectFirst { case l: LocalRelation => l }.isEmpty,
      "non-clustering grouping must not rewrite")
    // guard: RANGE-stamped files (min < max everywhere) never rewrite —
    // nothing is proven, the plain scan stays
    val dirR = dir + "_range"
    Snapshot.commit((1 to 90).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      dirR, 0, "k", nFiles = 3)
    val rq = spark.read.format("graft").load(dirR).groupBy("k").count()
    assert(planOf(rq).collectFirst { case l: LocalRelation => l }.isEmpty &&
      restrictedOf(rq).isEmpty, "range files must keep the plain scan")
    assert(rq.count() == 90L)
    // NULL keys: a stamped null count routes them to the NULL group —
    // stamps stay exact (min/max ignore NULLs, kNulls counts them)
    val dirN = dir + "_nulls"
    Seq[(Option[Long], String)](Some(5L) -> "a", Some(5L) -> "b",
      None -> "n").toDF("k", "v")
      .write.format("graft").option("statscol", "k")
      .option("nfiles", "1").save(dirN)
    def frontN = spark.read.format("graft").load(dirN)
    val nq = frontN.groupBy("k").count()
    assert(isLocal(nq), s"expected LocalRelation only, got:\n${planOf(nq)}")
    assert(groups(nq) == Map(Some(5L) -> 2L, None -> 1L))
    // ... but a DV TOGETHER with NULL keys is ambiguous (the masked
    // position could have hidden either group's row): refuse into the
    // scan — which here is every file, so no rewrite at all
    Snapshot.deleteWhereDV(spark, dirN, 5L, 5L)
    val nq2 = frontN.groupBy("k").count()
    assert(planOf(nq2).collectFirst { case l: LocalRelation => l }.isEmpty,
      "DV + null keys must refuse the grouped rewrite")
    assert(groups(nq2) == Map(None -> 1L))
    assert(groups(Snapshot.groupCount(spark, dirN)) == Map(None -> 1L))
  }

  test("range-filtered grouped count composes stamps with the predicate") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metagrange_" + java.util.UUID.randomUUID().toString.take(8)
    // 4 SINGLE-VALUED band files: k=10×5, 20×6, 30×7, 40×8 rows
    def band(v: Long, n: Int) =
      (1 to n).map(i => (v, s"r${v}_$i")).toDF("k", "v")
    Seq((10L, 5), (20L, 6), (30L, 7), (40L, 8)).zipWithIndex.foreach {
      case ((v, n), i) =>
        val carried =
          if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
        Snapshot.commit(band(v, n), dir, i, "k", carried, nFiles = 1)
    }
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    def groups(df: DataFrame): Map[Option[Long], Long] =
      df.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(1))).toMap
    // in-range bands answer from stamps alone, out-of-range bands drop
    val rq = front.filter(col("k") >= 20L && col("k") <= 30L)
      .groupBy("k").count()
    assert(isLocal(rq), s"expected LocalRelation only, got:\n${planOf(rq)}")
    assert(groups(rq) == Map(Some(20L) -> 6L, Some(30L) -> 7L))
    // a MIXED straddler scans WITH the predicate; stamped bands merge
    val mixed = Seq((30L, "m1"), (40L, "m2"), (40L, "m3")).toDF("k", "v")
    Snapshot.commit(mixed, dir, 4,
      "k", carried = Snapshot.manifest(spark, dir, 4).files, nFiles = 1)
    val m5 = Snapshot.manifest(spark, dir, 5)
    val mixedFile =
      m5.files.find(f => f.min == 30L && f.max == 40L).map(_.path)
    assert(mixedFile.nonEmpty)
    val rq2 = front.filter(col("k").between(20L, 35L)).groupBy("k").count()
    assert(restrictedOf(rq2) == mixedFile.map(Set(_)),
      s"straddler-only scan set expected, got:\n${planOf(rq2)}")
    assert(groups(rq2) == Map(Some(20L) -> 6L, Some(30L) -> 8L))
    // a contradictory range answers ZERO groups from the predicate alone
    val cq = front.filter(col("k") > 50L && col("k") < 20L)
      .groupBy("k").count()
    assert(isLocal(cq) && cq.collect().isEmpty,
      s"contradiction must fold to zero groups:\n${planOf(cq)}")
    // NULL keys fail any range predicate: excluded from stamp sums
    val dirN = dir + "_nulls"
    Seq[(Option[Long], String)](Some(5L) -> "a", Some(5L) -> "b",
      None -> "n").toDF("k", "v")
      .write.format("graft").option("statscol", "k")
      .option("nfiles", "1").save(dirN)
    def frontN = spark.read.format("graft").load(dirN)
    val nq = frontN.filter(col("k").between(1L, 9L)).groupBy("k").count()
    assert(isLocal(nq), s"expected LocalRelation only, got:\n${planOf(nq)}")
    assert(groups(nq) == Map(Some(5L) -> 2L))
    // an IsNotNull-only filter is the unfiltered split minus NULL group
    val iq = frontN.filter(col("k").isNotNull).groupBy("k").count()
    assert(isLocal(iq) && groups(iq) == Map(Some(5L) -> 2L))
    // guard: a filter conjunct on a NON-clustering column refuses
    val vq = front.filter(col("v") === "m1").groupBy("k").count()
    assert(planOf(vq).collectFirst { case l: LocalRelation => l }.isEmpty,
      "non-clustering filters must not rewrite the grouped shape")
    assert(groups(vq) == Map(Some(30L) -> 1L))
  }

  test("commitByValue lands one file per distinct value; GROUP BY is " +
    "metadata-only from birth") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_byvalue_" + java.util.UUID.randomUUID().toString.take(8)
    val rows = (1 to 30).map(i => ((i % 3 + 1).toLong * 10, s"r$i"))
      .toDF("k", "v")
    Snapshot.commitByValue(rows, dir, 0, "k")
    val m = Snapshot.manifest(spark, dir, 1)
    assert(m.files.size == 3, s"one file per value expected: ${m.files}")
    assert(m.files.forall(f => f.min == f.max && f.kNulls == 0L &&
      f.rows == 10L), s"single-valued stamps expected: ${m.files}")
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    val gq = spark.read.format("graft").load(dir).groupBy("k").count()
    assert(isLocal(gq), s"expected LocalRelation only, got:\n${planOf(gq)}")
    assert(gq.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(10L -> 10L, 20L -> 10L, 30L -> 10L))
    // a point predicate prunes to exactly the matching value's file
    assert(SourcePruning.candidates(m,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 20L))).size == 1)
    // NULL keys ride the lowest bucket and stamp as its kNulls — the
    // grouped split still answers from stamps, NULL group included
    val dirN = dir + "_nulls"
    val withNulls = (Seq[Option[Long]](None, None) ++
      (1 to 6).map(i => Some((i % 2 + 1).toLong)))
      .zipWithIndex.map { case (k, i) => (k, s"n$i") }.toDF("k", "v")
    Snapshot.commitByValue(withNulls, dirN, 0, "k")
    val mN = Snapshot.manifest(spark, dirN, 1)
    assert(mN.files.size == 2 && mN.files.forall(f => f.min == f.max))
    assert(mN.files.find(_.min == 1L).exists(_.kNulls == 2L),
      s"nulls must ride the lowest value's file: ${mN.files}")
    val nq = spark.read.format("graft").load(dirN).groupBy("k").count()
    assert(isLocal(nq))
    assert(nq.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toMap ==
      Map(1L -> 3L, 2L -> 3L, -1L -> 2L))
    // cardinality guard: past maxValues the layout refuses loudly
    val wide = (1 to 40).map(i => (i.toLong, s"w$i")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Snapshot.commitByValue(wide, dir + "_wide", 0, "k", maxValues = 8)
    }
    assert(e.getMessage.contains("low-cardinality"))
    // the writer spelling: clusterByValue option, append carries files
    val dirW = dir + "_writer"
    rows.write.format("graft").option("statscol", "k")
      .option("clusterbyvalue", "true").save(dirW)
    Seq((40L, "x1"), (40L, "x2")).toDF("k", "v")
      .write.format("graft").option("clusterbyvalue", "true")
      .mode("append").save(dirW)
    val mW = Snapshot.manifest(spark, dirW, 2)
    assert(mW.files.size == 4 && mW.files.forall(f => f.min == f.max),
      s"append must carry the 3 value files and add one: ${mW.files}")
    val wq = spark.read.format("graft").load(dirW).groupBy("k").count()
    assert(isLocal(wq))
    assert(wq.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 2L))
    // an empty frame commits a legal empty version through the verb
    val dirE = dir + "_empty"
    Snapshot.commitByValue(rows.filter(lit(false)), dirE, 0, "k")
    assert(spark.read.format("graft").load(dirE).count() == 0L)
    assert(Snapshot.groupCount(spark, dirE).collect().isEmpty)
  }

  test("count(key) and count(DISTINCT key) answer from stamps") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metadc_" + java.util.UUID.randomUUID().toString.take(8)
    // by-value layout: 3 single-valued files, NULL keys in the lowest
    val rows = (Seq.fill(3)(Some(1L)) ++ Seq.fill(4)(Some(2L)) ++
      Seq.fill(5)(Some(3L)) ++ Seq.fill(2)(None))
      .zipWithIndex.map { case (k, i) => (k, s"r$i") }.toDF("k", "v")
    Snapshot.commitByValue(rows, dir, 0, "k")
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    def counts = front.agg(count(col("k")).as("ck"),
      countDistinct(col("k")).as("cd"), count(lit(1)).as("n"))
    // pure stamps: one LocalRelation row — non-null, distinct, total
    val q1 = counts
    assert(isLocal(q1), s"expected LocalRelation only, got:\n${planOf(q1)}")
    assert(q1.collect().toSeq == Seq(Row(12L, 3L, 14L)))
    // a mixed file degrades exactly itself; distinct merges across
    val mixed = Seq((3L, "m1"), (4L, "m2")).toDF("k", "v")
    Snapshot.commit(mixed, dir, 1, "k",
      carried = Snapshot.manifest(spark, dir, 1).files, nFiles = 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    val mixedFile = m2.files.find(f => f.min == 3L && f.max == 4L).map(_.path)
    val q2 = counts
    assert(restrictedOf(q2) == mixedFile.map(Set(_)),
      s"mixed-file-only scan set expected, got:\n${planOf(q2)}")
    assert(q2.collect().toSeq == Seq(Row(14L, 4L, 16L)))
    // a fully-masked value vanishes from the distinct count
    Snapshot.deleteWhereDV(spark, dir, 2L, 2L)
    val q3 = counts
    assert(q3.collect().toSeq == Seq(Row(10L, 3L, 12L)),
      "the DV-masked value 2 must not count")
    // guard: a non-clustering count keeps scanning
    val vq = front.agg(countDistinct(col("v")).as("c"))
    assert(planOf(vq).collectFirst { case l: LocalRelation => l }.isEmpty)
    assert(vq.collect().head.getLong(0) == 12L) // 16 rows − the 4 masked
  }

  test("non-clustering grouped counts answer from sidecar stamps and " +
    "null witnesses") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metagcol_" + java.util.UUID.randomUUID().toString.take(8)
    // clustered on k; b and d are single-valued PER FILE by commit
    // construction — v2 carries NULL bs, v3 an all-NULL b file, v4 a
    // deliberately mixed b (the only degraded file for b)
    def slice(ks: Range, b: Long => Option[Long], d: String) =
      ks.map(k => (k.toLong, b(k.toLong),
        java.sql.Date.valueOf(d))).toDF("k", "b", "d")
    val slices = Seq(
      slice(1 to 10, _ => Some(100L), "2024-01-01"),
      slice(11 to 20, k => if (k <= 13) None else Some(200L), "2024-01-02"),
      slice(21 to 30, _ => None, "2024-01-03"),
      slice(31 to 35, k => Some(if (k % 2 == 0) 300L else 100L),
        "2024-01-04"))
    slices.zipWithIndex.foreach { case (df, i) =>
      val carried = if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(df, dir, i, "k", carried, nFiles = 1)
    }
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    // GROUP BY the non-clustering b: three files answer from their
    // sidecar stamps + null witnesses (incl. the all-NULL file), only
    // the mixed file scans
    val m = Snapshot.manifest(spark, dir, 4)
    val mixedFile = m.files.find(f => f.min == 31L).map(_.path)
    val gq = front.groupBy("b").count()
    assert(restrictedOf(gq) == mixedFile.map(Set(_)),
      s"mixed-b-file-only scan set expected, got:\n${planOf(gq)}")
    assert(gq.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toMap ==
      Map(100L -> 13L, 200L -> 7L, 300L -> 2L, -1L -> 13L))
    // GROUP BY the DATE column: every file single-valued → LocalRelation
    val dq = front.groupBy("d").count()
    assert(isLocal(dq), s"expected LocalRelation only, got:\n${planOf(dq)}")
    assert(dq.collect().map(r =>
      (r.getDate(0).toString, r.getLong(1))).toMap ==
      Map("2024-01-01" -> 10L, "2024-01-02" -> 10L,
        "2024-01-03" -> 10L, "2024-01-04" -> 5L))
    // global counts of b ride the same split
    val cq = front.agg(count(col("b")).as("cb"),
      countDistinct(col("b")).as("db"), count(lit(1)).as("n"))
    assert(restrictedOf(cq) == mixedFile.map(Set(_)))
    assert(cq.collect().toSeq == Seq(Row(22L, 3L, 35L)))
    // a legacy manifest WITHOUT the null witness keeps scanning: the
    // split itself refuses unwitnessed files
    val legacy = m.copy(colStats = m.colStats.filterNot {
      case ((_, c), _) => c.startsWith("nulls:") })
    val (sums, scan) = Snapshot.metaGroupSplitCol(legacy, "b")
    assert(sums.isEmpty && scan.size == m.files.size,
      "unwitnessed files must all degrade to the scan set")
  }

  test("a user column literally named nulls:<c> never stamps, never " +
    "shadows a sibling's witness, and never mis-prunes") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_nullspfx_" + java.util.UUID.randomUUID().toString.take(8)
    // v carries 3 NULLs (witness = 3); the pathological column
    // `nulls:v` carries values FAR outside [3,3] — if its own
    // [min,max] stamped, it would land at the witness key and corrupt
    // v's null accounting; if candidacy consulted the witness as the
    // column's range, the >= 1000 filter below would prune every file
    val df = (1 to 12).map(i => (i.toLong,
      if (i <= 3) None else Some(i.toLong % 2), 1000L + i)).toDF(
      "k", "v", "nulls:v")
    Snapshot.commit(df, dir, 0, "k", nFiles = 2)
    val m = Snapshot.manifest(spark, dir, 1)
    // every colStats entry under the "nulls:v" key is a WITNESS (n,n)
    // of v — the user column contributed nothing there
    val atKey = m.colStats.collect {
      case ((_, c), v) if c == "nulls:v" => v }.toSeq
    assert(atKey.nonEmpty && atKey.forall(p => p._1 == p._2 && p._1 <= 3L),
      s"only v's witnesses may live at the nulls:v key, got $atKey")
    def front = spark.read.format("graft").load(dir)
    // grouped count on v stays exact (witness uncorrupted)
    assert(front.groupBy("v").count().collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toMap ==
      Map(-1L -> 3L, 0L -> 5L, 1L -> 4L))
    // MIN/MAX over the pathological column refuses the metadata path
    // (a shadowed key may hold witness data) and answers correctly
    val mm = front.agg(min(col("nulls:v")).as("lo"),
      max(col("nulls:v")).as("hi"))
    assert(mm.queryExecution.optimizedPlan.collectFirst {
      case l: LocalRelation => l }.isEmpty,
      "a nulls:-named column must not be answered from metadata")
    assert(mm.collect().toSeq == Seq(Row(1001L, 1012L)))
    // a pushed range filter on it must not consult the witness stamps
    assert(front.filter(col("nulls:v") >= 1000L).count() == 12L)
  }

  test("sidecar min/max through the front door are metadata-only; " +
    "inexact stamp kinds refuse") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metamm_" + java.util.UUID.randomUUID().toString.take(8)
    val rows = (1 to 60).map(i => (i.toLong, f"s$i%02d",
      java.sql.Date.valueOf(f"2024-01-${(i % 28) + 1}%02d"),
      java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${i % 60}%02d"),
      i * 1.5))
    Snapshot.commit(rows.toDF("k", "s", "d", "ts", "p"), dir, 0, "k",
      nFiles = 3)
    def front = spark.read.format("graft").load(dir)
    def isLocal(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case l: LocalRelation => l }.nonEmpty
    // STRING + DATE + clustering INTEGRAL + count: one LocalRelation
    // row, zero files scanned — sidecar stamps are exact for these
    val q = front.agg(min(col("s")).as("mn_s"), max(col("s")).as("mx_s"),
      min(col("d")).as("mn_d"), max(col("d")).as("mx_d"),
      min(col("k")).as("mn_k"), count(lit(1)).as("n"))
    assert(isLocal(q), s"expected LocalRelation:\n${q.queryExecution.optimizedPlan}")
    val r = q.collect().head
    assert((r.getString(0), r.getString(1)) == ("s01", "s60"))
    assert((r.getDate(2).toString, r.getDate(3).toString) ==
      ("2024-01-01", "2024-01-28"))
    assert(r.getLong(4) == 1L && r.getLong(5) == 60L)
    // TIMESTAMP stamps are floored seconds, DOUBLE stamps are
    // saturated micro-units — both must REFUSE (answers come from the
    // scan, which stays right)
    val qt = front.agg(min(col("ts")).as("mn"))
    assert(!isLocal(qt), "timestamp min/max must not answer from stamps")
    assert(qt.collect().head.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
    val qp = front.agg(max(col("p")).as("mx"))
    assert(!isLocal(qp), "double min/max must not answer from stamps")
    assert(qp.collect().head.getDouble(0) == 90.0)
    // a file whose widest string exceeds the stamp cap stays
    // unstamped — partial coverage refuses whole, the scan answers
    val wide = Seq((100L, "z" * 100,
      java.sql.Date.valueOf("2024-02-01"),
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0))
    Snapshot.commit(wide.toDF("k", "s", "d", "ts", "p"), dir, 1, "k",
      carried = Snapshot.manifest(spark, dir, 1).files, nFiles = 1)
    val qs = front.agg(max(col("s")).as("mx"))
    assert(!isLocal(qs), "an unstamped file must refuse string min/max")
    assert(qs.collect().head.getString(0) == "z" * 100)
    // the DATE column is still fully stamped across all 4 files —
    // still metadata
    val qd = front.agg(max(col("d")).as("mx"))
    assert(isLocal(qd))
    assert(qd.collect().head.getDate(0).toString == "2024-02-01")
    // count(string col) answers from the NULL WITNESS alone (round 18
    // — the witness is dtype-blind), even though the wide file's
    // VALUE stamps refused min/max above
    val qc = front.agg(count(col("s")).as("ns"), count(col("ts")).as("nt"))
    assert(isLocal(qc),
      s"witness-based counts must be metadata:\n${qc.queryExecution.optimizedPlan}")
    assert(qc.collect().toSeq == Seq(Row(61L, 61L)))
  }

  test("global and grouped SUM answer from per-file sum stamps") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metasum_" + java.util.UUID.randomUUID().toString.take(8)
    // clustered on k; b single-valued per file except the mixed tail;
    // v: valued, partially-NULL, all-NULL, and mixed-b files — every
    // fold arm of metaGroupAggSplitCols
    def slice(ks: Range, b: Long => Option[Long], v: Long => Option[Long]) =
      ks.map(k => (k.toLong, b(k.toLong), v(k.toLong)))
        .toDF("k", "b", "v")
        // exact decimal measure (scale 2 ≤ 6: stamps) and a
        // stamp-refusing wide decimal (scale 18 > 6: never stamps)
        .withColumn("p", expr("CAST(k * 1.25 AS DECIMAL(18,2))"))
        .withColumn("w", expr("CAST(k AS DECIMAL(38,18))"))
    val slices = Seq(
      slice(1 to 10, _ => Some(100L), k => Some(k * 2)),      // sum 110
      slice(11 to 20, _ => Some(200L),
        k => if (k <= 13) None else Some(k)),                 // sum 119
      slice(21 to 30, _ => Some(300L), _ => None),            // all-NULL v
      slice(31 to 35, k => Some(if (k % 2 == 0) 300L else 100L),
        k => Some(k)))                                        // mixed b
    slices.zipWithIndex.foreach { case (df, i) =>
      val carried = if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(df, dir, i, "k", carried, nFiles = 1)
    }
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    // GLOBAL sum: every file stamped or provably all-NULL → pure
    // driver arithmetic (the mixed-b tail is irrelevant to a global
    // sum — its v stamp is fine)
    val gq = front.agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    assert(isLocal(gq), s"expected LocalRelation:\n${planOf(gq)}")
    assert(gq.collect().toSeq == Seq(Row(110L + 119L + 31L + 32L + 33L +
      34L + 35L, 35L)))
    // GROUPED sum by the non-clustering b: three files from stamps,
    // only the mixed-b tail scans; the all-NULL group answers NULL
    val m = Snapshot.manifest(spark, dir, 4)
    val mixedFile = m.files.find(f => f.min == 31L).map(_.path)
    val gb = front.groupBy("b").agg(count(lit(1)).as("n"),
      sum(col("v")).as("sv"))
    assert(restrictedOf(gb) == mixedFile.map(Set(_)),
      s"mixed-b-file-only scan expected, got:\n${planOf(gb)}")
    assert(gb.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet ==
      Set((100L, 13L, 110L + 31L + 33L + 35L),
        (200L, 10L, 119L),
        (300L, 12L, 32L + 34L)))
    // DECIMAL sums: the scale-2 measure answers from micro-unit
    // stamps — global metadata-only, exact to the cent
    val dp = front.agg(sum(col("p")).as("sp"))
    assert(isLocal(dp), s"decimal sum must answer from stamps:\n${planOf(dp)}")
    assert(dp.collect().head.getDecimal(0) ==
      new java.math.BigDecimal("787.50")) // 1.25 * Σ(1..35)
    // grouped decimal sum rides the same split (mixed tail scans)
    val dg = front.groupBy("b").agg(count(lit(1)).as("n"),
      sum(col("p")).as("sp"))
    assert(restrictedOf(dg) == mixedFile.map(Set(_)))
    assert(dg.collect().map(r => (r.getLong(0),
      r.getDecimal(2).toString)).toSet ==
      Set((100L, "192.50"), (200L, "193.75"), (300L, "401.25")))
    // MULTI-measure grouped hybrid (the TPC-H q1 shape): both sums and
    // the count share ONE scan set — still only the mixed tail
    val multi = front.groupBy("b").agg(count(lit(1)).as("n"),
      sum(col("v")).as("sv"), sum(col("p")).as("sp"))
    assert(restrictedOf(multi) == mixedFile.map(Set(_)),
      s"multi-measure scan set must stay the mixed tail:\n${planOf(multi)}")
    assert(multi.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      r.getDecimal(3).toString)).toSet ==
      Set((100L, 13L, 209L, "192.50"), (200L, 10L, 119L, "193.75"),
        (300L, 12L, 66L, "401.25")))
    // grouped MIN/MAX ride the same split (round 18): per-group
    // extremes from per-file [min,max] stamps, the all-NULL group
    // answers NULL, the mixed tail is still the only scan
    val gmm = front.groupBy("b").agg(count(lit(1)).as("n"),
      min(col("v")).as("mn"), max(col("v")).as("mx"))
    assert(restrictedOf(gmm) == mixedFile.map(Set(_)),
      s"grouped min/max scan set must stay the mixed tail:\n${planOf(gmm)}")
    assert(gmm.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3))).toSet ==
      Set((100L, 13L, 2L, 35L), (200L, 10L, 14L, 20L),
        // group 300's stamped file is all-NULL on v, but the SCANNED
        // mixed tail contributes v = 32, 34 — the merge must not let
        // the NULL partial clobber them
        (300L, 12L, 32L, 34L)))
    // grouped count(c) (round 18): non-null counts per group from the
    // witness alone — works even where value stamps couldn't
    val gcv = front.groupBy("b").agg(count(col("v")).as("nv"),
      sum(col("v")).as("sv"))
    assert(restrictedOf(gcv) == mixedFile.map(Set(_)),
      s"grouped count(col) scan set must stay the mixed tail:\n${planOf(gcv)}")
    assert(gcv.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((100L, 13L), (200L, 7L), (300L, 2L)),
      "non-null v per group: witness arithmetic + the scanned tail")
    // a scale-18 decimal can never stamp exactly — refuses, scan answers
    val dw = front.agg(sum(col("w")).as("sw"))
    assert(!isLocal(dw), "scale-18 decimal must not answer from stamps")
    assert(dw.collect().head.getDecimal(0).longValueExact == 630L)
    // GROUPED by the CLUSTERING column over single-valued-key files?
    // k is NOT single-valued per file here — the grouped-sum split
    // degrades every file and the rewrite refuses (plain scan, right
    // answer)
    val gk = front.groupBy("k").agg(sum(col("v")).as("sv"))
    assert(!isLocal(gk))
    assert(gk.count() == 35L)
    // sum over the CLUSTERING column refuses (no sidecar stamps by
    // design) and the scan answers
    val gc = front.agg(sum(col("k")).as("sk"))
    assert(!isLocal(gc))
    assert(gc.collect().head.getLong(0) == (1L to 35L).sum)
    // a DV degrades its file into the hybrid scan branch — the union
    // merge answers exactly
    Snapshot.deleteWhereDV(spark, dir, 5L, 5L)
    val dq = front.agg(sum(col("v")).as("sv"))
    val dvFile = Snapshot.manifest(spark, dir, 5).dvs.keySet
    assert(restrictedOf(dq) == Some(dvFile),
      s"DV'd-file-only scan expected, got:\n${planOf(dq)}")
    assert(dq.collect().head.getLong(0) ==
      110L + 119L + (31L to 35L).sum - 10L) // key 5 (v=10) masked
    // multi-measure GLOBAL hybrid under the DV: one shared scan set
    val mq = front.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
      sum(col("p")).as("sp"))
    assert(restrictedOf(mq) == Some(dvFile))
    val mr = mq.collect().head
    assert(mr.getLong(0) == 34L && mr.getLong(1) == 384L &&
      mr.getDecimal(2).toString == "781.25", mr.toString)
    // TIME TRAVEL composes for free: the pre-DV version's pinned
    // manifest serves the un-masked sum from pure metadata
    val tt = spark.read.format("graft").option("versionAsOf", "4")
      .load(dir).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    assert(isLocal(tt), s"pre-DV version must stay metadata:\n${planOf(tt)}")
    assert(tt.collect().toSeq == Seq(Row(394L, 35L)))
    // COMPACTION re-stamps: OPTIMIZE's stats recompute must carry the
    // sum/witness pseudo-columns, so the compacted head (which also
    // applies the DV) goes back to pure metadata — the lifecycle that
    // would otherwise silently degrade every maintained table
    Snapshot.compactVersion(spark, dir, Long.MaxValue)
    val pc = front.agg(sum(col("v")).as("sv"), count(lit(1)).as("n"),
      count(col("v")).as("nv"))
    assert(isLocal(pc),
      s"post-compaction sums must stay metadata:\n${planOf(pc)}")
    assert(pc.collect().toSeq == Seq(Row(384L, 34L, 21L)))
    // an all-NULL column answers NULL, not 0 — and from metadata
    val nq = spark.read.format("graft").load {
      val d2 = dir + "_nullcol"
      Snapshot.commit((1L to 8L).map((_, Option.empty[Long]))
        .toDF("k", "v"), d2, 0, "k", nFiles = 2)
      d2
    }.agg(sum(col("v")).as("sv"))
    assert(isLocal(nq))
    assert(nq.collect().head.isNullAt(0))
    // a user column literally named sum:<c> never stamps its own
    // [min,max] and refuses metadata answers (shadowed key space)
    val d3 = dir + "_shadow"
    (1L to 6L).map(k => (k, k * 3, k * 100)).toDF("k", "v", "sum:v")
      .write.format("graft").option("statsCol", "k").save(d3)
    val m3 = Snapshot.manifest(spark, d3, 1)
    val atKey = m3.colStats.collect {
      case ((_, c), vv) if c == "sum:v" => vv }.toSeq
    assert(atKey.nonEmpty && atKey.forall(p => p._1 == p._2) &&
      atKey.map(_._1).sum == 63L,
      s"only v's sum stamps may live at the sum:v key, got $atKey")
    val sq = spark.read.format("graft").load(d3)
      .agg(sum(col("sum:v")).as("s"), min(col("sum:v")).as("mn"))
    assert(!isLocal(sq), "a sum:-named column must not answer from metadata")
    assert(sq.collect().toSeq == Seq(Row(2100L, 100L)))
  }

  test("range-filtered SUM: interior files from stamps, straddlers scan " +
    "with the predicate") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_rangesum_" + java.util.UUID.randomUUID().toString.take(8)
    // 4 band files of 10 keys each; v = 2k (non-null everywhere)
    (1L to 40L).map(k => (k, k * 2)).toDF("k", "v")
      .write.format("graft").option("statsCol", "k")
      .option("nFiles", "4").save(dir)
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    val m = Snapshot.manifest(spark, dir, 1)
    assert(m.files.size == 4 && m.files.forall(f => f.max - f.min == 9L),
      s"fixture: 4 clean bands expected, got ${m.files.map(f => (f.min, f.max))}")
    // straddling window [5,25]: the middle band sums from stamps, the
    // two straddlers scan with the predicate, the top band vanishes
    val straddle = front.filter(col("k").between(5L, 25L))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val straddlers = m.files.filter(f =>
      !(f.min >= 5L && f.max <= 25L) && f.min <= 25L && f.max >= 5L)
      .map(_.path).toSet
    assert(straddlers.size == 2, s"fixture: $straddlers")
    assert(restrictedOf(straddle) == Some(straddlers),
      s"straddler-only scan expected:\n${planOf(straddle)}")
    assert(straddle.collect().toSeq ==
      Seq(Row(21L, 2L * (5L to 25L).sum)))
    // a wholly-inside window answers from pure driver arithmetic
    val inside = front.filter(col("k") >= 11L && col("k") <= 20L)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(isLocal(inside), s"expected LocalRelation:\n${planOf(inside)}")
    assert(inside.collect().toSeq == Seq(Row(10L, 2L * (11L to 20L).sum)))
    // windowed MIN/MAX (round 18): extremes of measure AND key inside
    // the window — straddlers scan, inside files answer from stamps
    val wmm = front.filter(col("k").between(5L, 25L))
      .agg(min(col("v")).as("mnv"), max(col("v")).as("mxv"),
        min(col("k")).as("mnk"), max(col("k")).as("mxk"),
        count(lit(1)).as("n"))
    assert(restrictedOf(wmm) == Some(straddlers),
      s"windowed min/max must scan straddlers only:\n${planOf(wmm)}")
    assert(wmm.collect().toSeq == Seq(Row(10L, 50L, 5L, 25L, 21L)))
    // a contradictory window answers (0, NULL) from the predicate alone
    val none = front.filter(col("k") > 30L && col("k") < 10L)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(isLocal(none))
    val r0 = none.collect().head
    assert(r0.getLong(0) == 0L && r0.isNullAt(1))
    // a DV inside the window degrades its file into the scan set (a
    // mask always invalidates a stored sum)
    Snapshot.deleteWhereDV(spark, dir, 15L, 15L)
    val dved = front.filter(col("k").between(11L, 30L))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val dvFile = Snapshot.manifest(spark, dir, 2).dvs.keySet
    assert(restrictedOf(dved).exists(s => dvFile.subsetOf(s)),
      s"the DV'd file must scan:\n${planOf(dved)}")
    assert(dved.collect().toSeq ==
      Seq(Row(19L, 2L * ((11L to 30L).sum - 15L))))
  }

  test("timestamp stats: stamps and pruning are session-zone invariant") {
    // the round-15 NTZ fix's property: kind-3 stamps are instants
    // (unix_seconds, zone-free by definition) and kind-4 stamps are
    // wall-fields-as-UTC — so writers in ANY session zone stamp the
    // same numbers, and readers in ANY session zone plan the same
    // files. Zones chosen to bite: LA is mid-spring-forward on the
    // test date (02:xx wall does not exist), Kathmandu is +5:45 (a
    // non-hour offset). Any path that bakes the session zone into a
    // stamp or a probe shifts epochs by the offset and breaks the
    // cross-zone equalities below.
    def sess(z: String) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.session.timeZone", z)
      s2
    }
    val zones = Seq("UTC", "America/Los_Angeles", "Asia/Kathmandu")
    // file 1: instants in UTC hour 10 / wall 01:xx; file 2: an hour
    // later / wall 03:xx on the LA spring-forward morning. ts built
    // from epoch literals (same instants in every zone), nts from wall
    // strings (same fields in every zone) — the DATA is zone-free, so
    // any stamp divergence is the engine's.
    def frame(s2: org.apache.spark.sql.SparkSession,
              rows: Seq[(Long, Long, String)]): DataFrame = {
      import s2.implicits._
      rows.toDF("k", "e", "w").select(col("k"),
        timestamp_seconds(col("e")).as("ts"),
        expr("to_timestamp_ntz(w)").as("nts"))
    }
    val f1 = (0 until 30).map(i =>
      (i.toLong, 1710064800L + i * 60L, f"2024-03-10 01:$i%02d:00"))
    val f2 = (0 until 30).map(i =>
      (100 + i.toLong, 1710068400L + i * 60L, f"2024-03-10 03:$i%02d:00"))
    def stampsOf(dir: String, c: String): Seq[(Long, Long)] = {
      val m = Snapshot.manifest(spark, dir, 2)
      m.colStats.toSeq.filter(_._1._2 == c).map(_._2).sorted
    }
    val dirs = zones.map { z =>
      val s2 = sess(z)
      val dir = spark.conf.get("spark.sql.warehouse.dir") +
        "/graft_tszone_" + java.util.UUID.randomUUID().toString.take(8)
      Snapshot.commit(frame(s2, f1), dir, 0, "k", nFiles = 1)
      Snapshot.commit(frame(s2, f2), dir, 1, "k",
        carried = Snapshot.manifest(s2, dir, 1).files, nFiles = 1)
      z -> dir
    }
    // every writer zone stamps bit-identical (min, max) pairs
    for (c <- Seq("ts", "nts"); (_, dir) <- dirs.tail)
      assert(stampsOf(dir, c) == stampsOf(dirs.head._2, c),
        s"$c stamps differ between writer zones")
    // pruning parity: instant bound on ts, wall bound on nts — each
    // plans exactly the second file in every written dir
    for ((_, dir) <- dirs) {
      val m = Snapshot.manifest(spark, dir, 2)
      def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
        SourcePruning.candidates(m, fs).size
      assert(planned(GreaterThanOrEqual("ts",
        java.time.Instant.ofEpochSecond(1710068400L))) == 1)
      assert(planned(GreaterThanOrEqual("nts",
        java.time.LocalDateTime.of(2024, 3, 10, 3, 0))) == 1)
      assert(planned(LessThanOrEqual("nts",
        java.time.LocalDateTime.of(2024, 3, 10, 0, 0))) == 0)
    }
    // front-door answer identity under every READER zone: the wall
    // predicate selects exactly file 2's keys regardless of zone
    val dir0 = dirs.head._2
    for (rz <- zones) {
      val r = sess(rz)
      val got = r.read.format("graft").load(dir0)
        .filter(col("nts") >=
          lit(java.time.LocalDateTime.of(2024, 3, 10, 3, 0)))
        .collect().map(_.getAs[Long]("k")).sorted.toSeq
      assert(got == (100L until 130L), s"reader zone $rz got $got")
      val gotTs = r.read.format("graft").load(dir0)
        .filter(col("ts") >=
          lit(java.time.Instant.ofEpochSecond(1710068400L)))
        .collect().map(_.getAs[Long]("k")).sorted.toSeq
      assert(gotTs == (100L until 130L), s"reader zone $rz got $gotTs")
    }
  }

  test("decimal and double stats prune money ranges at planning") {
    val dir = Warehouse.moneyOrders(spark, sf)
    val cur = Snapshot.currentVersion(spark, dir)
    val m = Snapshot.manifest(spark, dir, cur)
    // write-path kind-5 auto stamps: every band file carries BOTH money
    // columns' micro-unit stats with NO optimizeStats pass
    assert(m.files.size == 4 &&
      m.colStats.keys.count(_._2 == "price") == 4 &&
      m.colStats.keys.count(_._2 == "dprice") == 4,
      "4 band files, each stamped on price (decimal) and dprice (double)")
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      SourcePruning.candidates(m, fs).size
    def bd(s: String) = new java.math.BigDecimal(s)
    // a mid-band DECIMAL range plans exactly its band's file; a
    // beyond-history range zero; the DOUBLE twin prunes identically
    assert(planned(GreaterThanOrEqual("price", bd("260000.00")),
      LessThanOrEqual("price", bd("370000.00"))) == 1)
    assert(planned(GreaterThanOrEqual("price", bd("600000.00"))) == 0)
    assert(planned(GreaterThanOrEqual("dprice",
      java.lang.Double.valueOf(260000.0)),
      LessThanOrEqual("dprice", java.lang.Double.valueOf(370000.0))) == 1)
    // answer identity: planning is a pure optimization
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("price").between(lit(bd("260000.00")), lit(bd("370000.00"))))
    val direct = Snapshot.read(spark, dir)
      .filter(col("price").between(lit(bd("260000.00")), lit(bd("370000.00"))))
    assert(sorted(viaSource) == sorted(direct))
  }

  test("micro-unit money stats stay conservative at the edges") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_microedge_" + java.util.UUID.randomUUID().toString.take(8)
    // file 1: values inside ONE micro cell (1e-7 apart) — a strict
    // sub-micro bound must keep the file; file 2: NaN and a saturating
    // magnitude — both stamp Long.MaxValue-ish, never wrongly pruned
    Snapshot.commit(Seq(
      (1L, 1.0000001, BigDecimal("0.10")),
      (2L, 1.0000003, BigDecimal("0.20"))).toDF("k", "d", "m"),
      dir, 0, "k", nFiles = 1)
    Snapshot.commit(Seq(
      (3L, Double.NaN, BigDecimal("1e16")),
      (4L, 1.0e300, BigDecimal("2e16"))).toDF("k", "d", "m"),
      dir, 1, "k", carried = Snapshot.manifest(spark, dir, 1).files,
      nFiles = 1)
    val m = Snapshot.manifest(spark, dir, 2)
    assert(m.colStats.keys.count(_._2 == "d") == 2 &&
      m.colStats.keys.count(_._2 == "m") == 2)
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      SourcePruning.candidates(m, fs).size
    // strict `d > 1.0000002` lives inside file 1's micro cell: flooring
    // widens to inclusive, both files stay (file 2 via NaN/1e300 stamps)
    assert(planned(org.apache.spark.sql.sources.GreaterThan("d",
      java.lang.Double.valueOf(1.0000002))) == 2)
    // a bound past every finite stamp still keeps the NaN/saturated
    // file (its max stamp is Long.MaxValue) but drops file 1
    assert(planned(GreaterThanOrEqual("d",
      java.lang.Double.valueOf(2.0))) == 1)
    // saturating DECIMAL magnitudes (1e16 × 10⁶ overflows a long):
    // both clamp to Long.MaxValue — a huge lower bound keeps the file
    assert(planned(GreaterThanOrEqual("m",
      new java.math.BigDecimal("1.5e16"))) == 1)
    // answer identity across the NaN file: Spark orders NaN above any
    // bound, and the stamp's Long.MaxValue mirrors exactly that
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("d") >= 2.0)
    assert(viaSource.collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      Seq(3L, 4L))
  }

  test("format(graft) sink: update mode and partitionBy are refused") {
    intercept[IllegalArgumentException] {
      new graft.sources.GraftSink(spark, "/nonexistent", Some("k"), 8,
        org.apache.spark.sql.streaming.OutputMode.Update())
    }
    intercept[IllegalArgumentException] {
      new graft.sources.GraftSourceProvider().createSink(
        spark.sqlContext, Map("path" -> "/nonexistent"), Seq("k"),
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
  }

  test("fold hardening: zero-row entries skip, overflow degrades one " +
    "file, sum stamps are overflow-proof") {
    import Snapshot.{FileEntry, Manifest, SumAcc, SumSpec}
    import spark.implicits._
    // 1. a ZERO-ROW entry (rows == kNulls == 0) must neither insert a
    //    phantom all-NULL group (its witness shape passes every check)
    //    nor burn a scan slot — an empty file contributes nothing
    val wit = Map(
      ("f0", "nulls:g") -> (0L, 0L), ("f0", "nulls:v") -> (0L, 0L),
      ("f1", "nulls:g") -> (0L, 0L), ("f1", "nulls:v") -> (0L, 0L))
    val m0 = Manifest(1, "k",
      Seq(FileEntry("f0", 1, 1, rows = 0, kNulls = 0),
        FileEntry("f1", 2, 2, rows = 3, kNulls = 0)),
      colStats = wit ++ Map(
        ("f0", "g") -> (5L, 5L), ("f1", "g") -> (7L, 7L),
        ("f1", "sum:v") -> (30L, 30L)))
    val (grps, scan0) = Snapshot.metaGroupAggSplitCols(m0, "g",
      gIsClustering = false, Seq(SumSpec("v")))
    assert(scan0.isEmpty, s"zero-row file must not scan: $scan0")
    assert(grps.keySet == Set(Some(7L)),
      s"phantom group from a zero-row file: $grps")
    assert(grps(Some(7L)) == ((3L, Seq(SumAcc(30L, any = true)))))
    // 2. per-file overflow degrade: the file whose stamp would push
    //    the fold past Long range scans; the rest keep serving
    val big = Long.MaxValue - 10L
    val m1 = Manifest(1, "k",
      Seq(FileEntry("a", 1, 1, rows = 2, kNulls = 0),
        FileEntry("b", 2, 2, rows = 2, kNulls = 0)),
      colStats = Map(
        ("a", "sum:v") -> (big, big), ("b", "sum:v") -> (100L, 100L),
        ("a", "nulls:v") -> (0L, 0L), ("b", "nulls:v") -> (0L, 0L)))
    val (rows1, rowsOk1, accs1, scan1) =
      Snapshot.metaAggSplitCols(m1, Seq(SumSpec("v")))
    assert(scan1.map(_.path) == Seq("b"),
      s"the overflowing file (and only it) must degrade: $scan1")
    assert(rows1 == 2L && rowsOk1 && accs1 == Seq(SumAcc(big, any = true)))
    // the grouped fold applies the same per-file discipline
    val m2 = m1.copy(colStats = m1.colStats ++ Map(
      ("a", "g") -> (1L, 1L), ("b", "g") -> (1L, 1L),
      ("a", "nulls:g") -> (0L, 0L), ("b", "nulls:g") -> (0L, 0L)))
    val (grps2, scan2) = Snapshot.metaGroupAggSplitCols(m2, "g",
      gIsClustering = false, Seq(SumSpec("v")))
    assert(scan2.map(_.path) == Seq("b"))
    assert(grps2(Some(1L)) == ((2L, Seq(SumAcc(big, any = true)))))
    // 3. sum stamps aggregate under TRY semantics: a file whose TRUE
    //    sum overflows Long stamps nothing (instead of wrapping into a
    //    stamp an ANSI reader would trust — or, under the ANSI
    //    default, failing the WRITE from inside the stats pass) and
    //    the query degrades to the scan, which carries Spark's own
    //    session-mode overflow semantics
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_trysum_" + java.util.UUID.randomUUID().toString.take(8)
    Snapshot.commit(Seq((1L, Long.MaxValue), (2L, Long.MaxValue))
      .toDF("k", "v"), dir, 0, "k", nFiles = 1)
    val m3 = Snapshot.manifest(spark, dir, 1)
    assert(m3.files.size == 1 && m3.files.head.rows == 2L,
      "the overflowing write itself must succeed")
    assert(!m3.colStats.keys.exists(_._2 == "sum:v"),
      s"an overflowed per-file sum must not stamp: ${m3.colStats.keySet}")
    assert(m3.colStats.get((m3.files.head.path, "nulls:v"))
      .contains((0L, 0L)), "the NULL witness still stamps")
    val scanQ = spark.read.format("graft").load(dir)
      .agg(sum(col("v")).as("sv"))
    val err = intercept[Exception] { scanQ.collect() }
    assert((err.getMessage + Option(err.getCause)
      .map(_.getMessage).getOrElse("")).toLowerCase.contains("overflow"),
      s"ANSI scan must surface Spark's own overflow error, got: $err")
    // 4. double/float columns pay no sum aggregate at all (their
    //    Double result never stamped); decimal kind-5 slots still do
    val aggsD = Snapshot.autoStatsAggs(Seq(("d", 5)), _ => false)
    assert(!aggsD.exists(_.toString.contains("_sm")),
      s"double column must not aggregate a sum: $aggsD")
    val aggsP = Snapshot.autoStatsAggs(Seq(("p", 5)), _ => true)
    assert(aggsP.exists(_.toString.contains("_sm")),
      s"decimal column keeps its sum aggregate: $aggsP")
    // 5. bounded fold (round 20 — ADVICE): an all-NULL-key file whose
    //    clustering min/max are narrow and wholly INSIDE the window
    //    must VANISH — NULL keys never satisfy a range predicate, so
    //    stamping a NULL-key group row would invent a group the plain
    //    GROUP BY (which keeps the predicate) never emits. Unreachable
    //    from own manifests (the writer stamps all-NULL files with the
    //    full-open sentinel, which straddles into the scan), but the
    //    fold treats manifest fields defensively throughout.
    val m4 = Manifest(1, "g",
      Seq(FileEntry("a", 2, 2, rows = 2, kNulls = 0),
        FileEntry("n", 3, 4, rows = 5, kNulls = 5)),
      colStats = Map(
        ("a", "sum:v") -> (100L, 100L), ("a", "nulls:v") -> (0L, 0L),
        ("n", "nulls:v") -> (5L, 5L)))
    val (grps4, scan4) = Snapshot.metaGroupAggSplitCols(m4, "g",
      gIsClustering = true, Seq(SumSpec("v")), bounds = Some((0L, 10L)))
    assert(scan4.isEmpty,
      s"all-NULL inside-window file must vanish, not scan: $scan4")
    assert(grps4.keySet == Set(Some(2L)),
      s"NULL-key group must not stamp under a bounded fold: $grps4")
    // ...while the UNBOUNDED fold still stamps the NULL group (whose
    // rows plain GROUP BY does emit)
    val (grps4u, scan4u) = Snapshot.metaGroupAggSplitCols(m4, "g",
      gIsClustering = true, Seq(SumSpec("v")))
    assert(scan4u.isEmpty && grps4u.keySet == Set(Some(2L), None),
      s"unbounded fold keeps the NULL group: $grps4u / $scan4u")
  }

  test("global, grouped, and range-windowed AVG answer from sum + " +
    "witness stamps") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metaavg_" + java.util.UUID.randomUUID().toString.take(8)
    // the metadata-SUM fixture's shape: clustered on k; b single-valued
    // per file except the mixed tail; v valued / partially-NULL /
    // all-NULL / mixed; p an exact scale-2 decimal; w never stamps
    def slice(ks: Range, b: Long => Option[Long], v: Long => Option[Long]) =
      ks.map(k => (k.toLong, b(k.toLong), v(k.toLong)))
        .toDF("k", "b", "v")
        .withColumn("p", expr("CAST(k * 1.25 AS DECIMAL(18,2))"))
        .withColumn("w", expr("CAST(k AS DECIMAL(38,18))"))
    val slices = Seq(
      slice(1 to 10, _ => Some(100L), k => Some(k * 2)),      // sum 110/10
      slice(11 to 20, _ => Some(200L),
        k => if (k <= 13) None else Some(k)),                 // sum 119/7
      slice(21 to 30, _ => Some(300L), _ => None),            // all-NULL v
      slice(31 to 35, k => Some(if (k % 2 == 0) 300L else 100L),
        k => Some(k)))                                        // mixed b
    slices.zipWithIndex.foreach { case (df, i) =>
      val carried = if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(df, dir, i, "k", carried, nFiles = 1)
    }
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    // GLOBAL integral avg: every file stamped or provably all-NULL →
    // one LocalRelation row of driver arithmetic; the value is the
    // exact sum divided once (identical to Spark's running double sum
    // for any |sum| < 2^53)
    val ga = front.agg(avg(col("v")).as("av"), count(lit(1)).as("n"))
    assert(isLocal(ga), s"expected LocalRelation:\n${planOf(ga)}")
    assert(ga.collect().toSeq == Seq(Row(394.0 / 22.0, 35L)))
    // GLOBAL decimal avg: Spark's own Average evaluation over the
    // exact micro-unit sum — scale (s+4), half-up, byte-identical
    val gd = front.agg(avg(col("p")).as("ap"))
    assert(isLocal(gd), s"decimal avg must answer from stamps:\n${planOf(gd)}")
    assert(gd.collect().head.getDecimal(0) ==
      new java.math.BigDecimal("22.500000")) // 787.50 / 35
    // the full reflex-matrix mix stays one local row
    val mix = front.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
      min(col("v")).as("mn"), max(col("v")).as("mx"),
      count(col("v")).as("nv"), avg(col("v")).as("av"),
      avg(col("p")).as("ap"))
    assert(isLocal(mix), s"mixed shapes must stay metadata:\n${planOf(mix)}")
    val mr = mix.collect().head
    assert((mr.getLong(0), mr.getLong(1), mr.getLong(2), mr.getLong(3),
      mr.getLong(4), mr.getDouble(5), mr.getDecimal(6).toString) ==
      ((35L, 394L, 2L, 35L, 22L, 394.0 / 22.0, "22.500000")))
    // GROUPED integral avg by the non-clustering b: the three band
    // files answer from stamps, ONLY the mixed tail scans; the
    // all-NULL group's avg comes entirely from the scanned tail
    val m = Snapshot.manifest(spark, dir, 4)
    val mixedFile = m.files.find(f => f.min == 31L).map(_.path)
    val gb = front.groupBy("b").agg(count(lit(1)).as("n"),
      avg(col("v")).as("av"))
    assert(restrictedOf(gb) == mixedFile.map(Set(_)),
      s"mixed-b-file-only scan expected, got:\n${planOf(gb)}")
    assert(gb.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet ==
      Set((100L, 13L, 209.0 / 13.0), (200L, 10L, 119.0 / 7.0),
        (300L, 12L, 66.0 / 2.0)))
    // GROUPED decimal avg merges through the hybrid too (round 20 —
    // the r19 ADVICE low (b) lifted): the scan side sums the decimal
    // child exactly AT the buffer dtype, the widened union total is
    // bound back by Spark's own CheckOverflowInSum (mode-matched:
    // legacy null / ANSI raise), and the division runs once through
    // Average's own evaluation — byte-identical decimals, with only
    // the mixed tail scanned
    val gdp = front.groupBy("b").agg(avg(col("p")).as("ap"))
    assert(restrictedOf(gdp) == mixedFile.map(Set(_)),
      s"grouped decimal avg must scan only the mixed tail:\n${planOf(gdp)}")
    assert(gdp.collect().map(r => (r.getLong(0),
      r.getDecimal(1).toString)).toSet ==
      Set((100L, "14.807692"), (200L, "19.375000"), (300L, "33.437500")))
    // RANGE-WINDOWED avg on the clustering key: inside files from
    // stamps (the all-NULL file contributes only its zero count),
    // outside files vanish — pure metadata here
    val ra = front.filter(col("k") >= 11 && col("k") <= 30)
      .agg(avg(col("v")).as("av"), count(lit(1)).as("n"))
    assert(isLocal(ra), s"windowed avg must answer from stamps:\n${planOf(ra)}")
    assert(ra.collect().toSeq == Seq(Row(119.0 / 7.0, 20L)))
    // straddler: the window cuts INTO file 2 → it scans with the
    // predicate; file 1 serves from stamps
    val rs = front.filter(col("k") >= 1 && col("k") <= 15)
      .agg(avg(col("v")).as("av"))
    val f2 = m.files.find(_.min == 11L).map(_.path)
    assert(restrictedOf(rs) == f2.map(Set(_)),
      s"straddler-only scan expected:\n${planOf(rs)}")
    assert(rs.collect().head.getDouble(0) == (110.0 + 14 + 15) / 12.0)
    // avg of the CLUSTERING column refuses (no sidecar sum stamps by
    // design); avg of the scale-18 decimal refuses (no exact stamp)
    val ak = front.agg(avg(col("k")).as("ak"))
    assert(!isLocal(ak))
    assert(ak.collect().head.getDouble(0) == (1L to 35L).sum / 35.0)
    val aw = front.agg(avg(col("w")).as("aw"))
    assert(!isLocal(aw))
    // an all-NULL column's avg answers NULL from metadata
    val d2 = dir + "_nullcol"
    Snapshot.commit((1L to 8L).map((_, Option.empty[Long]))
      .toDF("k", "v"), d2, 0, "k", nFiles = 2)
    val nq = spark.read.format("graft").load(d2)
      .agg(avg(col("v")).as("av"))
    assert(isLocal(nq))
    assert(nq.collect().head.isNullAt(0))
    // a DV degrades its file into the hybrid scan branch: the merge
    // divides the union's (sum, count) exactly once — for BOTH the
    // double-buffer avg and (round 20) the DECIMAL-buffer avg, whose
    // exact micro-unit stamp + exact decimal scan partial reproduce
    // the scan's byte-identical decimal
    Snapshot.deleteWhereDV(spark, dir, 5L, 5L)
    val dq = front.agg(avg(col("v")).as("av"), count(col("v")).as("nv"),
      avg(col("p")).as("ap"))
    val dvFile = Snapshot.manifest(spark, dir, 5).dvs.keySet
    assert(restrictedOf(dq) == Some(dvFile),
      s"DV'd-file-only scan expected, got:\n${planOf(dq)}")
    val dqr = dq.collect().head
    assert(dqr.getDouble(0) == 384.0 / 21.0 && dqr.getLong(1) == 21L &&
      dqr.getDecimal(2).toString == "22.977941") // 781.25 / 34
    // COMPACTION re-stamps: the compacted head (DV applied) goes back
    // to pure metadata
    Snapshot.compactVersion(spark, dir, Long.MaxValue)
    val pc = front.agg(avg(col("v")).as("av"), avg(col("p")).as("ap"))
    assert(isLocal(pc),
      s"post-compaction avg must stay metadata:\n${planOf(pc)}")
    val pr = pc.collect().head
    assert(pr.getDouble(0) == 384.0 / 21.0 &&
      pr.getDecimal(1).toString == "22.977941") // 781.25 / 34
    // TIME TRAVEL: the pre-DV manifest still serves the un-masked avg
    val tt = spark.read.format("graft").option("versionAsOf", "4")
      .load(dir).agg(avg(col("v")).as("av"))
    assert(isLocal(tt), s"pre-DV version must stay metadata:\n${planOf(tt)}")
    assert(tt.collect().head.getDouble(0) == 394.0 / 22.0)
    // round 20 (ADVICE): the decimal avg SUM-BUFFER reconstruction is
    // bounded to the buffer dtype Decimal(p+10, s) — a stamped total
    // that does not fit must REFUSE (the scan then raises the overflow
    // with query context) rather than flow into Literal.create, whose
    // converter would NULL it silently under ANSI. Unit-level: the
    // buffer for a Decimal(4,2) child is Decimal(14,2); 9e18
    // micro-units = 9e12 > its max ~1e12.
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.Average
    import org.apache.spark.sql.types.DecimalType
    val pa = AttributeReference("p", DecimalType(4, 2))()
    val paFn = Average(pa)
    val rule = graft.plans.MetadataOnlyCountRule(spark)
    assert(rule.avgSumBuffer(paFn, pa, 50000000L, any = true)
      .contains(org.apache.spark.sql.types.Decimal(
        scala.math.BigDecimal("50.00"), 14, 2)),
      "a fitting total reconstructs the exact buffer value")
    assert(rule.avgSumBuffer(paFn, pa, 9000000000000000000L,
      any = true).isEmpty,
      "a total beyond Decimal(p+10,s) must refuse, not null under ANSI")
  }

  test("HLL sidecars: any-layout distinct estimates, refusal ladder, " +
    "re-stamp lifecycle") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_hll_" + java.util.UUID.randomUUID().toString.take(8)
    // 4 files clustered by k; v cycles over 500 distinct values so NO
    // layout serves it exactly; w all-NULL; u low-cardinality (3)
    val df = (1L to 4000L).map(k =>
      (k, k % 500L, Option.empty[Long], k % 3L)).toDF("k", "v", "w", "u")
    Snapshot.commit(df, dir, 0, "k", nFiles = 4)
    Snapshot.optimizeHll(spark, dir, Seq("v", "w", "u"))
    val m = Snapshot.manifest(spark, dir, 2)
    // the high-cardinality estimate is within 5 sigma of the p=12
    // sketch's rsd (1.6%) — and deterministic for this fixed input
    val (estV, rsdV) = Snapshot.metaDistinctMeta(m, "v").get
    assert(math.abs(estV - 500L) <= 500.0 * 5 * rsdV,
      s"v estimate $estV vs exact 500 (rsd $rsdV)")
    // the low-cardinality estimate is EXACT via linear counting
    assert(Snapshot.metaDistinctMeta(m, "u").map(_._1).contains(3L))
    // an all-NULL column stamps no sketch but the witness proves every
    // file value-free: the merge answers 0
    assert(m.strStats.keys.forall(_._2 != Snapshot.HllPfx + "w"))
    assert(Snapshot.metaDistinctMeta(m, "w").map(_._1).contains(0L))
    // an unsketched column refuses (no stamp, files have rows)
    assert(Snapshot.metaDistinctMeta(m, "k").isEmpty)
    // payload corruption refuses whole (never a wrong estimate)
    val corrupt = m.copy(strStats = m.strStats.map {
      case ((pth, c), _) if c == Snapshot.HllPfx + "v" =>
        ((pth, c), ("!bad", "12"))
      case e => e
    })
    assert(Snapshot.metaDistinctMeta(corrupt, "v").isEmpty)
    // round 20 (ADVICE): a payload that passes the length and
    // base64-alphabet checks but carries register ranks above the
    // legal maximum (64 - p + 1 = 53 at p=12) is corrupt too — it
    // must trigger the same refusal, not silently skew the estimate
    // upward ('+' decodes to rank 62)
    val overRank = m.copy(strStats = m.strStats.map {
      case ((pth, c), (_, pr)) if c == Snapshot.HllPfx + "v" =>
        ((pth, c), ("+" * 4096, pr))
      case e => e
    })
    assert(Snapshot.metaDistinctMeta(overRank, "v").isEmpty,
      "out-of-range register ranks must refuse, not skew")
    // a DV refuses (masked rows cannot be un-merged from a sketch)
    Snapshot.deleteWhereDV(spark, dir, 5L, 5L)
    val mDv = Snapshot.manifest(spark, dir, 3)
    assert(Snapshot.metaDistinctMeta(mDv, "v").isEmpty,
      "a deletion vector must refuse the sketch merge")
    // compaction rewrites files -> no sketches -> refuse; re-running
    // optimizeHll serves again (the degraded-never-wrong lifecycle)
    Snapshot.compactVersion(spark, dir, Long.MaxValue)
    val mC = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    assert(Snapshot.metaDistinctMeta(mC, "v").isEmpty,
      "rewritten files carry no sketch and must refuse")
    Snapshot.optimizeHll(spark, dir, Seq("v"))
    val mR = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    val (estV2, rsdV2) = Snapshot.metaDistinctMeta(mR, "v").get
    // key 5 (v=5) was DV-deleted pre-compaction; v=5 survives at
    // k=505, 1005, ... so the exact distinct count is still 500
    assert(math.abs(estV2 - 500L) <= 500.0 * 5 * rsdV2)
    // the hll:-shadow discipline: a user column literally named
    // hll:<c> is never sketched, never stamps, and its pushed filters
    // never prune by whatever sits at its key
    intercept[IllegalArgumentException] {
      Snapshot.optimizeHll(spark, dir, Seq("hll:v"))
    }
    val d2 = dir + "_shadow"
    (1L to 6L).map(k => (k, s"s$k")).toDF("k", "hll:v")
      .write.format("graft").option("statsCol", "k").save(d2)
    val shq = spark.read.format("graft").load(d2)
      .filter(col("`hll:v`") === "s3")
    assert(shq.count() == 1L,
      "a pseudo-named user column must stay un-pruned and exact")
    // precision bounds hold
    intercept[IllegalArgumentException] {
      Snapshot.optimizeHll(spark, dir, Seq("v"), precision = 15)
    }
  }

  test("variance and stddev answer from moment stamps; hybrids and " +
    "overflowed squares refuse") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_metamom_" + java.util.UUID.randomUUID().toString.take(8)
    // three pure band files (b single-valued; v valued/partial/all-NULL)
    def slice(ks: Range, b: Long, v: Long => Option[Long]) =
      ks.map(k => (k.toLong, b, v(k.toLong))).toDF("k", "b", "v")
    Seq(
      slice(1 to 10, 100L, k => Some(k * 2)),
      slice(11 to 20, 200L, k => if (k <= 13) None else Some(k)),
      slice(21 to 30, 300L, _ => None)
    ).zipWithIndex.foreach { case (df, i) =>
      val carried = if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(df, dir, i, "k", carried, nFiles = 1)
    }
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    // GLOBAL: n=17, sx=229, sxx=3591 -> D=17*3591-229**2=8606
    // expected values spelled with the serve's own rounding chain
    val d17 = 8606.0
    val g = front.agg(count(lit(1)).as("n"), var_samp(col("v")).as("vs"),
      var_pop(col("v")).as("vp"), stddev_samp(col("v")).as("ss"),
      stddev_pop(col("v")).as("sp"), avg(col("v")).as("av"))
    assert(isLocal(g), s"moments must answer from stamps:\n${planOf(g)}")
    val gr = g.collect().head
    assert(gr.getLong(0) == 30L)
    assert(gr.getDouble(1) == d17 / 17.0 / 16.0)
    assert(gr.getDouble(2) == d17 / 17.0 / 17.0)
    assert(gr.getDouble(3) == math.sqrt(d17 / 17.0 / 16.0))
    assert(gr.getDouble(4) == math.sqrt(d17 / 17.0 / 17.0))
    // GROUPED full-metadata: per-band moments; the all-NULL band is NULL
    val gb = front.groupBy("b").agg(count(lit(1)).as("n"),
      var_samp(col("v")).as("vs"))
    assert(isLocal(gb), s"grouped moments must answer from stamps:\n${planOf(gb)}")
    assert(gb.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet ==
      Set((100L, 10L, 3300.0 / 10.0 / 9.0),
        (200L, 10L, 196.0 / 7.0 / 6.0),
        (300L, 10L, -1.0)))
    // WINDOWED on the clustering key (whole files only)
    val w = front.filter(col("k") >= 11 && col("k") <= 30)
      .agg(var_samp(col("v")).as("vs"))
    assert(isLocal(w))
    assert(w.collect().head.getDouble(0) == 196.0 / 7.0 / 6.0)
    // a STRADDLED window (round 20): the cut file scans restricted
    // with the predicate — its sq: stamp present, so the exact hybrid
    // merge serves: n=12, sx=139, sxx=1961 -> D=12*1961-139**2=4211
    val ws = front.filter(col("k") >= 1 && col("k") <= 15)
      .agg(var_samp(col("v")).as("vs"))
    assert(!isLocal(ws))
    assert(ws.collect().head.getDouble(0) == 4211.0 / 12.0 / 11.0,
      s"straddler hybrid variance:\n${planOf(ws)}")
    // variance over the CLUSTERING column refuses (no sidecar stamps)
    assert(!isLocal(front.agg(var_samp(col("k")).as("v"))))
    // n == 1: Spark's own evaluation decides (nullOnDivideByZero) —
    // served from stamps AND null, matching the scan
    val d1 = dir + "_one"
    Snapshot.commit(Seq((1L, 5L)).toDF("k", "v"), d1, 0, "k", nFiles = 1)
    val one = spark.read.format("graft").load(d1)
      .agg(var_samp(col("v")).as("vs"), var_pop(col("v")).as("vp"))
    assert(isLocal(one))
    val or1 = one.collect().head
    assert(or1.isNullAt(0) && or1.getDouble(1) == 0.0)
    // a file holding ONE row whose square overflows a Long refuses its
    // sq stamp (try_multiply per-row gate) -> variance scans; the sum
    // stamp is unaffected and still serves
    val d2 = dir + "_bigsq"
    Snapshot.commit(Seq((1L, 4000000000L), (2L, 7L)).toDF("k", "v"),
      d2, 0, "k", nFiles = 1)
    val m2f = Snapshot.manifest(spark, d2, 1)
    assert(!m2f.colStats.keys.exists(_._2 == Snapshot.SqPfx + "v"),
      s"an overflowing square must not stamp: ${m2f.colStats.keySet}")
    assert(m2f.colStats.keys.exists(_._2 == Snapshot.SumPfx + "v"))
    val bq = spark.read.format("graft").load(d2)
    assert(!isLocal(bq.agg(var_samp(col("v")).as("vs"))),
      "a missing sq stamp must refuse to the scan")
    assert(isLocal(bq.agg(sum(col("v")).as("sv"))))
    // a DV'd file degrades into the HYBRID scan branch (round 20 —
    // the r19 verdict's task 5): its sq: stamp is PRESENT — the
    // per-row try_multiply gate proves every value in the file is
    // bounded, so the restricted scan's Decimal(38,0) Σx/Σx²
    // partials are exact integers and the merged moments run the
    // SAME deterministic chain as the pure-stamp arm (BigInt
    // difference, one double conversion, Spark's own evaluation)
    Snapshot.deleteWhereDV(spark, dir, 5L, 5L)
    import graft.sources.GraftRelation
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    val dvFile = Snapshot.manifest(spark, dir, 4).dvs.keySet
    val dv = front.agg(var_samp(col("v")).as("vs"),
      var_pop(col("v")).as("vp"), stddev_samp(col("v")).as("ss"),
      count(lit(1)).as("n"))
    assert(restrictedOf(dv) == Some(dvFile),
      s"DV'd-file-only scan expected for hybrid moments:\n${planOf(dv)}")
    // post-DV: n=16 values, sx=219, sxx=3491 -> D=16*3491-219**2=7895
    val dr = dv.collect().head
    val d16 = 7895.0
    assert(dr.getDouble(0) == d16 / 16.0 / 15.0)
    assert(dr.getDouble(1) == d16 / 16.0 / 16.0)
    assert(dr.getDouble(2) == math.sqrt(d16 / 16.0 / 15.0))
    assert(dr.getLong(3) == 29L)
    // the GROUPED hybrid rides the same guard (round 20): the DV'd
    // band scans restricted, stamped bands serve from their moments,
    // merged per group through the same deterministic chain; the
    // all-NULL band still answers NULL
    val gdv = front.groupBy("b").agg(var_samp(col("v")).as("vs"))
    assert(restrictedOf(gdv) == Some(dvFile),
      s"grouped DV'd-file-only scan expected:\n${planOf(gdv)}")
    // band 100 post-DV: 9 values, sx=100, sxx=1440 -> D=2960
    assert(gdv.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toSet ==
      Set((100L, 2960.0 / 9.0 / 8.0), (200L, 196.0 / 7.0 / 6.0),
        (300L, -1.0)))
    // the bigsq fixture pins the other side of the guard above: a
    // file MISSING its sq: stamp proves nothing about its values and
    // still refuses whole (bq asserts it)
  }

  test("collapsed literal outputs serve through every metadata rewrite " +
    "(the registered queries actually fire)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // CollapseProject folds the phase-literal select every registered
    // report wraps around its aggregate INTO the Aggregate — round 19
    // found the rewrites silently refusing those shapes, with the
    // flagship metadata queries benching as full scans (unnoticed
    // because integer sums coincide with the scan answers; the
    // variance serve exposed it). Literal outputs are now first-class
    // across ALL rewrite families. Pin the worst case end-to-end: the
    // registered q179 must plan ZERO relation scans...
    val q179 = SparkEntry.queries("q179_agg_meta_moments")(spark, sf)
    assert(q179.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty,
      s"q179 must be pure metadata:\n${q179.queryExecution.optimizedPlan}")
    // ...and each family unit-wise over one fixture
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_litout_" + java.util.UUID.randomUUID().toString.take(8)
    Snapshot.commit((1L to 20L).map(k => (k, k % 2, k * 3))
      .toDF("k", "b", "v"), dir, 0, "k", nFiles = 2)
    def front = spark.read.format("graft").load(dir)
    def isLocal(df: DataFrame): Boolean = {
      val p = df.queryExecution.optimizedPlan
      p.collectFirst { case l: LocalRelation => l }.nonEmpty &&
        p.collectFirst { case lr: LogicalRelation => lr }.isEmpty
    }
    // 1. pure counts + literals (dispatch arm 1)
    val c = front.agg(count(lit(1)).as("n"))
      .select(lit("phase").as("p"), col("n"), lit(7L).as("tag"))
    assert(isLocal(c), s"counts+lits:\n${c.queryExecution.optimizedPlan}")
    assert(c.collect().toSeq == Seq(Row("phase", 20L, 7L)))
    // 2. min/max mix + literal (minMaxRewrite)
    val mm = front.agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
      count(lit(1)).as("n")).select(col("mn"), col("mx"), col("n"),
      lit(-1).as("rcode"))
    assert(isLocal(mm))
    assert(mm.collect().toSeq == Seq(Row(1L, 20L, 20L, -1)))
    // 3. distinct counts + literal (distinctCountRewrite — needs a
    //    single-valued-per-file column, so it runs over the banded d2
    //    fixture below)
    val d2 = dir + "_grp"
    Seq((1L to 10L).map(k => (k, 100L, k * 2)),
      (11L to 20L).map(k => (k, 200L, k * 2)))
      .map(_.toDF("k", "b", "v")).zipWithIndex.foreach { case (df, i) =>
        val carried =
          if (i == 0) Nil else Snapshot.manifest(spark, d2, i).files
        Snapshot.commit(df, d2, i, "k", carried, nFiles = 1)
      }
    val dc = spark.read.format("graft").load(d2)
      .agg(countDistinct(col("b")).as("nd"), count(col("b")).as("nk"))
      .select(col("nd"), col("nk"), lit("x").as("tag"))
    assert(isLocal(dc), s"distinct+lits:\n${dc.queryExecution.optimizedPlan}")
    assert(dc.collect().toSeq == Seq(Row(2L, 20L, "x")))
    // 4. grouped counts + literal (groupedCountRewrite)
    val g2 = spark.read.format("graft").load(d2)
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .select(lit("g").as("phase"), col("b"), col("n"))
    assert(isLocal(g2), s"grouped counts+lits:\n${g2.queryExecution.optimizedPlan}")
    assert(g2.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSet == Set(("g", 100L, 10L), ("g", 200L, 10L)))
    // 5. grouped sums/avg + literal (aggRewrite with one key)
    val g3 = spark.read.format("graft").load(d2)
      .groupBy(col("b")).agg(sum(col("v")).as("sv"),
        avg(col("v")).as("av"))
      .select(lit(0L).as("n_scan"), col("b"), col("sv"), col("av"))
    assert(isLocal(g3))
    assert(g3.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).toSet ==
      Set((0L, 100L, 110L, 11.0), (0L, 200L, 310L, 31.0)))
    // 6. SCALAR-WRAPPED aggregates (the other CollapseProject shape:
    //    `F.od(sum(x))`, `avg(x) * 1e6` folded into the Aggregate) —
    //    global, grouped, and through the hybrid merge
    val w1 = front.agg(sum(col("v")).as("sv"), avg(col("v")).as("av"))
      .select((col("sv") * 2).cast("double").as("sv2"),
        (col("av") * lit(1000000)).cast("long").as("av_micros"),
        lit("w").as("phase"))
    assert(isLocal(w1), s"wrapped aggs must serve:\n${w1.queryExecution.optimizedPlan}")
    assert(w1.collect().toSeq ==
      Seq(Row(630.0 * 2, (31.5 * 1000000).toLong, "w")))
    val w2 = spark.read.format("graft").load(d2)
      .groupBy(col("b")).agg(sum(col("v")).as("sv"))
      .select(col("b"), (col("sv") + 1L).as("svp"), lit(1).as("tag"))
    assert(isLocal(w2), s"grouped wrapped aggs must serve:\n${w2.queryExecution.optimizedPlan}")
    assert(w2.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getInt(2))).toSet == Set((100L, 111L, 1), (200L, 311L, 1)))
    // a wrapper referencing the GROUPING attribute cannot fold on the
    // driver: refuse to the plain scan, answers unchanged
    val w3 = spark.read.format("graft").load(d2)
      .groupBy(col("b")).agg(sum(col("v")).as("sv"))
      .select((col("sv") + col("b")).as("svb"))
    assert(!isLocal(w3))
    assert(w3.collect().map(_.getLong(0)).toSet == Set(210L, 510L))
    // a wrapped PURE count ("count(*) * 2") — beyond dispatch arm 1's
    // bare shapes — serves through the generalized machinery
    val w4 = front.agg(count(lit(1)).as("n"))
      .select((col("n") * 2).as("n2"), lit("c").as("phase"))
    assert(isLocal(w4), s"wrapped count must serve:\n${w4.queryExecution.optimizedPlan}")
    assert(w4.collect().toSeq == Seq(Row(40L, "c")))
    // round 20 (ADVICE high): a wrapper whose references COINCIDE with
    // the aggregate's (`sum(b) + b GROUP BY b`) passes the bare subset
    // check, but substituting the merged Sum tree under a HYBRID merge
    // would leave a bare `b` no union output resolves — an unresolvable
    // plan that crashes at binding. The guard must refuse upfront. Add
    // a mixed-b file so the grouped fold degrades it and the hybrid arm
    // is the one that would have planned.
    Snapshot.commit(Seq((21L, 100L, 1L), (22L, 200L, 1L))
      .toDF("k", "b", "v"), d2, 2, "k",
      Snapshot.manifest(spark, d2, 2).files, nFiles = 1)
    val w5 = spark.read.format("graft").load(d2)
      .groupBy(col("b")).agg(sum(col("b")).as("sb"))
      .select((col("sb") + col("b")).as("sbb"))
    assert(!isLocal(w5),
      s"coinciding-reference wrapper must refuse:\n${w5.queryExecution.optimizedPlan}")
    assert(w5.collect().map(_.getLong(0)).toSet == Set(1200L, 2400L))
    // and the legit wrapper still serves as a hybrid over the same
    // now-degraded fixture (the fix must not over-refuse)
    val w6 = spark.read.format("graft").load(d2)
      .groupBy(col("b")).agg(sum(col("v")).as("sv"))
      .select(col("b"), (col("sv") + 1L).as("svp"))
    assert(w6.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((100L, 112L), (200L, 312L)))
  }

  test("META: every registered metadata-family query plans LocalRelation " +
    "serving with restricted-only scans (the q166-q177 lesson, " +
    "systematically)") {
    // Round 19 found q166-q177's REGISTERED spellings silently
    // benching as full scans (CollapseProject folded the
    // phase-literal projections into the Aggregate; the rewrites
    // refused wrapped/literal outputs) while the specs exercised
    // unwrapped twins that did rewrite. This meta-spec walks the
    // registered entries themselves so a future optimizer-folding
    // change can never regress the plans while answers stay green:
    // each plan must carry at least one LocalRelation (the rewrite
    // actually fired) and every remaining relation scan must be a
    // RESTRICTED GraftRelation (a hybrid boundary, never a full scan).
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val metaFamily = Seq(
      "q166_stats_count", "q167_stats_range", "q168_stats_minmax",
      "q171_group_meta", "q172_stats_dcount", "q173_group_meta_col",
      "q175_agg_meta_sum", "q176_agg_meta_extrema", "q177_agg_meta_avg",
      "q179_agg_meta_moments", "q180_agg_meta_gwindow",
      "q183_agg_meta_moments_dv")
    val bad = metaFamily.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.optimizedPlan
      val locals = plan.collect { case l: LocalRelation => l }
      val unrestricted = plan.collect { case lr: LogicalRelation => lr }
        .filterNot(_.relation match {
          case g: GraftRelation => g.isRestricted
          case _ => false
        })
      if (locals.isEmpty)
        Some(s"$name: no LocalRelation — the rewrite did not fire:\n$plan")
      else if (unrestricted.nonEmpty)
        Some(s"$name: ${unrestricted.size} UNRESTRICTED scan(s):\n$plan")
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n\n"))
  }

  test("sq: square-sum stamps gate behind spark.graft.autoStats.sq " +
    "(default on; opting out loses only the variance serve)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def isLocal(df: DataFrame): Boolean = {
      val p = df.queryExecution.optimizedPlan
      p.collectFirst { case l: LocalRelation => l }.nonEmpty &&
        p.collectFirst { case lr: LogicalRelation => lr }.isEmpty
    }
    // a SEPARATE session opts out — conf isolation is the point (a
    // wide-table writer disables sq: without touching anyone else)
    val ns = spark.newSession()
    ns.conf.set(Snapshot.AutoStatsSqKey, "false")
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_sqgate_" + java.util.UUID.randomUUID().toString.take(8)
    Snapshot.commit(ns.createDataFrame((1L to 10L).map(k => (k, k * 2)))
      .toDF("k", "v"), dir, 0, "k", nFiles = 2)
    val m = Snapshot.manifest(ns, dir, 1)
    assert(!m.colStats.keys.exists(_._2.startsWith(Snapshot.SqPfx)),
      s"disabled session must write no sq: entries: ${m.colStats.keySet}")
    // every OTHER stamp is unaffected: the sum and the NULL witness
    assert(m.colStats.keys.exists(_._2 == Snapshot.SumPfx + "v"))
    assert(m.colStats.keys.exists(_._2 == Snapshot.NullsPfx + "v"))
    // variance degrades to the scan (correct, just not metadata)...
    val q = ns.read.format("graft").load(dir)
      .agg(var_samp(col("v")).as("vv"))
    assert(q.queryExecution.optimizedPlan.collectFirst {
      case l: LocalRelation => l }.isEmpty,
      "an sq:-less table must not serve variance from metadata")
    assert(math.abs(q.collect().head.getDouble(0) - 330.0 / 9) < 1e-9)
    // ...while sum still serves from its (ungated) stamp
    val sq2 = ns.read.format("graft").load(dir).agg(sum(col("v")).as("sv"))
    assert(isLocal(sq2), "sum stamps must survive the sq: opt-out")
    assert(sq2.collect().head.getLong(0) == 110L)
    // the DEFAULT session stamps sq: and serves variance from metadata
    // (q179's fixture rides this default)
    val dir2 = dir + "_on"
    Snapshot.commit(spark.createDataFrame((1L to 10L).map(k => (k, k * 2)))
      .toDF("k", "v"), dir2, 0, "k", nFiles = 2)
    val m2 = Snapshot.manifest(spark, dir2, 1)
    assert(m2.colStats.keys.exists(_._2 == Snapshot.SqPfx + "v"),
      s"default-on session must stamp sq: entries: ${m2.colStats.keySet}")
    val v2 = spark.read.format("graft").load(dir2)
      .agg(var_samp(col("v")).as("vv"))
    assert(isLocal(v2),
      s"default session serves variance from stamps:\n${v2.queryExecution.optimizedPlan}")
    assert(math.abs(v2.collect().head.getDouble(0) - 330.0 / 9) < 1e-9)
  }

  test("grouped aggregates under a clustering-range window: inside " +
    "bands from stamps, straddlers scan, outside vanish") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.GraftRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_gwin_" + java.util.UUID.randomUUID().toString.take(8)
    // the statusOrders shape in miniature: three single-valued bands
    // on the CLUSTERING column s + one mixed tail spanning [10, 20]
    def slice(ss: Seq[Long], v: Long => Long) =
      ss.zipWithIndex.map { case (sv, i) => (sv, v(i.toLong)) }
        .toDF("s", "v")
    Seq(
      slice(Seq.fill(4)(10L), i => i + 1),       // band 10: v 1..4
      slice(Seq.fill(4)(20L), i => (i + 1) * 10),// band 20: v 10..40
      slice(Seq.fill(4)(30L), i => (i + 1) * 100),
      slice(Seq(10L, 20L, 10L, 20L), i => 1000L + i) // mixed tail
    ).zipWithIndex.foreach { case (df, i) =>
      val carried = if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(df, dir, i, "s", carried, nFiles = 1)
    }
    def front = spark.read.format("graft").load(dir)
    def planOf(df: DataFrame) = df.queryExecution.optimizedPlan
    def isLocal(df: DataFrame): Boolean =
      planOf(df).collectFirst { case l: LocalRelation => l }.nonEmpty &&
        planOf(df).collectFirst { case lr: LogicalRelation => lr }.isEmpty
    def restrictedOf(df: DataFrame): Option[Set[String]] =
      planOf(df).collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation]
          => lr.relation.asInstanceOf[GraftRelation].restrictedSet
      }.flatten
    val m = Snapshot.manifest(spark, dir, 4)
    val tail = m.files.find(f => f.min == 10L && f.max == 20L).map(_.path)
    assert(tail.isDefined, s"fixture: expected a mixed tail, ${m.files}")
    // the dashboard shape: counts + sums + avg + extrema per band
    // inside the window [20, 35] — band 20 and 30 from stamps, the
    // tail straddles (scans WITH the predicate), band 10 vanishes
    val q = front.filter(col("s") >= 20 && col("s") <= 35)
      .groupBy(col("s")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        avg(col("v")).as("av"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
    assert(restrictedOf(q) == tail.map(Set(_)),
      s"straddler-only scan expected:\n${planOf(q)}")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getLong(4), r.getLong(5))).toSet ==
      Set((20L, 6L, 100L + 1001 + 1003, (2104.0) / 6.0, 10L, 1003L),
        (30L, 4L, 1000L, 250.0, 100L, 400L)))
    // a window covering WHOLE bands only: pure metadata, zero scan
    val w2 = front.filter(col("s") >= 25 && col("s") <= 35)
      .groupBy(col("s")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(isLocal(w2), s"whole-band window must be metadata:\n${planOf(w2)}")
    assert(w2.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).toSeq == Seq((30L, 4L, 1000L)))
    // a contradictory range answers zero groups from the predicate
    val w3 = front.filter(col("s") >= 35 && col("s") <= 25)
      .groupBy(col("s")).agg(sum(col("v")).as("sv"))
    assert(isLocal(w3) && w3.collect().isEmpty)
    // grouping by a NON-clustering column under a range filter refuses
    // (bounds and grouping must speak about the same stamps)
    val w4 = front.filter(col("s") >= 20 && col("s") <= 35)
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    assert(!isLocal(w4))
    assert(w4.count() == 10L)
  }

  test("approx_count_distinct rewrites to the HLL sidecar merge only " +
    "behind the explicit conf (default off; q178 refusal ladder)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_ahll_" + java.util.UUID.randomUUID().toString.take(8)
    def slice(sv: Long, us: Seq[Option[Long]]) =
      us.zipWithIndex.map { case (u, i) => (sv * 100 + i, sv, u) }
        .toDF("k", "s", "u")
    Seq(
      slice(10L, (1 to 40).map(i => Some(i % 7L))),   // 7 distinct
      slice(20L, (1 to 40).map(i => Some(i % 19L)))   // 19 distinct
    ).zipWithIndex.foreach { case (df, i) =>
      val carried = if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(df, dir, i, "s", carried, nFiles = 1)
    }
    Snapshot.optimizeHll(spark, dir, Seq("u"))
    val m = Snapshot.manifest(spark, dir, 3)
    val Some((estG, _)) = Snapshot.metaDistinctMeta(m, "u")
    def isLocal(df: DataFrame): Boolean = {
      val p = df.queryExecution.optimizedPlan
      p.collectFirst { case l: LocalRelation => l }.nonEmpty &&
        p.collectFirst { case lr: LogicalRelation => lr }.isEmpty
    }
    // DEFAULT OFF: the plan scans — Spark's own HLL++ answers, the
    // rewrite must NEVER fire silently (it changes answers)
    val off = spark.read.format("graft").load(dir)
      .agg(approx_count_distinct(col("u")).as("e"))
    assert(!isLocal(off), "the rewrite must never fire silently")
    // an opted-in session serves the sidecar estimate verbatim from a
    // LocalRelation, count-star (exact) and literals mixing
    val ns = spark.newSession()
    ns.conf.set(
      graft.plans.MetadataOnlyCountRule.ApproxDistinctSketchKey, "true")
    val on = ns.read.format("graft").load(dir)
      .agg(approx_count_distinct(col("u")).as("e"), count(lit(1)).as("n"))
      .select(col("e"), col("n"), lit("w").as("phase"))
    assert(isLocal(on),
      s"opted-in rewrite must serve:\n${on.queryExecution.optimizedPlan}")
    assert(on.collect().toSeq == Seq(Row(estG, 80L, "w")))
    // a request TIGHTER than the sketch's rsd (p=12 ~ 0.016) refuses —
    // the rewrite never serves a looser estimate than asked
    val tight = ns.read.format("graft").load(dir)
      .agg(approx_count_distinct(col("u"), 0.005).as("e"))
    assert(!isLocal(tight), "a tighter-than-sketch rsd must refuse")
    // grouped: per-band estimates verbatim from the grouped merge
    val Some((estB, _)) = Snapshot.metaGroupDistinctMeta(m, "s",
      gIsClustering = true, "u")
    val gon = ns.read.format("graft").load(dir)
      .groupBy(col("s")).agg(approx_count_distinct(col("u")).as("e"))
    assert(isLocal(gon),
      s"grouped opt-in must serve:\n${gon.queryExecution.optimizedPlan}")
    assert(gon.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      estB.map { case (k, v) => (k.get, v) }.toSet)
    // a DV refuses both shapes to the plain scan (even opted-in) —
    // the clustering column is s, so mask the s=10 band
    Snapshot.deleteWhereDV(spark, dir, 10L, 10L)
    assert(!isLocal(ns.read.format("graft").load(dir)
      .agg(approx_count_distinct(col("u")).as("e"))))
    assert(!isLocal(ns.read.format("graft").load(dir)
      .groupBy(col("s")).agg(approx_count_distinct(col("u")).as("e"))))
  }

  test("per-group HLL estimates: distinct-per-band from sketches, " +
    "all-or-nothing refusals") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_ghll_" + java.util.UUID.randomUUID().toString.take(8)
    // three bands single-valued on the clustering s; u's distinct
    // count differs per band; band 30 all-NULL on u
    def slice(sv: Long, us: Seq[Option[Long]]) =
      us.zipWithIndex.map { case (u, i) => (sv * 100 + i, sv, u) }
        .toDF("k", "s", "u")
    Seq(
      slice(10L, (1 to 40).map(i => Some(i % 7L))),   // 7 distinct
      slice(20L, (1 to 40).map(i => Some(i % 19L))),  // 19 distinct
      slice(30L, Seq.fill(5)(Option.empty[Long]))     // all-NULL
    ).zipWithIndex.foreach { case (df, i) =>
      val carried = if (i == 0) Nil else Snapshot.manifest(spark, dir, i).files
      Snapshot.commit(df, dir, i, "s", carried, nFiles = 1)
    }
    Snapshot.optimizeHll(spark, dir, Seq("u"))
    val m = Snapshot.manifest(spark, dir, 4)
    // grouping by the CLUSTERING column (bands are single-valued)
    val Some((est, rsd)) =
      Snapshot.metaGroupDistinctMeta(m, "s", gIsClustering = true, "u")
    assert(est.keySet == Set(Some(10L), Some(20L), Some(30L)), s"$est")
    // small cardinalities ride the linear-counting arm: exact
    assert(est(Some(10L)) == 7L && est(Some(20L)) == 19L, s"$est")
    assert(est(Some(30L)) == 0L, "an all-NULL band answers 0 distinct")
    assert(rsd > 0.0)
    // exact reference agrees
    val exact = spark.read.format("graft").load(dir)
      .groupBy("s").agg(countDistinct(col("u")).as("nd")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(est.map { case (k, v) => (k.get, v) } == exact)
    // a mixed-band file refuses WHOLE (a sketch cannot be split)
    val mixed = (1L to 4L).map(i => (1000L + i, if (i <= 2) 10L else 20L,
      Some(i))).toDF("k", "s", "u")
    Snapshot.commit(mixed, dir, 4, "s",
      carried = Snapshot.manifest(spark, dir, 4).files, nFiles = 1)
    Snapshot.optimizeHll(spark, dir, Seq("u"))
    val m2 = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    assert(Snapshot.metaGroupDistinctMeta(m2, "s",
      gIsClustering = true, "u").isEmpty,
      "a mixed-valued band file must refuse the per-group merge")
    // a DV refuses too (the global reader's discipline)
    assert(Snapshot.metaDistinctMeta(m2, "u").isDefined)
    Snapshot.deleteWhereDV(spark, dir, 1001L, 1001L)
    val m3 = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    assert(Snapshot.metaGroupDistinctMeta(m3, "s",
      gIsClustering = true, "u").isEmpty)
  }
}
