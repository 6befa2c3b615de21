package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Snapshot

/** The snapshot table's transactional contract: atomic publish, torn
  * writes invisible, optimistic-concurrency loser aborts cleanly,
  * time travel, file-level copy-on-write, stats pruning, vacuum.
  * These are the guarantees that make q124/q125's MERGE target real
  * rather than a merge PLAN over bare parquet. */
class SnapshotSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft_snap").toString + "/t"

  /** 800 rows, keys 1..800 — range-partitioned into 8 files on commit,
    * so each file covers ~100 consecutive keys (what makes narrow COW
    * and pruning observable). */
  private def baseRows(n: Int = 800): DataFrame = {
    import spark.implicits._
    (1 to n).map(k => (k.toLong, s"val_$k", "K")).toDF("k", "v", "verdict")
  }

  private def state(dir: String, version: Int = 0): Set[(Long, String, String)] =
    Snapshot.read(spark, dir, version).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("bounds-known COW writes equal the sampling path: content, " +
    "disjoint ranges, honest fallback") {
    import spark.implicits._
    // inserts OUTSIDE the key range (the shape that exercises edge-bucket
    // clamping) plus either an update of every key — more than half of
    // the touched rows, so the merge rewrites all 8 files copy-on-write —
    // or updates scattered across every file, which the merge masks and
    // appends merge-on-read
    def changes(upd: Seq[Int]): DataFrame = (upd.map(k =>
      (k.toLong, "U", s"upd_$k")) ++ Seq((900L, "I", "ins_900"),
      (950L, "I", "ins_950"))).toDF("k", "op", "nv")
    def applyCh(base: DataFrame, ch: DataFrame): DataFrame =
      base.join(ch, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("nv"), col("v")).as("v"),
          coalesce(col("verdict"), lit("K")).as("verdict"))
    // the committed state, the files the merge wrote, and whether it
    // laid a deletion vector
    def runWith(bounded: Boolean, upd: Seq[Int]): (Set[(Long, String, String)],
        Seq[Snapshot.FileEntry], Boolean) = {
      val dir = freshDir()
      Snapshot.commit(baseRows(), dir, 0, "k")
      spark.conf.set(Snapshot.BoundedWriteKey, bounded.toString)
      try Snapshot.mergeCow(spark, dir, changes(upd), "k", applyCh)
      finally spark.conf.unset(Snapshot.BoundedWriteKey)
      val old = Snapshot.manifest(spark, dir, 1).files.map(_.path).toSet
      val m = Snapshot.manifest(spark, dir, 2)
      (state(dir), m.files.filterNot(f => old.contains(f.path)), m.dvs.nonEmpty)
    }
    // layout contract preserved: the files a write lays carry DISJOINT
    // sorted key ranges (each bucket is a contiguous key interval)
    def disjoint(fs: Seq[Snapshot.FileEntry]): Unit = {
      val ranges = fs.map(f => (f.min, f.max)).sortBy(_._1)
      assert(ranges.sliding(2).forall {
        case Seq((_, aMax), (bMin, _)) => aMax < bMin
        case _ => true
      }, s"overlapping ranges under the bounded write: $ranges")
    }
    val every = 1 to 800
    val (cb, fb, cbMasked) = runWith(bounded = true, every)
    val (cs, fs, _) = runWith(bounded = false, every)
    assert(cb == cs, "bounded and sampling paths must commit the same state")
    assert(!cbMasked && fb.size == 8 && fs.size == 8,
      s"a majority-matched merge must rewrite all 8 files, no vector: " +
        s"${fb.size}/${fs.size} files, masked=$cbMasked")
    disjoint(fb)
    val scattered = 50 to 750 by 50
    val (nb, nfb, nbMasked) = runWith(bounded = true, scattered)
    val (ns, _, nsMasked) = runWith(bounded = false, scattered)
    assert(nb == ns, "bounded and sampling appends must commit the same state")
    assert(nbMasked && nsMasked, "a scattered batch must mask, not rewrite")
    disjoint(nfb)
    // a frame that already carries the bucket column's name must fall
    // back to sampling, not silently replace the user's column
    val trap = freshDir()
    Snapshot.commit(baseRows(40), trap, 0, "k")
    import spark.implicits._
    val withTrap = (1 to 10).map(i =>
      (200L + i, s"t$i", "K", i.toLong))
      .toDF("k", "v", "verdict", "__graft_bucket")
    val trapDir = freshDir()
    Snapshot.commit(withTrap, trapDir, 0, "k", nFiles = 2,
      cuts = Some(Seq(205L)))
    val back = Snapshot.read(spark, trapDir)
    assert(back.columns.contains("__graft_bucket") &&
      back.select(sum(col("__graft_bucket"))).head.getLong(0) == 55L,
      "user column named like the bucket must survive verbatim")
    // the driver-side cut model itself: legacy (row-stamp-less) entries
    // refuse — the write falls back to sampling, never guesses
    assert(Snapshot.quantileCuts(fb.map(_.copy(rows = -1L)), 8).isEmpty)
    assert(Snapshot.quantileCuts(fb, 1).isEmpty, "one file needs no cuts")
    val cuts = Snapshot.quantileCuts(fb, 4)
    assert(cuts.exists(cs0 => cs0 == cs0.sorted && cs0.size <= 3))
  }

  test("commit + read round trip; versions ascend") {
    val dir = freshDir()
    assert(Snapshot.versions(spark, dir).isEmpty)
    assert(Snapshot.currentVersion(spark, dir) == 0)
    val v = Snapshot.commit(baseRows(), dir, 0, "k")
    assert(v == 1 && Snapshot.versions(spark, dir) == Seq(1))
    assert(state(dir) == baseRows().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet)
    val m = Snapshot.manifest(spark, dir, 1)
    assert(m.files.size == 8, "range partitioning must yield 8 files")
    assert(m.files.map(f => f.max - f.min + 1).sum == 800,
      "disjoint file ranges must tile the key space")
  }

  test("stale expectedVersion fails fast; nothing is published") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    intercept[Snapshot.SnapshotConflict] {
      Snapshot.commit(baseRows(), dir, 0, "k") // table is at v1, not v0
    }
    assert(Snapshot.versions(spark, dir) == Seq(1))
  }

  test("torn write is invisible: data files without a manifest never surface") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val before = state(dir)
    // simulate a writer that died between data landing and publish:
    // data files exist under data/, no manifest references them
    baseRows(10).write.parquet(s"$dir/data/c2_deadbeef")
    assert(Snapshot.currentVersion(spark, dir) == 1)
    assert(state(dir) == before, "readers must not see unpublished data")
    // the GRACE AGE protects young orphans: an unreferenced dir is
    // indistinguishable from an IN-FLIGHT commit's data (files land
    // before the manifest rename), so default vacuum must not touch it
    assert(Snapshot.vacuum(spark, dir).isEmpty,
      "a young orphan survives the default grace window")
    assert(state(dir) == before)
    // grace-free vacuum (writers known quiescent) reclaims exactly the
    // orphan, never a live file
    assert(Snapshot.vacuum(spark, dir, 0L) == Seq("c2_deadbeef"))
    assert(state(dir) == before)
    assert(Snapshot.vacuum(spark, dir, 0L).isEmpty, "vacuum is idempotent")
    // an OLD orphan is reclaimable under the default grace: age the
    // debris past the window by rewinding its dir mtime
    baseRows(10).write.parquet(s"$dir/data/c3_stale")
    new java.io.File(s"$dir/data/c3_stale")
      .setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000L)
    assert(Snapshot.vacuum(spark, dir) == Seq("c3_stale"),
      "an orphan older than the grace age is reclaimed by default")
  }

  test("concurrent commit: one winner, loser aborts and leaves no debris") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    import spark.implicits._
    val a = Seq((9001L, "from_a", "I")).toDF("k", "v", "verdict")
    val b = Seq((9002L, "from_b", "I")).toDF("k", "v", "verdict")
    val attempts = Seq(a, b).map(df => Future(
      try Right(Snapshot.commit(df, dir, 1, "k"))
      catch { case e: Snapshot.SnapshotConflict => Left(e) }))
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    assert(results.count(_.isRight) == 1, s"exactly one winner: $results")
    assert(results.count(_.isLeft) == 1, s"exactly one loser: $results")
    assert(Snapshot.currentVersion(spark, dir) == 2)
    val vals = state(dir).map(_._2)
    assert(vals == Set("from_a") || vals == Set("from_b"),
      "v2 must be exactly the winner's content")
    // the loser deleted its own data dir: nothing for vacuum to reclaim
    assert(Snapshot.vacuum(spark, dir).isEmpty,
      "loser must clean up its data files on abort")
  }

  test("time travel: v1 stays byte-identical after later commits") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val v1 = state(dir, 1)
    import spark.implicits._
    Snapshot.commit(Seq((1L, "rewritten", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    assert(Snapshot.currentVersion(spark, dir) == 2)
    assert(state(dir, 1) == v1, "old snapshots are immutable")
    assert(state(dir, 2) == Set((1L, "rewritten", "U")))
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF / bare name resolve from manifests") {
    val dir = freshDir()
    Snapshot.commit(baseRows(3), dir, 0, "k")
    import spark.implicits._
    Snapshot.commit(Seq((1L, "rewritten", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    Snapshot.registerSqlTable(spark, "snap_sql_spec", dir)
    val v1 = spark.sql(
      "SELECT k, v FROM snap_sql_spec VERSION AS OF 1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v1 == Seq((1L, "val_1"), (2L, "val_2"), (3L, "val_3")))
    val v2 = spark.sql(
      "SELECT k, v FROM snap_sql_spec VERSION AS OF 2").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v2 == Seq((1L, "rewritten")))
    // bare name = latest committed version
    assert(spark.sql("SELECT count(1) FROM snap_sql_spec").head().getLong(0) == 1L)
    // TIMESTAMP AS OF now = newest commit at/before now = v2; the far
    // past resolves to nothing and says so naming the table's history
    val nowUtc = java.time.Instant.now().plusSeconds(60)
    assert(spark.sql(
      s"SELECT v FROM snap_sql_spec TIMESTAMP AS OF '$nowUtc'")
      .head().getString(0) == "rewritten")
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM snap_sql_spec TIMESTAMP AS OF '1990-01-01'").collect())
    assert(e.getMessage.contains("no snapshot version"), e.getMessage)
    // current_timestamp() is folded by the analyzer before the rule sees
    // it (same allowance as DSv2 time travel): resolves to "now" = latest
    assert(spark.sql(
      "SELECT count(1) FROM snap_sql_spec TIMESTAMP AS OF current_timestamp()")
      .head().getLong(0) == 1L)
    // a genuinely non-constant operand gets the intended clear error,
    // not an UnresolvedException from probing foldable mid-resolution
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM snap_sql_spec TIMESTAMP AS OF rand()").collect())
    assert(e2.getMessage.contains("requires a literal"), e2.getMessage)
  }

  test("SQL registrations are session-scoped: no cross-session races") {
    val dirA = freshDir()
    val dirB = freshDir()
    Snapshot.commit(baseRows(1), dirA, 0, "k")
    import spark.implicits._
    Snapshot.commit(Seq((42L, "other", "K")).toDF("k", "v", "verdict"),
      dirB, 0, "k", nFiles = 1)
    val other = spark.newSession()
    Snapshot.registerSqlTable(spark, "snap_scoped", dirA)
    Snapshot.registerSqlTable(other, "snap_scoped", dirB)
    // same name, two sessions, two tables — each session reads its own
    assert(spark.sql("SELECT v FROM snap_scoped").head().getString(0)
      == "val_1")
    assert(other.sql("SELECT v FROM snap_scoped").head().getString(0)
      == "other")
    // a session with no registration does not see the name at all
    val fresh = spark.newSession()
    intercept[Exception](fresh.sql("SELECT v FROM snap_scoped").collect())
  }

  test("SQL time travel: pushdown and pruning survive the substitution") {
    // the rule substitutes Snapshot.read's analyzed plan — a plain
    // parquet scan — so a WHERE through VERSION AS OF must reach the
    // file source as PushedFilters with the projection pruned, exactly
    // as a direct read would
    val dir = freshDir()
    Snapshot.commit(baseRows(200), dir, 0, "k")
    Snapshot.registerSqlTable(spark, "snap_pushdown", dir)
    val df = spark.sql(
      "SELECT v FROM snap_pushdown VERSION AS OF 1 WHERE k = 42")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("val_42"))
    val scans = graft.ops.Layout.fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(k,42)"),
      s"filter must reach the scan: ${scans.head.metadata("PushedFilters")}")
    assert(!scans.head.metadata("ReadSchema").contains("verdict"),
      s"projection must prune unused columns: ${scans.head.metadata("ReadSchema")}")
  }

  test("SQL time travel: temp views win over registrations; unregistered names untouched") {
    val dir = freshDir()
    Snapshot.commit(baseRows(2), dir, 0, "k")
    Snapshot.registerSqlTable(spark, "snap_shadowed", dir)
    import spark.implicits._
    Seq(("view_wins", 1L)).toDF("v", "k").createOrReplaceTempView("snap_shadowed")
    try {
      // built-in view resolution runs before the injected rule
      assert(spark.sql("SELECT v FROM snap_shadowed").head().getString(0)
        == "view_wins")
    } finally spark.catalog.dropTempView("snap_shadowed")
    // back to the registration once the view is gone
    assert(spark.sql("SELECT count(1) FROM snap_shadowed").head().getLong(0) == 2L)
    // unregistered names keep Spark's own TABLE_OR_VIEW_NOT_FOUND path
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft_never_registered VERSION AS OF 1").collect())
    assert(e.getMessage.contains("graft_never_registered"), e.getMessage)
  }

  test("mergeCow masks the matched rows of stats-touched files and carries every file") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val m1 = Snapshot.manifest(spark, dir, 1)
    // narrow CDC batch: keys 1..3 (one file's range) + one out-of-range
    // insert — the merge masks exactly the 3 matched rows of one file
    val ch = Seq(
      (1L, "U", "upd_1"), (2L, "D", null), (3L, "U", "upd_3"),
      (9001L, "I", "ins_9001")).toDF("k", "op", "cv")
    val apply = (base: DataFrame, changes: DataFrame) =>
      base.join(changes, base("k") === changes("k"), "full_outer")
        .filter(coalesce(col("op"), lit("K")) =!= "D")
        .select(coalesce(changes("k"), base("k")).as("k"),
          coalesce(col("cv"), col("v")).as("v"),
          coalesce(col("op"), col("verdict")).as("verdict"))
    val v = Snapshot.mergeCow(spark, dir, ch, "k", apply, nFiles = 1)
    assert(v == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    val carried = m2.files.map(_.path).toSet
      .intersect(m1.files.map(_.path).toSet)
    assert(carried.size == 8,
      s"all 8 v1 files must carry over by reference, got ${carried.size}")
    val touched = m1.files.filter(f => f.min <= 1L && f.max >= 3L)
    assert(touched.size == 1 && m2.dvs.keySet == Set(touched.head.path) &&
      m2.dvs(touched.head.path).length == 3,
      s"the 3 matched positions are masked in the one touched file: ${m2.dvs}")
    val fresh = m2.files.filterNot(f => carried.contains(f.path))
    assert(fresh.map(_.rows) == Seq(3L),
      s"one fresh file holds the 3 post-images, got $fresh")
    // semantics: full replay equality against the one-shot merge
    val expected = apply(Snapshot.read(spark, dir, 1), ch)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(state(dir, 2) == expected,
      "COW result must equal the full-table merge")
    assert(state(dir, 2).contains((9001L, "ins_9001", "I")) &&
      !state(dir, 2).exists(_._1 == 2L),
      "out-of-range insert lands; delete disappears")
  }

  test("mergeCow with only out-of-range inserts touches zero base files") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val m1 = Snapshot.manifest(spark, dir, 1)
    val ch = Seq((9001L, "I", "ins")).toDF("k", "op", "cv")
    val apply = (base: DataFrame, changes: DataFrame) =>
      base.join(changes, base("k") === changes("k"), "full_outer")
        .select(coalesce(changes("k"), base("k")).as("k"),
          coalesce(col("cv"), col("v")).as("v"),
          coalesce(col("op"), col("verdict")).as("verdict"))
    Snapshot.mergeCow(spark, dir, ch, "k", apply, nFiles = 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m1.files.map(_.path).toSet.subsetOf(m2.files.map(_.path).toSet),
      "all 8 base files carry over; only the insert file is new")
    assert(m2.files.size == 9 && m2.dvs.isEmpty,
      s"one fresh file and no mask, got ${m2.files.size} files, ${m2.dvs.keySet}")
    assert(state(dir, 2).size == 801)
  }

  test("readPruned opens only overlapping files, result equals full filter") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val pruned = Snapshot.readPruned(spark, dir, 150, 250)
    val full = Snapshot.read(spark, dir).filter(col("k").between(150, 250))
    assert(pruned.inputFiles.length < Snapshot.manifest(spark, dir, 1).files.size,
      "pruned read must open a strict subset of the snapshot's files")
    assert(pruned.inputFiles.length <= 3,
      s"a ~100-key range over 8 range-files opens ≤3, got ${pruned.inputFiles.length}")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      full.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("compactVersion: OPTIMIZE is a state-identical commit; history intact") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    // accrete small-file debris the way a per-batch CDC sink does:
    // three narrow commits, each carrying the old files + 1 new
    (1 to 3).foreach { i =>
      val m = Snapshot.manifest(spark, dir, i)
      Snapshot.commit(
        Seq((9000L + i, s"ins_$i", "I")).toDF("k", "v", "verdict"),
        dir, i, "k", carried = m.files, nFiles = 1)
    }
    val before = state(dir)
    val filesBefore = Snapshot.manifest(spark, dir, 4).files.size
    assert(filesBefore == 11, s"8 base + 3 singleton commits, got $filesBefore")
    val v = Snapshot.compactVersion(spark, dir, Long.MaxValue)
    assert(v == 5)
    val m5 = Snapshot.manifest(spark, dir, 5)
    assert(m5.files.size == 1, s"full compaction -> 1 file, got ${m5.files.size}")
    assert(state(dir) == before, "OPTIMIZE must not change the state")
    assert(state(dir, 4) == before && Snapshot.manifest(spark, dir, 4)
      .files.size == filesBefore,
      "pre-compaction versions stay readable with their own layout")
    // compaction never deletes — the old layout is reclaimed only when
    // RETENTION drops the manifests that reference it (expire runs
    // vacuum); the compacted current version is untouched
    assert(Snapshot.vacuum(spark, dir).isEmpty,
      "every pre-compaction file is still referenced by history")
    assert(Snapshot.expireVersions(spark, dir, 1, vacuumGraceMs = 0L) ==
      Seq(1, 2, 3, 4))
    assert(Snapshot.versions(spark, dir) == Seq(5))
    assert(state(dir) == before, "post-expiry current state intact")
    val dataDirs = new java.io.File(dir, "data").listFiles().toSeq
      .filter(_.isDirectory)
    assert(dataDirs.size == 1,
      s"expiry + vacuum reclaim the old small-file layout, got $dataDirs")
  }

  test("additive schema evolution: carried old-schema files read new col as NULL") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val m1 = Snapshot.manifest(spark, dir, 1)
    // v2 adds a column, carrying all of v1's files by reference
    val withCol = Seq((9001L, "ins", "I", "extra_val"))
      .toDF("k", "v", "verdict", "note")
    Snapshot.commit(withCol, dir, 1, "k", carried = m1.files, nFiles = 1)
    val v2 = Snapshot.read(spark, dir, 2)
    assert(v2.columns.toSeq == Seq("k", "v", "verdict", "note"))
    assert(v2.filter(col("note").isNotNull).count() == 1,
      "only the new-schema row carries the added column")
    assert(v2.count() == 801)
    // v1 read is untouched by the later drift
    assert(Snapshot.read(spark, dir, 1).columns.toSeq ==
      Seq("k", "v", "verdict"))
  }

  test("stream sink: version arithmetic gives exactly-once across replays") {
    import spark.implicits._
    val dir = freshDir()
    def batch(rows: (Long, Long, String, Double)*): DataFrame =
      rows.toDF("event_id", "user_id", "event_type", "value")
    val b0 = batch((1L, 7L, "view", 1.0), (2L, 7L, "buy", 2.0),
                   (3L, 8L, "view", 3.0))
    val b1 = batch((4L, 7L, "view", 4.0), (5L, 9L, "buy", 5.0))
    graft.ops.StreamOps.snapshotSinkBatch(dir, 0L, b0)
    assert(Snapshot.currentVersion(spark, dir) == 1)
    // the restart contract: the last batch is REDELIVERED — must no-op
    graft.ops.StreamOps.snapshotSinkBatch(dir, 0L, b0)
    assert(Snapshot.currentVersion(spark, dir) == 1,
      "a redelivered batch must not commit a second version")
    graft.ops.StreamOps.snapshotSinkBatch(dir, 1L, b1)
    assert(Snapshot.currentVersion(spark, dir) == 2)
    graft.ops.StreamOps.snapshotSinkBatch(dir, 1L, b1)
    graft.ops.StreamOps.snapshotSinkBatch(dir, 0L, b0)
    assert(Snapshot.currentVersion(spark, dir) == 2,
      "replaying ANY already-committed batch must no-op")
    // final state = global argmax per user, regardless of replays
    val got = Snapshot.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(7L -> 4L, 8L -> 3L, 9L -> 5L))
    // time travel sees the stream's history: user 7 at v1 was event 2
    val v1 = Snapshot.read(spark, dir, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(v1 == Map(7L -> 2L, 8L -> 3L))
    // a FUTURE batch is a gap (lost batch), not a redelivery: loud fail
    val e = intercept[IllegalArgumentException] {
      graft.ops.StreamOps.snapshotSinkBatch(dir, 5L, b1)
    }
    assert(e.getMessage.contains("gap"))
    assert(Snapshot.currentVersion(spark, dir) == 2)
    // an OPTIMIZE interleaving mid-stream must NOT eat the next batch:
    // the sink's exactly-once arithmetic counts DATA commits, so batch 2
    // still lands after the compaction bumped the version number...
    Snapshot.compactVersion(spark, dir, Long.MaxValue) // v3, maintenance
    val b2 = batch((6L, 8L, "buy", 6.0))
    graft.ops.StreamOps.snapshotSinkBatch(dir, 2L, b2)
    assert(Snapshot.currentVersion(spark, dir) == 4)
    assert(Snapshot.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(7L -> 4L, 8L -> 6L, 9L -> 5L))
    // ...redelivery and the gap check still hold across it
    graft.ops.StreamOps.snapshotSinkBatch(dir, 2L, b2)
    graft.ops.StreamOps.snapshotSinkBatch(dir, 1L, b1)
    assert(Snapshot.currentVersion(spark, dir) == 4)
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.StreamOps.snapshotSinkBatch(dir, 4L, b1)
    }
    assert(e2.getMessage.contains("gap"))
    // RETENTION on the live sink: expiring old versions must not shift
    // the arithmetic — the max stamped batch id rides the retained
    // manifests, so batch 3 lands, an expired batch id no-ops, and the
    // gap check still fires
    Snapshot.expireVersions(spark, dir, 1)
    assert(Snapshot.versions(spark, dir) == Seq(4))
    graft.ops.StreamOps.snapshotSinkBatch(dir, 3L, batch((7L, 9L, "view", 7.0)))
    assert(Snapshot.currentVersion(spark, dir) == 5)
    graft.ops.StreamOps.snapshotSinkBatch(dir, 0L, b0) // expired id: no-op
    assert(Snapshot.currentVersion(spark, dir) == 5)
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.StreamOps.snapshotSinkBatch(dir, 9L, b1)
    }
    assert(e3.getMessage.contains("gap"))
    assert(Snapshot.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(7L -> 4L, 8L -> 6L, 9L -> 7L))
  }

  test("expireVersions: retention drops old manifests + their data only") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    // v2/v3: full rewrites, so v1's files become expirable once v1 goes
    Snapshot.commit(Seq((1L, "a", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    Snapshot.commit(Seq((1L, "b", "U")).toDF("k", "v", "verdict"),
      dir, 2, "k", nFiles = 1)
    val keepState = state(dir, 3)
    assert(Snapshot.expireVersions(spark, dir, 2) == Seq(1))
    assert(Snapshot.versions(spark, dir) == Seq(2, 3))
    assert(state(dir, 3) == keepState && state(dir, 2).nonEmpty,
      "retained versions stay fully readable")
    intercept[IllegalArgumentException] {
      Snapshot.manifest(spark, dir, 1)
    }
    // v2's data is still referenced — expiry must not have vacuumed it;
    // the current version always survives even with keep=1
    assert(Snapshot.expireVersions(spark, dir, 1) == Seq(2))
    assert(state(dir, 3) == keepState)
  }

  test("commit timestamps are durable: time travel survives mtime rewrites") {
    val dir = freshDir()
    Snapshot.commit(baseRows(3), dir, 0, "k")
    Thread.sleep(15) // distinct ms clocks for the two commits
    import spark.implicits._
    Snapshot.commit(Seq((1L, "rewritten", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    val ts1 = Snapshot.manifest(spark, dir, 1).ts
    val ts2 = Snapshot.manifest(spark, dir, 2).ts
    assert(ts1 > 0 && ts2 > ts1,
      s"commits must stamp ascending epoch-ms into the manifest ($ts1, $ts2)")
    // simulate cp/rsync/restore of the table dir: every file's mtime is
    // re-stamped (here: scrambled to an ancient, order-INVERTED clock) —
    // the embedded commit times must keep resolving history correctly
    val md = new java.io.File(dir, "_manifests")
    assert(new java.io.File(md, "v00001").setLastModified(200000000L))
    assert(new java.io.File(md, "v00002").setLastModified(100000000L))
    assert(Snapshot.versionAtTimestamp(spark, dir, ts1) == 1)
    assert(Snapshot.versionAtTimestamp(spark, dir, ts2 - 1) == 1)
    assert(Snapshot.versionAtTimestamp(spark, dir, ts2) == 2)
    assert(Snapshot.versionAtTimestamp(spark, dir,
      System.currentTimeMillis() + 60000) == 2)
    val e = intercept[IllegalArgumentException](
      Snapshot.versionAtTimestamp(spark, dir, ts1 - 1))
    assert(e.getMessage.contains("no snapshot version"), e.getMessage)
  }

  test("pre-timestamp manifests fall back to mtime; running max keeps order") {
    val dir = freshDir()
    Snapshot.commit(baseRows(3), dir, 0, "k")
    import spark.implicits._
    Snapshot.commit(Seq((1L, "rewritten", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    // rewrite v1's manifest WITHOUT its `t` line (the pre-round-13
    // format) and give it a known mtime: resolution must use the mtime
    // for v1 and the embedded ts for v2
    val p1 = java.nio.file.Paths.get(dir, "_manifests", "v00001")
    val legacy = java.nio.file.Files.readAllLines(p1).stream()
      .filter(l => !l.startsWith("t\t")).toArray.mkString("", "\n", "\n")
    java.nio.file.Files.write(p1, legacy.getBytes("UTF-8"))
    // the out-of-band rewrite invalidates the local fs checksum sidecar
    java.nio.file.Files.deleteIfExists(
      p1.resolveSibling(".v00001.crc"))
    val mt1 = 1500000000000L // 2017-07-14, far before any real commit
    assert(p1.toFile.setLastModified(mt1))
    assert(Snapshot.manifest(spark, dir, 1).ts == 0L,
      "legacy manifest parses with ts = 0")
    assert(Snapshot.versionAtTimestamp(spark, dir, mt1) == 1)
    assert(Snapshot.versionAtTimestamp(spark, dir,
      Snapshot.manifest(spark, dir, 2).ts) == 2)
    // a legacy manifest whose mtime LANDS IN THE FUTURE (restored table)
    // must not invert history: running max carries it forward, so the
    // old epoch resolves to nothing rather than to a wrong version
    val future = System.currentTimeMillis() + 86400000L
    assert(p1.toFile.setLastModified(future))
    intercept[IllegalArgumentException](
      Snapshot.versionAtTimestamp(spark, dir, mt1))
    assert(Snapshot.versionAtTimestamp(spark, dir, future) == 2,
      "monotone clocks: v2 is still the newest commit at/after the restore")
  }

  test("two-part SQL names resolve with time travel; catalog still wins") {
    val dir = freshDir()
    Snapshot.commit(baseRows(2), dir, 0, "k")
    import spark.implicits._
    Snapshot.commit(Seq((1L, "v2row", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    Snapshot.registerSqlTable(spark, "wh.snap_two", dir)
    assert(spark.sql("SELECT count(1) FROM wh.snap_two").head().getLong(0) == 1L)
    assert(spark.sql("SELECT v FROM wh.snap_two VERSION AS OF 1 ORDER BY k")
      .head().getString(0) == "val_1")
    // the single-part tail alone is NOT bound by a dotted registration
    intercept[Exception](spark.sql("SELECT * FROM snap_two").collect())
    intercept[IllegalArgumentException](
      Snapshot.registerSqlTable(spark, "a.b.c", dir))
  }

  test("history: one row per version, monotone commit clock, honest file stats") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    import spark.implicits._
    Snapshot.commit(Seq((9001L, "ins", "I")).toDF("k", "v", "verdict"),
      dir, 1, "k", carried = Snapshot.manifest(spark, dir, 1).files,
      nFiles = 1, note = "batch_42")
    val h = Snapshot.history(spark, dir).orderBy(col("version")).collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(h(0).getLong(1) <= h(1).getLong(1), "commit clock is monotone")
    assert(h(0).getLong(1) > 0)
    assert(h.map(_.getString(2)).toSeq == Seq("", "batch_42"))
    assert(h.map(_.getInt(3)).toSeq == Seq(8, 9), "8 base files, then carried+1")
    assert(h.forall(_.getLong(4) > 0), "byte totals are real file lengths")
  }

  test("q131's table: accreted small files compact to a bounded layout, state intact") {
    val dir = graft.ops.Warehouse.compactOrders(spark, sf)
    assert(Snapshot.versions(spark, dir) == Seq(1, 2, 3, 4, 5))
    val pre = Snapshot.manifest(spark, dir, 4)
    val post = Snapshot.manifest(spark, dir, 5)
    assert(pre.files.size > post.files.size,
      s"compaction must shrink the layout (${pre.files.size} -> ${post.files.size})")
    assert(post.files.size == 1, s"128 MB target at fixture scale -> 1 file")
    def keys(v: Int) = Snapshot.read(spark, dir, v)
      .select(col("order_key")).collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(4) == keys(5), "compaction is a layout rewrite, not a data change")
    assert(Snapshot.vacuum(spark, dir).isEmpty,
      "pre-compaction files stay referenced by history until retention")
  }

  test("q124's table: v1/v2 manifests, immutable history, vacuum-clean") {
    val dir = graft.ops.Warehouse.snapOrders(spark, sf)
    assert(Snapshot.versions(spark, dir) == Seq(1, 2))
    // the memoized builder is idempotent per session
    assert(graft.ops.Warehouse.snapOrders(spark, sf) == dir)
    assert(Snapshot.vacuum(spark, dir).isEmpty,
      "a clean build leaves no unreferenced data")
    val v1 = Snapshot.read(spark, dir, 1)
    assert(v1.filter(col("verdict") =!= "K").count() == 0,
      "v1 is the pre-merge load: all lineage 'K'")
    val v2 = Snapshot.read(spark, dir, 2)
    assert(v2.filter(col("verdict") === "I").count() > 0 &&
      v2.filter(col("verdict") === "U").count() > 0,
      "v2 carries the CDC batch's lineage")
  }

  test("changeFeed: snapshot diff recovers exact U/D/I; carried files cancel") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k") // v1: 8 files over keys 1..800
    import spark.implicits._
    // narrow CDC batch: one file's range touched (k=5 update, k=10
    // delete) plus an out-of-range insert — every base file carries,
    // the touched one with k=5 and k=10 masked
    val ch = Seq((5L, "U"), (10L, "D"), (900L, "I")).toDF("k", "op")
    Snapshot.mergeCow(spark, dir, ch, "k", (base, changes) =>
      base.join(changes.withColumnRenamed("k", "ck"),
          col("k") === col("ck"), "full_outer")
        .filter(coalesce(col("op"), lit("K")) =!= "D")
        .select(coalesce(col("k"), col("ck")).as("k"),
          when(col("op") === "U", lit("updated"))
            .otherwise(coalesce(col("v"),
              concat(lit("val_"), col("ck")))).as("v"),
          coalesce(col("op"), col("verdict")).as("verdict")))
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    val carried = m1.files.map(_.path).toSet & m2.files.map(_.path).toSet
    assert(carried.size == 8, s"narrow merge must carry 8 files, ${carried.size}")
    assert(m2.dvs.size == 1 && m2.dvs.values.head.length == 2,
      s"k=5 and k=10 masked in the touched file, got ${m2.dvs.keySet}")
    // a file cancels in the diff when it is carried with an equal mask
    val shared = carried.filterNot(m2.dvs.contains)
    assert(shared.size == 7, s"7 unmasked files cancel, ${shared.size}")
    val feed = Snapshot.changeFeed(spark, dir, 1, 2, "k")
    val rows = feed.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    // exact change set — the ~98 unmasked neighbors in the masked file
    // must NOT surface
    assert(rows == Set(
      (5L, "U", "updated", "U"),
      (10L, "D", "val_10", "K"),
      (900L, "I", "val_900", "I")), s"got $rows")
    // the executed plan proves the file-level cancellation: only the
    // non-shared files of each side are scanned, never table vs table
    val scanned = graft.ops.Layout.fileScans(feed.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    val own = (m1.files.size - shared.size) + (m2.files.size - shared.size)
    assert(scanned == own && own < m1.files.size + m2.files.size,
      s"diff must scan only non-carried files: scanned=$scanned own=$own")
    // pre-image mode (the Delta-CDF four-type shape an aggregate
    // maintainer needs): U splits into U- (pre) and U+ (post)
    val full = Snapshot.changeFeed(spark, dir, 1, 2, "k", preImages = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(full == Set(
      (5L, "U-", "val_5", "K"),
      (5L, "U+", "updated", "U"),
      (10L, "D", "val_10", "K"),
      (900L, "I", "val_900", "I")), s"got $full")
  }

  test("changeFeed after a merge-on-read merge equals the COW merge's feed") {
    import spark.implicits._
    // the same history twice (8 files, then k in [20,25] DV-deleted); the
    // second copy's row stamps are stripped, and a touched file without
    // a stamp sends the merge down the copy-on-write branch
    def table(): String = {
      val dir = freshDir()
      Snapshot.commit(baseRows(), dir, 0, "k")
      Snapshot.deleteWhereDV(spark, dir, 20L, 25L)
      dir
    }
    val mor = table()
    val cow = table()
    val m2 = Snapshot.manifest(spark, cow, 2)
    Snapshot.publishManifestForTest(spark, cow,
      m2.copy(version = 3, files = m2.files.map(_.copy(rows = -1L))))
    // update k=5; "update" k=6 to its own pre-image; delete k=10; insert
    // into the masked hole (k=22) and past every range (k=900)
    val ch = Seq((5L, "U", "upd_5"), (6L, "U", "val_6"), (10L, "D", null),
      (22L, "I", "ins_22"), (900L, "I", "ins_900")).toDF("k", "op", "nv")
    val apply = (base: DataFrame, changes: DataFrame) =>
      base.join(changes, base("k") === changes("k"), "full_outer")
        .filter(coalesce(col("op"), lit("K")) =!= "D")
        .select(coalesce(changes("k"), base("k")).as("k"),
          coalesce(col("nv"), col("v")).as("v"),
          coalesce(col("verdict"), lit("I")).as("verdict"))
    assert(Snapshot.mergeCow(spark, mor, ch, "k", apply) == 3)
    assert(Snapshot.mergeCow(spark, cow, ch, "k", apply) == 4)
    val morM = Snapshot.manifest(spark, mor, 3)
    assert(morM.dvs.values.map(_.length).sum == 6 + 3,
      "merge-on-read: k=5, 6 and 10 masked next to the prior 6 positions")
    assert(Snapshot.manifest(spark, cow, 4).dvs.isEmpty,
      "COW: the touched file rewrote, its vector materialized, none added")
    assert(state(mor) == state(cow))
    def feed(dir: String, v: Int, pre: Boolean) =
      Snapshot.changeFeed(spark, dir, v, v + 1, "k", preImages = pre)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
    assert(feed(mor, 2, pre = false) == Set(
      (5L, "U", "upd_5", "K"), (10L, "D", "val_10", "K"),
      (22L, "I", "ins_22", "I"), (900L, "I", "ins_900", "I")))
    assert(feed(mor, 2, pre = false) == feed(cow, 3, pre = false))
    assert(feed(mor, 2, pre = true) == Set(
      (5L, "U-", "val_5", "K"), (5L, "U+", "upd_5", "K"),
      (10L, "D", "val_10", "K"), (22L, "I", "ins_22", "I"),
      (900L, "I", "ins_900", "I")))
    assert(feed(mor, 2, pre = true) == feed(cow, 3, pre = true))
  }

  test("commitOnce: a merge-on-read upsert redriven after success lands once") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k", note = "day0")
    // Stages.merge's keep-incoming upsert of 10 published rows
    val pub = (1 to 10).map(k => (k.toLong, s"day1_$k", "U"))
      .toDF("k", "v", "verdict")
    def run(): Int = Snapshot.commitOnce(spark, dir, "day1") {
      Snapshot.mergeCow(spark, dir, pub, "k",
        (base, ch) => ch.unionByName(
          base.join(ch.select(col("k").as("_k")), base("k") === col("_k"),
            "left_anti")),
        note = "day1")
    }
    assert(run() == 2)
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m1.files.map(_.path).toSet.subsetOf(m2.files.map(_.path).toSet) &&
      m2.dvs.values.map(_.length).sum == 10, "the merge-on-read branch ran")
    val after = state(dir)
    assert(after.size == 800 && after.count(_._3 == "U") == 10)
    // redriven after success: the token is found, nothing commits
    assert(run() == 2 && Snapshot.versions(spark, dir) == Seq(1, 2))
    // a compaction between the success and the redrive cannot erase it
    Snapshot.compactVersion(spark, dir, 128L << 20)
    assert(run() == 2 && Snapshot.versions(spark, dir) == Seq(1, 2, 3))
    assert(state(dir) == after)
  }

  private val z2 = Snapshot.ZLayout.curve(Seq("a", "b"))
  private val z3 = Snapshot.ZLayout.curve(Seq("a", "b", "c"))

  test("zValue column expression and driver-side zPoint agree bit-for-bit") {
    import spark.implicits._
    // corners, bit walks, and a deterministic pseudo-random sample of the
    // 31-bit domain — the executor-side bitwise fold and the driver-side
    // cover arithmetic must be the SAME function or pruning is garbage
    val edge = Seq(0L, 1L, 2L, 3L, (1L << 31) - 1, (1L << 30), 12345L) ++
      (0 until 31).map(i => 1L << i)
    val rnd = (1 to 200).map(i =>
      (i * 2654435761L ^ (i * 40503L << 13)) & ((1L << 31) - 1))
    val pts = (for { a <- edge ++ rnd.take(20); b <- edge.take(12) }
      yield (a, b)) ++ rnd.zip(rnd.reverse)
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), z2.value(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == z2.point(Seq(a, b)), s"zValue($a,$b)=$z != zPoint")
      assert(z >= 0, "z codes must stay sign-safe")
    }
  }

  test("zValue3 column expression and driver-side zPoint3 agree bit-for-bit") {
    import spark.implicits._
    val edge = Seq(0L, 1L, 2L, 3L, (1L << 21) - 1, (1L << 20), 12345L) ++
      (0 until 21).map(i => 1L << i)
    val rnd = (1 to 60).map(i =>
      (i * 2654435761L ^ (i * 40503L << 13)) & ((1L << 21) - 1))
    val pts = for { a <- edge ++ rnd.take(8); b <- edge.take(8)
                    c <- edge.take(6) } yield (a, b, c)
    val got = pts.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        z3.value(col("a"), col("b"), col("c")).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, c, z) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(z == z3.point(Seq(a, b, c)), s"zValue3($a,$b,$c)=$z != zPoint3")
      assert(z >= 0, "z codes must stay sign-safe")
    }
  }

  test("zCover3 is a sound, bounded, ordered cover of any 3-D box") {
    val boxes = Seq(
      (0L, 100L, 0L, 100L, 0L, 100L),
      (731L, 1095L, 100L, 1100L, 5000L, 9000L),
      (5L, 5L, 7L, 7L, 9L, 9L),
      (0L, (1L << 21) - 1, 0L, (1L << 21) - 1, 0L, (1L << 21) - 1),
      (100000L, 101000L, 3L, 2000000L, 65000L, 66000L))
    for ((aLo, aHi, bLo, bHi, cLo, cHi) <- boxes) {
      val cover = z3.cover(Seq(aLo -> aHi, bLo -> bHi, cLo -> cHi), 64)
      assert(cover.nonEmpty && cover.size <= 64, s"budget: ${cover.size}")
      cover.sliding(2).foreach {
        case Seq((_, e), (s2, _)) => assert(e < s2,
          "ranges must be ascending and disjoint")
        case _ =>
      }
      def samples(lo: Long, hi: Long): Seq[Long] =
        Seq(lo, hi, (lo + hi) / 2) ++ (1 to 4).map(i => lo + (hi - lo) * i / 4)
      for (a <- samples(aLo, aHi); b <- samples(bLo, bHi);
           c <- samples(cLo, cHi)) {
        val z = z3.point(Seq(a, b, c))
        assert(cover.exists(r => r._1 <= z && z <= r._2),
          s"point ($a,$b,$c) z=$z escaped the cover")
      }
    }
  }

  test("3-D z-order: every axis prunes files; 3-D box read equals full filter") {
    // 30k rows over three INDEPENDENT uniform dims — the shape where a
    // 2-D layout must leave one filter as a residual over every matched
    // file and the 3-way interleave lets all three prune. Deterministic
    // LCG, no RNG.
    import spark.implicits._
    val rows = (0 until 30000).map { i =>
      val h = (i * 2654435761L) & 0x7FFFFFFFL
      (i.toLong, h % 1000, (h / 1000) % 1000, (h / 1000000) % 1000)
    }
    val dir = freshDir()
    Snapshot.commit(rows.toDF("k", "x", "y", "t"), dir, 0, "k", nFiles = 4)
    Snapshot.optimizeZorder(spark, dir, Seq("x", "y", "t"), nFiles = 64)
    val m = Snapshot.manifest(spark, dir, 2)
    assert(m.statsCol == "_z" && m.files.size == 64)
    // each single-axis slice (~10% of its axis, all of the others) must
    // prune on its own — no 2-D layout gives all three
    val full = 1000L
    def box3(x: (Long, Long), y: (Long, Long), t: (Long, Long)) =
      Snapshot.prunedFilesBox(spark, dir,
        Seq(("x", x._1, x._2), ("y", y._1, y._2), ("t", t._1, t._2)))
    val xOnly = box3((100, 199), (0, full), (0, full))
    val yOnly = box3((0, full), (100, 199), (0, full))
    val tOnly = box3((0, full), (0, full), (100, 199))
    for ((tag, hit) <- Seq("x" -> xOnly, "y" -> yOnly, "t" -> tOnly))
      assert(hit.nonEmpty && hit.size < 64,
        s"$tag-only slice must prune: ${hit.size}/64")
    // the 3-D box composes: strictly fewer files than any single axis
    val box = box3((100, 299), (100, 299), (100, 299))
    assert(box.nonEmpty &&
      box.size < Seq(xOnly.size, yOnly.size, tOnly.size).min,
      s"3-D box ${box.size} vs slices ${xOnly.size}/${yOnly.size}/${tOnly.size}")
    // losslessness: box read == full-scan filter
    val boxed = Snapshot.readPrunedBox(spark, dir,
        Seq(("x", 100L, 299L), ("y", 100L, 299L), ("t", 100L, 299L)))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    val fullScan = Snapshot.read(spark, dir, 2)
      .filter(col("x").between(100, 299) && col("y").between(100, 299) &&
              col("t").between(100, 299))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(boxed == fullScan && boxed.nonEmpty)
  }

  test("rank 3-D z-order out-prunes min-max on a Zipfian axis, lossless on all") {
    // the 3-D analog of the 2-D Zipf duel: `x` Zipf-shaped (95% in
    // [0,100), outliers to 2^30), y/t uniform. A dense-region x-slice
    // over all of y and t is dead for min-max (the mass scales to one
    // value) and ~10% of the x dimension under rank.
    import spark.implicits._
    val rows = (0 until 30000).map { i =>
      val h = (i * 2654435761L) & 0x7FFFFFFFL
      val x = if (h % 100 < 95) h % 100 else (1L << 30) / (1 + h % 97)
      (i.toLong, x, (h / 1000) % 1000, (h / 1000000) % 1000)
    }
    def mk(): String = {
      val dir = freshDir()
      Snapshot.commit(rows.toDF("k", "x", "y", "t"), dir, 0, "k", nFiles = 4)
      dir
    }
    // the skewed/most-selective axis goes in the HIGHEST interleave slot
    // (the c column): a slab constrained only in the LOWEST bits recurs
    // densely through z space and no contiguous file span avoids it —
    // the axis-ordering rule optimizeZorder's scaladoc documents
    val (mmDir, rkDir) = (mk(), mk())
    Snapshot.optimizeZorder(spark, mmDir, Seq("y", "t", "x"), nFiles = 32)
    Snapshot.optimizeZorder(spark, rkDir, Seq("y", "t", "x"), nFiles = 32,
      rankBuckets = Some(256))
    val full = 1000L
    val slab = Seq(("y", 0L, full), ("t", 0L, full), ("x", 10L, 19L))
    val mm = Snapshot.prunedFilesBox(spark, mmDir, slab)
    val rk = Snapshot.prunedFilesBox(spark, rkDir, slab)
    assert(rk.size < mm.size,
      s"rank must out-prune min-max on the skewed axis: ${rk.size} vs ${mm.size} of 32")
    for (dir <- Seq(mmDir, rkDir)) {
      val boxed = Snapshot.readPrunedBox(spark, dir,
          Seq(("y", 100L, 499L), ("t", 100L, 499L), ("x", 10L, 19L)))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      val fullScan = Snapshot.read(spark, dir)
        .filter(col("x").between(10, 19) && col("y").between(100, 499) &&
                col("t").between(100, 499))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(boxed == fullScan && boxed.nonEmpty, s"losslessness broke in $dir")
    }
  }

  test("zCover is a sound, bounded, ordered cover of any box") {
    val boxes = Seq(
      (0L, 100L, 0L, 100L), (731L, 1095L, 100L, 1100L),
      (5L, 5L, 7L, 7L), (0L, (1L << 31) - 1, 0L, (1L << 31) - 1),
      (1000000L, 1001000L, 3L, 2000000000L))
    for ((aLo, aHi, bLo, bHi) <- boxes) {
      val cover = z2.cover(Seq(aLo -> aHi, bLo -> bHi), maxRanges = 64)
      assert(cover.nonEmpty && cover.size <= 64, s"budget: ${cover.size}")
      cover.sliding(2).foreach {
        case Seq((_, e), (s2, _)) => assert(e < s2,
          "ranges must be ascending and disjoint")
        case _ =>
      }
      // soundness: every sampled in-box point's z lands inside the cover
      val as = Seq(aLo, aHi, (aLo + aHi) / 2) ++
        (1 to 7).map(i => aLo + (aHi - aLo) * i / 7)
      val bs = Seq(bLo, bHi, (bLo + bHi) / 2) ++
        (1 to 7).map(i => bLo + (bHi - bLo) * i / 7)
      for (a <- as; b <- bs) {
        val z = z2.point(Seq(a, b))
        assert(cover.exists(r => r._1 <= z && z <= r._2),
          s"point ($a,$b) z=$z escaped the cover of [$aLo,$aHi]x[$bLo,$bHi]")
      }
    }
  }

  test("the generic cover equals the frozen two- and three-axis walks on random boxes") {
    // boxes at every scale: a log-uniform width per axis, a uniform
    // origin, so thin slabs, cubes and near-full-domain boxes all occur
    val rnd = new scala.util.Random(20261017L)
    def randomBox(d: Int, bits: Int): Seq[(Long, Long)] = Seq.fill(d) {
      val w = (1L << rnd.nextInt(bits)) + (rnd.nextLong() & 0xFFFFL) - 1
      val width = math.min(w, (1L << bits) - 1)
      val lo = (rnd.nextLong() & Long.MaxValue) % ((1L << bits) - width)
      (lo, lo + width)
    }
    for (_ <- 1 to 200) {
      val Seq((aLo, aHi), (bLo, bHi)) = randomBox(2, 31)
      for (budget <- Seq(64, 4))
        assert(z2.cover(Seq(aLo -> aHi, bLo -> bHi), budget) ==
          FrozenZ.zCover(aLo, aHi, bLo, bHi, budget),
          s"2-D box [$aLo,$aHi]x[$bLo,$bHi] at maxRanges=$budget")
      val Seq((xLo, xHi), (yLo, yHi), (tLo, tHi)) = randomBox(3, 21)
      for (budget <- Seq(2048, 8))
        assert(z3.cover(Seq(xLo -> xHi, yLo -> yHi, tLo -> tHi), budget) ==
          FrozenZ.zCover3(xLo, xHi, yLo, yHi, tLo, tHi, budget),
          s"3-D box [$xLo,$xHi]x[$yLo,$yHi]x[$tLo,$tHi] at maxRanges=$budget")
    }
    assert(z2.maxRanges == 64 && z3.maxRanges == 2048, "default budgets")
  }

  test("z-layout notes keep the four spellings byte for byte") {
    import Snapshot.{ZAxis, ZLayout}
    val notes = Seq(
      "zorder(o_custkey,dday,0,149,1096,3500)",
      "zorderq(a,b,0,1073741823,0,9999,3|17|40,100|5000)",
      "zorder3(o_custkey,dday,price_c,0,149,1096,3500,132051,49970505)",
      "zorderq3(y,t,x,0,999,0,999,0,1073741823,,5|6,7)")
    for (n <- notes) {
      val layout = ZLayout.parse(n)
      assert(layout.map(_.note).contains(n), s"$n round-tripped to $layout")
    }
    assert(ZLayout.parse("zorderq3(y,t,x,0,999,0,999,0,1073741823,,5|6,7)")
      .map(_.axes) == Some(Seq(ZAxis("y", 0, 999, Some(Nil)),
        ZAxis("t", 0, 999, Some(Seq(5L, 6L))),
        ZAxis("x", 0, 1073741823L, Some(Seq(7L))))))
    for (bad <- Seq("optimize:compact", "zorder(a,b,0,1,2)",
                    "zorder3(a,b,0,1,2,3)", "zorder(a,b,x,1,2,3)"))
      assert(ZLayout.parse(bad).isEmpty, bad)
  }

  test("a z-order box names its axes: every permutation reads the same rows") {
    // The box is resolved by axis NAME against the layout note, so the
    // caller's order cannot matter. The positional two-axis API this
    // replaced pruned `readPrunedBox(dir, "b", "a", 0, 999, 10, 19)` with
    // the bounds swapped onto the note's axes and returned 107 of these
    // 403 rows; the three-axis twin returned 0 of 561 for (t, y, x).
    import spark.implicits._
    def check(dir: String, box: Seq[(String, Long, Long)]): Unit = {
      val full = Snapshot.read(spark, dir)
        .filter(box.map { case (c, lo, hi) => col(c).between(lo, hi) }
          .reduce(_ && _))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(full.nonEmpty)
      val files = Snapshot.prunedFilesBox(spark, dir, box).map(_.path).toSet
      for (p <- box.permutations) {
        val got = Snapshot.readPrunedBox(spark, dir, p)
          .select("k").collect().map(_.getLong(0)).sorted.toSeq
        assert(got == full, s"box named as ${p.map(_._1)}: " +
          s"${got.size} rows, the full-scan filter has ${full.size}")
        assert(Snapshot.prunedFilesBox(spark, dir, p).map(_.path).toSet == files)
      }
    }
    val rows2 = (0 until 4000).map { i =>
      val h = (i * 2654435761L) & 0x7FFFFFFFL
      (i.toLong, h % 100, (h / 100) % 1000)
    }
    val d2 = freshDir()
    Snapshot.commit(rows2.toDF("k", "a", "b"), d2, 0, "k", nFiles = 4)
    Snapshot.optimizeZorder(spark, d2, Seq("a", "b"), nFiles = 16)
    check(d2, Seq(("a", 10L, 19L), ("b", 0L, 999L)))
    val rows3 = (0 until 30000).map { i =>
      val h = (i * 2654435761L) & 0x7FFFFFFFL
      (i.toLong, h % 1000, (h / 1000) % 1000, (h / 1000000) % 1000)
    }
    val d3 = freshDir()
    Snapshot.commit(rows3.toDF("k", "x", "y", "t"), d3, 0, "k", nFiles = 4)
    Snapshot.optimizeZorder(spark, d3, Seq("x", "y", "t"), nFiles = 64)
    check(d3, Seq(("x", 100L, 299L), ("y", 0L, 999L), ("t", 500L, 599L)))
  }

  test("z-order refusals name the axes or the column at fault") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit((0L until 200L).map(i => (i, i % 10, i % 7, i % 13))
      .toDF("k", "x", "y", "t"), dir, 0, "k", nFiles = 2)
    Snapshot.optimizeZorder(spark, dir, Seq("x", "y", "t"), nFiles = 4)
    // a box of the wrong arity, or one naming a column the layout lacks
    for (box <- Seq(Seq(("x", 0L, 5L), ("y", 0L, 5L)),
                    Seq(("x", 0L, 5L), ("y", 0L, 5L), ("k", 0L, 5L)),
                    Seq(("x", 0L, 5L), ("x", 0L, 5L), ("y", 0L, 5L)))) {
      val e = intercept[IllegalArgumentException](
        Snapshot.readPrunedBox(spark, dir, box))
      assert(e.getMessage.contains("z-ordered on (x, y, t)") &&
        e.getMessage.contains(box.map(_._1).mkString("(", ", ", ")")),
        e.getMessage)
    }
    // a table that is not z-ordered at all says so
    val plain = freshDir()
    Snapshot.commit(baseRows(10), plain, 0, "k", nFiles = 1)
    val notZ = intercept[IllegalArgumentException](
      Snapshot.prunedFilesBox(spark, plain, Seq(("k", 0L, 5L))))
    assert(notZ.getMessage.contains("not a z-ordered snapshot"), notZ.getMessage)
    // an axis with nothing to scale: an empty table, an all-NULL column
    val empty = freshDir()
    Snapshot.commit(Seq.empty[(Long, Long, Long)].toDF("k", "a", "b"),
      empty, 0, "k", nFiles = 1)
    val nulls = freshDir()
    Snapshot.commit((1L to 20L).map(i => (i, i, Option.empty[Long]))
      .toDF("k", "a", "b"), nulls, 0, "k", nFiles = 1)
    for ((d, column) <- Seq(empty -> "'a'", nulls -> "'b'")) {
      val e = intercept[IllegalArgumentException](
        Snapshot.optimizeZorder(spark, d, Seq("a", "b"), nFiles = 1))
      assert(e.getMessage.contains(column), e.getMessage)
      assert(Snapshot.currentVersion(spark, d) == 1, "nothing committed")
    }
  }

  test("prunedFilesBox keeps the frozen file sets on the q127 and q130 boxes") {
    val q127 = Seq(("o_custkey", 100L, 1100L), ("dday", 1461L, 1826L))
    val q130 = q127 :+ (("price_c", 5000000L, 20000000L))
    for ((dir, box) <- Seq(graft.ops.Warehouse.zOrders(spark, sf) -> q127,
                           graft.ops.Warehouse.zOrders3(spark, sf) -> q130)) {
      val m = Snapshot.manifest(spark, dir, 2)
      val got = Snapshot.prunedFilesBox(spark, dir, box)
      assert(got.nonEmpty && got.size < m.files.size,
        s"${m.note}: ${got.size}/${m.files.size} files")
      assert(got == FrozenZ.prunedFiles(m, box.map(b => (b._2, b._3))), m.note)
    }
  }

  test("z-ordered snapshot: both axes prune files; box read equals full filter") {
    val dir = graft.ops.Warehouse.zOrders(spark, sf)
    assert(Snapshot.versions(spark, dir) == Seq(1, 2))
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m1.statsCol == "o_custkey" && m2.statsCol == "_z",
      "v1 is the 1-D layout, v2 the z-ordered OPTIMIZE")
    assert(m2.files.size == 16)
    // fixture domain (sf0.001: custkey 0..149, dday ~1096..3500)
    val (aMax, bMax) = (150L, 3600L)
    // both prune assertions use boxes ~1/6 of one axis x ALL of the
    // other: the case a single-column sort can only serve for ITS axis
    // a DATE-ONLY predicate: the v1 custkey-clustered layout has no
    // file-level mechanism at all (every file must be read); the
    // z-ordered v2 must prune on this axis too — 1996 = days 1461..1826
    val dateOnly = Snapshot.prunedFilesBox(spark, dir,
      Seq(("o_custkey", 0L, aMax), ("dday", 1461L, 1826L)))
    assert(dateOnly.nonEmpty && dateOnly.size < m2.files.size,
      s"date-only box must prune z files: ${dateOnly.size}/${m2.files.size}")
    // ...and a CUSTKEY-ONLY predicate prunes as well — no single-column
    // sort gives both
    val custOnly = Snapshot.prunedFilesBox(spark, dir,
      Seq(("o_custkey", 10L, 40L), ("dday", 0L, bMax)))
    assert(custOnly.nonEmpty && custOnly.size < m2.files.size,
      s"custkey-only box must prune z files: ${custOnly.size}/${m2.files.size}")
    // value equality: the pruned box read IS the filtered full scan
    val boxed = Snapshot.readPrunedBox(spark, dir,
        Seq(("o_custkey", 10L, 60L), ("dday", 1461L, 2191L)))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val full = Snapshot.read(spark, dir, 2)
      .filter(col("o_custkey").between(10, 60) && col("dday").between(1461, 2191))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(boxed == full, "pruned box read must equal the full-scan filter")
    assert(boxed.nonEmpty, "the fixture box must select something")
  }

  test("compaction preserves z-order layout metadata: box serving survives") {
    // compacting a z-ordered table must carry the axis-scaling note into
    // the new manifest — the rewrite keeps the _z clustering (range
    // partition + sort on the same stats column), so readPrunedBox on
    // the CURRENT version keeps working with the same constants
    val src = graft.ops.Warehouse.zOrders(spark, sf)
    // private working copy: zOrders is a session-memoized shared fixture
    val dir = freshDir()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(src),
      new org.apache.hadoop.fs.Path(dir))
    val before = Snapshot.manifest(spark, dir, 2)
    assert(before.note.startsWith("zorder("), before.note)
    val ref = Snapshot.readPrunedBox(spark, dir,
        Seq(("o_custkey", 10L, 60L), ("dday", 1461L, 2191L)))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val v = Snapshot.compactVersion(spark, dir, Long.MaxValue)
    assert(v == 3)
    val after = Snapshot.manifest(spark, dir, v)
    assert(after.note == before.note,
      "compaction must carry the z layout note forward")
    assert(after.statsCol == "_z")
    val got = Snapshot.readPrunedBox(spark, dir,
        Seq(("o_custkey", 10L, 60L), ("dday", 1461L, 2191L)))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ref && got.nonEmpty,
      "box serving over the compacted current version is value-identical")
  }

  test("commitOnce witness survives an interleaved maintenance commit") {
    val dir = freshDir()
    import spark.implicits._
    val v1 = Snapshot.commitOnce(spark, dir, "batch_7") {
      Snapshot.commit(baseRows(3), dir, 0, "k", note = "batch_7")
    }
    assert(v1 == 1)
    // a compaction lands BETWEEN the tokened commit and its redrive: the
    // token is no longer on the current manifest, but it is in history —
    // the redrive must still no-op instead of committing the batch twice
    Snapshot.compactVersion(spark, dir, Long.MaxValue)
    assert(Snapshot.currentVersion(spark, dir) == 2)
    val redrive = Snapshot.commitOnce(spark, dir, "batch_7") {
      fail("redrive after success must not re-run the commit body")
    }
    assert(redrive == 1, "the witnessed version comes back")
    assert(Snapshot.currentVersion(spark, dir) == 2)
    // an unseen token still runs its body
    val v3 = Snapshot.commitOnce(spark, dir, "batch_8") {
      Snapshot.commit(Seq((99L, "x", "I")).toDF("k", "v", "verdict"),
        dir, 2, "k", nFiles = 1, note = "batch_8")
    }
    assert(v3 == 3)
  }

  test("expireOlderThan: time-based retention off the durable commit clock") {
    val dir = freshDir()
    Snapshot.commit(baseRows(3), dir, 0, "k")
    Thread.sleep(15)
    import spark.implicits._
    Snapshot.commit(Seq((1L, "a", "U")).toDF("k", "v", "verdict"),
      dir, 1, "k", nFiles = 1)
    Thread.sleep(15)
    Snapshot.commit(Seq((1L, "b", "U")).toDF("k", "v", "verdict"),
      dir, 2, "k", nFiles = 1)
    val ts2 = Snapshot.manifest(spark, dir, 2).ts
    val ts3 = Snapshot.manifest(spark, dir, 3).ts
    assert(ts2 < ts3)
    // cutoff lands between v2 and v3: v1 and v2 expire, v3 stays
    assert(Snapshot.expireOlderThan(spark, dir, ts3) == Seq(1, 2))
    assert(Snapshot.versions(spark, dir) == Seq(3))
    assert(state(dir) == Set((1L, "b", "U")), "current state intact")
    // the current version NEVER expires, whatever the cutoff
    assert(Snapshot.expireOlderThan(spark, dir, Long.MaxValue).isEmpty)
    assert(Snapshot.versions(spark, dir) == Seq(3))
  }

  test("changeFeed skips maintenance-only ranges without diffing the table") {
    val dir = freshDir()
    Snapshot.commit(baseRows(10), dir, 0, "k")
    Snapshot.compactVersion(spark, dir, Long.MaxValue) // v2, marker note
    assert(Snapshot.manifest(spark, dir, 2).note == "optimize:compact")
    val feed = Snapshot.changeFeed(spark, dir, 1, 2, "k")
    assert(feed.columns.toSeq == Seq("k", "change_type", "v", "verdict"))
    assert(feed.isEmpty, "a compaction is not a data change")
    assert(feed.inputFiles.isEmpty,
      "the skip must not scan any data file — that is its whole point")
    // a range MIXING maintenance and data commits still diffs normally
    import spark.implicits._
    Snapshot.commit(Seq((1L, "rewritten", "U")).toDF("k", "v", "verdict"),
      dir, 2, "k", nFiles = 1)
    val mixed = Snapshot.changeFeed(spark, dir, 1, 3, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(mixed.contains((1L, "U")), s"the data commit's changes surface: $mixed")
  }

  test("mergeCow refuses a z-ordered layout instead of silently duplicating") {
    val dir = graft.ops.Warehouse.zOrders(spark, sf)
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Snapshot.mergeCow(spark, dir,
        Seq((1L, "upd")).toDF("o_custkey", "v"), "o_custkey",
        (base, ch) => base)
    }
    assert(e.getMessage.contains("z-ordered"), e.getMessage)
    assert(Snapshot.currentVersion(spark, dir) == 2, "nothing committed")
  }

  test("mergeCow refuses a non-integral keyCol instead of silently duplicating") {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_mergekey_" + java.util.UUID.randomUUID().toString.take(8)
    Snapshot.commit((1L to 20L).map(k => (k, s"doc$k")).toDF("k", "v"),
      dir, 0, "k", nFiles = 2)
    // an md5-hex-style key casts to NULL, overlaps no stats range, and
    // pre-guard would have carried every file while re-inserting the
    // "changes" as duplicates — the verb must refuse loudly
    val e = intercept[IllegalArgumentException] {
      Snapshot.mergeCow(spark, dir,
        Seq(("0fa3cc9e", "upd")).toDF("doc_id", "v"), "doc_id",
        (base, ch) => base)
    }
    assert(e.getMessage.contains("must be integral") &&
      e.getMessage.contains("doc_id"), e.getMessage)
    assert(Snapshot.currentVersion(spark, dir) == 1, "nothing committed")
  }

  test("rank z-order keeps a Zipfian axis selective where min-max collapses it") {
    // 20k rows; `a` Zipf-shaped: 95% of rows in [0,100), 5% outliers up
    // to ~2^30 — min-max scales the dense mass to scaled-value 0, so the
    // a-axis stops discriminating between files; rank buckets split the
    // dense region across ~95% of buckets. `b` uniform — the well-behaved
    // axis both layouts serve. Deterministic LCG, no RNG.
    import spark.implicits._
    val rows = (0 until 20000).map { i =>
      val h = (i * 2654435761L) & 0x7FFFFFFFL
      val a = if (h % 100 < 95) h % 100 else (1L << 30) / (1 + h % 97)
      (i.toLong, a, h % 10000)
    }
    def mkTable(): String = {
      val dir = freshDir()
      Snapshot.commit(rows.toDF("id", "a", "b"), dir, 0, "id", nFiles = 4)
      dir
    }
    val (mmDir, rkDir) = (mkTable(), mkTable())
    Snapshot.optimizeZorder(spark, mmDir, Seq("a", "b"), nFiles = 16)
    Snapshot.optimizeZorder(spark, rkDir, Seq("a", "b"), nFiles = 16,
      rankBuckets = Some(256))
    // dense-region box: a in [10,20) x ALL of b — the query shape where
    // min-max has nothing: the whole Zipf mass scales to a=0, so an
    // a-predicate inside the dense region covers the entire dense slab
    // (~every file), while rank's equal-mass buckets make a in [10,20)
    // ~10% of the a dimension
    val (aLo, aHi, bLo, bHi) = (10L, 19L, 0L, 9999L)
    val box = Seq(("a", aLo, aHi), ("b", bLo, bHi))
    val mmHit = Snapshot.prunedFilesBox(spark, mmDir, box)
    val rkHit = Snapshot.prunedFilesBox(spark, rkDir, box)
    assert(rkHit.size < mmHit.size,
      s"rank must out-prune min-max on the skewed axis: " +
        s"rank ${rkHit.size} vs min-max ${mmHit.size} of 16")
    // both layouts stay LOSSLESS: box read == full filter, value-equal
    for (dir <- Seq(mmDir, rkDir)) {
      val boxed = Snapshot.readPrunedBox(spark, dir, box)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val full = Snapshot.read(spark, dir)
        .filter(col("a").between(aLo, aHi) && col("b").between(bLo, bHi))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(boxed == full && boxed.nonEmpty, s"losslessness broke in $dir")
    }
    // the outlier tail must also stay readable under rank (boundaries
    // cover it with its own sparse buckets)
    val tail = Snapshot.readPrunedBox(spark, rkDir,
        Seq(("a", 1000000L, 1L << 30), ("b", 0L, 9999L)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val tailFull = Snapshot.read(spark, rkDir)
      .filter(col("a").between(1000000L, 1L << 30) && col("b").between(0L, 9999L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(tail == tailFull && tail.nonEmpty)
  }

  /** A table where k (the clustering/stats column) serves ranges but a
    * SECOND integral column h is hash-spread: every file's h range spans
    * ~the whole domain, so only a point index can skip files on h. */
  private def bloomTable(): String = {
    import spark.implicits._
    val dir = freshDir()
    val rows = (1 to 800).map { k =>
      (k.toLong, (k.toLong * 2654435761L) % 100000L, s"val_$k")
    }.toDF("k", "h", "v")
    Snapshot.commit(rows, dir, 0, "k", nFiles = 8)
    Snapshot.optimizeBloom(spark, dir, "h")
    dir
  }

  test("optimizeBloom: manifest-only maintenance commit, sketches round-trip") {
    val dir = bloomTable()
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m2.files == m1.files, "bloom stamp must not touch data files")
    assert(m2.note == "optimize:bloom:h" && Snapshot.isMaintenanceNote(m2.note))
    assert(m2.blooms.keySet == m1.files.map(f => (f.path, "h")).toSet,
      "one sketch per file on the stamped column")
    // the parsed (round-tripped) sketches answer membership: every h
    // value present in a file must hit that file's sketch
    val perFile = spark.read.parquet(m2.files.map(f => s"$dir/${f.path}"): _*)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"),
        col("h")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    perFile.foreach { case (uri, h) =>
      val p = m2.files.map(_.path).find(p => uri.endsWith(s"/$p")).get
      assert(m2.blooms((p, "h")).mightContain(h),
        s"false negative for h=$h in $p — bloom is broken")
    }
  }

  test("readPoints on the bloom column opens few files; min/max alone cannot") {
    val dir = bloomTable()
    val m = Snapshot.manifest(spark, dir, 2)
    val hOf = (k: Long) => (k * 2654435761L) % 100000L
    val keys = Seq(hOf(42), hOf(511))
    // without the sketch every file is a candidate (h ranges overlap):
    // prove the layout really mis-serves h, then that blooms rescue it
    val hRangesOverlap = {
      val ranges = m.files.map { f =>
        val vals = spark.read.parquet(s"$dir/${f.path}")
          .select(min(col("h")), max(col("h"))).head()
        (vals.getLong(0), vals.getLong(1))
      }
      keys.forall(key => ranges.count { case (lo, hi) => lo <= key && key <= hi } >= 6)
    }
    assert(hRangesOverlap, "fixture must make per-file h ranges overlap")
    val candidates = m.files.filter(f =>
      keys.exists(key => Snapshot.mayContain(m, f, "h", key)))
    assert(candidates.size <= 3,
      s"bloom should prune to ~1 file per key, got ${candidates.size} of 8")
    // value-exact vs a full-scan filter
    val got = Snapshot.readPoints(spark, dir, "h", keys)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    val want = Snapshot.read(spark, dir)
      .filter(col("h").isin(keys: _*))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("readPoints: absent key prunes to zero files and returns empty, exact") {
    val dir = bloomTable()
    val m = Snapshot.manifest(spark, dir, 2)
    val absent = Seq(100001L, 7777777L) // outside h's domain entirely
    assert(!m.files.exists(f =>
      absent.exists(key => Snapshot.mayContain(m, f, "h", key))),
      "absent keys must reach zero candidate files")
    val out = Snapshot.readPoints(spark, dir, "h", absent)
    assert(out.count() == 0 && out.schema.fieldNames.toSeq == Seq("k", "h", "v"))
    // on the STATS column the min/max path still serves points unstamped
    val viaStats = Snapshot.readPoints(spark, dir, "k", Seq(42L))
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(viaStats == Seq(42L))
    val statHit = m.files.filter(f => Snapshot.mayContain(m, f, "k", 42L))
    assert(statHit.size == 1, "range stats prune the clustering column")
  }

  test("a narrow merge carries every bloom sidecar; the masked file's stays sound") {
    import spark.implicits._
    val dir = bloomTable()
    // narrow change: one key → its position masked, all 8 files carry
    val changes = Seq((42L, "patched")).toDF("ck", "nv")
    Snapshot.mergeCow(spark, dir, changes, "ck",
      (base, ch) => base.join(ch, base("k") === ch("ck"), "left")
        .select(col("k"), col("h"),
          coalesce(col("nv"), col("v")).as("v")))
    val m2 = Snapshot.manifest(spark, dir, 2)
    val m3 = Snapshot.manifest(spark, dir, 3)
    val carried = m3.files.map(_.path).toSet & m2.files.map(_.path).toSet
    assert(carried.size == 8, "a narrow merge must carry all 8 files")
    assert(m3.dvs.values.map(_.length).sum == 1 && m3.files.size == 9,
      "one masked position, one fresh post-image file")
    assert(m3.blooms.keySet == carried.map(p => (p, "h")),
      "carried files keep sketches (a masked row only adds a false " +
        "positive); the fresh file has none yet")
    // the sketch-less fresh file stays a candidate for the key it holds
    val fresh = m3.files.filterNot(f => carried.contains(f.path))
    val hOf = (k: Long) => (k * 2654435761L) % 100000L
    assert(fresh.forall(f => Snapshot.mayContain(m3, f, "h", hOf(42L))))
    val got = Snapshot.readPoints(spark, dir, "h", Seq(hOf(42L)))
      .select("v").collect().map(_.getString(0)).toSeq
    assert(got == Seq("patched"))
  }

  test("deleteWhere: narrow COW, residual refines, no-op commits nothing") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k") // 8 files x ~100 keys
    val m1 = Snapshot.manifest(spark, dir, 1)
    // range [150,249] spans 2 files; residual keeps odd keys
    Snapshot.deleteWhere(spark, dir, 150L, 249L, col("k") % 2 === 0)
    val m2 = Snapshot.manifest(spark, dir, 2)
    val carried = m2.files.map(_.path).toSet & m1.files.map(_.path).toSet
    assert(carried.size == 6, s"2 touched files rewrite, 6 carry: $carried")
    val want = (1 to 800).filterNot(k => k >= 150 && k <= 249 && k % 2 == 0)
      .map(_.toLong).toSet
    assert(state(dir).map(_._1) == want)
    // v1 still serves the pre-delete state (time travel over DML)
    assert(state(dir, 1).map(_._1) == (1 to 800).map(_.toLong).toSet)
    // a range outside every file: NO-OP — no version, no empty commit
    assert(Snapshot.deleteWhere(spark, dir, 5000L, 6000L) == 2)
    assert(Snapshot.versions(spark, dir) == Seq(1, 2))
    // SQL DELETE three-valued logic: a NULL residual KEEPS its row —
    // only predicate-TRUE rows delete (the !(range && NULL) = NULL trap)
    import spark.implicits._
    val ndir = freshDir()
    Snapshot.commit(Seq((1L, "F"), (2L, null: String), (3L, "O"))
      .toDF("k", "st"), ndir, 0, "k", nFiles = 1)
    Snapshot.deleteWhere(spark, ndir, 1L, 3L, col("st") === "F")
    assert(Snapshot.read(spark, ndir).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L),
      "the NULL-status row must survive a status='F' delete")
  }

  test("updateWhere: SET sees the OLD row; only touched files rewrite") {
    import spark.implicits._
    val dir = freshDir()
    val rows = (1 to 400).map(k => (k.toLong, k.toLong * 10, k.toLong * 100))
      .toDF("k", "a", "b")
    Snapshot.commit(rows, dir, 0, "k", nFiles = 4)
    // swap a and b in [50,149] — chained withColumn would make a==b
    Snapshot.updateWhere(spark, dir, 50L, 149L,
      Map("a" -> col("b"), "b" -> col("a")))
    val m1 = Snapshot.manifest(spark, dir, 1)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert((m2.files.map(_.path).toSet & m1.files.map(_.path).toSet).size == 2,
      "range [50,149] touches 2 of 4 files")
    Snapshot.read(spark, dir).collect().foreach { r =>
      val (k, a, b) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (k >= 50 && k <= 149) assert(a == k * 100 && b == k * 10,
        s"swap must read pre-update values at k=$k")
      else assert(a == k * 10 && b == k * 100)
    }
    // updating statsCol itself recomputes stats honestly
    Snapshot.updateWhere(spark, dir, 300L, 349L, Map("k" -> (col("k") + 1000L)))
    val m3 = Snapshot.manifest(spark, dir, 3)
    assert(m3.files.exists(_.max >= 1300L), "moved keys must widen file stats")
    assert(Snapshot.read(spark, dir).filter(col("k") >= 1300L).count() == 50)
    // unknown SET column fails loudly
    intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, dir, 1L, 10L, Map("nope" -> lit(1)))
    }
  }

  test("DML verbs refuse z-ordered layouts and carry bloom sidecars") {
    import spark.implicits._
    val dir = freshDir()
    val rows = (1 to 800).map { k =>
      (k.toLong, (k.toLong * 2654435761L) % 100000L, k.toLong % 50)
    }.toDF("k", "h", "g")
    Snapshot.commit(rows, dir, 0, "k", nFiles = 8)
    Snapshot.optimizeBloom(spark, dir, "h")
    val stamped = Snapshot.manifest(spark, dir, 2)
    Snapshot.deleteWhere(spark, dir, 1L, 100L)
    val m = Snapshot.manifest(spark, dir, 3)
    val carried = m.files.map(_.path).toSet & stamped.files.map(_.path).toSet
    assert(carried.size == 7, "delete of [1,100] rewrites 1 of 8 files")
    assert(m.blooms.keySet == carried.map(p => (p, "h")),
      "carried files keep sketches after DELETE; the rewritten one drops")
    // z-ordered layout refuses both verbs
    val zdir = freshDir()
    val zrows = (1 to 400).map(k => (k.toLong, k.toLong % 20, k.toLong % 30))
      .toDF("id", "a", "b")
    Snapshot.commit(zrows, zdir, 0, "a", nFiles = 4)
    Snapshot.optimizeZorder(spark, zdir, Seq("a", "b"), nFiles = 4)
    intercept[IllegalArgumentException] {
      Snapshot.deleteWhere(spark, zdir, 1L, 10L)
    }
    intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, zdir, 1L, 10L, Map("b" -> lit(0L)))
    }
  }

  test("restore: metadata-only rollback; feed inverts; z-target refused") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    Snapshot.deleteWhere(spark, dir, 100L, 199L)
    val v1State = state(dir, 1)
    assert(state(dir) != v1State)
    val dataBefore = state(dir, 2)
    val v = Snapshot.restore(spark, dir, 1)
    assert(v == 3 && state(dir) == v1State, "restored state == original")
    // zero data movement: v3 lists exactly v1's files by reference
    assert(Snapshot.manifest(spark, dir, 3).files ==
      Snapshot.manifest(spark, dir, 1).files)
    // the undone version stays inspectable (audit, not erasure)
    assert(state(dir, 2) == dataBefore)
    // the change feed across the restore is the INVERSE of the delete:
    // pure re-inserts of the dropped keys
    val feed = Snapshot.changeFeed(spark, dir, 2, 3, "k").collect()
    assert(feed.nonEmpty && feed.forall(_.getAs[String]("change_type") == "I"))
    assert(feed.map(_.getAs[Long]("k")).sorted.toSeq ==
      (100L to 199L).toSeq)
    // no-op restore to current; z-ordered target refused
    assert(Snapshot.restore(spark, dir, 3) == 3 &&
      Snapshot.versions(spark, dir) == Seq(1, 2, 3))
    import spark.implicits._
    val zdir = freshDir()
    Snapshot.commit((1 to 100).map(k => (k.toLong, k.toLong % 7))
      .toDF("a", "b"), zdir, 0, "a", nFiles = 2)
    Snapshot.optimizeZorder(spark, zdir, Seq("a", "b"), nFiles = 2)
    Snapshot.commit((1 to 120).map(k => (k.toLong, k.toLong % 7))
      .toDF("a", "b"), zdir, 2, "a", nFiles = 2)
    intercept[IllegalArgumentException] {
      Snapshot.restore(spark, zdir, 2) // the z-ordered version
    }
  }

  test("CHECK constraints: registration validates, commits enforce atomically") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    // registration validates existing data: a violated check cannot land
    intercept[Snapshot.CheckViolation] {
      Snapshot.addConstraint(spark, dir, "impossible", "k > 100")
    }
    assert(Snapshot.versions(spark, dir) == Seq(1))
    val v2 = Snapshot.addConstraint(spark, dir, "verdict_known",
      "verdict IN ('K','U','I')")
    assert(v2 == 2 && Snapshot.isMaintenanceNote(
      Snapshot.manifest(spark, dir, 2).note))
    assert(Snapshot.manifest(spark, dir, 2).checks ==
      Seq("verdict_known" -> "verdict IN ('K','U','I')"))
    // a valid COW merge passes; enforcement rode its stats pass
    Snapshot.mergeCow(spark, dir, Seq((42L, "U")).toDF("ck", "nv"), "ck",
      (b, c) => b.join(c, b("k") === c("ck"), "left")
        .select(col("k"), col("v"), coalesce(col("nv"), col("verdict"))
          .as("verdict")))
    assert(state(dir).exists(_ == ((42L, "val_42", "U"))))
    // a violating merge is rejected ATOMICALLY: typed counts, no new
    // version, no leaked data files (vacuum finds nothing to reclaim)
    val before = Snapshot.versions(spark, dir)
    val e = intercept[Snapshot.CheckViolation] {
      Snapshot.mergeCow(spark, dir, Seq((10L, "X"), (11L, "X"), (700L, "X"))
        .toDF("ck", "nv"), "ck",
        (b, c) => b.join(c, b("k") === c("ck"), "left")
          .select(col("k"), col("v"), coalesce(col("nv"), col("verdict"))
            .as("verdict")))
    }
    assert(e.counts == Map("verdict_known" -> 3L))
    assert(Snapshot.versions(spark, dir) == before)
    assert(Snapshot.vacuum(spark, dir).isEmpty,
      "rejected batch must clean up its own files")
    // NULL passes (SQL CHECK semantics)
    Snapshot.mergeCow(spark, dir, Seq((43L, null: String)).toDF("ck", "nv"),
      "ck", (b, c) => b.join(c, b("k") === c("ck"), "left")
        .select(col("k"), col("v"),
          when(col("ck").isNotNull, lit(null).cast("string"))
            .otherwise(col("verdict")).as("verdict")))
    assert(state(dir).exists(t => t._1 == 43L && t._3 == null))
    // drop lifts the rule; single-file commit path enforces too
    Snapshot.dropConstraint(spark, dir, "verdict_known")
    val vAfter = Snapshot.currentVersion(spark, dir)
    Snapshot.commit(Seq((9999L, "x", "Z")).toDF("k", "v", "verdict"), dir,
      vAfter, "k", carried = Snapshot.manifest(spark, dir, vAfter).files,
      nFiles = 1)
    val redir = freshDir()
    Snapshot.commit(baseRows(), redir, 0, "k")
    Snapshot.addConstraint(spark, redir, "no_z", "verdict <> 'Z'")
    intercept[Snapshot.CheckViolation] {
      Snapshot.commit(Seq((801L, "x", "Z")).toDF("k", "v", "verdict"),
        redir, 2, "k", carried = Snapshot.manifest(spark, redir, 2).files,
        nFiles = 1)
    }
    assert(Snapshot.currentVersion(spark, redir) == 2)
  }

  test("shallow clone: zero-copy fork, COW divergence, source untouched") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_clone").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    Snapshot.commit(baseRows(), src, 0, "k")
    Snapshot.optimizeBloom(spark, src, "k") // sidecars must ride the clone
    Snapshot.addConstraint(spark, src, "verdict_known", "verdict = 'K'")
    assert(Snapshot.cloneShallow(spark, src, dst) == 1)
    val cm = Snapshot.manifest(spark, dst, 1)
    // pure metadata: every entry is an absolute (qualified-URI) ref into
    // src; no bytes under dst/data; sidecars and constraints carried
    assert(cm.files.forall(f =>
      Snapshot.isAbsolutePath(f.path) && f.path.contains(s"$src/")))
    assert(!new java.io.File(s"$dst/data").exists())
    assert(cm.blooms.nonEmpty &&
      cm.blooms.keySet.forall(_._1.contains(s"$src/")))
    assert(cm.checks == Seq("verdict_known" -> "verdict = 'K'"))
    assert(state(dst) == state(src))
    // divergence: a narrow merge into the CLONE masks one position of a
    // source ref in dst's manifest and appends one file into dst; every
    // source ref carries, and the SOURCE never moves
    val srcVersionsBefore = Snapshot.versions(spark, src)
    Snapshot.mergeCow(spark, dst, Seq((42L, "K")).toDF("ck", "nv"), "ck",
      (b, c) => b.join(c, b("k") === c("ck"), "left")
        .select(col("k"), when(col("nv").isNotNull, "patched")
          .otherwise(col("v")).as("v"), col("verdict")), nFiles = 1)
    val m2 = Snapshot.manifest(spark, dst, 2)
    assert(m2.files.count(_.path.contains(s"$src/")) == 8 &&
      m2.files.count(f => !Snapshot.isAbsolutePath(f.path)) == 1 &&
      m2.dvs.keySet.forall(_.contains(s"$src/")) &&
      m2.dvs.values.map(_.length).sum == 1,
      "1 fresh file lands in the clone, 8 stay source refs, 1 masked")
    assert(Snapshot.versions(spark, src) == srcVersionsBefore &&
      state(src) == baseRows().collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet,
      "the source must be untouched by the clone's merge")
    assert(state(dst).exists(_ == ((42L, "patched", "K"))))
    // the clone's constraint still enforces (inherited governance)
    intercept[Snapshot.CheckViolation] {
      Snapshot.mergeCow(spark, dst, Seq((43L, "X")).toDF("ck", "nv"), "ck",
        (b, c) => b.join(c, b("k") === c("ck"), "left")
          .select(col("k"), col("v"),
            coalesce(col("nv"), col("verdict")).as("verdict")))
    }
    // clone vacuum reclaims nothing of the source
    assert(Snapshot.vacuum(spark, dst).isEmpty)
    // deep-copy severance: compaction rewrites every referenced byte
    // into the clone — no absolute refs remain, source now expendable
    Snapshot.compactVersion(spark, dst, 128L << 20)
    val m3 = Snapshot.manifest(spark, dst, Snapshot.currentVersion(spark, dst))
    assert(m3.files.forall(f => !Snapshot.isAbsolutePath(f.path)))
    assert(state(dst).exists(_ == ((42L, "patched", "K"))))
    // cloning onto an existing table is refused
    intercept[IllegalArgumentException] {
      Snapshot.cloneShallow(spark, src, dst)
    }
  }

  test("a majority-matched merge falls back to copy-on-write: clone-local " +
    "rewrite, sidecars carry, no mask") {
    import spark.implicits._
    val src = bloomTable() // 8 files over k = 1..800, h Bloom-stamped
    val dst = Files.createTempDirectory("graft_clone").toString + "/dst"
    Snapshot.cloneShallow(spark, src, dst)
    val m1 = Snapshot.manifest(spark, dst, 1)
    // keys 1..80 match 80 of the first file's 100 live rows — past half,
    // so the merge rewrites that one file instead of masking
    val ch = (1 to 80).map(k => (k.toLong, s"cow_$k")).toDF("ck", "nv")
    Snapshot.mergeCow(spark, dst, ch, "ck",
      (b, c) => b.join(c, b("k") === c("ck"), "left")
        .select(col("k"), col("h"), coalesce(col("nv"), col("v")).as("v")),
      nFiles = 1)
    val m2 = Snapshot.manifest(spark, dst, 2)
    val carried = m2.files.map(_.path).toSet & m1.files.map(_.path).toSet
    assert(carried.size == 7, "a one-file COW rewrite must carry 7 of 8 files")
    assert(m2.dvs.isEmpty, "the COW branch masks nothing")
    assert(m2.files.count(_.path.contains(s"$src/")) == 7 &&
      m2.files.count(f => !Snapshot.isAbsolutePath(f.path)) == 1,
      "1 rewritten file lands in the clone, 7 stay source refs")
    assert(m2.blooms.keySet == carried.map(p => (p, "h")),
      "carried files keep sketches; the rewritten file drops its stale one")
    assert(m2.colStats.count(_._1._2 == "h") == 8 &&
      m2.files.forall(f => m2.colStats.contains((f.path, "h"))),
      "7 carried stamps + the rewrite's fresh auto stamp")
    val got = Snapshot.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size == 800 && got(80L) == "cow_80" && got(81L) == "val_81")
    assert(Snapshot.read(spark, src).filter(col("v").startsWith("cow_"))
      .isEmpty, "the source must be untouched by the clone's merge")
  }

  test("addColumn: metadata-only evolution; old versions keep their schema") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val filesV1 = Snapshot.manifest(spark, dir, 1).files
    assert(Snapshot.addColumn(spark, dir, "score", "BIGINT") == 2)
    // metadata only: identical file list, zero data movement
    assert(Snapshot.manifest(spark, dir, 2).files == filesV1)
    // v2 surfaces the column as a typed NULL on every row
    val v2 = Snapshot.read(spark, dir, 2)
    assert(v2.schema.fieldNames.contains("score") &&
      v2.schema("score").dataType.toString == "LongType")
    assert(v2.filter(col("score").isNotNull).count() == 0)
    // v1 keeps the narrow schema — time travel reads the schema of its day
    assert(!Snapshot.read(spark, dir, 1).schema.fieldNames.contains("score"))
    // duplicate (case-insensitive) and malformed declarations refused
    intercept[IllegalArgumentException] {
      Snapshot.addColumn(spark, dir, "score", "BIGINT")
    }
    intercept[IllegalArgumentException] {
      Snapshot.addColumn(spark, dir, "V", "STRING")
    }
    intercept[Exception] {
      Snapshot.addColumn(spark, dir, "bad", "NOT_A_TYPE")
    }
    assert(Snapshot.currentVersion(spark, dir) == 2,
      "refused evolutions must not commit")
    // a writer missing the declared column is rejected before any write
    intercept[IllegalArgumentException] {
      Snapshot.commit(Seq((900L, "x", "K")).toDF("k", "v", "verdict"),
        dir, 2, "k", carried = filesV1, nFiles = 1)
    }
    // the evolution commit is maintenance: an empty feed, no table diff
    assert(Snapshot.changeFeed(spark, dir, 1, 2, "k").isEmpty)
    // a COW merge carries the column: the touched file rewrites WIDE,
    // carried files stay physically narrow, the read serves both
    Snapshot.mergeCow(spark, dir, Seq((42L, 7L)).toDF("ck", "sc"), "ck",
      (b, c) => b.join(c, b("k") === c("ck"), "left")
        .select(col("k"), col("v"), col("verdict"),
          coalesce(col("sc"), col("score")).as("score")), nFiles = 1)
    val post = Snapshot.read(spark, dir)
    assert(post.filter(col("k") === 42L).head.getAs[Long]("score") == 7L)
    assert(post.filter(col("score").isNull).count() == 799)
    // constraints may reference the evolved column (NULL passes)
    Snapshot.addConstraint(spark, dir, "score_pos", "score >= 0")
    intercept[Snapshot.CheckViolation] {
      Snapshot.mergeCow(spark, dir, Seq((43L, -1L)).toDF("ck", "sc"), "ck",
        (b, c) => b.join(c, b("k") === c("ck"), "left")
          .select(col("k"), col("v"), col("verdict"),
            coalesce(col("sc"), col("score")).as("score")), nFiles = 1)
    }
    // RESTORE to a pre-evolution version rolls the declaration back
    Snapshot.restore(spark, dir, 1)
    assert(!Snapshot.read(spark, dir).schema.fieldNames.contains("score"))
  }

  test("auto-stats caps are session-tunable; gated columns are observable") {
    import spark.implicits._
    val wide = "x" * 200 // past the default 64-byte string gate
    def rows = (1 to 40).map(k => (k.toLong, k * 2L, s"$wide$k"))
      .toDF("k", "k2", "doc")
    // maxCols=0 disables auto stamps entirely (the wide-table opt-out)
    val dirOff = freshDir()
    spark.conf.set(Snapshot.AutoStatsMaxColsKey, "0")
    try Snapshot.commit(rows, dirOff, 0, "k", nFiles = 2)
    finally spark.conf.unset(Snapshot.AutoStatsMaxColsKey)
    val mOff = Snapshot.manifest(spark, dirOff, 1)
    assert(mOff.colStats.isEmpty && mOff.strStats.isEmpty,
      "maxCols=0 must stamp nothing")
    // default gate: the 200-byte doc column stamps nothing; raising
    // maxStrBytes makes the same data stamp
    val dirDef = freshDir()
    Snapshot.commit(rows, dirDef, 0, "k", nFiles = 2)
    val mDef = Snapshot.manifest(spark, dirDef, 1)
    assert(mDef.colStats.keys.count(_._2 == "k2") == 2 &&
      mDef.strStats.isEmpty, "over-wide strings stay unstamped by default")
    val dirUp = freshDir()
    spark.conf.set(Snapshot.AutoStatsMaxStrBytesKey, "512")
    try Snapshot.commit(rows, dirUp, 0, "k", nFiles = 2)
    finally spark.conf.unset(Snapshot.AutoStatsMaxStrBytesKey)
    assert(Snapshot.manifest(spark, dirUp, 1).strStats.keys
      .count(_._2 == "doc") == 2, "a raised gate stamps the wide column")
    // an EXPLICIT optimizeStats on the gated column names it in the
    // commit note — degradation observable, not silent
    Snapshot.optimizeStats(spark, dirDef, Seq("doc", "k2"))
    val note = Snapshot.manifest(spark, dirDef, 2).note
    assert(note.contains("gated:doc") && !note.contains("gated:k2"), note)
  }

  test("optimizeStats: secondary-column ranges prune files, sans z-order") {
    import spark.implicits._
    val dir = freshDir()
    // k2 anti-correlates with the k clustering, so a k2 range maps to
    // few files — but only sidecar stats can SEE that
    val df = (1 to 800).map(k => (k.toLong, (801 - k).toLong, s"val_$k"))
      .toDF("k", "k2", "v")
    Snapshot.commit(df, dir, 0, "k")
    val m1 = Snapshot.manifest(spark, dir, 1)
    // round 15: the write's own stats pass AUTO-STAMPS eligible columns,
    // so the k2 range prunes from BIRTH — no optimizeStats needed
    assert(Snapshot.candidateFilesCols(m1, Seq(("k2", 701L, 800L))).size <= 2,
      "auto-stats must prune the anti-correlated range from birth")
    // optimizeStats remains the explicit re-stamp verb (legacy tables,
    // widened column sets) — idempotent over the auto stamps
    assert(Snapshot.optimizeStats(spark, dir, Seq("k2")) == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m2.files == m1.files, "manifest-only maintenance commit")
    assert(m2.colStats.count(_._1._2 == "k2") == 8,
      "one (min,max) per file, round-tripped (null witnesses aside)")
    assert(m2.colStats == m1.colStats,
      "the explicit re-stamp equals the write-path auto stamps")
    assert(Snapshot.changeFeed(spark, dir, 1, 2, "k").isEmpty,
      "the stats commit is maintenance — empty feed")
    // the k2 range now prunes at file level (range-boundary sampling
    // may split it across two neighbors, never more)
    val k2Hits = Snapshot.candidateFilesCols(m2, Seq(("k2", 701L, 800L)))
    assert(k2Hits.size <= 2, s"k2 range must prune, got ${k2Hits.size}")
    // the 2-col conjunction: primary stats on k AND sidecars on k2
    val hits = Snapshot.candidateFilesCols(m2,
      Seq(("k", 1L, 100L), ("k2", 701L, 800L)))
    assert(hits.nonEmpty && hits.size <= 2,
      s"conjunction must prune on both axes, got ${hits.size}")
    // value-equality to a full-scan filter
    val got = Snapshot.readPrunedCols(spark, dir,
        Seq(("k", 1L, 100L), ("k2", 701L, 800L)))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 100L), "pruning must be lossless")
    // a contradiction (k low AND k2 low = opposite table ends) prunes to
    // ZERO files and returns empty with the schema intact
    val none = Snapshot.readPrunedCols(spark, dir,
      Seq(("k", 1L, 100L), ("k2", 1L, 100L)))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "k2", "v"))
    // merge carry: every file keeps its stamps (a masked row only widens
    // its file's stale range), and the FRESH file stamps inside its own
    // write (round 15 — no degradation window until the next optimizeStats)
    Snapshot.mergeCow(spark, dir, Seq((42L, 900L)).toDF("ck", "nk2"), "ck",
      (b, c) => b.join(c, b("k") === c("ck"), "left")
        .select(col("k"), coalesce(col("nk2"), col("k2")).as("k2"),
          col("v")), nFiles = 1)
    val m3 = Snapshot.manifest(spark, dir, 3)
    assert(m3.colStats.count(_._1._2 == "k2") == 9,
      s"8 carried stamps + the fresh file's auto stamp, got " +
        s"${m3.colStats.count(_._1._2 == "k2")}")
    assert(m3.files.forall(f => m3.colStats.contains((f.path, "k2"))),
      "every file is k2-stamped after the merge")
    assert(Snapshot.candidateFilesCols(m3, Seq(("k2", 701L, 800L))).size < 8)
    // k=42's k2 moved to 900 in the merge, so the range now holds 99
    assert(Snapshot.readPrunedCols(spark, dir, Seq(("k2", 701L, 800L)))
      .count() == 99, "post-merge pruning stays lossless")
    // ... and the moved value is findable through its NEW stamp
    assert(Snapshot.readPrunedCols(spark, dir, Seq(("k2", 900L, 900L)))
      .count() == 1)
  }

  test("vacuum grace: a racing vacuum cannot kill an in-flight commit") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    // the in-flight window commit() opens: data files landed under
    // data/, the manifest rename not yet issued — a maintenance vacuum
    // fires RIGHT NOW
    baseRows(5).write.parquet(s"$dir/data/c2_inflight")
    assert(Snapshot.vacuum(spark, dir).isEmpty,
      "the grace age must protect the in-flight data dir")
    // the commit completes: a manifest referencing those files publishes
    // (commit-with-carry replays the publish half against the surviving
    // dir), and the snapshot reads intact
    val inflight = new java.io.File(s"$dir/data/c2_inflight").listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .map(f => Snapshot.FileEntry(s"data/c2_inflight/${f.getName}", 1L, 5L))
      .toSeq
    import spark.implicits._
    Snapshot.commit(Seq((900L, "fresh", "K")).toDF("k", "v", "verdict"),
      dir, 1, "k", carried = inflight, nFiles = 1)
    assert(Snapshot.read(spark, dir).count() == 6,
      "the published snapshot must serve the once-orphaned files")
    assert(Snapshot.vacuum(spark, dir, 0L).isEmpty,
      "everything is referenced once the commit lands")
  }

  test("compactSmall bin-packs only the sub-threshold tail") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k", nFiles = 4)
    // 5 micro-appends, one tiny file each — the accretion tail
    (1 to 5).foreach { i =>
      val cur = Snapshot.currentVersion(spark, dir)
      val m = Snapshot.manifest(spark, dir, cur)
      Snapshot.commit(Seq((800L + i, s"tail_$i", "K")).toDF("k", "v", "verdict"),
        dir, cur, "k", m.files, nFiles = 1)
    }
    val m6 = Snapshot.manifest(spark, dir, 6)
    assert(m6.files.size == 9)
    val before = state(dir)
    val initEntries = Snapshot.manifest(spark, dir, 1).files
    val minInit = initEntries
      .map(f => Snapshot.entryLen(spark, dir, f.path)).min
    val v = Snapshot.compactSmall(spark, dir, smallBytes = minInit)
    assert(v == 7)
    val m7 = Snapshot.manifest(spark, dir, 7)
    assert(m7.note == "optimize:compact", "maintenance commit")
    assert(m7.files.size == 5, s"4 carried + 1 merged, got ${m7.files.size}")
    assert(initEntries.forall(f => m7.files.contains(f)),
      "well-sized files must carry by reference, entries verbatim")
    assert(state(dir) == before, "bin-packing is content-neutral")
    // idempotent at the fixpoint: the merged tail is no longer small
    // relative to nothing — a second pass with the same threshold may
    // still see the merged file as small, but alone it is a no-op
    val again = Snapshot.compactSmall(spark, dir, smallBytes = minInit)
    assert(again == 7, "fewer than two small files is a no-op, no commit")
  }

  test("string stats survive hostile values and carry across COW") {
    import spark.implicits._
    val dir = freshDir()
    // tab/newline/astral values: base64 serialization must round-trip
    // them byte-exact, and candidacy must order by UTF-8 bytes
    // (UTF8String's order), where "𝄞" (U+1D11E, 4 UTF-8
    // bytes F0 9D 84 9E) sorts ABOVE "�" (EF BF BD) — Java
    // String.compareTo would invert that
    val rows = Seq((1L, "a\tb\nc"), (2L, "𝄞"), (3L, "�"),
      (4L, "plain"))
    Snapshot.commit(rows.toDF("k", "v"), dir, 0, "k", nFiles = 1)
    Snapshot.optimizeStats(spark, dir, Seq("v"))
    val m = Snapshot.manifest(spark, dir, 2)
    val (mn, mx) = m.strStats.head._2
    assert(mn == "a\tb\nc", s"min '$mn'")
    assert(mx == "𝄞", "max must be the astral char under " +
      "UTF-8 byte order, not Java's UTF-16 order")
    // candidacy under the same order: a bound between the two unicode
    // values keeps the file; a bound above the astral max prunes it
    assert(Snapshot.candidateFilesCols(m, Nil,
      Seq(("v", Some("�"), None))).size == 1)
    assert(Snapshot.candidateFilesCols(m, Nil,
      Seq(("v", Some("𝄞 "), None))).isEmpty)
    // a COW-style carried commit keeps the stamp for untouched files,
    // and the fresh file auto-stamps inside its own write (round 15)
    val m2files = m.files
    Snapshot.commit(Seq((10L, "zz")).toDF("k", "v"), dir, 2, "k",
      carried = m2files, nFiles = 1)
    val m3 = Snapshot.manifest(spark, dir, 3)
    assert(m.strStats.toSet.subsetOf(m3.strStats.toSet),
      "carried files keep their string stamps verbatim")
    val freshStamp = (m3.strStats -- m.strStats.keys).values.toSeq
    assert(freshStamp == Seq(("zz", "zz")),
      "the fresh file auto-stamps its own (min,max)")
  }

  test("convertParquet adopts a flat lake by metadata; COW diverges locally") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_convert").toString
    val (plain, dir) = (s"$base/lake", s"$base/t")
    (1 to 800).map(k => (k.toLong, s"val_$k", "K")).toDF("k", "v", "verdict")
      .repartitionByRange(4, col("k")).write.parquet(plain)
    assert(Snapshot.convertParquet(spark, dir, plain, "k") == 1)
    val m = Snapshot.manifest(spark, dir, 1)
    assert(m.files.size == 4 && m.files.forall(f =>
      Snapshot.isAbsolutePath(f.path)), "adopted refs are absolute")
    assert(state(dir) == baseRows().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet)
    // measured stats prune: a key-range read plans a proper subset
    assert(Snapshot.candidateFilesCols(m, Seq(("k", 10L, 20L))).size <
      m.files.size)
    // COW delete rewrites touched files INTO the table dir; untouched
    // source refs carry; the lake itself is never written
    val lakeFs = new org.apache.hadoop.fs.Path(plain)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lakeBefore = lakeFs.listStatus(
      new org.apache.hadoop.fs.Path(plain)).map(s =>
      (s.getPath.getName, s.getLen)).toSet
    Snapshot.deleteWhere(spark, dir, 1L, 100L, col("k") <= 100L)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m2.files.count(f => Snapshot.isAbsolutePath(f.path)) == 3,
      "3 untouched source refs carry")
    assert(m2.files.exists(f => !Snapshot.isAbsolutePath(f.path)),
      "the rewrite landed locally")
    assert(lakeFs.listStatus(new org.apache.hadoop.fs.Path(plain))
      .map(s => (s.getPath.getName, s.getLen)).toSet == lakeBefore,
      "the source lake is never written")
    assert(Snapshot.read(spark, dir).count() == 700)
    // vacuum is blind to source files at any grace age
    assert(Snapshot.vacuum(spark, dir, 0L).isEmpty)
    assert(Snapshot.read(spark, dir, 1).count() == 800, "v1 travelable")
  }

  test("convertParquet: empty files skip; all-NULL stats get the open range") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_convert2").toString
    val (plain, dir) = (s"$base/lake", s"$base/t")
    (1 to 10).map(k => (Some(k.toLong), s"a_$k")).toDF("k", "v")
      .coalesce(1).write.parquet(plain)
    // a second, all-NULL-key file and an empty file land in the same dir
    (1 to 5).map(_ => (Option.empty[Long], "nullkey")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(plain)
    Seq.empty[(Option[Long], String)].toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(plain)
    Snapshot.convertParquet(spark, dir, plain, "k")
    val m = Snapshot.manifest(spark, dir, 1)
    assert(m.files.size == 2, "the empty file is skipped")
    assert(m.files.exists(f => f.min == Long.MinValue &&
      f.max == Long.MaxValue), "all-NULL stats file keeps the open range")
    assert(Snapshot.read(spark, dir).count() == 15)
  }

  test("DV codec: delta-varint round-trips; rejects non-ascending") {
    val cases = Seq(Array.empty[Long], Array(0L), Array(0L, 1L, 2L, 1000L),
      Array(5L, 1L << 40, (1L << 40) + 1))
    cases.foreach(c =>
      assert(Snapshot.decodeDv(Snapshot.encodeDv(c)).toSeq == c.toSeq))
    intercept[IllegalArgumentException](Snapshot.encodeDv(Array(3L, 3L)))
    intercept[IllegalArgumentException](Snapshot.encodeDv(Array(5L, 4L)))
    // the design point: a dense run costs ~1 byte/position (x4/3 base64)
    val dense = Array.tabulate(100000)(_.toLong)
    assert(Snapshot.encodeDv(dense).length < 150000)
  }

  test("deleteWhereDV: merge-on-read — zero data movement, every read agrees") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k") // 8 files x ~100 keys
    val m1 = Snapshot.manifest(spark, dir, 1)
    assert(Snapshot.deleteWhereDV(spark, dir, 150L, 249L,
      col("k") % 2 === 0) == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    // THE merge-on-read promise: the delete wrote ZERO data bytes — the
    // file set is byte-identical; only the manifest carries the change
    assert(m2.files.map(_.path) == m1.files.map(_.path))
    assert(m2.dvs.keySet.size == 2,
      s"vectors on exactly the 2 range-touched files: ${m2.dvs.keySet}")
    assert(m2.dvs.values.map(_.length).sum == 50)
    val want = (1 to 800).filterNot(k => k >= 150 && k <= 249 && k % 2 == 0)
      .map(_.toLong).toSet
    assert(state(dir).map(_._1) == want)
    // time travel: v1 still serves the undeleted state
    assert(state(dir, 1).map(_._1) == (1 to 800).map(_.toLong).toSet)
    // plan shape: the vectors apply as the native codegen'd membership
    // FILTER, never a join — the scan stays one whole-stage pipeline
    val plan = Snapshot.read(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_dv_member"), plan.take(400))
    assert(!plan.toLowerCase.contains("join"),
      "DV application must not introduce a join into the scan")
    // the single read funnel applies vectors on pruned and point reads too
    assert(Snapshot.readPruned(spark, dir, 140L, 260L).collect()
      .map(_.getLong(0)).toSet == want.filter(k => k >= 140 && k <= 260))
    assert(Snapshot.readPoints(spark, dir, "k", Seq(150L, 151L)).collect()
      .map(_.getLong(0)).toSet == Set(151L))
    // a range outside every file: NO-OP — no version published
    assert(Snapshot.deleteWhereDV(spark, dir, 5000L, 6000L) == 2)
    assert(Snapshot.versions(spark, dir) == Seq(1, 2))
    // SQL 3VL: a NULL residual KEEPS its row, same as deleteWhere
    import spark.implicits._
    val ndir = freshDir()
    Snapshot.commit(Seq((1L, "F"), (2L, null: String), (3L, "O"))
      .toDF("k", "st"), ndir, 0, "k", nFiles = 1)
    Snapshot.deleteWhereDV(spark, ndir, 1L, 3L, col("st") === "F")
    assert(Snapshot.read(spark, ndir).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L),
      "the NULL-status row must survive a status='F' DV delete")
  }

  test("deleteWhereDV: vectors merge and carry; rewrites materialize; feed yields D") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    Snapshot.deleteWhereDV(spark, dir, 150L, 249L, col("k") % 2 === 0)
    // the change feed sees a DV-only delete: exactly the masked rows, as D
    val feed = Snapshot.changeFeed(spark, dir, 1, 2, "k").collect()
    assert(feed.length == 50 &&
      feed.forall(_.getAs[String]("change_type") == "D"))
    assert(feed.map(_.getAs[Long]("k")).toSet ==
      (150 to 249 by 2).map(_.toLong).toSet)
    // second delete overlapping the same files: vectors MERGE; rows the
    // first delete already masked cannot re-collect (no duplicates)
    Snapshot.deleteWhereDV(spark, dir, 200L, 299L)
    val m3 = Snapshot.manifest(spark, dir, 3)
    assert(m3.dvs.values.map(_.length).sum == 125) // 25 evens + all 100
    m3.dvs.values.foreach(v => assert(v.toSeq == v.toSeq.distinct.sorted))
    val want3 = (1 to 800).filterNot(k =>
      (k >= 150 && k <= 249 && k % 2 == 0) || (k >= 200 && k <= 299))
      .map(_.toLong).toSet
    assert(state(dir).map(_._1) == want3)
    // an out-of-range COW merge carries every file — and its vectors
    // (dropping one would RESURRECT its deleted rows)
    import spark.implicits._
    val inserts = (901 to 910).map(k => (k.toLong, s"val_$k", "K"))
      .toDF("k", "v", "verdict")
    val v4 = Snapshot.mergeCow(spark, dir, inserts, "k",
      (base, ch) => base.unionByName(ch))
    val m4 = Snapshot.manifest(spark, dir, v4)
    assert(m4.dvs.keySet == m3.dvs.keySet &&
      m4.dvs.values.map(_.length).sum == 125,
      "carried files must keep their deletion vectors")
    assert(state(dir).map(_._1) == want3 ++ (901 to 910).map(_.toLong))
    // OPTIMIZE reads through the vectors and MATERIALIZES the deletes:
    // state identical, vectors gone, read amplification paid off
    val v5 = Snapshot.compactVersion(spark, dir, targetBytes = 1L << 30)
    assert(Snapshot.manifest(spark, dir, v5).dvs.isEmpty)
    assert(state(dir, v5) == state(dir, v4))
    // and the feed ticks over the materialization for free (maintenance)
    assert(Snapshot.changeFeed(spark, dir, v4, v5, "k").isEmpty)
  }

  test("updateWhereDV: masked old rows + appended post-images, one commit") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val m1 = Snapshot.manifest(spark, dir, 1)
    // update [150,249] even keys: SET references the OLD row's v
    assert(Snapshot.updateWhereDV(spark, dir, 150L, 249L,
      Map("v" -> concat(col("v"), lit("_upd")), "verdict" -> lit("U")),
      col("k") % 2 === 0) == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    // the MoR shape: every old file carried BY PATH + exactly the fresh
    // post-image files appended; vectors on the 2 touched files mask
    // exactly the 50 updated positions
    assert(m1.files.map(_.path).toSet.subsetOf(m2.files.map(_.path).toSet))
    assert(m2.files.size == m1.files.size + 1,
      s"one appended post-image file, got ${m2.files.size}")
    assert(m2.dvs.keySet.size == 2 &&
      m2.dvs.values.map(_.length).sum == 50)
    // semantics: identical to the COW verb — old row visible pre-150,
    // updated rows carry _upd + verdict U, each key exactly once
    val rows = Snapshot.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length == 800, "no duplicates: masked old + appended new")
    val byK = rows.map(t => t._1 -> t).toMap
    assert(byK(150L) == ((150L, "val_150_upd", "U")))
    assert(byK(151L) == ((151L, "val_151", "K")))
    assert(byK(800L) == ((800L, "val_800", "K")))
    // time travel: v1 pre-update intact
    assert(state(dir, 1).count(_._3 == "U") == 0)
    // the feed classifies the masked+appended pair as U with both images
    val feed = Snapshot.changeFeed(spark, dir, 1, 2, "k", preImages = true)
      .collect()
    assert(feed.length == 100) // 50 U- + 50 U+
    assert(feed.count(_.getAs[String]("change_type") == "U+") == 50)
    assert(feed.filter(_.getAs[String]("change_type") == "U-")
      .forall(_.getAs[String]("verdict") == "K"))
    // 3VL: NULL residual keeps its row untouched
    val ndir = freshDir()
    Snapshot.commit(Seq((1L, "F"), (2L, null: String), (3L, "O"))
      .toDF("k", "st"), ndir, 0, "k", nFiles = 1)
    Snapshot.updateWhereDV(spark, ndir, 1L, 3L, Map("st" -> lit("X")),
      col("st") === "F")
    assert(Snapshot.read(spark, ndir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "X"), (2L, null), (3L, "O")))
    // above maxPositions: honest COW fallback — rewrite, no vectors
    val fdir = freshDir()
    Snapshot.commit(baseRows(), fdir, 0, "k")
    Snapshot.updateWhereDV(spark, fdir, 150L, 249L,
      Map("verdict" -> lit("U")), maxPositions = 10)
    assert(Snapshot.manifest(spark, fdir, 2).dvs.isEmpty)
    assert(Snapshot.read(spark, fdir).filter(col("verdict") === "U")
      .count() == 100)
  }

  test("deleteWhereDV: bulk deletes fall back to COW; z-order refused; clone carries") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val m1 = Snapshot.manifest(spark, dir, 1)
    // 50 matches > maxPositions=10: the honest bound — rewrite instead
    Snapshot.deleteWhereDV(spark, dir, 150L, 249L, col("k") % 2 === 0,
      maxPositions = 10)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m2.dvs.isEmpty, "bulk path must COW-rewrite, not inline 50 positions")
    assert((m1.files.map(_.path).toSet -- m2.files.map(_.path).toSet).size == 2,
      "the fallback rewrites exactly the touched files")
    assert(state(dir).map(_._1) ==
      (1 to 800).filterNot(k => k >= 150 && k <= 249 && k % 2 == 0)
        .map(_.toLong).toSet)
    // z-ordered layouts refuse (stats are interleaved z, not the key)
    import spark.implicits._
    val zdir = freshDir()
    Snapshot.commit((1 to 100).map(i => (i.toLong, i.toLong * 3))
      .toDF("a", "b"), zdir, 0, "a", nFiles = 4)
    Snapshot.optimizeZorder(spark, zdir, Seq("a", "b"), 4)
    intercept[IllegalArgumentException](
      Snapshot.deleteWhereDV(spark, zdir, 1L, 10L))
    // a shallow clone of a DV'd table serves the DV'd state (vectors
    // rekey with the absolute paths the clone references)
    val src = freshDir()
    Snapshot.commit(baseRows(), src, 0, "k")
    Snapshot.deleteWhereDV(spark, src, 1L, 100L)
    val dst = freshDir()
    Snapshot.cloneShallow(spark, src, dst)
    assert(Snapshot.read(spark, dst).collect().map(_.getLong(0)).toSet ==
      (101 to 800).map(_.toLong).toSet)
  }

  test("renameColumn: metadata-only mapping; files keep the physical name") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k") // columns k, v, verdict
    val m1 = Snapshot.manifest(spark, dir, 1)
    assert(Snapshot.renameColumn(spark, dir, "v", "label") == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    // zero data movement: identical file set, mapping in the manifest
    assert(m2.files.map(_.path) == m1.files.map(_.path))
    assert(m2.renames == Seq("v" -> "label"))
    assert(Snapshot.read(spark, dir).columns.toSeq ==
      Seq("k", "label", "verdict"))
    assert(Snapshot.read(spark, dir)
      .filter(col("label") === "val_5").count() == 1)
    // time travel reads the names of its day
    assert(Snapshot.read(spark, dir, 1).columns.toSeq ==
      Seq("k", "v", "verdict"))
    // writers speak LOGICAL; fresh files keep the PHYSICAL vocabulary
    val ins = Seq((901L, "val_901", "K")).toDF("k", "label", "verdict")
    val v3 = Snapshot.mergeCow(spark, dir, ins, "k",
      (b, c) => b.unionByName(c))
    assert(Snapshot.read(spark, dir).count() == 801)
    val m3 = Snapshot.manifest(spark, dir, v3)
    val freshFile =
      (m3.files.map(_.path).toSet -- m2.files.map(_.path).toSet).head
    val rawCols = spark.read.parquet(s"$dir/$freshFile").columns.toSeq
    assert(rawCols.contains("v") && !rawCols.contains("label"),
      s"fresh files must keep the physical vocabulary, got $rawCols")
    // pruned/point reads keep planning (stats hang off the physical key)
    assert(Snapshot.readPruned(spark, dir, 100L, 110L).count() == 11)
    // rename back to the original physical name drops the mapping
    Snapshot.renameColumn(spark, dir, "label", "v")
    assert(Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir)).renames.isEmpty)
    assert(Snapshot.read(spark, dir).columns.toSeq ==
      Seq("k", "v", "verdict"))
    // refusals: duplicate target, missing source
    intercept[IllegalArgumentException](
      Snapshot.renameColumn(spark, dir, "v", "verdict"))
    intercept[IllegalArgumentException](
      Snapshot.renameColumn(spark, dir, "nope", "x"))
  }

  test("dropColumn: hidden everywhere; physical name retired; restore resurrects") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    assert(Snapshot.dropColumn(spark, dir, "verdict") == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m2.files.map(_.path) ==
      Snapshot.manifest(spark, dir, 1).files.map(_.path))
    assert(Snapshot.read(spark, dir).columns.toSeq == Seq("k", "v"))
    // time travel pre-drop still serves the column
    assert(Snapshot.read(spark, dir, 1).columns.contains("verdict"))
    // writers no longer owe it; a COW rewrite reads without it
    Snapshot.deleteWhere(spark, dir, 1L, 50L)
    assert(Snapshot.read(spark, dir).columns.toSeq == Seq("k", "v"))
    assert(Snapshot.read(spark, dir).count() == 750)
    // the physical name is retired forever
    intercept[IllegalArgumentException](
      Snapshot.addColumn(spark, dir, "verdict", "STRING"))
    // restore to v1 resurrects the column with its data
    Snapshot.restore(spark, dir, 1)
    assert(Snapshot.read(spark, dir).columns.contains("verdict") &&
      Snapshot.read(spark, dir).count() == 800)
    // refusals: clustering column, constraint-referenced column
    intercept[IllegalArgumentException](Snapshot.dropColumn(spark, dir, "k"))
    Snapshot.addConstraint(spark, dir, "v_set", "v IS NOT NULL")
    intercept[IllegalArgumentException](Snapshot.dropColumn(spark, dir, "v"))
  }

  test("column mapping composes: constraints, evolution, DVs, clone, SQL verbs") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit((1L to 100L).map(k => (k, k * 10))
      .toDF("k", "amount"), dir, 0, "k", nFiles = 4)
    Snapshot.addConstraint(spark, dir, "amount_pos", "amount >= 0")
    // rename rewrites the STORED constraint SQL to the new logical name
    Snapshot.renameColumn(spark, dir, "amount", "price")
    val m = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    assert(m.checks.head._2.toLowerCase.contains("price"),
      s"constraint SQL must follow the rename: ${m.checks.head}")
    // enforcement still works — on the PHYSICAL frame behind the mapping
    val cur = Snapshot.currentVersion(spark, dir)
    val bad = Seq((200L, -5L)).toDF("k", "price")
    intercept[Snapshot.CheckViolation](
      Snapshot.commit(bad, dir, cur, "k",
        Snapshot.manifest(spark, dir, cur).files, nFiles = 1))
    // a DV delete on the mapped table: residual speaks the logical name
    Snapshot.deleteWhereDV(spark, dir, 1L, 100L, col("price") > 900L)
    assert(Snapshot.read(spark, dir).count() == 90)
    // evolution + mapping: declared column, then renamed
    Snapshot.addColumn(spark, dir, "src", "STRING")
    Snapshot.renameColumn(spark, dir, "src", "source")
    assert(Snapshot.read(spark, dir).columns.toSeq ==
      Seq("k", "price", "source"))
    // writers owe the LOGICAL name of the declared column
    val cur2 = Snapshot.currentVersion(spark, dir)
    intercept[IllegalArgumentException](
      Snapshot.commit(Seq((300L, 5L)).toDF("k", "price"), dir, cur2, "k",
        Snapshot.manifest(spark, dir, cur2).files, nFiles = 1))
    // clone carries the mapping
    val dst = freshDir()
    Snapshot.cloneShallow(spark, dir, dst)
    assert(Snapshot.read(spark, dst).columns.toSeq ==
      Seq("k", "price", "source"))
    // SQL verbs land the same mapping on registered names
    Snapshot.registerSqlTable(spark, "snap_map_sql", dir)
    spark.sql("ALTER TABLE snap_map_sql RENAME COLUMN price TO cost")
    assert(Snapshot.read(spark, dir).columns.contains("cost"))
    spark.sql("ALTER TABLE snap_map_sql DROP COLUMN source")
    assert(Snapshot.read(spark, dir).columns.toSeq == Seq("k", "cost"))
    // SQL DELETE with a logical-name WHERE prunes on the mapped key
    spark.sql("DELETE FROM snap_map_sql WHERE k >= 10 AND k <= 20")
    assert(Snapshot.read(spark, dir).count() == 90 - 11)
  }

  test("column mapping survives the append-rebase path and mixed-case calls") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    Snapshot.renameColumn(spark, dir, "v", "label")
    // the stage/publish append path must translate like commit does: a
    // post-rename append's file shares the ONE physical vocabulary
    val batch = Seq((901L, "val_901", "K")).toDF("k", "label", "verdict")
    val v3 = Snapshot.appendWithRetry(batch, dir, nFiles = 1)
    val m3 = Snapshot.manifest(spark, dir, v3)
    val freshFile = (m3.files.map(_.path).toSet --
      Snapshot.manifest(spark, dir, 2).files.map(_.path).toSet).head
    val rawCols = spark.read.parquet(s"$dir/$freshFile").columns.toSeq
    assert(rawCols.contains("v") && !rawCols.contains("label"),
      s"staged append must write the physical vocabulary, got $rawCols")
    val read = Snapshot.read(spark, dir)
    assert(read.columns.count(_ == "label") == 1 &&
      !read.columns.contains("v"),
      "a renamed column must never surface twice after an append")
    assert(read.filter(col("label") === "val_901").count() == 1)
    // mixed-case verbs resolve like Spark does (case-insensitive):
    // dropping 'LABEL' hides the column, not a silent no-op commit
    Snapshot.dropColumn(spark, dir, "LABEL")
    assert(!Snapshot.read(spark, dir).columns
      .exists(_.equalsIgnoreCase("label")))
    // metadata commits stamp a FRESH clock (m.copy must reset ts)
    val clocks = Snapshot.versions(spark, dir)
      .map(v => Snapshot.manifest(spark, dir, v).ts)
    assert(clocks.last >= clocks.head && clocks.forall(_ > 0))
  }

  test("updateWhereDV: mask and append are the same row set under any residual") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    // a residual that is NOT stable across evaluations: the post-images
    // derive from the COLLECTED positions, so mask count == append
    // count by construction and no row is lost or doubled
    Snapshot.updateWhereDV(spark, dir, 1L, 800L,
      Map("verdict" -> lit("U")), rand() < 0.5)
    val m2 = Snapshot.manifest(spark, dir, 2)
    val masked = m2.dvs.values.map(_.length).sum
    val rows = Snapshot.read(spark, dir).collect()
    assert(rows.length == 800,
      s"non-deterministic residual must not lose or double rows: ${rows.length}")
    assert(rows.count(_.getString(2) == "U") == masked,
      "appended post-images must equal the masked positions exactly")
  }

  test("DV keys survive URI-encoded paths and relative dir spellings") {
    import spark.implicits._
    // a directory with a SPACE: Spark's _metadata.file_path spells it
    // percent-encoded while manifest entries hold the raw path — the
    // normalization must meet in the middle (round-14 review finding,
    // confirmed empirically before the fix)
    val dir = Files.createTempDirectory("graft snap sp").toString + "/t t"
    Snapshot.commit(baseRows(), dir, 0, "k")
    Snapshot.deleteWhereDV(spark, dir, 150L, 249L, col("k") % 2 === 0)
    assert(Snapshot.read(spark, dir).count() == 750)
    // second delete re-collects against existing vectors (dvScan's
    // anti-filter must also match across spellings)
    Snapshot.deleteWhereDV(spark, dir, 150L, 249L)
    assert(Snapshot.read(spark, dir).count() == 700)
    // a RELATIVE dir spelling of the same table reads the same masked
    // state (the driver key qualifies through the filesystem)
    val cwd = new java.io.File(".").getCanonicalPath
    if (dir.startsWith(cwd + "/")) {
      val rel = dir.stripPrefix(cwd + "/")
      assert(Snapshot.read(spark, rel).count() == 700)
    }
  }

  test("convertParquetHive: path-stat adoption, pruning, MoR, sever") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_hive").toString
    val (lake, dir) = (s"$base/lake", s"$base/t")
    (1L to 400L).map(k => (k, s"val_$k", k % 4))
      .toDF("k", "v", "band")
      .write.partitionBy("band").parquet(lake)
    assert(Snapshot.convertParquetHive(spark, dir, lake, "band") == 1)
    val m1 = Snapshot.manifest(spark, dir, 1)
    // stats ARE the path values — no scan ran, min == max == band
    assert(m1.files.forall(f => f.min == f.max && f.min >= 0 && f.min <= 3))
    assert(m1.basePath.nonEmpty)
    // reads materialize the partition column and agree with the source
    val all = Snapshot.read(spark, dir)
    assert(all.columns.toSet == Set("k", "v", "band"))
    assert(all.count() == 400)
    // partition-range pruning opens ONLY the matching directories' files
    val hit = m1.files.filter(f => f.min <= 1 && f.max >= 1)
    assert(hit.nonEmpty && hit.size < m1.files.size)
    assert(Snapshot.readPruned(spark, dir, 1L, 1L).count() == 100)
    // merge-on-read DELETE works on the adopted shell (manifest-only)
    Snapshot.deleteWhereDV(spark, dir, 2L, 2L, col("k") <= 8L)
    assert(Snapshot.read(spark, dir).count() == 398) // k=2,6 in band 2
    // the write shell is honest: carried commits and appends refuse
    intercept[IllegalArgumentException](
      Snapshot.appendWithRetry(
        Seq((401L, "x", 1)).toDF("k", "v", "band"), dir))
    intercept[IllegalArgumentException](
      Snapshot.deleteWhere(spark, dir, 1L, 1L)) // carries other bands
    // the lake itself was never written
    // sever: one full rewrite clears basePath, partition col becomes data
    val v = Snapshot.compactVersion(spark, dir, 1L << 30)
    val mS = Snapshot.manifest(spark, dir, v)
    assert(mS.basePath.isEmpty)
    assert(Snapshot.read(spark, dir).count() == 398)
    assert(spark.read.parquet(s"$dir/${mS.files.head.path}")
      .columns.contains("band"), "severed files store band as data")
    // ...and the full verb set unlocks (band is INT by partition
    // inference — the severed files' type, which appends must match)
    Snapshot.appendWithRetry(Seq((401L, "x", 1)).toDF("k", "v", "band"),
      dir, nFiles = 1)
    assert(Snapshot.read(spark, dir).count() == 399)
    // time travel back to the adopted shell still serves
    assert(Snapshot.read(spark, dir, 1).count() == 400)
  }

  test("generated columns: compute on omit, enforce on supply, retroactive reads") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k") // v1 predates the rule
    assert(Snapshot.addGeneratedColumn(spark, dir, "parity", "BIGINT",
      "k % 2") == 2)
    // metadata-only: file set identical; READS are retroactive — rows
    // from pre-declaration files compute the expression, not NULL
    assert(Snapshot.manifest(spark, dir, 2).files.map(_.path) ==
      Snapshot.manifest(spark, dir, 1).files.map(_.path))
    val r = Snapshot.read(spark, dir)
    assert(r.columns.contains("parity"))
    assert(r.filter(col("parity") =!= col("k") % 2).count() == 0)
    // time travel: v1 keeps its narrow schema
    assert(!Snapshot.read(spark, dir, 1).columns.contains("parity"))
    // a writer OMITTING the column gets it computed and MATERIALIZED
    val v3 = Snapshot.appendWithRetry(
      Seq((901L, "val_901", "K")).toDF("k", "v", "verdict"), dir,
      nFiles = 1)
    val m3 = Snapshot.manifest(spark, dir, v3)
    val freshFile = (m3.files.map(_.path).toSet --
      Snapshot.manifest(spark, dir, 2).files.map(_.path).toSet).head
    assert(spark.read.parquet(s"$dir/$freshFile").columns
      .contains("parity"), "omitted generated column must materialize")
    assert(Snapshot.read(spark, dir).filter(col("k") === 901L)
      .head.getAs[Long]("parity") == 1L)
    // a writer SUPPLYING a consistent value passes; a wrong one rejects
    Snapshot.appendWithRetry(
      Seq((902L, "x", "K", 0L)).toDF("k", "v", "verdict", "parity"), dir,
      nFiles = 1)
    intercept[Snapshot.CheckViolation](
      Snapshot.appendWithRetry(
        Seq((903L, "x", "K", 7L)).toDF("k", "v", "verdict", "parity"),
        dir, nFiles = 1))
    assert(Snapshot.read(spark, dir).count() == 802, "poisoned batch out")
    // DML through the funnel sees the generated values (residual on it)
    Snapshot.deleteWhereDV(spark, dir, 1L, 10L, col("parity") === 1L)
    assert(Snapshot.read(spark, dir).filter(col("k") <= 10L).count() == 5)
    // rename/drop guards: the rule pins its names; dropping removes it
    intercept[IllegalArgumentException](
      Snapshot.renameColumn(spark, dir, "parity", "p2"))
    intercept[IllegalArgumentException](
      Snapshot.renameColumn(spark, dir, "k", "key"))
    Snapshot.dropColumn(spark, dir, "parity")
    assert(!Snapshot.read(spark, dir).columns.contains("parity"))
    assert(Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir)).genCols.isEmpty)
  }

  test("compactSmall refuses z-ordered layouts") {
    val dir = freshDir()
    import spark.implicits._
    Snapshot.commit((1 to 100).map(i => (i.toLong, i.toLong * 3))
      .toDF("a", "b"), dir, 0, "a", nFiles = 4)
    Snapshot.optimizeZorder(spark, dir, Seq("a", "b"), 4)
    intercept[IllegalArgumentException](
      Snapshot.compactSmall(spark, dir, smallBytes = Long.MaxValue))
  }

  // ─────────────────────── round 15: schema-in-manifest ────────────────

  test("manifest stores the schema; reads plan without footer merges") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val m = Snapshot.manifest(spark, dir, 1)
    assert(m.schemaJson.nonEmpty, "every data commit stamps its schema")
    val st = Snapshot.storedSchema(m).get
    assert(st.fieldNames.toSeq == Seq("k", "v", "verdict"))
    assert(st.fields.forall(_.nullable), "stored schemas are nullable-normalized")
    // the read's schema comes from the manifest, not footer inference
    assert(Snapshot.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "v", "verdict"))
    assert(state(dir).size == 800)
  }

  test("legacy manifests (no schema line) still read under mergeSchema") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    // strip the h line in place — exactly what a pre-round-15 manifest is
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00001")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val stripped = txt.linesIterator.filterNot(_.startsWith("h\t"))
      .mkString("", "\n", "\n")
    val os = fs.create(p, true)
    try os.write(stripped.getBytes("UTF-8")) finally os.close()
    val m = Snapshot.manifest(spark, dir, 1)
    assert(m.schemaJson.isEmpty)
    assert(state(dir).size == 800, "legacy read falls back to mergeSchema")
    // and the next commit re-stamps: a carried commit over a legacy head
    // stays legacy (carried schemas unknowable), a full rewrite upgrades
    Snapshot.compactVersion(spark, dir, 128L << 20)
    assert(Snapshot.manifest(spark, dir, 2).schemaJson.nonEmpty,
      "a full rewrite upgrades a legacy table to schema-in-manifest")
  }

  test("delete-all commits a legal zero-file version; the table revives") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val v2 = Snapshot.deleteWhere(spark, dir, Long.MinValue, Long.MaxValue)
    assert(v2 == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m2.files.isEmpty, "delete-all publishes a zero-file manifest")
    // the empty version READS: schema intact, zero rows — and time
    // travel still serves the full pre-delete state
    val empty = Snapshot.read(spark, dir)
    assert(empty.columns.toSeq == Seq("k", "v", "verdict"))
    assert(empty.count() == 0)
    assert(state(dir, 1).size == 800)
    // history and the change feed work over the empty version: the
    // delete-all diff is exactly 800 D rows
    assert(Snapshot.history(spark, dir).count() == 2)
    val feed = Snapshot.changeFeed(spark, dir, 1, 2, "k")
    assert(feed.filter(col("change_type") === "D").count() == 800)
    assert(feed.count() == 800)
    // DML against the empty table: no-ops return the current version
    assert(Snapshot.deleteWhere(spark, dir, 1L, 10L) == 2)
    // and an ordinary commit revives it
    Snapshot.commit(baseRows(100), dir, 2, "k", nFiles = 2)
    assert(state(dir).size == 100)
  }

  test("mergeCow whose batch deletes every base row yields an empty table") {
    val dir = freshDir()
    import spark.implicits._
    Snapshot.commit(Seq((8L, "v8", "K")).toDF("k", "v", "verdict"),
      dir, 0, "k", nFiles = 1)
    val changes = Seq((8L, "D")).toDF("k", "op")
    // the PropertySpec generator's delete-all draw, pinned explicitly:
    // this used to die on the empty-snapshot guard (seed-flaky suite)
    Snapshot.mergeCow(spark, dir, changes, "k",
      (base, ch) => base.join(ch, base("k") === ch("k"), "full_outer")
        .filter(coalesce(col("op"), lit("K")) =!= "D")
        .select(coalesce(ch("k"), base("k")).as("k"),
          coalesce(concat(lit("c"), col("op")), col("v")).as("v"),
          coalesce(col("op"), col("verdict")).as("verdict")),
      nFiles = 1)
    assert(Snapshot.read(spark, dir, 2).count() == 0)
    assert(Snapshot.read(spark, dir, 2).columns.toSeq ==
      Seq("k", "v", "verdict"))
  }

  test("nFiles < 1 is refused at every commit-family entry, by name") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    def msg(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(msg(Snapshot.commit(baseRows(), dir, 1, "k", nFiles = 0))
      .contains("nFiles=0"))
    assert(msg(Snapshot.mergeCow(spark, dir, baseRows(), "k",
      (b, _) => b, nFiles = 0)).contains("nFiles=0"))
    assert(msg(Snapshot.deleteWhere(spark, dir, 1L, 2L, nFiles = -1))
      .contains("nFiles=-1"))
    assert(msg(Snapshot.updateWhere(spark, dir, 1L, 2L,
      Map("v" -> lit("x")), nFiles = 0)).contains("nFiles=0"))
    assert(msg(Snapshot.stageAppend(baseRows(), dir, nFiles = 0))
      .contains("nFiles=0"))
    assert(Snapshot.versions(spark, dir) == Seq(1), "nothing published")
  }

  test("carried commit refuses a statsCol that differs from the table's") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    val m = Snapshot.manifest(spark, dir, 1)
    // carried file stats describe 'k'; re-declaring 'v' would make the
    // pruning read old ranges as the new column's (the GraftSink-append
    // hazard) — refused with the remedy named
    val e = intercept[IllegalArgumentException](
      Snapshot.commit(baseRows(10), dir, 1, "v", carried = m.files,
        nFiles = 1))
    assert(e.getMessage.contains("clustering column"))
    // a FULL rewrite may re-cluster freely
    import spark.implicits._
    val recl = (1 to 50).map(i => (i.toLong, i.toLong * 2))
      .toDF("a", "b")
    val dir2 = freshDir()
    Snapshot.commit(recl, dir2, 0, "a", nFiles = 2)
    Snapshot.commit(recl, dir2, 1, "b", nFiles = 2) // carried = Nil: fine
    assert(Snapshot.manifest(spark, dir2, 2).statsCol == "b")
  }

  test("OPTIMIZE on a DV'd table materializes masks and clears vectors") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    Snapshot.deleteWhereDV(spark, dir, 100L, 250L)
    assert(Snapshot.manifest(spark, dir, 2).dvs.nonEmpty)
    val preCompact = state(dir)
    assert(preCompact.size == 800 - 151)
    val v3 = Snapshot.compactVersion(spark, dir, 128L << 20)
    val m3 = Snapshot.manifest(spark, dir, v3)
    assert(m3.dvs.isEmpty, "compaction rewrote through the masks — no " +
      "vector survives on the fresh files")
    assert(state(dir, v3) == preCompact, "state identical across OPTIMIZE")
    // the feed ticks over the maintenance commit without a diff …
    assert(Snapshot.changeFeed(spark, dir, 2, v3, "k").count() == 0)
    // … while the DV delete itself still feeds as D rows
    assert(Snapshot.changeFeed(spark, dir, 1, 2, "k")
      .filter(col("change_type") === "D").count() == 151)
  }

  test("UPDATE recomputes generated columns whose references it touches") {
    val dir = freshDir()
    import spark.implicits._
    Snapshot.commit((1 to 100).map(i => (i.toLong, i.toLong * 10))
      .toDF("k", "amt"), dir, 0, "k", nFiles = 2)
    Snapshot.addGeneratedColumn(spark, dir, "band", "BIGINT", "amt % 7")
    // materialize the column into fresh files (v3): from here every row
    // carries a stored band value consistent with its amt
    Snapshot.compactVersion(spark, dir, 128L << 20)
    // SET amt: the stored band of touched rows is stale the moment amt
    // changes — the verb must recompute it, or the synthetic CHECK
    // rejects the post-image (the round-14 ADVICE failure)
    Snapshot.updateWhere(spark, dir, 10L, 20L, Map("amt" -> (col("amt") + 1L)))
    val rows = Snapshot.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (_, amt, band) => band == amt % 7 },
      "every row's generated value tracks its post-update reference")
    assert(rows.filter { case (k, _, _) => k >= 10 && k <= 20 }
      .forall { case (k, amt, _) => amt == k * 10 + 1 })
    // the DV twin recomputes too
    Snapshot.updateWhereDV(spark, dir, 30L, 40L,
      Map("amt" -> (col("amt") + 2L)))
    val rows2 = Snapshot.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows2.forall { case (_, amt, band) => band == amt % 7 })
    // SETting the generated column itself is refused, both verbs
    assert(intercept[IllegalArgumentException](
      Snapshot.updateWhere(spark, dir, 1L, 5L, Map("band" -> lit(0L))))
      .getMessage.contains("generated"))
    assert(intercept[IllegalArgumentException](
      Snapshot.updateWhereDV(spark, dir, 1L, 5L, Map("band" -> lit(0L))))
      .getMessage.contains("generated"))
    // chained rules are refused at declaration (Delta's rule): the
    // single-level UPDATE recompute is complete only because generation
    // expressions always reference plain data columns
    assert(intercept[IllegalArgumentException](
      Snapshot.addGeneratedColumn(spark, dir, "band2", "BIGINT",
        "band + 1")).getMessage.contains("plain data columns"))
  }

  test("publishAppend re-validates a same-name constraint whose SQL changed") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    Snapshot.addConstraint(spark, dir, "c1", "k >= 1")
    // stage a batch that satisfies c1 as staged …
    import spark.implicits._
    val staged = Snapshot.stageAppend(
      Seq((5000L, "new", "K")).toDF("k", "v", "verdict"), dir, nFiles = 1)
    // … then swap c1's PREDICATE under the same name: the staged batch
    // violates the new SQL, and name-keyed validation would skip it
    Snapshot.dropConstraint(spark, dir, "c1")
    Snapshot.addConstraint(spark, dir, "c1", "k < 2000")
    val e = intercept[Snapshot.CheckViolation](
      Snapshot.publishAppend(spark, dir, staged))
    assert(e.counts.get("c1").contains(1L))
    assert(state(dir).size == 800, "the violating append never landed")
  }

  test("pruned reads that hit zero files serve typed empty frames") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    // the stored schema serves the shape — no file opened, no throw
    val out = Snapshot.readPruned(spark, dir, 5000L, 6000L)
    assert(out.columns.toSeq == Seq("k", "v", "verdict"))
    assert(out.count() == 0)
    assert(Snapshot.readPoints(spark, dir, "k", Seq(9999L)).count() == 0)
  }

  test("manifest parse is cached; out-of-band rewrites re-parse by key") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k")
    Snapshot.read(spark, dir).count() // cold parse happens here
    val before = Snapshot.manifestParses.get()
    // every subsequent access — direct, read-planning, history's full
    // version walk — serves the immutable content from the cache
    (1 to 20).foreach(_ =>
      assert(Snapshot.manifest(spark, dir, 1).files.size == 8))
    Snapshot.read(spark, dir).count()
    Snapshot.history(spark, dir).count()
    assert(Snapshot.manifestParses.get() == before,
      "immutable manifests parse once per JVM")
    // immutability is VERIFIED per hit, not assumed: an out-of-band
    // rewrite (restored backup, test surgery) changes (mtime, length)
    // and forces a fresh parse instead of serving stale state
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00001")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val os = fs.create(p, true)
    try os.write((txt + "\n").getBytes("UTF-8")) finally os.close()
    assert(Snapshot.manifest(spark, dir, 1).files.size == 8)
    assert(Snapshot.manifestParses.get() == before + 1,
      "a changed manifest file re-parses")
  }

  test("repartitionAdopted re-clusters an adopted tree by path arithmetic") {
    val dir = freshDir()
    val lake = freshDir() + "_lake"
    import spark.implicits._
    (1 to 400).map(i => (i.toLong, s"v$i", (i % 4).toLong, (i % 10 % 3).toLong))
      .toDF("id", "v", "band", "grp")
      .write.partitionBy("band", "grp").parquet(lake)
    Snapshot.convertParquetHive(spark, dir, lake, "band")
    val before = Snapshot.manifest(spark, dir, 1)
    val v2 = Snapshot.repartitionAdopted(spark, dir, "grp")
    val m2 = Snapshot.manifest(spark, dir, v2)
    // metadata-only: same files byte-for-byte, new clustering + stats
    assert(m2.files.map(_.path).sorted == before.files.map(_.path).sorted)
    assert(m2.statsCol == "grp")
    assert(m2.files.forall(f => f.min == f.max),
      "every file's stats are its grp= path value")
    // pruned read on the NEW axis: only grp=1 directories plan, and the
    // answer equals a full-scan filter
    val pruned = Snapshot.readPruned(spark, dir, 1L, 1L)
    val expect = Snapshot.read(spark, dir).filter(col("grp") === 1L)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      expect.collect().map(_.getLong(0)).sorted.toSeq)
    // maintenance commit: the feed ticks over it without a diff
    assert(Snapshot.changeFeed(spark, dir, 1, v2, "id").count() == 0)
    // evolving back is the same arithmetic; same-column is a no-op
    assert(Snapshot.repartitionAdopted(spark, dir, "grp") == v2)
    Snapshot.repartitionAdopted(spark, dir, "band")
    assert(Snapshot.manifest(spark, dir, 3).statsCol == "band")
    // non-adopted tables refuse: their clustering is physical
    val local = freshDir()
    Snapshot.commit(baseRows(), local, 0, "k")
    assert(intercept[IllegalArgumentException](
      Snapshot.repartitionAdopted(spark, local, "v"))
      .getMessage.contains("hive-adopted"))
    // a column that is not a partition level of the tree refuses
    assert(intercept[IllegalArgumentException](
      Snapshot.repartitionAdopted(spark, dir, "nope"))
      .getMessage.contains("path segment"))
  }

  test("vacuumReport: dry run counts orphans without touching anything") {
    val dir = freshDir()
    Snapshot.commit(baseRows(), dir, 0, "k", nFiles = 4)
    Snapshot.compactVersion(spark, dir, 128L << 20)
    // both versions retained: everything live, nothing reclaimable
    val all = Snapshot.vacuumReport(spark, dir, 0L).collect()
    assert(all.length == 2 && all.forall(_.getAs[Boolean]("live")))
    assert(all.map(_.getAs[Long]("n_files")).sum == 5) // 4 + 1 compacted
    // expire v1 WITHOUT reclaiming: its dir turns orphan in the report
    Snapshot.expireVersions(spark, dir, keep = 1,
      vacuumGraceMs = Long.MaxValue)
    val rep = Snapshot.vacuumReport(spark, dir, 0L).collect()
    assert(rep.count(_.getAs[Boolean]("reclaimable")) == 1)
    assert(rep.filter(_.getAs[Boolean]("reclaimable"))
      .map(_.getAs[Long]("n_files")).sum == 4)
    // the dry run deleted nothing; the grace age gates reclaimability
    assert(Snapshot.vacuumReport(spark, dir, Long.MaxValue)
      .filter(col("reclaimable")).count() == 0)
    assert(Snapshot.read(spark, dir).count() == 800)
    // the real vacuum takes exactly what the report promised
    assert(Snapshot.vacuum(spark, dir, 0L).size == 1)
    assert(Snapshot.vacuumReport(spark, dir, 0L).count() == 1)
    assert(Snapshot.read(spark, dir).count() == 800)
  }

  test("rowCount answers from the manifest alone: DV-aware, honest fallback") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.commit((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      dir, 0, "k", nFiles = 3)
    // exact metadata count across a multi-file commit
    assert(Snapshot.rowCountMeta(spark, dir) == Some(100L))
    // DV-aware: masked positions subtract without any scan
    Snapshot.deleteWhereDV(spark, dir, 1L, 30L, col("k") % 2 === 0)
    assert(Snapshot.rowCountMeta(spark, dir) == Some(85L))
    assert(Snapshot.read(spark, dir).count() == 85L)
    // time travel: the pre-delete version still counts 100
    assert(Snapshot.rowCountMeta(spark, dir, 1) == Some(100L))
    // METADATA-ONLY proof: physically remove the data files — the
    // count must still answer (a scan here would throw)
    val dataDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir.stripPrefix("file:")))
      .filter(p => p.getFileName.toString.startsWith("data"))
    dataDirs.forEach { p =>
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    assert(Snapshot.rowCount(spark, dir) == 85L)
    // honest fallback: a hive-adopted shell's entries derive from path
    // arithmetic (rows unknown) — the metadata count REFUSES and the
    // verb falls back to one scan with the right answer
    val dir2 = freshDir()
    val lake = freshDir() + "_lake"
    (1 to 40).map(i => (i.toLong, (i % 4).toLong)).toDF("id", "band")
      .write.partitionBy("band").parquet(lake)
    Snapshot.convertParquetHive(spark, dir2, lake, "band")
    assert(Snapshot.rowCountMeta(spark, dir2).isEmpty)
    assert(Snapshot.rowCount(spark, dir2) == 40L)
  }

  test("a DV delete above maxPositions on an adopted shell completes chunked") {
    val dir = freshDir()
    val lake = freshDir() + "_lake"
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, s"v$i", (i % 4).toLong))
      .toDF("id", "v", "band")
      .write.partitionBy("band").parquet(lake)
    Snapshot.convertParquetHive(spark, dir, lake, "band")
    val v0 = Snapshot.currentVersion(spark, dir)
    // 150 matches at maxPositions=40: the COW fallback cannot run on
    // the adopted shell, so the delete completes as a chain of
    // manifest-only DV commits — ceil(150/40) = 4 versions, no sever
    val v = Snapshot.deleteWhereDV(spark, dir, 0L, 3L,
      col("id") <= 150, maxPositions = 40)
    assert(v == v0 + 4)
    assert(Snapshot.read(spark, dir).count() == 50)
    assert(Snapshot.read(spark, dir).filter(col("id") <= 150).count() == 0)
    // every chunk commit is a bounded DV-only version: no paths changed,
    // and the per-version newly-masked position count never exceeds the
    // chunk size
    val baseFiles = Snapshot.manifest(spark, dir, v0).files
      .map(_.path).toSet
    (v0 + 1 to v).foreach { ver =>
      val mv = Snapshot.manifest(spark, dir, ver)
      assert(mv.files.map(_.path).toSet == baseFiles)
      val prev = Snapshot.manifest(spark, dir, ver - 1).dvs
      val fresh = mv.dvs.map { case (p, ps) =>
        ps.length - prev.getOrElse(p, Array.empty[Long]).length
      }.sum
      assert(fresh > 0 && fresh <= 40, s"v$ver masked $fresh")
    }
    // CDF across the whole chain yields exactly the deleted rows as D
    val feed = Snapshot.changeFeed(spark, dir, v0, v, "id")
    assert(feed.filter(col("change_type") =!= "D").count() == 0)
    assert(feed.select("id").as[Long].collect().sorted.toSeq ==
      (1L to 150L))
    // time travel to the base still serves the full shell
    assert(Snapshot.read(spark, dir, v0).count() == 200)
    // the DV UPDATE still refuses at entry: its post-image APPEND can
    // never mix with the adopted shell's path-schema'd files — that
    // guard is about the append, not the position bound
    val e2 = intercept[IllegalArgumentException](
      Snapshot.updateWhereDV(spark, dir, 0L, 3L, Map("v" -> lit("x")),
        maxPositions = 3))
    assert(e2.getMessage.contains("sever"))
    // within bounds the single-commit DV path works as before
    Snapshot.deleteWhereDV(spark, dir, 1L, 1L, col("id") === 153L)
    assert(Snapshot.read(spark, dir).count() == 49)
  }
}

/** The two- and three-axis z-order arithmetic as it stood before the
  * arities shared one [[Snapshot.ZCurve]] — the spreads, cover walks and
  * range packing verbatim, the min-max pruning restated over a
  * positional box — kept as the reference the generic code must
  * reproduce. */
private object FrozenZ {
  private def spreadL(x0: Long): Long = {
    var v = x0
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8))  & 0x00FF00FF00FF00FFL
    v = (v | (v << 4))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  private def spreadL3(x0: Long): Long = {
    var v = x0 & 0x1FFFFFL
    v = (v | (v << 32)) & 0x1F00000000FFFFL
    v = (v | (v << 16)) & 0x1F0000FF0000FFL
    v = (v | (v << 8))  & 0x100F00F00F00F00FL
    v = (v | (v << 4))  & 0x10C30C30C30C30C3L
    v = (v | (v << 2))  & 0x1249249249249249L
    v
  }

  def zPoint(a: Long, b: Long): Long = spreadL(a) | (spreadL(b) << 1)

  def zPoint3(a: Long, b: Long, c: Long): Long =
    spreadL3(a) | (spreadL3(b) << 1) | (spreadL3(c) << 2)

  def zCover(aLo: Long, aHi: Long, bLo: Long, bHi: Long,
             maxRanges: Int = 64): Seq[(Long, Long)] = {
    val span = math.max(aHi - aLo, bHi - bLo) + 1
    val cut = math.max(0, (63 - java.lang.Long.numberOfLeadingZeros(span)) - 4)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def walk(ca: Long, cb: Long, level: Int): Unit = {
      val hi = (1L << level) - 1
      if (ca + hi < aLo || ca > aHi || cb + hi < bLo || cb > bHi) return
      if (level <= cut ||
          (ca >= aLo && ca + hi <= aHi && cb >= bLo && cb + hi <= bHi)) {
        out += ((zPoint(ca, cb), zPoint(ca + hi, cb + hi)))
        return
      }
      val h = 1L << (level - 1)
      walk(ca, cb, level - 1);     walk(ca + h, cb, level - 1)
      walk(ca, cb + h, level - 1); walk(ca + h, cb + h, level - 1)
    }
    walk(0L, 0L, 31)
    packRanges(out.toSeq, maxRanges)
  }

  def zCover3(aLo: Long, aHi: Long, bLo: Long, bHi: Long,
              cLo: Long, cHi: Long,
              maxRanges: Int = 2048): Seq[(Long, Long)] = {
    val span = Seq(aHi - aLo, bHi - bLo, cHi - cLo).max + 1
    val cut = math.max(0, (63 - java.lang.Long.numberOfLeadingZeros(span)) - 5)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def walk(ca: Long, cb: Long, cc: Long, level: Int): Unit = {
      val hi = (1L << level) - 1
      if (ca + hi < aLo || ca > aHi || cb + hi < bLo || cb > bHi ||
          cc + hi < cLo || cc > cHi) return
      if (level <= cut ||
          (ca >= aLo && ca + hi <= aHi && cb >= bLo && cb + hi <= bHi &&
           cc >= cLo && cc + hi <= cHi)) {
        out += ((zPoint3(ca, cb, cc), zPoint3(ca + hi, cb + hi, cc + hi)))
        return
      }
      val h = 1L << (level - 1)
      for (dc <- 0 to 1; db <- 0 to 1; da <- 0 to 1)
        walk(ca + da * h, cb + db * h, cc + dc * h, level - 1)
    }
    walk(0L, 0L, 0L, 21)
    packRanges(out.toSeq, maxRanges)
  }

  private def packRanges(r: Seq[(Long, Long)],
                         maxRanges: Int): Seq[(Long, Long)] =
    if (r.length <= maxRanges) r
    else {
      val gaps = r.sliding(2).zipWithIndex
        .map { case (Seq(p, n), i) => (n._1 - p._2, i) }.toSeq
      val keep = gaps.sortBy(g => (-g._1, g._2)).take(maxRanges - 1)
        .map(_._2).toSet
      val acc = scala.collection.mutable.ArrayBuffer[(Long, Long)](r.head)
      r.tail.zipWithIndex.foreach { case (cur, i) =>
        if (keep(i)) acc += cur
        else acc(acc.length - 1) = (acc.last._1, cur._2)
      }
      acc.toSeq
    }

  private val ZNote = """zorder\(([^,]+),([^,]+),(-?\d+),(-?\d+),(-?\d+),(-?\d+)\)""".r
  private val ZNote3 =
    """zorder3\(([^,]+),([^,]+),([^,]+),(-?\d+),(-?\d+),(-?\d+),(-?\d+),(-?\d+),(-?\d+)\)""".r

  /** Min-max file pruning of a box given positionally in the note's axis
    * order: the box's edges clamp to each axis's domain, scale to 16
    * bits, and the cover intersects the manifest's per-file z ranges. */
  def prunedFiles(m: Snapshot.Manifest,
                  box: Seq[(Long, Long)]): Seq[Snapshot.FileEntry] = {
    val dom = m.note match {
      case ZNote(_, _, a0, a1, b0, b1) => Seq(a0 -> a1, b0 -> b1)
      case ZNote3(_, _, _, a0, a1, b0, b1, c0, c1) =>
        Seq(a0 -> a1, b0 -> b1, c0 -> c1)
    }
    val axes = dom.map { case (lo, hi) => (lo.toLong, hi.toLong) }
    if (box.zip(axes).exists { case ((lo, hi), (mn, mx)) => hi < mn || lo > mx })
      return Seq.empty
    val scaled = box.zip(axes).map { case ((lo, hi), (mn, mx)) =>
      def scale(x: Long): Long = (x - mn) * 65535L / math.max(1L, mx - mn)
      (scale(math.max(lo, mn)), scale(math.min(hi, mx)))
    }
    val cover = scaled match {
      case Seq((aLo, aHi), (bLo, bHi)) => zCover(aLo, aHi, bLo, bHi)
      case Seq((aLo, aHi), (bLo, bHi), (cLo, cHi)) =>
        zCover3(aLo, aHi, bLo, bHi, cLo, cHi)
    }
    m.files.filter(f => cover.exists(r => r._1 <= f.max && r._2 >= f.min))
  }
}
