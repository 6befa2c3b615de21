package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Snapshot

/** Optimistic-concurrency append rebase ([[Snapshot.stageAppend]] /
  * [[Snapshot.publishAppend]] / [[Snapshot.appendWithRetry]]) and the
  * full-re-execution fallback ([[Snapshot.retryOnConflict]]): losers of
  * the manifest race rebase the PUBLISH, never the WRITE — except where
  * the head stopped composing with a blind append (z-order, declared
  * columns, new constraints), which abort or re-validate exactly as
  * documented. */
class ConcurrencySpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  private def fresh(): String = {
    import spark.implicits._
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/graft_conc_" + java.util.UUID.randomUUID().toString.take(8)
    Snapshot.commit((1L to 10L).map(k => (k, k * 10)).toDF("k", "v"),
      dir, 0, "k", nFiles = 2)
    dir
  }

  private def batch(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo to hi).map(k => (k, k * 10)).toDF("k", "v")
  }

  test("publishAppend rebases over an interleaved commit, data written once") {
    val dir = fresh()
    val staged = Snapshot.stageAppend(batch(21L, 25L), dir, nFiles = 1)
    assert(staged.baseVersion == 1)
    // an interleaved writer lands v2 while our append is staged
    val m1 = Snapshot.manifest(spark, dir, 1)
    Snapshot.commit(batch(11L, 15L), dir, 1, "k", m1.files, nFiles = 1)
    // the rebase publishes v3 carrying BOTH: no data rewrite (the
    // staged file entries land verbatim in the manifest)
    val v = Snapshot.publishAppend(spark, dir, staged)
    assert(v == 3)
    val m3 = Snapshot.manifest(spark, dir, 3)
    assert(staged.files.forall(f => m3.files.contains(f)),
      "staged entries must land verbatim — rebase, not rewrite")
    assert(sorted(Snapshot.read(spark, dir)) ==
      sorted(batch(1L, 15L).unionAll(batch(21L, 25L))))
  }

  test("a constraint gained mid-flight re-validates the staged files only") {
    import spark.implicits._
    val dir = fresh()
    // violating staged batch; the constraint registers AFTER staging
    // (staged files are unreferenced, so registration's table scan
    // passes) — the rebase must catch it and reject atomically
    val badStaged = Snapshot.stageAppend(
      Seq((30L, -1L)).toDF("k", "v"), dir, nFiles = 1)
    Snapshot.addConstraint(spark, dir, "v_pos", "v > 0")
    val e = intercept[Snapshot.CheckViolation](
      Snapshot.publishAppend(spark, dir, badStaged))
    assert(e.counts == Map("v_pos" -> 1L))
    assert(Snapshot.currentVersion(spark, dir) == 2, "rejection atomic")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/${badStaged.sub}")),
      "rejected staged files are cleaned up")
    // a satisfying staged batch publishes and carries the constraint
    val okStaged = Snapshot.stageAppend(batch(31L, 32L), dir, nFiles = 1)
    assert(Snapshot.publishAppend(spark, dir, okStaged) == 3)
    assert(Snapshot.manifest(spark, dir, 3).checks ==
      Seq("v_pos" -> "v > 0"))
  }

  test("a column or z-order gained mid-flight aborts the rebase cleanly") {
    val dir = fresh()
    val staged = Snapshot.stageAppend(batch(21L, 22L), dir, nFiles = 1)
    Snapshot.addColumn(spark, dir, "tag", "STRING")
    intercept[IllegalStateException](
      Snapshot.publishAppend(spark, dir, staged))
    assert(Snapshot.currentVersion(spark, dir) == 2)
    val dir2 = fresh()
    val staged2 = Snapshot.stageAppend(batch(21L, 22L), dir2, nFiles = 1)
    Snapshot.optimizeZorder(spark, dir2, Seq("k", "v"), 1)
    intercept[IllegalStateException](
      Snapshot.publishAppend(spark, dir2, staged2))
  }

  test("concurrent appendWithRetry writers both land; union survives") {
    val dir = fresh()
    val ranges = Seq((21L, 25L), (31L, 35L), (41L, 45L), (51L, 55L))
    val threads = ranges.map { case (lo, hi) =>
      new Thread(() => {
        Snapshot.appendWithRetry(batch(lo, hi), dir, nFiles = 1)
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshot.currentVersion(spark, dir) == 5,
      "every writer must land exactly one version")
    val expected = ranges.foldLeft(batch(1L, 10L)) {
      case (acc, (lo, hi)) => acc.unionAll(batch(lo, hi))
    }
    assert(sorted(Snapshot.read(spark, dir)) == sorted(expected))
  }

  test("retryOnConflict serializes read-modify-write verbs by re-execution") {
    val dir = fresh()
    // two RMW writers race full re-executions: each bumps its own key
    // range; both effects must survive in some serial order
    val threads = Seq((1L, 5L), (6L, 10L)).map { case (lo, hi) =>
      new Thread(() => {
        Snapshot.retryOnConflict() {
          Snapshot.updateWhere(spark, dir, lo, hi,
            Map("v" -> (col("v") + 1L)), col("k").between(lo, hi))
        }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import spark.implicits._
    val expected = (1L to 10L).map(k => (k, k * 10 + 1)).toDF("k", "v")
    assert(sorted(Snapshot.read(spark, dir)) == sorted(expected))
  }

  test("racing DV deletes serialize under retryOnConflict; masks union") {
    val dir = fresh()
    // two merge-on-read deletes race: each masks its own keys; the
    // loser's CAS fails on the manifest, re-executes against the
    // winner's head (whose vectors its dvScan now anti-applies), and
    // both masks land — no resurrection, no double-mask
    val threads = Seq((1L, 3L), (8L, 10L)).map { case (lo, hi) =>
      new Thread(() => {
        Snapshot.retryOnConflict() {
          Snapshot.deleteWhereDV(spark, dir, lo, hi)
        }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshot.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      (4L to 7L).toSet)
    val m = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    assert(m.dvs.values.map(_.length).sum == 6,
      "both racers' masks must union: 3 + 3 positions")
    m.dvs.values.foreach(v => assert(v.toSeq == v.toSeq.distinct.sorted))
  }

  test("a DV delete racing OPTIMIZE re-executes against the compacted head") {
    val dir = fresh()
    // the loser's vectors were keyed to files the winner's rewrite
    // replaced — retryOnConflict's full re-execution recollects
    // positions against the NEW file set, so the mask lands on files
    // that exist and the state is some serial order of both verbs
    val t1 = new Thread(() => {
      Snapshot.retryOnConflict() {
        Snapshot.deleteWhereDV(spark, dir, 3L, 6L)
      }
      ()
    })
    val t2 = new Thread(() => {
      Snapshot.retryOnConflict() {
        Snapshot.compactVersion(spark, dir, 1L << 30)
      }
      ()
    })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(Snapshot.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 7L, 8L, 9L, 10L))
    // every surviving vector references a file the head actually lists
    val m = Snapshot.manifest(spark, dir,
      Snapshot.currentVersion(spark, dir))
    val listed = m.files.map(_.path).toSet
    assert(m.dvs.keySet.subsetOf(listed),
      s"stale vector keys: ${m.dvs.keySet -- listed}")
  }

  test("appendWithRetry publishes an explicit DELTA whose reader " +
    "resolution equals the writer's seeded state") {
    val dir = fresh()
    val v = Snapshot.appendWithRetry(batch(21L, 24L), dir, nFiles = 1)
    assert(v == 2)
    // the verb handed publish its delta explicitly — the metadata
    // write is the delta envelope, not a re-derived full manifest
    assert(Snapshot.manifestFormat(spark, dir, 2) == "delta")
    val seeded = Snapshot.manifest(spark, dir, 2)
    Snapshot.clearManifestCache()
    val resolved = Snapshot.manifest(spark, dir, 2)
    assert(Snapshot.sameState(seeded, resolved),
      "cache-seeded writer state must equal the reader's own " +
        "applyDelta resolution from disk")
    assert(sorted(Snapshot.read(spark, dir)) ==
      sorted(batch(1L, 10L).unionAll(batch(21L, 24L))))
  }

  test("the explicit append respects the checkpoint policy: a " +
    "checkpoint version publishes FULL") {
    val dir = fresh()
    spark.conf.set(Snapshot.CheckpointEveryKey, "2")
    try {
      // v2 is a checkpoint under K=2 — the explicit path must fall
      // back to the generic full publish, keeping every chain rooted
      val v = Snapshot.appendWithRetry(batch(21L, 22L), dir, nFiles = 1)
      assert(v == 2)
      assert(Snapshot.manifestFormat(spark, dir, 2) == "text")
      // v3 is delta-eligible again
      assert(Snapshot.appendWithRetry(batch(31L, 32L), dir,
        nFiles = 1) == 3)
      assert(Snapshot.manifestFormat(spark, dir, 3) == "delta")
    } finally spark.conf.unset(Snapshot.CheckpointEveryKey)
    Snapshot.clearManifestCache()
    assert(sorted(Snapshot.read(spark, dir)) == sorted(batch(1L, 10L)
      .unionAll(batch(21L, 22L)).unionAll(batch(31L, 32L))))
  }

  test("explicit-append guards: sidecar upserts keyed off added files " +
    "or colliding paths fall back to the generic publish") {
    val dir = fresh()
    val m = Snapshot.manifest(spark, dir, 1)
    // upsert keyed on a BASE file (not an added one): not expressible
    // as a pure-accretion delta — must land through the generic
    // publish (which derives + verifies), still correct state
    val added = Seq(Snapshot.FileEntry("data/zz_probe/part-0.parquet",
      100L, 110L, 5L))
    Snapshot.publishExplicitAppend(spark, dir, m, Nil, added,
      Map((m.files.head.path, "v") -> (0L, 1L)), Map.empty,
      m.schemaJson, "guardtest")
    assert(Snapshot.currentVersion(spark, dir) == 2)
    val m2 = Snapshot.manifest(spark, dir, 2)
    assert(m2.files.map(_.path).contains("data/zz_probe/part-0.parquet"))
    assert(m2.colStats.get((m.files.head.path, "v")).contains((0L, 1L)))
  }

  test("concurrent SQL INSERT INTO writers both land (append rebase)") {
    import spark.implicits._
    val dir = fresh()
    val name = "conc_ins_" + java.util.UUID.randomUUID().toString.take(8)
    Snapshot.registerSqlTable(spark, name, dir)
    val threads = Seq((100L, 104L), (200L, 204L)).map { case (lo, hi) =>
      new Thread(() => {
        spark.sql(s"INSERT INTO $name SELECT id AS k, id * 10 AS v " +
          s"FROM range($lo, ${hi + 1})")
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshot.currentVersion(spark, dir) == 3,
      "both INSERTs must land one version each — rebase, not abort")
    assert(sorted(Snapshot.read(spark, dir)) == sorted(batch(1L, 10L)
      .unionAll(batch(100L, 104L)).unionAll(batch(200L, 204L))))
  }

  test("an empty staged append is a no-op") {
    import spark.implicits._
    val dir = fresh()
    val staged = Snapshot.stageAppend(
      Seq.empty[(Long, Long)].toDF("k", "v"), dir, nFiles = 1)
    assert(staged.files.isEmpty)
    assert(Snapshot.publishAppend(spark, dir, staged) == 1)
    assert(Snapshot.currentVersion(spark, dir) == 1)
  }
}
