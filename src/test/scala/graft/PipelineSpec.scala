package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The full reference-DAG replay under `sbt test`: every stage (CSV+zip
  * staging, contract-checked loads landing bucketed, the Exchange-free
  * derive join writing patient_claims_plus, the publish audit + DB
  * landing) runs for real on the smallest fixture — and the derive-join
  * plan assertion inside Pipeline.run means a plan that reintroduces a
  * shuffle FAILS this suite, not just a demo run. Also pinned: each
  * pipeline byte is written once, and publish's audit refuses a bad
  * table. */
class PipelineSpec extends SparkSpec {

  test("pipeline replay publishes, preserves claim cardinality, gates its own plan") { Derby.exclusive {
    // publish includes the reference-faithful DB landing (its Postgres
    // drop-and-reload) when the Derby embedded driver is around; the
    // replay itself must pass either way
    val jdbc =
      if (Derby.available) Some("jdbc:derby:memory:graft_pipeline;create=true")
      else None
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val (rows, misses, _) = Pipeline.run(spark, sf, jdbc, opts)
    val claims = Tables.lineitem(spark, sf).count()
    assert(rows == claims,
      s"left derive join must preserve claim cardinality ($rows vs $claims)")
    // the dim side is filtered (o_totalprice > 150k), so some claims must
    // miss — and a miss shows as NULL cust_key, never a dropped row
    assert(misses > 0 && misses < rows,
      s"expected some-but-not-all join misses, got $misses of $rows")
    // the DB landing holds the full published table
    jdbc.foreach { url =>
      val landed = ops.Ingest.readJdbc(spark, url, "patient_claims_plus", opts)
      assert(landed.count() == rows,
        "the JDBC landing must hold every published row")
    }
  } }

  test("stages are individually restartable against one work dir (A22)") {
    // the Airflow `retries: 1` contract, engine-side: each stage is its
    // own job against a shared work dir; a re-driven stage replaces its
    // own output and the pipeline result is unchanged
    val work = java.nio.file.Files.createTempDirectory("graft_stages").toString
    // driven before its predecessor ran: fails loudly (unmet dependency),
    // never publishes an empty table
    intercept[Exception] { Stages.load(spark, work) }
    intercept[Exception] { Stages.publish(spark, work) }
    Stages.stage(spark, work, sf)
    Stages.load(spark, work)
    Stages.derive(spark, work)
    val (rows, misses) = Stages.publish(spark, work)
    assert(rows == Tables.lineitem(spark, sf).count())
    assert(misses > 0 && misses < rows)
    // crash debris at a handoff path (a torn writer's leftovers) must be
    // REPLACED by the retry, not merged into the stage output — a junk
    // file left in load's bucketed output would also break derive's read
    val junk = Seq("load_claims", "patient_claims_plus")
      .map(d => Paths.get(s"$work/$d/part-junk.parquet"))
    junk.foreach(Files.writeString(_, "torn"))
    // re-drive the middle stages (the Airflow retry), then publish again:
    // byte-identical inputs => identical published result
    Stages.load(spark, work)
    Stages.derive(spark, work)
    junk.foreach(j => assert(!Files.exists(j),
      s"a re-driven stage must replace its output dir, debris included: $j"))
    assert(Stages.publish(spark, work) == ((rows, misses)),
      "a re-driven pipeline must publish the identical result")

    // stage 5 (beyond-reference): exactly-once snapshot upsert per runTag.
    // A redriven SUCCESSFUL task no-ops; a crash BEFORE publish leaves
    // only vacuumable orphans and the retry commits; the next DAY's tag
    // commits a new version over the same standing table.
    import org.apache.spark.sql.functions.col
    val snap = s"$work/claims_snapshot"
    assert(Stages.merge(spark, work, "day1") == 1)
    assert(Stages.merge(spark, work, "day1") == 1,
      "a redriven successful merge task must return the SAME version")
    assert(ops.Snapshot.versions(spark, snap) == Seq(1),
      "the redrive must not commit a second version")
    // crash window: data landed, manifest never published — the retry
    // must commit cleanly and vacuum can reclaim the orphan
    spark.read.parquet(s"$work/patient_claims_plus").limit(3)
      .withColumn("ck", col("claim_key") * 10 + col("claim_line"))
      .write.parquet(s"$snap/data/c2_torn")
    assert(Stages.merge(spark, work, "day2") == 2,
      "a retry after a crash-before-publish must land the commit")
    assert(ops.Snapshot.vacuum(spark, snap, 0L) == Seq("c2_torn"))
    assert(Stages.merge(spark, work, "day2") == 2)
    val v2 = ops.Snapshot.read(spark, snap).count()
    assert(v2 == rows, "upsert of identical published rows is idempotent")
  }

  test("each pipeline byte is written once; publish only reads") {
    val work = Files.createTempDirectory("graft_once").toString
    Stages.stage(spark, work, sf)
    Stages.load(spark, work)
    Stages.derive(spark, work)
    // every file under the work dir, by (size, mtime)
    def files(): Map[String, (Long, Long)] =
      scala.util.Using.resource(Files.walk(Paths.get(work))) { w =>
        w.iterator.asScala.filter(Files.isRegularFile(_)).map(f =>
          f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis))
          .toMap
      }
    val before = files()
    val published = Stages.publish(spark, work)
    val after = files()
    val touched = (before.keySet ++ after.keySet).filter(f => before.get(f) != after.get(f))
    assert(touched.isEmpty, "publish must write no file under the work dir")
    // derive joins load's output in place: nothing restaged into the
    // session warehouse
    val wh = Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    val restaged = scala.util.Using.resource(Files.list(wh)) { l =>
      l.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("pipeline_")).toList
    }
    assert(restaged.isEmpty, s"derive restaged into the warehouse: $restaged")
    // a derive in a fresh JVM has no catalog entries: drop this
    // session's, re-drive derive + publish, same result
    val declared = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("pipeline_"))
    assert(declared.length >= 2, declared.mkString(", "))
    declared.foreach(t => spark.sql(s"DROP TABLE `$t`"))
    Stages.derive(spark, work)
    assert(Stages.publish(spark, work) == published,
      "derive from the files alone must publish the same result")
  }

  test("publish refuses an empty table or a NULL claim_key") {
    import spark.implicits._
    def publishOver(rows: Seq[(Option[Long], Option[Long])]): Unit = {
      val work = Files.createTempDirectory("graft_gate").toString
      rows.toDF("claim_key", "cust_key")
        .write.parquet(s"$work/patient_claims_plus")
      Stages.publish(spark, work)
    }
    publishOver(Seq(Some(1L) -> Some(7L), Some(2L) -> None))
    val empty = intercept[IllegalStateException](publishOver(Nil))
    assert(empty.getMessage.contains("empty result"), empty.getMessage)
    val nullKey = intercept[IllegalStateException](
      publishOver(Seq(Some(1L) -> Some(7L), None -> Some(8L))))
    assert(nullKey.getMessage.contains("claim_key(1)"), nullKey.getMessage)
  }

  test("cross-process commit race: one winner, clean loser abort") {
    // the in-JVM publishLock cannot serialize two DRIVERS; this races
    // two separate JVMs (graft.SnapRace — Stages-style per-task mains)
    // at one table to exercise the FILESYSTEM half of the publish
    // protocol: the atomic create-exclusive (link(2) locally,
    // no-overwrite rename on HDFS-class filesystems) elects exactly one
    // manifest, and the loser detects the loss and deletes its own data
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_race").toString
    val dir = s"$base/t"
    ops.Snapshot.commit(
      (1 to 10).map(k => (k.toLong, "seed")).toDF("k", "who"), dir, 0, "k")
    val go = s"$base/go"
    val jvm = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    // mirror this JVM's --add-opens set (Spark-on-JDK17 module opens)
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList.sliding(2).collect {
        case List(a, b) if a == "--add-opens" => List(a, b)
      }.flatten.toList
    def launch(marker: String): Process = {
      val pb = new ProcessBuilder((List(jvm) ++ opens ++ List(
        "-Xmx2g", "-Dspark.ui.enabled=false", "-cp", cp,
        "graft.SnapRace", dir, go, marker)).asJava)
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File(s"$base/out.$marker"))
      pb.start()
    }
    val alpha = launch("alpha")
    val beta = launch("beta")
    try {
      def ready(m: String) = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$go.ready.$m"))
      val deadline = System.currentTimeMillis() + 180000
      while (!(ready("alpha") && ready("beta")) &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(ready("alpha") && ready("beta"), "racers failed to warm up")
      // fire the rendezvous: both JVMs attempt the v1 -> v2 commit now
      java.nio.file.Files.writeString(java.nio.file.Paths.get(go), "go")
      assert(alpha.waitFor(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(beta.waitFor(180, java.util.concurrent.TimeUnit.SECONDS))
      val codes = Seq(alpha.exitValue(), beta.exitValue())
      def log(m: String) = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$base/out.$m"))
      assert(codes.sorted == Seq(0, 3),
        s"exactly one winner (0) and one clean conflict abort (3), got " +
          s"$codes\n${log("alpha")}\n${log("beta")}")
      val winner = if (alpha.exitValue() == 0) "alpha" else "beta"
      // exactly one v2 landed, and it is entirely the winner's
      assert(ops.Snapshot.versions(spark, dir) == Seq(1, 2))
      assert(ops.Snapshot.manifest(spark, dir, 2).note == s"racer:$winner")
      val who = ops.Snapshot.read(spark, dir)
        .select("who").collect().map(_.getString(0)).toSet
      assert(who == Set(winner), s"v2 must be the winner's content: $who")
      // the loser aborted cleanly: no unreferenced data remains
      assert(ops.Snapshot.vacuum(spark, dir, 0L).isEmpty,
        "the loser must have deleted its own data files")
    } finally {
      alpha.destroyForcibly(); beta.destroyForcibly()
    }
  }
}
