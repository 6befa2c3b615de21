package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Ingest

/** The reference pipeline as FOUR separately-runnable, separately-
  * restartable Spark jobs — the shape BASELINE.json actually describes
  * ("Airflow orchestrates": each DAG task is its own process, tasks hand
  * off through storage, and a failed task is RE-DRIVEN in a fresh JVM —
  * the `retries: 1` contract, patient_claims_plus_postgres.py:14-19).
  * [[Pipeline.run]] composes these same four functions in one session;
  * each also gets a `runMain` entry so the A22 retry story is
  * demonstrable engine-side, one stage per spark-submit:
  *
  * {{{
  * runMain graft.StageRaw     <work> [sfDir]   # A1-A5   raw landing
  * runMain graft.StageLoad    <work>           # A6-A9/A13/A20 typed loads
  * runMain graft.StageDerive  <work>           # A16-A19 bucketed join CTAS
  * runMain graft.StagePublish <work> [jdbcUrl] # A10/A20 audit + DB landing
  * runMain graft.StageMerge   <work> <runTag>  # A22 exactly-once snapshot
  *                                             # upsert (beyond-reference)
  * }}}
  *
  * Restart contract (every stage, both halves spec-replayed):
  *  - a stage CHECKS ITS INPUTS exist and are non-empty before writing
  *    anything — driven before its predecessor it fails loudly, like an
  *    unmet Airflow dependency, instead of publishing an empty table;
  *  - a stage writes only overwrite-mode outputs to paths it alone owns,
  *    so re-driving it after any partial failure REPLACES half-written
  *    output (never appends, never double-counts) and re-driving it after
  *    success is a no-op byte-wise: the inputs are deterministic.
  *
  * Each byte is written once. Load lands its two outputs already bucketed
  * and sorted on the join key; derive declares those directories as
  * external bucketed tables from the schemas below — the bucket metadata
  * lives in the session catalog, which dies with the task JVM, so the
  * cross-JVM contract is the files plus this object's schemas — and
  * writes patient_claims_plus itself; publish only reads it.
  */
object Stages {

  /** 1. stage — raw landing (A1-A5): claims + dim as header CSVs with
    * dates as yyyyMMdd TEXT (the CMS convention the reference preserves,
    * patient_claims_plus_postgres.py:80-81), dim packed into a ZIP like
    * the reference's download artifact
    * (cms_inpatient_download_unzip.py:22-24). */
  def stage(spark: SparkSession, work: String, sf: String): Unit = {
    Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_returnflag"),
      date_format(col("l_shipdate"), "yyyyMMdd").as("l_shipdate_ymd"))
      .write.option("header", "true").mode("overwrite").csv(s"$work/claims_csv")
    Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyyMMdd").as("o_orderdate_ymd"))
      .write.option("header", "true").mode("overwrite").csv(s"$work/dim_csv")
    val zipDir = Files.createDirectories(
      java.nio.file.Paths.get(s"$work/dim_zips"))
    // write-then-rename so a re-run racing a crashed half-written zip
    // never leaves a torn archive at the handoff path
    val tmp = zipDir.resolve("dim.zip.tmp")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(tmp))
    // NOTE: the zip packing addresses `work` through java.nio directly —
    // unlike the FS-API handoffs, this stage requires a LOCAL work dir
    // (fine for the single-node archive-landing step it models)
    scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/dim_csv"))) {
      stream =>
        stream.toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".csv"))
          .foreach { p =>
            zos.putNextEntry(new java.util.zip.ZipEntry(p.getFileName.toString))
            zos.write(java.nio.file.Files.readAllBytes(p))
            zos.closeEntry()
          }
    }
    zos.close()
    java.nio.file.Files.move(tmp, zipDir.resolve("dim.zip"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private val claimsSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_shipdate_ymd", StringType)))
  private val dimSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate_ymd", StringType)))

  /** Bucket count of load's two outputs; derive declares the same. */
  private val Buckets = 8

  /** 2. load — contract-checked, FAILFAST, schema'd CSV reads with
    * empty→NULL semantics (A6-A9, A13), DQ-gated (A20, actually
    * asserting); typed rows land bucketed+sorted on the join key, the
    * layout derive joins on in place. */
  def load(spark: SparkSession, work: String): Unit = {
    Ingest.assertNonEmptyPath(spark, s"$work/claims_csv")
    Ingest.assertNonEmptyPath(spark, s"$work/dim_zips/dim.zip")
    val claims = Ingest.dqGateNonEmpty(
      Ingest.projectKeep(
        Ingest.requireColumns(
          Ingest.readCsv(spark, s"$work/claims_csv", claimsSchema),
          Seq("l_orderkey", "l_linenumber", "l_shipdate_ymd")),
        claimsSchema.fieldNames.toSeq),
      "raw_claims")
    val dim = Ingest.dqGateNonEmpty(
      Ingest.readZippedCsv(spark, s"$work/dim_zips", dimSchema)
        .filter(col("o_totalprice") > 150000.0),
      "raw_dim")
    ops.Layout.writeBucketed(claims, s"$work/load_claims", "l_orderkey", Buckets)
    ops.Layout.writeBucketed(dim, s"$work/load_dim", "o_orderkey", Buckets)
  }

  /** 3. derive — the patient_claims_plus CTAS (A16-A19), written once,
    * with the final DQ gate riding that write (row-count and
    * not-null(claim_key) metrics via Observation — A20, stronger than the
    * reference's post-hoc count, which also could never fail). Both sides
    * are load's bucketed output, declared in place, and the fact⟕dim join
    * is REQUIRED Exchange-free in the sort-merge path a 100 TB fact forces
    * (a `merge` hint rules out broadcast in the caller's own session). */
  def derive(spark: SparkSession, work: String): Unit = {
    Ingest.assertNonEmptyPath(spark, s"$work/load_claims")
    Ingest.assertNonEmptyPath(spark, s"$work/load_dim")
    // table names carry the sanitized work-dir path: two pipelines sharing
    // one session (suite + demo) must not redeclare each other's tables,
    // and a 32-bit hash could collide into exactly that — the full path
    // cannot (csvStageOnce/ivfServing use the same convention)
    val sfx = work.replaceAll("[^A-Za-z0-9]", "_")
    val claimsB = ops.Layout.bucketedTable(spark, s"pipeline_claims_b_$sfx",
      s"$work/load_claims", claimsSchema, "l_orderkey", Buckets)
    val dimB = ops.Layout.bucketedTable(spark, s"pipeline_dim_b_$sfx",
      s"$work/load_dim", dimSchema, "o_orderkey", Buckets)
    val derived = claimsB
      .join(dimB.hint("merge"), claimsB("l_orderkey") === dimB("o_orderkey"),
        "left")
      .select(
        col("l_orderkey").as("claim_key"),
        col("l_linenumber").as("claim_line"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("ext_price"),
        col("l_returnflag").as("ret_flag"),
        col("l_shipdate_ymd").as("ship_ymd"),
        to_date(col("l_shipdate_ymd"), "yyyyMMdd").as("ship_date"),
        col("o_custkey").as("cust_key"),
        col("o_orderdate_ymd").as("order_ymd"),
        when(col("o_orderstatus") === "O", "Open")
          .when(col("o_orderstatus") === "F", "Finished")
          .otherwise("Unknown").as("order_status_decoded"))
    // the bucketing claim, enforced like a DQ gate: a plan that shuffles
    // the derive join is a pipeline bug, not a log line
    val derivePlan = derived.queryExecution.executedPlan.toString
    require(!derivePlan.contains("Exchange"),
      s"derive join must be Exchange-free off bucketed staging; plan:\n$derivePlan")
    Ingest.observedDqGate(derived, "patient_claims_plus", Seq("claim_key")) {
      d => Ingest.stageOverwrite(d, s"$work/patient_claims_plus")
    }
  }

  /** 4. publish — the reference's post-CTAS audit (A20, :194-199) as ONE
    * aggregate job that fails the same gate derive's write carries (empty
    * table, or NULL claim_key), then the reference-faithful DB landing
    * through the COPY-grade bulk sink (patient_claims_plus_postgres.py:
    * 55-56). Writes no files. Returns (published rows, true join-miss
    * rows). */
  def publish(spark: SparkSession, work: String,
              jdbcUrl: Option[String] = None,
              jdbcOptions: Map[String, String] = Map.empty): (Long, Long) = {
    Ingest.assertNonEmptyPath(spark, s"$work/patient_claims_plus")
    val out = spark.read.parquet(s"$work/patient_claims_plus")
    // true join misses: the dim side is all-NULL on a left-join miss, and
    // o_custkey is never NULL in a real dim row — unlike the 'Unknown'
    // decode, which also fires for joined orders with an unmapped status
    val audit = out.agg(count(lit(1)),
      count_if(col("claim_key").isNull), count_if(col("cust_key").isNull)).head()
    val rows = audit.getLong(0)
    Ingest.assertDq("patient_claims_plus", rows,
      Seq("claim_key" -> audit.getLong(1)))
    jdbcUrl.foreach(url =>
      Ingest.writeJdbcBulk(out, url, "patient_claims_plus",
        options = jdbcOptions))
    (rows, audit.getLong(2))
  }

  /** 5. merge — incremental warehouse maintenance as a RESTARTABLE task:
    * upsert the published rows into a standing snapshot-versioned table
    * ([[ops.Snapshot]]) keyed by (claim_key, claim_line). This is the
    * stage the reference's DROP+CTAS reload cannot express: re-running
    * the pipeline REPLACES its table, while this stage accretes history
    * one atomic commit per run. The A22 redrive contract lands on the
    * TABLE itself via [[ops.Snapshot.commitOnce]]: `runTag` stamps the
    * commit, so a task redriven after a success no-ops (same version
    * back), a task redriven after a crash-before-publish commits cleanly
    * over vacuumable orphans, and a racing duplicate loses the atomic
    * manifest publish — exactly-once per runTag with NO coordinator
    * (StageSpec/SnapshotSpec replay all three). Returns the committed
    * (or found) version. */
  def merge(spark: SparkSession, work: String, runTag: String): Int = {
    Ingest.assertNonEmptyPath(spark, s"$work/patient_claims_plus")
    val dir = s"$work/claims_snapshot"
    val pub = spark.read.parquet(s"$work/patient_claims_plus")
      .withColumn("ck", col("claim_key") * 10 + col("claim_line"))
    ops.Snapshot.commitOnce(spark, dir, runTag) {
      val cur = ops.Snapshot.currentVersion(spark, dir)
      if (cur == 0)
        ops.Snapshot.commit(pub, dir, 0, "ck", note = runTag)
      else
        // keep-incoming upsert: published rows replace same-key snapshot
        // rows, unmatched snapshot rows carry (key-local, as mergeCow
        // requires); a re-published claims set matches most of the
        // table, so the touched files rewrite copy-on-write
        ops.Snapshot.mergeCow(spark, dir, pub, "ck",
          (base, ch) => ch.unionByName(
            base.join(ch.select(col("ck").as("_k")),
              base("ck") === col("_k"), "left_anti")),
          note = runTag)
    }
  }

  private[graft] def drive(args: Array[String], usage: String)
                          (f: (SparkSession, Array[String]) => Unit): Unit = {
    require(args.nonEmpty, usage)
    val spark = GraftSession.local("stage")
    try f(spark, args) finally spark.stop()
  }
}

object StageRaw {
  def main(args: Array[String]): Unit =
    Stages.drive(args, "usage: runMain graft.StageRaw <workDir> [sfDir]") {
      (s, a) =>
        Stages.stage(s, a(0), if (a.length > 1) a(1) else "/root/testdata/sf0.001")
        println(s"STAGE_OK=raw WORK_DIR=${a(0)}")
    }
}

object StageLoad {
  def main(args: Array[String]): Unit =
    Stages.drive(args, "usage: runMain graft.StageLoad <workDir>") { (s, a) =>
      Stages.load(s, a(0))
      println(s"STAGE_OK=load WORK_DIR=${a(0)}")
    }
}

object StageDerive {
  def main(args: Array[String]): Unit =
    Stages.drive(args, "usage: runMain graft.StageDerive <workDir>") { (s, a) =>
      Stages.derive(s, a(0))
      println(s"STAGE_OK=derive WORK_DIR=${a(0)}")
    }
}

object StagePublish {
  def main(args: Array[String]): Unit =
    Stages.drive(args,
      "usage: runMain graft.StagePublish <workDir> [jdbcUrl]") { (s, a) =>
      val (rows, misses) =
        Stages.publish(s, a(0), if (a.length > 1) Some(a(1)) else None)
      println(s"STAGE_OK=publish PIPELINE_ROWS=$rows NULL_EXTENDED=$misses " +
        s"WORK_DIR=${a(0)}")
    }
}

object StageMerge {
  def main(args: Array[String]): Unit =
    Stages.drive(args,
      "usage: runMain graft.StageMerge <workDir> <runTag>") { (s, a) =>
      require(a.length > 1, "usage: runMain graft.StageMerge <workDir> <runTag>")
      val v = Stages.merge(s, a(0), a(1))
      println(s"STAGE_OK=merge SNAPSHOT_VERSION=$v RUN_TAG=${a(1)} " +
        s"WORK_DIR=${a(0)}")
    }
}
