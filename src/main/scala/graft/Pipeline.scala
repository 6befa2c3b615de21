package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** End-to-end replay of the reference pipeline as one runnable Spark job —
  * the executable proof that a user of
  * HashikaVenkat/airflow-cms-inpatient-etl can run their whole flow on this
  * engine. Stages mirror the two DAGs:
  *
  *  1. stage   — raw data lands as header CSVs with dates as yyyyMMdd TEXT
  *               (the CMS convention the reference preserves,
  *               /root/reference/dags/patient_claims_plus_postgres.py:80-81);
  *               plays download_unzip's extract+stage (A1-A5).
  *  2. load    — contract-checked, FAILFAST, schema'd CSV reads with
  *               empty->NULL semantics (A6-A9, A13), DQ-gated (A20, but
  *               actually asserting).
  *  3. derive  — fact ⟕ dim left join, 20-col aliased projection, CASE
  *               decode with the NULL->'Unknown' path (A16-A19), exactly
  *               the patient_claims_plus CTAS (:161-189), written once with
  *               the final DQ gate riding the write. The join is REQUIRED
  *               Exchange-free off load's bucketed output — the engine
  *               applies the reference's own A20 lesson (checks that can't
  *               fail aren't checks) to its own plan claims.
  *  4. publish — the post-CTAS row-count audit (:194-199), failing on an
  *               empty table or a NULL claim_key, plus the optional DB
  *               landing (A10).
  *
  * Each stage is idempotent (overwrite staging), so reruns are safe — the
  * reference's own recovery model. `run` drives all four stages on any
  * session (PipelineSpec replays it under `sbt test`); `main` wraps it in
  * its own session. Usage: runMain graft.Pipeline [sfDir].
  */
object Pipeline {

  /** Runs the full replay; returns (published rows, true join-miss rows,
    * work dir).
    *
    * `jdbcUrl`: the reference's publish step is a DATABASE load (Postgres
    * COPY, patient_claims_plus_postgres.py:55-56, 187-189) — pass a JDBC
    * URL and the publish stage also lands patient_claims_plus there
    * through [[ops.Ingest.writeJdbcBulk]] (one connection per partition,
    * 10k-row batches, multi-row rewrite on PG — the COPY-grade distributed
    * load). The parquet table is always derive's; the DB landing is the
    * reference-faithful extra hop (PipelineSpec replays it against
    * embedded Derby). */
  def run(spark: SparkSession, sf: String,
          jdbcUrl: Option[String] = None,
          jdbcOptions: Map[String, String] = Map.empty): (Long, Long, String) = {
    val work = Files.createTempDirectory("graft_pipeline").toString
    // the four stages are the restartable per-task jobs in Stages.scala
    // (runMain graft.StageRaw/StageLoad/StageDerive/StagePublish) — this
    // monolith is literally their composition on one session, so the spec
    // replay of `run` exercises the same code the per-task JVMs run
    Stages.stage(spark, work, sf)
    Stages.load(spark, work)
    Stages.derive(spark, work)
    val (rows, misses) = Stages.publish(spark, work, jdbcUrl, jdbcOptions)
    (rows, misses, work)
  }

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local("pipeline")
    val (rows, misses, work) = run(spark, sf)
    println(s"PIPELINE_ROWS=$rows NULL_EXTENDED=$misses WORK_DIR=$work")
    spark.stop()
  }
}
