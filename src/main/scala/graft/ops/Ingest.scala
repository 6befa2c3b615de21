package graft.ops

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Reusable ingest operators — the reference's actual ETL surface (SURVEY.md
  * §2-A A5-A13, A20) as engine code rather than one-off query replays.
  *
  * Reference semantics reproduced:
  *  - A6/A13 `readCsv`: header CSV + declared schema; FAILFAST mirrors
  *    Postgres COPY's error-on-malformed; empty unquoted fields -> NULL
  *    (/root/reference/dags/patient_claims_plus_postgres.py:40-41,55-56).
  *  - A7 `requireColumns`: required-columns-present contract that raises
  *    listing the missing ones (:42-44).
  *  - A8 `projectKeep`: manual projection to keep_cols, in order (:48-51) —
  *    under Catalyst this prunes the scan itself.
  *  - A9 `emptyToNull`: absent/empty field -> NULL (:51).
  *  - A5/A12 `stageOverwrite`: idempotent re-stage, drop-before-write
  *    (cms_inpatient_download_unzip.py:58-65; :66,75-76).
  *  - A20 `dqGateNonEmpty`: the reference computes a row-count "ok" flag but
  *    never inspects it, so its DQ gate cannot fail the DAG (:125-130,
  *    150-155, 194-199). This one actually throws.
  *
  * Scale notes: all operators stay declarative (schema'd reads, selects,
  * parquet writes) — the reference's buffer-whole-file-in-StringIO loader
  * (:46-53) is exactly what NOT to do at 100 TB; here the scan is
  * partitioned and splittable and nothing materializes on the driver.
  */
object Ingest {

  /** A6 + A13: header CSV scan with a declared schema. FAILFAST = the
    * reference's COPY error-on-malformed behavior; empty fields -> NULL. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              failFast: Boolean = true): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** JSON-lines scan with a DECLARED schema — the second text source
    * format next to [[readCsv]]. The explicit schema matters at 100 TB:
    * without it Spark runs a full inference pre-pass over every file
    * (an extra corpus scan before the first real job); with it the read
    * is one splittable partitioned scan, and FAILFAST keeps the COPY-like
    * error-on-malformed contract per task. Fields present in the data but
    * absent from the schema are pruned for free; absent fields are NULL —
    * the same empty→NULL discipline as the CSV path. */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType,
                    failFast: Boolean = true): DataFrame =
    spark.read
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .schema(schema)
      .json(path)

  /** Columnar source #2: ORC with a declared schema. Same scan contract
    * as the parquet path — splittable, column-pruned, predicate pushdown
    * into the stripe/row-group indexes (IngestSpec asserts PushedFilters
    * on the executed scan). The format choice is a storage decision, not
    * a semantic one: every operator in this engine runs unchanged on
    * either. (Avro is NOT offered: the spark-avro connector jar is not on
    * this classpath, and a source the build can't exercise would be dead
    * code.) */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Raw-text corpus source: one row per line (`wholeFile=false`) or one
    * row per FILE (`wholeFile=true` — the corpus-ingest shape where each
    * .txt is a document). Line mode is splittable; whole-file mode is
    * one task per file, the right trade when documents are files and
    * downstream ops are per-document anyway. The single `value` column
    * feeds the text operators directly. */
  def readText(spark: SparkSession, path: String,
               wholeFile: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholeFile.toString).text(path)

  /** Schema-evolution read: union parquet batches written under DIFFERENT
    * schema versions into one frame (`mergeSchema`) — columns added after
    * a batch was written come back NULL for that batch's rows. At 100 TB
    * a table accretes schema versions for years and rewriting old
    * partitions on every added column is off the table; merged reads are
    * how the lakehouse pattern absorbs drift. Spark pays one footer read
    * per distinct file schema at planning; column pruning still reaches
    * every batch (each file is read under its own physical schema).
    * Incompatible TYPE changes for a same-named column still fail loudly
    * — evolution here means ADDITIVE drift, the only kind that is safe
    * without a cast contract (IngestSpec pins both behaviors). */
  def readEvolved(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** A7: contract check — every required column present, else raise
    * listing the missing ones (mirrors the reference's ValueError). */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val missing = required.filterNot(c => have.contains(c.toLowerCase))
    require(missing.isEmpty,
      s"missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** A8: keep only `keep`, in order (column pruning pushes into the scan). */
  def projectKeep(df: DataFrame, keep: Seq[String]): DataFrame =
    df.select(keep.map(col): _*)

  /** A9: '' (and whitespace-only) string values -> NULL on the given cols. */
  def emptyToNull(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, nullif(trim(col(c)), lit(""))))

  /** A5/A12: idempotent staging — overwrite semantics replace any prior
    * copy, making reruns the de-facto regression test as in the reference. */
  def stageOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** A20, fixed: a DQ gate that actually fails the pipeline. Returns the
    * input for chaining so it drops into a job between any two stages. */
  def dqGateNonEmpty(df: DataFrame, name: String): DataFrame = {
    val n = df.limit(1).count()
    require(n > 0, s"DQ gate '$name' failed: empty result")
    df
  }

  /** Single-pass DQ: attach row-count + per-column null-count metrics to
    * the frame via `Observation`, run ONE action (the write `body`), then
    * assert from the collected metrics. [[dqGateNonEmpty]] and the
    * reference's row-count check (:125-130) each cost an extra scan of the
    * input; at 100 TB that doubles the job. Observed metrics ride the main
    * job's tasks for free — the same accumulator mechanism as Spark's own
    * SQL metrics — so data lands AND its quality is asserted in one pass.
    * Throws IllegalStateException after the write if the gate fails, so a
    * caller can quarantine the written output.
    *
    * Contract: `body` MUST run exactly one action on the frame it is
    * GIVEN (not on `df`) — `Observation.get` blocks until its query
    * completes, so a body that triggers no action hangs the caller, and
    * an action on a different frame never feeds the metrics.
    * Returns (rowCount, nullCounts in `notNullCols` order). */
  def observedDqGate(df: DataFrame, name: String, notNullCols: Seq[String])
                    (body: DataFrame => Unit): (Long, Seq[Long]) = {
    val obs = new org.apache.spark.sql.Observation(s"dq_$name")
    val metrics = count(lit(1)).as("n_rows") +:
      notNullCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
        .as(s"nulls_$c"))
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    body(observed)
    val row = obs.get
    val n = row("n_rows").asInstanceOf[Long]
    val nulls = notNullCols.map(c => row(s"nulls_$c").asInstanceOf[Long])
    assertDq(name, n, notNullCols.zip(nulls))
    (n, nulls)
  }

  /** The gate verdict shared by [[observedDqGate]] and the publish audit:
    * IllegalStateException on zero rows or any NULL in a not-null column,
    * given as (column, null count). */
  def assertDq(name: String, rows: Long, nulls: Seq[(String, Long)]): Unit = {
    if (rows == 0)
      throw new IllegalStateException(s"DQ gate '$name' failed: empty result")
    val bad = nulls.filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalStateException(s"DQ gate '$name' failed: nulls in " +
        bad.map { case (c, k) => s"$c($k)" }.mkString(", "))
  }

  /** A10: the reference's ACTUAL sink — a relational database. The
    * reference loads its final table into Postgres with COPY
    * (/root/reference/dags/patient_claims_plus_postgres.py:55-56, 187-189);
    * on Spark that sink is `df.write.format("jdbc")`, which opens one
    * connection PER PARTITION and streams batched INSERTs — the
    * distributed analog of COPY (the reference funnels everything through
    * one driver-side connection; here each executor loads its own
    * partitions concurrently).
    *
    * Scale notes for a 100 TB pipeline: the write parallelism IS the
    * DataFrame's partition count — `coalesce` down if the target DB can't
    * take hundreds of concurrent loaders; `batchsize` (default 1000)
    * trades round-trips for target-side memory; `truncate=true` keeps the
    * target's DDL/indexes on overwrite instead of drop+recreate.
    * `overwrite` matches the reference's drop-and-reload
    * (patient_claims_plus_postgres.py:182-186). The zero-egress test env
    * has no Postgres; IngestSpec exercises this against embedded Derby —
    * same code path (JdbcRelationProvider), different dialect. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "overwrite",
                options: Map[String, String] = Map.empty): Unit =
    df.write.mode(mode).format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options)
      .save()

  /** COPY-grade bulk landing — the throughput twin of [[writeJdbc]] for
    * the reference's actual sink (Postgres `COPY FROM STDIN`,
    * patient_claims_plus_postgres.py:55-56). Spark's JDBC sink already
    * streams `addBatch`/`executeBatch` rounds; what separates it from
    * COPY is round-trip count and per-statement parse cost, so this
    * variant provisions the documented bulk path:
    *  - `batchsize` 10000 (vs the 1000 default) — 10x fewer executeBatch
    *    round-trips per partition;
    *  - for PostgreSQL URLs, `reWriteBatchedInserts=true` on the
    *    connection: the PG driver collapses each batch into multi-row
    *    `INSERT ... VALUES (...), (...)` statements — its documented
    *    near-COPY fast path (2-3x on top of plain batching; a literal
    *    CopyManager COPY is PG-API-specific and unreachable from the
    *    dialect-neutral DataSource, so multi-row rewrite is the
    *    COPY-grade option Spark can express);
    *  - `truncate=true` on overwrite keeps the target's DDL/indexes
    *    instead of drop+recreate (the reference's reload keeps its table).
    * Caller options win on conflict. IngestSpec measures rows/s vs the
    * default path against embedded Derby (where only the batch-size lever
    * applies — the PG rewrite needs the PG driver). */
  def writeJdbcBulk(df: DataFrame, url: String, table: String,
                    mode: String = "overwrite",
                    options: Map[String, String] = Map.empty): Unit = {
    val defaults = Map("batchsize" -> "10000") ++
      (if (mode == "overwrite") Map("truncate" -> "true") else Map.empty)
    writeJdbc(df, bulkJdbcUrl(url), table, mode, defaults ++ options)
  }

  /** [[writeJdbcBulk]]'s URL step, separated so the PG-specific rewrite is
    * testable without a Postgres server: appends
    * `reWriteBatchedInserts=true` to PostgreSQL URLs (respecting an
    * existing query string, never duplicating the flag), leaves every
    * other dialect's URL untouched. The duplicate guard reads the QUERY
    * STRING only — a database/host PATH that happens to contain the flag
    * text must not suppress the append (append-only + flag-exactly-once
    * + idempotence are property-tested over arbitrary URL shapes). */
  private[graft] def bulkJdbcUrl(url: String): String = {
    val qs = url.indexOf('?') match {
      case -1 => ""
      case i  => url.substring(i + 1)
    }
    if (url.startsWith("jdbc:postgresql:") &&
        !qs.contains("reWriteBatchedInserts"))
      url + (if (qs.isEmpty && !url.contains("?")) "?" else "&") +
        "reWriteBatchedInserts=true"
    else url
  }

  /** A10's read half: a JDBC table as a DataFrame. For a big table pass
    * `partitionColumn`/`lowerBound`/`upperBound`/`numPartitions` in
    * `options` so the scan issues one range query per partition instead
    * of a single-connection full read. */
  def readJdbc(spark: SparkSession, url: String, table: String,
               options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options)
      .load()

  /** A1: the HTTP archive fetch — the reference's first operator
    * (cms_inpatient_download_unzip.py:27-36: `requests.get` each archive
    * URL, write the bytes to the staging dir, error on a non-200). JDK
    * `HttpURLConnection` only (no new deps); the body streams straight
    * into a Hadoop-FS `create` in 64 KiB chunks, so a multi-GB archive
    * never materializes in memory — unlike the reference, which buffers
    * `response.content` whole before writing. A non-2xx status or a
    * truncated body (Content-Length known but not reached) fails loudly;
    * the A2 integrity check ([[assertNonEmptyPath]]) runs on the landed
    * file before returning, so a 200-with-empty-body never stages.
    *
    * Retry discipline is the caller's (A22): the fetch is idempotent —
    * it lands to `dest.tmp` and renames into place only after the
    * integrity check, so a redriven task never reads a half-written
    * archive. Returns bytes landed. IngestSpec exercises the full
    * fetch → unzip → typed-read chain against a loopback
    * `com.sun.net.httpserver.HttpServer` (zero egress). */
  def fetchHttp(spark: SparkSession, url: String, dest: String,
                connectTimeoutMs: Int = 30000,
                readTimeoutMs: Int = 300000): Long = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setInstanceFollowRedirects(true)
    val code = conn.getResponseCode
    require(code / 100 == 2,
      s"download failed: HTTP $code for $url (${conn.getResponseMessage})")
    val expected = conn.getContentLengthLong // -1 when chunked/unknown
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest + ".tmp")
    val in = conn.getInputStream
    val out = fs.create(tmp, true)
    val landed =
      try {
        val buf = new Array[Byte](64 * 1024)
        var total = 0L
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); total += n; n = in.read(buf) }
        total
      } finally { out.close(); in.close(); conn.disconnect() }
    require(expected < 0 || landed == expected,
      s"download truncated: got $landed of $expected bytes for $url")
    require(landed > 0, s"integrity check failed: $url returned 0 bytes")
    fs.delete(destPath, false)
    require(fs.rename(tmp, destPath), s"staging rename failed for $dest")
    assertNonEmptyPath(spark, dest)
    landed
  }

  /** A2/A4: download/extract integrity — fail if the path is missing or
    * holds zero bytes (the reference's post-download and post-unzip checks,
    * cms_inpatient_download_unzip.py:38-39, 54-56). */
  def assertNonEmptyPath(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"integrity check failed: $path does not exist")
    require(fs.getContentSummary(p).getLength > 0,
      s"integrity check failed: $path is empty (0 bytes)")
  }

  /** A3: distributed ZIP source. ZIP is not splittable, so parallelism is
    * one task per ARCHIVE (the CMS corpus ships as many small zips —
    * cms_inpatient_download_unzip.py:51-52 unzips one at a time on a
    * worker; here every archive decompresses concurrently). Each archive is
    * read whole via the binaryFile source (bounded by archive size, the
    * same memory contract the reference's extractall has), and every
    * non-directory entry's text becomes (archive, entry, line_no, line)
    * rows — line_no is 0-based within its entry, so header-skip downstream
    * is positional, never value-matching. */
  def readZippedLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (archive, bytes) =>
        val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
        Iterator.continually(zis.getNextEntry)
          .takeWhile(_ != null)
          .filterNot(_.isDirectory)
          .flatMap { entry =>
            // materialize this entry's lines BEFORE the next getNextEntry
            // advances the shared stream
            val text = new String(zis.readAllBytes(), StandardCharsets.UTF_8)
            text.linesIterator.zipWithIndex
              .map { case (l, i) => (archive, entry.getName, i.toLong, l) }
              .toList
          }.toList
      }
      .toDF("archive", "entry", "line_no", "line")
  }

  /** A3+A6: header CSVs inside many small zips -> one typed DataFrame.
    * Exactly the FIRST line of each entry is dropped as the header (a data
    * row that happens to equal the header string survives); remaining lines
    * are parsed with from_csv against the declared schema (empty field ->
    * NULL, matching COPY/readCsv semantics). Limitation: line-based split,
    * so quoted fields must not embed newlines — the CMS CSVs don't. */
  def readZippedCsv(spark: SparkSession, path: String,
                    schema: StructType): DataFrame =
    readZippedLines(spark, path)
      .filter(col("line_no") > 0 && length(trim(col("line"))) > 0)
      .select(from_csv(col("line"), schema, Map.empty[String, String]).as("r"))
      .select(col("r.*"))
}
