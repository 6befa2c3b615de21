package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-layout operators for the two shuffle problems that dominate at
  * 100 TB: repeated joins on the same key (solved by bucketing) and skewed
  * join keys (solved by salting; AQE's skew-join handles the in-flight
  * case, salting handles the planned case).
  *
  * The reference stages everything as flat files and lets Postgres re-hash
  * per query (/root/reference/dags/patient_claims_plus_postgres.py:55-56,
  * 187-189); on Spark the staging step is where layout is decided, so these
  * belong to the ingest surface (SURVEY §2-A A5/A10).
  */
object Layout {

  /** Marker dropped into every location this module stages; the stale-
    * location cleanup below refuses to delete a directory that lacks it.
    * Underscore-prefixed, so Spark/Hadoop file listings treat it as hidden
    * and it never pollutes reads of the staged table. */
  private val StagedMarker = "_graft_staged"

  /** Managed-table overwrite staging has a cross-session gap: files from a
    * previous session outlive the in-memory catalog, and `saveAsTable`
    * then refuses with LOCATION_ALREADY_EXISTS even in overwrite mode
    * (the catalog doesn't know the table, so "overwrite" never engages).
    * Restaging IS the overwrite contract here, so drop the stale location
    * first when the catalog has no table for it — but ONLY a location this
    * module itself staged (it carries [[StagedMarker]]): a foreign
    * directory that happens to collide is left alone for `saveAsTable` to
    * refuse loudly, never silently destroyed.
    *
    * Supported sharing model: a warehouse dir belongs to ONE JVM at a time
    * (every main and test session here uses a session-unique temp
    * warehouse). Two live processes pointed at the SAME warehouse are
    * unsupported — the marker guard narrows but cannot close that
    * cross-process race (`synchronized` is per-JVM), same as any
    * filesystem-catalog engine without a lock service.
    *
    * RECOVERY (round 9 — the crash window is CLOSED): a pre-marker
    * sentinel `_graft_staging_<table>` is written NEXT TO the location
    * (not inside it — `saveAsTable` refuses a pre-existing dir) before
    * the write starts, and removed the instant the in-dir marker lands.
    * A crash anywhere between the two leaves pre-marker-without-catalog,
    * which this guard reads as a torn write and reclaims on the next
    * restage — no hand cleanup. A foreign directory that merely collides
    * carries NEITHER marker and is still left for `saveAsTable` to
    * refuse loudly, never silently destroyed. LayoutSpec replays all
    * three cases (stale complete staging, torn write, foreign dir). */
  private def tableLoc(s: org.apache.spark.sql.SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  private def preMarkPath(s: org.apache.spark.sql.SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      s"_graft_staging_${table.toLowerCase}")

  private def dropStaleLocation(df: DataFrame, table: String): Unit = {
    val s = df.sparkSession
    if (!s.catalog.tableExists(table)) {
      val p = tableLoc(s, table)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val ours = fs.exists(new org.apache.hadoop.fs.Path(p, StagedMarker)) ||
        fs.exists(preMarkPath(s, table))
      if (ours && fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Announce a staging write is about to start (see RECOVERY above). */
  private def preMark(df: DataFrame, table: String): Unit = {
    val s = df.sparkSession
    val fs = preMarkPath(s, table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(preMarkPath(s, table), true).close()
  }

  /** Stamp a just-staged table location as ours (see [[StagedMarker]]) and
    * retire the pre-marker — same warehouse-relative path convention
    * `dropStaleLocation` reads. */
  private def markStaged(df: DataFrame, table: String): Unit = {
    val s = df.sparkSession
    val loc = tableLoc(s, table)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(loc, StagedMarker), true).close()
    fs.delete(preMarkPath(s, table), false)
  }

  /** The marker discipline shared by every staging write. Ordering is
    * load-bearing: a location that SURVIVES `dropStaleLocation` is either
    * catalog-owned (a normal overwrite) or FOREIGN — and a foreign dir must
    * never receive the pre-marker, because an orphaned sentinel would brand
    * it a torn write and the NEXT restage would reclaim (destroy) it.
    * Likewise a write that fails without ever creating the location retires
    * its own sentinel: there is nothing torn to reclaim, and leaving the
    * sentinel would taint whatever collides with the name later. A write
    * that fails AFTER creating files keeps the sentinel — that is exactly
    * the torn write the recovery path exists for. */
  private def stagedWrite(df: DataFrame, table: String)(write: => Unit): Unit = {
    dropStaleLocation(df, table)
    val s = df.sparkSession
    val loc = tableLoc(s, table)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    val foreign = fs.exists(loc) && !s.catalog.tableExists(table)
    if (!foreign) preMark(df, table)
    try write
    catch {
      case e: Throwable =>
        if (!foreign && !fs.exists(loc))
          fs.delete(preMarkPath(s, table), false)
        throw e
    }
    markStaged(df, table)
  }

  /** Stage a plain (unbucketed, unpartitioned) parquet table — for
    * derived artifacts whose consumers don't key on any one column (e.g.
    * the SimHash signature index, read via a band explode+join). Same
    * staleness/marker discipline as the layout-bearing stagings. */
  def stageTable(df: DataFrame, table: String): Unit =
    stagedWrite(df, table) {
      df.write.mode("overwrite").format("parquet").saveAsTable(table)
    }

  /** Stage a session-lifetime warehouse table bucketed+sorted on its probe
    * key (the q120 serving index). Output that must outlive the session —
    * a stage handoff — goes through [[writeBucketed]] instead. */
  def stageBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    stagedWrite(df, table) {
      df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    }

  /** Write `df` bucketed+sorted on `key` into the directory `path`. Two
    * outputs written with the same bucket count and declared through
    * [[bucketedTable]] join with NO Exchange on either side (verified in
    * LayoutSpec against the executed plan) — at scale every later
    * join/aggregation on `key` becomes a per-bucket local merge instead of
    * a full shuffle. No pre-shuffle: each task writes one file per bucket
    * it holds. Overwrite mode, so a re-run replaces the directory, debris
    * included. Spark writes buckets only through a catalog table, so the
    * write goes through a transient external table that is dropped again
    * (dropping an external table leaves its files). */
  def writeBucketed(df: DataFrame, path: String, key: String,
                    buckets: Int): Unit = {
    val t = "graft_bucketed_write_" + path.replaceAll("[^A-Za-z0-9]", "_")
    try
      df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(t)
    finally df.sparkSession.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  /** Declare the files [[writeBucketed]] left at `path` as the external
    * table `name`, bucketed+sorted on `key`, and return it. The schema is
    * the caller's, so a reader in a fresh JVM needs only the files. Any
    * earlier declaration is dropped first, so the file listing is always
    * the current one. */
  def bucketedTable(spark: SparkSession, name: String, path: String,
                    schema: StructType, key: String,
                    buckets: Int): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(s"CREATE TABLE `$name` (${schema.toDDL}) USING parquet " +
      s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
      s"LOCATION '${path.replace("\\", "\\\\").replace("'", "\\'")}'")
    spark.table(name)
  }

  /** Stage a table hive-partitioned by DAY, derived from a date column in
    * the CMS `yyyyMMdd` convention (the reference keeps claim/discharge
    * dates as exactly this TEXT shape,
    * /root/reference/dags/patient_claims_plus_postgres.py:80-81). Any
    * subsequent equality/range predicate on `dt` becomes partition pruning:
    * the scan lists and reads ONLY the matching day directories
    * (`PartitionFilters` in the plan; observed via `numPartitions` in
    * LayoutSpec) — at 100 TB, the difference between reading one day and
    * reading three years. */
  def stagePartitioned(df: DataFrame, table: String, dateCol: String): Unit =
    stagePartitionedBy(
      df.withColumn("dt", date_format(col(dateCol), "yyyyMMdd")), table, "dt")

  /** Stage a table hive-partitioned by an existing column (e.g. IVF cell id
    * `cid` for the q67 serving layout): reads filtered on `partCol` prune
    * to the matching directories. */
  def stagePartitionedBy(df: DataFrame, table: String, partCol: String): Unit =
    stagedWrite(df, table) {
      df.write.mode("overwrite")
        .format("parquet")
        .partitionBy(partCol)
        .saveAsTable(table)
    }

  /** The parquet scans actually executed by `plan` (descending into the
    * adaptively re-planned tree when AQE wrapped it — including through
    * materialized `QueryStageExec` stages, whose wrapped plans are NOT in
    * `children` and so invisible to a plain `collect`) — LayoutSpec reads
    * their `PartitionFilters` metadata and post-execution `numPartitions`
    * metric to PROVE pruning rather than assert it in prose. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case p => p.children.flatMap(fileScans)
  }

  /** Deterministic salted equi-join for skewed keys. The left (large,
    * skewed) side gets a salt derived from a row-level column — never
    * rand(), so replays and retries stay deterministic — and the right
    * side is replicated `salt` ways, splitting each hot key's rows across
    * `salt` reducers. Result set is identical to `left.join(right, key)`
    * (pinned in LayoutSpec). */
  /** Small-file compaction — the OPTIMIZE step every long-lived table
    * needs: streaming sinks, per-partition CDC writes and over-wide
    * shuffles all shed files far below the parquet sweet spot, and at
    * 100 TB the resulting listing + footer + task-scheduling overhead
    * dominates scan cost long before I/O does. Rewrites a parquet
    * directory into ceil(bytes / targetBytes) files; with `sortCols` the
    * rewrite range-clusters rows so each output file covers a narrow key
    * range (min/max footer stats then let later scans skip whole row
    * groups — the poor man's Z-order for one clustering axis).
    *
    * Content-preserving by construction (a repartition + write of the
    * same rows; LayoutSpec pins file count AND value-set equality) and
    * idempotent. Scale note: the rewrite is one range shuffle of the
    * partition being compacted — compaction at 100 TB runs per partition
    * (per day/per cell), never over the whole table at once. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetBytes: Long, sortCols: Seq[String] = Nil): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    val out =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)
    // rewrite via a temp sibling then swap: compacting in place would
    // read and overwrite the same files in one job
    val tmp = new org.apache.hadoop.fs.Path(dir + "_compact_tmp")
    fs.delete(tmp, true)
    out.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"compaction swap failed for $dir")
    nFiles
  }

  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 leftSaltSource: String, salt: Int): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(xxhash64(col(leftSaltSource)), lit(salt)).cast(IntegerType))
    val r = right
      .withColumn("__salt", explode(expr(s"sequence(0, ${salt - 1})")))
      .withColumn("__salt", col("__salt").cast(IntegerType))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }
}
