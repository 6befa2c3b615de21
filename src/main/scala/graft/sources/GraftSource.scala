package graft.sources

import java.util.Locale

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.ops.Snapshot

/** The snapshot table exposed as a REGISTERED Spark data source:
  *
  *   spark.read.format("graft")
  *     .option("versionAsOf", 2)            // or timestampAsOf
  *     .load(dir)
  *   df.write.format("graft")
  *     .option("statsCol", "k")             // new tables declare clustering
  *     .mode("append").save(dir)            // a transactional commit
  *
  * — the `spark.read` front door a warehouse format owes its users
  * (Delta/Iceberg's posture; the reference has no notion of table
  * history at all — DROP+CTAS, patient_claims_plus_postgres.py:161-189).
  * Built on the STABLE source SPI (`RelationProvider` +
  * `PrunedFilteredScan`, the same contract Delta's own batch relation
  * rides): Catalyst hands the relation its required columns and
  * conjunctive filters, and the relation turns them into MANIFEST
  * arithmetic — per-file [min,max] stats on the clustering column,
  * [[Snapshot.optimizeStats]] sidecar stats on secondary columns, and
  * [[Snapshot.optimizeBloom]] sketches for point probes — so at 100 TB a
  * `WHERE key BETWEEN a AND b` opens the few files that can match, at
  * PLANNING time, from driver-side metadata alone. The surviving files
  * are then served as a plain parquet scan, so column pruning, parquet
  * row-group pushdown, and whole-stage codegen apply unchanged; Spark
  * re-evaluates every filter on top ([[BaseRelation.unhandledFilters]]
  * default), making the pruning a pure optimization that can never
  * change an answer.
  *
  * Options (case-insensitive): `versionAsOf` (explicit version),
  * `timestampAsOf` (epoch-ms digits or `yyyy-MM-dd HH:mm:ss[.f]`,
  * resolved via [[Snapshot.versionAtTimestamp]]'s monotone commit
  * clock); default = latest committed version.
  */
final class GraftSourceProvider extends RelationProvider
    with SchemaRelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def lowered(parameters: Map[String, String]): Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }

  private def dirOf(opts: Map[String, String]): String =
    opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graft source needs a table directory: .load(dir) / .save(dir)"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val opts = lowered(parameters)
    val dir = dirOf(opts)
    val spark = sqlContext.sparkSession
    require(!(opts.contains("versionasof") && opts.contains("timestampasof")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    // option("readChangeFeed", "true"): the change feed as a BATCH
    // read — Delta's spelling AND Delta's semantics: `startingVersion`
    // is INCLUSIVE (`startingVersion=2` feeds v2's own changes), and a
    // start bound is REQUIRED (Delta refuses a batch CDF read without
    // one — a silent default would make the first unbounded read a
    // table-scale initial load). NOTE this differs from the STREAMING
    // source ([[GraftCdfSource]]), whose `startingVersion` is an
    // OFFSET — "feed commits after this one" — because stream offsets
    // name what has already been consumed. Composes with version
    // options only through its own start/end pair, not time travel.
    if (opts.get("readchangefeed").exists(_.trim.toBoolean)) {
      require(!opts.contains("versionasof") &&
          !opts.contains("timestampasof"),
        "readChangeFeed takes startingVersion/endingVersion, " +
          "not versionAsOf/timestampAsOf")
      require(!(opts.contains("startingversion") &&
          opts.contains("startingtimestamp")) &&
          !(opts.contains("endingversion") &&
            opts.contains("endingtimestamp")),
        "startingVersion/startingTimestamp (and ending*) are " +
          "mutually exclusive spellings of the same bound")
      require(opts.contains("startingversion") ||
          opts.contains("startingtimestamp"),
        "readChangeFeed requires an explicit startingVersion or " +
          "startingTimestamp (use startingVersion=1 for the full " +
          "history including the initial load)")
      // ending timestamp resolves on the same monotone commit clock
      // as timestampAsOf: end = newest version at/before the instant
      val to = opts.get("endingversion").map(_.trim.toInt)
        .orElse(opts.get("endingtimestamp").map(ts =>
          Snapshot.versionAtTimestamp(spark, dir,
            GraftSourceProvider.epochMs(ts))))
        .getOrElse(Snapshot.currentVersion(spark, dir))
      // the INCLUSIVE user bound translates to the relation's internal
      // exclusive (from, to] by from = start − 1; startingTimestamp
      // feeds commits AT or AFTER the instant (Delta's contract), so
      // a commit landing exactly on it is included
      val from = opts.get("startingversion").map(_.trim.toInt - 1)
        .orElse(opts.get("startingtimestamp").map { ts =>
          val at = GraftSourceProvider.epochMs(ts)
          val v = Snapshot.versionAtTimestamp(spark, dir, at)
          if (v > 0 && Snapshot.manifest(spark, dir, v).ts == at) v - 1
          else v
        })
        .getOrElse(0)
      val keyCol = opts.get("keycol").getOrElse {
        val m = Snapshot.manifest(spark, dir,
          Snapshot.currentVersion(spark, dir))
        Snapshot.logicalName(m, m.statsCol)
      }
      return new GraftChangesRelation(sqlContext, dir, keyCol, from, to)
    }
    val version = opts.get("versionasof").map(_.trim.toInt)
      .orElse(opts.get("timestampasof").map(ts =>
        Snapshot.versionAtTimestamp(spark, dir, GraftSourceProvider.epochMs(ts))))
      .getOrElse(Snapshot.currentVersion(spark, dir))
    new GraftRelation(sqlContext, dir, version,
      sipDynamic = opts.get("sipdynamic").exists(_.trim.toBoolean))
  }

  /** The CATALOG front door ([[SchemaRelationProvider]]): a table
    * created with `CREATE TABLE t (cols) USING graft LOCATION '<dir>'
    * OPTIONS (statsCol '<col>')` resolves HERE with its declared
    * schema. A table dir with NO committed version yet is a legal,
    * readable EMPTY table ([[GraftEmptyRelation]] — the declared
    * schema serves the scan, the first `INSERT INTO` lands v1 through
    * the commit protocol with the declared clustering column), so the
    * SQL-only lifecycle `CREATE → INSERT → SELECT → time travel`
    * needs zero Scala calls. Once versions exist the manifest is the
    * source of truth and the ordinary snapshot relation serves —
    * evolved columns included, even when the catalog's bootstrap
    * schema has drifted behind ALTER-level verbs. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val opts = lowered(parameters)
    val dir = dirOf(opts)
    val spark = sqlContext.sparkSession
    val pinned =
      opts.contains("versionasof") || opts.contains("timestampasof")
    if (pinned) createRelation(sqlContext, parameters)
    else Snapshot.currentVersion(spark, dir) match {
      case 0 =>
        new GraftEmptyRelation(sqlContext, dir, schema,
          opts.get("statscol"),
          opts.get("nfiles").map(_.trim.toInt).getOrElse(8))
      case cur =>
        // follow the head: Spark caches catalog-resolved relations
        // across queries and commits — a pinned one would serve stale
        // rows after the table's next INSERT/DELETE
        new GraftRelation(sqlContext, dir, cur, None, followHead = true)
    }
  }

  /** The WRITE front door — `df.write.format("graft").mode(m).save(dir)`
    * lands through [[Snapshot.commit]]'s protocol, so every SaveMode is
    * a TRANSACTIONAL verb: Append commits a new version that CARRIES the
    * current file set by reference (cost ∝ the new data; Bloom/col-stats
    * sidecars ride along automatically), Overwrite commits the frame as
    * the new full state (prior versions stay time-travelable — the
    * anti-DROP+CTAS), ErrorIfExists/Ignore consult the committed version
    * the way they would a filesystem path. Concurrent writers lose with
    * a clean [[Snapshot.SnapshotConflict]], torn writes stay invisible
    * (data lands before the manifest publish), CHECK constraints and
    * declared schema evolution enforce on the fresh batch exactly as on
    * any other commit. `statsCol` names the clustering column for a NEW
    * table (an existing table's manifest already knows it); `nFiles`
    * sizes the range-partitioned layout (default 8). Z-ordered current
    * versions refuse blind writes (the layout note cannot honestly
    * describe unclustered additions — [[Snapshot.mergeCow]]'s guard):
    * re-OPTIMIZE after, or write pre-z. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val opts = lowered(parameters)
    val dir = dirOf(opts)
    val spark = sqlContext.sparkSession
    val cur = Snapshot.currentVersion(spark, dir)
    val prior = if (cur > 0) Some(Snapshot.manifest(spark, dir, cur)) else None
    prior.foreach(m => require(!Snapshot.isZOrdered(m),
      s"current version of $dir is z-ordered; blind writes would break " +
        "its layout contract — write pre-z or re-OPTIMIZE after"))
    val statsCol = opts.get("statscol").orElse(prior.map(_.statsCol))
      .getOrElse(throw new IllegalArgumentException(
        "a new graft table needs option statsCol (the clustering column)"))
    val nFiles = opts.get("nfiles").map(_.trim.toInt).getOrElse(8)
    // option("clusterByValue", "true"): land every distinct statsCol
    // value in its own file ([[Snapshot.commitByValue]] — the
    // partitionBy analog on the manifest; GROUP BY statsCol becomes
    // metadata-only from birth). maxValues bounds the layout's
    // cardinality (default 256).
    val byValue = opts.get("clusterbyvalue").exists(_.trim.toBoolean)
    val maxValues = opts.get("maxvalues").map(_.trim.toInt).getOrElse(256)
    def land(carried: Seq[Snapshot.FileEntry]): Unit = {
      if (byValue)
        Snapshot.commitByValue(data, dir, cur, statsCol, carried, maxValues)
      else
        Snapshot.commit(data, dir, cur, statsCol, carried, nFiles)
      ()
    }
    // option("rebase", "true"): append with COMMIT-RETRY instead of the
    // CAS loser aborting — files stage once, the publish rebases over
    // interleaved commits ([[Snapshot.appendWithRetry]]'s contract).
    // Only meaningful on an existing table; a first write has no race
    // to lose and takes the ordinary create path.
    val rebase = opts.get("rebase").exists(_.trim.toBoolean)
    mode match {
      case SaveMode.Append if rebase && cur > 0 =>
        Snapshot.appendWithRetry(data, dir, nFiles)
        ()
      case SaveMode.Append        => land(prior.map(_.files).getOrElse(Nil))
      case SaveMode.Overwrite     => land(Nil)
      case SaveMode.Ignore        => if (cur == 0) land(Nil)
      case SaveMode.ErrorIfExists =>
        if (cur > 0) throw new IllegalStateException(
          s"graft table already exists at $dir (v$cur); " +
            "use mode append/overwrite")
        land(Nil)
    }
    createRelation(sqlContext, parameters)
  }

  /** The STREAMING write front door —
    * `df.writeStream.format("graft").start(dir)` commits one snapshot
    * version per micro-batch, exactly-once by txn tokens ([[GraftSink]]).
    * Partitioning a streamed graft table is the clustering column's job
    * (`statsCol` + OPTIMIZE), not directory partitioning. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft sink does not take partitionBy — clustering is the " +
        "manifest's statsCol (+ OPTIMIZE zorder), not directories")
    val opts = lowered(parameters)
    // default nFiles = 1, NOT the batch-write 8: a micro-batch commit is
    // small by contract, and the single-file branch of writeDataFiles
    // folds stats into the write via Observation and needs no range
    // sampling — at 8 every trigger paid the sampling pass (the batch
    // pipeline EXECUTES TWICE), 8 write tasks, and a separate read-back
    // stats job for files that OPTIMIZE would immediately recompact
    // (the q126 foreachBatch sink has pinned nFiles=1 for the same
    // reason since round 15; measured on q147's drain: ~0.17 s/batch).
    // Large per-trigger volumes opt back in with .option("nfiles", n).
    new GraftSink(sqlContext.sparkSession, dirOf(opts),
      opts.get("statscol"), opts.get("nfiles").map(_.trim.toInt).getOrElse(1),
      outputMode)
  }
}

object GraftSourceProvider {
  /** `timestampAsOf` operand → epoch-ms: bare digits pass through as
    * epoch-ms; anything else must parse as a JDBC timestamp in the JVM
    * zone (the same wall clock [[Snapshot.commit]] stamped with). */
  private[sources] def epochMs(ts: String): Long = {
    val t = ts.trim
    if (t.matches("-?\\d+")) t.toLong
    else java.sql.Timestamp.valueOf(t).getTime
  }
}

object GraftRelation {
  /** The transactional landing shared by SQL INSERT and the writer's
    * append/overwrite onto an EXISTING table: re-resolve the current
    * version at EXECUTION time (an analysis-time relation may be
    * stale), refuse z-ordered layouts (blind writes cannot honor the
    * layout note — [[Snapshot.mergeCow]]'s guard), and commit with the
    * table's own clustering column — append carries the current file
    * set by reference, overwrite publishes the frame as the new full
    * state with history intact. */
  private[graft] def landInsert(spark: SparkSession, dir: String,
                                data: DataFrame,
                                overwrite: Boolean): Unit = {
    val cur = Snapshot.currentVersion(spark, dir)
    require(cur > 0,
      s"cannot INSERT into a snapshot table with no committed version: $dir")
    val m = Snapshot.manifest(spark, dir, cur)
    require(!Snapshot.isZOrdered(m),
      s"current version of $dir is z-ordered; blind writes would break " +
        "its layout contract — write pre-z or re-OPTIMIZE after")
    if (overwrite) Snapshot.commit(data, dir, cur, m.statsCol, Nil)
    else
      // INSERT INTO is an append: stage once, rebase the publish over
      // interleaved commits (multi-writer safe — Delta's retrying
      // transaction), and ride the O(batch) explicit-delta metadata
      // path instead of a carried full-manifest diff
      Snapshot.appendWithRetry(data, dir)
    ()
  }
}

/** A snapshot table dir with NO committed version yet, seen through
  * its catalog-declared schema: scans are empty (a zero-version table
  * holds nothing — the manifest-less twin of the round-15 zero-FILE
  * version), and the first `INSERT INTO` lands v1 through the commit
  * protocol using the declared clustering column (`OPTIONS (statsCol
  * '<col>')` on the CREATE). If another writer lands v1 between
  * resolution and the insert's execution, the insert composes as an
  * ordinary append/overwrite against the now-existing table. */
final class GraftEmptyRelation(override val sqlContext: SQLContext,
                               dir: String, declared: StructType,
                               statsColOpt: Option[String], nFiles: Int)
    extends BaseRelation with TableScan with InsertableRelation {

  override val schema: StructType = declared
  override def sizeInBytes: Long = 0L
  override def toString: String = s"GraftEmptyRelation($dir)"

  override def buildScan(): RDD[Row] = {
    // the cached catalog relation outlives the first INSERT — follow
    // the head so a table born empty starts serving rows the moment
    // versions exist (declared column order; names match because the
    // first insert conformed to this schema)
    val spark = sqlContext.sparkSession
    if (Snapshot.currentVersion(spark, dir) == 0)
      spark.sparkContext.emptyRDD[Row]
    else Snapshot.read(spark, dir)
      .select(declared.fieldNames.map(col).toIndexedSeq: _*).rdd
  }

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(data.schema.length == declared.length,
      s"INSERT arity ${data.schema.length} does not match table " +
        s"schema arity ${declared.length} of $dir")
    val conformed = data.toDF(declared.fieldNames.toIndexedSeq: _*)
      .select(declared.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val spark = sqlContext.sparkSession
    if (Snapshot.currentVersion(spark, dir) > 0)
      GraftRelation.landInsert(spark, dir, conformed, overwrite)
    else {
      val statsCol = statsColOpt.getOrElse(
        throw new IllegalArgumentException(
          s"first INSERT into the empty graft table at $dir needs the " +
            "clustering column — CREATE TABLE ... USING graft " +
            "OPTIONS (statsCol '<col>')"))
      Snapshot.commit(conformed, dir, 0, statsCol, Nil, nFiles)
      ()
    }
  }
}

/** One resolved (table dir, version) pair. Manifest and schema are
  * fixed at construction — a relation is a snapshot READ, immutable by
  * the same manifest that makes time travel sound. [[InsertableRelation]]
  * makes the same relation the target of SQL `INSERT INTO` /
  * `INSERT OVERWRITE` (wired by
  * [[graft.plans.SnapshotTimeTravelRule]] for registered names): the
  * engine hands `insert` the query's rows POSITIONALLY, so they are
  * renamed and cast to the table schema before landing through the
  * commit protocol. */
final class GraftRelation(override val sqlContext: SQLContext,
                          val dir: String, version: Int,
                          restrictedPaths: Option[Set[String]] = None,
                          followHead: Boolean = false,
                          sipDynamic: Boolean = false)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** Did this read opt into DYNAMIC sideways information passing
    * (`option("sipDynamic", "true")`)? A PLAN-SCOPED gate: only joins
    * whose fact side reads through this relation may pay the
    * planning-time dim job ([[graft.plans.SipJoinRule]]) — unlike the
    * session conf, a concurrent query optimizing in the same session
    * never sees the flag (round 19 — the r18 verdict's #2). */
  private[graft] def sipDynamicOptIn: Boolean = sipDynamic

  private def spark: SparkSession = sqlContext.sparkSession
  private val m = Snapshot.manifest(spark, dir, version)

  /** The manifest a SCAN must serve. A pinned relation (the default —
    * `load(dir)` reads the snapshot that existed at load; time travel
    * pins explicitly) always serves its construction-time manifest. A
    * CATALOG-resolved relation (`FROM name` on a `USING graft` table)
    * sets `followHead`: Spark caches the resolved relation in its
    * table-relation cache across queries AND across this table's own
    * commits, so the relation must re-resolve the head per scan or a
    * cached entry would serve stale rows forever. Schema stays the
    * construction-time one (standard `REFRESH TABLE` semantics, same
    * as parquet tables after files change shape). */
  private def mNow: Snapshot.Manifest =
    if (!followHead) m
    else {
      val cur = Snapshot.currentVersion(spark, dir)
      if (cur == m.version) m else Snapshot.manifest(spark, dir, cur)
    }

  /** The manifest every metadata-only rewrite must compute from: the
    * pinned state (a time traveler answers for its own snapshot), or
    * the head at PLANNING time for a catalog relation — either way
    * one consistent committed version. */
  private[graft] def pinnedManifest: Snapshot.Manifest = mNow

  /** Restricted to an explicit file subset? (A boundary-scan relation
    * built by [[graft.plans.MetadataOnlyCountRule]] — metadata
    * aggregates must never re-fire on one.) */
  private[graft] def isRestricted: Boolean = restrictedPaths.isDefined

  /** The explicit file subset (spec observable — pins the planned
    * boundary set of a metadata range count). */
  private[graft] def restrictedSet: Option[Set[String]] = restrictedPaths

  /** This snapshot narrowed to an explicit file subset — the
    * boundary-only scan of a metadata range count. Candidacy pruning
    * still applies on top (intersection can only shrink). PINNED at
    * the version the split was computed from, so the interior sum and
    * the boundary scan always describe ONE committed state even when
    * this relation follows the head. */
  private[graft] def restrictedTo(paths: Set[String]): GraftRelation =
    new GraftRelation(sqlContext, dir, mNow.version, Some(paths))
  // Plan-time schema of the version's file set + declared evolution —
  // one parquet-footer planning pass at relation construction, no scan.
  override val schema: StructType =
    Snapshot.readEntries(spark, dir, m, m.files).schema

  /** Honest size from the manifest's own files (one driver-side stat per
    * file, computed once per relation): without this a BaseRelation
    * reports `spark.sql.defaultSizeInBytes` (effectively infinite), so a
    * SMALL snapshot dimension read through the source would never
    * auto-broadcast in a join — at 100 TB exactly the tables you want
    * broadcast are the ones read this way. */
  override lazy val sizeInBytes: Long = {
    val served = restrictedPaths
      .map(rp => m.files.filter(f => rp.contains(f.path)))
      .getOrElse(m.files)
    served.map(f => Snapshot.entryLen(spark, dir, f.path)).sum
  }

  override def toString: String =
    s"GraftRelation($dir, v$version" +
      restrictedPaths.map(rp => s", ${rp.size} boundary files")
        .getOrElse("") + ")"

  /** Exact metadata row count of THIS snapshot (Σ per-file `rows`
    * stamps − Σ deletion-vector positions; the relation's pinned
    * manifest, so time-traveled relations count their own version),
    * None when any entry's count is unknown — powers the front-door
    * `count(*)` metadata rewrite
    * ([[graft.plans.MetadataOnlyCountRule]]). */
  private[graft] def metaRowCount: Option[Long] =
    if (isRestricted) None else Snapshot.metaCount(mNow)

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val mScan = mNow
    val hit0 = SourcePruning.candidates(mScan, filters)
    val hit = restrictedPaths
      .map(rp => hit0.filter(f => rp.contains(f.path))).getOrElse(hit0)
    val base =
      if (hit.isEmpty)
        Snapshot.readEntries(spark, dir, mScan, mScan.files).limit(0)
      else Snapshot.readEntries(spark, dir, mScan, hit)
    // Filters Spark handed down that translate whole become part of the
    // inner parquet scan too (row-group pushdown inside the surviving
    // files); Spark re-applies all of them above regardless.
    val filtered = filters.flatMap(SourcePruning.toColumn)
      .reduceOption(_ && _).map(base.filter).getOrElse(base)
    // Contract: rows carry exactly requiredColumns, in order. An empty
    // projection (count(*)) still needs the row CARDINALITY.
    filtered.select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(data.schema.length == schema.length,
      s"INSERT arity ${data.schema.length} does not match table " +
        s"schema arity ${schema.length} of $dir")
    // positional contract: rename to the table's names, cast to its types
    val conformed = data.toDF(schema.fieldNames.toIndexedSeq: _*)
      .select(schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    GraftRelation.landInsert(sqlContext.sparkSession, dir, conformed,
      overwrite)
  }
}

/** Driver-side translation of Catalyst's pushed-down [[Filter]]s into
  * the manifest's pruning vocabulary. Both translations are
  * conservative: a shape they don't recognize simply prunes nothing /
  * stays un-pushed, and Spark's re-evaluation keeps the answer exact
  * either way. */
private[graft] object SourcePruning {

  /** Flatten the implicitly-ANDed filter array into bare conjuncts. */
  private def conjuncts(fs: Seq[Filter]): Seq[Filter] = fs.flatMap {
    case And(l, r) => conjuncts(Seq(l, r))
    case f         => Seq(f)
  }

  private def asLong(v: Any): Option[Long] = v match {
    case b: Byte  => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int   => Some(i.toLong)
    case l: Long  => Some(l)
    // DATE bounds translate to epoch-days — the unit optimizeStats
    // stamps DateType sidecars in, so `WHERE o_date BETWEEN …` prunes
    // from the same long candidacy arithmetic as any integral range
    // (both Date spellings: java8API off/on)
    case d: java.sql.Date       => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _        => None
  }

  /** TIMESTAMP bounds → epoch-seconds, FLOORED — the truncated unit the
    * stamps use. Truncation makes these bounds INEXACT: the caller must
    * treat them inclusively (a strict `ts > X.5` widens to `>= floor(X)`
    * — a file whose last row lives in X's second must stay a candidate)
    * and must NOT feed them to point candidacy. All four timestamp
    * spellings: TIMESTAMP/NTZ × java8API off/on. */
  private def asTsSeconds(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(Math.floorDiv(t.getTime, 1000L))
    case t: java.time.Instant  => Some(t.getEpochSecond)
    case t: java.time.LocalDateTime =>
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC))
    case _ => None
  }

  /** DECIMAL/DOUBLE/FLOAT bounds → the kind-5 micro-unit
    * ([[Snapshot.microsOf]]): floored for LOWER bounds (`up = false`),
    * ceiled for UPPER (`up = true`) — the directions that can only
    * WIDEN candidacy. INEXACT whenever the bound is finer than 1e-6 or
    * saturates, so the caller treats these inclusively (strict bounds
    * widen, like timestamps) and never feeds them to point candidacy.
    * The value classes cover both BigDecimal spellings a pushed
    * DecimalType literal may arrive as. */
  private def asMicros(v: Any, up: Boolean): Option[Long] = v match {
    case _: java.math.BigDecimal | _: scala.math.BigDecimal |
        _: java.lang.Double | _: java.lang.Float =>
      Some(Snapshot.microsOf(v, up))
    case _ => None
  }

  /** Per-conjunct constraints: integral ranges and string ranges feed
    * [[Snapshot.candidateFilesCols]] (primary + sidecar stats — string
    * bounds serve from the base64 `strStats` sidecars under UTF-8 byte
    * order), point sets additionally consult Bloom sidecars via
    * [[Snapshot.mayContain]]. Each constraint prunes independently —
    * duplicates on one column just intersect, which is what AND means.
    * Exclusive bounds saturate rather than wrap (a `> Long.MaxValue`
    * conjunct becomes the impossible range and planning serves zero
    * files — the correct answer, cheaply); exclusive STRING bounds
    * keep the inclusive stamp bound (conservative: a file whose max
    * equals the excluded value stays a candidate — Spark re-filters). */
  private def constraints(fs: Seq[Filter])
      : (Seq[(String, Long, Long)], Seq[(String, Seq[Long])],
         Seq[(String, Option[String], Option[String])]) = {
    val ranges = Seq.newBuilder[(String, Long, Long)]
    val points = Seq.newBuilder[(String, Seq[Long])]
    val strs = Seq.newBuilder[(String, Option[String], Option[String])]
    conjuncts(fs).foreach {
      case EqualTo(c, v) => asLong(v) match {
        case Some(x) => ranges += ((c, x, x)); points += ((c, Seq(x)))
        case None => v match {
          case s: String =>
            strs += ((c, Some(s), Some(s)))
            // string Bloom sidecars sketch xxhash64(value): probe with
            // the same hash ([[Snapshot.strHash64]]); files with no
            // sketch stay candidates (mayContain's forall)
            points += ((c, Seq(Snapshot.strHash64(s))))
          case _ =>
            // truncated timestamp/micro bound: flooring (resp. the
            // floor/ceil pair) makes it a RANGE over the value's
            // truncation cell, never a point
            asTsSeconds(v).map(t => (t, t))
              .orElse(asMicros(v, up = false).map(lo =>
                (lo, Snapshot.microsOf(v, up = true))))
              .foreach { case (lo, hi) => ranges += ((c, lo, hi)) }
        }
      }
      case In(c, vs) =>
        val ks = vs.toSeq.flatMap(asLong)
        if (ks.nonEmpty && ks.length == vs.length) {
          ranges += ((c, ks.min, ks.max)); points += ((c, ks))
        } else {
          val ss = vs.toSeq.collect { case s: String => s }
          val ts = vs.toSeq.flatMap(asTsSeconds)
          val ms = vs.toSeq.flatMap(asMicros(_, up = false))
          if (ss.nonEmpty && ss.length == vs.length) {
            strs += ((c, Some(ss.min(Snapshot.Utf8Order)),
              Some(ss.max(Snapshot.Utf8Order))))
            points += ((c, ss.map(Snapshot.strHash64)))
          } else if (ts.nonEmpty && ts.length == vs.length)
            ranges += ((c, ts.min, ts.max))
          else if (ms.nonEmpty && ms.length == vs.length)
            ranges += ((c, ms.min,
              vs.toSeq.map(Snapshot.microsOf(_, up = true)).max))
        }
      case GreaterThan(c, v) => asLong(v) match {
        case Some(x) =>
          ranges += ((c, if (x == Long.MaxValue) x else x + 1, Long.MaxValue))
        case None => v match {
          case s: String => strs += ((c, Some(s), None))
          // truncated: strict widens to inclusive — a file ending inside
          // the bound's second (or micro cell) must stay a candidate
          case _ => asTsSeconds(v).orElse(asMicros(v, up = false))
            .foreach(t => ranges += ((c, t, Long.MaxValue)))
        }
      }
      case GreaterThanOrEqual(c, v) => asLong(v) match {
        case Some(x) => ranges += ((c, x, Long.MaxValue))
        case None => v match {
          case s: String => strs += ((c, Some(s), None))
          case _ => asTsSeconds(v).orElse(asMicros(v, up = false))
            .foreach(t => ranges += ((c, t, Long.MaxValue)))
        }
      }
      case LessThan(c, v) => asLong(v) match {
        case Some(x) =>
          ranges += ((c, Long.MinValue, if (x == Long.MinValue) x else x - 1))
        case None => v match {
          case s: String => strs += ((c, None, Some(s)))
          case _ => asTsSeconds(v).orElse(asMicros(v, up = true))
            .foreach(t => ranges += ((c, Long.MinValue, t)))
        }
      }
      case LessThanOrEqual(c, v) => asLong(v) match {
        case Some(x) => ranges += ((c, Long.MinValue, x))
        case None => v match {
          case s: String => strs += ((c, None, Some(s)))
          case _ => asTsSeconds(v).orElse(asMicros(v, up = true))
            .foreach(t => ranges += ((c, Long.MinValue, t)))
        }
      }
      case _ => ()
    }
    (ranges.result(), points.result(), strs.result())
  }

  /** The file set a filtered scan must open — range candidacy per
    * [[Snapshot.candidateFilesCols]] intersected with per-constraint
    * point candidacy (any key of the constraint may be present). Split
    * out pure so SourceSpec pins planned file sets without scanning. */
  def candidates(m: Snapshot.Manifest,
                 filters: Seq[Filter]): Seq[Snapshot.FileEntry] = {
    val (ranges, points, strs) = constraints(filters)
    Snapshot.candidateFilesCols(m, ranges, strs).filter(f =>
      points.forall { case (c, ks) =>
        ks.exists(k => Snapshot.mayContain(m, f, c, k))
      })
  }

  /** Whole-subtree [[Filter]] → [[Column]]; None when any leaf is a
    * shape we don't translate (the filter then applies only in Spark's
    * own re-evaluation above the scan). */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) =>
      for (x <- toColumn(l); y <- toColumn(r)) yield x && y
    case Or(l, r) =>
      for (x <- toColumn(l); y <- toColumn(r)) yield x || y
    case Not(c) => toColumn(c).map(!_)
    case _      => None
  }
}
