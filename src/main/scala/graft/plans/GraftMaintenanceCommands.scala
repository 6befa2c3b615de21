package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}

import graft.ops.Snapshot

/** SQL maintenance/DDL verbs on registered snapshot tables, parsed by
  * [[GraftSqlParser]] into these execution-time commands — the
  * lakehouse lifecycle a SQL-only user drives (Delta ships the same
  * verbs through the same delegating-parser recipe):
  *
  *   OPTIMIZE name [ZORDER BY (a, b[, c])]
  *   VACUUM name [RETAIN n HOURS]
  *   DESCRIBE HISTORY name
  *   RESTORE TABLE name TO VERSION AS OF v
  *   ALTER TABLE name ADD COLUMN c type
  *   ALTER TABLE name ADD CONSTRAINT cn CHECK (expr)
  *   ALTER TABLE name DROP CONSTRAINT cn
  *
  * The statement holds the registered NAME; the name resolves to its
  * directory (and the table to its current version) when the command
  * RUNS, so EXPLAIN is side-effect free and a statement prepared before
  * a re-registration still lands on the session's current binding —
  * the DML commands' discipline ([[GraftDmlCommands]]). Each mutating
  * verb returns the committed version; DESCRIBE HISTORY returns
  * [[Snapshot.history]]'s relation; VACUUM returns the reclaimed-dir
  * count (0 under the default grace age is the EXPECTED answer on a
  * live table — young debris is indistinguishable from an in-flight
  * commit). */
private[graft] object GraftMaintenance {
  def dirFor(session: SparkSession, name: String): String =
    Snapshot.resolveTableDir(session, name).getOrElse(
      throw new IllegalArgumentException(
        s"'$name' is neither a registered snapshot table in this " +
          "session nor a catalog table created USING graft — " +
          "CREATE TABLE name (...) USING graft LOCATION '<dir>' " +
          "or Snapshot.registerSqlTable(spark, name, dir) first"))

  def versionOutput: Seq[Attribute] = attrs(
    StructType(Seq(StructField("version", LongType, nullable = false))))

  def attrs(s: StructType): Seq[Attribute] = {
    import GraftDml.StructOps
    s.toAttributes_
  }

  /** OPTIMIZE's file-count target: the same ~128 MiB-per-file
    * arithmetic [[Snapshot.compactVersion]] uses, shared by the ZORDER
    * rewrites so a SQL OPTIMIZE always lands a bounded layout. */
  val TargetFileBytes: Long = 128L << 20
}

final case class GraftOptimizeCommand(name: String, zorderBy: Seq[String],
                                      byValue: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.versionOutput
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    val v = zorderBy match {
      case Seq() if byValue => Snapshot.optimizeByValue(session, dir)
      case Seq() =>
        Snapshot.compactVersion(session, dir, GraftMaintenance.TargetFileBytes)
      case cols =>
        val cur = Snapshot.currentVersion(session, dir)
        val m = Snapshot.manifest(session, dir, cur)
        val bytes = m.files.map(f => Snapshot.entryLen(session, dir, f.path)).sum
        val nFiles = math.max(1,
          math.ceil(bytes.toDouble / GraftMaintenance.TargetFileBytes).toInt)
        Snapshot.optimizeZorder(session, dir, cols, nFiles)
    }
    Seq(Row(v.toLong))
  }
}

final case class GraftVacuumCommand(name: String, retainHours: Option[Double])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.attrs(
    StructType(Seq(StructField("n_reclaimed", LongType, nullable = false))))
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    val graceMs = retainHours
      .map(h => (h * 3600 * 1000).toLong)
      .getOrElse(Snapshot.DefaultVacuumGraceMs)
    require(graceMs >= 0, s"RETAIN must be non-negative, got $retainHours")
    Seq(Row(Snapshot.vacuum(session, dir, graceMs).size.toLong))
  }
}

/** `VACUUM name [RETAIN n HOURS] DRY RUN` — [[Snapshot.vacuumReport]]
  * as a statement: what the real vacuum WOULD reclaim, one row per
  * data directory, nothing touched. The reclaim verb an operator on a
  * 100 TB table never runs blind. */
final case class GraftVacuumReportCommand(name: String,
                                          retainHours: Option[Double])
    extends LeafRunnableCommand {
  // must mirror Snapshot.vacuumReport's toDF schema exactly
  override val output: Seq[Attribute] = GraftMaintenance.attrs(
    StructType(Seq(
      StructField("dir", StringType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("age_ms", LongType, nullable = false),
      StructField("live", BooleanType, nullable = false),
      StructField("reclaimable", BooleanType, nullable = false))))
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    val graceMs = retainHours
      .map(h => (h * 3600 * 1000).toLong)
      .getOrElse(Snapshot.DefaultVacuumGraceMs)
    require(graceMs >= 0, s"RETAIN must be non-negative, got $retainHours")
    Snapshot.vacuumReport(session, dir, graceMs).collect().toSeq
  }
}

final case class GraftDescribeHistoryCommand(name: String)
    extends LeafRunnableCommand {
  // must mirror Snapshot.history's toDF schema exactly (spec-pinned)
  override val output: Seq[Attribute] = GraftMaintenance.attrs(
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("commit_ms", LongType, nullable = false),
      StructField("note", StringType, nullable = true),
      StructField("n_files", IntegerType, nullable = false),
      StructField("bytes", LongType, nullable = false))))
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    Snapshot.history(session, dir).collect().toSeq
  }
}

final case class GraftDescribeDetailCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.attrs(
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("stats_col", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("n_constraints", LongType, nullable = false),
      StructField("n_added_cols", LongType, nullable = false),
      StructField("note", StringType, nullable = true))))
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    val cur = Snapshot.currentVersion(session, dir)
    val m = Snapshot.manifest(session, dir, cur)
    val bytes = m.files.map(f => Snapshot.entryLen(session, dir, f.path)).sum
    // report the clustering column by its CURRENT logical name
    Seq(Row(cur.toLong, Snapshot.logicalName(m, m.statsCol),
      m.files.size.toLong, bytes,
      m.checks.size.toLong, m.addedCols.size.toLong, m.note))
  }
}

final case class GraftRestoreCommand(name: String, toVersion: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.versionOutput
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    Seq(Row(Snapshot.restore(session, dir, toVersion).toLong))
  }
}

final case class GraftAddColumnCommand(name: String, column: String,
                                       typeDdl: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.versionOutput
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    Seq(Row(Snapshot.addColumn(session, dir, column, typeDdl).toLong))
  }
}

final case class GraftRenameColumnCommand(name: String, from: String,
                                          to: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.versionOutput
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    Seq(Row(Snapshot.renameColumn(session, dir, from, to).toLong))
  }
}

final case class GraftDropColumnCommand(name: String, column: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.versionOutput
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    Seq(Row(Snapshot.dropColumn(session, dir, column).toLong))
  }
}

final case class GraftAddConstraintCommand(name: String, constraint: String,
                                           checkSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.versionOutput
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    Seq(Row(
      Snapshot.addConstraint(session, dir, constraint, checkSql).toLong))
  }
}

final case class GraftDropConstraintCommand(name: String, constraint: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMaintenance.versionOutput
  override def run(session: SparkSession): Seq[Row] = {
    val dir = GraftMaintenance.dirFor(session, name)
    Seq(Row(Snapshot.dropConstraint(session, dir, constraint).toLong))
  }
}
