package graft.plans

import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ops.Snapshot

/** Delegating SQL parser (injected by [[graft.GraftExtensions]] via
  * `injectParser` — Delta's own recipe for exactly these verbs): the
  * lakehouse maintenance/DDL statements Spark's grammar doesn't speak
  * parse HERE into execution-time commands
  * ([[GraftMaintenanceCommands]]); every other statement — and every
  * other `ParserInterface` entry point — passes through to Spark's
  * parser verbatim.
  *
  *   OPTIMIZE name [ZORDER BY (a, b[, c]) | BY VALUE]
  *   VACUUM name [RETAIN n HOURS]
  *   DESCRIBE HISTORY name
  *   DESCRIBE DETAIL name
  *   RESTORE TABLE name TO VERSION AS OF v
  *   ALTER TABLE name ADD COLUMN c type
  *   ALTER TABLE name RENAME COLUMN a TO b
  *   ALTER TABLE name DROP COLUMN c
  *   ALTER TABLE name ADD CONSTRAINT cn CHECK (expr)
  *   ALTER TABLE name DROP CONSTRAINT cn
  *
  * Interception is NAME-GATED where Spark has its own meaning for the
  * shape: the `DESCRIBE` and `ALTER TABLE` forms only
  * intercept when `x` is a registered snapshot name in this session —
  * otherwise they delegate, so `DESCRIBE history` still describes a
  * real table named history and a catalog table's ALTER TABLE is
  * untouched. `OPTIMIZE` / `VACUUM` / `RESTORE TABLE … TO VERSION AS
  * OF` are not Spark grammar at all, so a syntactic match always
  * intercepts and an unregistered name fails at RUN time with the
  * engine's own message instead of a generic syntax error — so does a
  * `ZORDER BY` list of the wrong length: the columns pass through to
  * [[Snapshot.optimizeZorder]], whose layout owns the 2-or-3 rule and
  * refuses before any job runs. Matching is
  * whole-statement anchored regex over ONE normalized form (trailing
  * semicolon stripped), so no prefix of a longer legitimate statement
  * can be swallowed. */
final class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  private def registered(name: String): Boolean =
    Snapshot.resolveTableDir(session, name).isDefined

  override def parsePlan(sqlText: String): LogicalPlan = {
    val s = sqlText.trim.stripSuffix(";").trim
    val optimize = OptimizeRe.matcher(s)
    if (optimize.matches()) {
      val zcols = Option(optimize.group(2)).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      return GraftOptimizeCommand(optimize.group(1), zcols,
        byValue = optimize.group(3) != null)
    }
    val vacuum = VacuumRe.matcher(s)
    if (vacuum.matches()) {
      val retain = Option(vacuum.group(2)).map(_.toDouble)
      // DRY RUN = the report, not the reclaim (Delta's spelling): one
      // row per data dir with liveness/reclaimability, zero mutation
      return if (vacuum.group(3) != null)
        GraftVacuumReportCommand(vacuum.group(1), retain)
      else GraftVacuumCommand(vacuum.group(1), retain)
    }
    val restore = RestoreRe.matcher(s)
    if (restore.matches())
      return GraftRestoreCommand(restore.group(1), restore.group(2).toInt)
    val history = HistoryRe.matcher(s)
    if (history.matches() && registered(history.group(1)))
      return GraftDescribeHistoryCommand(history.group(1))
    val detail = DetailRe.matcher(s)
    if (detail.matches() && registered(detail.group(1)))
      return GraftDescribeDetailCommand(detail.group(1))
    val addCol = AddColumnRe.matcher(s)
    if (addCol.matches() && registered(addCol.group(1))) {
      val (colName, typeDdl) = parseAddColumnSpec(addCol.group(2))
      return GraftAddColumnCommand(addCol.group(1), colName, typeDdl)
    }
    val addCheck = AddConstraintRe.matcher(s)
    if (addCheck.matches() && registered(addCheck.group(1)))
      return GraftAddConstraintCommand(addCheck.group(1), addCheck.group(2),
        addCheck.group(3).trim)
    val dropCheck = DropConstraintRe.matcher(s)
    if (dropCheck.matches() && registered(dropCheck.group(1)))
      return GraftDropConstraintCommand(dropCheck.group(1),
        dropCheck.group(2))
    val renameCol = RenameColumnRe.matcher(s)
    if (renameCol.matches() && registered(renameCol.group(1)))
      return GraftRenameColumnCommand(renameCol.group(1),
        renameCol.group(2), renameCol.group(3))
    val dropCol = DropColumnRe.matcher(s)
    if (dropCol.matches() && registered(dropCol.group(1)))
      return GraftDropColumnCommand(dropCol.group(1), dropCol.group(2))
    delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

private[graft] object GraftSqlParser {
  // one- or two-part SQL identifier, the shapes registerSqlTable accepts
  private val Id = "[A-Za-z_][A-Za-z0-9_]*(?:\\.[A-Za-z_][A-Za-z0-9_]*)?"
  private val Flags = Pattern.CASE_INSENSITIVE | Pattern.DOTALL

  val OptimizeRe: Pattern = Pattern.compile(
    s"OPTIMIZE\\s+($Id)" +
      "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\)|\\s+(BY\\s+VALUE))?", Flags)
  val VacuumRe: Pattern = Pattern.compile(
    s"VACUUM\\s+($Id)(?:\\s+RETAIN\\s+(\\d+(?:\\.\\d+)?)\\s+HOURS?)?" +
      "(\\s+DRY\\s+RUN)?", Flags)
  val RestoreRe: Pattern = Pattern.compile(
    s"RESTORE\\s+TABLE\\s+($Id)\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)",
    Flags)
  val HistoryRe: Pattern = Pattern.compile(
    s"DESCRIBE\\s+HISTORY\\s+($Id)", Flags)
  val DetailRe: Pattern = Pattern.compile(
    s"DESCRIBE\\s+DETAIL\\s+($Id)", Flags)
  // the column spec captures GREEDILY to end-of-statement and is split
  // in [[parseAddColumnSpec]]: a lazy [^)]+? type group truncated
  // parenthesized DDL types — DECIMAL(10,2) parsed as 'DECIMAL(10,2'
  // and died with a confusing fromDDL error (round-14 ADVICE)
  val AddColumnRe: Pattern = Pattern.compile(
    s"ALTER\\s+TABLE\\s+($Id)\\s+ADD\\s+COLUMNS?\\s+(.+)", Flags)

  /** Split an ADD COLUMN(S) spec into (name, type DDL): strip ONE layer
    * of wrapping parens when balanced, refuse multi-column forms with a
    * clear message (a top-level comma — commas inside DECIMAL(10,2) or
    * STRUCT<a: INT, b: STRING> nest inside ()/<> and don't count). */
  def parseAddColumnSpec(spec0: String): (String, String) = {
    var spec = spec0.trim
    if (spec.startsWith("(")) {
      require(spec.endsWith(")"),
        s"unbalanced parentheses in ADD COLUMNS spec: $spec0")
      spec = spec.substring(1, spec.length - 1).trim
    }
    var depth = 0
    spec.foreach {
      case '(' | '<' => depth += 1
      case ')' | '>' =>
        depth -= 1
        // below zero = the stripped wrapper did not pair — e.g.
        // '(x INT), (y STRING)' strips to 'x INT), (y STRING', whose
        // top-level comma would otherwise hide at depth -1 and reach
        // fromDDL as garbage
        if (depth < 0) throw new IllegalArgumentException(
          "ALTER TABLE … ADD COLUMNS with multiple columns is not " +
            "supported — add one column per statement")
      case ',' if depth == 0 => throw new IllegalArgumentException(
        "ALTER TABLE … ADD COLUMNS with multiple columns is not " +
          "supported — add one column per statement")
      case _ =>
    }
    val m = Pattern.compile("([A-Za-z_][A-Za-z0-9_]*)\\s+(.+)",
      Pattern.DOTALL).matcher(spec)
    require(m.matches(), s"cannot parse ADD COLUMN spec: $spec0")
    (m.group(1), m.group(2).trim)
  }
  val AddConstraintRe: Pattern = Pattern.compile(
    s"ALTER\\s+TABLE\\s+($Id)\\s+ADD\\s+CONSTRAINT\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+CHECK\\s*\\((.*)\\)", Flags)
  val DropConstraintRe: Pattern = Pattern.compile(
    s"ALTER\\s+TABLE\\s+($Id)\\s+DROP\\s+CONSTRAINT\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)", Flags)
  val RenameColumnRe: Pattern = Pattern.compile(
    s"ALTER\\s+TABLE\\s+($Id)\\s+RENAME\\s+COLUMN\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+TO\\s+([A-Za-z_][A-Za-z0-9_]*)", Flags)
  val DropColumnRe: Pattern = Pattern.compile(
    s"ALTER\\s+TABLE\\s+($Id)\\s+DROP\\s+COLUMNS?\\s+" +
      "\\(?\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)?", Flags)
}
