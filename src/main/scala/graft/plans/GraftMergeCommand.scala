package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ExprColumn

import graft.ops.Snapshot

/** SQL `MERGE INTO` on a registered snapshot table — the verb that
  * subsumes the other three — rewritten by [[SnapshotTimeTravelRule]]
  * into this execution-time command (EXPLAIN-pure, like every DML
  * rewrite here). Semantics follow the standard (and Delta's) clause
  * model, first-match-wins per row class:
  *
  *   - MATCHED rows run the WHEN MATCHED actions in order (UPDATE SET /
  *     DELETE, each optionally conditioned); no clause claiming a row
  *     keeps it unchanged.
  *   - source-only rows run WHEN NOT MATCHED (INSERT, every target
  *     column assigned — a snapshot table doesn't default-fill); no
  *     clause → the row is ignored.
  *   - target-only rows run WHEN NOT MATCHED BY SOURCE (UPDATE/DELETE);
  *     no clause → kept unchanged, which is also the whole-class
  *     default when the list is empty.
  *
  * Execution is ONE plan: both sides' columns are renamed apart
  * (`_t_*` / `_s_*` — attribute identity decides which side a reference
  * belonged to, so same-named target/source columns stay unambiguous),
  * a single full-outer join on the rewritten merge condition classifies
  * every row, and per-column when-cascades materialize the clause
  * logic. The file selection matches [[Snapshot.mergeCow]]'s: when the
  * merge condition carries a `target.<statsCol> = <source expr>`
  * equi-conjunct, the source's key values select the stats-overlapping
  * files and ONLY those rewrite (everything else carries by reference
  * with its sidecars — at 100 TB the merge costs the touched files);
  * without such a conjunct every file rewrites, honestly. The touched
  * files always rewrite copy-on-write: WHEN NOT MATCHED BY SOURCE
  * clauses act on target rows no source key names, so the key-local
  * contract mergeCow's merge-on-read branch rests on does not hold. Like
  * mergeCow, the source must be key-unique on the join key — a source
  * row matching twice would double its target row (the CDC batch
  * contract; guard upstream).
  */
final case class GraftMergeCommand(dir: String,
                                   source: LogicalPlan,
                                   cond: Expression,
                                   matchedActions: Seq[MergeAction],
                                   notMatchedActions: Seq[MergeAction],
                                   notMatchedBySourceActions: Seq[MergeAction],
                                   targetAttrs: Seq[Attribute])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftDml.versionOutput

  private val tSet = AttributeSet(targetAttrs)

  private def rewrite(e: Expression): Column =
    ExprColumn.of(e.transform {
      case a: AttributeReference if tSet.contains(a) =>
        UnresolvedAttribute.quoted(s"_t_${a.name}")
      case a: AttributeReference =>
        UnresolvedAttribute.quoted(s"_s_${a.name}")
    })

  private def assignMap(as: Seq[Assignment]): Map[String, Column] =
    as.map { a =>
      val n = a.key match {
        case att: AttributeReference => att.name
        case u: UnresolvedAttribute  => u.nameParts.last
        case other => throw new IllegalArgumentException(
          s"MERGE assignment target must be a plain column, got $other")
      }
      n.toLowerCase(java.util.Locale.ROOT) -> rewrite(a.value)
    }.toMap

  override def run(session: SparkSession): Seq[Row] = {
    val cur = Snapshot.currentVersion(session, dir)
    require(cur > 0, s"cannot MERGE into an uncommitted table: $dir")
    val m = Snapshot.manifest(session, dir, cur)
    require(!Snapshot.isZOrdered(m),
      s"MERGE into a z-ordered snapshot (note='${m.note}'): merge on a " +
        "key-clustered version and re-optimize")
    val fields = Snapshot.read(session, dir, cur).schema.fields.toSeq

    val srcDF = ExprColumn.frameOf(session, source)
    val srcR = srcDF.select(srcDF.columns.map(c =>
      col(s"`$c`").as(s"_s_$c")).toIndexedSeq :+ lit(true).as("_s_present"): _*)

    // file pruning: a target.statsCol equi-conjunct keys the COW
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    def isStatsAttr(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        tSet.contains(a) &&
          a.name.equalsIgnoreCase(Snapshot.logicalName(m, m.statsCol))
      case _ => false
    }
    def sourceOnly(e: Expression): Boolean =
      e.references.forall(a => !tSet.contains(a))
    // pruning by source keys is only sound when target-only rows are
    // untouchable: a NOT MATCHED BY SOURCE clause can claim rows in
    // files no source key overlaps, so its presence forces the full
    // rewrite (Delta draws the same line)
    val keyExpr =
      if (notMatchedBySourceActions.nonEmpty) None
      else conjuncts(cond).collectFirst {
        case EqualTo(a, b) if isStatsAttr(a) && sourceOnly(b) => b
        case EqualTo(a, b) if isStatsAttr(b) && sourceOnly(a) => a
        // non-integral source side (analysis normally casts both sides
        // long when the target key is long, so this is belt-and-braces):
        // a NULL/truncating cast below would select NO files and commit
        // duplicates — fall back to the always-correct full rewrite
      }.filter(k => Snapshot.statKindOf(k.dataType).contains(0))
    val touched: Set[String] = keyExpr match {
      case Some(k) =>
        import session.implicits._
        val ranges = m.files.map(f => (f.path, f.min, f.max))
          .toDF("path", "mn", "mx")
        srcR.select(rewrite(k).cast("long").as("k")).distinct()
          .join(broadcast(ranges), col("k").between(col("mn"), col("mx")))
          .select(col("path")).distinct().collect().map(_.getString(0)).toSet
      case None => m.files.map(_.path).toSet
    }
    val (rewriteFiles, carry) = m.files.partition(f => touched.contains(f.path))
    val base =
      if (rewriteFiles.isEmpty) Snapshot.read(session, dir, cur).limit(0)
      else Snapshot.readEntries(session, dir, m, rewriteFiles)
    val baseR = base.select(fields.map(f =>
      col(s"`${f.name}`").as(s"_t_${f.name}")) :+
      lit(true).as("_t_present"): _*)

    val joined = baseR.join(srcR, rewrite(cond), "full_outer")
    val isMatched = col("_t_present").isNotNull && col("_s_present").isNotNull
    val srcOnly = col("_t_present").isNull
    // target-only is the residue of the other two classes

    // per-action (condition, keep?, per-column values)
    final case class Act(cond: Column, keep: Boolean,
                         values: Map[String, Column])
    val starValues: Map[String, Column] = fields.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) ->
        col(s"`_s_${f.name}`")).toMap
    def acts(raw: Seq[MergeAction], phase: String): Seq[Act] = raw.map {
      case UpdateAction(c, as, _) =>
        Act(c.map(rewrite).getOrElse(lit(true)), keep = true, assignMap(as))
      case UpdateStarAction(c) =>
        Act(c.map(rewrite).getOrElse(lit(true)), keep = true, starValues)
      case DeleteAction(c) =>
        Act(c.map(rewrite).getOrElse(lit(true)), keep = false, Map.empty)
      case InsertAction(c, as) =>
        val vs = assignMap(as)
        val missing = fields.map(_.name.toLowerCase(java.util.Locale.ROOT))
          .filterNot(vs.contains)
        require(missing.isEmpty,
          s"MERGE INSERT must assign every target column; missing: " +
            missing.mkString(", "))
        Act(c.map(rewrite).getOrElse(lit(true)), keep = true, vs)
      case InsertStarAction(c) =>
        Act(c.map(rewrite).getOrElse(lit(true)), keep = true, starValues)
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE action in $phase: $other")
    }
    val mActs = acts(matchedActions, "WHEN MATCHED")
    val iActs = acts(notMatchedActions, "WHEN NOT MATCHED")
    val tActs = acts(notMatchedBySourceActions, "WHEN NOT MATCHED BY SOURCE")

    def cascade(as: Seq[Act], pick: Act => Column,
                default: Column): Column =
      as.foldRight(default)((a, acc) => when(a.cond, pick(a)).otherwise(acc))

    val keep =
      when(isMatched, cascade(mActs, a => lit(a.keep), lit(true)))
        .when(srcOnly, cascade(iActs, a => lit(a.keep), lit(false)))
        .otherwise(cascade(tActs, a => lit(a.keep), lit(true)))

    val out = fields.map { f =>
      val lower = f.name.toLowerCase(java.util.Locale.ROOT)
      val tCol = col(s"`_t_${f.name}`")
      def value(a: Act): Column = a.values.getOrElse(lower, tCol)
      when(isMatched, cascade(mActs, value, tCol))
        .when(srcOnly, cascade(iActs, value, lit(null)))
        .otherwise(cascade(tActs, value, tCol))
        .cast(f.dataType).as(f.name)
    }
    val merged = joined.filter(keep).select(out: _*)
    val v = Snapshot.commit(merged, dir, cur, m.statsCol, carry)
    Seq(Row(v.toLong))
  }
}
