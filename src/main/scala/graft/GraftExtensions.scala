package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{BpeEncode, CosineSimilarity, HllEstimate, HllMergeAgg, HllSketchAgg, SortedIntersectCount, SrpSign, TopKItems, TopKMergeAgg, TopKSketchAgg}

/** Engine extension point, installed with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * ([[GraftSession.local]] does). Injects the native functions:
  *
  *  - `graft_cosine(a, b)` — codegen'd cosine similarity over float arrays
  *    ([[graft.expressions.CosineSimilarity]]), value-identical to the HOF
  *    formulation mirrored by the DuckDB oracles.
  *  - `graft_sorted_inter_count(a, b)` — set-intersection count of two
  *    sorted arrays as one allocation-free merge walk
  *    ([[graft.expressions.SortedIntersectCount]]), the q106 prefix-filter
  *    verify kernel.
  *  - `graft_srp_sign(a)` — 64-bit sign-random-projection LSH signature
  *    ([[graft.expressions.SrpSign]]), the banded embedding near-dup path.
  *  - `graft_bpe_encode(token, merges)` — BPE pieces of a token under a
  *    constant merge table ([[graft.expressions.BpeEncode]]), the
  *    tokenizer-scale apply path (cost independent of table size).
  *  - `graft_hll_sketch(x)` / `graft_hll_merge(s)` / `graft_hll_est(s)` —
  *    mergeable HyperLogLog export ([[graft.expressions.Hll]]): persist
  *    per-group sketches, union them later without re-reading the data.
  *  - `graft_topk_sketch(x)` / `graft_topk_merge(s)` / `graft_topk(s, n)`
  *    — mergeable Misra-Gries heavy hitters ([[graft.expressions.TopK]]):
  *    bounded-memory frequent items for vocabularies that don't fit a
  *    hash aggregate.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def wrongArgs(name: String, expected: Int, actual: Int): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL-visible snapshot time travel: FROM <registered> [VERSION AS OF n
    // | TIMESTAMP AS OF ts] resolves against immutable manifests
    // ([[graft.plans.SnapshotTimeTravelRule]]).
    ext.injectResolutionRule(s => graft.plans.SnapshotTimeTravelRule(s))
    // The same rule ALSO runs in the hint-resolution batch, which
    // precedes the Resolution batch: `VERSION/TIMESTAMP AS OF` on a
    // CATALOG table created `USING graft` must substitute BEFORE
    // Spark's own relation resolution reaches it (V2SessionCatalog
    // rejects time travel on v1 catalog tables with a hard
    // AnalysisException — there is no fall-through to extended rules).
    // Idempotent: whatever this early pass already substituted, the
    // resolution-batch instance simply no longer matches.
    ext.injectHintResolutionRule(s =>
      graft.plans.SnapshotTimeTravelRule(s, early = true))
    // Metadata-only COUNT(*): a global unfiltered count over a graft
    // snapshot read rewrites to one LocalRelation row from the
    // manifest's per-file row stamps (Delta's OptimizeMetadataOnlyQuery
    // analog — [[graft.plans.MetadataOnlyCountRule]]).
    ext.injectOptimizerRule(graft.plans.MetadataOnlyCountRule.apply)
    // Automatic sideways information passing: equi-joins over graft
    // reads gain a dim-derived fact-side predicate when the dim's key
    // envelope is plan-time knowledge (LocalRelation rows or another
    // graft table's exact-value stamps) — file skipping through the
    // SQL front door, zero planning-time jobs
    // ([[graft.plans.SipJoinRule]]; q169's verb covers the general
    // run-the-dim-first case).
    ext.injectOptimizerRule(graft.plans.SipJoinRule.apply)
    // Lakehouse maintenance/DDL verbs Spark's grammar doesn't speak —
    // OPTIMIZE [ZORDER BY], VACUUM [RETAIN], DESCRIBE HISTORY,
    // RESTORE TABLE … TO VERSION AS OF, ALTER TABLE ADD COLUMN /
    // ADD CONSTRAINT … CHECK / DROP CONSTRAINT on registered snapshot
    // names ([[graft.plans.GraftSqlParser]]); everything else delegates.
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => CosineSimilarity(a, b)
        case other => wrongArgs("graft_cosine", 2, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_inter_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "graft_sorted_inter_count"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => SortedIntersectCount(a, b)
        case other => wrongArgs("graft_sorted_inter_count", 2, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_srp_sign"),
      new ExpressionInfo(classOf[SrpSign].getName, "graft_srp_sign"),
      (children: Seq[Expression]) => children match {
        case Seq(a) => SrpSign(a)
        case other => wrongArgs("graft_srp_sign", 1, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => children match {
        case Seq(t, m) => BpeEncode(t, m)
        case other => wrongArgs("graft_bpe_encode", 2, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_sketch"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "graft_hll_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => HllSketchAgg(c)
        case other => wrongArgs("graft_hll_sketch", 1, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_merge"),
      new ExpressionInfo(classOf[HllMergeAgg].getName, "graft_hll_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => HllMergeAgg(c)
        case other => wrongArgs("graft_hll_merge", 1, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_est"),
      new ExpressionInfo(classOf[HllEstimate].getName, "graft_hll_est"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => HllEstimate(c)
        case other => wrongArgs("graft_hll_est", 1, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_sketch"),
      new ExpressionInfo(classOf[TopKSketchAgg].getName, "graft_topk_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => TopKSketchAgg(c)
        case other => wrongArgs("graft_topk_sketch", 1, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_merge"),
      new ExpressionInfo(classOf[TopKMergeAgg].getName, "graft_topk_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => TopKMergeAgg(c)
        case other => wrongArgs("graft_topk_merge", 1, other.size)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKItems].getName, "graft_topk"),
      (children: Seq[Expression]) => children match {
        case Seq(s, n) => TopKItems(s, n)
        case other => wrongArgs("graft_topk", 2, other.size)
      }))
  }
}
