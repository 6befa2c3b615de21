package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native deletion-vector membership probe: TRUE iff `(file name,
  * row index)` is a masked position in `dvs` — the per-row check every
  * read of a DV'd snapshot version applies
  * ([[graft.ops.Snapshot.readEntries]] filters on its negation).
  *
  * Why an Expression and not a broadcast anti-join: the anti-join pays
  * UnsafeRow key assembly plus a composite (string, long) hash probe on
  * EVERY row of the scan (~110 ns/row measured at ×10 — a >100% tax on
  * a cheap aggregate). This probe compiles into the scan's
  * whole-stage-codegen loop as one static-dispatch call: a per-THREAD
  * memo keyed on the file name (the name is constant within a parquet
  * partition, so the hash lookup happens once per file change, not per
  * row), then a min/max bounds check that rejects almost every row in
  * two long compares, then a binary search only inside the bounds. The
  * positions map rides the serialized expression — each commit adds at
  * most `Snapshot.DvMaxPositions`, the same cap that bounds the manifest.
  *
  * The key is the SCHEME-NORMALIZED full path ([[DvMembership.normKey]]
  * applied on both sides): a bare name is NOT table-unique — a
  * hive-partitioned write reuses the same part name in every partition
  * directory, so name-keyed vectors would mask the same positions in
  * every sibling (caught by the convertParquetHive spec) — and the raw
  * URI spelling differs between `_metadata.file_path` and manifest
  * entries (`file:///p` vs `file:/p`). Normalization runs once per
  * FILE CHANGE through the per-thread memo, never per row. */
case class DvMembership(left: Expression, right: Expression,
                        dvs: Map[String, Array[Long]])
    extends BinaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dv_member expects (STRING, BIGINT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullable: Boolean = false
  override def prettyName: String = "graft_dv_member"

  /** Key-to-positions lookup table in UTF8String space (the scan's own
    * representation — no per-row String conversion). Built lazily on
    * each executor after deserialization. The constructor's map keys
    * are ALREADY canonical (`Snapshot.dvKey` builds them from the
    * qualified URI object) — only the probe side normalizes, because a
    * canonical `authority/path` string would MIS-parse as a URI (the
    * authority reads as a scheme). */
  @transient private lazy val table: java.util.HashMap[UTF8String, Array[Long]] = {
    val t = new java.util.HashMap[UTF8String, Array[Long]](dvs.size * 2)
    dvs.foreach { case (n, arr) =>
      if (arr.nonEmpty) t.put(UTF8String.fromString(n), arr) }
    t
  }

  /** Per-thread (file name, positions) memo. The codegen reference
    * object is SHARED across a stage's tasks on an executor, so the
    * memo must be thread-local; the name is cloned on store because
    * scan-produced UTF8Strings may alias a reused buffer. */
  @transient private lazy val memo =
    new ThreadLocal[(UTF8String, Array[Long])]

  def contains(fn: UTF8String, idx: Long): Boolean = {
    val c = memo.get()
    val arr =
      if (c != null && fn.equals(c._1)) c._2
      else {
        val a = table.get(
          UTF8String.fromString(DvMembership.normKey(fn.toString)))
        memo.set((fn.clone(), a))
        a
      }
    arr != null && idx >= arr(0) && idx <= arr(arr.length - 1) &&
      java.util.Arrays.binarySearch(arr, idx) >= 0
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    contains(a.asInstanceOf[UTF8String], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvm", this, classOf[DvMembership].getName)
    nullSafeCodeGen(ctx, ev, (f, i) =>
      s"${ev.value} = $ref.contains($f, $i);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvMembership =
    copy(left = newLeft, right = newRight)
}

object DvMembership {
  /** The ONE spelling both manifest entries and `_metadata.file_path`
    * reduce to: `<authority><decoded absolute path>` — scheme dropped,
    * AUTHORITY KEPT (two filesystems' same-named paths must not collide
    * — a clone can carry `hdfs://nnA/wh/t/f` next to `s3a://b/wh/t/f`),
    * percent-escapes DECODED (Spark's metadata column URI-encodes
    * special characters — `%20` — while manifest entries hold raw
    * paths; round-14 review confirmed the mismatch empirically on a
    * directory containing a space). A string that fails URI parsing
    * (raw spaces, no scheme) falls back to manual scheme/authority
    * stripping of the raw spelling — which IS the decoded form. */
  def normKey(s: String): String =
    try {
      val u = new java.net.URI(s)
      if (u.getScheme == null || u.getPath == null) stripRaw(s)
      else Option(u.getAuthority).getOrElse("") + u.getPath
    } catch { case _: java.net.URISyntaxException => stripRaw(s) }

  private def stripRaw(s: String): String = {
    val colon = s.indexOf(':')
    val slash = s.indexOf('/')
    if (colon < 0 || (slash >= 0 && slash < colon)) s
    else {
      val rest = s.substring(colon + 1)
      if (rest.startsWith("//")) {
        // keep the authority, drop only the scheme
        rest.substring(2)
      } else rest
    }
  }
}
