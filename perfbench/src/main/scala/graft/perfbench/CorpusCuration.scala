package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.ops.Similarity

/** `corpus_curation`: the LLM-data curation chain over a generated corpus,
  * one step per call, each through the engine's registered query for it:
  * exact fingerprint dedup; prefix-Jaccard near-dup; SRP-banded join and
  * IVF-PQ/ADC top-k; BPE; pack (written out as the curated shard);
  * multimodal decode; and two projection-only SQL expression passes. Every
  * step's rows must equal the warm-up pass's, and the planted truth
  * (verbatim cliques, near-miss pairs, vector twins) must show. */
object CorpusCuration extends Workload {
  val name = "corpus_curation"
  /** One pass: (span, what the step runs). */
  private def steps(c: Ctx): Seq[(String, () => DataFrame)] = {
    val (spark, d) = (c.spark, c.input)
    def q(name: String) = () => SparkEntry.queries(name)(spark, d)
    def sql(text: String) = () => spark.sql(text)
    Seq(
      "dedup.exact" -> q("q81_dedup_fingerprint"),
      "dedup.prefix_jaccard" -> q("q106_dedup_prefix"),
      "similarity.srp_join" -> q("q75_sim_srp_join"),
      "similarity.adc_topk" -> (() => Similarity.fixtureAdcTopK(spark, d)),
      "text.bpe" -> q("q85_text_bpe_native"),
      "text.pack" -> q("q91_pack_sequences"),
      "multimodal.decode" -> q("q58_multimodal_binary"),
      "expressions.srp_sign" -> sql("SELECT sum(hash(graft_srp_sign(embedding))) FROM pb_emb"),
      "expressions.sorted_inter_count" -> sql(
        "SELECT sum(graft_sorted_inter_count(a, b)) FROM (SELECT " +
        "array_sort(array_distinct(transform(split(text, ' '), w -> xxhash64(w)))) a, " +
        "array_sort(array_distinct(transform(slice(split(text, ' '), 2, 100000), " +
        "w -> xxhash64(w)))) b FROM pb_docs)"))
  }
  val passIsOp = true
  val passSteps = 9
  private var digests = Map.empty[String, Int]
  private var step = 0
  private var nVec = 0L

  def generate(spark: SparkSession, root: Path, seed: Long, scale: Double) =
    Gen.cached(root, s"corpus-s$seed-x$scale")(Gen.corpus(spark, _, seed, scale))

  def setup(c: Ctx): Unit = {
    digests = Map.empty
    step = 0
    val spark = c.spark
    spark.read.parquet(s"${c.input}/documents.parquet").createOrReplaceTempView("pb_docs")
    spark.read.parquet(s"${c.input}/embeddings.parquet").createOrReplaceTempView("pb_emb")
    nVec = c.truthLong("vectors")
    require(steps(c).size == passSteps)
  }

  def warmup(c: Ctx): Unit =
    for (_ <- 0 until passSteps) op(c).failed.foreach(f => sys.error(s"warm-up: $f"))

  private def digest(rows: Array[Row]): Int =
    java.util.Arrays.hashCode(rows.map(_.toString.hashCode))

  def op(c: Ctx): Op = {
    val (span, df) = steps(c)(step % passSteps)
    step += 1
    val before = Fs.state(c.work)
    val t0 = System.nanoTime()
    // the packed sequences are the pass's output: written, not collected
    val rows = c.span(span) {
      if (span == "text.pack") {
        val out = c.work.resolve("packed").toString
        df().write.mode("overwrite").parquet(out)
        c.spark.read.parquet(out).collect()
      } else df().collect()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val written = Fs.bytesWritten(before, c.work)
    val layer = span.takeWhile(_ != '.')
    val fails = Seq.newBuilder[String]
    val h = digest(rows)
    digests.get(span) match {
      case Some(h0) if layer != "expressions" && h0 != h =>
        fails += s"$span rows changed between passes"
      case Some(_) =>
      case None => digests += span -> h
    }
    val nDocs = c.truthLong("docs")
    if (layer == "expressions") {
      c.tracer.add(s"$span.rows", (if (span.endsWith("srp_sign")) nVec else nDocs).toDouble)
      if (rows.head.isNullAt(0)) fails += s"$span returned NULL"
    }
    span match {
      case "multimodal.decode" =>
        c.tracer.add(s"$span.rows", nDocs.toDouble)
        if (rows.length != nDocs || !rows.forall(_.getAs[Boolean]("decoded_ok")))
          fails += s"multimodal decode returned ${rows.length} rows, want $nDocs all decoded"
      case "dedup.exact" =>
        if (rows.length != c.truthLong("exact_survivors"))
          fails += s"exact dedup kept ${rows.length} docs, want ${c.truth("exact_survivors")}"
      case "dedup.prefix_jaccard" =>
        val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        val planted = (c.truth("near_miss_pairs") + "," + c.truth("verbatim_pairs"))
          .split(",").filter(_.nonEmpty).map { p =>
            val Array(a, b) = p.split(":").map(_.toLong); (a min b, a max b)
          }
        val missing = planted.filterNot(pairs)
        if (missing.nonEmpty)
          fails += s"prefix-Jaccard missed ${missing.length} planted pairs, e.g. ${missing.head}"
        c.tracer.add("dedup.pairs_out", pairs.size.toDouble)
      case "similarity.adc_topk" =>
        val exactTop = c.truth("exact_top10_of_0").split(",").map(_.toLong).toSet
        val recall = rows.count(r => exactTop(r.getLong(0))) / 10.0
        c.tracer.add("similarity.recall_at_10", recall)
        c.tracer.add("similarity.recall_queries", 1)
        if (recall < 0.9) fails += s"ADC top-10 recall $recall < 0.9 on planted twins"
      case _ =>
    }
    Op(span, secs, written, if (span == "dedup.exact") c.truthLong("user_bytes") else 0L,
      fails.result().headOption)
  }

  def finish(c: Ctx): Seq[String] = Nil

  def layerMetrics(c: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val k = c.tracer.counts.withDefaultValue(0.0)
    Map("similarity.recall_at_10" -> k("similarity.recall_at_10") /
        math.max(1.0, k("similarity.recall_queries")),
      "dedup.pairs_out" -> k("dedup.pairs_out") * passSteps / math.max(1, ops.size))
  }
}
