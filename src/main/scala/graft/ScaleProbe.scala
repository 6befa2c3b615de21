package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Scaling corpus beyond the largest fixture: writes a
  * deterministic ×N synthetic copy of the sf0.1 documents, embeddings,
  * events and orders tables (engine-side, seedless — every value is a pure
  * function of the source row and the copy index) to a fresh temp dir and
  * prints its path. Time the queries that read only those tables on it
  * with [[QTime]].
  *
  * Corpus construction (N copies, copy k — ids offset by k·10⁸, NOT 10⁷:
  * q75's srpCorpus internally unions a perturbed copy of every row at
  * vec_id + 10⁷, so a 10⁷ copy stride would alias perturbed ids onto real
  * base ids and contaminate the q75 measurement with ambiguous pairs):
  *  - documents: copies k∈{0,1,2} keep the text VERBATIM
  *    (planting exact-dup cliques of 3 — real corpora are dominated by
  *    verbatim re-crawls), k≥3 prepend two copy-specific tokens (distinct
  *    near-miss docs that scale the non-dup bulk).
  *  - embeddings: k=0 verbatim, k≥1 perturbed by exact
  *    2⁻⁹-multiple offsets (same arithmetic as Similarity.srpCorpus, varied
  *    by k) — planting cos≈0.998 near-dup cliques of N for the banded path.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf0.1 dir> runMain graft.ScaleProbe [multiplier]
  *        runMain graft.QTime <printed dir> <runs> <prefix ...>
  * Results recorded in SCALE.md's scaling-curve table (×10 column).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    // mult ≤ 10 keeps every copied orderkey under q42's +10⁹ insert keys
    require(mult <= 10, s"mult=$mult would collide copied orderkeys with q42's +1e9 insert keys")
    val spark = GraftSession.local("scaleprobe")
    val out = Files.createTempDirectory(s"graft_scale_x$mult").toString

    val docs = Tables.documents(spark, src)
    val docCopies = (0 until mult).map { k =>
      val text =
        if (k <= 2) col("text")
        else concat_ws(" ", lit(s"cpx$k"), lit(s"cpy${k}z"), col("text"))
      // n_chars recomputed from the (possibly prefixed) text so the
      // synthetic corpus stays self-consistent for any query that branches
      // on it (q69/q83 quality gates)
      docs.select((col("doc_id") + lit(k * 100000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ unionAll _)
    docCopies.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(spark, src)
    val embCopies = (0 until mult).map { k =>
      if (k == 0) emb.select(col("vec_id"), col("embedding"), col("label"))
      else emb.select((col("vec_id") + lit(k * 100000000L)).as("vec_id"),
        expr(s"""transform(embedding, (x, i) ->
                |  CAST(x + ((vec_id * 64 + i + $k * 7) % 13 - 6) * 0.001953125f AS FLOAT))"""
          .stripMargin).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
    embCopies.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events ×N: each copy time-shifts by k·31 days, so the probe grows the
    // TIME AXIS at constant per-hour density — how event data actually
    // grows. (Stacking copies into the same month would grow both sides of
    // every per-bucket product ×N and measure an output-quadratic corpus
    // no real pipeline has.) user_id offsets keep per-user series length
    // constant (window state stays bounded as the corpus grows).
    val ev = Tables.events(spark, src)
    val evCopies = (0 until mult).map { k =>
      ev.select((col("event_id") + lit(k * 100000000L)).as("event_id"),
        (col("ts") + lit(k * 2678400L * 1000000000L)).as("ts"),
        (col("user_id") + lit(k * 1000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
    evCopies.write.mode("overwrite").parquet(s"$out/events.parquet")

    // orders ×N: key offsets keep q42's %-20 change residues (10⁸ ≡ 0 mod
    // 20, so the CDC batch stays a constant fraction) and custkey offsets
    // hold per-customer history length constant — more entities, not
    // longer histories, is how a dimension grows.
    val ord = Tables.orders(spark, src)
    val ordCopies = (0 until mult).map { k =>
      ord.select((col("o_orderkey") + lit(k * 100000000L)).as("o_orderkey"),
        (col("o_custkey") + lit(k * 1000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionAll _)
    ordCopies.write.mode("overwrite").parquet(s"$out/orders.parquet")

    println(s"SCALE_DIR=$out")
    spark.stop()
  }
}
