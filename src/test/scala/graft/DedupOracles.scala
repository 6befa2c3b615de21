package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Naive references the dedup properties compare the engine's
  * prefix-filtered joins against — each deliberately the dumbest
  * correct spelling (the q61-vs-q106 pattern). */
object DedupOracles {

  /** Batch-vs-base Jaccard pairs by the raw shingle equi-join q113
    * shipped through round 9. */
  def crossJaccardNaive(shB: DataFrame, shC: DataFrame,
                        tau: Double): DataFrame = {
    val szB = shB.groupBy(col("doc_id")).agg(count(lit(1)).as("ni"))
    val szC = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("nj"))
    shB.select(col("doc_id").as("i"), col("sh"))
      .join(shC.select(col("doc_id").as("j"), col("sh")), Seq("sh"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("inter"))
      .join(szB.select(col("doc_id").as("i"), col("ni")), Seq("i"))
      .join(szC.select(col("doc_id").as("j"), col("nj")), Seq("j"))
      .withColumn("uni", col("ni") + col("nj") - col("inter"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / col("uni").cast(DoubleType))
      .filter(col("jac") >= tau)
      .select(col("i"), col("j"), col("inter"), col("uni"), col("jac"))
  }

  /** All directed containment pairs by the raw shingle self-join. */
  def containmentPairsNaive(sh: DataFrame, tau: Double): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    sh.select(col("doc_id").as("i"), col("sh"))
      .join(sh.select(col("doc_id").as("j"), col("sh")), Seq("sh"))
      .filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("i"), col("nsh").as("ni")), Seq("i"))
      .withColumn("cont",
        col("inter").cast(DoubleType) / col("ni").cast(DoubleType))
      .filter(col("cont") >= tau)
      .select(col("i"), col("j"), col("inter"), col("ni"), col("cont"))
  }
}
